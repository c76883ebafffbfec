package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-column logical type for an ingested frame. */
case class FieldMeta(
    name: String,
    sanitized: String,
    dataType: DataType,
    dateFormat: Option[String],
    categorical: Boolean,
    distinct: Long)

case class IngestSchema(
    fields: Seq[FieldMeta],
    rowCount: Long,
    scanned: Long,
    categoricalThreshold: Double)

/** Schema inference (reference O4/O5, `index.js:146-337`), re-expressed
  * as Spark aggregations over a bounded prefix of the data.
  *
  * The reference seeds a type from row 0 then demotes while scanning the
  * first `scan` rows (`scan = N<1000 ? N : max(1000, 0.3N)`,
  * `index.js:220-221`). Seed-then-demote over a prefix is equivalent to
  * evaluating the whole prefix at once on the lattice
  * int → double → string, which is what we do. Two collects, whatever
  * the column count (SURVEY.md §7 "inference at 100 TB": never one job
  * per column, never a driver-side collect of rows):
  *
  *  1. per-partition row counts (the full row count and the quotas of
  *     the parallel prefix take);
  *  2. one transpose of the prefix to (column, value) pairs, counted per
  *     distinct pair, then per column: the distinct count, the non-null
  *     count and every type and date-format vote, each vote the summed
  *     multiplicity of the distinct values that pass it. Every value is
  *     parsed once per distinct (column, value), not once per cell.
  *
  * Intended-semantics divergences (SURVEY.md §2b):
  *  - Q1/Q3: integers beyond ±2^31−1 infer as `LongType` (the reference
  *    demotes to str on the seed row and, due to a stale-variable bug,
  *    not at all during refinement).
  *  - Q8: the type decision still comes from the prefix only (same
  *    sampling contract), but a post-freeze value that fails the cast
  *    becomes NULL, never `0`/`NaN`.
  */
object TypeInference {
  val MinScanCount = 1000L     // index.js:22
  val MinScanFraction = 0.3    // index.js:23
  /** Scale divergence: the reference's 0.3·N prefix is unbounded — at
    * 100 TB that is a 30 TB inference scan. We cap the prefix (the
    * encounter-fraction model in Categorical already compensates for
    * small sample fractions). */
  val DefaultScanCap = 2000000L

  def scanCount(n: Long, cap: Long = DefaultScanCap): Long =
    if (n < MinScanCount) n
    else math.min(math.max(MinScanCount, (n * MinScanFraction).toLong), cap)

  private val IntMin = Int.MinValue.toLong
  private val IntMax = Int.MaxValue.toLong

  /** Shape guards in front of the numeric `try_cast`s. Each accepts a
    * superset of what its cast accepts (PropertySpec checks this), so
    * the cast decides every value that reaches it and a value of the
    * wrong shape never reaches it: Spark 4.1 runs a TRY cast through the
    * ANSI path and catches the error, which cost ~8 µs per failing cell
    * for BIGINT, and `Double.valueOf` throws a `NumberFormatException`
    * per non-numeric cell. The padding class is what the casts trim:
    * ASCII controls and space, plus DEL for BIGINT (`UTF8String.trimAll`).
    * DOUBLE is `Double.valueOf`'s grammar (`f`/`d` suffixes, hex floats)
    * plus Spark's case-insensitive `inf`/`infinity`/`nan` literals. */
  private[ingest] val BigintGuard =
    "^[\\x00-\\x20\\x7f]*[+-]?[0-9]+[\\x00-\\x20\\x7f]*$"
  private[ingest] val DoubleGuard =
    "(?i)^[\\x00-\\x20]*[+-]?(nan|inf|infinity|" +
    "([0-9]+\\.?[0-9]*|\\.[0-9]+)(e[+-]?[0-9]+)?[fd]?|" +
    "0x([0-9a-f]+\\.?[0-9a-f]*|\\.[0-9a-f]+)p[+-]?[0-9]+[fd]?)[\\x00-\\x20]*$"

  /** Infer a schema for `df` (any input types; cells are canonicalized
    * as strings first, mirroring the CSV path). */
  def infer(df: DataFrame, parseDates: Boolean = false,
      scanCap: Long = DefaultScanCap): IngestSchema = {
    val cols = df.columns.toSeq
    // ONE narrow pass yields both the full row count (Σ per-partition)
    // and the per-partition counts the parallel prefix take needs —
    // replacing the separate df.count() job AND the df.limit(k) prefix,
    // whose GlobalLimit pulled the whole scan prefix through ONE task
    // (measured: 36.6 s of the 41 s lineitem-sf0.1 CLI ingest ran the
    // inference on a single core; at a 100 TB input the 2M-row capped
    // prefix would still funnel ~hundreds of MB through one task).
    val pidCounts = df
      .groupBy(spark_partition_id().as("__pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val n = pidCounts.map(_._2).sum
    if (n == 0 || cols.isEmpty) {
      // index.js:134 — empty input → empty result
      return IngestSchema(
        cols.map(c => FieldMeta(c, Sanitize(c), IntegerType, None,
          categorical = false, 0L)), 0L, 0L, 0.0)
    }
    val scan = scanCount(n, scanCap)
    // Prefix sample, positionally renamed so expr() below never has to
    // quote hostile column names. Clamp before toInt: a >2^31 scanCap
    // would overflow into limit(1) silently.
    val limitRows = math.min(scan, Int.MaxValue.toLong).toInt.max(1)
    // Parallel prefix take, no GlobalLimit: each partition knows from
    // the driver-side cumulative counts how many of ITS rows fall in
    // the first `limitRows` (partition order = split order, the same
    // order limit() consumes), and `monotonically_increasing_id` is
    // (pid << 33) + row-in-partition, so the local row number needs no
    // shuffle at all. The broadcast of the per-partition quota frame
    // is P rows. Partitions past the boundary take 0 rows, but the
    // filter does not stop the scan: each still parses its whole split.
    // Same row SET as df.limit(limitRows).
    val sp = df.sparkSession
    val offsets = pidCounts.scanLeft(0L)(_ + _._2)
    val need = pidCounts.zip(offsets).map { case ((pid, cnt), off) =>
      (pid, math.min(math.max(limitRows.toLong - off, 0L), cnt)) }
    import sp.implicits._
    val needDf = need.toSeq.toDF("__pid", "__need")
    val prefix = df
      .withColumn("__pid", spark_partition_id())
      .withColumn("__lrn", monotonically_increasing_id() -
        shiftleft(spark_partition_id().cast(LongType), 33))
      .join(broadcast(needDf), "__pid")
      .filter(col("__lrn") < col("__need"))
    // the transpose and its parses fan across the executor pool; one
    // round-robin exchange of the bounded prefix (≤ scanCap narrow rows,
    // the cheap side) feeds it. Every aggregate below is a count or a
    // sum of counts, so the inferred schema does not depend on
    // partitioning.
    val par = math.max(1, sp.sparkContext.defaultParallelism)
    val canon = prefix.repartition(par).select(
      cols.zipWithIndex.map { case (c, i) =>
        Nulls.canonicalize(col(c).cast(StringType)).as(s"c$i")
      }: _*)
    // Transpose to (column, value) and count each distinct pair (m), so
    // the votes below parse each distinct value once and weigh it by m:
    // "every non-null value passes" is still vote == nn. The aggregate
    // has at most 16 columns whatever the column count, under
    // spark.sql.codegen.maxFields, so it keeps whole-stage codegen; and
    // it never plans N count_distincts, whose Expand multiplies the
    // scan ×(N+1) (measured ~6 s of janino compile on an 8-column file).
    val v = col("v")
    val m = col("m")
    def votes(p: Column): Column = sum(when(p, m).otherwise(0L))
    val dateVotes = if (!parseDates) Nil else
      Dates.Formats.zipWithIndex.map { case (f, k) =>
        votes(Dates.parses(v, f)).as(s"fmt$k") } ++
      Dates.TimestampFormats.zipWithIndex.map { case (f, k) =>
        votes(Dates.tparses(v, f)).as(s"tfmt$k") }
    val rows = canon
      .select(posexplode(array(cols.indices.map(i => col(s"c$i")): _*))
        .as(Seq("i", "v")))
      .where(v.isNotNull)
      .groupBy("i", "v").agg(count(lit(1)).as("m"))
      .withColumn("l",
        when(v.rlike(BigintGuard), expr("try_cast(v AS BIGINT)")))
      .groupBy("i").agg(count(lit(1)).as("dct"), (Seq(
        sum(m).as("nn"),
        votes(col("l").isNotNull).as("lng"),
        votes(col("l").between(IntMin, IntMax)).as("int"),
        votes(v.rlike(DoubleGuard) &&
          expr("try_cast(v AS DOUBLE)").isNotNull).as("dbl")) ++
        dateVotes): _*)
      .collect().map(r => r.getInt(0) -> r).toMap
    val thresh = Categorical.threshold(n, scan)
    val fields = cols.zipWithIndex.map { case (c, i) =>
      // an all-null column has no (column, value) pair: nn = dct = 0
      val r = rows.get(i)
      def get(name: String): Long = r.fold(0L)(_.getAs[Long](name))
      val nn = get("nn")
      val lng = get("lng")
      val intOk = get("int")
      val dbl = get("dbl")
      val dct = get("dct")
      def survivors(fmts: Seq[String], prefix: String): Seq[String] =
        if (parseDates && nn > 0)
          fmts.indices.filter(k => get(s"$prefix$k") == nn).map(fmts)
        else Nil
      val surviving = survivors(Dates.Formats, "fmt")
      // datetime lattice step (extension — the date and timestamp
      // candidate families are disjoint on any single value: a 8–10
      // char date can never parse a 14+ char datetime pattern and vice
      // versa, so the two votes cannot both survive)
      val tsSurviving = survivors(Dates.TimestampFormats, "tfmt")
      val (dt, fmt): (DataType, Option[String]) =
        if (nn == 0) (IntegerType, None) // all-null seeds int32, index.js:183-185
        else if (lng == nn && intOk == nn) (IntegerType, None)
        else if (lng == nn) (LongType, None)
        else if (dbl == nn) (DoubleType, None)
        // exactly-one-surviving-format rule, index.js:373-378
        else if (surviving.size == 1) (DateType, Some(surviving.head))
        // int → long → double → date → TIMESTAMP → str
        else if (tsSurviving.size == 1) (TimestampType, Some(tsSurviving.head))
        else (StringType, None)
      FieldMeta(c, Sanitize(c), dt, fmt,
        Categorical.isCategorical(dct, thresh), dct)
    }
    // de-dup sanitized collisions, same policy as Sanitize.columns
    val deduped = fields.zip(Sanitize.dedupe(fields.map(_.sanitized)))
      .map { case (f, s) => f.copy(sanitized = s) }
    IngestSchema(deduped, n, scan, thresh)
  }

  /** Apply an inferred schema: canonicalize nulls, cast to the decided
    * type (`try_cast` — post-freeze misfits become NULL, Q8 intended
    * semantics), normalize dates, rename to sanitized names. Purely
    * declarative — Catalyst folds this into the scan, so the "fill pass"
    * (reference O11, `index.js:407-488`) is the write job itself. */
  def cast(df: DataFrame, schema: IngestSchema): DataFrame = {
    val canon = df.select(schema.fields.map { f =>
      Nulls.canonicalize(col(f.name).cast(StringType)).as(f.sanitized)
    }: _*)
    canon.select(schema.fields.map { f =>
      val c = f.dataType match {
        case IntegerType => expr(s"try_cast(${f.sanitized} AS INT)")
        case LongType    => expr(s"try_cast(${f.sanitized} AS BIGINT)")
        case DoubleType  => expr(s"try_cast(${f.sanitized} AS DOUBLE)")
        case DateType      => Dates.normalize(col(f.sanitized), f.dateFormat.get)
        case TimestampType => Dates.normalizeTs(col(f.sanitized), f.dateFormat.get)
        case _             => col(f.sanitized)
      }
      c.as(f.sanitized)
    }: _*)
  }
}
