package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Ingest orchestration (reference O1–O3, O11, O13–O15,
  * `index.js:525-643`): read CSV/TSV/JSON → infer schema → cast →
  * columnar (Parquet) sink + optional index sidecar.
  *
  * The reference's whole-file-in-RAM pipeline (`index.js:552`) becomes
  * two Spark phases: bounded sampling aggregates that decide the schema
  * (TypeInference.infer) and one full declarative pass that casts and
  * writes — the 100 TB shape: no rows ever reach the driver, the write
  * is embarrassingly parallel, and Parquet supplies the dictionary
  * encoding the reference hand-rolls (O10/O13).
  */
object Collimate {

  case class Options(
      parseDates: Boolean = false,   // -d, index.js:541-543
      writeIndex: Boolean = false,   // -i, index.js:544-545
      scanCap: Long = TypeInference.DefaultScanCap,
      // newlines inside quoted fields (csv-parse handles them
      // implicitly; Spark must opt in, and multiLine files are NOT
      // split across tasks — a real cost at 100 TB, so it's off unless
      // the data needs it)
      multiLine: Boolean = false)

  case class Result(df: DataFrame, schema: IngestSchema)

  /** Extension-dispatched scan (reference `index.js:554-572`): `.csv`
    * comma, `.tsv` tab — header row, trimmed cells, no auto-typing —
    * `.json` a whole-file array of objects. */
  def read(spark: SparkSession, path: String,
      multiLine: Boolean = false): DataFrame = {
    val lower = path.toLowerCase
    if (lower.endsWith(".csv") || lower.endsWith(".tsv"))
      spark.read
        .option("header", "true")
        .option("sep", if (lower.endsWith(".tsv")) "\t" else ",")
        .option("ignoreLeadingWhiteSpace", "true")
        .option("ignoreTrailingWhiteSpace", "true")
        .option("inferSchema", "false") // typing is ours (O4/O5)
        // RFC 4180 `""` quote doubling, csv-parse's default (Spark's
        // own default escape is backslash)
        .option("escape", "\"")
        .option("multiLine", multiLine.toString)
        .csv(path)
    else if (lower.endsWith(".jsonl") || lower.endsWith(".ndjson"))
      // extension beyond the reference: line-delimited JSON is the
      // splittable format — a whole-file array (.json below) must be
      // parsed by a single task
      spark.read.json(path)
    else if (lower.endsWith(".json"))
      spark.read.option("multiLine", "true").json(path)
    else sys.error(s"Unrecognized extension: $path") // index.js:574-576
  }

  /** Library entry (reference E3, `collimate(rows, parse_dates)`,
    * `index.js:132`): infer + cast an already-loaded frame. */
  def fromRows(df: DataFrame, opts: Options = Options()): Result = {
    val schema = TypeInference.infer(df, opts.parseDates, opts.scanCap)
    Result(TypeInference.cast(df, schema), schema)
  }

  /** File entry (reference E1/E2): read + infer + cast. */
  def apply(spark: SparkSession, path: String,
      opts: Options = Options()): Result =
    fromRows(read(spark, path, opts.multiLine), opts)

  /** Columnar sink (O13/O14): Parquet dataset dir + `index.json`
    * sidecar mapping original name → sanitized name / logical type /
    * categorical flag (driver-side, metadata only). */
  def write(result: Result, outDir: String, opts: Options = Options()): Unit = {
    result.df.write.mode("overwrite").parquet(s"$outDir/data.parquet")
    if (opts.writeIndex) {
      def q(s: String) = graft.sources.RawColumnarSink.jsonStr(s)
      val entries = result.schema.fields.map { f =>
        s"${q(f.name)}: {" +
          s"${q("column")}: ${q(f.sanitized)}, " +
          s"${q("type")}: ${q(f.dataType.simpleString)}, " +
          s"${q("categorical")}: ${f.categorical}" +
          f.dateFormat.map(fm => s", ${q("date_format")}: ${q(fm)}").getOrElse("") +
        "}"
      }
      Files.createDirectories(Paths.get(outDir))
      Files.writeString(Paths.get(s"$outDir/index.json"),
        entries.mkString("{", ",\n ", "}\n"))
    }
  }
}

/** CLI (reference O15, `index.js:525-547`): `collimate [-d] [-i] <file>
  * [outDir]` — flags match the reference's yargs surface. */
object CollimateCli {
  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("-")).toSet
    val rest = args.filterNot(_.startsWith("-"))
    // -r: also write the reference-format raw binary columns (interop)
    require(rest.nonEmpty, "usage: collimate [-d] [-i] [-m] [-r] <file> [outDir]")
    val in = rest(0)
    val base = in.replaceAll("\\.[^.]+$", "")
    val out = if (rest.length > 1) rest(1) else base
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the CLI's jobs are a bounded inference agg + one write — the
      // 200-partition default just multiplies task-launch overhead on
      // a single node (on a cluster, submit with an explicit setting)
      .config("spark.sql.shuffle.partitions",
        math.max(1, Runtime.getRuntime.availableProcessors()).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val opts = Collimate.Options(
      parseDates = flags("-d"), writeIndex = flags("-i"),
      multiLine = flags("-m"))
    val verbose = flags("-v")
    // -v phase timers, mirroring the reference's instrumentation
    // (index.js:140-143,338,489,577,641)
    def timed[A](phase: String)(body: => A): A =
      if (!verbose) body else {
        print(s"$phase... "); val t0 = System.nanoTime()
        val a = body
        println(s"done! (${(System.nanoTime() - t0) / 1000000} ms)"); a
      }
    val raw = timed("Parsing input")(Collimate.read(spark, in))
    val result = timed("Determining types + creating columns")(
      Collimate.fromRows(raw, opts))
    timed("Writing files")(Collimate.write(result, out, opts))
    if (flags("-r"))
      timed("Writing raw columns")(
        graft.sources.RawColumnarSink.write(result, s"$out/raw"))
    if (verbose) result.schema.fields.foreach { f =>
      println(s"${f.name} -> ${f.sanitized}: ${f.dataType.simpleString}" +
        (if (f.categorical) " (categorical)" else ""))
    }
    spark.stop()
  }
}
