package graft.ingest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class IngestSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def fixture(name: String): String =
    getClass.getResource(s"/$name").getPath

  def typesOf(path: String, parseDates: Boolean = false): Map[String, DataType] = {
    val schema = TypeInference.infer(
      Collimate.read(spark, path), parseDates)
    schema.fields.map(f => f.name -> f.dataType).toMap
  }

  test("basic inference: int / double / string (O4/O5)") {
    assert(typesOf(fixture("types_basic.csv")) ==
      Map("id" -> IntegerType, "score" -> DoubleType, "label" -> StringType))
  }

  test("mixed inference: demotions on the lattice + int64 widening (Q1/Q3)") {
    // a: pure int; b: double demoted to string by 'x'; c: int demoted to
    // double by 3.5 — and 2147483648 overflows int32 → our intended
    // semantics widen to... c contains 3.5 so double wins anyway.
    assert(typesOf(fixture("types_mixed.csv")) ==
      Map("a" -> IntegerType, "b" -> StringType, "c" -> DoubleType))
  }

  test("int64 widening beyond 2^31 (Q3 intended semantics)") {
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      List("2147483648", "5").map(org.apache.spark.sql.Row(_)).asJava,
      StructType(Seq(StructField("big", StringType))))
    val s = TypeInference.infer(df)
    assert(s.fields.head.dataType == LongType)
  }

  test("NULL_SET canonicalization is exact + case-sensitive (O6)") {
    val r = Collimate(spark, fixture("nulls.csv")).df.collect()
      .sortBy(r => Option(r.getAs[Integer]("i")).map(_.toInt).getOrElse(-1))
    // column i: 1, null(2 tokens), 2 → int with nulls
    // column s: x, n/a→null, but "NULL"/"NA" uppercase stay literal
    val s = Collimate(spark, fixture("nulls.csv")).df
      .select("s").collect().map(_.getString(0)).toSet
    assert(s == Set("x", null, "NULL", "NA"))
    assert(r.count(_.isNullAt(0)) == 2)
  }

  test("date detection locks a single surviving format (O7/O8)") {
    assert(typesOf(fixture("dates_iso.csv"), parseDates = true)("d") == DateType)
    assert(typesOf(fixture("dates_us.csv"), parseDates = true)("d") == DateType)
    val iso = Collimate(spark, fixture("dates_iso.csv"),
      Collimate.Options(parseDates = true)).df
    assert(iso.select("d").collect().map(_.get(0).toString).sorted.toSeq ==
      Seq("2011-01-02", "2011-01-03", "2012-12-31"))
  }

  test("ambiguous dates (two surviving formats) stay strings") {
    assert(typesOf(fixture("dates_ambiguous.csv"), parseDates = true)("d") ==
      StringType)
  }

  def frame(cols: (String, Seq[String])*): org.apache.spark.sql.DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = cols.map(_._2).transpose.map(org.apache.spark.sql.Row(_: _*))
    spark.createDataFrame(rows.asJava,
      StructType(cols.map(c => StructField(c._1, StringType))))
  }

  test("votes are weighted by multiplicity: one misfit or many demotes") {
    val ints = Seq.tabulate(60)(i => (i % 7).toString)
    val s = TypeInference.infer(frame(
      "many" -> (ints.take(40) ++ Seq.fill(20)("x")),
      "one" -> (ints.take(59) :+ "x"),
      "dbl" -> (ints.take(50) ++ Seq.fill(10)("2.5")),
      "int" -> ints))
    val byName = s.fields.map(f => f.name -> f).toMap
    assert(byName("many").dataType == StringType)
    assert(byName("one").dataType == StringType)
    assert(byName("dbl").dataType == DoubleType)
    assert(byName("int").dataType == IntegerType)
    assert(byName("many").distinct == 8 && byName("int").distinct == 7)
  }

  test("a date value that parses two ways keeps its column a string") {
    // 1/2/2011 parses as d/M/yyyy and as M/d/yyyy, once or thirty times;
    // one value that parses one way only locks that format
    val s = TypeInference.infer(frame(
      "same" -> Seq.fill(30)("1/2/2011"),
      "once" -> ("1/2/2011" +: Seq.fill(29)(null)),
      "locked" -> (Seq.fill(29)("1/2/2011") :+ "13/2/2011")),
      parseDates = true)
    assert(s.fields.map(_.dataType) == Seq(StringType, StringType, DateType))
    assert(s.fields.map(_.dateFormat) == Seq(None, None, Some("d/M/yyyy")))
  }

  test("an all-null column infers IntegerType with distinct = 0") {
    val s = TypeInference.infer(frame(
      "a" -> Seq("1", "2", "3"), "nulls" -> Seq(null, "null", "")),
      parseDates = true)
    val f = s.fields(1)
    assert(f.dataType == IntegerType && f.distinct == 0)
    assert(s.fields(0).dataType == IntegerType && s.fields(0).distinct == 3)
  }

  test("the inferred schema does not depend on the split layout") {
    // 3000 rows: the 1000-row prefix is a strict subset, so a split
    // layout that changed which rows are first would show
    val dir = java.nio.file.Files.createTempDirectory("graft_splits")
    val f = dir.resolve("t.csv")
    val rows = (0 until 3000).map { i =>
      val late = if (i >= 2000) "x" else (i % 9).toString
      s"$i,${i * 7 % 13}.5,${2000 + i % 20}-${1 + i % 12}-${1 + i % 28}," +
        s"${i % 5},$late,${if (i % 3 == 0) "null" else s"w${i % 40}"}"
    }
    java.nio.file.Files.writeString(f,
      "id,score,day,seg,late,txt\n" + rows.mkString("\n") + "\n")
    def inferred(): (Int, IngestSchema) = {
      val df = Collimate.read(spark, f.toString)
      (df.rdd.getNumPartitions, TypeInference.infer(df, parseDates = true))
    }
    val (p1, one) = inferred()
    val bytes = java.nio.file.Files.size(f)
    spark.conf.set("spark.sql.files.maxPartitionBytes", (bytes / 7 + 1).toString)
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    val (p7, seven) = try inferred() finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
    assert(p1 == 1 && p7 == 7)
    assert(one == seven)
    assert(one.fields.map(_.dataType) == Seq(IntegerType, DoubleType,
      DateType, IntegerType, IntegerType, StringType))
    graft.Util.rmrf(dir.toFile)
  }

  test("dates disabled without the -d flag") {
    assert(typesOf(fixture("dates_iso.csv"))("d") == StringType)
  }

  test("datetime detection: timestamp step on the lattice (extension)") {
    import scala.jdk.CollectionConverters._
    def infer(vals: Seq[String]): DataType = {
      val df = spark.createDataFrame(
        vals.map(org.apache.spark.sql.Row(_)).asJava,
        StructType(Seq(StructField("c", StringType))))
      TypeInference.infer(df, parseDates = true).fields.head.dataType
    }
    // each variant locks exactly one surviving timestamp format
    assert(infer(Seq("2024-01-02 13:45:00", "2024-2-3 4:5:6")) ==
      TimestampType)
    assert(infer(Seq("2024-01-02T13:45:00", "2024-2-3T4:5:6")) ==
      TimestampType)
    assert(infer(Seq("2024-01-02 13:45:00.123")) == TimestampType)
    assert(infer(Seq("2024/01/02 13:45:00")) == TimestampType)
    // mixed separators: two formats each survive a strict subset →
    // zero formats survive every row → string (same rule as dates)
    assert(infer(Seq("2024-01-02 13:45:00", "2024-01-03T13:45:00")) ==
      StringType)
    // datetime does NOT shadow the date vote: pure dates stay DateType,
    // and a date/datetime mix survives neither family
    assert(infer(Seq("2024-01-02", "2024-01-03")) == DateType)
    assert(infer(Seq("2024-01-02", "2024-01-02 13:45:00")) == StringType)
    // out-of-range fields fail the strict parse → string
    assert(infer(Seq("2024-13-02 13:45:00")) == StringType)
    assert(infer(Seq("2024-01-02 25:45:00")) == StringType)
    // numeric levels still win before the datetime step
    assert(infer(Seq("123", "456")) == IntegerType)
  }

  test("datetime cast normalizes with the locked format") {
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq("2024-01-02T13:45:00", "2024-2-3T4:5:6")
        .map(org.apache.spark.sql.Row(_)).asJava,
      StructType(Seq(StructField("ts", StringType))))
    val r = Collimate.fromRows(df, Collimate.Options(parseDates = true))
    assert(r.df.schema.head.dataType == TimestampType)
    assert(r.df.collect().map(_.get(0).toString).sorted.toSeq ==
      Seq("2024-01-02 13:45:00.0", "2024-02-03 04:05:06.0"))
  }

  test("sanitize replicates the reference chain (O12)") {
    assert(Sanitize(" First-Name ") == "first_name")
    assert(Sanitize("A&B") == "aandb")
    // edge-strip removes the trailing " %" before the % substitution
    // can fire (verified against the reference chain with node)
    assert(Sanitize("price %") == "price")
    assert(Sanitize("95% conf.") == "95percent_conf")
    assert(Sanitize("email@addr") == "emailataddr")
    assert(Sanitize("x  y") == "x_y")
    assert(Sanitize("__z__") == "__z__")
    val cols = Collimate(spark, fixture("names.csv")).df.columns.toSeq
    assert(cols == Seq("first_name", "aandb", "price",
      "emailataddr", "x_y", "__z__"))
  }

  test("TSV and JSON scans agree with CSV (O1-O3)") {
    val csv = Collimate(spark, fixture("types_basic.csv")).df
    val json = Collimate(spark, fixture("records.json")).df
      .select("id", "score", "label")
    assert(json.schema == csv.schema)
    assert(json.collect().toSet == csv.collect().toSet)
    val tsv = Collimate(spark, fixture("types_basic.tsv")).df
    assert(tsv.schema == csv.schema)
  }

  test("RFC4180 quoting: embedded delimiters + doubled quotes (O1)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_quotes")
    val f = dir.resolve("q.csv")
    java.nio.file.Files.writeString(f,
      "id,note\n1,\"a, b\"\n2,\"say \"\"hi\"\", ok\"\n")
    val rows = Collimate.read(spark, f.toString)
      .orderBy("id").collect().map(_.getString(1)).toSeq
    assert(rows == Seq("a, b", "say \"hi\", ok"))
    graft.Util.rmrf(dir.toFile)
  }

  test("multiLine option: newlines inside quoted fields (O1)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ml")
    val f = dir.resolve("m.csv")
    java.nio.file.Files.writeString(f,
      "id,note\n1,\"line one\nline two\"\n2,plain\n")
    val rows = Collimate.read(spark, f.toString, multiLine = true)
      .orderBy("id").collect().map(_.getString(1)).toSeq
    assert(rows == Seq("line one\nline two", "plain"))
    graft.Util.rmrf(dir.toFile)
  }

  test("JSONL scan: line-delimited records agree with whole-file JSON") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl")
    java.nio.file.Files.writeString(dir.resolve("a.jsonl"),
      """{"id": 1, "v": "x"}
        |{"id": 2, "v": "y"}
        |""".stripMargin)
    java.nio.file.Files.writeString(dir.resolve("a.json"),
      """[{"id": 1, "v": "x"}, {"id": 2, "v": "y"}]""")
    val jl = Collimate.read(spark, s"$dir/a.jsonl").orderBy("id").collect().toSeq
    val wf = Collimate.read(spark, s"$dir/a.json").orderBy("id").collect().toSeq
    assert(jl == wf && jl.size == 2)
    graft.Util.rmrf(dir.toFile)
  }

  test("raw columnar sink writes reference-format files (O13/O14)") {
    import java.nio.{ByteBuffer, ByteOrder}
    val dir = java.nio.file.Files.createTempDirectory("graft_raw")
    val csv = dir.resolve("t.csv")
    val rows = (1 to 20).map(i =>
      s"$i,${i + 0.5},${if (i % 2 == 0) "even" else "odd"}").mkString("\n")
    java.nio.file.Files.writeString(csv, s"Num,Score,Seg\n$rows\n")
    val res = Collimate(spark, csv.toString)
    val out = dir.resolve("out").toString
    val index = graft.sources.RawColumnarSink.write(res, out)
    assert(index == Map("Num" -> "num.i32", "Score" -> "score.f32",
      "Seg" -> "seg.k8"))
    // .i32: 20 little-endian ints in file order
    val i32 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/num.i32"))
    val ib = ByteBuffer.wrap(i32).order(ByteOrder.LITTLE_ENDIAN)
    assert(i32.length == 80 && (1 to 20).forall(i => ib.getInt(4 * (i - 1)) == i))
    // .f32: float32 values
    val f32 = ByteBuffer.wrap(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/score.f32"))).order(ByteOrder.LITTLE_ENDIAN)
    assert(f32.getFloat(0) == 1.5f && f32.getFloat(76) == 20.5f)
    // .k8 codes by first encounter (odd=0, even=1) + valid-JSON decoder
    val k8 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/seg.k8"))
    assert(k8.toSeq == (1 to 20).map(i => (if (i % 2 == 0) 1 else 0).toByte))
    val key = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/seg.k8.key"))
    assert(key == "[\"odd\",\n \"even\"]\n")
    val idxJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/index.json"))
    assert(idxJson.contains("\"Seg\" : \"seg.k8\""))
    graft.Util.rmrf(dir.toFile)
  }

  test("empty input → empty result, no crash (index.js:134)") {
    // header-only CSV: columns survive with the all-null seed type
    val r = Collimate(spark, fixture("empty.csv"))
    assert(r.df.count() == 0)
    assert(r.df.columns.toSeq == Seq("a", "b"))
    assert(r.schema.fields.forall(_.dataType == IntegerType))
  }

  test("empty JSONL input → empty result, no crash") {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_jsonl")
    java.nio.file.Files.writeString(dir.resolve("e.jsonl"), "")
    val r = Collimate(spark, s"$dir/e.jsonl")
    assert(r.df.count() == 0)
    assert(r.schema.rowCount == 0L)
    graft.Util.rmrf(dir.toFile)
  }

  test("ragged JSONL: missing keys → NULL, extra keys widen the schema " +
      "(divergence from reference crash, index.js:307)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ragged_jsonl")
    java.nio.file.Files.writeString(dir.resolve("r.jsonl"),
      """{"id": 1, "a": "x"}
        |{"id": 2, "b": "y"}
        |{"id": 3, "a": "z", "b": "w", "extra": 9}
        |""".stripMargin)
    val r = Collimate(spark, s"$dir/r.jsonl")
    assert(r.df.columns.toSeq.sorted == Seq("a", "b", "extra", "id"))
    val rows = r.df.orderBy("id").collect()
    assert(rows(0).getAs[String]("a") == "x" && rows(0).isNullAt(
      rows(0).fieldIndex("b")))
    assert(rows(1).isNullAt(rows(1).fieldIndex("a")) &&
      rows(1).getAs[String]("b") == "y")
    assert(rows(2).getAs[Integer]("extra") == 9)
    graft.Util.rmrf(dir.toFile)
  }

  test("raw sink: dictionary past 65,536 entries degrades to .json " +
      "(no 16-bit code truncation)") {
    import org.apache.spark.sql.functions._
    val n = 66000
    val df = spark.range(n.toLong)
      .select(concat(lit("v"), col("id")).as("c"))
      .coalesce(1).sortWithinPartitions("c")
    val meta = FieldMeta("c", "c", StringType, None,
      categorical = true, n.toLong)
    val res = Collimate.Result(df,
      IngestSchema(Seq(meta), n.toLong, n.toLong, n.toDouble))
    val out = java.nio.file.Files.createTempDirectory("graft_bigcat").toString
    val index = graft.sources.RawColumnarSink.write(res, out)
    assert(index == Map("c" -> "c.json")) // not .k16
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/c.k16")))
    val body = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/c.json"))
    assert(body.startsWith("[\"v0\"") && body.count(_ == ',') == n - 1)
    graft.Util.rmrf(new java.io.File(out))
  }

  test("late surprise after the scan prefix → NULL, not 0 (Q8)") {
    val r = Collimate(spark, fixture("late_surprise.csv"))
    val types = r.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("v") == IntegerType) // frozen from prefix
    val vals = r.df.select("v").collect()
    assert(vals.count(_.isNullAt(0)) == 1) // 'oops' → NULL, not 0
  }

  test("categorical threshold formula (O9, index.js:232-247)") {
    // full scan: ef=1 → threshold = ceil(0.3N)
    assert(Categorical.threshold(100, 100) == 30.0)
    // 2/3 sample → first key ≤ 0.667 is 0.4 → ef=0.65² = 0.4225
    assert(math.abs(Categorical.threshold(1500, 1000) - 450 * 0.4225) < 1e-9)
    // below the smallest key → 0 (reference: NaN, nothing categorical)
    assert(Categorical.threshold(1000000, 1000) == 0.0)
    assert(Categorical.threshold(65536 * 10, 65536 * 10) == 65536 * 1.0)
  }

  test("categorical detection on late_surprise (low-card cat column)") {
    val r = Collimate(spark, fixture("late_surprise.csv"))
    val byName = r.schema.fields.map(f => f.name -> f).toMap
    assert(byName("cat").categorical)   // 3 distinct ≤ threshold
    assert(!byName("v").categorical)    // ~1000 distinct in prefix
  }

  test("dictionary codes assigned by first-encounter order (O10)") {
    val df = Collimate(spark, fixture("late_surprise.csv")).df
    val (encoded, decoder) = Categorical.encode(df, "cat")
    assert(decoder.toSeq == Seq("u", "v", "w", "xyz")) // file order of first rows
    val first = encoded.filter(org.apache.spark.sql.functions.col("v") === 0)
      .select("cat_code").collect().head.getInt(0)
    assert(first == 0)
  }

  test("ragged rows ingest without crashing (reference crashes, Q8-family)") {
    // short row → missing cells null; long row → extra cells dropped
    val r = Collimate(spark, fixture("ragged.csv"))
    val rows = r.df.orderBy("a").collect()
    assert(rows.length == 4)
    assert(r.df.columns.toSeq == Seq("a", "b", "c"))
    val shortRow = rows.find(_.getInt(0) == 4).get
    assert(shortRow.isNullAt(2))
  }

  test("sanitize dedupe is globally collision-free") {
    assert(Sanitize.dedupe(Seq("a", "a_2", "a")) == Seq("a", "a_2", "a_3"))
    assert(Sanitize.dedupe(Seq("x", "x", "x")) == Seq("x", "x_2", "x_3"))
  }

  test("property: dictionary encode∘decode is identity (§5.3)") {
    val df = Collimate(spark, fixture("late_surprise.csv")).df
    val (encoded, decoder) = Categorical.encode(df, "cat")
    val bad = encoded.collect().count { r =>
      val v = r.getAs[String]("cat")
      val code = r.getAs[Int]("cat_code")
      decoder(code) != v
    }
    assert(bad == 0)
  }

  test("property: inference is monotone on the type lattice (§5.3)") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    def typeOf(vals: Seq[String]): DataType = {
      val df = spark.createDataFrame(
        vals.map(Row(_)).asJava,
        StructType(Seq(StructField("c", StringType))))
      TypeInference.infer(df).fields.head.dataType
    }
    def rank(t: DataType): Int = t match {
      case IntegerType => 0; case LongType => 1; case DoubleType => 2
      case _ => 3
    }
    // appending rows may only widen (never narrow) the inferred type
    val base = Seq("1", "2", "3")
    val extensions = Seq(
      Seq("4"), Seq("2147483648"), Seq("4.5"), Seq("x"), Seq("null"))
    extensions.foreach { ext =>
      assert(rank(typeOf(base ++ ext)) >= rank(typeOf(base)),
        s"narrowed on $ext")
    }
    assert(rank(typeOf(base ++ Seq("4.5") ++ Seq("x"))) >=
      rank(typeOf(base ++ Seq("4.5"))))
  }

  test("property: sanitize is idempotent") {
    val names = Seq(" First-Name ", "A&B", "price %", "email@addr",
      "x  y", "__z__", "weird!!name??", "95% conf.", "a-b-c")
    names.foreach(n => assert(Sanitize(Sanitize(n)) == Sanitize(n)))
  }

  test("index.json escapes control characters in headers") {
    val dir = java.nio.file.Files.createTempDirectory("graft_index_esc")
    val f = dir.resolve("t.csv")
    java.nio.file.Files.writeString(f, "id,\"a\tb\"\n1,x\n2,y\n")
    val out = dir.resolve("out").toString
    val opts = Collimate.Options(writeIndex = true)
    Collimate.write(Collimate(spark, f.toString), out, opts)
    val idx = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/index.json"))
    // Jackson rejects unescaped control characters inside strings
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(idx)
    assert(tree.get("a\tb").get("column").asText() == "a_b")
    // ordinary names are written exactly as before
    assert(idx.startsWith(
      "{\"id\": {\"column\": \"id\", \"type\": \"int\", \"categorical\": false},\n "))
    graft.Util.rmrf(dir.toFile)
  }

  test("roundtrip: write parquet + index sidecar (O13/O14)") {
    val out = java.nio.file.Files.createTempDirectory("collimate_test").toString
    val r = Collimate(spark, fixture("types_basic.csv"))
    Collimate.write(r, out, Collimate.Options(writeIndex = true))
    val back = spark.read.parquet(s"$out/data.parquet")
    assert(back.schema == r.df.schema)
    assert(back.count() == 4)
    val idx = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/index.json")))
    assert(idx.contains("\"id\"") && idx.contains("\"int\""))
  }
}
