package graft.ingest

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property-based checks for the pure ingest functions (SURVEY.md §5.3). */
object IngestProps extends Properties("ingest") {

  val nameGen: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar,
    1 -> Gen.oneOf('&', '@', '%', '-', '_', ' ', '.', '!', '#'),
    1 -> Gen.oneOf('ä', 'é', '☃'))).map(_.mkString)

  property("sanitize is idempotent") = forAll(nameGen) { s =>
    Sanitize(Sanitize(s)) == Sanitize(s)
  }

  property("sanitize output is \\w*") = forAll(nameGen) { s =>
    Sanitize(s).forall(c => c.isLetterOrDigit || c == '_') ||
      // non-ASCII letters survive Java's ASCII \W as-is, matching JS
      Sanitize(s).exists(c => c > 127)
  }

  property("categorical threshold is monotone in scan fraction") =
    forAll(Gen.choose(1000L, 10000000L)) { n =>
      // scanning more of the data can only raise (or keep) the threshold
      val scans = Seq(n / 100, n / 10, n / 2, n).filter(_ > 0)
      val ts = scans.map(sc => Categorical.threshold(n, sc))
      ts.zip(ts.tail).forall { case (a, b) => a <= b }
    }

  property("scanCount bounds: >= min(n,1000), <= cap") =
    forAll(Gen.choose(0L, 100000000L)) { n =>
      val sc = TypeInference.scanCount(n)
      sc >= math.min(n, 1000L) && sc <= math.max(TypeInference.DefaultScanCap, 1000L)
    }

  val nullToken: Gen[String] = Gen.oneOf(Nulls.NullSet)
  property("null set membership is exact (no trimming, no case folding)") =
    forAll(nullToken) { t =>
      val upper = t.toUpperCase
      Nulls.NullSet.contains(t) &&
        (upper == t || !Nulls.NullSet.contains(upper))
    }
}

/** The shape guards in front of inference's casts and date parses
  * accept every value the guarded Spark function accepts, so a guard
  * only keeps failing values off Spark's error path and never changes a
  * vote. Each property evaluates one generated batch per Spark query:
  * `guard(s) || <parse>(s) IS NULL` must hold for every value. */
object GuardProps extends Properties("ingest.guards") {
  import org.apache.spark.sql.{Column, SparkSession}
  import org.apache.spark.sql.functions._
  import org.scalacheck.Test

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  /** No value of a generated batch is rejected by `guard` but accepted
    * by `parse`; one Spark query per batch. */
  def supersetOf(gen: Gen[String], guard: Column => Column,
      parse: Column => Column): Prop =
    Prop.forAllNoShrink(Gen.listOfN(400, gen)) { batch =>
      import spark.implicits._
      val s = col("s")
      val bad = batch.toDF("s").where(!guard(s) && parse(s).isNotNull)
        .collect().map(_.getString(0))
      Prop(bad.isEmpty) :| s"guard rejects parseable ${bad.take(5)
        .map(_.map(c => f"\\u${c.toInt}%04x").mkString).mkString(", ")}"
    }

  val arabicIndic = "٠١٢٣٤٥٦٧٨٩"
  def digits(min: Int, max: Int): Gen[String] = Gen.choose(min, max)
    .flatMap(Gen.listOfN(_, Gen.numChar)).map(_.mkString)
  /** Padding: what the casts trim, and whitespace they must not. */
  val pad: Gen[String] = Gen.frequency(
    6 -> Gen.const(""),
    3 -> Gen.listOf(Gen.oneOf(' ', '\t', '\n', '\r', '\u0000', '\u001f',
      '\u007f', ' ', ' ', '\u0085')).map(_.take(3).mkString))

  val edges: Seq[String] = Seq(" 12 ", "\t12\n", "+7", "1.5", "1.5d", ".5",
    "5.", "0x1.8p1", " NaN ", "-inf", "Infinity", "9223372036854775808",
    "12 ", arabicIndic.take(3), "+", "")

  val numeric: Gen[String] = {
    val body = Gen.oneOf(
      digits(1, 20),
      Gen.zip(digits(0, 4), Gen.oneOf(".", ","), digits(0, 4))
        .map { case (a, p, b) => a + p + b },
      Gen.zip(digits(1, 3), Gen.oneOf("e", "E", "e-", "e+", "e++"), digits(0, 3))
        .map { case (a, e, b) => a + e + b },
      Gen.zip(Gen.oneOf("0x", "0X", "x"),
        Gen.listOf(Gen.hexChar).map(_.take(4).mkString),
        Gen.oneOf("", "."), Gen.oneOf("p", "P", ""), digits(0, 2))
        .map { case (x, h, d, p, e) => x + h + d + p + e },
      Gen.oneOf("nan", "NaN", "NAN", "inf", "INF", "Infinity", "infinity",
        "iNfInItY", "infinit", "na"),
      Gen.listOf(Gen.oneOf(arabicIndic)).map(_.take(4).mkString),
      Gen.listOf(Gen.oneOf('０', '１', '９')).map(_.take(3).mkString),
      Gen.listOf(Gen.oneOf('1', '.', 'e', 'x', 'f', 'd', 'l', '-', '_'))
        .map(_.take(6).mkString))
    val built = for {
      l <- pad; sign <- Gen.oneOf("", "", "+", "-", "+-")
      b <- body; suffix <- Gen.oneOf("", "", "", "d", "D", "f", "F", "L", "x")
      r <- pad
    } yield l + sign + b + suffix + r
    Gen.frequency(1 -> Gen.oneOf(edges), 6 -> built)
  }

  property("BIGINT guard is a superset of try_cast") =
    supersetOf(numeric, _.rlike(TypeInference.BigintGuard),
      _ => expr("try_cast(s AS BIGINT)"))

  property("DOUBLE guard is a superset of try_cast") =
    supersetOf(numeric, _.rlike(TypeInference.DoubleGuard),
      _ => expr("try_cast(s AS DOUBLE)"))

  /** A value shaped like `fmt`: the date guards pin digit-group widths to
    * the reference's strict moment widths on purpose (Spark's `yyyy`
    * takes up to 19 digits), so the groups keep those widths here while
    * the digits, separators, padding and trailing text vary. */
  def shaped(fmt: String): Gen[String] = {
    val parts = fmt.replace("'T'", "T").split("(?<=[yMdHmsS])(?=[^yMdHmsS])|" +
      "(?<=[^yMdHmsS])(?=[yMdHmsS])").toSeq
    val gens: Seq[Gen[String]] = parts.map {
      case "yyyy" => Gen.frequency(8 -> digits(4, 4),
        1 -> Gen.listOfN(4, Gen.oneOf(arabicIndic)).map(_.mkString))
      case "SSS" => digits(3, 3)
      case p if p.forall("MdHms".contains(_)) => digits(1, 2)
      case sep => Gen.frequency(8 -> Gen.const(sep),
        1 -> Gen.oneOf("-", "/", ".", " ", "T", ":", "", "  "))
    }
    for {
      l <- pad; body <- Gen.sequence[Seq[String], String](gens)
      tail <- Gen.frequency(8 -> Gen.const(""), 1 -> Gen.oneOf("Z", " ", "x"))
      r <- pad
    } yield l + body.mkString + tail + r
  }

  Dates.Formats.foreach { f =>
    property(s"date guard $f is a superset of try_to_date") =
      supersetOf(Gen.frequency(6 -> shaped(f), 1 -> numeric),
        Dates.dateShaped(_, f), try_to_date(_, f))
  }

  Dates.TimestampFormats.foreach { f =>
    property(s"timestamp guard $f is a superset of try_to_timestamp") =
      supersetOf(Gen.frequency(6 -> shaped(f), 1 -> numeric),
        Dates.tsShaped(_, f), try_to_timestamp(_, lit(f)))
  }
}
