package graft.sources

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.ingest.Collimate

/** Reference-format binary columnar export (O13/O14,
  * `index.js:604-640`): one file per column — `.i32`/`.f32` raw
  * little-endian buffers for numeric columns, `.json` arrays for
  * strings, `.k8`/`.k16` code buffers + `.key` decoder JSON for
  * categorical columns, plus `index.json` — so a consumer of the
  * reference's `beam`/`frame` siblings can read our output directly.
  *
  * This format is inherently single-file-per-column (it has no row
  * groups or splits), i.e. single-node by construction: rows stream
  * through the driver via `toLocalIterator` (one partition in memory at
  * a time, never the whole dataset). It is the INTEROP/export sink;
  * `Collimate.write` (Parquet) is the scale path.
  *
  * Intended-semantics deviations from the reference, per SURVEY.md §2b:
  * nulls still coerce to 0 / NaN / JSON null (the format has no null
  * mask — that's the format's limitation, kept for byte parity), but
  * categorical `.key` decoders are always VALID JSON (the reference
  * emits broken JSON for numeric decoders, Q4), code width is decided
  * by the true dictionary size (the reference's widening path is dead
  * code, Q2), and int64 columns (our widening, Q3) export as `.json`
  * number arrays since the reference would have classified them `str`.
  */
object RawColumnarSink {

  private def le(n: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(n).array()
  private def leF(f: Float): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putFloat(f).array()

  private[graft] def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Streams `result.df` in its current row order (= file order when
    * the input was a single file read) and writes the per-column files.
    * @return the index map (original name → written filename) */
  def write(result: Collimate.Result, outDir: String): Map[String, String] = {
    Files.createDirectories(Paths.get(outDir))
    val fields = result.schema.fields
    val df = result.df.select(fields.map(f =>
      org.apache.spark.sql.functions.col(f.sanitized)): _*)

    // per-column sinks assembled while streaming a single row iterator
    sealed trait Sink { def add(v: Any): Unit; def close(): Unit; def ext: String }
    def out(name: String, ext: String): OutputStream =
      new BufferedOutputStream(new FileOutputStream(s"$outDir/$name$ext"))

    class I32(name: String) extends Sink {
      val ext = ".i32"; private val os = out(name, ext)
      def add(v: Any): Unit =
        os.write(le(if (v == null) 0 else v.asInstanceOf[Number].intValue()))
      def close(): Unit = os.close()
    }
    class F32(name: String) extends Sink {
      val ext = ".f32"; private val os = out(name, ext)
      def add(v: Any): Unit = os.write(leF(
        if (v == null) Float.NaN else v.asInstanceOf[Number].floatValue()))
      def close(): Unit = os.close()
    }
    /** `.json` array, reference stringify layout (`index.js:510-521`):
      * strings JSON-escaped, numbers raw, ",\n " separators. */
    class Json(name: String, quoted: Boolean) extends Sink {
      val ext = ".json"; private val os = out(name, ext)
      private var first = true
      os.write('[')
      def add(v: Any): Unit = {
        if (!first) os.write(",\n ".getBytes)
        first = false
        val s =
          if (v == null) "null"
          else if (quoted) jsonStr(v.toString)
          else v.toString
        os.write(s.getBytes("UTF-8"))
      }
      def close(): Unit = { os.write("]\n".getBytes); os.close() }
    }
    /** Categorical: codes assigned by first encounter in stream order
      * (exactly the reference's `index.js:366-368,445-462`), buffered
      * (one int per row) because the code width isn't known until the
      * dictionary is complete. A dictionary past 65,536 entries can't be
      * expressed in the format's widest (16-bit) code file, so the
      * column degrades to a plain `.json` value array — the analogue of
      * the reference reclassifying high-cardinality columns out of
      * `cat` before the sink (`index.js:361,433-443`); truncating codes
      * to their low 16 bits would silently corrupt the export. */
    class Cat(name: String, valueType: DataType) extends Sink {
      val codes = new mutable.ArrayBuffer[Int]()
      val decoder = new mutable.ArrayBuffer[String]()
      private val seen = mutable.HashMap.empty[String, Int]
      private val quoted = valueType == StringType || valueType == DateType
      def ext: String =
        if (decoder.size <= 256) ".k8"
        else if (decoder.size <= 65536) ".k16"
        else ".json"
      def add(v: Any): Unit = {
        val s = if (v == null) "null" else v.toString
        codes += seen.getOrElseUpdate(s, { decoder += s; decoder.size - 1 })
      }
      def close(): Unit = {
        if (decoder.size > 65536) {
          val os = out(name, ext)
          os.write('[')
          var first = true
          codes.foreach { c =>
            if (!first) os.write(",\n ".getBytes)
            first = false
            val d = decoder(c)
            val s = if (d == "null") "null" else if (quoted) jsonStr(d) else d
            os.write(s.getBytes("UTF-8"))
          }
          os.write("]\n".getBytes)
          os.close()
          return
        }
        val os = out(name, ext)
        if (decoder.size <= 256) codes.foreach(c => os.write(c))
        else codes.foreach { c => os.write(c & 0xff); os.write((c >> 8) & 0xff) }
        os.close()
        val key = out(name, ext + ".key")
        key.write(("[" + decoder.map(d =>
          if (quoted) jsonStr(d) else d).mkString(",\n ") + "]\n").getBytes("UTF-8"))
        key.close()
      }
    }

    val sinks: Seq[Sink] = fields.map { f =>
      if (f.categorical) new Cat(f.sanitized, f.dataType)
      else f.dataType match {
        case IntegerType => new I32(f.sanitized)
        case DoubleType => new F32(f.sanitized)
        case LongType => new Json(f.sanitized, quoted = false)
        case _ => new Json(f.sanitized, quoted = true)
      }
    }
    val it = df.toLocalIterator()
    while (it.hasNext) {
      val row: Row = it.next()
      var i = 0
      while (i < sinks.length) { sinks(i).add(row.get(i)); i += 1 }
    }
    sinks.foreach(_.close())

    val index = fields.zip(sinks).map { case (f, s) =>
      f.name -> (f.sanitized + s.ext)
    }.toMap
    val body = "{" + fields.zip(sinks).map { case (f, s) =>
      jsonStr(f.name) + " : " + jsonStr(f.sanitized + s.ext)
    }.mkString(",\n ") + "}\n"
    Files.writeString(Paths.get(s"$outDir/index.json"), body)
    index
  }
}
