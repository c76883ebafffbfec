package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import java.time.temporal.ChronoUnit

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.SparkEntry
import graft.ingest.Collimate
import graft.sources.RawColumnarSink

/** One benchmark process. It builds the session, runs a workload's jobs
  * once cold and then warm until the measuring time is spent, and
  * writes what it saw to `<work>/result.json` (and the raw trace to
  * `<work>/trace.json` when traced), with the oracle SQL of its queries
  * in `<work>/oracle_sql.json`. `run.py` generates the inputs,
  * launches this main, checks the outputs and turns the raw records
  * into metrics.
  *
  * {{{
  * BenchMain --work DIR --launch-ms MS --input PATH
  *           --jobs name=layer,... --seconds S --trace 0|1
  *           [--warmup N] [--min-passes M]
  * }}}
  * A job named `ingest` runs the CSV ingest chain on the CSV file
  * `--input`; any other job is a `SparkEntry.queries` name run on the
  * table directory `--input`.
  */
object BenchMain {

  final case class JobRun(name: String, wall_s: Double, error: Option[String])
  final case class Pass(pass: Int, traced: Boolean, warmup: Boolean,
      wall_s: Double, cpu_s: Double, gc_s: Double, jobs: Seq[JobRun])

  def nowUs(): Long = ChronoUnit.MICROS.between(Instant.EPOCH, Instant.now())

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  /** The largest heap occupancy any garbage collection of this process
    * left behind, in MB: the peak live set, which unlike the resident set
    * does not depend on how far the collector chose to grow the heap. */
  object HeapAfterGc {
    @volatile var peakMb = 0.0
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
      .foreach(_.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val after = GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo.getMemoryUsageAfterGc
          val mb = after.asScala.collect { case (pool, u) if heapPools(pool) => u.getUsed }
            .sum / 1048576.0
          synchronized { peakMb = peakMb.max(mb) }
        }, null, null))
  }

  /** VmHWM (peak resident set) of this process, in MB. */
  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Other benchmark or program JVMs on this machine (they share its
    * cores): RunGuard's scan for `graft.` mains, plus any other
    * process running this harness, as in an A/B pair of checkouts. */
  private def otherJvms(): Seq[String] = {
    val self = ManagementFactory.getRuntimeMXBean.getPid
    val benches = Option(new java.io.File("/proc").listFiles()).toSeq.flatten
      .filter(d => d.getName.forall(_.isDigit) && d.getName.toLong != self)
      .flatMap { d =>
        try {
          val argv = new String(Files.readAllBytes(d.toPath.resolve("cmdline")),
            StandardCharsets.UTF_8).split('\u0000')
          if (argv.headOption.exists(a => a == "java" || a.endsWith("/java")) &&
              argv.contains("perfbench.BenchMain"))
            Some(s"pid=${d.getName} perfbench.BenchMain")
          else None
        } catch { case NonFatal(_) => None }
      }
    graft.tools.RunGuard.otherGraftJvms(self) ++ benches
  }

  private def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq
    all.reverse.foreach(Files.delete)
  }

  private def writeJson(path: String, value: AnyRef): Unit =
    Files.write(Paths.get(path),
      Serialization.write(value)(DefaultFormats).getBytes(StandardCharsets.UTF_8))

  def session(work: String): SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val opts = argv.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    val jobs = opts("--jobs").split(",").toSeq.map { j =>
      val Array(name, layer) = j.split("=", 2); name -> layer
    }
    val work = opts("--work")
    val launchMs = opts("--launch-ms").toDouble

    HeapAfterGc.install()
    val spark = session(work)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(0, 1000, 1, 4).count() // the one trivial job
    val setupS = (nowUs() / 1e3 - launchMs) / 1e3

    val oracle = SparkEntry.oracleSql
    writeJson(s"$work/oracle_sql.json", jobs.map(_._1)
      .filter(oracle.contains).map(n => n -> oracle(n)).toMap)
    val input = opts("--input")
    val seconds = opts("--seconds").toDouble
    val trace = opts.get("--trace").contains("1")
    // a traced run always makes at least one warm-up pass
    val warmups = opts.getOrElse("--warmup", "0").toInt.max(if (trace) 1 else 0)
    val minPasses = opts.getOrElse("--min-passes", "1").toInt
    val tracer = new Tracer(spark)

    // as graft.Bench.clear: drop cached relations and persisted RDDs
    // (local checkpoints included) and quiesce the heap, outside timing
    def clear(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }

    /** One job: everything here is inside the timed region. */
    def runJob(name: String, layer: String, pass: Int): Unit =
      if (name == "ingest") {
        val opts = Collimate.Options(parseDates = true, writeIndex = true)
        val out = s"$work/ingest/p$pass"
        val raw = tracer.span("Collimate.read", "ingest.read", pass) {
          Collimate.read(spark, input) }
        val res = tracer.span("Collimate.fromRows", "ingest.infer", pass) {
          Collimate.fromRows(raw, opts) }
        tracer.span("Collimate.write", "sources.parquet", pass) {
          Collimate.write(res, s"$out/store", opts) }
        tracer.span("RawColumnarSink.write", "sources.raw", pass) {
          RawColumnarSink.write(res, s"$out/raw") }
        if (pass == 0) writeJson(s"$work/schema.json", Map(
          "row_count" -> res.schema.rowCount,
          "fields" -> res.schema.fields.map(f => Map(
            "name" -> f.name, "column" -> f.sanitized,
            "type" -> f.dataType.simpleString,
            "categorical" -> f.categorical,
            "date_format" -> f.dateFormat.orNull))))
      } else tracer.span(name, layer, pass) {
        val df = tracer.span("build", layer, pass) {
          SparkEntry.queries(name)(spark, input) }
        // the cold pass keeps its result for the output check; warm
        // passes materialize into the noop sink
        if (pass == 0) df.write.mode("overwrite").parquet(s"$work/results/$name")
        else df.write.format("noop").mode("overwrite").save()
      }

    def runPass(pass: Int, traced: Boolean, warmup: Boolean = false): Pass = {
      tracer.enable(traced)
      val runs = tracer.span("pass", "pass", pass) {
        jobs.map { case (name, layer) =>
          clear()
          val (c0, g0, t0) = (processCpuNs(), gcMs(), System.nanoTime())
          val err = try { runJob(name, layer, pass); None } catch {
            case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}")
          }
          val wall = (System.nanoTime() - t0) / 1e9
          val cpu = (processCpuNs() - c0) / 1e9
          val gc = (gcMs() - g0) / 1e3
          // only the cold pass's ingest output is checked
          if (name == "ingest" && pass > 0) rmrf(Paths.get(s"$work/ingest/p$pass"))
          (JobRun(name, wall, err), cpu, gc)
        }
      }
      tracer.enable(false)
      Pass(pass, traced, warmup, runs.map(_._1.wall_s).sum,
        runs.map(_._2).sum, runs.map(_._3).sum, runs.map(_._1))
    }

    val passes = mutable.ArrayBuffer(runPass(0, trace))
    // untraced warm-up passes (used for nothing) while the JIT is still
    // compiling, then measured passes until the measuring time is spent
    // (at least `minPasses`). A traced run alternates traced and untraced
    // measured passes, ending on an untraced one: each traced pass is
    // paired with the untraced pass after it
    for (k <- 1 to warmups) passes += runPass(k, traced = false, warmup = true)
    val first = warmups + 1
    val measureStart = System.nanoTime()
    def elapsed = (System.nanoTime() - measureStart) / 1e9
    var k = first
    def more = if (trace) k <= first + 1 || elapsed < seconds || (k - first) % 2 == 1
      else k < first + minPasses || elapsed < seconds
    while (more) {
      passes += runPass(k, trace && (k - first) % 2 == 0)
      k += 1
    }
    clear()
    if (trace) tracer.write(s"$work/trace.json")
    val rt = Runtime.getRuntime
    writeJson(s"$work/result.json", Map(
      "setup_s" -> setupS,
      "passes" -> passes.toSeq,
      "peak_rss_mb" -> peakRssMb(),
      "peak_heap_mb" -> HeapAfterGc.peakMb,
      "meta" -> Map(
        "spark_version" -> spark.version,
        "master" -> spark.sparkContext.master,
        "cores" -> rt.availableProcessors,
        "jvm_max_heap_mb" -> rt.maxMemory / 1048576,
        "other_jvms" -> otherJvms())))
    spark.stop()
  }
}

/** Spans around the benchmark's calls into the program's layers, and
  * the Spark job, stage and task events that ran inside them. A span
  * id rides on the Spark local property [[Tracer.Key]] of every job
  * submitted while the span is open. Everything stays in memory and is
  * written once, raw; `tracing.py` does the arithmetic. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext
  private var on = false
  private var stack: List[Span] = Nil
  private val spans = mutable.ArrayBuffer.empty[Span]
  // filled on the listener-bus thread, read after a bus flush
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val stageJob = mutable.Map.empty[Int, Int]

  def enable(v: Boolean): Unit = {
    if (v && !on) sc.addSparkListener(this)
    if (!v && on) {
      org.apache.spark.sql.GraftBridge.flushListenerBus(spark)
      sc.removeSparkListener(this)
    }
    on = v
  }

  def span[A](name: String, layer: String, pass: Int)(body: => A): A =
    if (!on) body else {
      val s = Span(spans.size, name, layer, stack.headOption.fold(-1)(_.id),
        pass, BenchMain.nowUs(), -1L)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Key, s.id.toString)
      try body finally {
        s.end_us = BenchMain.nowUs()
        stack = stack.tail
        sc.setLocalProperty(Key, stack.headOption.map(_.id.toString).orNull)
      }
    }

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt),
      Stage(id, attempt, stageJob.getOrElse(id, -1), -1L, -1L))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .fold(-1)(_.toInt)
    jobs += Job(e.jobId, span, e.time, -1L)
    e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.job == e.jobId).foreach(_.end_ms = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.submit_ms = i.submissionTime.getOrElse(-1L)
    s.end_ms = i.completionTime.getOrElse(-1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.run_ms += m.executorRunTime
      s.cpu_ns += m.executorCpuTime
      s.max_task_ms = s.max_task_ms.max(m.executorRunTime)
      s.shuffle_write_bytes += m.shuffleWriteMetrics.bytesWritten
      s.input_bytes += m.inputMetrics.bytesRead
    }
  }

  def write(path: String): Unit = synchronized {
    Files.write(Paths.get(path), Serialization.write(Map(
      "spans" -> spans.toSeq, "jobs" -> jobs.toSeq,
      "stages" -> stages.values.toSeq))(DefaultFormats)
      .getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  val Key = "perfbench.span"
  final case class Span(id: Int, name: String, layer: String, parent: Int,
      pass: Int, start_us: Long, var end_us: Long)
  final case class Job(job: Int, span: Int, start_ms: Long, var end_ms: Long)
  final case class Stage(stage: Int, attempt: Int, job: Int,
      var submit_ms: Long, var end_ms: Long, var tasks: Int = 0,
      var run_ms: Long = 0L, var cpu_ns: Long = 0L, var max_task_ms: Long = 0L,
      var shuffle_write_bytes: Long = 0L, var input_bytes: Long = 0L)
}
