package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    runDir: String,
    fixtureDir: String,
    cores: Int,
    spansOut: Option[String],
    digestsOut: Option[String])

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val nproc = Runtime.getRuntime.availableProcessors()
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = kv.get("trace").contains("1"),
      runDir = need("run-dir"),
      fixtureDir = need("fixture-dir"),
      // at most 4 cores, so runs on larger machines stay comparable
      cores = math.min(4, nproc),
      spansOut = kv.get("spans"),
      digestsOut = kv.get("write-digests"))
  }
}

/** One failed operation or check, as reported. */
final case class Failure(op: String, message: String)

/** What one run shares across its workload code: the session, the
  * spans, the op counters and the set-up record. */
final class Ctx(val spark: SparkSession, val opts: Opts) {
  val spans = new Spans(spark.sparkContext, opts.trace)
  val tracer: Option[Tracer] =
    if (opts.trace) {
      val t = new Tracer
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None

  private val attemptedN = new AtomicLong
  private val failedN = new AtomicLong
  private val failures = new ConcurrentLinkedQueue[Failure]()
  private val steps = mutable.ArrayBuffer.empty[(String, Double, Boolean)]

  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get
  def failureList: Vector[Failure] = failures.asScala.toVector

  def record(op: String, ok: Boolean, message: => String = ""): Unit = {
    attemptedN.incrementAndGet()
    if (!ok) {
      failedN.incrementAndGet()
      if (failures.size < 50) failures.add(Failure(op, message))
    }
  }

  /** Run `body` as one counted operation: an exception is a failed op,
    * never swallowed silently. */
  def attempt[T](op: String)(body: => T): Option[T] =
    try {
      val v = body
      record(op, ok = true)
      Some(v)
    } catch {
      case e: Exception =>
        record(op, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }

  /** A named, timed set-up step, recorded whether it succeeds or not. */
  def step[T](name: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val r = attempt(s"setup.$name")(spans.span(s"setup.$name")(body))
    steps.synchronized(steps += ((name, (System.nanoTime() - t0) / 1e9, r.isDefined)))
    r
  }

  def setupSteps: Vector[(String, Double, Boolean)] = steps.synchronized(steps.toVector)

  /** A fresh directory under the run directory. */
  def dir(name: String): String = {
    val d = new File(opts.runDir, name)
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Waits until every listener event has been delivered, then reads
    * the traced view. */
  def traceView(): Option[TraceView] = tracer.map { t =>
    org.apache.spark.sql.perfbench.Bridge.drainListeners(spark.sparkContext)
    new TraceView(spans.all, t.snapshot)
  }

  /** Total JVM garbage-collection seconds so far. */
  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
}

/** What a workload reports: the end-to-end metric values every
  * workload prints (the set-up repetitions' times, the typical
  * operation latency and the throughput), the workload's own named
  * metrics with their sample counts, and, when traced, its per-layer
  * metrics, plus anything else worth printing. */
final case class Outcome(
    setupRepS: Seq[Double],
    opLatencyMs: Double,
    throughputPerS: Double,
    named: Seq[Named],
    layers: Map[String, Double],
    extra: Map[String, Any])

final case class Named(name: String, unit: String, value: Double, n: Int)

object Harness {
  /** Session settings as `graft.Bench` uses them, with every local
    * path under the run directory. */
  def session(opts: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${opts.cores}]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", opts.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(opts.runDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(opts.runDir, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Driver resident-set high-water mark (VmHWM) in MB. */
  def peakRssMb: Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map(
        _.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    }.getOrElse(0.0)

  def loadavg: Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+").head.toDouble finally src.close()
    }.getOrElse(-1.0)

  /** Total size of the regular files under `dir`. */
  def dirBytes(dir: File): Long =
    if (dir.isFile) dir.length()
    else Option(dir.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}
