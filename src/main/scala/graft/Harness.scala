package graft

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{LlmQueries, RetrievalQueries, ScaleQueries, SystemQueries}
import graft.util.Tables

/** The one run harness behind [[Bench]], [[Verify]] and [[PlanProbe]]:
  * session, entry selection, warm-up and the per-entry loop. Failures
  * are caught with `NonFatal` only, so an OOM or an interrupt ends the
  * run instead of being counted as one failed entry. */
object Harness {
  /** Local cores (`SPARK_GRAFT_CPUS`; default 32, the target host's). */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Registry entries in name order: all, or the comma-separated names
    * in `only` (`SPARK_GRAFT_ONLY`, an iteration aid; recorded runs
    * leave it unset). A name that is no entry refuses before any work: it would
    * otherwise vanish silently from the run. */
  def select(only: Option[String]): Seq[String] = {
    val all = SparkEntry.queries.keySet
    val names = only.fold(all)(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val unknown = names -- all
    require(unknown.isEmpty, "SPARK_GRAFT_ONLY names no registry entry: " +
      unknown.toSeq.sorted.mkString(", "))
    names.toSeq.sorted
  }

  final case class Warm(failed: Seq[String], memoSec: Double)

  /** One-time work outside every timed window: scan each table (JVM and
    * codegen warm-up), build the day-partitioned store and the x2
    * bucketed tables (one-time ETL — s8_fetch_pruned's seek claim is
    * defined over a built layout), and pre-pay the first-consumer-pays
    * FrameMemo side-tables, timed as `memoSec`. A failed step prints
    * its stack trace and is named in `failed`, so its cost cannot move
    * silently into the first entry that needs it. */
  def warmUp(spark: SparkSession, sfDir: String): Warm = {
    val failed = Seq.newBuilder[String]
    def step(name: String)(body: => Any): Unit =
      try body catch { case NonFatal(e) =>
        System.err.println(s"[harness] warm-up step $name failed:")
        e.printStackTrace()
        failed += name
      }
    Tables.names.foreach(t => step(s"scan:$t")(Tables.load(spark, sfDir, t).count()))
    step("prunedStore")(SystemQueries.prunedStore(spark, sfDir))
    step("ensureX2Tables")(ScaleQueries.ensureX2Tables(spark, sfDir))
    val memoT0 = System.nanoTime()
    step("LlmQueries.warmMemos")(LlmQueries.warmMemos(spark, sfDir))
    step("RetrievalQueries.warmMemos")(RetrievalQueries.warmMemos(spark, sfDir))
    Warm(failed.result(), (System.nanoTime() - memoT0) / 1e9)
  }

  /** Drop what an entry left in memory so it cannot crowd a later one:
    * cached plans, and every persistent RDD — `clearCache` misses
    * localCheckpoint blocks, which ContextCleaner frees only once a
    * driver GC happens to collect the RDD object. */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** `sec` runs from the start of the build to the end of the action. */
  final case class Entry[A](name: String, buildSec: Double, sec: Double,
      result: Either[Throwable, A])

  /** The per-entry loop, lazily one entry per `next()`: GC (outside the
    * timed window, so one entry's garbage is not charged to the next),
    * build, `act`, isolate. */
  def run[A](spark: SparkSession, sfDir: String, names: Seq[String])
      (act: (String, DataFrame) => A): Iterator[Entry[A]] = {
    val registry = SparkEntry.queries
    names.iterator.map { name =>
      System.gc()
      val t0 = System.nanoTime()
      var built = t0
      val result =
        try {
          val df = registry(name)(spark, sfDir)
          built = System.nanoTime()
          Right(act(name, df))
        } catch { case NonFatal(e) => Left(e) }
      val t1 = System.nanoTime()
      isolate(spark)
      Entry(name, (built - t0) / 1e9, (t1 - t0) / 1e9, result)
    }
  }
}
