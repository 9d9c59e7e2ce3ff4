package perfbench

/** The per-layer metrics of a traced run, in report order with their
  * units. Every workload prints all of them; a layer a workload does
  * not exercise reads 0. */
object Layers {

  val Units: Seq[(String, String)] = Seq(
    "api.compose_ms" -> "ms",
    "sources.open_ms" -> "ms",
    "sources.files_scanned" -> "count",
    "sources.scan_mb" -> "MB",
    "sources.rows_examined_per_row" -> "ratio",
    "sources.commit_ms" -> "ms",
    "sources.bytes_written" -> "bytes",
    "sources.write_amp" -> "ratio",
    "sources.table_files" -> "count",
    "streaming.planning_ms" -> "ms",
    "streaming.getbatch_ms" -> "ms",
    "streaming.addbatch_ms" -> "ms",
    "streaming.walcommit_ms" -> "ms",
    "streaming.commitoffsets_ms" -> "ms",
    "streaming.state_rows" -> "count",
    "streaming.dup_drop_ratio" -> "ratio",
    "queries.builder_s" -> "s",
    "queries.builder_jobs" -> "count",
    "queries.action_s" -> "s",
    "util.memo_build_s" -> "s",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.planning_ms" -> "ms",
    "spark.task_s" -> "s",
    "spark.cpu_s" -> "s",
    "spark.parallelism" -> "ratio",
    "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.gc_s" -> "s")

  /** Spark-level counters of `ops` operations that together did the
    * work `w` in `wallS` seconds: per-operation means, plus the
    * effective parallelism (task seconds per wall second) and the JVM's
    * garbage-collection seconds over the window. */
  def spark(w: Acc, ops: Int, wallS: Double, gcS: Double): Map[String, Double] = {
    val n = math.max(1, ops).toDouble
    Map(
      "spark.jobs" -> w.jobs / n,
      "spark.stages" -> w.stages / n,
      "spark.tasks" -> w.tasks / n,
      "spark.planning_ms" -> w.planningMs / n,
      "spark.task_s" -> w.runMs / 1e3 / n,
      "spark.cpu_s" -> w.cpuNs / 1e9 / n,
      "spark.parallelism" -> (if (wallS > 0) w.runMs / 1e3 / wallS else 0.0),
      "spark.shuffle_read_mb" -> w.shuffleReadB / 1e6 / n,
      "spark.shuffle_write_mb" -> w.shuffleWriteB / 1e6 / n,
      "spark.spill_mb" -> w.spillB / 1e6 / n,
      "spark.gc_s" -> gcS)
  }

  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
}
