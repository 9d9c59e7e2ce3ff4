package perfbench

import java.lang.management.ManagementFactory

/** Runs one workload in this JVM and prints two lines: a report
  * (`PERFBENCH_REPORT {...}`, every named metric and the run's
  * environment) and the result (`PERFBENCH_RESULT {...}`). `run.py`
  * builds the classpath, starts this main and relays the result. */
object Main {

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "fetch" -> FetchWorkload.run,
    "batch" -> BatchWorkload.run,
    "ingest" -> IngestWorkload.run)

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val workload = Workloads.getOrElse(opts.workload,
      throw new IllegalArgumentException(
        s"unknown workload ${opts.workload}; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val loadStart = Harness.loadavg
    val spark = Harness.session(opts)
    // process start -> session ready; the workload's own set-up follows
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ctx = new Ctx(spark, opts)
    val out = workload(ctx)
    val loadEnd = Harness.loadavg
    val setupS = sessionS + Layers.median(out.setupRepS)
    val rss = Harness.peakRssMb

    val endToEnd = Json.obj(
      "setup_s" -> metric(setupS, "s"),
      "op_latency_ms" -> metric(out.opLatencyMs, "ms"),
      "throughput_per_s" -> metric(out.throughputPerS, "1/s"))
    val layers = Json.obj(Layers.Units.map { case (n, u) =>
      n -> metric(out.layers.getOrElse(n, 0.0), u) }: _*)

    val view = ctx.traceView()
    val report = Json.obj(
      "workload" -> opts.workload,
      "seed" -> opts.seed,
      "seconds" -> opts.seconds,
      "trace" -> opts.trace,
      "env" -> Json.obj(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "cores" -> opts.cores,
        "heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
        "spark_version" -> spark.version,
        "loadavg_start" -> loadStart,
        "loadavg_end" -> loadEnd),
      "named" -> Json.obj(out.named.map(m =>
        m.name -> Json.obj("value" -> m.value, "unit" -> m.unit, "n" -> m.n)): _*),
      "end_to_end" -> endToEnd,
      "fail_frac" -> (if (ctx.attempted > 0) ctx.failed.toDouble / ctx.attempted else 0.0),
      "peak_rss_mb" -> rss,
      "session_s" -> sessionS,
      "setup_reps_s" -> out.setupRepS,
      "setup_steps" -> ctx.setupSteps.map { case (n, s, ok) =>
        Json.obj("step" -> n, "s" -> s, "ok" -> ok) },
      "failures" -> ctx.failureList.map(f => Json.obj("op" -> f.op, "message" -> f.message)),
      "extra" -> out.extra) ++
      view.map(v => Json.obj(
        "per_layer" -> layers,
        "span_self_ms" -> v.summary.map { case (n, c, total, self) =>
          Json.obj("span" -> n, "count" -> c, "total_ms" -> total, "self_ms" -> self) }))
        .getOrElse(Json.obj())

    view.foreach(v => opts.spansOut.foreach { p =>
      val w = new java.io.PrintWriter(p, "UTF-8")
      try v.spans.foreach(s => w.println(Json.render(Json.obj("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
      finally w.close()
    })

    val result = Json.obj(
      "correct" -> (ctx.failed == 0 && ctx.attempted > 0),
      "attempted" -> math.max(1L, ctx.attempted),
      "failed" -> (if (ctx.attempted > 0) ctx.failed else 1L),
      "metrics" -> (if (opts.trace) layers else endToEnd))

    println("PERFBENCH_REPORT " + Json.render(report))
    println("PERFBENCH_RESULT " + Json.render(result))
    System.out.flush()
    spark.stop()
  }

  private def metric(v: Double, unit: String) = Json.obj("value" -> v, "unit" -> unit)
}
