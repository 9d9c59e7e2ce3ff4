package graft

import scala.util.Try

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Failures are reported honestly: a crashed query
  * contributes `"ok":false` and bumps the `failed` count — its elapsed
  * time is the crash latency, never silently folded into the total.
  */
object Bench {
  /** 1-minute loadavg, so a run carries its own contamination evidence:
    * timings are only comparable when the machine was idle (loadavg well
    * below the core count) — concurrent sbt/round-end churn inflates
    * every query ~1.5-2x uniformly.
    */
  private def loadavg(): Double =
    Try(scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+").head.toDouble).getOrElse(-1.0)

  def main(args: Array[String]): Unit = {
    val loadStart = loadavg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = Harness.select(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = Harness.session()
    val warm = Harness.warmUp(spark, sfDir)
    // the timed window: build + count(); planning and caches included
    val results = Harness.run(spark, sfDir, names)((_, df) => df.count())
      .tapEach(e => e.result.left.foreach(err =>
        System.err.println(s"[bench] ${e.name} FAILED: ${err.getMessage}")))
      .toVector
    val qs = results.map(e =>
      s""""${e.name}":{"sec":${e.sec},"ok":${e.result.isRight}}""").mkString("{", ",", "}")
    val total = results.map(_.sec).sum
    val failed = results.count(_.result.isLeft)
    val loadEnd = loadavg()
    val warmFailed = warm.failed.map(n => s""""$n"""").mkString("[", ",", "]")
    // contamination stamp: timings recorded while the machine was
    // already busy (round-end sbt churn etc.) inflate every query
    // ~1.5-2x uniformly and MUST NOT be treated as a regression
    // baseline — round 13's recorded 635 s vs a clean 306 s was
    // exactly this. Threshold: an idle 32-core box sits well under
    // cpus/8; stamp rather than refuse so the driver still gets an
    // artifact, but one that carries its own invalidity evidence.
    val contaminated =
      loadStart > math.max(1.0, Harness.cpus.toDouble / 8)
    if (contaminated)
      System.err.println(
        s"[bench] WARNING loadavg_start=$loadStart on ${Harness.cpus} cpus — " +
          "timings are contaminated; re-run on an idle machine")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"n_queries":${results.size},"sf":"$sfDir","loadavg_start":$loadStart,"loadavg_end":$loadEnd,"memo_build_sec":${warm.memoSec},"contaminated":$contaminated,"warmup_failed":$warmFailed}""")
    // Second, COMPACT summary line, printed last on purpose: the round
    // driver records only a fixed-size tail of this process's output,
    // and the full per-query line above outgrew it rounds ago (231
    // queries ≈ 15 KB) — the headline total was being truncated away.
    // This line stays under ~1 KB so the tail always carries the total,
    // the failure count, the slowest queries, and a per-family rollup.
    // Locale-pinned: f"$v%.3f" uses the JVM default locale, which can
    // emit comma decimal separators and break the JSON line.
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val slowest = results.sortBy(-_.sec).take(12)
      .map(e => s""""${e.name}":${r3(e.sec)}""").mkString("{", ",", "}")
    val famOf = (n: String) => {
      val p = n.takeWhile(c => c.isLetter)
      if (p.isEmpty) "other" else p
    }
    val families = results.groupBy(e => famOf(e.name)).toSeq
      .map { case (f, rs) => (f, rs.map(_.sec).sum) }
      .sortBy(-_._2)
      .map { case (f, s) => s""""$f":${r3(s)}""" }.mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","failed":$failed,"n_queries":${results.size},"sf":"$sfDir","loadavg_start":$loadStart,"loadavg_end":$loadEnd,"memo_build_sec":${r3(warm.memoSec)},"contaminated":$contaminated,"slowest":$slowest,"family_sec":$families,"warmup_failed":$warmFailed}"""
    println(compact)
    // Round 13's recorded tail carried the compact line but the
    // driver's parse came back null — sbt frames stdout with
    // "[info] " prefixes and appends a "[success]" line after ours,
    // so a last-line json.loads fails. A plain file sidesteps log
    // framing entirely: pure JSON, no prefix, no trailing lines.
    // The path is env-overridable (and the default is gitignored) so
    // a bench run never dirties the working tree and concurrent runs
    // can target distinct artifact paths.
    val summaryPath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY", "bench_summary.json")
    try {
      val w = new java.io.PrintWriter(summaryPath, "UTF-8")
      try w.println(compact) finally w.close()
    } catch { case _: java.io.IOException => () }
    spark.stop()
  }
}
