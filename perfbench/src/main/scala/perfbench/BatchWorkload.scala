package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry
import graft.queries.LlmQueries
import graft.util.Tables

/** The nightly job: the alpha-feature and corpus-curation registry
  * entries run back to back in a seed-shuffled order, each built and
  * then collected, after set-up has scanned every input table and
  * warmed the side-table memos as `graft.Bench` does. Every output is
  * checked against its committed digest. */
object BatchWorkload {

  val Scale = 0.1

  final case class EntryRun(name: String, pass: Int, builderS: Double, actionS: Double)

  /** Committed digest per entry (`name<TAB>digest`). */
  lazy val committedDigests: Map[String, String] =
    Option(getClass.getResourceAsStream("/perfbench/batch_digests.tsv")).map { in =>
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(k, v) = l.split("\t", 2)
        k -> v
      }.toMap finally src.close()
    }.getOrElse(Map.empty)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val fixture = ctx.step("fixture")(Fixture.ensure(spark, ctx.opts.fixtureDir, Scale)).getOrElse("")
    val registry = SparkEntry.queries

    // One set-up, on a run-scoped copy of the inputs: the memo build
    // alone takes ~8 s, and nothing a run does can reach the fixture.
    val dir = ctx.dir("inputs")
    Fixture.Tables.foreach { t =>
      val to = Files.createDirectories(Paths.get(dir, s"$t.parquet"))
      Files.list(Paths.get(fixture, s"$t.parquet")).forEach(f => Files.copy(f, to.resolve(f.getFileName)))
    }
    val s0 = System.nanoTime()
    ctx.step("warm_scans")(Fixture.Tables.foreach(t => Tables.load(spark, dir, t).count()))
    val m0 = System.nanoTime()
    ctx.step("memo_llm")(ctx.spans.span("util.memo_llm")(LlmQueries.warmMemos(spark, dir)))
    val memoS = (System.nanoTime() - m0) / 1e9
    val setupS = (System.nanoTime() - s0) / 1e9

    val digests = mutable.LinkedHashMap.empty[String, String]
    val runs = mutable.ArrayBuffer.empty[EntryRun]
    val gc0 = ctx.gcSeconds
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.opts.seconds * 1000000000L
    var pass = 0
    // whole passes only, started while the run's time lasts
    while (System.nanoTime() < deadline || pass == 0) {
      Inputs.entryOrder(ctx.opts.seed, pass).foreach { name =>
        // isolation as in graft.Bench, outside the timed window
        System.gc()
        val b0 = System.nanoTime()
        var a0 = b0
        val out = ctx.spans.op(s"$name#$pass", "queries.entry") {
          try {
            val df = ctx.spans.span("queries.builder")(registry(name)(spark, dir))
            a0 = System.nanoTime()
            val rows = ctx.spans.span("queries.action")(df.collect())
            Right(Digest.ofRows(df.columns.toSeq, rows))
          } catch { case e: Exception => Left(e) }
        }
        val a1 = System.nanoTime()
        out match {
          case Right(d) =>
            digests(name) = d
            val want = committedDigests.get(name)
            ctx.record(name, want.contains(d), s"digest $d, committed ${want.getOrElse("none")}")
          case Left(e) =>
            ctx.record(name, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        runs += EntryRun(name, pass, (a0 - b0) / 1e9, (a1 - a0) / 1e9)
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      }
      pass += 1
    }
    val wallS = runs.map(r => r.builderS + r.actionS).sum
    val gcS = ctx.gcSeconds - gc0

    ctx.opts.digestsOut.foreach { p =>
      val w = new java.io.PrintWriter(p, "UTF-8")
      try digests.toSeq.sortBy(_._1).foreach { case (k, v) => w.println(s"$k\t$v") }
      finally w.close()
    }

    val entryMs = runs.map(r => (r.builderS + r.actionS) * 1e3).toVector
    def perPass(set: Set[String], f: EntryRun => Double): Double =
      runs.filter(r => set(r.name)).map(f).sum / pass
    val alpha = Inputs.AlphaSet.toSet
    val curation = Inputs.CurationSet.toSet
    val alphaS = perPass(alpha, r => r.builderS + r.actionS)
    val curationS = perPass(curation, r => r.builderS + r.actionS)
    val named = Seq(
      Named("alpha_s", "s", alphaS, pass),
      Named("curation_s", "s", curationS, pass),
      Named("memo_build_s", "s", memoS, 1))

    val traced = ctx.traceView().map { v =>
      val ops = v.named("queries.entry")
      val opWork = v.work(ops)
      val builderJobs = v.work(v.named("queries.builder")).jobs
      val layers = Layers.spark(opWork, ops.size, wallS, gcS) ++ Map(
        "queries.builder_s" -> runs.map(_.builderS).sum / pass,
        "queries.builder_jobs" -> builderJobs.toDouble / pass,
        "queries.action_s" -> runs.map(_.actionS).sum / pass,
        "util.memo_build_s" -> memoS)
      (layers, census(v, runs.toVector))
    }

    // the typical entry time is the mean: a median or geometric mean over
    // a dozen entries of 0.2-6 s swung by 20-40% between runs
    Outcome(Seq(setupS), Stats.mean(entryMs), runs.size / wallS, named, traced.map(_._1).getOrElse(Map.empty),
      Map("passes" -> pass, "entries" -> runs.size,
        "entry_s" -> Json.obj(runs.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, rs) =>
          n -> rs.map(r => r.builderS + r.actionS).sum / rs.size }: _*)) ++
        traced.map("census" -> _._2))
  }

  /** Per-entry and per-set layer split of a traced batch run, and the
    * census check: the builder share of entry time and the per-job
    * cost from a least-squares fit wall ≈ a + b·jobs + c·task-seconds. */
  private def census(v: TraceView, runs: Vector[EntryRun]): scala.collection.Map[String, Any] = {
    val byOp = v.named("queries.entry").map(s => s.op -> s).toMap
    val rows = runs.flatMap { r =>
      byOp.get(s"${r.name}#${r.pass}").map { s =>
        val builder = v.spans.filter(x => x.parent == s.id && x.name == "queries.builder")
        val w = v.work(Seq(s))
        (r, v.work(builder).jobs, w)
      }
    }
    val perEntry = rows.groupBy(_._1.name).toSeq.sortBy(_._1).map { case (n, rs) =>
      val k = rs.size.toDouble
      n -> Json.obj(
        "builder_s" -> rs.map(_._1.builderS).sum / k,
        "action_s" -> rs.map(_._1.actionS).sum / k,
        "builder_jobs" -> rs.map(_._2).sum / k,
        "jobs" -> rs.map(_._3.jobs).sum / k,
        "stages" -> rs.map(_._3.stages).sum / k,
        "tasks" -> rs.map(_._3.tasks).sum / k,
        "planning_ms" -> rs.map(_._3.planningMs).sum / k,
        "task_s" -> rs.map(_._3.runMs).sum / 1e3 / k,
        "shuffle_mb" -> rs.map(r => r._3.shuffleReadB + r._3.shuffleWriteB).sum / 1e6 / k)
    }
    def setSplit(set: Set[String]) = {
      val rs = rows.filter(r => set(r._1.name))
      val b = rs.map(_._1.builderS).sum
      val a = rs.map(_._1.actionS).sum
      Json.obj("builder_s" -> b, "action_s" -> a,
        "builder_share" -> (if (a + b > 0) b / (a + b) else 0.0),
        "jobs" -> rs.map(_._3.jobs).sum, "builder_jobs" -> rs.map(_._2).sum)
    }
    val fit = if (rows.size >= 3) {
      val x = rows.map { case (_, _, w) => Array(1.0, w.jobs.toDouble, w.runMs / 1e3) }
      val y = rows.map { case (r, _, _) => r.builderS + r.actionS }
      val b = Stats.leastSquares(x, y)
      val pred = x.map(r => r.zip(b).map { case (u, c) => u * c }.sum)
      val my = y.sum / y.size
      val ssRes = y.zip(pred).map { case (a, p) => (a - p) * (a - p) }.sum
      val ssTot = y.map(a => (a - my) * (a - my)).sum
      Json.obj("intercept_s" -> b(0), "ms_per_job" -> b(1) * 1e3,
        "wall_per_task_s" -> b(2), "r2" -> (if (ssTot > 0) 1 - ssRes / ssTot else 0.0))
    } else Json.obj()
    val all = setSplit(runs.map(_.name).toSet)
    Json.obj(
      "builder_share" -> all("builder_share"),
      "roadmap_builder_share" -> 0.60,
      "fit" -> fit,
      "roadmap_ms_per_job" -> 73.0,
      "alpha" -> setSplit(Inputs.AlphaSet.toSet),
      "curation" -> setSplit(Inputs.CurationSet.toSet),
      "per_entry" -> Json.obj(perEntry: _*))
  }
}
