package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Optimization-round measurement harness (guide §1): runs the named
  * registry queries one at a time after Bench's warm-up, dumps
  * `.explain("formatted")` to `plans/<query>.txt`, and prints a
  * per-stage time/shuffle breakdown so stage-level hot spots are
  * attributable without the UI (which the bench disables). A
  * diagnostic main only; the timed contract stays in [[Bench]].
  *
  * Usage: runMain graft.PlanProbe <sfDir> <outDir> <q1,q2,...>
  */
object PlanProbe {
  private type Stage = (Int, String, Long, Long, Long, Long, Int)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = Harness.select(Some(args(2)))
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    Harness.warmUp(spark, sfDir)

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val ms = for {
          s <- si.submissionTime; c <- si.completionTime
        } yield c - s
        stages.add((si.stageId, si.name.take(80), ms.getOrElse(-1L),
          si.taskMetrics.shuffleReadMetrics.totalBytesRead,
          si.taskMetrics.shuffleWriteMetrics.bytesWritten,
          si.taskMetrics.executorRunTime, si.numTasks))
      }
    }
    spark.sparkContext.addSparkListener(listener)

    Harness.run(spark, sfDir, names) { (name, df) =>
      val t0 = System.nanoTime()
      val n = df.count()
      val execSec = (System.nanoTime() - t0) / 1e9
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new java.io.PrintWriter(s"$outDir/$name.txt", "UTF-8")
      try w.println(plan) finally w.close()
      // give the async listener bus a moment to drain, then take this
      // entry's stages (its build's and its action's) off the queue
      Thread.sleep(300)
      val own = Iterator.continually(stages.poll()).takeWhile(_ != null).toVector
      (n, execSec, own)
    }.foreach { e =>
      e.result match {
        case Left(err) =>
          stages.clear()
          println(s"[probe] ${e.name} FAILED: ${err.getMessage}")
        case Right((n, execSec, own)) =>
          println(f"[probe] ${e.name} rows=$n build=${e.buildSec}%.3fs " +
            f"exec=$execSec%.3fs total=${e.buildSec + execSec}%.3fs")
          own.sortBy(-_._3).take(14).foreach {
            case (id, nm, ms, sr, sw, run, nt) =>
              println(f"[stage] $id%5d ${ms}%6d ms run=${run}%6d ms " +
                f"tasks=$nt%4d sRead=${sr / 1024}%8d KB " +
                f"sWrite=${sw / 1024}%8d KB  $nm")
          }
      }
    }
    spark.stop()
  }
}
