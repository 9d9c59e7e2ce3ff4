package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Bridge

/** A timed region of the benchmark's own code around one call into
  * the library. `op` is the operation (job group) it belongs to. */
final case class Span(id: Long, name: String, parent: Long, op: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans recorded in memory. Every operation runs under its own Spark
  * job group; when tracing, every span also carries a job tag
  * (`pb-<id>`), so Spark's SQL executions and jobs can be attributed
  * to the innermost span that started them. Untraced, a span is just
  * the body. */
final class Spans(sc: SparkContext, val enabled: Boolean) {
  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val currentOp = ThreadLocal.withInitial[String](() => "")

  def op[T](opId: String, name: String)(body: => T): T = {
    sc.setJobGroup(opId, name, interruptOnCancel = false)
    currentOp.set(opId)
    try span(name)(body)
    finally { sc.clearJobGroup(); currentOp.set("") }
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      val tag = s"pb-$id"
      sc.addJobTag(tag)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.removeJobTag(tag)
        stack.set(stack.get.tail)
        done.add(Span(id, name, parent, currentOp.get, t0, t1))
      }
    }

  def all: Vector[Span] = done.asScala.toVector.sortBy(_.id)
}

/** Spark work attributed to one span (or job group). */
final class Acc {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, shuffleReadB, shuffleWriteB, spillB = 0L
  var planningMs, files, scanBytes, scanRows = 0L

  def +=(o: Acc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; shuffleReadB += o.shuffleReadB
    shuffleWriteB += o.shuffleWriteB; spillB += o.spillB; planningMs += o.planningMs
    files += o.files; scanBytes += o.scanBytes; scanRows += o.scanRows
  }
}

/** Listener that attributes SQL executions (planning phases, file
  * scans), jobs, stages and task metrics to the span whose tag they
  * carry, else to their job group (`g:<group>`), else to `other`. */
final class Tracer extends SparkListener {
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val execKey = new ConcurrentHashMap[Long, String]()
  private val stageKey = new ConcurrentHashMap[Int, String]()

  private def acc(k: String): Acc = accs.computeIfAbsent(k, _ => new Acc)

  private def keyOf(tags: Iterable[String], group: Option[String]): String = {
    val spanIds = tags.filter(_.startsWith("pb-")).map(_.drop(3).toLong)
    if (spanIds.nonEmpty) s"s${spanIds.max}"
    else group.filter(_ != null).map("g:" + _).getOrElse("other")
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execKey.put(s.executionId, keyOf(s.jobTags, s.jobGroupId))
    case x: SparkListenerSQLExecutionEnd =>
      val k = Option(execKey.remove(x.executionId)).getOrElse("other")
      Bridge.queryExecution(x).foreach { qe =>
        val a = acc(k)
        val planning = qe.tracker.phases.values.map(_.durationMs).sum
        val scans = try fileScans(qe.executedPlan) catch { case _: Exception => Nil }
        a.synchronized {
          a.planningMs += planning
          scans.foreach { s =>
            def m(n: String) = s.metrics.get(n).map(_.value).getOrElse(0L)
            a.files += m("numFiles"); a.scanBytes += m("filesSize")
            a.scanRows += m("numOutputRows")
          }
        }
      }
    case _ =>
  }

  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case _: ReusedExchangeExec => Nil
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(fileScans) ++ other.subqueries.flatMap(fileScans)
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val props = Option(j.properties)
    val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    val k = keyOf(tags, props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
    j.stageIds.foreach(stageKey.putIfAbsent(_, k))
    val a = acc(k)
    a.synchronized(a.jobs += 1)
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val a = acc(Option(stageKey.get(s.stageInfo.stageId)).getOrElse("other"))
    a.synchronized(a.stages += 1)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val a = acc(Option(stageKey.get(t.stageId)).getOrElse("other"))
    Option(t.taskMetrics).foreach { m =>
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleReadB += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def snapshot: Map[String, Acc] = accs.asScala.toMap
}

/** Per-layer read-out of a traced run: span durations by name, Spark
  * work summed over a span and everything nested in it, and self time
  * (a span's duration minus that of its direct children). */
final class TraceView(val spans: Vector[Span], accs: Map[String, Acc]) {
  private val children: Map[Long, Vector[Span]] = spans.groupBy(_.parent)

  /** The spans of this name inside measured operations (set-up and
    * warm-up spans belong to no operation). */
  def named(name: String): Vector[Span] = spans.filter(s => s.name == name && s.op.nonEmpty)

  def durationsMs(name: String): Vector[Double] = named(name).map(_.ms)

  private def subtree(s: Span): Vector[Span] =
    s +: children.getOrElse(s.id, Vector.empty).flatMap(subtree)

  /** Spark work of the given spans and everything nested in them. */
  def work(ss: Iterable[Span]): Acc = {
    val total = new Acc
    ss.flatMap(subtree).map(_.id).toSet.foreach { (id: Long) =>
      accs.get(s"s$id").foreach(total += _)
    }
    total
  }

  /** Spark work attributed to a job group outside any span. */
  def group(g: String): Acc = accs.getOrElse(s"g:$g", new Acc)

  def selfMs(s: Span): Double = s.ms - children.getOrElse(s.id, Vector.empty).map(_.ms).sum

  /** Per span name: count, total and self milliseconds. */
  def summary: Seq[(String, Int, Double, Double)] =
    spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.size, ss.map(_.ms).sum, ss.map(selfMs).sum)
    }.sortBy(-_._3)
}
