package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks a single test
  * JVM; building a session per suite would dominate test time). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Properties of every Spark job started while `action` runs
    * (listener delivery is async: wait until the count stops moving). */
  def jobsDuring(action: => Unit): Seq[java.util.Properties] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).getOrElse(new java.util.Properties))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      var prev = -1
      while (prev != seen.size) { prev = seen.size; Thread.sleep(300) }
      seen.asScala.toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
