package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalacheck.{Properties, Test}

/** One shared local session for all suites (sbt forks a single test
  * JVM; building a session per suite would dominate test time). */
object TestSpark {
  /** The smallest generated scale (TESTDATA.md). */
  val sf0001 = "/root/testdata/sf0.001"

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

/** A ScalaCheck suite whose properties run Spark jobs per case: 25
  * cases per property instead of ScalaCheck's 100 — at 100 the Spark
  * property layer alone runs ~10 minutes, past the test budget. Pure
  * driver-side suites extend `Properties` and keep 100. */
abstract class SparkProperties(name: String) extends Properties(name) {
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(25)
}
