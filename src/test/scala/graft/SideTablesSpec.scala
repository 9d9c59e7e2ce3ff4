package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.options.SyntheticTrades
import graft.queries.SystemQueries
import graft.sources.TradesStore
import graft.util.{FrameMemo, TempDirs}

/** Side-tables built from a data dir never outlive the data: the
  * cross-run trades store is keyed by the dir's content fingerprint,
  * and FrameMemo tables live in directories deleted at JVM exit. */
class SideTablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("prunedStore rebuilds when the dir's events are regenerated in place") {
    val dir = TempDirs.scoped("store-regen")
    val events = s"$dir/events.parquet"
    val source = spark.read.parquet(s"${TestSpark.sf0001}/events.parquet")
    source.write.parquet(events)
    val stores = scala.collection.mutable.Set(SystemQueries.prunedStore(spark, dir))
    try {
      val n0 = TradesStore.read(spark, stores.head).count()
      source.filter(col("event_id") % 2 === 0).write.mode("overwrite").parquet(events)
      val after = SystemQueries.prunedStore(spark, dir)
      stores += after
      val stored = TradesStore.read(spark, after).select("trade_id")
      val ids = SyntheticTrades.trades(spark, dir).select("trade_id")
      assert(stored.count() < n0)
      assert(stored.exceptAll(ids).isEmpty && ids.exceptAll(stored).isEmpty)
    } finally stores.foreach(p => FileUtils.deleteDirectory(new java.io.File(p)))
  }

  test("FrameMemo writes each memo into a directory TempDirs deletes at exit") {
    val dir = TempDirs.scoped("memo-src")
    val df = FrameMemo.cached(spark, dir, "spec_probe")(spark.range(3).toDF("x"))
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
    val memoDirs = df.inputFiles.map(f => new java.io.File(new java.net.URI(f).getPath).getParent).toSet
    assert(memoDirs.size == 1)
    assert(TempDirs.isScoped(memoDirs.head))
  }
}
