package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.options.SyntheticTrades
import graft.queries.SystemQueries
import graft.sources.TradesStore
import graft.util.{FrameMemo, Tables, TempDirs}

/** Side-tables built from a data dir never outlive the data: the
  * cross-run trades store is keyed by the dir's content fingerprint
  * and replaces the dir's superseded stores, FrameMemo tables live in
  * directories deleted at JVM exit, and a table schema is inferred
  * once per data version. */
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

  test("prunedStore deletes the dir's superseded stores and nothing else") {
    val dir = TempDirs.scoped("store-gc")
    spark.read.parquet(s"${TestSpark.sf0001}/events.parquet")
      .write.parquet(s"$dir/events.parquet")
    val name = dir.replaceAll("[^A-Za-z0-9.]", "_")
    def store(n: String) = {
      val f = new java.io.File(s"/tmp/graft_store/$n")
      f.mkdirs()
      f
    }
    val legacy = store(name)
    val stale = store(s"${name}_${"0" * 32}")
    val other = store(s"${name}0_${"0" * 32}") // another dir's store
    val kept = scala.collection.mutable.Set(other)
    try {
      val path = SystemQueries.prunedStore(spark, dir)
      kept += new java.io.File(path)
      assert(!legacy.exists() && !stale.exists())
      assert(other.exists() && new java.io.File(path, "_SUCCESS").exists())
    } finally (kept ++ Seq(legacy, stale)).foreach(FileUtils.deleteQuietly)
  }

  test("FrameMemo reads each memo back under the schema it wrote, with no job") {
    val dir = TempDirs.scoped("memo-schema")
    def memo = FrameMemo.cached(spark, dir, "schema_probe")(
      spark.range(3).selectExpr("id AS x", "array(id) AS a"))
    val first = memo
    val jobs = TestSpark.jobsDuring(memo)
    assert(jobs.size == 0, "jobs reading a memo back")
    val written = new java.io.File(new java.net.URI(first.inputFiles.head).getPath).getParent
    assert(memo.schema == spark.read.parquet(written).schema)
    assert(memo.schema.map(_.dataType.simpleString) == Seq("bigint", "array<bigint>"))
  }

  test("Tables.load infers a table's schema once per data version") {
    val dir = TempDirs.scoped("tables-schema")
    val path = s"$dir/documents.parquet"
    spark.range(4).selectExpr("id AS doc_id", "'t' AS text").write.parquet(path)
    assert(Tables.load(spark, dir, "documents").columns.toSeq == Seq("doc_id", "text"))
    val again = TestSpark.jobsDuring(Tables.load(spark, dir, "documents"))
    assert(again.size == 0, "jobs loading an unchanged table")
    spark.range(4).selectExpr("id AS doc_id", "'t' AS text", "id AS extra")
      .write.mode("overwrite").parquet(path)
    val regenerated = Tables.load(spark, dir, "documents")
    assert(regenerated.columns.toSeq == Seq("doc_id", "text", "extra"))
    assert(regenerated.count() == 4)
  }
}
