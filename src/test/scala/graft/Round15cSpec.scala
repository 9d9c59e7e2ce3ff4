package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import graft.operators.IncrementalMv
import graft.sources.SnapshotStore

/** Round-15 third wave: partition-spec evolution and incremental
  * materialized-view maintenance. */
class Round15cSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def store(rows: Seq[(Long, String, Double)]): org.apache.spark.sql.DataFrame =
    rows.toDF("k", "cat", "v")

  test("evolved read unions layouts by name; nothing lost or duplicated") {
    val root = graft.util.TempDirs.scoped("r15c-pevo")
    val a = store((1L to 10L).map(i => (i, if (i % 2 == 0) "x" else "y", i * 1.0)))
    val b = store((11L to 20L).map(i => (i, if (i % 3 == 0) "x" else "y", i * 1.0)))
    SnapshotStore.commitAppend(a, root, spec = Seq("cat"))
    SnapshotStore.commitAppend(b, root, spec = Seq("cat", "k"))
    val out = SnapshotStore.read(spark, root)
    assert(out.count() == 20)
    assert(out.select(sum(col("v"))).as[Double].head() == (1 to 20).sum.toDouble)
    // partition values recover as strings (no inference flip)
    assert(out.schema("cat").dataType.typeName == "string")
    // version-pinned evolved read still sees only v1
    assert(SnapshotStore.read(spark, root, Some(1)).count() == 10)
  }

  test("a plain commit and a partitioned commit coexist in one evolved read") {
    val root = graft.util.TempDirs.scoped("r15c-mixed")
    SnapshotStore.commitAppend(store(Seq((1L, "x", 1.0), (2L, "y", 2.0))), root)
    SnapshotStore.commitAppend(
      store(Seq((3L, "x", 3.0))), root, spec = Seq("cat"))
    val out = SnapshotStore.read(spark, root)
    assert(out.count() == 3)
    assert(out.filter(col("cat") === "x").count() == 2)
  }

  test("filter on the evolved column partition-prunes the new-spec commit") {
    val root = graft.util.TempDirs.scoped("r15c-prune")
    SnapshotStore.commitAppend(
      store((1L to 40L).map(i => (i, s"c${i % 4}", 1.0))), root, spec = Seq("cat"))
    val q = SnapshotStore.read(spark, root)
      .filter(col("cat") === "c1")
    val scans = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "the cat predicate must reach the scan as a partition filter")
    assert(q.count() == 10)
  }

  test("incrementally maintained view equals from-scratch recompute bit-for-bit") {
    val root = graft.util.TempDirs.scoped("r15c-mv")
    val base = store((1L to 100L).map(i =>
      (i, s"g${i % 5}", i * 0.01 + 0.001)))
    SnapshotStore.commitAppend(base.repartition(6, col("k")), root)
    val mv1 = IncrementalMv.build(
      SnapshotStore.read(spark, root, Some(1)), Seq("cat"), "v")
    // delete every row of group g0 (group leaves the view) and some
    // of g1; append a brand-new group g9 (group enters)
    SnapshotStore.deleteRows(spark, root,
      col("cat") === "g0" || (col("cat") === "g1" && col("k") < 40))
    SnapshotStore.commitAppend(
      store(Seq((200L, "g9", 2.5), (201L, "g9", 3.5))), root)
    val diff = SnapshotStore.snapshotDiff(
      spark, root, 1, SnapshotStore.latestVersion(root))
    val incr = IncrementalMv.maintain(mv1, diff, Seq("cat"), "v")
    val full = IncrementalMv.build(
      SnapshotStore.read(spark, root), Seq("cat"), "v")
    val iRows = incr.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
    val fRows = full.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
    assert(iRows == fRows, "decimal-exact: incremental == recompute")
    assert(!iRows.exists(_._1 == "g0"), "emptied group left the view")
    assert(iRows.exists(_._1 == "g9"), "new group entered the view")
  }

  test("empty changelog leaves the view unchanged") {
    val mv = IncrementalMv.build(
      store(Seq((1L, "a", 1.5), (2L, "a", 2.5), (3L, "b", 4.0))),
      Seq("cat"), "v")
    val noDiff = store(Nil)
      .withColumn("change", lit("added"))
      .withColumn("n", lit(1L))
      .limit(0)
    val out = IncrementalMv.maintain(mv, noDiff, Seq("cat"), "v")
    assert(out.collect().map(r => (r.getString(0), r.getLong(1),
      r.getDecimal(2).doubleValue())).toSet ==
      Set(("a", 2L, 4.0), ("b", 1L, 4.0)))
  }
}
