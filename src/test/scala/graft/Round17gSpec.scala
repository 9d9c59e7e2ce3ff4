package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.SnapshotStore

/** Round-17 seventh wave: every REWRITING store operation is
  * evolution-safe — a file under a partition-evolved layout carries
  * column VALUES in its directory names, and a flat read inside
  * compaction / delete / merge / re-indexing would silently drop them
  * from the rewritten rows. All of them now read through the
  * spec-aware evolved path. */
class Round17gSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val wh = graft.util.TempDirs.scoped("r17g-wh")

  /** v1: flat (tid, amount); v2: (tid, amount) under a month spec. */
  private def evolved(name: String): String = {
    val root = s"$wh/$name"
    SnapshotStore.commitAppend(
      Seq((1L, 10.0, "202601"), (2L, 20.0, "202602"))
        .toDF("tid", "amount", "month"), root)
    SnapshotStore.commitAppend(
      Seq((3L, 30.0, "202601"), (4L, 40.0, "202602"))
        .toDF("tid", "amount", "month"), root, spec = Seq("month"))
    root
  }

  private def monthsOf(root: String): Map[Long, String] =
    SnapshotStore.read(spark, root)
      .select(col("tid"), col("month")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("compaction keeps directory-encoded values") {
    val root = evolved("compact")
    val before = monthsOf(root)
    val (v, merged, _) = SnapshotStore.compactSmall(spark, root,
      minBytes = Long.MaxValue)
    assert(merged > 0)
    assert(SnapshotStore.latestVersion(root) == v)
    assert(monthsOf(root) == before,
      "every row keeps its month through the rewrite")
    assert(before.values.toSet == Set("202601", "202602"))
  }

  test("row delete keeps directory-encoded values of rewritten files") {
    val root = evolved("delete")
    val (_, rewritten, _) = SnapshotStore.deleteRows(spark, root,
      col("tid") === 3L)
    assert(rewritten > 0)
    val after = monthsOf(root)
    assert(after == Map(1L -> "202601", 2L -> "202602", 4L -> "202602"))
    // a predicate ON the partition column resolves too
    SnapshotStore.deleteRows(spark, root, col("month") === "202602")
    assert(monthsOf(root) == Map(1L -> "202601"))
  }

  test("merge_rows keeps directory-encoded values in the merged state") {
    val root = evolved("merge")
    val changes = Seq((3L, 33.0, "202601", "U", 1L, 1L),
      (2L, 0.0, "x", "D", 2L, 2L))
      .toDF("tid", "amount", "month", "op", "seq", "id")
    SnapshotStore.commitMergeRows(spark, root, changes,
      "tid", "op", "seq", "id")
    val rows = SnapshotStore.read(spark, root)
      .collect().map(r => (r.getAs[Long]("tid"),
        r.getAs[Double]("amount"), r.getAs[String]("month"))).toSet
    assert(rows == Set((1L, 10.0, "202601"), (3L, 33.0, "202601"),
      (4L, 40.0, "202602")))
  }

  test("CALL index flattens an evolved table losslessly") {
    val root = evolved("index")
    spark.conf.set("spark.sql.catalog.r17g_snap",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.r17g_snap.warehouse", wh)
    spark.sql("CALL r17g_snap.system.index('index', 'tid', 2)")
    // after the replace the table is single-layout: month is ordinary
    // string DATA, values intact, and SQL reads it vectorized
    val rows = spark.sql(
      "SELECT tid, month FROM r17g_snap.index ORDER BY tid").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "202601"), (2L, "202602"),
      (3L, "202601"), (4L, "202602")))
    assert(SnapshotStore.statCols(root,
      SnapshotStore.latestVersion(root)) == Map("tid" -> "long"))
  }
}
