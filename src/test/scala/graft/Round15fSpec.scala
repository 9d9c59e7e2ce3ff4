package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{SnapshotRead, SnapshotStore}

/** Round-15 sixth wave: timestamp time travel. */
class Round15fSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("AS OF resolves the highest manifest at-or-before the instant") {
    val root = graft.util.TempDirs.scoped("r15f-tt")
    val t0 = 1700000000000L
    SnapshotStore.commitAppend(
      Seq((1L, 1.0)).toDF("k", "v").coalesce(1), root)
    SnapshotStore.stampManifest(root, 1, t0)
    SnapshotStore.commitAppend(
      Seq((2L, 2.0)).toDF("k", "v").coalesce(1), root)
    SnapshotStore.stampManifest(root, 2, t0 + 1000L)
    assert(SnapshotStore.versionAsOf(root, t0) == 1)
    assert(SnapshotStore.versionAsOf(root, t0 + 999L) == 1)
    assert(SnapshotStore.versionAsOf(root, t0 + 1000L) == 2)
    def asOf(ms: Long) = SnapshotRead.plan(spark, root, asOfMillis = Some(ms)).df
    assert(asOf(t0 + 500L).count() == 1)
    assert(asOf(t0 + 5000L).count() == 2)
  }

  test("AS OF before the table existed raises the typed QueryError") {
    val root = graft.util.TempDirs.scoped("r15f-pre")
    SnapshotStore.commitAppend(
      Seq((1L, 1.0)).toDF("k", "v").coalesce(1), root)
    SnapshotStore.stampManifest(root, 1, 1700000000000L)
    intercept[graft.QueryError] {
      SnapshotStore.versionAsOf(root, 1699999999999L)
    }
  }

  test("same-millisecond publications resolve to the later version") {
    val root = graft.util.TempDirs.scoped("r15f-tie")
    val t0 = 1700000000000L
    SnapshotStore.commitAppend(
      Seq((1L, 1.0)).toDF("k", "v").coalesce(1), root)
    SnapshotStore.commitAppend(
      Seq((2L, 2.0)).toDF("k", "v").coalesce(1), root)
    SnapshotStore.stampManifest(root, 1, t0)
    SnapshotStore.stampManifest(root, 2, t0)
    assert(SnapshotStore.versionAsOf(root, t0) == 2,
      "a reader at that instant would have seen the later commit")
  }
}
