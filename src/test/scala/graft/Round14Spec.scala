package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{SnapshotRead, SnapshotStore}

/** Round-14 wave: snapshot retention (expireVersions — the VACUUM
  * step deleteRows' contract defers to) and MERGE INTO the snapshot
  * layer (commitMerge), including the optimistic-concurrency conflict
  * path exercised END TO END through commitMerge itself. */
class Round14Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def diskParquet(root: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(root, "data"))
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet
  }

  // ---- expireVersions: retention + physical purge ----

  test("expire keeps tagged + recent versions byte-identically, fails expired reads, purges orphans") {
    val root = graft.util.TempDirs.scoped("r14-expire")
    val df = spark.range(100).select(col("id").as("k"), (col("id") % 7).as("v"))
    SnapshotStore.commitAppend(df.filter(col("k") < 40), root)   // v1
    SnapshotStore.tag(root, "audit", Some(1))
    SnapshotStore.commitAppend(df.filter(col("k") >= 40), root)  // v2
    SnapshotStore.commitReplace(                                  // v3
      SnapshotStore.read(spark, root).filter(col("k") % 2 === 0), root)
    def tagged = SnapshotRead.plan(spark, root, tag = Some("audit")).df
    val taggedBefore = tagged
      .collect().map(_.toSeq).toSet
    val headBefore = SnapshotStore.read(spark, root)
      .collect().map(_.toSeq).toSet

    val res = SnapshotStore.expireVersions(root, keepLast = 1,
      orphanGraceMs = 0L)
    assert(res.expired == Seq(2), s"exactly v2 expires: $res")
    assert(res.survivors == Seq(1, 3))
    assert(res.deletedFiles > 0, "v2's fresh files are orphaned and purged")

    // tagged and live versions read byte-identically after the purge
    assert(tagged
      .collect().map(_.toSeq).toSet == taggedBefore)
    assert(SnapshotStore.read(spark, root)
      .collect().map(_.toSeq).toSet == headBefore)
    // expired reads fail loudly — no silent wrong answers
    intercept[graft.QueryError] {
      SnapshotStore.read(spark, root, Some(2))
    }
    // physical purge: disk holds EXACTLY the surviving manifests' files
    val referenced = res.survivors
      .flatMap(SnapshotStore.filesAt(root, _)).toSet
    assert(diskParquet(root) == referenced,
      "no orphan data file survives the vacuum")
  }

  test("expire is tag-order independent and never expires the head") {
    val root = graft.util.TempDirs.scoped("r14-expire2")
    val df = spark.range(10).select(col("id").as("k"))
    SnapshotStore.commitAppend(df, root)                 // v1
    SnapshotStore.commitAppend(df.limit(3), root)        // v2
    // keepLast = 1 with no tags: v1 expires, head survives
    val res = SnapshotStore.expireVersions(root, keepLast = 1,
      orphanGraceMs = 0L)
    assert(res.expired == Seq(1) && res.survivors == Seq(2))
    assert(SnapshotStore.read(spark, root).count() == 13)
    // empty root: clean no-op
    val empty = graft.util.TempDirs.scoped("r14-empty")
    assert(SnapshotStore.expireVersions(empty, keepLast = 1)
      == SnapshotStore.ExpireResult(Nil, Nil, 0, 0L))
  }

  test("orphan grace period protects young unreferenced files (in-flight commits)") {
    val root = graft.util.TempDirs.scoped("r14-grace")
    val df = spark.range(10).select(col("id").as("k"))
    SnapshotStore.commitAppend(df, root)                 // v1
    // an in-flight committer has written data but not yet published
    val inflight = SnapshotStore.writeData(df.limit(2), root, 2)
    // graced vacuum must NOT delete the young unreferenced files
    val graced = SnapshotStore.expireVersions(root, keepLast = 1,
      orphanGraceMs = 3600L * 1000)
    assert(graced.deletedFiles == 0)
    assert(inflight.forall(p => new java.io.File(p).isFile),
      "in-flight files survive a graced vacuum")
    // grace 0 (quiesced table) purges them — and must be EXPLICIT:
    // the default grace is conservative, so a default-args vacuum on
    // a live table can never delete an in-flight commit's fresh files
    val hard = SnapshotStore.expireVersions(root, keepLast = 1,
      orphanGraceMs = 0L)
    assert(hard.deletedFiles == inflight.size)
    assert(inflight.forall(p => !new java.io.File(p).isFile))
  }

  // ---- commitMerge: MERGE INTO + CAS conflict end-to-end ----

  private def baseStore(name: String): String = {
    val root = graft.util.TempDirs.scoped(name)
    SnapshotStore.commitAppend(
      Seq((1L, 10.0, 100L), (2L, 20.0, 100L), (3L, 30.0, 100L))
        .toDF("k", "val", "us"), root)
    root
  }

  test("commitMerge upserts/deletes/inserts as a new version; pre-merge version unchanged") {
    val root = baseStore("r14-merge")
    val changes = Seq(
      (2L, "U", 21.0, 200L, 1L),   // update k=2
      (2L, "U", 22.0, 300L, 2L),   // later update wins
      (3L, "D", 0.0, 250L, 3L),    // delete k=3
      (4L, "U", 40.0, 260L, 4L))   // insert k=4
      .toDF("k", "op", "v", "us", "eid")
    val v = SnapshotStore.commitMerge(spark, root, changes,
      "k", "op", "v", "us", "eid")
    assert(v == 2)
    val head = SnapshotStore.read(spark, root)
      .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
    assert(head == Seq((1L, 10.0, 100L), (2L, 22.0, 300L),
      (4L, 40.0, 260L)))
    // time travel: the pre-merge snapshot still reads the old rows
    val v1 = SnapshotStore.read(spark, root, Some(1))
      .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
    assert(v1 == Seq((1L, 10.0, 100L), (2L, 20.0, 100L),
      (3L, 30.0, 100L)))
  }

  test("commitMerge loses the CAS race to a concurrent commit and fails loudly; retry succeeds") {
    val root = baseStore("r14-merge-cas")
    val v1Files = SnapshotStore.filesAt(root, 1)
    // a concurrent committer publishes v2 while the merge is computing
    // its output — simulated from inside the merge's own write job
    // (the changes frame's first evaluation), which lands between
    // commitMerge's base read (pins prev = 1) and its manifest
    // publish. writeManifest is idempotent-guarded because the frame
    // can be evaluated more than once (aggregate + write).
    val changes = Seq((2L, "U", 99.0, 500L, 1L))
      .toDF("k", "op", "v", "us", "eid")
      .as[(Long, String, Double, Long, Long)]
      .mapPartitions { it =>
        try SnapshotStore.writeManifest(root, 2, v1Files)
        catch { case _: SnapshotStore.CommitConflictException => () }
        it
      }
      .toDF("k", "op", "v", "us", "eid")
    intercept[SnapshotStore.CommitConflictException] {
      SnapshotStore.commitMerge(spark, root, changes,
        "k", "op", "v", "us", "eid")
    }
    // the concurrent commit is intact (v2 = the same logical rows)
    assert(SnapshotStore.latestVersion(root) == 2)
    assert(SnapshotStore.read(spark, root).count() == 3)
    // retryable: the merge re-reads the new head and lands as v3
    val v = SnapshotStore.commitMerge(spark, root,
      Seq((2L, "U", 99.0, 500L, 1L)).toDF("k", "op", "v", "us", "eid"),
      "k", "op", "v", "us", "eid")
    assert(v == 3)
    val head = SnapshotStore.read(spark, root)
      .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
    assert(head == Seq((1L, 10.0, 100L), (2L, 99.0, 500L),
      (3L, 30.0, 100L)))
  }
}
