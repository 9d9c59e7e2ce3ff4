package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{SnapshotRead, SnapshotStore}

/** Round-15 wave: the vacuum-vs-commit race fix (referenced-file
  * re-list immediately before the physical sweep), the conservative
  * default orphan grace, grace-aware husk cleanup, and the typed
  * exception hierarchy. */
class Round15Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("commit published mid-vacuum survives a 0-grace sweep (re-list closes the race)") {
    val root = graft.util.TempDirs.scoped("r15-race")
    val df = spark.range(50).select(col("id").as("k"))
    SnapshotStore.commitAppend(df, root)            // v1
    SnapshotStore.commitAppend(df.limit(5), root)   // v2 (v1 expires)
    // the racing committer: its commit lands BETWEEN manifest expiry
    // and the physical sweep — the worst spot, because the first
    // referenced-file listing has already happened by then
    var racedFiles: Seq[String] = Nil
    val res = SnapshotStore.expireVersionsImpl(root, keepLast = 1,
      orphanGraceMs = 0L, beforeSweep = () => {
        SnapshotStore.commitAppend(df.limit(7), root)   // v3
        racedFiles = SnapshotStore.filesAt(root, 3)
      })
    assert(res.expired == Seq(1))
    assert(racedFiles.nonEmpty)
    assert(racedFiles.forall(p => new java.io.File(p).isFile),
      "files of the commit published mid-vacuum survive a 0-grace sweep")
    // and the raced commit reads back whole
    assert(SnapshotStore.read(spark, root).count() == 50 + 5 + 7)
  }

  test("graced vacuum leaves an in-flight commit's marker-only directory intact") {
    val root = graft.util.TempDirs.scoped("r15-husk")
    val df = spark.range(10).select(col("id").as("k"))
    SnapshotStore.commitAppend(df, root)            // v1
    // an in-flight writer has created its output dir with only a
    // marker file so far (parquet parts still being written)
    val husk = new java.io.File(new java.io.File(root, "data"), "c2-wip")
    husk.mkdirs()
    val marker = new java.io.File(husk, "_STARTED")
    java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
    val graced = SnapshotStore.expireVersions(root, keepLast = 1,
      orphanGraceMs = 3600L * 1000)
    assert(graced.deletedFiles == 0)
    assert(marker.isFile && husk.isDirectory,
      "a young marker-only directory is an in-flight write, not garbage")
    // a 0-grace vacuum on the quiesced table sweeps the husk
    SnapshotStore.expireVersions(root, keepLast = 1, orphanGraceMs = 0L)
    assert(!marker.isFile && !husk.isDirectory)
  }

  test("default orphan grace is conservative (hours), never 0") {
    assert(SnapshotStore.DefaultOrphanGraceMs >= 3600L * 1000)
  }

  test("commitMergeRows merges an arbitrary-schema table: latest-wins, delete, insert, time travel") {
    import spark.implicits._
    val root = graft.util.TempDirs.scoped("r15-mergerows")
    SnapshotStore.commitAppend(
      Seq((1L, "a", 10.0, 100L), (2L, "b", 20.0, 100L),
        (3L, "c", 30.0, 100L))
        .toDF("k", "tag", "px", "us"), root)
    val changes = Seq(
      (2L, "b", 21.0, 200L, "U", 1, 1L),  // reprice k=2
      (2L, "b2", 22.0, 300L, "U", 2, 2L), // later change wins whole-row
      (3L, "c", 0.0, 250L, "D", 3, 3L),   // bust k=3
      (4L, "d", 40.0, 260L, "U", 1, 4L))  // insert k=4
      .toDF("k", "tag", "px", "us", "op", "seq", "eid")
    val v = SnapshotStore.commitMergeRows(spark, root, changes,
      "k", "op", "seq", "eid")
    assert(v == 2)
    val head = SnapshotStore.read(spark, root)
      .as[(Long, String, Double, Long)].collect().sortBy(_._1).toSeq
    assert(head == Seq((1L, "a", 10.0, 100L), (2L, "b2", 22.0, 300L),
      (4L, "d", 40.0, 260L)))
    // time travel: the pre-merge snapshot still reads the old rows
    assert(SnapshotStore.read(spark, root, Some(1)).count() == 3)
    assert(SnapshotStore.read(spark, root, Some(1))
      .filter(col("k") === 3L).count() == 1)
  }

  test("quarantineSplit routes violating rows with labels; nulls never reach the clean table") {
    import spark.implicits._
    val df = Seq(
      (1L, 5.0, "A"),                    // clean
      (2L, 40.0, "A"),                   // range violation
      (3L, 5.0, "R"),                    // accepted violation
      (4L, 40.0, "R"))                   // both
      .toDF("k", "qty", "flag")
      .unionByName(Seq((5L, Option.empty[Double], Option("A")))
        .toDF("k", "qty", "flag"))       // null qty: not vouchable → quarantine
    val (clean, quar) = graft.operators.DataQuality.quarantineSplit(df,
      Seq("range:qty[1,30]" -> col("qty").between(1, 30),
        "accepted:flag[A,N]" -> col("flag").isin("A", "N")))
    assert(clean.select("k").as[Long].collect().toSet == Set(1L))
    val labels = quar.select(col("k"), col("violated_checks"))
      .as[(Long, String)].collect().toMap
    assert(labels == Map(
      2L -> "range:qty[1,30]",
      3L -> "accepted:flag[A,N]",
      4L -> "range:qty[1,30];accepted:flag[A,N]",
      5L -> "range:qty[1,30]"))
  }

  test("typed exceptions: QueryError / IngestError / conflict all share the GraftException root") {
    val root = graft.util.TempDirs.scoped("r15-exc")
    val q = intercept[GraftException] {
      SnapshotStore.read(spark, root, Some(9))
    }
    assert(q.isInstanceOf[QueryError])
    val t = intercept[GraftException] {
      SnapshotRead.plan(spark, root, tag = Some("nope"))
    }
    assert(t.isInstanceOf[QueryError])
    assert(classOf[GraftException]
      .isAssignableFrom(classOf[SnapshotStore.CommitConflictException]))
    assert(classOf[GraftException].isAssignableFrom(classOf[IngestError]))
    assert(classOf[GraftException].isAssignableFrom(classOf[SchemaError]))
  }

  test("dirFingerprint degrades to 'unreadable' instead of throwing on traversal failure") {
    // deleting the dir mid-walk is hard to force deterministically;
    // the contract we can pin is that a vanished dir yields the
    // 'absent' sentinel and never an exception, and that the
    // fingerprint discriminates a same-size in-place rewrite
    val d = java.nio.file.Files.createTempDirectory("r15-fp")
    val f = d.resolve("part-0.parquet")
    java.nio.file.Files.write(f, "aaaa".getBytes)
    val fp1 = graft.util.FrameMemo.dirFingerprint(d.toString)
    // same name, same size, rewritten content → new inode → new print
    java.nio.file.Files.delete(f)
    java.nio.file.Files.write(f, "bbbb".getBytes)
    val fp2 = graft.util.FrameMemo.dirFingerprint(d.toString)
    assert(fp1 != fp2, "in-place same-size rewrite must change the fingerprint")
    java.nio.file.Files.delete(f)
    java.nio.file.Files.delete(d)
    assert(graft.util.FrameMemo.dirFingerprint(d.toString) == "absent")
  }
}
