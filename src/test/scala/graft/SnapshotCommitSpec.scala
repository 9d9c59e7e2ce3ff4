package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.sources.SnapshotStore

/** The snapshot store's single commit path: table headers carry
  * through every commit kind, every tokened kind replays as a no-op,
  * damaged metadata refuses with the typed error, and the ingest
  * commits run no more Spark jobs than they need. */
class SnapshotCommitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val wh = graft.util.TempDirs.scoped("commit-wh")
  private lazy val ss = {
    val s = org.apache.spark.sql.GraftBridge.sessionWithConf(
      spark, Map("spark.sql.shuffle.partitions" -> "4"))
    // both sessions: toTable resolves the catalog through the
    // thread-active session's conf (see Round18cSpec)
    Seq(spark, s).foreach { x =>
      x.conf.set("spark.sql.catalog.commit_snap",
        classOf[graft.sources.GraftCatalog].getName)
      x.conf.set("spark.sql.catalog.commit_snap.warehouse", wh)
    }
    s
  }

  private def manifest(root: String, v: Int) =
    new File(new File(root, "_manifests"), s"v$v.list")

  private def rewrite(f: File)(edit: String => String): Unit =
    Files.write(f.toPath, edit(new String(Files.readAllBytes(f.toPath),
      StandardCharsets.UTF_8)).getBytes(StandardCharsets.UTF_8))

  private def trades(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("tid"),
      (col("id") * 2.0).as("amount"))

  /** The version-`v` files that carry a stats line. */
  private def indexed(root: String, v: Int): Set[String] =
    SnapshotStore.statsLinesAt(root, v).map(_.path).toSet

  // ---- headers carry through replace-shaped commits ----

  test("merge_rows keeps the table's default spec: the next INSERT lands partitioned") {
    val root = s"$wh/spec_merge"
    assert(ss.conf.get("spark.sql.catalog.commit_snap.warehouse") == wh)
    spark.sql("""CREATE TABLE commit_snap.spec_merge
                |(tid BIGINT, amount DOUBLE, shard STRING)
                |PARTITIONED BY (shard)""".stripMargin)
    Seq((1L, 1.0, "a"), (2L, 2.0, "b")).toDF("tid", "amount", "shard")
      .createOrReplaceTempView("commit_src")
    spark.sql("INSERT INTO commit_snap.spec_merge SELECT * FROM commit_src")
    Seq((2L, 20.0, "b", "U", 1L, 1L)).toDF("tid", "amount", "shard", "op",
      "seq", "id").createOrReplaceTempView("commit_changes")
    spark.sql("""CALL commit_snap.system.merge_rows('spec_merge',
                |  'commit_changes', 'tid', 'op', 'seq', 'id')""".stripMargin)
    assert(SnapshotStore.currentSpec(root) == Seq("shard"),
      "a merge replaces data, not the table's layout default")
    spark.sql("INSERT INTO commit_snap.spec_merge SELECT 3L, 3.0, 'c'")
    val v = SnapshotStore.latestVersion(root)
    val fresh = SnapshotStore.filesAt(root, v).toSet --
      SnapshotStore.filesAt(root, v - 1)
    assert(fresh.nonEmpty && fresh.forall(_.contains("/shard=")))
    assert(spark.sql("SELECT sum(amount) FROM commit_snap.spec_merge")
      .head().getDouble(0) == 24.0)
  }

  test("commitReplace keeps the stats index: later appends stay indexed") {
    val root = graft.util.TempDirs.scoped("commit-replace-idx")
    SnapshotStore.commitAppendWithStats(trades(0, 40), root, "tid", 2)
    val v2 = SnapshotStore.commitReplace(trades(0, 20).coalesce(1), root)
    assert(SnapshotStore.statCols(root, v2) == Map("tid" -> "long"))
    assert(indexed(root, v2) == SnapshotStore.filesAt(root, v2).toSet,
      "the replacement's files are indexed in-commit")
    val v3 = SnapshotStore.commitAppend(trades(100, 110).coalesce(1), root)
    assert(indexed(root, v3) == SnapshotStore.filesAt(root, v3).toSet)
    val p = graft.sources.SnapshotRead.plan(spark, root, range = Some(("tid", 0L, 50L)))
    assert(p.statsSkipped == 1, "the appended file misses [0, 50]")
  }

  test("commitMergeRows keeps the stats index: later appends stay indexed") {
    val root = graft.util.TempDirs.scoped("commit-merge-idx")
    SnapshotStore.commitAppendWithStats(trades(0, 40), root, "tid", 2)
    val changes = Seq((3L, 0.0, "U", 1L, 1L), (4L, 0.0, "D", 1L, 2L))
      .toDF("tid", "amount", "op", "seq", "id")
    val v2 = SnapshotStore.commitMergeRows(spark, root, changes,
      "tid", "op", "seq", "id")
    assert(SnapshotStore.statCols(root, v2) == Map("tid" -> "long"))
    val v3 = SnapshotStore.commitAppend(trades(100, 110).coalesce(1), root)
    assert(indexed(root, v3) == SnapshotStore.filesAt(root, v3).toSet)
    assert(SnapshotStore.read(spark, root).count() == 49L)
  }

  // ---- exactly-once: every tokened kind replays as a no-op ----

  test("every commit kind that takes a writer token replays as a no-op") {
    val schema = StructType.fromDDL("tid BIGINT, amount DOUBLE")
    val changes = Seq((1L, 5.0, "U", 1L, 1L))
      .toDF("tid", "amount", "op", "seq", "id")
    val cdc = Seq((1L, "U", 7.0, 2L, 1L)).toDF("k", "op", "v", "us", "eid")
    def seeded(root: String): Unit =
      SnapshotStore.commitAppend(trades(0, 8).coalesce(1), root)
    def staged(root: String): Seq[String] =
      SnapshotStore.writeData(trades(8, 12), root, 0)
    // kind -> (base set-up, the tokened commit)
    val kinds: Seq[(String, String => Unit, (String, Option[String]) => Int)] =
      Seq(
        ("append", seeded, (r, t) =>
          SnapshotStore.commitAppend(trades(20, 24), r, t)),
        ("partitioned append", seeded, (r, t) =>
          SnapshotStore.commitAppend(trades(20, 24)
            .withColumn("shard", (col("tid") % 2).cast("string")), r, t,
            spec = Seq("shard"))),
        ("replace", seeded, (r, t) =>
          SnapshotStore.commitReplace(trades(20, 24), r, t)),
        ("partitioned replace", seeded, (r, t) =>
          SnapshotStore.commitReplace(trades(20, 24)
            .withColumn("shard", (col("tid") % 2).cast("string")), r, t,
            spec = Seq("shard"))),
        ("staged append", seeded, (r, t) =>
          SnapshotStore.commitStagedAppend(r, staged(r), schema, t)),
        ("staged replace", seeded, (r, t) =>
          SnapshotStore.commitStagedReplace(r, staged(r), schema, t)),
        ("merge", r => SnapshotStore.commitAppend(
            Seq((1L, 1.0, 1L)).toDF("k", "val", "us"), r), (r, t) =>
          SnapshotStore.commitMerge(spark, r, cdc, "k", "op", "v", "us",
            "eid", t)),
        ("merge rows", seeded, (r, t) =>
          SnapshotStore.commitMergeRows(spark, r, changes, "tid", "op",
            "seq", "id", t)),
        ("append with stats", seeded, (r, t) =>
          SnapshotStore.commitAppendWithStats(trades(20, 24), r, "tid", 1, t)),
        ("append with multi stats", seeded, (r, t) =>
          SnapshotStore.commitAppendWithStatsMulti(trades(20, 24)
            .withColumn("tag", col("tid").cast("string")), r,
            Seq("tid", "tag"), 1, t)),
        ("replace with multi stats", seeded, (r, t) =>
          SnapshotStore.commitReplaceWithStatsMulti(trades(20, 24), r,
            Seq("tid"), 1, t)))
    kinds.zipWithIndex.foreach { case ((name, setUp, tokened), i) =>
      val root = graft.util.TempDirs.scoped(s"commit-replay-$i")
      setUp(root)
      val first = tokened(root, Some(s"replay:$i"))
      val published = SnapshotStore.versions(root)
      val rows = SnapshotStore.read(spark, root).count()
      assert(tokened(root, Some(s"replay:$i")) == first,
        s"$name: the replay returns the first commit's version")
      assert(SnapshotStore.versions(root) == published,
        s"$name: the replay publishes no manifest")
      assert(SnapshotStore.read(spark, root).count() == rows, name)
    }
  }

  // ---- damaged metadata refuses with the typed error ----

  test("a malformed #statcol entry or a manifest without #ts is a QueryError") {
    val root = graft.util.TempDirs.scoped("commit-damaged")
    SnapshotStore.commitAppendWithStats(trades(0, 8), root, "tid", 1)
    rewrite(manifest(root, 1))(_.replace("#statcol\ttid:long", "#statcol\ttid"))
    intercept[graft.QueryError] { SnapshotStore.statCols(root, 1) }
    intercept[graft.QueryError] {
      SnapshotStore.commitAppend(trades(8, 9), root)
    }
    rewrite(manifest(root, 1))(_.split("\n")
      .filterNot(_.startsWith("#")).mkString("\n"))
    intercept[graft.QueryError] {
      SnapshotStore.versionAsOf(root, System.currentTimeMillis())
    }
  }

  // ---- the ingest commits' Spark job counts ----

  test("an unindexed store's toTable epoch and commitMergeRows run no stats job") {
    val schema = StructType.fromDDL("k BIGINT, val STRING, seq BIGINT")
    val src = graft.util.TempDirs.scoped("commit-jobs-src")
    val ckpt = graft.util.TempDirs.scoped("commit-jobs-ckpt")
    (0 until 3).foreach { i =>
      Seq((i * 10L, s"v$i", 1L), (i * 10L + 1, s"w$i", 1L))
        .toDF("k", "val", "seq").coalesce(1)
        .write.parquet(s"$src/pages/b$i")
    }
    val root = s"$wh/jobs"
    SnapshotStore.createEmpty(root, schema)
    var qid = ""
    val streamJobs = TestSpark.jobsDuring {
      val q = ss.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/pages/*")
        .writeStream.option("checkpointLocation", ckpt)
        .toTable("commit_snap.jobs")
      qid = q.id.toString
      try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }
    }
    val perEpoch = streamJobs
      .filter(_.getProperty("sql.streaming.queryId") == qid)
      .groupBy(_.getProperty("streaming.sql.batchId"))
      .map { case (b, js) => b -> js.size }
    assert(SnapshotStore.versions(root) == Seq(1, 2, 3, 4))
    assert(perEpoch == Map("0" -> 1, "1" -> 1, "2" -> 1),
      s"one write job per epoch, nothing else: $perEpoch")
    val changes = Seq((1L, "x", 5L, "U", 1L), (20L, "y", 5L, "D", 2L))
      .toDF("k", "val", "seq", "op", "cid").coalesce(1)
    val mergeJobs = TestSpark.jobsDuring {
      spark.sparkContext.setJobGroup("commit-merge-jobs", "merge", false)
      try SnapshotStore.commitMergeRows(spark, root, changes,
        "k", "op", "seq", "cid")
      finally spark.sparkContext.clearJobGroup()
    }.count(_.getProperty("spark.jobGroup.id") == "commit-merge-jobs")
    assert(mergeJobs == 2, s"merge jobs: $mergeJobs")
    assert(SnapshotStore.read(spark, root).count() == 5L)
  }
}
