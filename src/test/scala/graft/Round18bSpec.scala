package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{SnapshotRead, SnapshotStore}

/** Round-18 second wave: append-time index maintenance (fresh files
  * carry typed bounds in the same commit) and the SQL-driveable
  * default partition spec (CREATE PARTITIONED BY / set_spec). */
class Round18bSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def lines(root: String, v: Int) =
    SnapshotStore.statsLinesAt(root, v)

  test("an indexed append records the fresh files' bounds in-commit") {
    val root = graft.util.TempDirs.scoped("r18b-append")
    val t = spark.range(80).select(col("id").as("tid"),
      (col("id") * 2.0).as("amount"))
    SnapshotStore.commitAppendWithStats(t, root, "tid", 4)
    assert(lines(root, 1).size == 4)
    // default append: one fresh file, one fresh line, correct bounds
    SnapshotStore.commitAppend(
      spark.range(100, 120).select(col("id").as("tid"),
        lit(0.0).as("amount")).coalesce(1), root)
    val l2 = lines(root, 2)
    assert(l2.size == 5)
    val fresh = (l2.map(_.path).toSet -- lines(root, 1).map(_.path)).head
    val fl = l2.find(_.path == fresh).get
    assert(fl.col == "tid" && fl.kind == "long" &&
      fl.mn == "100" && fl.mx == "119")
    // and the index actually skips the fresh file on a miss
    val p = SnapshotRead.plan(spark, root, range = Some(("tid", 0L, 50L)))
    assert(!p.df.inputFiles.exists(f =>
      new java.net.URI(f).getPath == fresh))
  }

  test("append without the indexed column (or wrong kind) stays conservative") {
    val root = graft.util.TempDirs.scoped("r18b-nocol")
    SnapshotStore.commitAppendWithStats(
      spark.range(40).select(col("id").as("tid"), lit(1.0).as("amount")),
      root, "tid", 2)
    // frame lacks tid entirely -> merge would fail; use a frame where
    // tid exists but with a non-indexable type is impossible to append
    // (schema merge refuses the type change), so the honest shape is a
    // frame MISSING the column: schema merge widens, no stats line
    SnapshotStore.commitAppend(
      Seq((3.5, "x")).toDF("amount2", "note").coalesce(1), root)
    assert(lines(root, 2).size == 2, "no line for a tid-less file")
    // the unindexed file survives every range (conservative keep)
    val p = SnapshotRead.plan(spark, root, range = Some(("tid", 1000L, 2000L)))
    assert(p.filesAfterStats == 1 && p.statsSkipped == 2,
      "two v1 files skipped, the line-less file kept")
  }

  test("delete and compact rewrites stay indexed") {
    val root = graft.util.TempDirs.scoped("r18b-rewrite")
    val t = spark.range(100).select(col("id").as("k"),
      (col("id") % 7).as("v"))
    for (i <- 0 until 4)
      SnapshotStore.commitAppendWithStats(
        t.filter(col("k") >= i * 25 && col("k") < (i + 1) * 25),
        root, "k", 1)
    // delete k in [10, 20]: the rewritten survivor file gets bounds
    val (v5, _, _) = SnapshotStore.deleteRows(spark, root,
      col("k") >= 10 && col("k") <= 20,
      pruneRange = Some(("k", 10L, 20L)))
    assert(lines(root, v5).size == 4, "3 carried + 1 re-indexed rewrite")
    val reIdx = lines(root, v5).filterNot(l =>
      lines(root, 4).map(_.path).contains(l.path))
    assert(reIdx.size == 1 && reIdx.head.mn == "0" && reIdx.head.mx == "24")
    // compact everything: the merged file carries merged bounds
    val (v6, merged, _) = SnapshotStore.compactSmall(
      spark, root, Long.MaxValue, 1)
    assert(merged == 4)
    val l6 = lines(root, v6)
    assert(l6.size == 1 && l6.head.mn == "0" && l6.head.mx == "99")
  }

  private lazy val wh = graft.util.TempDirs.scoped("r18b-wh")
  private def registerCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.r18b_snap",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.r18b_snap.warehouse", wh)
  }

  test("CREATE PARTITIONED BY drives partitioned INSERT and OVERWRITE") {
    registerCatalog()
    spark.sql("""CREATE TABLE r18b_snap.pt
                |(tid BIGINT, amount DOUBLE, shard STRING)
                |PARTITIONED BY (shard)""".stripMargin)
    val root = s"$wh/pt"
    assert(SnapshotStore.currentSpec(root) == Seq("shard"))
    spark.range(20).select(col("id").as("tid"),
      (col("id") * 1.0).as("amount"),
      (col("id") % 2).cast("string").as("shard"))
      .createOrReplaceTempView("r18b_src")
    spark.sql(
      "INSERT INTO r18b_snap.pt SELECT tid, amount, shard FROM r18b_src")
    assert(SnapshotStore.filesAt(root, 2).forall(_.contains("/shard=")),
      "the default spec lands Hive-style directories")
    // the spec CARRIES across commits (it is table metadata)
    assert(SnapshotStore.currentSpec(root) == Seq("shard"))
    // OVERWRITE under a spec: one replace commit, still partitioned
    spark.sql("""INSERT OVERWRITE r18b_snap.pt
                |SELECT tid, amount, shard FROM r18b_src WHERE tid < 10"""
      .stripMargin)
    val v3 = SnapshotStore.filesAt(root, 3)
    assert(v3.forall(_.contains("/shard=")))
    assert(spark.sql("SELECT count(*) AS n FROM r18b_snap.pt")
      .head().getLong(0) == 10L)
    // pre-overwrite version still reads everything
    assert(spark.sql("SELECT count(*) AS n FROM r18b_snap.pt VERSION AS OF 2")
      .head().getLong(0) == 20L)
    // set_spec('') flips future writes to flat; layouts coexist
    spark.sql("CALL r18b_snap.system.set_spec('pt', '')")
    assert(SnapshotStore.currentSpec(root).isEmpty)
    spark.sql("""INSERT INTO r18b_snap.pt
                |SELECT tid, amount, shard FROM r18b_src WHERE tid >= 10"""
      .stripMargin)
    val v5fresh = SnapshotStore.filesAt(root, 5).toSet --
      SnapshotStore.filesAt(root, 4).toSet
    assert(v5fresh.nonEmpty && v5fresh.forall(!_.contains("/shard=")))
    assert(spark.sql("SELECT count(*) AS n FROM r18b_snap.pt")
      .head().getLong(0) == 20L)
    // shard surfaces across both layouts
    assert(spark.sql(
      "SELECT count(*) AS n FROM r18b_snap.pt WHERE shard = '1'")
      .head().getLong(0) == 10L)
  }

  test("CREATE refuses non-identity transforms and unknown spec columns") {
    registerCatalog()
    intercept[UnsupportedOperationException] {
      spark.sql("""CREATE TABLE r18b_snap.badpt
                  |(tid BIGINT, ts TIMESTAMP)
                  |PARTITIONED BY (days(ts))""".stripMargin)
    }
    intercept[Exception] { // analyzer or store: spec col not in schema
      spark.sql("""CREATE TABLE r18b_snap.badpt2 (tid BIGINT)
                  |PARTITIONED BY (nope)""".stripMargin)
    }
    assert(SnapshotStore.versions(s"$wh/badpt").isEmpty)
    assert(SnapshotStore.versions(s"$wh/badpt2").isEmpty)
  }

  test("set_spec is metadata-only and versions stay readable") {
    registerCatalog()
    val root = s"$wh/specmeta"
    SnapshotStore.commitAppend(
      spark.range(6).select(col("id").as("tid"),
        (col("id") % 2).cast("string").as("p")), root)
    val v1Files = SnapshotStore.filesAt(root, 1)
    val res = spark.sql(
      "CALL r18b_snap.system.set_spec('specmeta', 'p')").collect()
    assert(res.head.getInt(0) == 2 && res.head.getString(1) == "p")
    assert(SnapshotStore.filesAt(root, 2) == v1Files,
      "set_spec rewrites nothing")
    // a typo'd column refuses at set_spec time while the pinned
    // schema exists (best-effort: pin-less evolved stores defer to
    // the next insert's loud partitionBy failure)
    intercept[Exception] {
      spark.sql("CALL r18b_snap.system.set_spec('specmeta', 'nope')")
    }
    assert(SnapshotStore.latestVersion(root) == 2, "refusal commits nothing")
    // the next SQL insert lands under the new spec
    spark.range(6, 9).select(col("id").as("tid"),
      (col("id") % 2).cast("string").as("p"))
      .createOrReplaceTempView("r18b_sm")
    spark.sql("INSERT INTO r18b_snap.specmeta SELECT tid, p FROM r18b_sm")
    val fresh = SnapshotStore.filesAt(root, 3).toSet -- v1Files.toSet
    assert(fresh.nonEmpty && fresh.forall(_.contains("/p=")))
    assert(spark.sql("SELECT count(*) AS n FROM r18b_snap.specmeta")
      .head().getLong(0) == 9L)
  }
}
