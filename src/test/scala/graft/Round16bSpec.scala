package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{BloomIndex, SnapshotRead, SnapshotStore}

/** Round-16 second wave: the unified snapshot read planner and the
  * SQL-text catalog face. */
class Round16bSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** tids 0..79: v1 = evens in tid-ranged files with stats; v2 = odds
    * under a month partition spec; Bloom on tid at the head. */
  private def buildStore(tag: String): String = {
    val root = graft.util.TempDirs.scoped(tag)
    val t = spark.range(80).select(col("id").as("tid"),
      (col("id") * 10).cast("double").as("amount"),
      concat(lit("2026"), lpad((col("id") % 3 + 1).cast("string"), 2, "0"))
        .as("month"))
    SnapshotStore.commitAppendWithStats(
      t.filter(col("tid") % 2 === 0).select(col("tid"), col("amount")),
      root, "tid", 4)
    SnapshotStore.commitAppend(
      t.filter(col("tid") % 2 === 1).repartition(2, col("month")),
      root, spec = Seq("month"))
    BloomIndex.build(spark, root, "tid")
    root
  }

  test("stats pruning skips exactly the v1 files on a missing range") {
    val root = buildStore("r16b-stats")
    val v1Files = SnapshotStore.filesAt(root, 1).size
    val p = SnapshotRead.plan(spark, root, range = Some(("tid", 1000L, 2000L)))
    assert(p.statsSkipped == v1Files,
      "every stats-carrying file provably misses [1000, 2000]")
    assert(p.bloomSkipped == 0)
    assert(p.df.count() == 0, "v2's stats-less files survive but filter empty")
    val all = SnapshotRead.plan(spark, root, range = Some(("tid", 0L, 100L)))
    assert(all.statsSkipped == 0, "a covering range skips nothing")
    assert(all.df.count() == 80)
  }

  test("bloom pruning skips all but the key's file; never the key's") {
    val root = buildStore("r16b-bloom")
    // absent key: at 40 keys/file the fp odds are ~1e-13 per file
    val miss = SnapshotRead.plan(spark, root, point = Some(("tid", -5L)))
    assert(miss.bloomSkipped == miss.filesTotal)
    assert(miss.df.count() == 0)
    // present key: exactly one file holds tid=4; no false negative
    val hit = SnapshotRead.plan(spark, root, point = Some(("tid", 4L)))
    assert(hit.filesAfterBloom == 1)
    assert(hit.bloomSkipped == hit.filesTotal - 1)
    assert(hit.df.select(col("amount")).head.getDouble(0) == 40.0)
  }

  test("range + point + evolved layout compose in one plan") {
    val root = buildStore("r16b-comp")
    val p = SnapshotRead.plan(spark, root,
      range = Some(("tid", 0L, 10L)), point = Some(("tid", 4L)))
    assert(p.filesTotal >= p.filesAfterStats &&
      p.filesAfterStats >= p.filesAfterBloom)
    assert(p.statsSkipped > 0, "the high-tid v1 files miss [0, 10]")
    val rows = p.df.collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("tid") == 4L)
    // the evolved union surfaces the v2 partition column by name
    val ev = SnapshotRead.plan(spark, root, range = Some(("tid", 0L, 79L)))
    assert(ev.df.columns.contains("month"))
    assert(ev.df.filter(col("tid") % 2 === 1 && col("month").isNull)
      .count() == 0, "odd rows carry their partition-dir month")
    assert(ev.df.count() == 80)
  }

  test("version resolution: tag and asOf thread through the planner") {
    val root = buildStore("r16b-ver")
    SnapshotStore.stampManifest(root, 1, 1700000000000L)
    SnapshotStore.stampManifest(root, 2, 1700000010000L)
    SnapshotStore.tag(root, "evens", Some(1))
    assert(SnapshotRead.plan(spark, root, tag = Some("evens")).df
      .count() == 40)
    assert(SnapshotRead.plan(spark, root,
      asOfMillis = Some(1700000005000L)).df.count() == 40)
    assert(SnapshotRead.plan(spark, root).df.count() == 80)
    intercept[IllegalArgumentException] {
      SnapshotRead.plan(spark, root, version = Some(1), tag = Some("evens"))
    }
  }

  test("SQL VERSION/TIMESTAMP AS OF plans the API path's exact files") {
    val wh = graft.util.TempDirs.scoped("r16b-wh")
    val root = s"$wh/tt"
    SnapshotStore.commitAppend(
      Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v").coalesce(1), root)
    SnapshotStore.stampManifest(root, 1, 1700000000000L)
    SnapshotStore.tag(root, "first", Some(1))
    SnapshotStore.commitAppend(
      Seq((3L, 3.0)).toDF("k", "v").coalesce(1), root)
    SnapshotStore.stampManifest(root, 2, 1700000010000L)
    spark.conf.set("spark.sql.catalog.g16", classOf[
      graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g16.warehouse", wh)
    // input_file_name = the files the scan ACTUALLY read (the
    // read-only table wrapper is not a FileTable, so Dataset
    // .inputFiles can't see its index; the runtime file set is the
    // stronger pin anyway)
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(input_file_name().as("f")).distinct()
        .collect().map(_.getString(0)).toSet
    def sqlFiles(suffix: String): Set[String] =
      scannedFiles(spark.sql(s"SELECT * FROM g16.tt $suffix"))
    def apiFiles(v: Int): Set[String] =
      scannedFiles(SnapshotStore.read(spark, root, Some(v)))
    assert(sqlFiles("VERSION AS OF 1") == apiFiles(1))
    assert(sqlFiles("VERSION AS OF 'first'") == apiFiles(1))
    assert(sqlFiles("TIMESTAMP AS OF timestamp_millis(1700000005000)")
      == apiFiles(1))
    assert(sqlFiles("") == apiFiles(2))
    assert(spark.sql("SELECT sum(v) FROM g16.tt VERSION AS OF 1")
      .head.getDouble(0) == 3.0)
    assert(spark.sql("SELECT count(*) FROM g16.tt").head.getLong(0) == 3L)
  }

  test("SQL writes go THROUGH the CAS commit, never around it (r17)") {
    // round 16 rejected all writes; round 17 routes INSERT through
    // commitAppend — the invariant was never "no SQL writes", it was
    // "no write may bypass the manifest CAS or mutate committed files"
    val wh = graft.util.TempDirs.scoped("r16b-ro")
    val root = s"$wh/t"
    SnapshotStore.commitAppend(
      Seq((1L, 1.0)).toDF("k", "v").coalesce(1), root)
    spark.conf.set("spark.sql.catalog.g16ro", classOf[
      graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g16ro.warehouse", wh)
    val v1Files = SnapshotStore.filesAt(root, 1)
    val v1Bytes = v1Files.map(f =>
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)).toSeq)
    spark.sql("INSERT INTO g16ro.t VALUES (9, 9.0)")
    assert(SnapshotStore.latestVersion(root) == 2,
      "the INSERT published one append commit")
    assert(SnapshotStore.read(spark, root, Some(1)).count() == 1,
      "version 1 still reads exactly its own rows")
    assert(v1Files.map(f => java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f)).toSeq) == v1Bytes,
      "committed data files are byte-identical after the INSERT")
    intercept[Exception] { spark.sql("DROP TABLE g16ro.t") }
    assert(SnapshotStore.versions(root).nonEmpty)
  }

  test("the SQL face reads a partition-evolved table (round 17)") {
    // round 16 refused these tables; round 17 plans them as the
    // per-layout union — a flat scan would silently DROP the month
    // column, the union surfaces it as a string like SnapshotStore.read
    val wh = graft.util.TempDirs.scoped("r16b-evo")
    val root = s"$wh/evo"
    SnapshotStore.commitAppend(
      Seq((1L, "a", "202601"), (2L, "b", "202602"))
        .toDF("k", "v", "month"), root, spec = Seq("month"))
    spark.conf.set("spark.sql.catalog.g16evo", classOf[
      graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g16evo.warehouse", wh)
    val rows = spark.sql(
      "SELECT k, v, month FROM g16evo.evo ORDER BY k").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq == Seq((1L, "a", "202601"), (2L, "b", "202602")))
    assert(graft.sources.SnapshotRead.plan(spark, root).df
      .columns.contains("month"))
  }
}
