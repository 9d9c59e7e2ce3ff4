package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{GraftCatalog, SnapshotRead, SnapshotStore}

/** Round-17 second wave: per-column typed stats sidecars and the
  * pinned `#schema` manifest header. */
class Round17bSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val wh = graft.util.TempDirs.scoped("r17b-wh")

  private def registerCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.r17b_snap",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.r17b_snap.warehouse", wh)
  }

  /** 80 rows: ts = hour i of 2026-01-01.., tid = i, label = letter
    * block. Committed with typed stats on all three columns in 4
    * tid/ts-ordered files (ts and tid are co-monotone; label is
    * correlated via the letter block). */
  private def typedStore(name: String): String = {
    val root = s"$wh/$name"
    if (SnapshotStore.latestVersion(root) == 0) {
      val t = spark.range(80).select(
        timestamp_micros(lit(1767225600000000L) +
          col("id") * 3600L * 1000000L).as("ts"),
        col("id").as("tid"),
        concat(lit("k"), lpad(floor(col("id") / 10).cast("string"), 2, "0"))
          .as("label"),
        (col("id") * 10).cast("double").as("amount"))
      SnapshotStore.commitAppendWithStatsMulti(t, root,
        Seq("ts", "tid", "label"), nFiles = 4)
    }
    root
  }

  test("typed sidecar records per-column kinds and bounds") {
    val root = typedStore("typed")
    assert(SnapshotStore.statCols(root, 1) ==
      Map("ts" -> "ts", "tid" -> "long", "label" -> "str"))
    val lines = SnapshotStore.statsLinesAt(root, 1)
    assert(lines.map(_.col).distinct.toSet == Set("ts", "tid", "label"))
    val tsB = SnapshotStore.boundsFor(root, 1, "ts")
    assert(tsB.values.forall { case (mn, mx) =>
      mn >= 1767225600000000L && mx <= 1767225600000000L + 79L * 3600000000L })
    val sB = SnapshotStore.strBoundsFor(root, 1, "label")
    assert(sB.nonEmpty && sB.values.forall { case (mn, mx) =>
      mn <= mx && mn.startsWith("k") })
  }

  test("one plan prunes on a ts range AND a long range at once") {
    val root = typedStore("typed")
    val lo = 1767225600000000L + 10L * 3600000000L
    val hi = 1767225600000000L + 29L * 3600000000L
    val p = SnapshotRead.plan(spark, root,
      ranges = Seq(("ts", lo, hi), ("tid", 0L, 25L)))
    assert(p.statsSkipped > 0, "files outside either range are skipped")
    val rows = p.df.collect()
    assert(rows.map(_.getAs[Long]("tid")).sorted.toSeq == (10L to 25L),
      "ts range [10h, 29h] ∩ tid [0, 25] = 10..25")
    // a ts range alone prunes too, and filters through timestamp_micros
    val q = SnapshotRead.plan(spark, root, range = Some(("ts", lo, hi)))
    assert(q.statsSkipped > 0)
    assert(q.df.count() == 20)
  }

  test("SQL face prunes by pushed timestamp and string predicates") {
    val root = typedStore("typed")
    registerCatalog()
    val total = SnapshotStore.filesAt(root, 1).size
    def planned(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case bs: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec => bs.scan
      }.map(graft.sources.SnapshotSource.unwrap).collect {
        case q: org.apache.spark.sql.execution.datasources.v2.parquet
            .ParquetScan => q.fileIndex.inputFiles.length
      }.sum
    val tsDf = spark.sql(
      """SELECT tid FROM r17b_snap.typed
        |WHERE ts >= timestamp_micros(1767225600000000)
        |  AND ts <= timestamp_micros(1767261600000000)""".stripMargin)
    assert(planned(tsDf) < total, "ts bounds prune files")
    assert(tsDf.count() == 11, "hours 0..10 inclusive")
    val strDf = spark.sql(
      "SELECT tid FROM r17b_snap.typed WHERE label = 'k00'")
    assert(planned(strDf) < total, "string equality prunes by str bounds")
    assert(strDf.count() == 10)
    val strRange = spark.sql(
      "SELECT tid FROM r17b_snap.typed WHERE label >= 'k06'")
    assert(planned(strRange) < total)
    assert(strRange.count() == 20)
  }

  /** The SQL table's schema, resolved while every data file of the
    * latest version is renamed away — so no footer can have been read
    * — then the files are put back. */
  private def schemaWithoutData(root: String, table: String)
      : org.apache.spark.sql.types.StructType = {
    val files = SnapshotStore.filesAt(root, SnapshotStore.latestVersion(root))
      .map(f => java.nio.file.Paths.get(f))
    def away(f: java.nio.file.Path) = f.resolveSibling(s"${f.getFileName}.away")
    files.foreach(f => java.nio.file.Files.move(f, away(f)))
    try spark.table(s"r17b_snap.$table").schema
    finally files.foreach(f => java.nio.file.Files.move(away(f), f))
  }

  test("loadTable on a pinned-schema store opens no data files") {
    val root = typedStore("typed")
    registerCatalog()
    assert(SnapshotStore.manifestMeta(root, 1).contains("schema"),
      "stats commits pin #schema")
    assert(schemaWithoutData(root, "typed").fieldNames.toSeq ==
      Seq("ts", "tid", "label", "amount"),
      "schema came from the manifest header, not a footer")
    assert(spark.sql("SELECT count(*) AS n FROM r17b_snap.typed")
      .head.getLong(0) == 80)
  }

  test("a manifest without #schema resolves its schema from the commit marker") {
    val root = s"$wh/legacy"
    SnapshotStore.commitAppend(
      spark.range(5).select(col("id").as("tid")), root)
    // strip the #schema header
    val mf = new java.io.File(s"$root/_manifests/v1.list")
    val kept = new String(java.nio.file.Files.readAllBytes(mf.toPath))
      .split("\n").filterNot(_.startsWith("#schema")).mkString("\n")
    java.nio.file.Files.write(mf.toPath, kept.getBytes)
    registerCatalog()
    assert(schemaWithoutData(root, "legacy").fieldNames.toSeq == Seq("tid"),
      "no header: the commit's _schema.ddl marker, not a footer")
    assert(spark.sql("SELECT count(*) AS n FROM r17b_snap.legacy")
      .head.getLong(0) == 5)
  }

  test("#schema merges across appends and survives compaction/delete") {
    val root = s"$wh/evolving"
    import org.apache.spark.sql.types.StructType
    SnapshotStore.commitAppend(
      spark.range(4).select(col("id").as("tid")), root)
    SnapshotStore.commitAppend(
      spark.range(4).select(col("id").as("tid"),
        (col("id") * 2).cast("double").as("score")), root)
    val pinned = StructType.fromDDL(
      SnapshotStore.manifestMeta(root, 2)("schema"))
    assert(pinned.fieldNames.toSeq == Seq("tid", "score"),
      "append widened the pinned schema")
    assert(pinned("score").nullable, "old files read score as null")
    val (v3, _, _) = SnapshotStore.compactSmall(spark, root,
      minBytes = Long.MaxValue)
    assert(SnapshotStore.manifestMeta(root, v3).contains("schema"))
    val (v4, _, _) = SnapshotStore.deleteRows(spark, root,
      col("tid") === 0L)
    assert(SnapshotStore.manifestMeta(root, v4).contains("schema"))
    // an incompatible type change drops the header (footer fallback)
    SnapshotStore.commitAppend(
      spark.range(2).select(col("id").cast("string").as("tid")), root)
    val v5 = SnapshotStore.latestVersion(root)
    assert(!SnapshotStore.manifestMeta(root, v5).contains("schema"),
      "un-mergeable evolution must not pin a wrong schema")
  }
}
