package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{BloomIndex, SnapshotStore}

/** Round-17 third wave: partition-evolved tables through the SQL
  * catalog — the per-layout union scan. */
class Round17cSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val wh = graft.util.TempDirs.scoped("r17c-wh")

  private def registerCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.r17c_snap",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.r17c_snap.warehouse", wh)
  }

  /** v1: even tids 0..78 in 4 tid-ranged flat files with tid stats;
    * v2: odd tids under a month partition spec; Bloom on tid. */
  private def evolvedStore(name: String): String = {
    val root = s"$wh/$name"
    if (SnapshotStore.latestVersion(root) == 0) {
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
    }
    root
  }

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case bs: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => bs.scan
    }.map(graft.sources.SnapshotSource.unwrap).map[Int] {
      case e: graft.sources.EvolvedTable.EvolvedScan => e.plannedFiles
      case q: org.apache.spark.sql.execution.datasources.v2.parquet
          .ParquetScan => q.fileIndex.inputFiles.length
      case _ => 0
    }.sum

  test("SQL union over evolved layouts equals the Scala read exactly") {
    val root = evolvedStore("evo")
    registerCatalog()
    val viaSql = spark.sql(
      "SELECT tid, amount, month FROM r17c_snap.evo").collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2))))
      .toSet
    val viaScala = SnapshotStore.read(spark, root)
      .select(col("tid"), col("amount"), col("month")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2))))
      .toSet
    assert(viaSql == viaScala)
    assert(viaSql.size == 80)
    // flat-group rows pad month with NULL; partitioned rows carry it
    assert(viaSql.count(_._3.isEmpty) == 40)
    assert(viaSql.count(_._3.nonEmpty) == 40)
  }

  test("a month filter prunes partition directories in the v2 group") {
    val root = evolvedStore("evo")
    registerCatalog()
    val total = SnapshotStore.filesAt(root, 2).size
    val df = spark.sql(
      "SELECT tid FROM r17c_snap.evo WHERE month = '202601'")
    assert(plannedFiles(df) < total,
      "the v2 group's other month directories are pruned")
    val tids = df.collect().map(_.getLong(0)).sorted
    // odd tids with tid % 3 + 1 == 1: flat-group rows (month NULL)
    // are dropped by the residual predicate
    assert(tids.toSeq == (0L until 80L)
      .filter(i => i % 2 == 1 && i % 3 + 1 == 1))
  }

  test("sidecar stats and bloom prune within the evolved union") {
    val root = evolvedStore("evo")
    registerCatalog()
    val total = SnapshotStore.filesAt(root, 2).size
    val range = spark.sql(
      "SELECT tid FROM r17c_snap.evo WHERE tid >= 1000")
    assert(plannedFiles(range) < total,
      "v1's tid-stats files are all skipped; v2's stats-less kept")
    assert(range.count() == 0)
    val point = spark.sql(
      "SELECT amount FROM r17c_snap.evo WHERE tid = 4")
    assert(plannedFiles(point) < total, "bloom keeps ~1 covering file")
    assert(point.head().getDouble(0) == 40.0)
  }

  test("schema evolution ACROSS layouts: new column, old rows null") {
    val root = s"$wh/evo_wide"
    SnapshotStore.commitAppend(
      Seq((1L, "202601")).toDF("k", "month"), root, spec = Seq("month"))
    SnapshotStore.commitAppend(
      Seq((2L, 9.5)).toDF("k", "score"), root)
    registerCatalog()
    val rows = spark.sql(
      "SELECT k, month, score FROM r17c_snap.evo_wide ORDER BY k")
      .collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "202601" && rows(0).isNullAt(2))
    assert(rows(1).isNullAt(1) && rows(1).getDouble(2) == 9.5)
  }

  test("conflicting column types across layouts refuse loudly") {
    val root = s"$wh/evo_conflict"
    // month is a LONG data column in v1, a directory STRING in v2
    SnapshotStore.commitAppend(
      Seq((1L, 202601L)).toDF("k", "month"), root)
    SnapshotStore.commitAppend(
      Seq((2L, "202602")).toDF("k", "month"), root, spec = Seq("month"))
    registerCatalog()
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM r17c_snap.evo_conflict").collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c => c.isInstanceOf[graft.QueryError] &&
      c.getMessage.contains("SnapshotRead.plan")), s"got: $e")
  }

  test("the evolved SQL table accepts writes (round 18) — own store") {
    // round 18 made evolved tables writable; use a PRIVATE store so
    // the shared `evo` fixture keeps its pinned 80 rows for the
    // read-path tests
    val root = evolvedStore("evo_w")
    registerCatalog()
    val before = SnapshotStore.read(spark, root).count()
    spark.sql("INSERT INTO r17c_snap.evo_w VALUES (999, 9.0, '202601')")
    assert(SnapshotStore.read(spark, root).count() == before + 1)
  }

  test("same-layout groups keep the VECTORIZED reader (identity path)") {
    val root = s"$wh/evo_uniform"
    // two commits under the SAME spec: both groups project identically
    // onto the unified schema, so the union scan stays columnar
    SnapshotStore.commitAppend(
      Seq((1L, "202601"), (2L, "202602")).toDF("k", "month"),
      root, spec = Seq("month"))
    SnapshotStore.commitAppend(
      Seq((3L, "202601")).toDF("k", "month"), root, spec = Seq("month"))
    registerCatalog()
    val df = spark.sql("SELECT k, month FROM r17c_snap.evo_uniform")
    assert(df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.ColumnarToRowExec]),
      "identity projections pass the columnar batches through")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // a projection every group shares stays columnar EVEN on the
    // heterogeneous store (both groups read [tid] identically)...
    evolvedStore("evo")
    val shared = spark.sql("SELECT tid FROM r17c_snap.evo")
    assert(shared.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.ColumnarToRowExec]))
    assert(shared.count() == 80)
    // ...while one that needs padding (month is absent from the flat
    // group) drops to the row-based projection
    val padded = spark.sql("SELECT tid, month FROM r17c_snap.evo")
    assert(!padded.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.ColumnarToRowExec]))
    assert(padded.count() == 80)
  }

  test("count(*) and column pruning survive the union projection") {
    val root = evolvedStore("evo")
    registerCatalog()
    assert(spark.sql("SELECT count(*) AS n FROM r17c_snap.evo")
      .head().getLong(0) == 80L)
    val sums = spark.sql(
      """SELECT month, CAST(sum(amount) AS DOUBLE) AS s
        |FROM r17c_snap.evo GROUP BY month ORDER BY month NULLS FIRST"""
        .stripMargin).collect()
    assert(sums.length == 4, "3 months + the flat group's NULL")
    assert(sums.head.isNullAt(0))
  }
}
