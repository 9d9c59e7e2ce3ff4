package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.ScaleTechniques
import graft.options.SyntheticTrades
import graft.util.Parity._

/** Scale-technique entries: the skew-safe and co-location rewrites
  * from SURVEY §4's physical-execution notes, each verified against
  * the NAIVE formulation as its DuckDB oracle — the rewrite must be
  * invisible in the values and only visible in the plan (pinned by
  * PlanAuditSpec). */
object ScaleQueries {

  /** x1: A12's daily-volume aggregate through the two-stage salted
    * path. A real deployment flips to this form when one instrument
    * dominates a day's flow (e.g. the front-month ATM strike on
    * expiry day); the oracle proves the salting never changes a
    * value. */
  def x1SaltedDailyVolume(s: SparkSession, dir: String): DataFrame =
    ScaleTechniques.saltedSumCount(
      SyntheticTrades.trades(s, dir)
        .withColumn("trade_date",
          to_date(col("timestamp")).cast("string")),
      keys = Seq("instrument_name", "trade_date"),
      valueCol = "amount", saltFrom = "trade_id")

  val x1Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte}
       |SELECT instrument_name,
       |  CAST(CAST("timestamp" AS DATE) AS VARCHAR) AS trade_date,
       |  ${duckDsum("amount")} AS amount_sum,
       |  count(*) AS n_rows
       |FROM trades
       |GROUP BY 1, 2""".stripMargin

  /** x2: instrument-level liquidity lookup as a bucketed co-located
    * join — fact and dimension both bucketed+sorted on
    * instrument_name, so neither the dimension-building groupBy nor
    * the join shuffles the fact table (see PlanAuditSpec: no Exchange
    * in the join subtree). The 100 TB story for every per-instrument
    * enrichment in the reference. */
  /** Table build is one-time ETL (Bench runs it during warmup, like
    * the pruned store); per-session it is an idempotent no-op. */
  private[graft] def ensureX2Tables(s: SparkSession, dir: String)
      : (String, String) = {
    val fact = SyntheticTrades.trades(s, dir)
      .select("instrument_name", "trade_id", "amount")
    ScaleTechniques.ensureBucketedPair(
      s, dir, fact, "instrument_name",
      _.groupBy(col("instrument_name"))
        .agg(dsum(col("amount")).as("total_volume")))
  }

  def x2BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (factT, dimT) = ensureX2Tables(s, dir)
    ScaleTechniques.colocatedJoin(s, factT, dimT, "instrument_name",
      factCols = Seq(col("trade_id"), col("amount")),
      dimCols = Seq(col("total_volume")))
  }

  val x2Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |tot AS (
       |  SELECT instrument_name, ${duckDsum("amount")} AS total_volume
       |  FROM trades GROUP BY 1
       |)
       |SELECT instrument_name, trade_id, amount, total_volume
       |FROM trades JOIN tot USING (instrument_name)""".stripMargin

  /** x3: dynamic partition pruning — joining the date-partitioned
    * store against a filtered dimension of target dates must prune
    * the fact scan to those partitions AT RUN TIME (the filter value
    * is only known after the dimension is evaluated; static pruning
    * cannot do this). PlanAuditSpec asserts the scan carries a
    * `dynamicpruning` partition filter. This is the mechanism that
    * turns "join trades against yesterday's expiry calendar" into a
    * 3-partition read instead of a full scan at 100 TB. */
  def x3DppJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val store = graft.sources.TradesStore.read(
      s, SystemQueries.prunedStore(s, dir))
    // the dimension must come from a real source with the selective
    // filter still in the plan: a Seq-backed LocalRelation is
    // constant-folded, the Filter disappears, and DPP's
    // selective-predicate precondition fails
    val dimPath = s"/tmp/graft_store/x3_dim_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    if (!new java.io.File(s"$dimPath/_SUCCESS").exists()) {
      Seq(("20240110", "keep"), ("20240111", "keep"), ("20240112", "keep"),
        ("20240120", "drop"))
        .toDF("date", "tag")
        .coalesce(1).write.mode("overwrite").parquet(dimPath)
    }
    // equality predicate, not a bare boolean column: DPP's
    // likely-selective check recognizes comparisons/IN/LIKE, and a
    // bare boolean would anyway be erased by BooleanSimplification
    val dim = s.read.parquet(dimPath)
      .filter(col("tag") === "keep")
      .select(col("date"))
    store.join(dim, "date")
      .groupBy(col("date"))
      .agg(count(lit(1)).as("n_trades"), dsum(col("amount")).as("total_amount"))
  }

  val x3Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte}
       |SELECT strftime("timestamp", '%Y%m%d') AS date,
       |  count(*) AS n_trades, ${duckDsum("amount")} AS total_amount
       |FROM trades
       |WHERE strftime("timestamp", '%Y%m%d')
       |  IN ('20240110', '20240111', '20240112')
       |GROUP BY 1""".stripMargin

  /** Power-law key fixture derived deterministically from lineitem:
    * half the rows land on key 0 (the heavy hitter), the rest spread
    * over a modular tail — the adversarial distribution for any
    * per-key partitioning. */
  private def skewedLineitem(s: SparkSession, dir: String): DataFrame =
    graft.util.Tables.load(s, dir, "lineitem")
      .filter(col("l_orderkey") % 3 === 0)
      .select(
        when(col("l_orderkey") % 2 === 0, lit(0L))
          .otherwise(col("l_orderkey") % 1024).as("skew_key"),
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  private val skewCte: String =
    """skewed AS (
      |  SELECT CASE WHEN l_orderkey % 2 = 0 THEN 0
      |           ELSE l_orderkey % 1024 END AS skew_key,
      |    l_orderkey, l_linenumber, l_quantity
      |  FROM lineitem WHERE l_orderkey % 3 = 0
      |)""".stripMargin

  /** Shared oracle: the plain SQL window states the semantics; the
    * two registered forms must both hash-match it. */
  private val skewTotalOracle: String =
    s"""WITH $skewCte
       |SELECT skew_key, l_orderkey, l_linenumber, l_quantity,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(28, 6)))
       |    OVER (PARTITION BY skew_key) AS DOUBLE)
       |    AS l_quantity_key_total
       |FROM skewed""".stripMargin

  /** x4: the skew-safe agg+broadcast-join rewrite of a per-key
    * windowed total on the power-law fixture. */
  def x4SkewJoinTotal(s: SparkSession, dir: String): DataFrame =
    ScaleTechniques.joinKeyTotal(skewedLineitem(s, dir),
      "skew_key", "l_quantity")

  /** x5: the direct partitioned-window form — the contrast whose hot
    * partition lands in one task. Same oracle as x4: the rewrite is
    * invisible in the values. At sf0.1 both run sub-second (wall
    * clock is overhead-dominated, as with the pruning headline), so
    * the skew evidence is pinned at the task level: SkewSpec measures
    * one window task reading >= 40% of all rows while no task of the
    * rewrite reads more than a third of that. */
  def x5SkewWindowDirect(s: SparkSession, dir: String): DataFrame =
    ScaleTechniques.windowKeyTotal(skewedLineitem(s, dir),
      "skew_key", "l_quantity")

  /** x6: runtime bloom-filter row pruning (InjectRuntimeFilter) — the
    * optimizer plants a `bloom_filter_agg` scalar subquery over the
    * selective dimension and a `might_contain` predicate on the fact
    * side of the shuffle join, so fact rows that cannot find a match
    * are dropped BEFORE the exchange instead of shuffling and failing
    * the join probe. x3's DPP prunes whole partitions on the
    * partition key; the bloom filter prunes rows on a NON-partition
    * key — the complementary runtime-filtering technique for a
    * 100 TB fact table (PlanAuditSpec pins the `might_contain`).
    * The rule's thresholds are sized for cluster-scale inputs
    * (application side >= 10 GB scan), so the demo rescales them in
    * a scoped session clone; the result stays bound to the clone
    * because injection happens at optimization time under the
    * clone's conf — a bindTo home would re-optimize under the
    * caller's thresholds and silently drop the filter. */
  def x6BloomJoin(s: SparkSession, dir: String): DataFrame = {
    val ss = org.apache.spark.sql.GraftBridge.sessionWithConf(s, Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // force the shuffle-join shape the rule targets: with a
      // broadcast join the build side already filters the probe
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"))
    import ss.implicits._
    // selective dimension as a real parquet source (like x3's): the
    // rule requires a selective filter over a creation-side scan, and
    // a Seq-backed LocalRelation would be constant-folded away.
    // Strike grid 8000 + 250k, k<17 is SF-independent by construction.
    val dimPath =
      s"/tmp/graft_store/x6_dim_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    if (!new java.io.File(s"$dimPath/_SUCCESS").exists()) {
      (0 until 17).map(k => (8000.0 + 250.0 * k, if (k < 3) "keep" else "drop"))
        .toDF("strike", "tag")
        .coalesce(1).write.mode("overwrite").parquet(dimPath)
    }
    val dim = ss.read.parquet(dimPath)
      .filter(col("tag") === "keep").select(col("strike"))
    SyntheticTrades.trades(ss, dir)
      .join(dim, "strike")
      .groupBy(col("strike"))
      .agg(count(lit(1)).as("n_trades"), dsum(col("amount")).as("amount_sum"))
  }

  val x6Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte}
       |SELECT strike, count(*) AS n_trades, ${duckDsum("amount")} AS amount_sum
       |FROM trades
       |WHERE strike IN (8000.0, 8250.0, 8500.0)
       |GROUP BY 1""".stripMargin

  /** x7: Z-order vs single-dimension-sort layout, audited by
    * replaying a (time-range × strike-range) box query against
    * per-file min/max footers — the 2-D pruning the reference's
    * 1-D ClickHouse primary key cannot give. The box straddles the
    * top quadrant boundary (the z-curve's worst alignment), so the
    * emitted zorder/linear `files_hit` gap is the honest lower bound
    * of the layout's skipping win. */
  def x7ZorderLayout(s: SparkSession, dir: String): DataFrame =
    graft.operators.ZOrderLayout.audit(
      SyntheticTrades.trades(s, dir),
      dim1 = unix_timestamp(col("timestamp")),
      dim2 = col("strike"))

  val x7Oracle: String = {
    import graft.operators.ZOrderLayout.duckMorton
    s"""WITH ${SyntheticTrades.tradesCte},
       |base AS (
       |  SELECT ${duckEpochS("\"timestamp\"")} AS v1,
       |    CAST(strike AS BIGINT) AS v2
       |  FROM trades
       |),
       |st AS (
       |  SELECT min(v1) AS mn1, max(v1) AS mx1,
       |    min(v2) AS mn2, max(v2) AS mx2
       |  FROM base
       |),
       |q AS (
       |  SELECT (v1 - mn1) * 256 // (mx1 - mn1 + 1) AS b1,
       |    (v2 - mn2) * 256 // (mx2 - mn2 + 1) AS b2
       |  FROM base, st
       |),
       |coded AS (
       |  SELECT b1, b2,
       |    ${duckMorton("b1", "b2", 8)} >> 10 AS f_z,
       |    (b1 * 256 + b2) >> 10 AS f_lin
       |  FROM q
       |),
       |zf AS (
       |  SELECT f_z, min(b1) AS f_mn1, max(b1) AS f_mx1,
       |    min(b2) AS f_mn2, max(b2) AS f_mx2,
       |    count(*) AS f_rows,
       |    CAST(sum(CASE WHEN b1 BETWEEN 96 AND 159
       |      AND b2 BETWEEN 96 AND 159 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS f_box
       |  FROM coded GROUP BY 1
       |),
       |lf AS (
       |  SELECT f_lin, min(b1) AS f_mn1, max(b1) AS f_mx1,
       |    min(b2) AS f_mn2, max(b2) AS f_mx2,
       |    count(*) AS f_rows,
       |    CAST(sum(CASE WHEN b1 BETWEEN 96 AND 159
       |      AND b2 BETWEEN 96 AND 159 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS f_box
       |  FROM coded GROUP BY 1
       |),
       |summz AS (
       |  SELECT 'zorder' AS layout,
       |    count(*) AS n_files,
       |    CAST(sum(CASE WHEN f_mn1 <= 159 AND f_mx1 >= 96
       |      AND f_mn2 <= 159 AND f_mx2 >= 96 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS files_hit,
       |    CAST(sum(f_rows) AS BIGINT) AS n_rows,
       |    CAST(sum(f_box) AS BIGINT) AS box_rows,
       |    CAST(sum(CASE WHEN f_mn1 <= 159 AND f_mx1 >= 96
       |      AND f_mn2 <= 159 AND f_mx2 >= 96 THEN f_rows ELSE 0 END)
       |      AS BIGINT) AS rows_scanned
       |  FROM zf
       |),
       |summl AS (
       |  SELECT 'linear' AS layout,
       |    count(*) AS n_files,
       |    CAST(sum(CASE WHEN f_mn1 <= 159 AND f_mx1 >= 96
       |      AND f_mn2 <= 159 AND f_mx2 >= 96 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS files_hit,
       |    CAST(sum(f_rows) AS BIGINT) AS n_rows,
       |    CAST(sum(f_box) AS BIGINT) AS box_rows,
       |    CAST(sum(CASE WHEN f_mn1 <= 159 AND f_mx1 >= 96
       |      AND f_mn2 <= 159 AND f_mx2 >= 96 THEN f_rows ELSE 0 END)
       |      AS BIGINT) AS rows_scanned
       |  FROM lf
       |)
       |SELECT layout, n_files, files_hit, n_rows, box_rows, rows_scanned,
       |  CAST(rows_scanned AS DOUBLE) / n_rows AS scan_frac
       |FROM summz
       |UNION ALL
       |SELECT layout, n_files, files_hit, n_rows, box_rows, rows_scanned,
       |  CAST(rows_scanned AS DOUBLE) / n_rows AS scan_frac
       |FROM summl""".stripMargin
  }

  /** x8: Hilbert vs Z-order vs linear layout at a NON-quadrant file
    * split (fileShift=11 — half-quadrant files, the realistic case
    * where files are sized to bytes, not to aligned code widths).
    * Z-order's half-quadrant files are two disjoint squares whose
    * footers span both; Hilbert files stay connected, so the stripe
    * replay hits half as many of them. The per-level walk SQL is
    * shared verbatim between the Spark plan and this oracle
    * ([[graft.operators.HilbertLayout.stepSql]]). */
  def x8HilbertLayout(s: SparkSession, dir: String): DataFrame =
    graft.operators.HilbertLayout.audit(
      SyntheticTrades.trades(s, dir),
      dim1 = unix_timestamp(col("timestamp")),
      dim2 = col("strike"))

  val x8Oracle: String = {
    import graft.operators.HilbertLayout.duckHilbertCtes
    import graft.operators.ZOrderLayout.duckMorton
    val bits = 8
    val cells = 1L << bits
    val shift = 11
    val (lo1, hi1) = (cells / 4, cells * 3 / 4 - 1)
    val (lo2, hi2) = (cells / 2 - cells / 64, cells / 2 + cells / 64 - 1)
    val inBox = s"b1 BETWEEN $lo1 AND $hi1 AND b2 BETWEEN $lo2 AND $hi2"
    val hit = s"f_mn1 <= $hi1 AND f_mx1 >= $lo1 " +
      s"AND f_mn2 <= $hi2 AND f_mx2 >= $lo2"
    def fileCte(name: String, key: String) =
      s"""$name AS (
         |  SELECT $key AS f, min(b1) AS f_mn1, max(b1) AS f_mx1,
         |    min(b2) AS f_mn2, max(b2) AS f_mx2, count(*) AS f_rows,
         |    CAST(sum(CASE WHEN $inBox THEN 1 ELSE 0 END) AS BIGINT)
         |      AS f_box
         |  FROM coded GROUP BY 1
         |)""".stripMargin
    def summary(src: String, label: String) =
      s"""SELECT '$label' AS layout, count(*) AS n_files,
         |  CAST(sum(CASE WHEN $hit THEN 1 ELSE 0 END) AS BIGINT)
         |    AS files_hit,
         |  CAST(sum(f_rows) AS BIGINT) AS n_rows,
         |  CAST(sum(f_box) AS BIGINT) AS box_rows,
         |  CAST(sum(CASE WHEN $hit THEN f_rows ELSE 0 END) AS BIGINT)
         |    AS rows_scanned,
         |  CAST(sum(CASE WHEN $hit THEN f_rows ELSE 0 END) AS DOUBLE)
         |    / sum(f_rows) AS scan_frac
         |FROM $src""".stripMargin
    s"""WITH ${SyntheticTrades.tradesCte},
       |base AS (
       |  SELECT ${duckEpochS("\"timestamp\"")} AS v1,
       |    CAST(strike AS BIGINT) AS v2
       |  FROM trades
       |),
       |st AS (
       |  SELECT min(v1) AS mn1, max(v1) AS mx1,
       |    min(v2) AS mn2, max(v2) AS mx2
       |  FROM base
       |),
       |q AS (
       |  SELECT (v1 - mn1) * $cells // (mx1 - mn1 + 1) AS b1,
       |    (v2 - mn2) * $cells // (mx2 - mn2 + 1) AS b2
       |  FROM base, st
       |),
       |${duckHilbertCtes("q", bits)},
       |coded AS (
       |  SELECT b1, b2,
       |    hd >> $shift AS f_h,
       |    ${duckMorton("b1", "b2", bits)} >> $shift AS f_z,
       |    (b1 * $cells + b2) >> $shift AS f_lin
       |  FROM h$bits
       |),
       |${fileCte("hf", "f_h")},
       |${fileCte("zf", "f_z")},
       |${fileCte("lf", "f_lin")}
       |${summary("hf", "hilbert")}
       |UNION ALL
       |${summary("zf", "zorder")}
       |UNION ALL
       |${summary("lf", "linear")}""".stripMargin
  }

  /** x9: per-file Bloom sidecar for point lookups
    * ([[graft.sources.BloomIndex]]) — the skipping index zone maps
    * can't provide when the probe key is uniformly distributed
    * (every file's [min,max] straddles every probe). The oracle pins
    * the lookup VALUES (present key found whole, absent key empty);
    * Round15dSpec pins that the index actually pruned files and
    * never loses a key. Driver-side work: one 1-row max aggregate
    * for the probe key + the file-count-sized sidecar read. */
  def x9FileBloomIndex(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{BloomIndex, SnapshotRead, SnapshotStore}
    val root = graft.util.TempDirs.scoped("x9-bloom")
    val ev = graft.util.Tables.load(s, dir, "events")
      .select(col("event_id"), col("value"))
    SnapshotStore.commitAppend(ev.repartition(12, col("event_id")), root)
    BloomIndex.build(s, root, "event_id")
    val mx = ev.agg(max(col("event_id"))).head.getLong(0)
    def probe(name: String, key: Long): DataFrame = {
      val p = SnapshotRead.plan(s, root, point = Some(("event_id", key)))
      p.df
        .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("value_sum"))
        .select(lit(name).as("probe"), col("n_rows"), col("value_sum"),
          lit(p.filesAfterBloom * 2 <= p.filesTotal).as("files_pruned"))
    }
    probe("present", mx).unionAll(probe("absent", mx + 1))
  }

  val x9Oracle: String =
    s"""WITH mx AS (SELECT max(event_id) AS m FROM events)
       |SELECT 'present' AS probe, count(*) AS n_rows,
       |  ${duckDsum("value")} AS value_sum, true AS files_pruned
       |FROM events, mx WHERE event_id = m
       |UNION ALL
       |SELECT 'absent', CAST(0 AS BIGINT), CAST(NULL AS DOUBLE), true"""
      .stripMargin

  val defs: Map[String, QueryDef] = Map(
    "x9_file_bloom_index" -> QueryDef(x9FileBloomIndex _, x9Oracle),
    "x1_salted_agg" -> QueryDef(x1SaltedDailyVolume _, x1Oracle),
    "x2_bucketed_join" -> QueryDef(x2BucketedJoin _, x2Oracle),
    "x3_dpp_join" -> QueryDef(x3DppJoin _, x3Oracle),
    "x4_skew_join_total" -> QueryDef(x4SkewJoinTotal _, skewTotalOracle),
    "x5_skew_window_direct" -> QueryDef(x5SkewWindowDirect _, skewTotalOracle),
    "x6_bloom_join" -> QueryDef(x6BloomJoin _, x6Oracle),
    "x7_zorder_layout" -> QueryDef(x7ZorderLayout _, x7Oracle),
    "x8_hilbert_layout" -> QueryDef(x8HilbertLayout _, x8Oracle))
}
