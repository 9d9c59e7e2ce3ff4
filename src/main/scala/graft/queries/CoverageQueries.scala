package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._
import graft.options.SyntheticTrades
import graft.util.Parity
import graft.util.Parity._

/** Correctness entries completing the SURVEY §2 inventory: per-bucket
  * resample (A3), daily volume (A12), spot coverage rates (A13),
  * validity filters (F4/F7), inter-page dup detection (O5), page
  * continuity (S2), frequency inference (W4), and the explicit
  * time-bucket alignment join (J4). */
object CoverageQueries {

  private def trades(s: SparkSession, dir: String): DataFrame =
    SyntheticTrades.trades(s, dir)

  // ---- A3: per-DTE-bucket 15-min resample, single pass ----

  def a3BucketResample(s: SparkSession, dir: String): DataFrame =
    IvResampler.resampleByDteBucket(trades(s, dir), "15 minutes")

  val a3Oracle: String =
    s"""WITH ${OracleCtes.enriched}
       |SELECT dte_bucket,
       |  arg_min(iv, "timestamp") AS iv_open,
       |  max(iv) AS iv_high,
       |  min(iv) AS iv_low,
       |  arg_max(iv, "timestamp") AS iv_close,
       |  ${duckDsum("amount")} AS volume,
       |  count(*) AS n_trades,
       |  bucket_start
       |FROM (SELECT *, ${OracleCtes.dteBucketCase} AS dte_bucket FROM enriched)
       |WHERE iv IS NOT NULL
       |GROUP BY dte_bucket, bucket_start""".stripMargin

  // ---- A12: daily volume per instrument (feeds J1) ----

  def a12DailyVolume(s: SparkSession, dir: String): DataFrame =
    trades(s, dir)
      .groupBy(col("instrument_name"),
        to_date(col("timestamp")).cast("string").as("trade_date"))
      .agg(Parity.dsum(col("amount")).as("daily_volume"),
        count(lit(1)).as("n_trades"))

  val a12Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte}
       |SELECT instrument_name,
       |  CAST(CAST("timestamp" AS DATE) AS VARCHAR) AS trade_date,
       |  ${duckDsum("amount")} AS daily_volume,
       |  count(*) AS n_trades
       |FROM trades
       |GROUP BY 1, 2""".stripMargin

  // ---- A13: spot coverage rates ----

  def a13SpotCoverage(s: SparkSession, dir: String): DataFrame =
    FeatureQueries.enrichedSpot(s, dir).agg(
      count(lit(1)).as("total_rows"),
      (count(col("index_price")).cast("double") / count(lit(1)))
        .as("index_coverage"),
      (count(when(col("index_price").isNull && col("binance_spot").isNotNull,
        lit(1))).cast("double") / count(lit(1))).as("fallback_rate"),
      (count(when(col("spot_price") > 0, lit(1))).cast("double")
        / count(lit(1))).as("spot_positive_rate"))

  val a13Oracle: String =
    s"""WITH ${OracleCtes.enrichedSpot}
       |SELECT count(*) AS total_rows,
       |  CAST(count(index_price) AS DOUBLE) / count(*) AS index_coverage,
       |  CAST(count(CASE WHEN index_price IS NULL
       |    AND binance_spot IS NOT NULL THEN 1 END) AS DOUBLE) / count(*)
       |    AS fallback_rate,
       |  CAST(count(CASE WHEN spot_price > 0 THEN 1 END) AS DOUBLE)
       |    / count(*) AS spot_positive_rate
       |FROM enriched_spot""".stripMargin

  // ---- F4: validity filter (moneyness > 0 AND iv > 0) ----

  def f4ValidityFilter(s: SparkSession, dir: String): DataFrame =
    FeatureQueries.enrichedSpot(s, dir)
      .filter(col("moneyness") > 0 && col("iv") > 0)
      .select(col("trade_id"), Parity.epochS(col("timestamp")).as("ep"),
        col("moneyness"), col("iv"))

  val f4Oracle: String =
    s"""WITH ${OracleCtes.enrichedSpot}
       |SELECT trade_id, ep, moneyness, iv FROM enriched_spot
       |WHERE moneyness > 0 AND iv > 0""".stripMargin

  // ---- F7: null-IV drop ----

  def f7NullIvDrop(s: SparkSession, dir: String): DataFrame =
    trades(s, dir).filter(col("iv").isNotNull)
      .select(col("trade_id"), Parity.epochS(col("timestamp")).as("ep"),
        col("iv"))

  val f7Oracle: String =
    s"""WITH ${OracleCtes.enriched}
       |SELECT trade_id, ep, iv FROM enriched WHERE iv IS NOT NULL""".stripMargin

  // ---- O5: inter-page duplicate detection ----

  /** The synthetic table has no duplicate trade_ids, so a detector over
    * it alone would be vacuous. Simulate a page-boundary re-fetch by
    * re-appending every 97th trade (deterministic, mirrored in the
    * oracle), then detect ids occurring more than once — the S2/O5
    * dedup check (`trades_collector.py:88-92`). */
  def o5PageDups(s: SparkSession, dir: String): DataFrame = {
    val t = trades(s, dir).select(col("trade_id"))
    val refetched = t.filter(col("trade_id").cast("long") % 97 === 0)
    t.unionAll(refetched)
      .groupBy(col("trade_id"))
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") > 1)
  }

  val o5Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |paged AS (
       |  SELECT trade_id FROM trades
       |  UNION ALL
       |  SELECT trade_id FROM trades WHERE CAST(trade_id AS BIGINT) % 97 = 0
       |)
       |SELECT trade_id, count(*) AS n_occurrences FROM paged
       |GROUP BY 1 HAVING count(*) > 1""".stripMargin

  // ---- S2: page-continuity validation ----

  /** Ingest pages re-expressed as post-ingest validation (SURVEY S2):
    * page = 15-min epoch bucket; report page boundaries whose gap to
    * the next page start exceeds the reference's 1000 ms threshold
    * (`PAGINATION_GAP_THRESHOLD_MS`), worst first, top 100. */
  def s2PageContinuity(s: SparkSession, dir: String): DataFrame = {
    val ep = Parity.epochS(col("timestamp"))
    val pages = trades(s, dir)
      .select((ep - ep % 900).as("page"), ep.as("ep"))
      .groupBy(col("page"))
      .agg(min(col("ep")).as("page_start_ep"), max(col("ep")).as("page_end_ep"),
        count(lit(1)).as("n_trades"))
    pages
      .withColumn("next_page_start_ep",
        // bounded-window(one row per 15-minute page of the trade calendar)
        lead(col("page_start_ep"), 1).over(Window.orderBy(col("page"))))
      .withColumn("gap_ms",
        (col("next_page_start_ep") - col("page_end_ep")) * 1000L)
      .filter(col("gap_ms") > 1000L)
      .orderBy(desc("gap_ms"), asc("page"))
      .limit(100)
  }

  val s2Oracle: String =
    s"""WITH ${OracleCtes.enriched},
       |pages AS (
       |  SELECT ep - ep % 900 AS page,
       |    min(ep) AS page_start_ep, max(ep) AS page_end_ep,
       |    count(*) AS n_trades
       |  FROM enriched GROUP BY 1
       |),
       |gaps AS (
       |  SELECT *,
       |    lead(page_start_ep) OVER (ORDER BY page) AS next_page_start_ep,
       |    (lead(page_start_ep) OVER (ORDER BY page) - page_end_ep) * 1000
       |      AS gap_ms
       |  FROM pages
       |)
       |SELECT * FROM gaps WHERE gap_ms > 1000
       |ORDER BY gap_ms DESC, page LIMIT 100""".stripMargin

  // ---- W4: frequency inference (median inter-bar interval) ----

  def w4FreqInference(s: SparkSession, dir: String): DataFrame = {
    val bars = IvResampler.resample(
      trades(s, dir).filter(col("underlying") === "BTC"), "15 minutes")
    val diffs = bars
      .select(col("bucket_start"))
      .withColumn("next_start",
        // bounded-window(one row per 15-minute bar of the trade calendar)
        lead(col("bucket_start"), 1).over(Window.orderBy(col("bucket_start"))))
      .filter(col("next_start").isNotNull)
      .select((col("next_start") - col("bucket_start")).as("interval_s"))
    diffs.agg(
      median(col("interval_s")).cast("double").as("median_interval_s"),
      count(lit(1)).as("n_intervals"))
      .withColumn("window_bars",
        floor(lit(90.0 * 86400.0) / col("median_interval_s")).cast("long"))
  }

  val w4Oracle: String =
    s"""WITH ${OracleCtes.enriched},
       |bars AS (
       |  SELECT bucket_start FROM enriched
       |  WHERE iv IS NOT NULL AND underlying = 'BTC'
       |  GROUP BY bucket_start
       |),
       |diffs AS (
       |  SELECT lead(bucket_start) OVER (ORDER BY bucket_start)
       |    - bucket_start AS interval_s
       |  FROM bars
       |  QUALIFY interval_s IS NOT NULL
       |)
       |SELECT CAST(median(interval_s) AS DOUBLE) AS median_interval_s,
       |  count(*) AS n_intervals,
       |  CAST(floor(90.0 * 86400.0 / CAST(median(interval_s) AS DOUBLE))
       |    AS BIGINT) AS window_bars
       |FROM diffs""".stripMargin

  // ---- J4: explicit near/far time-bucket alignment join ----

  def j4AlignmentJoin(s: SparkSession, dir: String): DataFrame = {
    val t = trades(s, dir)
      .withColumn("dte", DteBuckets.dteExpr(col("timestamp"), col("expiry")))
      .withColumn("bucket_start",
        unix_timestamp(col("timestamp")) - unix_timestamp(col("timestamp")) % 900)
    def side(pred: org.apache.spark.sql.Column, out: String) =
      t.filter(pred)
        .groupBy(col("bucket_start"))
        .agg(Parity.davg(col("iv")).as(out))
    side(col("dte") <= 30, "near_iv")
      .join(side(col("dte") >= 60, "far_iv"), Seq("bucket_start"), "inner")
  }

  val j4Oracle: String =
    s"""WITH ${OracleCtes.enriched},
       |near AS (
       |  SELECT bucket_start, ${duckDavg("iv")} AS near_iv
       |  FROM enriched WHERE dte <= 30 GROUP BY 1
       |),
       |far AS (
       |  SELECT bucket_start, ${duckDavg("iv")} AS far_iv
       |  FROM enriched WHERE dte >= 60 GROUP BY 1
       |)
       |SELECT bucket_start, near_iv, far_iv
       |FROM near JOIN far USING (bucket_start)""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "a3_bucket_resample" -> QueryDef(a3BucketResample _, a3Oracle),
    "a12_daily_volume" -> QueryDef(a12DailyVolume _, a12Oracle),
    "a13_spot_coverage" -> QueryDef(a13SpotCoverage _, a13Oracle),
    "f4_validity_filter" -> QueryDef(f4ValidityFilter _, f4Oracle),
    "f7_null_iv_drop" -> QueryDef(f7NullIvDrop _, f7Oracle),
    "o5_page_dups" -> QueryDef(o5PageDups _, o5Oracle),
    "s2_page_continuity" -> QueryDef(s2PageContinuity _, s2Oracle),
    "w4_freq_inference" -> QueryDef(w4FreqInference _, w4Oracle),
    "j4_alignment_join" -> QueryDef(j4AlignmentJoin _, j4Oracle))
}
