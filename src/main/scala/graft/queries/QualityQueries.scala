package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.options.SyntheticTrades

/** Correctness entries for data quality (A10/A11), gap analysis
  * (W1/O3), and rolling IV percentile/rank (W2/W3). */
object QualityQueries {

  private def trades(s: SparkSession, dir: String): DataFrame =
    SyntheticTrades.trades(s, dir)

  // ---- A10: quality metrics (one row) ----

  def a10Quality(s: SparkSession, dir: String): DataFrame =
    DataQuality.qualityMetrics(trades(s, dir))
      .withColumn("date_span_days", col("date_span_days").cast("long"))

  val a10Oracle: String =
    s"""WITH ${OracleCtes.enriched},
       |agg AS (
       |  SELECT count(*) AS total_rows,
       |    count(DISTINCT trade_id) AS unique_trades,
       |    min(ep) AS earliest_ep,
       |    max(ep) AS latest_ep,
       |    CAST(CAST(max("timestamp") AS DATE)
       |      - CAST(min("timestamp") AS DATE) AS BIGINT) AS date_span_days,
       |    count(CASE WHEN iv IS NULL OR iv = 0.0 THEN 1 END)
       |      AS null_iv_count,
       |    count(CASE WHEN index_price IS NULL OR index_price = 0.0 THEN 1 END)
       |      AS null_index_count
       |  FROM enriched
       |)
       |SELECT *,
       |  CASE WHEN CAST(floor((latest_ep - earliest_ep) / 3600.0) AS BIGINT) > 0
       |    THEN CAST(total_rows AS DOUBLE)
       |      / CAST(floor((latest_ep - earliest_ep) / 3600.0) AS BIGINT)
       |    ELSE CAST(total_rows AS DOUBLE) END AS avg_trades_per_hour,
       |  CAST(unique_trades AS DOUBLE) / total_rows AS dedup_rate,
       |  CAST(null_iv_count AS DOUBLE) / total_rows AS null_iv_rate,
       |  CAST(null_index_count AS DOUBLE) / total_rows AS null_index_rate
       |FROM agg""".stripMargin

  // ---- A11: coverage stats by underlying ----

  def a11Coverage(s: SparkSession, dir: String): DataFrame =
    DataQuality.coverageStats(trades(s, dir))

  val a11Oracle: String =
    s"""WITH ${OracleCtes.enriched}
       |SELECT underlying,
       |  count(*) AS trade_count,
       |  count(DISTINCT instrument_name) AS unique_instruments,
       |  min(ep) AS earliest_ep,
       |  max(ep) AS latest_ep,
       |  CAST(count(CASE WHEN iv IS NULL OR iv = 0.0 THEN 1 END) AS DOUBLE)
       |    / count(*) AS null_iv_rate,
       |  CAST(count(CASE WHEN index_price IS NULL OR index_price = 0.0
       |    THEN 1 END) AS DOUBLE) / count(*) AS null_index_rate
       |FROM enriched
       |GROUP BY underlying""".stripMargin

  // ---- W1/O3: gap analysis ----
  // The dense synthetic stream has no >4h gaps; a deterministic 1-in-97
  // thinning makes real multi-hour gaps so the operator's filter and
  // top-k actually bite.

  def w1Gaps(s: SparkSession, dir: String): DataFrame =
    DataQuality.gapAnalysis(
      trades(s, dir).filter(col("trade_id").cast("long") % 97 === 0),
      thresholdHours = 4)

  val w1Oracle: String =
    s"""WITH ${OracleCtes.enriched},
       |sampled AS (
       |  SELECT ep FROM enriched WHERE CAST(trade_id AS BIGINT) % 97 = 0
       |),
       |sorted AS (
       |  SELECT ep AS gap_start, lead(ep) OVER (ORDER BY ep) AS gap_end
       |  FROM sampled
       |)
       |SELECT gap_start, gap_end,
       |  CAST(floor((gap_end - gap_start) / 3600.0) AS BIGINT) AS gap_hours
       |FROM sorted
       |WHERE gap_end IS NOT NULL
       |  AND CAST(floor((gap_end - gap_start) / 3600.0) AS BIGINT) > 4
       |ORDER BY gap_hours DESC, gap_start ASC
       |LIMIT 100""".stripMargin

  // ---- W2/W3: rolling IV percentile / rank over 15-min bars ----
  // Lookback 2 days (the sf window spans ~25 days), min 10 prior bars.

  private val LookbackSec = 172800L
  private val MinPeriods = 10

  private def bars(s: SparkSession, dir: String): DataFrame =
    IvResampler.resample(trades(s, dir), "15 minutes", col("underlying"))
      .select(col("underlying"), col("bucket_start"), col("iv_close"))

  private val barsCte: String =
    s"""${OracleCtes.enriched},
       |bars AS (
       |  SELECT underlying, bucket_start,
       |    arg_max(iv, "timestamp") AS iv_close
       |  FROM enriched
       |  WHERE iv IS NOT NULL
       |  GROUP BY underlying, bucket_start
       |)""".stripMargin

  def w2IvPercentile(s: SparkSession, dir: String): DataFrame =
    IvPercentile.ivPercentile(
      bars(s, dir), "iv_close", Seq(col("underlying")),
      LookbackSec, MinPeriods)

  val w2Oracle: String =
    s"""WITH $barsCte
       |SELECT underlying, bucket_start, iv_close,
       |  CASE WHEN coalesce(len(list(iv_close) OVER wprior), 0) >= $MinPeriods
       |    THEN CAST(len(list_filter(list(iv_close) OVER wprior,
       |        x -> x <= iv_close)) AS DOUBLE)
       |      / len(list(iv_close) OVER wprior) * 100.0
       |  END AS iv_percentile
       |FROM bars
       |WINDOW wprior AS (PARTITION BY underlying ORDER BY bucket_start
       |  RANGE BETWEEN $LookbackSec PRECEDING AND 1 PRECEDING)""".stripMargin

  def w3IvRank(s: SparkSession, dir: String): DataFrame =
    IvPercentile.ivRank(
      bars(s, dir), "iv_close", Seq(col("underlying")),
      LookbackSec, MinPeriods)

  val w3Oracle: String =
    s"""WITH $barsCte
       |SELECT underlying, bucket_start, iv_close,
       |  CASE WHEN count(iv_close) OVER wfull >= $MinPeriods
       |    THEN (iv_close - min(iv_close) OVER wfull) * 100.0
       |      / nullif(max(iv_close) OVER wfull - min(iv_close) OVER wfull, 0.0)
       |  END AS iv_rank
       |FROM bars
       |WINDOW wfull AS (PARTITION BY underlying ORDER BY bucket_start
       |  RANGE BETWEEN $LookbackSec PRECEDING AND CURRENT ROW)""".stripMargin

  /** A10's sketch-based scale path: at 100 TB, `count(DISTINCT
    * trade_id)` is a full shuffle of every distinct id while
    * `approx_count_distinct` (HLL++) and `percentile_approx`
    * (KLL-style quantile sketch) are single-pass, fixed-memory,
    * mergeable partial aggregates. Oracle gate: exact columns
    * (row/distinct counts, min/max) are SQL-verified; the sketch
    * estimates — implementation-specific by nature — are pinned as
    * literals in a dynamic oracle, so the entry gets a full
    * rows+schema+hash row instead of `no_oracle`. Sketch accuracy vs
    * the exact values is separately bounded in QualityWindowsSpec.
    * (Exact percentile is deliberately NOT in the verified set: no
    * cross-engine bit-exact discrete-quantile contract exists.) The
    * reference insists on uniqExact (SURVEY §2.4); the sketch columns
    * are the documented divergence a 1000-executor deployment takes
    * instead — at scale you would drop the exact-distinct columns and
    * keep the sketches. */
  def a18QualitySketch(s: SparkSession, dir: String): DataFrame = {
    val t = trades(s, dir)
      .select(col("trade_id"), col("instrument_name"), col("price"))
    // the 100 TB path: ONE pass, no Expand, no distinct shuffle —
    // every aggregate here is a fixed-memory mergeable partial
    val sketch = t.agg(
      count(lit(1)).as("total_rows"),
      min(col("price")).as("price_min"),
      max(col("price")).as("price_max"),
      approx_count_distinct(col("trade_id")).as("approx_unique_trades"),
      approx_count_distinct(col("instrument_name"))
        .as("approx_unique_instruments"),
      percentile_approx(col("price"), array(lit(0.5), lit(0.95), lit(0.99)),
        lit(10000)).as("price_quantiles"))
    // exact distincts in a SEPARATE narrow aggregate: bolted onto the
    // sketch agg they Expand its input 3x and drag the quantile
    // summaries over the multiplied rows (measured 0.2 s -> 4 s at
    // sf0.1). The one-row x one-row combine is a by-design broadcast
    // nested-loop (PlanAuditSpec allowlist).
    val exact = t.agg(
      countDistinct(col("trade_id")).as("unique_trades"),
      countDistinct(col("instrument_name")).as("unique_instruments"))
    // bounded-collect(one row: two groupless aggregates cross-joined)
    val out = graft.util.Caches.local(
      sketch.crossJoin(broadcast(exact))
        // scalars, not an array<double>: the driver's rows-only gate
        // pandas-sorts every output column, and numpy arrays are
        // unhashable there (round-3 a18 err)
        .select(col("total_rows"), col("unique_trades"),
          col("unique_instruments"), col("price_min"), col("price_max"),
          col("approx_unique_trades"), col("approx_unique_instruments"),
          element_at(col("price_quantiles"), 1).as("price_p50"),
          element_at(col("price_quantiles"), 2).as("price_p95"),
          element_at(col("price_quantiles"), 3).as("price_p99")))
    val r = out.head()
    DynamicOracles.put("a18_quality_sketch", a18Oracle(
      r.getLong(5), r.getLong(6),
      r.getDouble(7), r.getDouble(8), r.getDouble(9)))
    out
  }

  private def a18Oracle(approxTrades: Long, approxInstruments: Long,
      p50: Double, p95: Double, p99: Double): String = {
    import graft.util.Parity.duckDoubleLit
    s"""WITH ${SyntheticTrades.tradesCte}
       |SELECT count(*) AS total_rows,
       |  count(DISTINCT trade_id) AS unique_trades,
       |  count(DISTINCT instrument_name) AS unique_instruments,
       |  min(price) AS price_min,
       |  max(price) AS price_max,
       |  CAST($approxTrades AS BIGINT) AS approx_unique_trades,
       |  CAST($approxInstruments AS BIGINT) AS approx_unique_instruments,
       |  ${duckDoubleLit(p50)} AS price_p50,
       |  ${duckDoubleLit(p95)} AS price_p95,
       |  ${duckDoubleLit(p99)} AS price_p99
       |FROM trades""".stripMargin
  }

  // ---- S16: gap -> backfill work queue ----

  /** The w1 gaps sliced into bounded (start, end) fetch windows —
    * the cursor pairs S7's backfill loop consumes. */
  def s16BackfillPlan(s: SparkSession, dir: String): DataFrame =
    DataQuality.gapRepairPlan(w1Gaps(s, dir))

  val s16Oracle: String =
    s"""WITH ${OracleCtes.enriched},
       |sampled AS (
       |  SELECT ep FROM enriched WHERE CAST(trade_id AS BIGINT) % 97 = 0
       |),
       |sorted AS (
       |  SELECT ep AS gap_start, lead(ep) OVER (ORDER BY ep) AS gap_end
       |  FROM sampled
       |),
       |gaps AS (
       |  SELECT gap_start, gap_end,
       |    CAST(floor((gap_end - gap_start) / 3600.0) AS BIGINT)
       |      AS gap_hours
       |  FROM sorted
       |  WHERE gap_end IS NOT NULL
       |    AND CAST(floor((gap_end - gap_start) / 3600.0) AS BIGINT) > 4
       |  ORDER BY gap_hours DESC, gap_start ASC
       |  LIMIT 100
       |),
       |plan AS (
       |  SELECT gap_start, gap_end, gap_hours,
       |    unnest(generate_series(0, (gap_end - gap_start - 1) // 21600))
       |      AS slice_idx
       |  FROM gaps
       |)
       |SELECT gap_start, gap_end, gap_hours, slice_idx,
       |  gap_start + slice_idx * 21600 AS slice_start,
       |  least(gap_start + (slice_idx + 1) * 21600, gap_end) AS slice_end
       |FROM plan""".stripMargin

  /** W6: regular-grid gap fill + linear interpolation over the 15-min
    * IV bars ([[graft.operators.GapFill]]) — the ClickHouse
    * `WITH FILL STEP 900` / pandas `asfreq().interpolate()` analog
    * the resampler (A2) stops short of: missing buckets materialize
    * on the grid, carry the last observation forward, and interior
    * gaps interpolate between their anchors. */
  def w6GapFill(s: SparkSession, dir: String): DataFrame =
    GapFill.fill(bars(s, dir), 900L)

  val w6Oracle: String =
    s"""WITH $barsCte,
       |${GapFill.duckTail(900L)}""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "w6_gap_fill" -> QueryDef(w6GapFill _, w6Oracle),
    "s16_backfill_plan" -> QueryDef(s16BackfillPlan _, s16Oracle),
    "a10_quality_metrics" -> QueryDef(a10Quality _, a10Oracle),
    "a18_quality_sketch" -> QueryDef(a18QualitySketch _, None),
    "a11_coverage_stats" -> QueryDef(a11Coverage _, a11Oracle),
    "w1_gap_analysis" -> QueryDef(w1Gaps _, w1Oracle),
    "w2_iv_percentile" -> QueryDef(w2IvPercentile _, w2Oracle),
    "w3_iv_rank" -> QueryDef(w3IvRank _, w3Oracle))
}
