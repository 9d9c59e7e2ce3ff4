package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftMath
import graft.operators.{Greeks, SpotProvider}
import graft.util.Parity
import graft.util.Parity._

/** Correctness entries for the Greeks engine (M1/M2/F8/P13/A14/A15).
  * The oracle mirrors every arithmetic stage — including the A&S
  * 7.1.26 erf — op for op, so the custom Catalyst expression itself is
  * under the hash-compare gate. */
object GreeksQueries {

  private def greeksDf(s: SparkSession, dir: String): DataFrame =
    Greeks.withGreeks(FeatureQueries.enrichedSpot(s, dir))

  /** Stage-by-stage oracle twin of Greeks.withGreeks. */
  private val greeksCte: String =
    s"""${OracleCtes.enrichedSpot},
       |gt AS (
       |  SELECT *,
       |    (${duckEpochS("CAST(expiry AS TIMESTAMP)")} - ep) / 31557600.0 AS T
       |  FROM enriched_spot
       |),
       |gv AS (
       |  SELECT *,
       |    (T > 0 AND iv > 0 AND spot_price > 0 AND strike > 0) AS valid
       |  FROM gt
       |),
       |g1 AS (SELECT *, CASE WHEN valid THEN sqrt(T) END AS sqrtT FROM gv),
       |g2 AS (
       |  SELECT *, CASE WHEN valid THEN
       |    (ln(spot_price / strike) + (0.02 + iv * iv / 2.0) * T)
       |      / (iv * sqrtT) END AS d1
       |  FROM g1
       |),
       |g3 AS (SELECT *, d1 - iv * sqrtT AS d2 FROM g2),
       |g4 AS (SELECT *, d1 / sqrt(2.0) AS x1, d2 / sqrt(2.0) AS x2 FROM g3),
       |g5 AS (
       |  SELECT *, ${GraftMath.duckErf("x1")} AS erf1,
       |    ${GraftMath.duckErf("x2")} AS erf2
       |  FROM g4
       |),
       |g6 AS (
       |  SELECT *,
       |    0.5 * (1.0 + erf1) AS cdf1,
       |    0.5 * (1.0 + erf2) AS cdf2,
       |    0.5 * (1.0 - erf2) AS cdfn2,
       |    exp(-(d1 * d1) / 2.0) / sqrt(2.0 * pi()) AS pdf1
       |  FROM g5
       |),
       |greeks AS (
       |  SELECT *,
       |    CASE WHEN option_type = 'C' THEN cdf1 ELSE cdf1 - 1.0 END
       |      AS bs_delta,
       |    pdf1 / (spot_price * iv * sqrtT) AS gamma,
       |    spot_price * pdf1 * sqrtT / 100.0 AS vega,
       |    (CASE WHEN option_type = 'C'
       |      THEN (-(spot_price * pdf1 * iv)) / (2.0 * sqrtT)
       |        - 0.02 * strike * exp(-(0.02 * T)) * cdf2
       |      ELSE (-(spot_price * pdf1 * iv)) / (2.0 * sqrtT)
       |        + 0.02 * strike * exp(-(0.02 * T)) * cdfn2
       |    END) / 365.25 AS theta
       |  FROM g6
       |),
       |greeks_adj AS (
       |  SELECT *, bs_delta - price / spot_price AS adjusted_delta
       |  FROM greeks
       |)""".stripMargin

  // ---- M1/M2: row-level greeks ----

  // Outputs are grid-quantized (Parity.roundTo): JVM and glibc
  // exp/log differ by <=1 ulp, so raw transcendental chains can never
  // hash-match. gamma gets 12 decimals (values ~1e-5).
  def m1Greeks(s: SparkSession, dir: String): DataFrame =
    greeksDf(s, dir).select(
      col("trade_id"),
      Parity.epochS(col("timestamp")).as("ep"),
      col("option_type"), col("T"),
      Parity.roundTo(col("bs_delta"), 9).as("bs_delta"),
      Parity.roundTo(col("adjusted_delta"), 9).as("adjusted_delta"),
      Parity.roundTo(col("gamma"), 12).as("gamma"),
      Parity.roundTo(col("vega"), 9).as("vega"),
      Parity.roundTo(col("theta"), 9).as("theta"))

  val m1Oracle: String =
    s"""WITH $greeksCte
       |SELECT trade_id, ep, option_type, T,
       |  ${duckRoundTo("bs_delta", 9)} AS bs_delta,
       |  ${duckRoundTo("adjusted_delta", 9)} AS adjusted_delta,
       |  ${duckRoundTo("gamma", 12)} AS gamma,
       |  ${duckRoundTo("vega", 9)} AS vega,
       |  ${duckRoundTo("theta", 9)} AS theta
       |FROM greeks_adj""".stripMargin

  // ---- M19: delta-hedged P&L replay ----

  def m19HedgedPnl(s: SparkSession, dir: String): DataFrame =
    Greeks.hedgedPnl(greeksDf(s, dir))

  val m19Oracle: String =
    s"""WITH $greeksCte,
       |base AS (
       |  SELECT * FROM greeks_adj
       |  WHERE adjusted_delta IS NOT NULL AND spot_price > 0
       |),
       |stp AS (
       |  SELECT *,
       |    lag(price) OVER w AS prev_price,
       |    lag(spot_price) OVER w AS prev_spot,
       |    lag(adjusted_delta) OVER w AS prev_delta
       |  FROM base
       |  WINDOW w AS (PARTITION BY instrument_name ORDER BY ep, trade_id)
       |),
       |fl AS (SELECT * FROM stp WHERE prev_price IS NOT NULL),
       |aggd AS (
       |  SELECT underlying, strftime(expiry, '%Y-%m-%d') AS expiry_date,
       |    count(*) AS n_steps,
       |    ${duckDsum("price - prev_price")} AS option_pnl,
       |    ${duckDsum(duckRoundTo(
              "prev_delta * (spot_price - prev_spot)", 6))} AS hedge_pnl
       |  FROM fl GROUP BY 1, 2
       |)
       |SELECT *, option_pnl - hedge_pnl AS hedged_pnl FROM aggd"""
      .stripMargin

  // ---- A14: portfolio greeks ----

  def a14Portfolio(s: SparkSession, dir: String): DataFrame =
    Greeks.portfolioGreeks(greeksDf(s, dir))

  val a14Oracle: String =
    s"""WITH $greeksCte,
       |valid_g AS (SELECT * FROM greeks_adj WHERE adjusted_delta IS NOT NULL)
       |SELECT * ,
       |  net_delta * spot_median AS dollar_delta,
       |  net_gamma * spot_median AS dollar_gamma
       |FROM (
       |  SELECT
       |    ${duckDsum("adjusted_delta * amount")} AS net_delta,
       |    ${duckDsum("gamma * amount")} AS net_gamma,
       |    ${duckDsum("vega * amount")} AS net_vega,
       |    ${duckDsum("theta * amount")} AS net_theta,
       |    median(spot_price) AS spot_median
       |  FROM valid_g
       |)""".stripMargin

  // ---- A15: greeks by moneyness bucket ----

  def a15ByBucket(s: SparkSession, dir: String): DataFrame =
    Greeks.greeksByBucket(
      greeksDf(s, dir).withColumn("moneyness_bucket",
        SpotProvider.moneynessBucket(col("moneyness"))))

  val a15Oracle: String = {
    val aggs = Seq("bs_delta", "adjusted_delta", "gamma", "vega", "theta")
      .map { g =>
        s"""  ${duckDavg(g)} AS ${g}_mean,
           |  ${duckStddevSamp(g)} AS ${g}_std,
           |  count($g) AS ${g}_count""".stripMargin
      }
      .mkString(",\n")
    s"""WITH $greeksCte
       |SELECT ${OracleCtes.moneynessBucketCase("moneyness")}
       |    AS moneyness_bucket,
       |$aggs
       |FROM greeks_adj
       |GROUP BY moneyness_bucket""".stripMargin
  }

  // ---- M20: implied-vol round-trip (price -> IV inversion) ----

  private val IvPanelRows = 250
  private val IvSolveTol = 1e-6

  /** Price→IV inversion demo over a bounded, deterministic panel:
    * each valid quote is forward-priced at its quoted IV
    * ([[graft.functions.ImpliedVol.bsCall]]), then the price is
    * inverted back by the codegen'd fixed-depth bisection
    * ([[graft.functions.ImpliedVolBisect]]). Echo+verify gate (the
    * EGARCH pattern): the panel, quoted IVs and target prices are
    * fully SQL-derived; the solved roots are pinned as exact double
    * literals and the oracle independently re-prices each pinned root
    * in SQL, deriving `solver_ok` = |BS(solved) − target| < 1e-6 on
    * its own — a broken solver pins roots the oracle re-prices far
    * from target, flipping its booleans against Spark's claim.
    * Tolerance headroom: 48 bisection steps leave a price residual
    * ≤ ~1e-10 while cross-engine libm drift is ≤ ~1e-9 — both orders
    * below the 1e-6 gate. */
  def m20ImpliedVol(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ImpliedVolColumns._
    val r = Greeks.DefaultRiskFreeRate
    val panel = greeksDf(s, dir)
      .filter(col("T") > 0 && col("iv") > 0 && col("spot_price") > 0 &&
        col("strike") > 0 && col("iv") < 4.5)
      .orderBy(col("trade_id")).limit(IvPanelRows)
    val priced = panel
      .withColumn("target_px", bsCall(col("spot_price"), col("strike"),
        col("T"), col("iv"), r))
      .withColumn("solved_iv", impliedVol(col("target_px"),
        col("spot_price"), col("strike"), col("T"), r))
      .select(col("trade_id"), Parity.epochS(col("timestamp")).as("ep"),
        col("option_type"), col("iv"), col("spot_price"), col("strike"),
        col("T"), col("target_px"), col("solved_iv"))
    // bounded-collect(IvPanelRows: the panel is .limit(IvPanelRows)
    // rows by construction — never corpus-proportional)
    val solved = graft.util.Caches.local(priced)
    val pins = solved.select(col("trade_id"), col("solved_iv")).collect()
      .map(row => row.getString(0) -> row.getDouble(1))
    DynamicOracles.put("m20_implied_vol", m20Oracle(pins))
    solved.select(
      col("trade_id"), col("ep"), col("option_type"),
      Parity.roundTo(col("iv"), 9).as("iv_quoted"),
      Parity.roundTo(col("target_px"), 6).as("target_px"),
      Parity.roundTo(col("solved_iv"), 9).as("solved_iv"),
      (abs(bsCall(col("spot_price"), col("strike"), col("T"),
        col("solved_iv"), r) - col("target_px")) < IvSolveTol)
        .as("solver_ok"))
  }

  /** One BS-call staging block (op-for-op [[ImpliedVol.bsCall]]):
    * d1/d2/erf/cdf from `sig`, producing column `out`. */
  private def duckBsStage(prev: String, tag: String, sig: String,
      out: String): String =
    s"""${tag}a AS (
       |  SELECT *, (ln(spot_price / strike) + (0.02 + $sig * $sig / 2.0)
       |      * T) / ($sig * sqt) AS ${tag}_d1
       |  FROM $prev
       |),
       |${tag}b AS (SELECT *, ${tag}_d1 - $sig * sqt AS ${tag}_d2 FROM ${tag}a),
       |${tag}c AS (SELECT *, ${tag}_d1 / sqrt(2.0) AS ${tag}_x1,
       |  ${tag}_d2 / sqrt(2.0) AS ${tag}_x2 FROM ${tag}b),
       |${tag}d AS (SELECT *, ${GraftMath.duckErf(s"${tag}_x1")} AS ${tag}_e1,
       |  ${GraftMath.duckErf(s"${tag}_x2")} AS ${tag}_e2 FROM ${tag}c),
       |${tag}e AS (
       |  SELECT *, spot_price * (0.5 * (1.0 + ${tag}_e1))
       |    - strike * exp(-(0.02 * T)) * (0.5 * (1.0 + ${tag}_e2)) AS $out
       |  FROM ${tag}d
       |)""".stripMargin

  private def m20Oracle(pins: Array[(String, Double)]): String =
    if (pins.isEmpty)
      """SELECT CAST(NULL AS VARCHAR) AS trade_id,
        |  CAST(NULL AS BIGINT) AS ep, CAST(NULL AS VARCHAR) AS option_type,
        |  CAST(NULL AS DOUBLE) AS iv_quoted, CAST(NULL AS DOUBLE) AS target_px,
        |  CAST(NULL AS DOUBLE) AS solved_iv, CAST(NULL AS BOOLEAN) AS solver_ok
        |WHERE false""".stripMargin
    else {
      val values = pins.map { case (id, siv) =>
        s"('${id.replace("'", "''")}', ${Parity.duckDoubleLit(siv)})"
      }.mkString(",\n    ")
      s"""WITH $greeksCte,
         |panel AS (
         |  SELECT trade_id, ep, option_type, spot_price, strike, T, iv,
         |    sqrtT AS sqt
         |  FROM g1 WHERE valid AND iv < 4.5
         |  ORDER BY trade_id LIMIT $IvPanelRows
         |),
         |${duckBsStage("panel", "t1", "iv", "target_px")},
         |pinned(trade_id, siv) AS (VALUES
         |    $values),
         |joined AS (SELECT t1e.*, pinned.siv FROM t1e
         |  JOIN pinned USING (trade_id)),
         |${duckBsStage("joined", "t2", "siv", "px_at_siv")}
         |SELECT trade_id, ep, option_type,
         |  ${duckRoundTo("iv", 9)} AS iv_quoted,
         |  ${duckRoundTo("target_px", 6)} AS target_px,
         |  ${duckRoundTo("siv", 9)} AS solved_iv,
         |  abs(px_at_siv - target_px) < $IvSolveTol AS solver_ok
         |FROM t2e""".stripMargin
    }

  // ---- M21: Breeden-Litzenberger risk-neutral density ----

  def m21RnDensity(s: SparkSession, dir: String): DataFrame =
    graft.operators.RnDensity.density(FeatureQueries.enrichedSpot(s, dir))

  /** Fully SQL-derived twin of [[graft.operators.RnDensity.density]]:
    * snapshot selection, common valuation time, BS pricing at the
    * quoted IVs (grid-quantized at 6 dp so the butterfly divided
    * differences run on identical doubles in both engines), ladder
    * windows and the convexity audit all restate in DuckDB. */
  val m21Oracle: String =
    s"""WITH ${OracleCtes.enrichedSpot},
       |v AS (
       |  SELECT * FROM enriched_spot
       |  WHERE iv > 0 AND spot_price > 0 AND strike > 0
       |),
       |lastq AS (
       |  SELECT underlying, expiry, strike, iv, ep, trade_id, spot_price
       |  FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY underlying, expiry, strike
       |      ORDER BY ep DESC, trade_id DESC) AS rn FROM v
       |  ) WHERE rn = 1
       |),
       |tr AS (SELECT max(ep) AS tref FROM lastq),
       |mx AS (SELECT underlying, max(ep) AS mep FROM lastq GROUP BY 1),
       |spotq AS (
       |  SELECT underlying, spot_price AS spot FROM (
       |    SELECT l.*, row_number() OVER (PARTITION BY l.underlying
       |      ORDER BY l.trade_id DESC) AS rn
       |    FROM lastq l JOIN mx ON mx.underlying = l.underlying
       |      AND l.ep = mx.mep
       |  ) WHERE rn = 1
       |),
       |base AS (
       |  SELECT l.underlying, l.expiry, l.strike, l.iv, s.spot,
       |    (${duckEpochS("CAST(l.expiry AS TIMESTAMP)")} - t.tref)
       |      / 31557600.0 AS T
       |  FROM lastq l JOIN spotq s USING (underlying) CROSS JOIN tr t
       |),
       |pos AS (
       |  SELECT *, spot AS spot_price, sqrt(T) AS sqt
       |  FROM base WHERE T > 0
       |),
       |${duckBsStage("pos", "d1", "iv", "px_raw")},
       |priced AS (
       |  SELECT underlying, expiry, strike, iv, T,
       |    ${duckRoundTo("px_raw", 6)} AS px,
       |    ${duckRoundTo("exp(0.02 * T)", 12)} AS disc
       |  FROM d1e
       |),
       |grid AS (
       |  SELECT *,
       |    lag(strike) OVER w AS k_prev, lead(strike) OVER w AS k_next,
       |    lag(px) OVER w AS px_prev, lead(px) OVER w AS px_next
       |  FROM priced
       |  WINDOW w AS (PARTITION BY underlying, expiry ORDER BY strike)
       |),
       |dens AS (
       |  SELECT *,
       |    disc * 2.0 * ((px_next - px) / (k_next - strike)
       |      - (px - px_prev) / (strike - k_prev)) / (k_next - k_prev)
       |      AS density
       |  FROM grid WHERE k_prev IS NOT NULL AND k_next IS NOT NULL
       |)
       |SELECT underlying, strftime(expiry, '%Y-%m-%d') AS expiry_date,
       |  strike, ${duckRoundTo("iv", 9)} AS iv_last, px AS call_px,
       |  density, density >= 0.0 AS convex_ok
       |FROM dens""".stripMargin

  // ---- M22: calendar-arbitrage audit (total implied variance) ----

  /** The term-structure dual of m21's butterfly audit: under
    * no-calendar-arbitrage, TOTAL implied variance w = σ²·T must be
    * non-decreasing in T along each underlying's ATM expiry ladder.
    * Snapshot = last ATM-bucket quote per (underlying, expiry)
    * (moneyness ∈ [0.95, 1.05), the reference's 'atm' bucket),
    * valued at the panel's max epoch; `calendar_ok` flags each
    * expiry-to-expiry step. Exact arithmetic throughout (iv and
    * epoch inputs are engine-identical), so the oracle re-derives
    * every column including the violation flags. One tape window
    * partitioned by (underlying, expiry), then expiry-count-sized
    * ladder windows — nothing scales with the tape beyond the first
    * exchange. */
  def m22CalendarArb(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val atm = FeatureQueries.enrichedSpot(s, dir)
      .filter(col("iv") > 0 && col("moneyness") >= 0.95 &&
        col("moneyness") < 1.05)
      .withColumn("ep", Parity.epochS(col("timestamp")))
    val wLast = Window.partitionBy(col("underlying"), col("expiry"))
      .orderBy(col("ep").desc, col("trade_id").desc)
    val lastQ = atm
      .withColumn("rn", row_number().over(wLast)).filter(col("rn") === 1)
      .select(col("underlying"), col("expiry"), col("iv"), col("ep"))
    val tref = lastQ.agg(max(col("ep")).as("tref"))
    val lad = Window.partitionBy(col("underlying")).orderBy(col("expiry"))
    lastQ
      .crossJoin(broadcast(tref))
      .withColumn("T",
        (unix_timestamp(col("expiry").cast("timestamp")) - col("tref"))
          / lit(Greeks.SecondsPerYear))
      .filter(col("T") > 0)
      .withColumn("w", col("iv") * col("iv") * col("T"))
      .withColumn("w_prev", lag(col("w"), 1).over(lad))
      .select(
        col("underlying"),
        date_format(col("expiry"), "yyyy-MM-dd").as("expiry_date"),
        col("T"),
        Parity.roundTo(col("iv"), 9).as("atm_iv"),
        col("w").as("total_var"),
        col("w_prev").as("prev_total_var"),
        (col("w_prev").isNull || col("w") >= col("w_prev"))
          .as("calendar_ok"))
  }

  val m22Oracle: String =
    s"""WITH ${OracleCtes.enrichedSpot},
       |atm AS (
       |  SELECT * FROM enriched_spot
       |  WHERE iv > 0 AND moneyness >= 0.95 AND moneyness < 1.05
       |),
       |lastq AS (
       |  SELECT underlying, expiry, iv, ep FROM (
       |    SELECT *, row_number() OVER (PARTITION BY underlying, expiry
       |      ORDER BY ep DESC, trade_id DESC) AS rn FROM atm
       |  ) WHERE rn = 1
       |),
       |tr AS (SELECT max(ep) AS tref FROM lastq),
       |pos AS (
       |  SELECT l.underlying, l.expiry, l.iv,
       |    (${duckEpochS("CAST(l.expiry AS TIMESTAMP)")} - t.tref)
       |      / 31557600.0 AS T
       |  FROM lastq l CROSS JOIN tr t
       |),
       |lad AS (
       |  SELECT *, iv * iv * T AS w,
       |    lag(iv * iv * T) OVER (PARTITION BY underlying
       |      ORDER BY expiry) AS w_prev
       |  FROM pos WHERE T > 0
       |)
       |SELECT underlying, strftime(expiry, '%Y-%m-%d') AS expiry_date, T,
       |  ${duckRoundTo("iv", 9)} AS atm_iv,
       |  w AS total_var, w_prev AS prev_total_var,
       |  (w_prev IS NULL OR w >= w_prev) AS calendar_ok
       |FROM lad""".stripMargin

  // ---- M23: Taylor P&L attribution ----

  def m23PnlAttribution(s: SparkSession, dir: String): DataFrame =
    Greeks.pnlAttribution(greeksDf(s, dir))

  /** Mirror of [[Greeks.pnlAttribution]]: same base filter, same
    * single instrument-keyed lag window as m19, every greek-carrying
    * term 6-dp-quantized before its exact decimal sum, explained/
    * residual assembled from the summed columns post-aggregate. */
  val m23Oracle: String =
    s"""WITH $greeksCte,
       |base AS (
       |  SELECT * FROM greeks_adj
       |  WHERE adjusted_delta IS NOT NULL AND spot_price > 0
       |),
       |stp AS (
       |  SELECT *,
       |    lag(price) OVER w AS prev_price,
       |    lag(spot_price) OVER w AS prev_spot,
       |    lag(iv) OVER w AS prev_iv,
       |    lag(ep) OVER w AS prev_ep,
       |    lag(adjusted_delta) OVER w AS prev_delta,
       |    lag(gamma) OVER w AS prev_gamma,
       |    lag(vega) OVER w AS prev_vega,
       |    lag(theta) OVER w AS prev_theta
       |  FROM base
       |  WINDOW w AS (PARTITION BY instrument_name ORDER BY ep, trade_id)
       |),
       |fl AS (SELECT * FROM stp WHERE prev_price IS NOT NULL),
       |aggd AS (
       |  SELECT underlying, strftime(expiry, '%Y-%m-%d') AS expiry_date,
       |    count(*) AS n_steps,
       |    ${duckDsum("price - prev_price")} AS option_pnl,
       |    ${duckDsum(duckRoundTo(
              "prev_delta * (spot_price - prev_spot)", 6))} AS delta_pnl,
       |    ${duckDsum(duckRoundTo(
              "0.5 * prev_gamma * (spot_price - prev_spot)" +
                " * (spot_price - prev_spot)", 6))} AS gamma_pnl,
       |    ${duckDsum(duckRoundTo(
              "prev_vega * ((iv - prev_iv) * 100.0)", 6))} AS vega_pnl,
       |    ${duckDsum(duckRoundTo(
              "prev_theta * (CAST(ep - prev_ep AS DOUBLE) / 86400.0)",
              6))} AS theta_pnl
       |  FROM fl GROUP BY 1, 2
       |)
       |SELECT *,
       |  delta_pnl + gamma_pnl + vega_pnl + theta_pnl AS explained_pnl,
       |  option_pnl - (delta_pnl + gamma_pnl + vega_pnl + theta_pnl)
       |    AS residual_pnl
       |FROM aggd""".stripMargin

  // ---- A33: gamma-exposure profile by strike ----

  def a33GammaExposure(s: SparkSession, dir: String): DataFrame =
    Greeks.gammaExposure(greeksDf(s, dir))

  /** Full GEX chain re-derived on the shared greeks CTE: 12-dp γ
    * grid, decimal per-strike sums, DECIMAL cumulative profile (the
    * segment-tree-safe spelling) and the flip flag. */
  val a33Oracle: String =
    s"""WITH $greeksCte,
       |gx AS (
       |  SELECT underlying, strike, option_type,
       |    ${duckRoundTo("gamma", 12)} * amount * spot_price
       |      * spot_price * 0.01
       |      * (CASE WHEN option_type = 'C' THEN 1.0 ELSE -1.0 END)
       |      AS gex
       |  FROM greeks_adj WHERE gamma IS NOT NULL AND spot_price > 0
       |),
       |ps AS (
       |  SELECT underlying, strike, count(*) AS n_trades,
       |    sum(CAST(gex AS DECIMAL(28,6))) AS gd,
       |    sum(CAST(CASE WHEN option_type = 'C' THEN gex END
       |      AS DECIMAL(28,6))) AS gc,
       |    sum(CAST(CASE WHEN option_type = 'P' THEN gex END
       |      AS DECIMAL(28,6))) AS gp
       |  FROM gx GROUP BY 1, 2
       |),
       |c1 AS (
       |  SELECT *, sum(gd) OVER (PARTITION BY underlying ORDER BY strike
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM ps
       |),
       |c2 AS (
       |  SELECT *, lag(cum) OVER (PARTITION BY underlying
       |    ORDER BY strike) AS prev
       |  FROM c1
       |)
       |SELECT underlying, strike, n_trades,
       |  CAST(gc AS DOUBLE) AS gex_calls,
       |  CAST(gp AS DOUBLE) AS gex_puts,
       |  CAST(gd AS DOUBLE) AS gex_net,
       |  CAST(cum AS DOUBLE) AS cum_gex,
       |  (prev IS NOT NULL AND ((cum >= 0) != (prev >= 0))) AS is_flip
       |FROM c2""".stripMargin

  // ---- M33: second-order greeks (vanna / vomma / charm) ----

  def m33SecondOrder(s: SparkSession, dir: String): DataFrame =
    Greeks.secondOrderGreeks(FeatureQueries.enrichedSpot(s, dir)).select(
      col("trade_id"),
      Parity.epochS(col("timestamp")).as("ep"),
      col("option_type"),
      Parity.roundTo(col("vanna"), 9).as("vanna"),
      Parity.roundTo(col("vomma"), 9).as("vomma"),
      Parity.roundTo(col("charm"), 9).as("charm"))

  /** Same stage-by-stage CTE chain as m1 — vanna/vomma/charm are
    * three extra projections over the shared d1/d2/φ columns. */
  val m33Oracle: String =
    s"""WITH $greeksCte
       |SELECT trade_id, ep, option_type,
       |  ${duckRoundTo("(-(pdf1 * d2)) / iv", 9)} AS vanna,
       |  ${duckRoundTo(
            "spot_price * pdf1 * sqrtT * d1 * d2 / iv / 100.0", 9)}
       |    AS vomma,
       |  ${duckRoundTo(
            "(-(pdf1 * (0.04 * T - d2 * iv * sqrtT)))" +
              " / (2.0 * T * iv * sqrtT) / 365.25", 9)} AS charm
       |FROM greeks_adj""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "m33_second_order" -> QueryDef(m33SecondOrder _, m33Oracle),
    "a33_gamma_exposure" -> QueryDef(a33GammaExposure _, a33Oracle),
    "m1_greeks" -> QueryDef(m1Greeks _, m1Oracle),
    "m19_hedged_pnl" -> QueryDef(m19HedgedPnl _, m19Oracle),
    "m23_pnl_attribution" -> QueryDef(m23PnlAttribution _, m23Oracle),
    "m20_implied_vol" -> QueryDef(m20ImpliedVol _, None),
    "m21_rn_density" -> QueryDef(m21RnDensity _, m21Oracle),
    "m22_calendar_arb" -> QueryDef(m22CalendarArb _, m22Oracle),
    "a14_portfolio_greeks" -> QueryDef(a14Portfolio _, a14Oracle),
    "a15_greeks_by_bucket" -> QueryDef(a15ByBucket _, a15Oracle))
}
