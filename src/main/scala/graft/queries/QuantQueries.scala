package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Liquidity, PricePath, SmileWings, SpotCorr, VarSwap}
import graft.options.SyntheticTrades
import graft.util.Parity._

/** Round-10 quant additions beyond the reference — the var-swap /
  * VIX-style strike-ladder integral, smile-wing RR/BF quotes,
  * put–call parity audit, volume concentration, and the price-path
  * family (drawdown, vol cone, return ACF). Every entry is
  * oracle-gated; exactness contracts live with the operators. */
object QuantQueries {

  private def trades(s: SparkSession, dir: String): DataFrame =
    SyntheticTrades.trades(s, dir)

  private def ticks(s: SparkSession, dir: String): DataFrame =
    SyntheticTrades.spotTicks(s, dir)

  // ---- M12: model-free implied variance (VIX-style) ----

  def m12VarSwap(s: SparkSession, dir: String): DataFrame =
    VarSwap.impliedVariance(trades(s, dir))

  val m12Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |ladder0 AS (
       |  SELECT underlying, expiry, strike, option_type,
       |    ${duckDavg("mark_price")} AS q,
       |    min(CAST("timestamp" AS DATE)) AS d0
       |  FROM trades WHERE mark_price > 0 AND strike > 0
       |  GROUP BY 1, 2, 3, 4
       |),
       |ladder AS (
       |  SELECT underlying, expiry, strike,
       |    max(CASE WHEN option_type = 'C' THEN q END) AS qc,
       |    max(CASE WHEN option_type = 'P' THEN q END) AS qp,
       |    min(d0) AS d0
       |  FROM ladder0 GROUP BY 1, 2, 3
       |),
       |fp AS (
       |  SELECT underlying, expiry, strike, qc, qp,
       |    row_number() OVER (PARTITION BY underlying, expiry
       |      ORDER BY abs(qc - qp), strike) AS rn
       |  FROM ladder WHERE qc IS NOT NULL AND qp IS NOT NULL
       |),
       |fwd AS (
       |  SELECT underlying, expiry, strike + (qc - qp) AS fwd
       |  FROM fp WHERE rn = 1
       |),
       |k0t AS (
       |  SELECT l.underlying, l.expiry,
       |    coalesce(max(CASE WHEN l.strike <= f.fwd THEN l.strike END),
       |      min(l.strike)) AS k0,
       |    max(f.fwd) AS fwd, min(l.d0) AS min_d
       |  FROM ladder l
       |  JOIN fwd f ON f.underlying = l.underlying AND f.expiry = l.expiry
       |  GROUP BY 1, 2
       |),
       |sel AS (
       |  SELECT l.underlying, l.expiry, l.strike, k.k0, k.fwd, k.min_d,
       |    CASE WHEN l.strike < k.k0 THEN l.qp
       |         WHEN l.strike > k.k0 THEN l.qc
       |         ELSE coalesce((l.qc + l.qp) / 2.0, l.qc, l.qp) END AS q_sel
       |  FROM ladder l
       |  JOIN k0t k ON k.underlying = l.underlying AND k.expiry = l.expiry
       |),
       |spaced AS (
       |  SELECT *,
       |    lag(strike) OVER w AS k_prev,
       |    lead(strike) OVER w AS k_next
       |  FROM sel WHERE q_sel IS NOT NULL
       |  WINDOW w AS (PARTITION BY underlying, expiry ORDER BY strike)
       |),
       |terms AS (
       |  SELECT *,
       |    CASE WHEN k_prev IS NULL THEN k_next - strike
       |         WHEN k_next IS NULL THEN strike - k_prev
       |         ELSE (k_next - k_prev) / 2.0 END AS dk
       |  FROM spaced
       |),
       |aggd AS (
       |  SELECT underlying, expiry,
       |    count(*) AS n_strikes,
       |    ${duckDsum("dk / (strike * strike) * q_sel * 1.0E6")} / 1.0E6
       |      AS contrib,
       |    max(fwd) AS fwd, max(k0) AS k0,
       |    CAST(date_diff('day', max(min_d), max(expiry)) AS DOUBLE) / 365.0
       |      AS t_years
       |  FROM terms WHERE dk IS NOT NULL
       |  GROUP BY 1, 2
       |)
       |SELECT underlying, strftime(expiry, '%Y-%m-%d') AS expiry_date,
       |  n_strikes, t_years, fwd, k0, contrib,
       |  ${VarSwap.varExpr} AS var_swap,
       |  CASE WHEN ${VarSwap.varExpr} >= 0
       |       THEN sqrt(${VarSwap.varExpr}) * 100.0 END AS vix_style
       |FROM aggd""".stripMargin

  // ---- A25: smile-wing RR/BF quotes ----

  def a25WingQuotes(s: SparkSession, dir: String): DataFrame =
    SmileWings.wingQuotes(trades(s, dir))

  private def wingCte(name: String, distCol: String, typeFilter: String) =
    s"""$name AS (
       |  SELECT underlying, expiry, iv FROM (
       |    SELECT underlying, expiry, iv,
       |      row_number() OVER (PARTITION BY underlying, expiry
       |        ORDER BY $distCol, trade_id) AS rn
       |    FROM q $typeFilter
       |  ) WHERE rn = 1
       |)""".stripMargin

  val a25Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |q AS (
       |  SELECT underlying, expiry, trade_id, option_type, iv,
       |    abs(strike / index_price - 1.05) AS dc,
       |    abs(strike / index_price - 0.95) AS dp,
       |    abs(strike / index_price - 1.0) AS da
       |  FROM trades
       |  WHERE iv IS NOT NULL AND index_price IS NOT NULL
       |    AND index_price > 0 AND strike > 0
       |),
       |${wingCte("cw", "dc", "WHERE option_type = 'C'")},
       |${wingCte("pw", "dp", "WHERE option_type = 'P'")},
       |${wingCte("aw", "da", "")},
       |base AS (
       |  SELECT underlying, expiry, count(*) AS n_quotes
       |  FROM q GROUP BY 1, 2
       |)
       |SELECT b.underlying, strftime(b.expiry, '%Y-%m-%d') AS expiry_date,
       |  b.n_quotes,
       |  c.iv AS iv_call_wing, p.iv AS iv_put_wing, a.iv AS iv_atm,
       |  c.iv - p.iv AS risk_reversal,
       |  (c.iv + p.iv) / 2.0 - a.iv AS butterfly
       |FROM base b
       |LEFT JOIN cw c ON c.underlying = b.underlying AND c.expiry = b.expiry
       |LEFT JOIN pw p ON p.underlying = b.underlying AND p.expiry = b.expiry
       |LEFT JOIN aw a ON a.underlying = b.underlying AND a.expiry = b.expiry
       |""".stripMargin

  // ---- A26: maximum drawdown ----

  def a26Drawdown(s: SparkSession, dir: String): DataFrame =
    PricePath.maxDrawdown(ticks(s, dir))

  private val dailyCte: String =
    s"""${SyntheticTrades.spotCte},
       |daily AS (
       |  SELECT symbol, ${duckEpochS("\"timestamp\"")} // 86400 AS day,
       |    arg_max(close, "timestamp") AS close
       |  FROM spot_ticks GROUP BY 1, 2
       |)""".stripMargin

  val a26Oracle: String =
    s"""WITH $dailyCte,
       |dd AS (
       |  SELECT symbol, day, close, max(close) OVER (
       |    PARTITION BY symbol ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
       |  FROM daily
       |),
       |r AS (
       |  SELECT symbol, day, peak, close / peak - 1.0 AS ddv,
       |    row_number() OVER (PARTITION BY symbol
       |      ORDER BY close / peak - 1.0, day) AS rn,
       |    count(*) OVER (PARTITION BY symbol) AS n
       |  FROM dd
       |)
       |SELECT symbol, n AS n_days, ddv AS max_drawdown,
       |  day AS trough_day, peak AS peak_close
       |FROM r WHERE rn = 1""".stripMargin

  // ---- M13: realized-vol cone ----

  def m13VolCone(s: SparkSession, dir: String): DataFrame =
    PricePath.volCone(ticks(s, dir))

  private val retsCte: String =
    s"""$dailyCte,
       |rets AS (
       |  SELECT symbol, day,
       |    CAST(close / lag(close) OVER (
       |      PARTITION BY symbol ORDER BY day) - 1.0
       |      AS DECIMAL(12,8)) AS rq
       |  FROM daily
       |  QUALIFY rq IS NOT NULL
       |)""".stripMargin

  val m13Oracle: String = {
    def roll(h: Int) =
      s"""sum(rq * rq) OVER (PARTITION BY symbol ORDER BY day
         |      RANGE BETWEEN ${h - 1} PRECEDING AND CURRENT ROW) AS s2_$h,
         |    count(*) OVER (PARTITION BY symbol ORDER BY day
         |      RANGE BETWEEN ${h - 1} PRECEDING AND CURRENT ROW) AS nw_$h"""
        .stripMargin
    s"""WITH $retsCte,
       |roll AS (
       |  SELECT symbol, day,
       |    ${roll(7)},
       |    ${roll(30)}
       |  FROM rets
       |),
       |long AS (
       |  SELECT symbol, 7 AS horizon, nw_7 AS nw, s2_7 AS s2 FROM roll
       |  UNION ALL
       |  SELECT symbol, 30 AS horizon, nw_30 AS nw, s2_30 AS s2 FROM roll
       |),
       |vols AS (
       |  SELECT symbol, horizon,
       |    sqrt(CAST(CAST(s2 AS DECIMAL(24,16)) AS DOUBLE)
       |      * 365.0 / horizon) AS vol
       |  FROM long WHERE nw = horizon
       |)
       |SELECT symbol, horizon, count(*) AS n_windows,
       |  min(vol) AS vol_min, max(vol) AS vol_max,
       |  ${duckDsum("vol * 1.0E3")} / 1.0E3 / count(*) AS vol_avg
       |FROM vols GROUP BY 1, 2""".stripMargin
  }

  // ---- M14: daily-return autocorrelation ----

  def m14ReturnAcf(s: SparkSession, dir: String): DataFrame =
    PricePath.returnAcf(ticks(s, dir))

  /** The m14 ACF derivation as a CTE chain ending in `acfd` —
    * shared by the m14 gate and the m36 Ljung–Box built on it. */
  private val acfCtes: String = {
    val lagSel = (1 to 3).map(l =>
      s"lag(rq, $l) OVER (PARTITION BY symbol ORDER BY day) AS rl_$l")
      .mkString(",\n    ")
    val unions = (1 to 3).map(l =>
      s"""SELECT symbol, $l AS "lag", rq, rl_$l AS rl FROM lagd""")
      .mkString("\n  UNION ALL\n  ")
    def d24(e: String) = s"CAST(CAST(sum($e) AS DECIMAL(24,16)) AS DOUBLE)"
    s"""$retsCte,
       |lagd AS (
       |  SELECT symbol, day, rq,
       |    $lagSel
       |  FROM rets
       |),
       |long AS (
       |  $unions
       |),
       |aggd AS (
       |  SELECT symbol, "lag", count(*) AS n_pairs,
       |    ${d24("rq")} AS sx, ${d24("rl")} AS sy,
       |    ${d24("rq * rl")} AS sxy,
       |    ${d24("rq * rq")} AS sxx, ${d24("rl * rl")} AS syy
       |  FROM long WHERE rl IS NOT NULL
       |  GROUP BY 1, 2
       |),
       |acfd AS (
       |  SELECT symbol, "lag", n_pairs, ${SpotCorr.corrExpr} AS acf
       |  FROM (SELECT *, CAST(n_pairs AS DOUBLE) AS nd FROM aggd)
       |)""".stripMargin
  }

  val m14Oracle: String =
    s"""WITH $acfCtes
       |SELECT symbol, "lag", n_pairs, acf FROM acfd""".stripMargin

  def m36LjungBox(s: SparkSession, dir: String): DataFrame =
    PricePath.ljungBox(ticks(s, dir))

  /** M36: the Ljung–Box statistic re-derived over the SAME acf chain
    * the m14 gate verifies — pivot, explicit (t1 + t2 + t3)
    * association, χ² literal via duckDoubleLit. */
  val m36Oracle: String = {
    val crit = graft.util.Parity.duckDoubleLit(PricePath.Chi2Crit95Df3)
    val ts = (1 to 3).map(l =>
      s"""    max(CASE WHEN "lag" = $l
         |      THEN acf * acf / CAST(n_pairs AS DOUBLE) END) AS t$l"""
        .stripMargin).mkString(",\n")
    s"""WITH $acfCtes,
       |pv AS (
       |  SELECT symbol,
       |    max(CASE WHEN "lag" = 1 THEN n_pairs END) AS np1,
       |$ts
       |  FROM acfd GROUP BY 1
       |)
       |SELECT symbol, np1 + 1 AS n_obs,
       |  CAST(np1 + 1 AS DOUBLE) * (CAST(np1 + 1 AS DOUBLE) + 2.0)
       |    * (t1 + t2 + t3) AS q_lb,
       |  CAST(np1 + 1 AS DOUBLE) * (CAST(np1 + 1 AS DOUBLE) + 2.0)
       |    * (t1 + t2 + t3) > $crit AS reject_5pct
       |FROM pv""".stripMargin
  }

  // ---- A27: volume-concentration HHI ----

  def a27VolumeHhi(s: SparkSession, dir: String): DataFrame =
    Liquidity.volumeHhi(trades(s, dir))

  val a27Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |pc AS (
       |  SELECT underlying, ${duckEpochS("\"timestamp\"")} // 86400 AS day,
       |    instrument_name,
       |    CAST(sum(CAST(amount AS DECIMAL(28,6))) AS DECIMAL(20,6)) AS v
       |  FROM trades GROUP BY 1, 2, 3
       |),
       |aggd AS (
       |  SELECT underlying, day, count(*) AS n_contracts,
       |    CAST(sum(v) AS DOUBLE) AS total_volume,
       |    ${duckDsum("CAST(v AS DOUBLE) * CAST(v AS DOUBLE)")} AS ssq,
       |    CAST(max(v) AS DOUBLE) AS top_volume
       |  FROM pc GROUP BY 1, 2
       |)
       |SELECT underlying, day, n_contracts, total_volume,
       |  ssq / (total_volume * total_volume) AS hhi,
       |  top_volume / total_volume AS top_share
       |FROM aggd""".stripMargin

  // ---- A28: put–call parity audit ----

  private val ParityThreshold = 25.0

  def a28ParityAudit(s: SparkSession, dir: String): DataFrame =
    Liquidity.parityViolations(trades(s, dir), ParityThreshold)

  val a28Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |q AS (
       |  SELECT underlying, expiry, strike,
       |    ${duckDavg("CASE WHEN option_type = 'C' THEN price END")}
       |      AS c_avg,
       |    ${duckDavg("CASE WHEN option_type = 'P' THEN price END")}
       |      AS p_avg,
       |    ${duckDavg("index_price")} AS s_avg
       |  FROM trades WHERE price > 0 AND strike > 0
       |  GROUP BY 1, 2, 3
       |),
       |g AS (
       |  SELECT underlying, expiry,
       |    (c_avg - p_avg) - (s_avg - strike) AS gap
       |  FROM q
       |  WHERE c_avg IS NOT NULL AND p_avg IS NOT NULL
       |    AND s_avg IS NOT NULL
       |)
       |SELECT underlying, strftime(expiry, '%Y-%m-%d') AS expiry_date,
       |  count(*) AS n_strikes,
       |  count(CASE WHEN abs(gap) > $ParityThreshold THEN 1 END)
       |    AS n_violations,
       |  CAST(count(CASE WHEN abs(gap) > $ParityThreshold THEN 1 END)
       |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS violation_rate,
       |  max(abs(gap)) AS max_abs_gap,
       |  ${duckDsum("abs(gap)")} / count(*) AS mean_abs_gap
       |FROM g GROUP BY 1, 2""".stripMargin

  // ---- M15: rolling 7-day beta/corr ----

  def m15RollingBeta(s: SparkSession, dir: String): DataFrame =
    SpotCorr.rollingBeta(ticks(s, dir))

  val m15Oracle: String = {
    def d24(e: String) = s"CAST(CAST(($e) AS DECIMAL(24,16)) AS DOUBLE)"
    s"""WITH $retsCte,
       |j AS (
       |  SELECT b.day, b.rq AS xq, e.rq AS yq
       |  FROM rets b JOIN rets e USING (day)
       |  WHERE b.symbol = 'BTC' AND e.symbol = 'ETH'
       |),
       |roll AS (
       |  SELECT day,
       |    count(*) OVER w AS nw,
       |    ${d24("sum(xq) OVER w")} AS sx,
       |    ${d24("sum(yq) OVER w")} AS sy,
       |    ${d24("sum(xq * yq) OVER w")} AS sxy,
       |    ${d24("sum(xq * xq) OVER w")} AS sxx,
       |    ${d24("sum(yq * yq) OVER w")} AS syy
       |  FROM j
       |  WINDOW w AS (ORDER BY day
       |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
       |)
       |SELECT day, ${SpotCorr.corrExpr} AS corr_w,
       |  ${SpotCorr.betaExpr} AS beta_w
       |FROM (SELECT *, CAST(nw AS DOUBLE) AS nd FROM roll WHERE nw = 7)"""
      .stripMargin
  }

  // ---- A29: hour-of-day seasonality profile ----

  def a29HourProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Seasonality.hourProfile(trades(s, dir))

  val a29Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |hourly AS (
       |  SELECT underlying,
       |    CAST((${duckEpochS("\"timestamp\"")} // 3600) % 24 AS INTEGER)
       |      AS hour,
       |    count(*) AS n_trades,
       |    sum(CAST(amount AS DECIMAL(28,6))) AS vol_dec
       |  FROM trades GROUP BY 1, 2
       |)
       |SELECT underlying, hour, n_trades,
       |  CAST(vol_dec AS DOUBLE) AS volume,
       |  CAST(vol_dec AS DOUBLE) / CAST(sum(vol_dec)
       |    OVER (PARTITION BY underlying) AS DOUBLE) AS volume_share,
       |  row_number() OVER (PARTITION BY underlying
       |    ORDER BY n_trades DESC, hour) = 1 AS is_peak
       |FROM hourly""".stripMargin

  // ---- A30: price-level volume profile / point of control ----

  def a30VolumeProfile(s: SparkSession, dir: String): DataFrame =
    Liquidity.volumeProfile(trades(s, dir))

  val a30Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |prof AS (
       |  SELECT underlying,
       |    CAST(floor(price / 1.0) AS BIGINT) AS bin,
       |    count(*) AS n_trades,
       |    sum(CAST(amount AS DECIMAL(28,6))) AS vol_dec
       |  FROM trades WHERE price > 0
       |  GROUP BY 1, 2
       |)
       |SELECT underlying, bin, n_trades,
       |  CAST(vol_dec AS DOUBLE) AS volume,
       |  CAST(vol_dec AS DOUBLE) / CAST(sum(vol_dec)
       |    OVER (PARTITION BY underlying) AS DOUBLE) AS volume_share,
       |  row_number() OVER (PARTITION BY underlying
       |    ORDER BY vol_dec DESC, bin) = 1 AS is_poc
       |FROM prof""".stripMargin

  // ---- M24: IV term-structure PCA (echo+verify) ----

  /** SQL spelling of the daily panel → exact 4×4 covariance chain —
    * shared by the dynamic oracle so every aggregation stage of
    * [[graft.operators.TermPca]] is independently re-derived. */
  private val m24CovCte: String = {
    val ids = 0 until 4
    val sums = ids.map(i => s"${duckDsum(s"b$i")} AS s$i") ++
      (for (i <- ids; j <- i until 4)
        yield s"${duckDsum(s"b$i * b$j")} AS s${i}_$j")
    val covs = for (i <- ids; j <- i until 4) yield
      s"(s${i}_$j - s$i * s$j / CAST(n AS DOUBLE))" +
        s" / (CAST(n AS DOUBLE) - 1.0) AS c${i}_$j"
    s"""pb AS (
       |  SELECT strftime("timestamp", '%Y-%m-%d') AS day,
       |    CASE WHEN dte <= 21 THEN 0 WHEN dte <= 36 THEN 1
       |         WHEN dte <= 51 THEN 2 ELSE 3 END AS b,
       |    ${duckRoundTo(duckDavg("iv"), 6)} AS biv
       |  FROM (SELECT iv, "timestamp",
       |          date_diff('day', CAST("timestamp" AS DATE), expiry) AS dte
       |        FROM trades WHERE iv IS NOT NULL)
       |  GROUP BY 1, 2
       |),
       |wide AS (
       |  SELECT day,
       |    max(CASE WHEN b = 0 THEN biv END) AS b0,
       |    max(CASE WHEN b = 1 THEN biv END) AS b1,
       |    max(CASE WHEN b = 2 THEN biv END) AS b2,
       |    max(CASE WHEN b = 3 THEN biv END) AS b3
       |  FROM pb GROUP BY 1
       |),
       |panel AS (
       |  SELECT * FROM wide
       |  WHERE b0 IS NOT NULL AND b1 IS NOT NULL
       |    AND b2 IS NOT NULL AND b3 IS NOT NULL
       |),
       |mo AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, ${sums.mkString(",\n    ")}
       |  FROM panel
       |),
       |cv AS (SELECT n, ${covs.mkString(",\n    ")} FROM mo)""".stripMargin
  }

  /** The pinned-eigenpair gate: loadings/λ echoed as exact literals,
    * covariance re-derived in SQL, `eigen_ok` = ‖Cv − λv‖∞ < 1e-8
    * and the λ/trace share DERIVED — a wrong eigenpair or any panel
    * drift breaks the hash. */
  private def m24Oracle(lambda: Double, v: Array[Double]): String = {
    import graft.operators.TermPca.BucketNames
    def cc(i: Int, j: Int) = if (i <= j) s"c${i}_$j" else s"c${j}_$i"
    val lamL = duckDoubleLit(lambda)
    val vL = v.map(duckDoubleLit)
    val resid = (0 until 4).map { i =>
      val cv = (0 until 4).map(j => s"${cc(i, j)} * ${vL(j)}")
        .mkString(" + ")
      s"abs(($cv) - $lamL * ${vL(i)})"
    }.mkString("greatest(", ", ", ")")
    val rows = BucketNames.zipWithIndex.map { case (bn, i) =>
      s"('$bn', ${vL(i)})"
    }.mkString(", ")
    val norm2 = vL.map(x => s"$x * $x").mkString(" + ")
    s"""WITH ${SyntheticTrades.tradesCte},
       |$m24CovCte
       |SELECT bucket, loading, $lamL AS lambda1,
       |  $lamL / (c0_0 + c1_1 + c2_2 + c3_3) AS explained_frac,
       |  ($resid < 1.0E-8) AS eigen_ok,
       |  (abs(($norm2) - 1.0) < 1.0E-12) AS norm_ok
       |FROM (VALUES $rows) AS t(bucket, loading), cv""".stripMargin
  }

  def m24TermPca(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.{EmbedPca, TermPca}
    val panel = TermPca.dailyPanel(trades(s, dir))
    val (c, _) = EmbedPca.covFromMoments(
      TermPca.momentSums(panel).head(), dim = 4)
    val (lambda, v) = EmbedPca.topEigen(c, iters = 100)
    val trace = (0 until 4).map(i => c(i)(i)).sum
    val resid = (0 until 4).map { i =>
      math.abs((0 until 4).map(j => c(i)(j) * v(j)).sum - lambda * v(i))
    }.max
    val eigenOk = resid < 1e-8
    val normOk = math.abs(v.map(x => x * x).sum - 1.0) < 1e-12
    DynamicOracles.put("m24_term_pca", m24Oracle(lambda, v))
    TermPca.BucketNames.zipWithIndex.map { case (bn, i) =>
      (bn, v(i), lambda, lambda / trace, eigenOk, normOk)
    }.toDF("bucket", "loading", "lambda1", "explained_frac",
      "eigen_ok", "norm_ok")
  }

  val defs: Map[String, QueryDef] = Map(
    "m24_term_pca" -> QueryDef(m24TermPca _, None),
    "a30_volume_profile" -> QueryDef(a30VolumeProfile _, a30Oracle),
    "m15_rolling_beta" -> QueryDef(m15RollingBeta _, m15Oracle),
    "a29_hour_profile" -> QueryDef(a29HourProfile _, a29Oracle),
    "m12_var_swap" -> QueryDef(m12VarSwap _, m12Oracle),
    "a25_wing_quotes" -> QueryDef(a25WingQuotes _, a25Oracle),
    "a26_drawdown" -> QueryDef(a26Drawdown _, a26Oracle),
    "m13_vol_cone" -> QueryDef(m13VolCone _, m13Oracle),
    "m14_return_acf" -> QueryDef(m14ReturnAcf _, m14Oracle),
    "m36_ljung_box" -> QueryDef(m36LjungBox _, m36Oracle),
    "a27_volume_hhi" -> QueryDef(a27VolumeHhi _, a27Oracle),
    "a28_parity_audit" -> QueryDef(a28ParityAudit _, a28Oracle))
}
