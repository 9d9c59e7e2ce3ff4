package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-asset realized correlation — BTC vs ETH daily spot returns
  * (the pair-level companion of M7's per-asset realized vol; the
  * reference stores both underlyings side by side but never relates
  * them). Pipeline shape at 100 TB:
  *
  *   1. tick → daily close: one hash aggregate keyed (symbol, day)
  *      with `max_by(close, timestamp)` map-side partials — the only
  *      corpus-sized shuffle;
  *   2. daily returns: a lag window over the TINY (symbols × days)
  *      table;
  *   3. BTC/ETH alignment: an equi-join of two projections of that
  *      tiny table on day;
  *   4. Pearson/beta in ONE global aggregate: returns are quantized
  *      once to DECIMAL(12,8) (the only double→decimal rounding),
  *      the squares/cross products and their sums are pure decimal
  *      arithmetic — exact on both engines — and the final algebra
  *      is spelled from the same strings in Spark and the oracle
  *      (sqrt is IEEE-exact on both, so outputs stay raw doubles).
  */
object SpotCorr {

  /** Correlation/beta expressions over the aligned-return sums —
    * shared verbatim with the DuckDB oracle. x = BTC return,
    * y = ETH return. */
  val covExpr: String = "(nd*sxy - sx*sy)"
  val varxExpr: String = "(nd*sxx - sx*sx)"
  val varyExpr: String = "(nd*syy - sy*sy)"
  val corrExpr: String =
    s"$covExpr / nullif(sqrt($varxExpr * $varyExpr), 0.0)"
  val betaExpr: String = s"$covExpr / nullif($varxExpr, 0.0)"

  /** M15: rolling 7-day beta/corr of ETH on BTC — the time-resolved
    * view of [[realizedCorr]]. Same aligned-return construction; the
    * five sums become range windows over the TINY aligned-day table
    * (one partition key — the pair — but day-count-sized rows), each
    * window sum pure decimal arithmetic rendered through the same
    * DECIMAL(24,16) gate, then the shared Pearson/beta algebra per
    * day. Full windows only. */
  def rollingBeta(ticks: DataFrame, windowDays: Int = 7): DataFrame = {
    val d24 = org.apache.spark.sql.types.DataTypes.createDecimalType(24, 16)
    val aligned = alignedReturns(ticks)
    // bounded-window(one row per aligned calendar day)
    val w = Window.orderBy(col("day"))
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    val dbl = (c: org.apache.spark.sql.Column) => c.cast(d24).cast("double")
    aligned
      .withColumn("nw", count(lit(1)).over(w))
      .withColumn("sx", dbl(sum(col("xq")).over(w)))
      .withColumn("sy", dbl(sum(col("yq")).over(w)))
      .withColumn("sxy", dbl(sum(col("xq") * col("yq")).over(w)))
      .withColumn("sxx", dbl(sum(col("xq") * col("xq")).over(w)))
      .withColumn("syy", dbl(sum(col("yq") * col("yq")).over(w)))
      .filter(col("nw") === windowDays)
      .withColumn("nd", col("nw").cast("double"))
      .withColumn("corr_w", expr(corrExpr))
      .withColumn("beta_w", expr(betaExpr))
      .select("day", "corr_w", "beta_w")
  }

  /** Aligned quantized (day, BTC return, ETH return) table — the
    * shared head of [[realizedCorr]] and [[rollingBeta]]. */
  def alignedReturns(ticks: DataFrame): DataFrame = {
    val ep = unix_timestamp(col("timestamp"))
    val daily = ticks
      .withColumn("_ep", ep)
      .withColumn("day", expr("_ep div 86400L"))
      .groupBy(col("symbol"), col("day"))
      .agg(max_by(col("close"), col("timestamp")).as("close"))
    val w = Window.partitionBy(col("symbol")).orderBy(col("day"))
    val rets = daily
      .withColumn("prev", lag(col("close"), 1).over(w))
      .withColumn("r", col("close") / col("prev") - 1.0)
      .filter(col("r").isNotNull)
    val d8 = org.apache.spark.sql.types.DataTypes.createDecimalType(12, 8)
    val x = rets.filter(col("symbol") === "BTC")
      .select(col("day"), col("r").cast(d8).as("xq"))
    val y = rets.filter(col("symbol") === "ETH")
      .select(col("day"), col("r").cast(d8).as("yq"))
    x.join(y, Seq("day"))
  }

  /** Daily closes are last-tick-of-day via `max_by(close, timestamp)`
    * — the same convention the verified spot-bar dictionary (a17)
    * uses, deterministic on the synthetic feed. */
  def realizedCorr(ticks: DataFrame): DataFrame = {
    val ep = unix_timestamp(col("timestamp"))
    val daily = ticks
      .withColumn("_ep", ep)
      .withColumn("day", expr("_ep div 86400L"))
      .groupBy(col("symbol"), col("day"))
      .agg(max_by(col("close"), col("timestamp")).as("close"))
    val w = Window.partitionBy(col("symbol")).orderBy(col("day"))
    val rets = daily
      .withColumn("prev", lag(col("close"), 1).over(w))
      .withColumn("r", col("close") / col("prev") - 1.0)
      .filter(col("r").isNotNull)
    val d8 = org.apache.spark.sql.types.DataTypes.createDecimalType(12, 8)
    val x = rets.filter(col("symbol") === "BTC")
      .select(col("day"), col("r").cast(d8).as("xq"))
    val y = rets.filter(col("symbol") === "ETH")
      .select(col("day"), col("r").cast(d8).as("yq"))
    x.join(y, Seq("day"))
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("xq")).cast("double").as("sx"),
        sum(col("yq")).cast("double").as("sy"),
        sum(col("xq") * col("yq")).cast("double").as("sxy"),
        sum(col("xq") * col("xq")).cast("double").as("sxx"),
        sum(col("yq") * col("yq")).cast("double").as("syy"))
      .withColumn("nd", col("n_days").cast("double"))
      .withColumn("corr_btc_eth", expr(corrExpr))
      .withColumn("beta_eth_on_btc", expr(betaExpr))
      .select("n_days", "corr_btc_eth", "beta_eth_on_btc")
  }

  /** Sided beta algebra over the conditional sums — shared text. */
  def sideBetaExpr(t: String): String =
    s"""((CAST(n_$t AS DOUBLE) * sxy_$t - sx_$t * sy_$t)
       | / nullif(CAST(n_$t AS DOUBLE) * sxx_$t - sx_$t * sx_$t, 0.0))"""
      .stripMargin

  /** M47: downside/upside beta split (Ang, Chen & Xing 2006) — the
    * beta of ETH on BTC conditioned on the SIGN of the BTC return:
    * β⁻ (BTC down days) is what a hedger actually pays for; β⁺ − β⁻
    * asymmetry is the crash-co-movement premium the unconditional
    * m11 beta averages away. Same [[alignedReturns]] head (one bar
    * aggregate + a days-sized join), conditional decimal sums for
    * both sides inside ONE groupless aggregate, the sided beta
    * algebra shared text. Zero-return days belong to neither side
    * (stated; restated by the oracle). */
  def downsideBeta(ticks: DataFrame): DataFrame = {
    def side(tag: String, cond: Column) = Seq(
      count(when(cond, lit(1))).as(s"n_$tag"),
      sum(when(cond, col("xq"))).cast("double").as(s"sx_$tag"),
      sum(when(cond, col("yq"))).cast("double").as(s"sy_$tag"),
      sum(when(cond, col("xq") * col("yq"))).cast("double")
        .as(s"sxy_$tag"),
      sum(when(cond, col("xq") * col("xq"))).cast("double")
        .as(s"sxx_$tag"))
    val aggs = side("dn", col("xq") < 0) ++ side("up", col("xq") > 0)
    alignedReturns(ticks)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("beta_down", expr(sideBetaExpr("dn")))
      .withColumn("beta_up", expr(sideBetaExpr("up")))
      .withColumn("beta_asym", expr("beta_down - beta_up"))
      .select(col("n_dn"), col("n_up"), col("beta_down"),
        col("beta_up"), col("beta_asym"))
  }

  /** M41: lead-lag cross-correlogram — corr(BTC return at bucket b,
    * ETH return at bucket b+k) for k ∈ [−maxLag, maxLag] over
    * `bucketSec` price bars. The peak's sign says which leg moves
    * first — the price-discovery read that motivates the reference's
    * side-by-side BTC/ETH storage but that it never computes.
    *
    * Pipeline shape at 100 TB: tick → bar close is ONE hash aggregate
    * (map-side `max_by` partials — the only corpus-sized shuffle).
    * Returns are strict-adjacency: r(b) = close(b)/close(b−1) − 1 via
    * an equi-join of the bar table with itself shifted one bucket (no
    * window, so no per-symbol sort; missing buckets simply produce no
    * return). The shifted-pair construction is a UNION of 2·maxLag+1
    * bucket-arithmetic projections of the MATERIALIZED return table —
    * never a cross join — each joined to the other leg on the shifted
    * bucket key; everything after the bar aggregate is sized by
    * bucket count, not tick count. Same decimal parity contract as
    * [[realizedCorr]]: returns quantized once to DECIMAL(12,8), sums
    * exact decimal, the Pearson algebra shared text with the oracle. */
  def leadLagCorr(ticks: DataFrame, bucketSec: Long = 900L,
      maxLag: Int = 3): DataFrame = {
    val bars = ticks
      .withColumn("_ep", unix_timestamp(col("timestamp")))
      .withColumn("bucket", expr(s"_ep div ${bucketSec}L"))
      .groupBy(col("symbol"), col("bucket"))
      .agg(max_by(col("close"), col("timestamp")).as("close"))
    val prev = bars.select(col("symbol"),
      (col("bucket") + 1).as("bucket"), col("close").as("_prev"))
    val d8 = org.apache.spark.sql.types.DataTypes.createDecimalType(12, 8)
    val rets = graft.util.Caches.materialize(
      bars.join(prev, Seq("symbol", "bucket"))
        .select(col("symbol"), col("bucket"),
          (col("close") / col("_prev") - 1.0).cast(d8).as("rq")))
    val x = rets.filter(col("symbol") === "BTC")
      .select(col("bucket"), col("rq").as("xq"))
    val y = rets.filter(col("symbol") === "ETH")
      .select(col("bucket").as("_yb"), col("rq").as("yq"))
    val shifted = (-maxLag to maxLag).map { k =>
      x.select(lit(k).as("lag"), (col("bucket") + k).as("_yb"), col("xq"))
    }.reduce(_.unionByName(_))
    shifted.join(y, Seq("_yb"))
      .groupBy(col("lag"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("xq")).cast("double").as("sx"),
        sum(col("yq")).cast("double").as("sy"),
        sum(col("xq") * col("yq")).cast("double").as("sxy"),
        sum(col("xq") * col("xq")).cast("double").as("sxx"),
        sum(col("yq") * col("yq")).cast("double").as("syy"))
      .withColumn("nd", col("n_pairs").cast("double"))
      .withColumn("corr_lag", expr(corrExpr))
      .select("lag", "n_pairs", "corr_lag")
  }
}
