package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Egarch
import graft.queries.EgarchQueries

/** Statistical-property tests for the EGARCH engine, mirroring the
  * reference's bounded-range test style (SURVEY §5.1): parameters in
  * their admissible regions, positive conditional vols, AIC grid
  * coherence, forecast positivity. Bit-exact parity with the Python
  * `arch` package is not a goal (SURVEY §7.3). */
class EgarchSpec extends AnyFunSuite {

  /** Deterministic GARCH-like series: vol clusters via a seeded
    * recursion (no external RNG state). */
  private def series(n: Int, seed: Long = 7L): Array[Double] = {
    val rng = new java.util.Random(seed)
    val x = new Array[Double](n)
    var s2 = 0.04
    for (t <- 0 until n) {
      val z = rng.nextGaussian()
      x(t) = 0.5 + math.sqrt(s2) * z
      s2 = 0.01 + 0.10 * (x(t) - 0.5) * (x(t) - 0.5) + 0.85 * s2
    }
    x
  }

  test("lgamma matches known values") {
    assert(math.abs(Egarch.lgamma(1.0)) < 1e-10)
    assert(math.abs(Egarch.lgamma(2.0)) < 1e-10)
    assert(math.abs(Egarch.lgamma(0.5) - 0.5 * math.log(math.Pi)) < 1e-10)
    assert(math.abs(Egarch.lgamma(5.0) - math.log(24.0)) < 1e-10)
  }

  test("absMoment approaches sqrt(2/pi) as nu grows") {
    val large = Egarch.absMoment(200.0)
    assert(math.abs(large - math.sqrt(2.0 / math.Pi)) < 0.01)
    assert(Egarch.absMoment(3.0) > 0 && Egarch.absMoment(3.0) < 1.0)
  }

  test("fit: admissible params, positive vols, unit-ish residuals") {
    val f = Egarch.fit(series(500))
    assert(math.abs(f.persistence) < 1.0)
    assert(f.nu > 2.05)
    assert(f.condVol.forall(_ > 0.0))
    assert(f.nObs == 500)
    val rm = f.residuals.sum / f.residuals.length
    val rs = math.sqrt(
      f.residuals.map(r => (r - rm) * (r - rm)).sum / f.residuals.length)
    assert(math.abs(rm) < 0.25, s"resid mean $rm")
    assert(rs > 0.5 && rs < 2.0, s"resid std $rs")
  }

  test("fit refuses short series") {
    intercept[IllegalArgumentException](Egarch.fit(series(50)))
  }

  test("autoSelect picks the min-AIC convergent fit") {
    val x = series(400)
    val best = Egarch.autoSelect(x).get
    val f11 = Egarch.fit(x, 1, 1)
    assert(best.aic <= f11.aic + 1e-6)
  }

  test("forecast is positive and finite over the horizon") {
    val f = Egarch.fit(series(400))
    val fc = Egarch.forecast(f, 5)
    assert(fc.length == 5)
    assert(fc.forall(v => v > 0 && !v.isNaN && !v.isInfinite))
    // same seed -> reproducible
    assert(Egarch.forecast(f, 5).toSeq == fc.toSeq)
  }

  test("fitSeries over Spark bars yields one fit per key; m3 rows from it") {
    val spark = TestSpark.spark
    import spark.implicits._
    val s1 = series(300, 1).zipWithIndex.map { case (v, i) =>
      ("BTC", i.toLong * 900, v) }
    val s2 = series(300, 2).zipWithIndex.map { case (v, i) =>
      ("ETH", i.toLong * 900, v) }
    val bars = (s1 ++ s2).toSeq
      .toDF("underlying", "bucket_start", "iv_close")
    val out = Egarch.fitSeries(bars).collect().map(EgarchQueries.fitRow)
    assert(out.map(_.underlying).sorted.toSeq == Seq("BTC", "ETH"))
    out.foreach { r =>
      assert(r.vol_forecast_1 > 0)
      assert(math.abs(r.persistence) < 1.0)
      assert(r.n_obs == 300)
    }
  }

  test("fitSeries keeps each bar's order and value: m6 rows, spread = iv - cond_vol") {
    val spark = TestSpark.spark
    import spark.implicits._
    val vals = series(300, 5)
    val bars = vals.zipWithIndex.map { case (v, i) =>
      ("BTC", i.toLong * 900, v) }.toSeq
      // shuffled: the operator orders each series itself
      .reverse.toDF("underlying", "bucket_start", "iv_close")
    val out = Egarch.fitSeries(bars).collect()
      .flatMap(EgarchQueries.spreadRows)
    assert(out.length == 300)
    assert(out.map(_.bucket_start).toSeq == (0 until 300).map(_.toLong * 900))
    out.foreach { r =>
      assert(r.cond_vol > 0)
      assert(!r.residual.isNaN && !r.residual.isInfinite)
      assert(math.abs(r.iv_egarch_spread - (r.iv_close - r.cond_vol)) < 1e-12)
    }
    // series values round-trip unchanged
    assert(out.map(_.iv_close).toSeq == vals.toSeq)
  }

  test("fitSeries drops NaN bars and skips short series") {
    val spark = TestSpark.spark
    import spark.implicits._
    val vals = series(300, 6)
    val bars = (vals.zipWithIndex.map { case (v, i) =>
      ("BTC", i.toLong * 900, if (i % 10 == 3) Double.NaN else v) } ++
      series(50, 7).zipWithIndex.map { case (v, i) =>
        ("ETH", i.toLong * 900, v) }).toSeq
      .toDF("underlying", "bucket_start", "iv_close")
    val fits = Egarch.fitSeries(bars).collect()
    assert(fits.map(_.key).toSeq == Seq("BTC"))
    val kept = vals.indices.filter(_ % 10 != 3)
    assert(fits.head.order.toSeq == kept.map(_.toLong * 900))
    assert(fits.head.x.toSeq == kept.map(vals(_)))
    assert(fits.head.fit.nObs == 270 && fits.head.fit.condVol.length == 270)
  }

  test("m5 rows from fitSeries: one row per (key, h)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val bars = series(300, 3).zipWithIndex.map { case (v, i) =>
      ("BTC", i.toLong * 900, v) }.toSeq
      .toDF("underlying", "bucket_start", "iv_close")
    val fits = Egarch.fitSeries(bars).collect()
    val out = fits.flatMap(EgarchQueries.forecastRows(_, horizon = 4))
    assert(out.map(_.horizon).sorted.toSeq == Seq(1, 2, 3, 4))
    assert(out.forall(r => r.vol_forecast > 0 && !r.vol_forecast.isNaN))
    // horizon-1 row agrees with the m3 row's 1-step forecast
    val one = EgarchQueries.fitRow(fits.head).vol_forecast_1
    assert(math.abs(out.minBy(_.horizon).vol_forecast - one) < 1e-12)
  }

  /** Simulate from the EXACT model the fit assumes:
    * log s2_t = w + a(|e_{t-1}| - E|e|) + g e_{t-1} + b log s2_{t-1},
    * x_t = exp(log s2_t / 2) e_t, e standardized Student-t(nu). */
  private def simulateEgarch(n: Int, omega: Double, alpha: Double,
      gamma: Double, beta: Double, nu: Double, seed: Long): Array[Double] = {
    val rng = new java.util.Random(seed)
    def tDraw(): Double = {
      val g = rng.nextGaussian()
      var chi2 = 0.0
      for (_ <- 0 until nu.toInt) { val z = rng.nextGaussian(); chi2 += z * z }
      g / math.sqrt(chi2 / nu) * math.sqrt((nu - 2.0) / nu)
    }
    val eAbs = Egarch.absMoment(nu)
    val x = new Array[Double](n)
    var logS2 = omega / (1.0 - beta) // unconditional mean of log s2
    var ePrev = 0.0; var eAbsPrev = eAbs
    for (t <- 0 until n) {
      logS2 = omega + alpha * (eAbsPrev - eAbs) + gamma * ePrev +
        beta * logS2
      val e = tDraw()
      x(t) = math.exp(0.5 * logS2) * e
      ePrev = e; eAbsPrev = math.abs(e)
    }
    x
  }

  test("golden: fit recovers known EGARCH(1,1) parameters") {
    // The echo+verify oracle gate pins that the fit REPRODUCES; this
    // pins that it is TRUE: data simulated with known (w, a, g, b, nu)
    // at fixed seed must fit back to those values. The fit runs on the
    // internally-standardized series, so every parameter except omega
    // is scale-invariant; omega's truth shifts by (1-b)*2*ln(c) for
    // the standardization factor c (log s2 drops 2 ln c uniformly).
    val (omega, alpha, gamma, beta, nu) = (-0.1, 0.25, -0.15, 0.9, 8.0)
    val x = simulateEgarch(4000, omega, alpha, gamma, beta, nu,
      seed = 20260813L)
    val f = Egarch.fit(x)
    assert(f.converged, "golden fit did not converge")
    val mean = x.sum / x.length
    val c = math.sqrt(x.map(v => (v - mean) * (v - mean)).sum / x.length)
    val omegaStd = omega - (1.0 - beta) * 2.0 * math.log(c)
    // tolerances ~2x the MLE standard error at n=4000 (observed
    // recovery: a=0.261 g=-0.150 b=0.882 nu=7.80)
    assert(math.abs(f.mu) < 0.02, s"mu=${f.mu}, true 0")
    assert(math.abs(f.omega - omegaStd) < 0.05,
      s"omega=${f.omega}, true (standardized) $omegaStd")
    assert(math.abs(f.alpha.head - alpha) < 0.08,
      s"alpha=${f.alpha.head}, true $alpha")
    assert(math.abs(f.gamma - gamma) < 0.05, s"gamma=${f.gamma}, true $gamma")
    assert(math.abs(f.beta.head - beta) < 0.05, s"beta=${f.beta.head}, true $beta")
    assert(f.nu > 6.0 && f.nu < 11.0, s"nu=${f.nu}, true $nu")
  }

  test("golden: m4 AIC grid prefers the true (1,1) order on simulated data") {
    val x = simulateEgarch(4000, -0.1, 0.25, -0.15, 0.9, 8.0,
      seed = 20260813L)
    val grid = (for (p <- 1 to 2; q <- 1 to 2) yield
      (p, q) -> Egarch.fit(x, p, q)).toMap
    assert(grid.values.forall(_.converged))
    // the true model must win the grid, and autoSelect must agree
    val ordered = grid.toSeq.sortBy(_._2.aic).map(_._1)
    assert(ordered.head == ((1, 1)),
      s"AIC picked $ordered over the true (1,1)")
    val auto = Egarch.autoSelect(x).get
    assert((auto.p, auto.q) == ((1, 1)))
    assert(math.abs(auto.aic - grid((1, 1)).aic) < 1e-9)
    // golden pin of the full deterministic ordering at this seed
    assert(ordered == Seq((1, 1), (2, 1), (2, 2), (1, 2)),
      s"grid AIC ordering drifted: $ordered")
  }
}
