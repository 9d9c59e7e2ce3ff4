package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** EGARCH(p, o=1, q) volatility modelling with Student-t innovations —
  * the reference's `features/egarch.py:36-310` (SURVEY §2.8 M3-M6),
  * re-expressed for Spark: the *fit* is a small dense optimization over
  * one bar series (one row per 15 minutes — thousands of points, never
  * big data), so it runs inside `flatMapGroups`, one group per series
  * key (underlying). A 100 TB deployment fits thousands of series in
  * parallel, one executor task each; the heavy lifting (tick → bar
  * resampling) stays in distributed aggregates.
  *
  * Model: log s2_t = w + SUM_i a_i (|e_{t-i}| - E|e|) + g e_{t-1}
  *                   + SUM_j b_j log s2_{t-j},  e = (x - mu)/s,
  * with standardized Student-t(nu) innovations. MLE via Nelder-Mead on
  * transformed parameters (beta through tanh for |beta|<1, nu through
  * exp for nu>2.05), series standardized to unit variance before
  * fitting and results rescaled back (the reference's manual rescale,
  * egarch.py:103-109).
  */
object Egarch {

  val MinObservations = 100

  final case class Fit(
      p: Int, o: Int, q: Int,
      mu: Double, omega: Double,
      alpha: Seq[Double], gamma: Double, beta: Seq[Double],
      nu: Double, logLik: Double, aic: Double, bic: Double,
      persistence: Double, nObs: Int, scale: Double,
      condVol: Array[Double], residuals: Array[Double],
      converged: Boolean)

  // ---- numerics ----

  /** Lanczos log-gamma (g=7, n=9), |err| < 1e-13 for x > 0. */
  def lgamma(x: Double): Double = {
    val g = 7.0
    val c = Array(
      0.99999999999980993, 676.5203681218851, -1259.1392167224028,
      771.32342877765313, -176.61502916214059, 12.507343278686905,
      -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
    if (x < 0.5)
      math.log(math.Pi / math.sin(math.Pi * x)) - lgamma(1.0 - x)
    else {
      val xx = x - 1.0
      var a = c(0)
      val t = xx + g + 0.5
      for (i <- 1 until 9) a += c(i) / (xx + i)
      0.5 * math.log(2.0 * math.Pi) + (xx + 0.5) * math.log(t) - t +
        math.log(a)
    }
  }

  /** E|e| for a standardized Student-t(nu):
    * 2 sqrt(nu-2) G((nu+1)/2) / (sqrt(pi) (nu-1) G(nu/2)). */
  def absMoment(nu: Double): Double =
    2.0 * math.sqrt(nu - 2.0) *
      math.exp(lgamma((nu + 1.0) / 2.0) - lgamma(nu / 2.0)) /
      (math.sqrt(math.Pi) * (nu - 1.0))

  /** Negative log-likelihood of the standardized-t EGARCH recursion.
    * theta = (mu, omega, a_1..a_p, gamma, bRaw_1..bRaw_q, nuRaw);
    * beta_j = tanh(bRaw_j)/q (joint persistence < 1), nu = 2.05+exp. */
  private def negLogLik(y: Array[Double], p: Int, q: Int)(
      theta: Array[Double]): Double = {
    val n = y.length
    val mu = theta(0)
    val omega = theta(1)
    val alpha = Array.tabulate(p)(i => theta(2 + i))
    val gamma = theta(2 + p)
    val beta = Array.tabulate(q)(j => math.tanh(theta(3 + p + j)) / q)
    val nu = 2.05 + math.exp(theta(3 + p + q))
    if (nu > 200.0) return 1e12
    val eAbs = absMoment(nu)
    val ctT = lgamma((nu + 1.0) / 2.0) - lgamma(nu / 2.0) -
      0.5 * math.log(math.Pi * (nu - 2.0))
    var vy = 0.0; var my = 0.0
    var i = 0
    while (i < n) { my += y(i); i += 1 }
    my /= n
    i = 0
    while (i < n) { vy += (y(i) - my) * (y(i) - my); i += 1 }
    vy /= n
    val logS2Init = math.log(math.max(vy, 1e-12))
    val logS2 = new Array[Double](n)
    val e = new Array[Double](n)
    var ll = 0.0
    var t = 0
    while (t < n) {
      var ls2 = omega
      var j = 0
      while (j < q) {
        ls2 += beta(j) * (if (t - 1 - j >= 0) logS2(t - 1 - j) else logS2Init)
        j += 1
      }
      var k = 0
      while (k < p) {
        val ePrev = if (t - 1 - k >= 0) e(t - 1 - k) else 0.0
        val eAbsPrev = if (t - 1 - k >= 0) math.abs(e(t - 1 - k)) else eAbs
        ls2 += alpha(k) * (eAbsPrev - eAbs)
        if (k == 0) ls2 += gamma * ePrev
        k += 1
      }
      if (ls2 > 50.0 || ls2.isNaN) return 1e12
      logS2(t) = ls2
      val s = math.exp(0.5 * ls2)
      val z = (y(t) - mu) / s
      e(t) = z
      ll += ctT - 0.5 * ls2 -
        ((nu + 1.0) / 2.0) * math.log1p(z * z / (nu - 2.0))
      t += 1
    }
    if (ll.isNaN) 1e12 else -ll
  }

  /** Plain Nelder-Mead (reflection/expansion/contraction/shrink). */
  def nelderMead(f: Array[Double] => Double, x0: Array[Double],
      maxIter: Int = 2000, tol: Double = 1e-8): (Array[Double], Double, Boolean) = {
    val n = x0.length
    val simplex = Array.tabulate(n + 1) { i =>
      val x = x0.clone()
      if (i > 0) x(i - 1) += (if (x(i - 1) == 0.0) 0.05 else 0.05 * math.abs(x(i - 1)) + 0.01)
      x
    }
    val fv = simplex.map(f)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val order = fv.zipWithIndex.sortBy(_._1).map(_._2)
      val best = order(0); val worst = order(n); val second = order(n - 1)
      if (math.abs(fv(worst) - fv(best)) < tol * (math.abs(fv(best)) + tol)) {
        converged = true
      } else {
        val centroid = new Array[Double](n)
        for (i <- 0 to n; if i != worst; j <- 0 until n)
          centroid(j) += simplex(i)(j) / n
        def point(coef: Double) =
          Array.tabulate(n)(j => centroid(j) + coef * (centroid(j) - simplex(worst)(j)))
        val xr = point(1.0); val fr = f(xr)
        if (fr < fv(best)) {
          val xe = point(2.0); val fe = f(xe)
          if (fe < fr) { simplex(worst) = xe; fv(worst) = fe }
          else { simplex(worst) = xr; fv(worst) = fr }
        } else if (fr < fv(second)) {
          simplex(worst) = xr; fv(worst) = fr
        } else {
          val xc = point(-0.5); val fc = f(xc)
          if (fc < fv(worst)) { simplex(worst) = xc; fv(worst) = fc }
          else {
            for (i <- 0 to n; if i != best) {
              for (j <- 0 until n)
                simplex(i)(j) = simplex(best)(j) + 0.5 * (simplex(i)(j) - simplex(best)(j))
              fv(i) = f(simplex(i))
            }
          }
        }
      }
      iter += 1
    }
    val bi = fv.zipWithIndex.minBy(_._1)._2
    (simplex(bi), fv(bi), converged)
  }

  /** M3: fit EGARCH(p,1,q) to a raw series (standardizes internally).
    * Throws IllegalArgumentException below MinObservations — the
    * reference's fail-fast (egarch.py:33,90). */
  def fit(x: Array[Double], p: Int = 1, q: Int = 1): Fit = {
    require(x.length >= MinObservations,
      s"EGARCH needs >= $MinObservations observations, got ${x.length}")
    val mean = x.sum / x.length
    val std = math.sqrt(x.map(v => (v - mean) * (v - mean)).sum / x.length)
    val scale = if (std > 0) std else 1.0
    val y = x.map(_ / scale)
    val my = mean / scale
    val vy = 1.0
    val theta0 =
      Array(my, math.log(vy) * 0.1) ++
        Array.fill(p)(0.1) ++ Array(0.0) ++
        Array.fill(q)(0.5 * math.log(1.9 / 0.1)) ++ // atanh(0.9)
        Array(math.log(8.0 - 2.05))
    val nll = negLogLik(y, p, q) _
    val (thetaHat, fmin, converged) = nelderMead(nll, theta0)
    val mu = thetaHat(0)
    val omega = thetaHat(1)
    val alpha = (0 until p).map(i => thetaHat(2 + i))
    val gamma = thetaHat(2 + p)
    val beta = (0 until q).map(j => math.tanh(thetaHat(3 + p + j)) / q)
    val nu = 2.05 + math.exp(thetaHat(3 + p + q))
    // re-run the recursion at the optimum for cond-vol + residuals
    val n = y.length
    val eAbs = absMoment(nu)
    val logS2 = new Array[Double](n)
    val e = new Array[Double](n)
    val logS2Init = 0.0 // log(1): y standardized
    for (t <- 0 until n) {
      var ls2 = omega
      for (j <- 0 until q)
        ls2 += beta(j) * (if (t - 1 - j >= 0) logS2(t - 1 - j) else logS2Init)
      for (k <- 0 until p) {
        val ePrev = if (t - 1 - k >= 0) e(t - 1 - k) else 0.0
        val eAbsPrev = if (t - 1 - k >= 0) math.abs(e(t - 1 - k)) else eAbs
        ls2 += alpha(k) * (eAbsPrev - eAbs)
        if (k == 0) ls2 += gamma * ePrev
      }
      logS2(t) = ls2
      e(t) = (y(t) - mu) / math.exp(0.5 * ls2)
    }
    val k = thetaHat.length
    val ll = -fmin
    Fit(p, 1, q, mu * scale, omega, alpha, gamma, beta, nu,
      ll, 2.0 * k - 2.0 * ll, k * math.log(n) - 2.0 * ll,
      beta.sum, n, scale,
      logS2.map(ls2 => math.exp(0.5 * ls2) * scale), e, converged)
  }

  /** M4: AIC/BIC grid over p,q in {1,2} (o fixed 1), skipping
    * non-convergent fits — `egarch.py:133-208`. */
  def autoSelect(x: Array[Double], criterion: String = "aic"): Option[Fit] = {
    val fits = for (p <- 1 to 2; q <- 1 to 2) yield
      try Some(fit(x, p, q)) catch { case NonFatal(_) => None }
    val ok = fits.flatten.filter(_.converged)
    val pool = if (ok.nonEmpty) ok else fits.flatten
    if (pool.isEmpty) None
    else Some(pool.minBy(f => if (criterion == "bic") f.bic else f.aic))
  }

  /** M5: volatility forecast. 1-step is analytic; further steps by
    * seeded simulation (EGARCH has no closed multi-step form — the
    * reference delegates to arch's simulation mode). Returns per-step
    * forecast VOLATILITY in original units. */
  def forecast(fit: Fit, horizon: Int, nSims: Int = 2000,
      seed: Long = 42L): Array[Double] = {
    require(horizon >= 1)
    val q = fit.q; val p = fit.p
    val eAbs = absMoment(fit.nu)
    val y = fit.condVol.map(_ / fit.scale)
    val lastLogS2 = (0 until q).map(j =>
      2.0 * math.log(y(y.length - 1 - j))).toArray
    val lastE = (0 until p).map(k =>
      fit.residuals(fit.residuals.length - 1 - k)).toArray
    def step(prevLog: Array[Double], prevE: Array[Double]): Double = {
      var ls2 = fit.omega
      for (j <- 0 until q) ls2 += fit.beta(j) * prevLog(j)
      for (k <- 0 until p) {
        ls2 += fit.alpha(k) * (math.abs(prevE(k)) - eAbs)
        if (k == 0) ls2 += fit.gamma * prevE(k)
      }
      ls2
    }
    val out = new Array[Double](horizon)
    // step 1: analytic
    val l1 = step(lastLogS2, lastE)
    out(0) = math.exp(0.5 * l1) * fit.scale
    if (horizon > 1) {
      val rng = new java.util.Random(seed)
      val sums = new Array[Double](horizon)
      var s = 0
      while (s < nSims) {
        val logs = lastLogS2.clone(); val es = lastE.clone()
        var h = 0
        while (h < horizon) {
          val ls2 = step(logs, es)
          sums(h) += math.exp(ls2)
          // draw standardized-t innovation (Bailey's polar + chi2 mix
          // approximated by gaussian scale mixture)
          val g = rng.nextGaussian()
          var chi2 = 0.0
          var d = 0
          val dfInt = math.max(3, math.round(fit.nu).toInt)
          while (d < dfInt) { val z = rng.nextGaussian(); chi2 += z * z; d += 1 }
          val tDraw = g / math.sqrt(chi2 / dfInt) *
            math.sqrt((dfInt - 2.0) / dfInt)
          var j = q - 1
          while (j > 0) { logs(j) = logs(j - 1); j -= 1 }
          logs(0) = ls2
          var k = p - 1
          while (k > 0) { es(k) = es(k - 1); k -= 1 }
          es(0) = tDraw
          h += 1
        }
        s += 1
      }
      for (h <- 1 until horizon)
        out(h) = math.sqrt(sums(h) / nSims) * fit.scale
    }
    out
  }

  // ---- Spark integration: one fit per bar series ----

  /** One fitted series of [[fitSeries]]: the group key, the bar order
    * keys and values the fit consumed (ascending, NaN dropped) and the
    * fit, whose `condVol` and `residuals` align with them. */
  final case class SeriesFit(key: String, order: Array[Long],
      x: Array[Double], fit: Fit)

  /** Fit one EGARCH per `keyCol` group over the `valueCol` bar series
    * ordered by `orderCol` (`autoSelect`'s grid when `auto`). bars is
    * SMALL (one row per 15-min bar); each group's series is collected,
    * ordered, NaN-filtered and fit inside its executor task, so a
    * deployment fits thousands of series in parallel. A series below
    * MinObservations, or one no fit succeeds on, emits nothing. */
  def fitSeries(bars: DataFrame, auto: Boolean = false,
      keyCol: String = "underlying", valueCol: String = "iv_close",
      orderCol: String = "bucket_start"): Dataset[SeriesFit] = {
    val spark = bars.sparkSession
    import spark.implicits._
    bars.select(col(keyCol).cast("string"), col(orderCol).cast("long"),
      col(valueCol).cast("double"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val obs = it.toArray.sortBy(_._2).filter(!_._3.isNaN)
        val x = obs.map(_._3)
        val fitted =
          if (x.length < MinObservations) None
          else if (auto) autoSelect(x)
          else (try Some(fit(x)) catch { case NonFatal(_) => None })
        fitted.iterator.map(SeriesFit(key, obs.map(_._2), x, _))
      }
  }
}
