package perfbench

/** Order statistics for latency samples. */
object Stats {

  /** Percentiles the tail helper may report, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples a percentile must leave beyond it before it is reported. */
  val MinBeyond = 10

  /** Linear-interpolated percentile (numpy's default method). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Samples strictly beyond the p-th percentile of n samples. */
  def beyond(n: Int, p: Double): Int =
    math.floor(n * (100.0 - p) / 100.0 + 1e-9).toInt

  /** The highest candidate percentile that has at least [[MinBeyond]]
    * samples beyond it, or None when even the median has fewer. */
  def tailPercentile(n: Int): Option[Double] =
    TailCandidates.find(p => beyond(n, p) >= MinBeyond)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Least squares for y ≈ X·b by the normal equations (Gaussian
    * elimination with partial pivoting). Rows of X are observations. */
  def leastSquares(x: Seq[Array[Double]], y: Seq[Double]): Array[Double] = {
    val k = x.head.length
    val a = Array.tabulate(k, k + 1) { (i, j) =>
      if (j < k) x.map(r => r(i) * r(j)).sum
      else x.zip(y).map { case (r, v) => r(i) * v }.sum
    }
    for (c <- 0 until k) {
      val p = (c until k).maxBy(r => math.abs(a(r)(c)))
      val t = a(c); a(c) = a(p); a(p) = t
      if (math.abs(a(c)(c)) > 1e-12)
        for (r <- 0 until k if r != c) {
          val f = a(r)(c) / a(c)(c)
          for (j <- c to k) a(r)(j) -= f * a(c)(j)
        }
    }
    Array.tabulate(k)(i => if (math.abs(a(i)(i)) > 1e-12) a(i)(k) / a(i)(i) else 0.0)
  }
}
