package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Parity

/** PCA of the IV term structure — the classic factor decomposition
  * (level / slope / curvature, Litterman–Scheinkman) applied to the
  * daily DTE-bucket IV curve the reference builds but never
  * decomposes (`features/iv_metrics.py` stops at per-bucket stats).
  * Emits the FIRST principal component: per-bucket loadings, the
  * eigenvalue, and its explained-variance share — the "level factor"
  * a vol desk monitors.
  *
  * Two-stage shape, both distributed: (1) one hash aggregate builds
  * the per-(day, bucket) mean-IV panel and a conditional-aggregation
  * pivot makes it one row per day (complete days only); (2) one
  * groupless aggregate reduces the panel to the exact 4×4 moment
  * matrix (10 distinct sums + n). Only the 4×4 covariance matrix is
  * collected — O(buckets²) driver state, independent of data volume,
  * the same bounded-collect contract as the k-means centroids. The
  * covariance and the power iteration (100 rounds on a 4×4,
  * machine-precision convergence) are [[EmbedPca]]'s at d = 4, run on
  * the driver.
  *
  * Exactness/verification: bucket means are 6-dp-quantized, so every
  * covariance entry is a closed-form function of decimal-exact sums
  * that DuckDB reproduces bit-for-bit. The eigenpair itself is
  * iterative (echo+verify, like the EGARCH fits): loadings and λ are
  * pinned as literals, and the oracle INDEPENDENTLY re-derives the
  * covariance matrix in SQL and checks ‖Cv − λv‖∞ < 1e-8 and
  * ‖v‖₂ = 1 as derived booleans — a wrong eigenpair, or any drift in
  * the panel/covariance pipeline, flips `eigen_ok` and breaks the
  * hash. */
object TermPca {

  /** DTE quartile edges over the synthetic ladder's 7..66-day range —
    * four populated buckets on every generated day. */
  val BucketNames: Seq[String] = Seq("dte07_21", "dte22_36", "dte37_51",
    "dte52plus")

  def bucketIdx(dte: Column): Column =
    when(dte <= 21, 0).when(dte <= 36, 1).when(dte <= 51, 2).otherwise(3)

  /** One row per complete day: day string + b0..b3 mean IV (6 dp). */
  def dailyPanel(trades: DataFrame): DataFrame = {
    val perBucket = trades
      .filter(col("iv").isNotNull)
      .groupBy(
        date_format(col("timestamp"), "yyyy-MM-dd").as("day"),
        bucketIdx(datediff(col("expiry"), to_date(col("timestamp"))))
          .as("b"))
      .agg(Parity.roundTo(Parity.davg(col("iv")), 6).as("biv"))
    val wide = perBucket.groupBy(col("day"))
      .agg(
        max(when(col("b") === 0, col("biv"))).as("b0"),
        max(when(col("b") === 1, col("biv"))).as("b1"),
        max(when(col("b") === 2, col("biv"))).as("b2"),
        max(when(col("b") === 3, col("biv"))).as("b3"))
    wide.filter(col("b0").isNotNull && col("b1").isNotNull &&
      col("b2").isNotNull && col("b3").isNotNull)
  }

  /** The exact moment sums the covariance closes over: n, Σb_i and
    * Σb_i·b_j for i ≤ j — ONE groupless aggregate over the panel. */
  def momentSums(panel: DataFrame): DataFrame = {
    val sums =
      (0 until 4).map(i => Parity.dsum(col(s"b$i")).as(s"s$i")) ++
        (for (i <- 0 until 4; j <- i until 4)
          yield Parity.dsum(col(s"b$i") * col(s"b$j")).as(s"s${i}_$j"))
    panel.agg(count(lit(1)).as("n"), sums: _*)
  }
}
