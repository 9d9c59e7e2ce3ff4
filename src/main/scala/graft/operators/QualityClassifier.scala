package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Iterate

/** Trainable document classifier in the fastText / CCNet lineage —
  * the classifier-based quality gate every large pre-training corpus
  * runs (curated-reference vs crawl), as opposed to the rule-based
  * gates in [[TextAnalysis.qualityScore]] / repetitionMetrics.
  *
  * Model: logistic regression over the six interpretable per-document
  * quality features, z-score standardized. Weak labels come from
  * metadata (the classic trick: no hand labels — here "does the doc
  * belong to the high-resource slice", i.e. lang == 'en', whose
  * signal the English stopword-ratio feature carries).
  *
  * Scale design — distributed FULL-BATCH gradient descent through
  * [[graft.util.Iterate]] with nothing but O(d) state on the driver:
  * the feature frame is computed once (one corpus scan, all codegen'd
  * column expressions) into the kernel's cached rows, whose counting
  * job also takes the standardization moments, and every step is one
  * partial gradient (d+1 sums plus the loss) per partition — the
  * 100 TB analog of "broadcast the model, aggregate the gradient",
  * exactly how parameter-server-free LR scales.
  *
  * Scoring is a pure column expression (broadcast-free: the weights
  * are literals folded into codegen), built in a FIXED left-to-right
  * association so an ANSI oracle can reproduce the margin bit-exactly.
  */
object QualityClassifier {

  /** Trained model + per-iteration mean log-loss trace (diagnostics,
    * driver-sized). */
  final case class Model(features: Seq[String], mean: Array[Double],
      std: Array[Double], weights: Array[Double], bias: Double,
      losses: Array[Double])

  val FeatureCols: Seq[String] = Seq("n_words", "avg_word_len",
    "punct_ratio", "digit_ratio", "upper_ratio", "stopword_ratio")

  /** doc_id + weak label + the six features, all double. Feature
    * definitions are EXACTLY [[TextAnalysis.qualityScore]]'s — the
    * two operators cannot drift. */
  def featureFrame(docs: DataFrame, label: Column): DataFrame =
    TextAnalysis.qualityScore(docs)
      .select(col("doc_id") +: label.cast("double").as("_y") +:
        FeatureCols.map(c => col(c).cast("double").as(c)): _*)

  /** The margin expression: bias + Σ z_j * w_j, z_j = (f_j − mean_j)
    * / std_j, in FIXED left-to-right fold order — the order the
    * oracle's SQL `+` chain reproduces. */
  def marginCol(m: Model): Column =
    m.features.indices.foldLeft(lit(m.bias)) { (acc, j) =>
      acc + (col(m.features(j)) - lit(m.mean(j))) / lit(m.std(j)) *
        lit(m.weights(j))
    }

  /** Rows are (label, features in [[FeatureCols]] order); one with a
    * null label or feature carries no gradient. */
  def train(feats: DataFrame, iters: Int = 40, lr: Double = 0.5): Model =
    Iterate(feats.select(col("_y") +: FeatureCols.map(col): _*).na.drop()
      .rdd.map(r => Array.tabulate(FeatureCols.length + 1)(r.getDouble)),
      iters, gd(lr))

  /** GD on the mean log-loss. The seed pass sums each feature and its
    * square for the mean and population deviation (a zero deviation
    * standardizes by 1). A step's partial is [Σ err, Σ err·z_j,
    * Σ loss, rows], err = sigmoid(margin) − y with the margin folded in
    * [[marginCol]]'s order; the step records the mean loss at the
    * weights it starts from. */
  private[graft] def gd(lr: Double)
      : Iterate.Loop[Array[Double], Array[Double], Model, Array[Double]] = {
    val d = FeatureCols.length
    Iterate.Loop(
      seed = it => it.foldLeft(new Array[Double](2 * d + 1)) { (acc, r) =>
        for (j <- 0 until d) { acc(j) += r(j + 1); acc(d + j) += r(j + 1) * r(j + 1) }
        acc(2 * d) += 1
        acc
      },
      seedMerge = Iterate.sum,
      start = acc => {
        val n = math.max(acc(2 * d), 1.0)
        val mean = Array.tabulate(d)(j => acc(j) / n)
        val std = Array.tabulate(d) { j =>
          val s = math.sqrt(acc(d + j) / n - mean(j) * mean(j))
          if (s > 0.0) s else 1.0
        }
        Model(FeatureCols, mean, std, new Array[Double](d), 0.0, Array.empty)
      },
      partial = (m, it) => it.foldLeft(new Array[Double](d + 3)) { (g, r) =>
        val z = Array.tabulate(d)(j => (r(j + 1) - m.mean(j)) / m.std(j))
        val margin = (0 until d).foldLeft(m.bias)((acc, j) => acc + z(j) * m.weights(j))
        val p = 1.0 / (1.0 + math.exp(-margin))
        val pc = math.min(math.max(p, 1e-12), 1.0 - 1e-12)
        val err = p - r(0)
        g(0) += err
        for (j <- 0 until d) g(1 + j) += err * z(j)
        g(d + 1) -= r(0) * math.log(pc) + (1.0 - r(0)) * math.log(1.0 - pc)
        g(d + 2) += 1
        g
      },
      merge = Iterate.sum,
      next = (m, g) => m.copy(
        weights = Array.tabulate(d)(j => m.weights(j) - lr * (g(1 + j) / g(d + 2))),
        bias = m.bias - lr * (g(0) / g(d + 2)),
        losses = m.losses :+ g(d + 1) / g(d + 2)))
  }

  /** Per-doc scoring: margin (the gate-exact linear score), hard
    * prediction, and the weak label for accuracy audits. Sigmoid is
    * deliberately NOT in the verified output — exp() is libm-specific
    * across engines; the margin carries the same information
    * bit-exactly. */
  def score(feats: DataFrame, m: Model): DataFrame =
    feats.select(col("doc_id"), (col("_y") === 1.0).as("label"),
      marginCol(m).as("margin"), (marginCol(m) > 0.0).as("pred"))
}
