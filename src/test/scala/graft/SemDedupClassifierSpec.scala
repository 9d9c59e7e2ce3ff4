package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{QualityClassifier, VectorOps}

/** Unit layer for the two round-8 trained operators: SemDeDup
  * (cluster-partitioned semantic dedup) and the logistic quality
  * classifier. Both are echo+verify gated in the registry; these
  * tests pin the driver-side semantics the gates rely on. */
class SemDedupClassifierSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // Two well-separated clusters around e1 and e2; ids chosen so the
  // k=2 seed (two lowest ids) lands one seed in each cluster.
  private def emb: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.99f, 0.01f, 0.0f)), // near-dup of 1 (same cluster)
      (4L, Array(0.0f, 0.98f, 0.02f)), // near-dup of 2 (same cluster)
      (5L, Array(0.6f, 0.0f, 0.8f))    // cluster-1 side, not a dup
    ).toDF("vec_id", "embedding")
  }

  test("semDedup keeps the smallest id per duplicate group") {
    val (cents, out) = VectorOps.semDedup(emb, nClusters = 2,
      threshold = 0.95)
    assert(cents.length == 2)
    val rows = out.collect()
      .map(r => r.getLong(0) -> (Option(r.get(2)), r.getBoolean(3))).toMap
    assert(rows(1L) == (None, true))
    assert(rows(2L) == (None, true))
    assert(rows(3L) == (Some(1L), false)) // duplicates point at min id
    assert(rows(4L) == (Some(2L), false))
    assert(rows(5L) == (None, true)) // cos(1,5)=0.6 < threshold
  }

  test("semDedup only compares within a cluster (documented recall cut)") {
    import spark.implicits._
    // 1 and 2 are near-identical but forced into different clusters by
    // a far third point: with k=2 seeded on ids 1,2 and one refinement
    // pass, 3 joins 2's cluster and drags the centroid away, yet 1 and
    // 2 stay in different cells -> the cross-cluster dup is NOT found.
    val d = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.999f, 0.001f)),
      (3L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val (_, out) = VectorOps.semDedup(d, nClusters = 2, threshold = 0.99)
    val keeps = out.collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // whatever the geometry, every vector in its own cluster survives;
    // the pair (1,2) is only dropped if they share a cell
    val cells = out.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    if (cells(1L) != cells(2L)) assert(keeps(2L))
    else assert(!keeps(2L))
  }

  test("semDedup is deterministic across runs") {
    val a = VectorOps.semDedup(emb, 2, 0.95)
    val b = VectorOps.semDedup(emb, 2, 0.95)
    assert(a._1.map(_.toSeq).toSeq == b._1.map(_.toSeq).toSeq)
    assert(a._2.collect().map(_.toSeq).sortBy(_.head.toString).toSeq ==
      b._2.collect().map(_.toSeq).sortBy(_.head.toString).toSeq)
  }

  private def docs: DataFrame = {
    import spark.implicits._
    val en = Seq(
      "the cat sat on the mat and it was happy to be at home by the fire",
      "it is a truth that the house at the end of the lane was for sale",
      "she went to the market in the morning and the stalls were full",
      "the rain in spain stays mainly on the plain as the saying goes")
    val xx = Seq(
      "zzz qqq vvv kkk www yyy xxx mmm nnn ppp rrr sss ttt uuu",
      "qwerty asdfgh zxcvbn poiuyt lkjhgf mnbvcx qazwsx edcrfv",
      "foo bar baz qux quux corge grault garply waldo fred plugh",
      "lorem ipsum dolor sit amet consectetur adipiscing elit sed do")
    (en.zipWithIndex.map { case (t, i) => (i.toLong, t, "en") } ++
      xx.zipWithIndex.map { case (t, i) => (100L + i, t, "xx") })
      .toDF("doc_id", "text", "lang")
  }

  test("classifier training reduces log-loss and separates weak labels") {
    val feats = QualityClassifier.featureFrame(docs, col("lang") === "en")
    val m = QualityClassifier.train(feats, iters = 40, lr = 0.5)
    assert(m.losses.length == 40)
    assert(m.losses.last < m.losses.head,
      s"loss did not improve: ${m.losses.head} -> ${m.losses.last}")
    val out = QualityClassifier.score(feats, m).collect()
      .map(r => (r.getBoolean(1), r.getBoolean(3)))
    val acc = out.count { case (y, p) => y == p }.toDouble / out.length
    assert(acc >= 0.75, s"train accuracy $acc on a separable toy set")
    // one partition: the counting job plus one task at any step count
    for (iters <- Seq(1, 3, 25)) {
      val ran = TestSpark.jobsDuring(
        QualityClassifier.train(feats.coalesce(1), iters)).size
      assert(ran <= 3, s"train(iters = $iters) ran $ran jobs")
    }
    // three partitions: one task and one job per step give the same
    // weights, bias and loss trace bit for bit
    val parts = spark.sparkContext.parallelize(
      feats.select(col("_y") +: QualityClassifier.FeatureCols.map(col): _*)
        .collect().toSeq.map(r => Array.tabulate(r.length)(r.getDouble)), 3)
    val loop = QualityClassifier.gd(0.5)
    val s0 = graft.util.Iterate(parts, 0, loop)
    val flat = (m: QualityClassifier.Model) =>
      (m.mean.toSeq, m.std.toSeq, m.weights.toSeq, m.bias, m.losses.toSeq)
    assert(flat(graft.util.Iterate.oneTask(parts, s0, 40, loop)) ==
      flat(graft.util.Iterate.stepLoop(parts, s0, 40, loop)))
  }

  test("margin column reproduces the driver-side left-to-right fold") {
    val feats = QualityClassifier.featureFrame(docs, col("lang") === "en")
    val m = QualityClassifier.train(feats, iters = 5)
    val got = QualityClassifier.score(feats, m)
      .orderBy("doc_id").select("margin").collect().map(_.getDouble(0))
    val want = feats.orderBy("doc_id").collect().map { r =>
      var acc = m.bias
      for (j <- m.features.indices) {
        val f = r.getDouble(r.fieldIndex(m.features(j)))
        acc = acc + ((f - m.mean(j)) / m.std(j)) * m.weights(j)
      }
      acc
    }
    assert(got.toSeq == want.toSeq) // bit-exact, not approx
  }

  test("mrlRecall: identical prefix ranking gives recall 1, scrambled gives less") {
    import spark.implicits._
    // First 2 dims carry the full ranking signal for queries 1-2:
    // truncation to 2 dims preserves top-k exactly -> recall 1.0.
    val e = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (4L, Array(0.1f, 0.9f, 0.0f, 0.0f)),
      (5L, Array(0.7f, 0.7f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = VectorOps.mrlRecall(e, e.filter(col("vec_id") <= 2L),
      k = 2, truncDim = 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) == 1.0 && out(2L) == 1.0)
    // signal only in the TAIL dims: truncating to the first 2 (all
    // equal) destroys the ranking for at least one query
    val t = Seq(
      (1L, Array(1.0f, 1.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 1.0f, 0.0f, 1.0f, 0.0f)),
      (3L, Array(1.0f, 1.0f, 1.0f, 0.1f, 0.0f)),
      (4L, Array(1.0f, 1.0f, 0.0f, 0.9f, 0.4f)),
      (5L, Array(1.0f, 1.0f, 0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val res = VectorOps.mrlRecall(t, t.filter(col("vec_id") <= 2L),
      k = 1, truncDim = 2).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    // truncated space is degenerate (all vectors identical in first
    // two dims) -> cos ties at 1 -> lowest-id tie-break picks the
    // OTHER query vector for both queries, while the full space picks
    // 3 (q1) and 4 (q2): zero overlap for both
    assert(res(1L) == 0 && res(2L) == 0)
  }

  test("the registry's classifier retrains when its dir is regenerated") {
    val dir = graft.util.TempDirs.scoped("qual-cache")
    def write(d: DataFrame): Unit =
      d.withColumn("source", lit("web"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the echoed oracle carries the model's means, stds and weights
    def echoed(): String = {
      graft.queries.LlmQueries.qualClassifier(spark, dir)
      graft.queries.DynamicOracles.snapshot("llm_qual_classifier")
    }
    write(docs)
    val first = echoed()
    write(docs.withColumn("lang",
      when(col("lang") === "en", "xx").otherwise("en")))
    assert(echoed() != first,
      "qualModelCache served weights trained on the old documents")
  }

  test("classifier on empty input returns the zero model") {
    val feats = QualityClassifier.featureFrame(
      docs.filter(lit(false)), col("lang") === "en")
    val m = QualityClassifier.train(feats, iters = 3)
    assert(m.weights.forall(_ == 0.0) && m.bias == 0.0 && m.losses.isEmpty)
    assert(QualityClassifier.score(feats, m).count() == 0L)
  }
}
