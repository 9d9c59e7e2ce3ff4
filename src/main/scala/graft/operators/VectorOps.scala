package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Iterate

/** Vector similarity operators over an `array<float>` embedding column:
  * brute-force cosine top-k (the exact baseline) and an LSH/IVF-style
  * bucketed nearest-neighbour pass (the 100 TB path).
  *
  * Determinism note: the dot product is a strict left-to-right fold of
  * per-element double products (the codegen'd
  * [[graft.functions.VectorMath.arrDot]] kernel — same accumulation
  * order the old `aggregate(zip_with(...))` formulation had, compiled
  * instead of interpreted), so an engine-independent oracle can
  * reproduce the bits exactly — no reliance on any engine's internal
  * reduction order.
  *
  * Scale design:
  *  - `annTopK` broadcasts the (small) query set, computes cosines
  *    map-side, and takes the per-query top-k with a rank window
  *    partitioned by query id — shuffle keyed by query, never all-pairs
  *    between corpus rows.
  *  - `bucketTop1` / `cosineNearDups` bucket each vector with banded
  *    sign-projection LSH ([[graft.functions.VectorHash]]): 16 bands
  *    of 16 hyperplane-sign bits, a `bands * 2^bits` (~1M) key space.
  *    Candidates are generated only inside a band bucket, so expected
  *    random collisions are ~2^-16 per band per pair while true
  *    near-duplicates (cos >= 0.95) are recalled with p ~ 0.96. The
  *    earlier top-coordinate pair scheme had a FIXED dim²/2 (~2k) key
  *    space — candidates grew as n²/2k (measured 100x for 10x rows at
  *    the sf1 decade), which no data distribution rescues; here
  *    selectivity is a parameter (bits ~ 2 log2 n) that grows with
  *    the corpus. Candidates travel as id pairs only; full vectors
  *    are re-fetched by id for the exact-cosine verify (the same
  *    fetch-by-id shape the MinHash verify uses).
  */
object VectorOps {

  /** Strict left-fold dot product of two float arrays, in doubles —
    * the codegen'd [[graft.functions.VectorMath.arrDot]] kernel
    * (bit-identical to the old `aggregate(zip_with(...))` fold, which
    * as a higher-order function was CodegenFallback: an interpreted
    * closure per element per row). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorMath.arrDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Symmetric int8 quantization of an embedding column — the storage
    * path that shrinks a 100 TB float32 embedding store 4x (plus the
    * scale column) while keeping ANN recall: per vector, scale =
    * max|x| / 127, q_i = round(x_i / scale) in [-127, 127]. Per-row
    * arithmetic only — no shuffle, linear at any corpus size; a
    * production pipeline writes (q, scale) and reconstructs q*scale
    * at probe time.
    *
    * Emitted as SCALAR columns (dims, scale, q at both ends, exact
    * left-fold reconstruction MSE and max error): the quantized array
    * itself is trivially `transform(...)` but array outputs cannot
    * cross the hash comparator. Ties in `round` go away from zero in
    * both Java BigDecimal HALF_UP and C std::round, so the oracle is
    * bit-exact; all-zero vectors quantize to q=0 with scale 0 via the
    * spelled CASE (never NaN). */
  def int8Quantize(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val v = col("_v")
    val scale = col("_scale")
    val q = (x: Column) => when(scale === 0.0, lit(0.0))
      .otherwise(round(x.cast("double") / scale))
    val err = (x: Column) => x.cast("double") - q(x) * scale
    emb
      .select(col(idCol), col(vecCol).as("_v"))
      .withColumn("_scale",
        aggregate(v, lit(0.0),
          (acc, x) => greatest(acc, abs(x.cast("double")))) / 127.0)
      .select(
        col(idCol),
        size(v).as("n_dims"),
        scale.as("scale"),
        q(element_at(v, 1)).cast("int").as("q_first"),
        q(element_at(v, size(v))).cast("int").as("q_last"),
        (aggregate(v, lit(0.0), (acc, x) => acc + err(x) * err(x))
          / size(v)).as("mse"),
        aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(err(x))))
          .as("max_err"))
  }

  /** LSH geometry: 16 bands x 16 bits. At this width random 64-dim
    * pairs collide in some band with p ~ 4x2^-16 (measured 983
    * candidates over 2M pairs), near-identical vectors are recalled
    * with p(cos .95) ~ .96, p(cos .99) ~ 1. The scale lever is
    * `SignLshBits` (+2 bits per 2x corpus growth holds expected
    * random candidates flat); both constants feed the oracle SQL so
    * the gate follows any retuning. */
  val SignLshBands = 16
  val SignLshBits = 16

  /** Per-vector band bucket keys (array of `SignLshBands` longs). */
  def signLshKeys(vec: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.SignLshKeys(
        org.apache.spark.sql.GraftBridge.expression(vec),
        SignLshBands, SignLshBits))

  /** Candidate id pairs (id_a < id_b, each once) from the LSH band
    * bucket join — ids only. Exposed so the candidate volume can be
    * asserted directly in tests. */
  def candidatePairs(corpus: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    BandJoin.pairs(signLshSigned(corpus, vecCol), None, idCol, signLshBands)

  /** Every band-candidate pair with its exact cosine (fetched by id,
    * see [[BandJoin.Verify]]), kept where `keep` holds. */
  private def cosinePairs(corpus: DataFrame, idCol: String, vecCol: String,
      keep: Column => Column): DataFrame =
    BandJoin.pairs(signLshSigned(corpus, vecCol), None, idCol, signLshBands,
      verify = Some(BandJoin.Verify(vecCol, "cos_sim", cosine, keep)))

  /** The band keys staged as `_sig`: one kernel call per vector, read
    * by every band key. */
  private def signLshSigned(corpus: DataFrame, vecCol: String): DataFrame =
    corpus.withColumn("_sig", signLshKeys(col(vecCol)))

  private val signLshBands: Seq[Column] =
    (1 to SignLshBands).map(b => element_at(col("_sig"), b))

  /** Exact brute-force cosine top-k: every corpus vector scored against
    * every query vector (queries broadcast), per-query top-k by
    * (cosine desc, corpus id) for deterministic ties. */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("_qv")))
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
      .join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("_qv"), col("_cv")).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Leave-one-out kNN label audit over a bounded query set — the
    * label-quality check a labeling pipeline runs: if a document's k
    * nearest embedding neighbors vote a different label, the label
    * (or the embedding) is suspect. Majority vote with deterministic
    * ties (most votes, then smallest label). Same bounded-broadcast
    * shape as [[annTopK]]; vote counting and the winner window run on
    * the (queries × k)-sized top-k table. */
  def knnLabelVote(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val topk = annTopK(corpus, queries, k, idCol, vecCol)
    val votes = topk
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("_nl")), "neighbor_id")
      .groupBy(col("query_id"), col("_nl"))
      .agg(count(lit(1)).as("n_votes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("_nl"))
    votes
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .join(queries.select(col(idCol).as("query_id"),
        col(labelCol).as("true_label")), "query_id")
      .select(col("query_id"), col("true_label"),
        col("_nl").as("pred_label"), col("n_votes"),
        (col("_nl") === col("true_label")).as("correct"))
  }

  /** Embedding-cosine near-duplicate pairs: same sign-LSH band
    * bucketing as [[bucketTop1]], emitting every candidate pair
    * at or above `threshold` (id_a < id_b). The dedup-flavored
    * variant of the bucketed search — feeds the same cluster
    * assignment as the text near-dup pairs. */
  def cosineNearDups(corpus: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    cosinePairs(corpus, idCol, vecCol, _ >= threshold)

  // ---- trained IVF: seeded k-means coarse quantizer ----

  /** Deterministic k-means for the IVF coarse quantizer: centroids
    * seeded from the k lowest-id vectors, fixed iteration count,
    * assignment by squared L2 with lowest-centroid-index tie-break —
    * [[pqTrain]] with one subspace. Centroids are k x dim doubles on
    * the driver (tiny by construction). */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : Array[Array[Double]] =
    pqTrain(corpus, 1, k, idCol, vecCol, iters).head

  /** Seeded Lloyd iterations through [[Iterate]] over `m` contiguous
    * subspaces at once: the `k` lowest-id vectors seed every subspace's
    * centroids; each step sums every partition's members per (subspace,
    * centroid) — rows folded in order — and moves each centroid that
    * won members to their mean (one that won none stays). A partial is
    * flat: per (subspace, centroid), the member sum then the count. */
  private[graft] def lloyd(m: Int, k: Int): Iterate.Loop[(Long, Array[Float]),
      Array[(Long, Array[Float])], Array[Array[Array[Double]]],
      Array[Double]] = {
    def lowest(a: Array[(Long, Array[Float])], b: Array[(Long, Array[Float])]) =
      (a ++ b).sortBy(_._1).take(k)
    Iterate.Loop(
      seed = it => lowest(it.toArray, Array.empty),
      seedMerge = lowest,
      start = seeds => {
        val dim = seeds.headOption.fold(0)(_._2.length)
        require(dim % m == 0, s"dim $dim not divisible by m=$m")
        Array.tabulate(m, seeds.length, dim / m)(
          (s, c, i) => seeds(c)._2(s * dim / m + i).toDouble)
      },
      partial = (books, it) => {
        val (kk, dsub) = (books(0).length, books(0)(0).length)
        val acc = new Array[Double](m * kk * (dsub + 1))
        it.foreach { case (_, v) =>
          for (s <- 0 until m) {
            val sub = if (m == 1) v
              else java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub)
            val at = (s * kk + nearestCentroid(sub, books(s))) * (dsub + 1)
            for (i <- 0 until dsub) acc(at + i) += sub(i)
            acc(at + dsub) += 1
          }
        }
        acc
      },
      merge = Iterate.sum,
      next = (books, acc) => {
        val (kk, dsub) = (books(0).length, books(0)(0).length)
        Array.tabulate(m, kk) { (s, c) =>
          val at = (s * kk + c) * (dsub + 1)
          if (acc(at + dsub) == 0) books(s)(c)
          else Array.tabulate(dsub)(i => acc(at + i) / acc(at + dsub))
        }
      })
  }

  /** Index of the nearest centroid by squared L2 (first wins ties). */
  def nearestCentroid(v: Array[Float], centroids: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    for (c <- centroids.indices) {
      val d = sqDist(v, centroids(c))
      if (d < bestD) { bestD = d; best = c }
    }
    best
  }

  /** Centroid indices nearest first (index breaks ties): a query's
    * probe order. */
  private def probeOrder(v: Array[Float], centroids: Array[Array[Double]])
      : IndexedSeq[Int] =
    centroids.indices.sortBy(c => (sqDist(v, centroids(c)), c))

  /** Squared L2 folded left to right over the centroid's dims. */
  private def sqDist(v: Array[Float], ct: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < ct.length) { val diff = v(i) - ct(i); d += diff * diff; i += 1 }
    d
  }

  /** TwoNN intrinsic-dimension estimate (Facco et al. 2017) — the
    * embedding-health read before trusting ANN/clustering geometry:
    * for each probe vector, the ratio μ = d₂/d₁ of its two nearest
    * neighbors' distances is Pareto(id) under local uniformity, so
    * the MLE is id = n / Σ ln μ. A LOW id versus the ambient
    * dimension says the manifold is compressible (PCA/MRL truncation
    * is safe); id collapsing toward 0 says the corpus is riddled
    * with near-duplicates.
    *
    * Works on SQUARED distances (ln μ = ½ ln(q₂/q₁), so
    * id = 2n / Σ ln(q₂/q₁)) — no sqrt anywhere, and the squared-L2
    * expands to dot products so the codegen'd [[dot]] kernel carries
    * the whole scan. Probes with q₁ ≤ 0 (exact dups of a corpus
    * vector) are dropped — stated, and restated by the oracle. Same
    * bounded-broadcast shape as [[annTopK]]: probes broadcast, one
    * corpus pass, per-probe top-2 window; the ANN family is the
    * shortlist path when the probe set itself must scale. ln ratios
    * are 6-dp-quantized before the exact decimal sum. */
  def intrinsicDim(corpus: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("_qv")))
    val qd = dot(col("_qv"), col("_qv")) -
      lit(2.0) * dot(col("_qv"), col("_cv")) +
      dot(col("_cv"), col("_cv"))
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
      .join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), qd.as("_q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("_q"), col("neighbor_id"))
    scored
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= 2)
      .groupBy(col("query_id"))
      .agg(min(when(col("_rn") === 1, col("_q"))).as("q1"),
        min(when(col("_rn") === 2, col("_q"))).as("q2"))
      .filter(col("q1") > 0 && col("q2") > 0)
      .withColumn("_lr",
        graft.util.Parity.roundTo(log(col("q2") / col("q1")), 6))
      .agg(count(lit(1)).as("n_probes"),
        graft.util.Parity.dsum(col("_lr")).as("sum_log_ratio"))
      .withColumn("id_twonn",
        expr("2.0 * n_probes / nullif(sum_log_ratio, 0.0)"))
  }

  /** Cluster-quality panel over the [[kmeansCentroids]] clustering —
    * the read a curator runs before trusting cluster-partitioned ops
    * (SemDeDup, IVF): per NON-EMPTY cluster, the member count, the
    * scatter S_c (mean member→centroid L2 distance), the distance to
    * the nearest other non-empty centroid, and the Davies–Bouldin
    * term max_{j≠c} (S_c+S_j)/M_cj (DB index = its mean; lower =
    * tighter, better-separated clusters; null when only one cluster
    * survives).
    *
    * Scale shape: training is [[kmeansCentroids]] (per-partition
    * centroid sums, merged in partition order); the panel itself is
    * ONE map pass (assignment + distance — the same left-to-right
    * squared-L2 fold the quantizer uses, so the oracle's list_reduce
    * recomputes it bit-identically) and one k-row aggregate; the k×k
    * centroid geometry is driver math joined back as a literal table.
    * Echo + verify gate: only the trained centroids are echoed —
    * DuckDB re-derives assignment, scatter, and the DB terms from raw
    * embeddings. Per-member distances are 6-dp-quantized before the
    * exact decimal mean (the dsum contract); centroid-pair distances
    * stay raw doubles (identical IEEE op sequence on identical
    * echoed literals on both engines). */
  def clusterMetrics(corpus: DataFrame, k: Int, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : (Array[Array[Double]], DataFrame) = {
    val cents = kmeansCentroids(corpus, k, iters, idCol, vecCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    val assigned = corpus
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .map { case (_, v) =>
        val c = nearestCentroid(v, bc.value)
        (c, math.sqrt(sqDist(v, bc.value(c))))
      }
      .toDF("cluster_id", "_d")
    val per = assigned
      .withColumn("_dq", graft.util.Parity.roundTo(col("_d"), 6))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        (graft.util.Parity.dsum(col("_dq")) / count(lit(1)))
          .as("scatter"))
    // k x k centroid geometry — driver-sized by construction
    val centDist = spark.createDataFrame(
      for {
        ci <- cents.indices
        cj <- cents.indices if ci != cj
      } yield {
        var d = 0.0; var i = 0
        while (i < cents(ci).length) {
          val diff = cents(ci)(i) - cents(cj)(i); d += diff * diff; i += 1
        }
        (ci, cj, math.sqrt(d))
      }).toDF("ci", "cj", "m")
    val other = per.select(col("cluster_id").as("cj"),
      col("scatter").as("_sj"))
    val terms = per
      .join(broadcast(centDist), col("cluster_id") === col("ci"))
      .join(other, "cj")
      .groupBy(col("cluster_id"))
      .agg(min(col("m")).as("min_sep"),
        max((col("scatter") + col("_sj")) / col("m")).as("db_term"))
    (cents,
      per.join(terms, Seq("cluster_id"), "left")
        .select(col("cluster_id"), col("n_members"), col("scatter"),
          col("min_sep"), col("db_term")))
  }

  /** Exact-cosine re-rank of a (query_id, neighbor_id) shortlist:
    * fetch both vectors by id, score, and keep the per-query top-k
    * by (cosine desc, neighbor id). This is the plain-SQL tail every
    * trained-ANN variant shares — and the stage the DuckDB oracle
    * gates (the shortlist ids are embedded in the oracle as
    * literals, so both engines rank the same candidate set). */
  def exactRerank(shortlist: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val scored = shortlist
      .join(corpus.select(col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).as("_cv")), "neighbor_id")
      .join(broadcast(queries.select(col(idCol).cast("long").as("query_id"),
        col(vecCol).as("_qv"))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("_qv"), col("_cv")).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Candidate (query_id, neighbor_id) pairs from the trained-IVF
    * probe: corpus vectors assigned to their nearest centroid (one
    * map pass, centroids broadcast), each query probing its `nprobe`
    * nearest lists — the classic inverted-file candidate set, no
    * all-pairs anywhere. */
  def ivfCandidates(corpus: DataFrame, queries: DataFrame,
      nClusters: Int = 16, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfCandidatesWith(
      kmeansCentroids(corpus, nClusters, iters = 3, idCol, vecCol),
      corpus, queries, nprobe, idCol, vecCol)

  /** [[ivfCandidates]] with the trained coarse quantizer supplied —
    * the entry point for audits that must pin the centroids. */
  def ivfCandidatesWith(centroids: Array[Array[Double]],
      corpus: DataFrame, queries: DataFrame, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    val assigned = corpus
      .select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
      .map { case (id, v) => (id, nearestCentroid(v, bc.value)) }
      .toDF("neighbor_id", "cluster")
    // probe selection runs distributed over the query set (only the
    // broadcast centroids are driver-sized) — the query DataFrame
    // never collects to the driver
    val probeDf = broadcast(queries
      .select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
      .flatMap { case (qid, qv) =>
        probeOrder(qv, bc.value).take(nprobe).map(c => (qid, c))
      }
      .toDF("query_id", "cluster"))
    assigned.join(probeDf, "cluster")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Recall@k audit of the trained IVF against exact brute force —
    * the acceptance gate run before trusting an ANN index at scale.
    * Per query: candidate-set size, |IVF top-k ∩ brute top-k| and
    * recall = overlap/k. Returns the trained centroids alongside so
    * the caller can pin them (given the centroids, every downstream
    * step — assignment, probes, both top-k rankings, the overlap —
    * is exact arithmetic an independent engine can re-derive).
    * Cost shape: the brute side is |queries| x corpus (the audit IS
    * the exhaustive scan — run it on the bounded query panel, never
    * the full corpus); the IVF side is the production probe path. */
  def ivfRecallAudit(corpus: DataFrame, queries: DataFrame, k: Int,
      nClusters: Int = 16, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : (Array[Array[Double]], DataFrame) = {
    val centroids =
      kmeansCentroids(corpus, nClusters, iters = 3, idCol, vecCol)
    val cands = graft.util.Caches.materialize(
      ivfCandidatesWith(centroids, corpus, queries, nprobe, idCol, vecCol))
    val ivfTop = exactRerank(cands, corpus, queries, k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val bruteTop = annTopK(corpus, queries, k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val ncand = cands.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_candidates"))
    val ov = ivfTop.join(bruteTop, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("overlap"))
    val out = queries
      .select(col(idCol).cast("long").as("query_id"))
      .join(ncand, Seq("query_id"), "left")
      .join(ov, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("overlap"), lit(0L)).as("overlap"),
        (coalesce(col("overlap"), lit(0L)).cast("double") / lit(k))
          .as("recall"))
    (centroids, out)
  }

  /** Recall *curve*: [[ivfRecallAudit]] swept over several `nprobe`
    * settings in ONE pass — the tuning table read before fixing the
    * production probe count. Centroids train once; corpus assignment
    * runs once; probe lists rank once up to max(nprobes); each sweep
    * point is then a filter on the probe rank, so the whole curve
    * costs one assignment pass + one candidate scoring pass over the
    * union of candidate sets (the np=max set dominates) + one brute
    * pass over the bounded query panel. Output: one row per
    * (nprobe, query) with candidate count, overlap@k and recall@k. */
  def ivfRecallSweep(corpus: DataFrame, queries: DataFrame, k: Int,
      nClusters: Int, nprobes: Seq[Int],
      idCol: String = "vec_id", vecCol: String = "embedding")
      : (Array[Array[Double]], DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids =
      kmeansCentroids(corpus, nClusters, iters = 3, idCol, vecCol)
    val bc = spark.sparkContext.broadcast(centroids)
    val maxNp = nprobes.max
    val assigned = corpus
      .select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
      .map { case (id, v) => (id, nearestCentroid(v, bc.value)) }
      .toDF("neighbor_id", "cluster")
    // ranked probe lists (distributed; only centroids are broadcast)
    val probesRanked = queries
      .select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
      .flatMap { case (qid, qv) =>
        probeOrder(qv, bc.value).take(maxNp).zipWithIndex
          .map { case (c, r) => (qid, c, r + 1) }
      }
      .toDF("query_id", "cluster", "probe_rank")
    val npDf = nprobes.toDF("nprobe")
    val cands = graft.util.Caches.materialize(
      assigned
        .join(broadcast(probesRanked.crossJoin(npDf)
          .filter(col("probe_rank") <= col("nprobe"))), "cluster")
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("nprobe"), col("query_id"), col("neighbor_id")))
    val scored = cands
      .join(corpus.select(col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).as("_cv")), "neighbor_id")
      .join(broadcast(queries.select(col(idCol).cast("long").as("query_id"),
        col(vecCol).as("_qv"))), "query_id")
      .select(col("nprobe"), col("query_id"), col("neighbor_id"),
        cosine(col("_qv"), col("_cv")).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("nprobe"), col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    val ivfTop = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("nprobe"), col("query_id"), col("neighbor_id"))
    val bruteTop = annTopK(corpus, queries, k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val ncand = cands.groupBy(col("nprobe"), col("query_id"))
      .agg(count(lit(1)).as("n_candidates"))
    val ov = ivfTop.join(bruteTop, Seq("query_id", "neighbor_id"))
      .groupBy(col("nprobe"), col("query_id"))
      .agg(count(lit(1)).as("overlap"))
    val out = npDf
      .crossJoin(queries.select(col(idCol).cast("long").as("query_id")))
      .join(ncand, Seq("nprobe", "query_id"), "left")
      .join(ov, Seq("nprobe", "query_id"), "left")
      .select(col("nprobe"), col("query_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("overlap"), lit(0L)).as("overlap"),
        (coalesce(col("overlap"), lit(0L)).cast("double") / lit(k))
          .as("recall"))
    (centroids, out)
  }

  // ---- product quantization (PQ) ANN ----

  /** Train PQ codebooks: the embedding dimension is split into `m`
    * contiguous subspaces and each gets its own `ksub`-entry codebook
    * by deterministic seeded k-means (seeds = the k lowest-id vectors'
    * subvectors; squared-L2 assignment, lowest-index tie-break; fixed
    * iteration count). ALL m codebooks train together in one [[lloyd]]
    * loop — m times fewer passes than training each subspace
    * separately. Codebooks are m x ksub x (dim/m) doubles on the
    * driver — bytes, by construction. At 100 TB you train on a
    * bounded sample instead (swap `corpus` for `corpus.limit(n)`);
    * the search path is unchanged. */
  def pqTrain(corpus: DataFrame, m: Int, ksub: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      iters: Int = 3): Array[Array[Array[Double]]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    Iterate(corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].rdd, iters, lloyd(m, ksub))
  }

  /** Nearest code per subspace for one full vector. */
  def pqEncode(v: Array[Float], books: Array[Array[Array[Double]]]): Array[Int] = {
    val m = books.length
    val dsub = v.length / m
    Array.tabulate(m) { s =>
      val sub = java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub)
      nearestCentroid(sub, books(s))
    }
  }

  /** PQ ADC shortlist: corpus vectors are encoded to m small codes
    * (one map pass, codebooks broadcast); each query builds an
    * asymmetric-distance (ADC) table — its squared L2 to every
    * codebook entry per subspace — so the approximate distance per
    * corpus vector is m table lookups over the codes, never a touch
    * of the full vector. Returns the ADC top-`shortlist`
    * (query_id, neighbor_id) pairs; [[pqTopK]] re-ranks them by
    * exact cosine (a join back by id — shuffle sized by shortlist x
    * queries, not corpus). This is the memory shape that matters at
    * 100 TB: the scored side carries m ints per vector instead of
    * the embedding. */
  def pqShortlist(corpus: DataFrame, queries: DataFrame,
      m: Int = 4, ksub: Int = 16, shortlist: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val books = pqTrain(corpus, m, ksub, idCol, vecCol)
    val bc = spark.sparkContext.broadcast(books)
    val codes = corpus
      .select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
      .map { case (id, v) => (id, pqEncode(v, bc.value)) }
      .toDF("neighbor_id", "_codes")
    // per-query ADC tables, built distributed and broadcast with the
    // query set: table(s)(c) = ||q_s - book_s(c)||^2
    val qTables = broadcast(queries
      .select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
      .map { case (qid, qv) =>
        val bks = bc.value
        val dsub = qv.length / bks.length
        val table = Array.tabulate(bks.length) { s =>
          Array.tabulate(bks(s).length) { c =>
            var d = 0.0; var i = 0
            val ct = bks(s)(c)
            while (i < dsub) {
              val diff = qv(s * dsub + i) - ct(i); d += diff * diff; i += 1
            }
            d
          }
        }
        (qid, table)
      }
      .toDF("query_id", "_table"))
    val adc = codes.join(qTables, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(
          zip_with(col("_codes"), col("_table"),
            (c, t) => element_at(t, c + lit(1))),
          lit(0.0), (acc, x) => acc + x).as("_adc"))
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("_adc"), col("neighbor_id"))
    adc.withColumn("_rn", row_number().over(wAdc))
      .filter(col("_rn") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
  }

  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 4, ksub: Int = 16, shortlist: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    exactRerank(
      pqShortlist(corpus, queries, m, ksub, shortlist, idCol, vecCol),
      corpus, queries, k, idCol, vecCol)

  /** IVF-PQ top-k: the canonical large-scale ANN composition — a
    * coarse IVF quantizer routes vectors to inverted lists, vectors
    * are PQ-encoded as m small codes over their RESIDUAL from the
    * list centroid (residual energy << vector energy, so the same
    * code budget quantizes much finer), and each query probes its
    * `nprobe` nearest lists with a per-(query, list) ADC table over
    * the residual codebooks. Approximate distance = m table lookups
    * per candidate; the ADC shortlist is re-ranked by exact cosine.
    *
    * Memory shape at 100 TB: the scored side carries (cluster, m
    * codes) per vector — a few bytes — and the candidate join is an
    * equi-join on cluster, shuffle bounded by nprobe x |query| lists,
    * never all-pairs and never full vectors. */
  def ivfPqShortlist(corpus: DataFrame, queries: DataFrame,
      nClusters: Int = 16, nprobe: Int = 2,
      m: Int = 4, ksub: Int = 16, shortlist: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = kmeansCentroids(corpus, nClusters, iters = 3, idCol, vecCol)
    val bcC = spark.sparkContext.broadcast(centroids)
    // one pass: (id, cluster, residual); reused by PQ training + encoding
    val resid = corpus
      .select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
      .map { case (id, v) =>
        val c = nearestCentroid(v, bcC.value)
        val ct = bcC.value(c)
        (id, c, Array.tabulate(v.length)(i => (v(i) - ct(i)).toFloat))
      }
      .toDF(idCol, "cluster", "residual")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val books = pqTrain(resid.select(col(idCol), col("residual")),
        m, ksub, idCol, "residual")
      val bcB = spark.sparkContext.broadcast(books)
      val codes = resid
        .select(col(idCol), col("cluster"), col("residual"))
        .as[(Long, Int, Array[Float])]
        .map { case (id, c, r) => (id, c, pqEncode(r, bcB.value)) }
        .toDF("neighbor_id", "cluster", "_codes")
      // per (query, probed list): ADC table over the residual books,
      // t(s)(code) = ||(q - centroid)_s - book_s(code)||^2
      val probeDf = broadcast(queries
        .select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
        .flatMap { case (qid, qv) =>
          val cs = bcC.value; val bks = bcB.value
          val dsub = qv.length / bks.length
          probeOrder(qv, cs).take(nprobe).map { c =>
            val ct = cs(c)
            val table = Array.tabulate(bks.length) { s =>
              Array.tabulate(bks(s).length) { code =>
                var d = 0.0; var i = 0
                val bk = bks(s)(code)
                while (i < dsub) {
                  val diff = qv(s * dsub + i) - ct(s * dsub + i) - bk(i)
                  d += diff * diff; i += 1
                }
                d
              }
            }
            (qid, c, table)
          }
        }
        .toDF("query_id", "cluster", "_table"))
      val adc = codes.join(probeDf, "cluster")
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          aggregate(
            zip_with(col("_codes"), col("_table"),
              (c, t) => element_at(t, c + lit(1))),
            lit(0.0), (acc, x) => acc + x).as("_adc"))
      val wAdc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("_adc"), col("neighbor_id"))
      // eager: the caller's action must not outlive the resid cache
      graft.util.Caches.snapshot(
        adc.withColumn("_rn", row_number().over(wAdc))
          .filter(col("_rn") <= shortlist)
          .select(col("query_id"), col("neighbor_id")))
    } finally resid.unpersist()
  }

  /** LSH-bucketed nearest neighbour: per vector, the single most
    * cosine-similar other vector *among its pair-bucket candidates*
    * (ties broken by neighbor id). Vectors that share no bucket with
    * any other vector drop out — that is the approximation the
    * bucket join buys. */
  def bucketTop1(corpus: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // both directions in ONE pass over the scored pairs (cosine is
    // symmetric bit for bit: the fold's products and the norms commute)
    val pairs = cosinePairs(corpus, idCol, vecCol, _ => lit(true))
      .select(explode(array(
        struct(col("id_a"), col("id_b"), col("cos_sim")),
        struct(col("id_b").as("id_a"), col("id_a").as("id_b"),
          col("cos_sim")))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.cos_sim").as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"))
      .orderBy(col("cos_sim").desc, col("id_b"))
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id_a").as("vec_id"), col("id_b").as("nn_id"),
        col("cos_sim"))
  }

  // ---- SemDeDup: semantic dedup inside k-means partitions ----

  /** SemDeDup-style semantic dedup (cluster-then-compare, after
    * Abbas et al. 2023): k-means the embedding space, then look for
    * near-duplicates ONLY inside each cluster — pairwise cost drops
    * from n² to Σ cluster_size², and the cluster count is the scale
    * lever (hold the target cluster size constant and k grows
    * linearly with the corpus, so per-cluster work stays flat). A
    * vector is dropped when a SMALLER-ID vector in its cluster has
    * cosine >= `threshold` (greedy keep-first, deterministic);
    * `dup_of` records the smallest such id, null for survivors.
    * Cross-cluster near-duplicates are NOT candidates — the method's
    * documented recall trade-off (the banded-LSH
    * [[cosineNearDups]] path is the complementary high-recall pass).
    *
    * Distribution shape: assignment is one map pass over broadcast
    * centroids; the candidate join is CLUSTER-KEYED (an equi-join,
    * never all-pairs across the corpus) and AQE splits a skewed
    * cluster's join work at runtime. Returns the centroids alongside
    * the result so a gate can pin the exact geometry the run used. */
  def semDedup(corpus: DataFrame, nClusters: Int, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : (Array[Array[Double]], DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = kmeansCentroids(corpus, nClusters, iters = 3, idCol, vecCol)
    val bc = spark.sparkContext.broadcast(centroids)
    // materialize: `assigned` feeds FOUR plan branches (both join
    // sides, twice) — without the barrier each branch re-scans the
    // corpus and re-runs the assignment map
    val assigned = graft.util.Caches.materialize(corpus
      .select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
      .map { case (id, v) => (id, nearestCentroid(v, bc.value), v) }
      .toDF("vec_id", "cluster_id", "_v"))
    val b = assigned.select(col("vec_id").as("_bid"),
      col("cluster_id").as("_bc"), col("_v").as("_bv"))
    val dups = assigned
      .join(b, col("cluster_id") === col("_bc") && col("_bid") < col("vec_id"))
      .filter(cosine(col("_v"), col("_bv")) >= threshold)
      .groupBy(col("vec_id")).agg(min(col("_bid")).as("dup_of"))
    val out = assigned.select(col("vec_id"), col("cluster_id"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        col("dup_of"), col("dup_of").isNull.as("keep"))
    (centroids, out)
  }

  // ---- MRL truncation: neighbor preservation after prefix-truncating ----

  /** Matryoshka-style truncation audit: how much exact-cosine top-k
    * neighbor structure survives keeping only the first `truncDim`
    * embedding coordinates (the storage/latency lever MRL-trained
    * embeddings are built for — serve a prefix, keep most recall).
    * Per query: `overlap` = |topk(full) ∩ topk(truncated)|, `recall`
    * = overlap/k. Cosine over a prefix needs no re-normalization —
    * the norm is recomputed on the slice.
    *
    * Scale shape: ONE broadcast-queries corpus pass scores BOTH
    * cosines per pair (running [[annTopK]] twice would scan the
    * corpus twice for the same pairs), then both rankings come from
    * two row_number windows over the SAME query_id partitioning —
    * one exchange, two sort passes. The overlap is a filter + count
    * on the k-bounded ranks, size Q x k. */
  def mrlRecall(corpus: DataFrame, queries: DataFrame, k: Int,
      truncDim: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("_qv"), slice(col(vecCol), 1, truncDim).as("_tqv")))
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
        slice(col(vecCol), 1, truncDim).as("_tcv"))
      .join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("_qv"), col("_cv")).as("_cos_full"),
        cosine(col("_tqv"), col("_tcv")).as("_cos_trunc"))
    def w(c: Column) = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(c.desc, col("neighbor_id"))
    val overlap = scored
      .withColumn("_rf", row_number().over(w(col("_cos_full"))))
      .withColumn("_rt", row_number().over(w(col("_cos_trunc"))))
      .filter(col("_rf") <= k && col("_rt") <= k)
      .groupBy(col("query_id"))
      .agg(count(lit(1)).cast("int").as("overlap"))
    queries.select(col(idCol).cast("long").as("query_id"))
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"), lit(truncDim).as("trunc_dim"),
        coalesce(col("overlap"), lit(0)).as("overlap"),
        (coalesce(col("overlap"), lit(0)).cast("double") / k).as("recall"))
  }
}
