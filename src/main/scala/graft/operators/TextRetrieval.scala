package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 full-text retrieval over the documents corpus — the ranked
  * keyword-search operator a curation stack uses to pull targeted
  * subsets out of a web-scale corpus ("find the docs about X and
  * route them to annotation/eval"). Okapi BM25 (Robertson et al.):
  *
  *   score(q, d) = Σ_{t ∈ q} idf(t) · tf(t,d)·(k1+1)
  *                            / (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
  *   idf(t)      = ln(1 + (N − df(t) + 0.5) / (df(t) + 0.5))
  *
  * Scale shape: the per-(doc, word) tf table feeds doc lengths, corpus
  * stats and the postings probe in one plan, with no barrier:
  * persisting it measured no faster in the warm-up that builds both
  * ranked lists. The query set is tiny by nature and broadcast twice
  * (term filter, then query-id attach); document frequencies come
  * from the already-filtered postings — only query terms are ever
  * counted, so the vocabulary-sized df table never materializes. The
  * final rank window is partitioned by query id: per-query top-k,
  * never a global sort, at any corpus size.
  *
  * Engine parity (the DuckDB gate hash-compares values): the idf is
  * the only transcendental — it is quantized to 6 decimals
  * ([[graft.util.Parity.roundTo]], the ln-parity contract) — every
  * other step is correctly-rounded IEEE arithmetic spelled
  * identically in both engines, and the per-term scores cross the
  * final aggregation as an order-free decimal sum. */
object TextRetrieval {

  /** `queryTerms`: a tiny (query_id, term) table, one row per query
    * term, terms already normalized (lowercase). Emits the per-query
    * top-`k` documents by BM25 score with (score DESC, doc_id ASC)
    * tie-break: (query_id, doc_id, n_terms, score, rank). Documents
    * matching no query term never surface (standard retrieval
    * semantics — and the reason no full cross product exists). */
  def bm25TopK(docs: DataFrame, queryTerms: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val k1p1 = k1 + 1.0
    val (dl, stats, post) = postings(docs, queryTerms, textCol, idCol)
    val scored = post
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("_avgdl",
        col("_tot").cast("double") / col("_n").cast("double"))
      .withColumn("_idf", graft.util.Parity.roundTo(
        log((col("_n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)), 6))
      .withColumn("_s", col("_idf") *
        ((col("tf") * lit(k1p1)) /
          (col("tf") + lit(k1) *
            (lit(1.0) - lit(b) + (lit(b) * col("dl")) / col("_avgdl")))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol).asc)
    scored
      .join(broadcast(queryTerms), col("word") === col("term"))
      .groupBy(col("query_id"), col(idCol))
      .agg(count(lit(1)).as("n_terms"),
        graft.util.Parity.dsum(col("_s")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Plain TF-IDF query ranking — the lexical second voice for rank
    * fusion: score(q, d) = Σ_t tf(t, d)·ln(N/df(t)) over the query's
    * terms. No BM25 length normalization or tf saturation, so its
    * failure modes differ from BM25's — exactly what makes fusing
    * the two lists worth more than either alone. Same one-scan
    * [[postings]] as [[bm25TopK]]. */
  def tfidfTopK(docs: DataFrame, queryTerms: DataFrame, k: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val (_, stats, post) = postings(docs, queryTerms, textCol, idCol)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol).asc)
    post
      .crossJoin(broadcast(stats.select(col("_n"))))
      .withColumn("_idf", graft.util.Parity.roundTo(
        log(col("_n").cast("double") / col("df")), 6))
      .withColumn("_s", col("tf") * col("_idf"))
      .join(broadcast(queryTerms), col("word") === col("term"))
      .groupBy(col("query_id"), col(idCol))
      .agg(graft.util.Parity.dsum(col("_s")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** The one-scan postings shape [[bm25TopK]] and [[tfidfTopK]] share:
    * per-doc lengths `dl` (idCol, dl), the one-row corpus stats
    * (_n docs, _tot tokens), and the tf rows of the query terms only
    * with their df: (word, idCol, tf, df). The postings are restricted
    * to query terms BEFORE any further work: df is counted on the
    * filtered stream (identical value, the vocabulary is never
    * aggregated), and only matching rows reach the scorer. */
  private def postings(docs: DataFrame, queryTerms: DataFrame,
      textCol: String, idCol: String): (DataFrame, DataFrame, DataFrame) = {
    val tf = docs
      .select(col(idCol), explode(TextDedup.words(col(textCol))).as("word"))
      .groupBy(col(idCol), col("word"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("_n"), sum(col("dl")).as("_tot"))
    val qdist = queryTerms.select(col("term")).distinct()
    val post = tf.join(broadcast(qdist), col("word") === col("term"))
      .drop("term")
    val dfreq = post.groupBy(col("word")).agg(count(lit(1)).as("df"))
    (dl, stats, post.join(dfreq, "word"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of two
    * rankings: RRF(d) = Σ_lists 1/(c + rank_list(d)) over the lists
    * that retrieved d, re-ranked per query. The standard zero-tuning
    * ensemble — fused lists beat either input because rank (not
    * score) is the unit, so incompatible score scales never matter.
    * Pure rank arithmetic on two k-bounded lists: the join is
    * (query, doc)-keyed over ≤ 2k rows per query, nothing
    * corpus-sized. */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c: Double = 60.0,
      idCol: String = "doc_id"): DataFrame = {
    val ra = a.select(col("query_id"), col(idCol), col("rank").as("rank_a"))
    val rb = b.select(col("query_id"), col(idCol), col("rank").as("rank_b"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col(idCol).asc)
    ra.join(rb, Seq("query_id", idCol), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(c) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("rank_b")), lit(0.0)))
      .withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= k)
      .select(col("query_id"), col(idCol),
        col("rank_a").as("rank_bm25"), col("rank_b").as("rank_tfidf"),
        col("rrf"), col("fused_rank"))
  }

  /** TF-IDF cosine document-pair similarity through a df-pruned
    * inverted index — the weighted complement of the MinHash/Jaccard
    * family: near-boilerplate docs score by how RARE their shared
    * n-grams are, so template pages sharing only stock phrases rank
    * below genuine near-copies. Candidate pairs come ONLY from
    * postings of shingles with 2 ≤ df ≤ `maxDf`; similarity is
    * cosine in that pruned term space (the standard "rare-feature"
    * similarity — df-1 shingles cannot pair, df > maxDf shingles are
    * corpus boilerplate by definition and excluded from weights and
    * norms alike, which keeps the two sides of the contract in one
    * table).
    *
    * Scale shape (the reason this survives 100 TB where all-pairs
    * cosine cannot): the self-join is keyed by shingle, so candidate
    * volume is Σ_t df(t)·(df(t)−1)/2 ≤ (maxDf−1)/2 · |postings| —
    * LINEAR in corpus size with the df cap as the documented fan-out
    * lever, exactly the bound the LSH band joins carry. One corpus
    * scan builds the tf table, and the df-pruned weight table derived
    * from it is materialized (norms and both join sides read it); the
    * pair aggregate is keyed by (doc_a, doc_b); norms attach by doc-id
    * equi-joins. No global sort, no all-pairs product anywhere.
    *
    * Engine parity: idf = ln(N/df) is the only transcendental,
    * 6-dp-quantized; weight products cross the aggregation as
    * order-free decimal sums; sqrt and the final division are
    * correctly-rounded IEEE ops on identical doubles. */
  def tfidfCosinePairs(docs: DataFrame, n: Int = 3, maxDf: Int = 10,
      minCosine: Double = 0.3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // Parallelize the shingle explode + map-side partial aggregate
    // (guide §2.5 input skew): a narrow input (the harness corpus is
    // ONE parquet file = ONE scan task) would otherwise explode and
    // partially aggregate the ENTIRE corpus in a single task — the
    // measured wall of this operator. Gated on the actual scan width
    // ([[graft.util.Caches.widen]]), so an already-parallel 100 TB
    // input pays no extra exchange.
    val base = graft.util.Caches.widen(
      docs.select(col(idCol), TextDedup.words(col(textCol)).as("_w"))
        .filter(size(col("_w")) >= n),
      col(idCol))
    val tf = base
      .select(col(idCol),
        explode(TextDedup.rawWordShingles(col("_w"), n)).as("shingle"))
      .groupBy(col(idCol), col("shingle"))
      .agg(count(lit(1)).as("tf"))
    val nDocs = tf.agg(countDistinct(col(idCol)).as("_n"))
    // df filter BEFORE the postings join (guide §2.3 "project/filter
    // before the exchange"): only 2 <= df <= maxDf shingles ever join
    // back, so the join's build side is the pruned vocabulary, not
    // the full one.
    val dfreq = tf.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf))
    // kept: without it the plan scans the corpus 12 times (the audit's
    // cap is 4); persisting tf in its place measured 26 jobs, not 15
    val pruned = graft.util.Caches.materialize(
      tf.join(dfreq, "shingle")
        .crossJoin(broadcast(nDocs))
        .select(col(idCol), col("shingle"),
          (col("tf") * graft.util.Parity.roundTo(
            log(col("_n").cast("double") / col("df")), 6)).as("w")))
    val norm2 = pruned.groupBy(col(idCol))
      .agg(graft.util.Parity.dsum(col("w") * col("w")).as("n2"))
    val a = pruned.select(col(idCol).as("doc_a"), col("shingle"),
      col("w").as("wa"))
    val b = pruned.select(col(idCol).as("doc_b"), col("shingle").as("_sb"),
      col("w").as("wb"))
    a.join(b, col("shingle") === col("_sb") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"),
        graft.util.Parity.dsum(col("wa") * col("wb")).as("dot"))
      .join(norm2.select(col(idCol).as("doc_a"), col("n2").as("_n2a")),
        "doc_a")
      .join(norm2.select(col(idCol).as("doc_b"), col("n2").as("_n2b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        (col("dot") / sqrt(col("_n2a") * col("_n2b"))).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }
}
