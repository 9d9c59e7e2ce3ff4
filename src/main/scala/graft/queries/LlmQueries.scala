package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{TextAnalysis, TextBpe, TextDedup, VectorOps}
import graft.util.Tables

/** Correctness entries for the LLM-training-data pipeline operators
  * over `documents` / `embeddings`: exact + near-dup deduplication
  * (hash, MinHash+LSH, SimHash, inverted-index n-gram Jaccard),
  * document fingerprinting, text analysis (language ID, quality
  * scoring, token counting) and embedding similarity search (exact
  * brute-force top-k + bucketed IVF/LSH nearest neighbour).
  *
  * Every oracle reproduces the computation bit-exactly in DuckDB —
  * including the seeded sha256 MinHash and the left-fold double cosine
  * — so hash_match verifies values, not just shapes. */
object LlmQueries {

  /** Force-build this object's [[graft.util.FrameMemo]] side-tables
    * (the LSH pair set and the PPJoin exact truth). Memos are
    * first-consumer-pays; the bench calls this in its warmup so the
    * build cost is reported as its own metric instead of being
    * charged to whichever query alphabetically runs first. */
  def warmMemos(s: SparkSession, dir: String): Unit = {
    minhashNearDups(s, dir)
    ppjoin(s, dir)
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** docs + distinct n-gram hash32 arrays in ONE codegen'd pass
    * (NgramHash32 expression), short docs dropped. */
  private def hashedCorpus(s: SparkSession, dir: String, n: Int): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        graft.functions.TextHashColumns.ngramHashes(col("text"), n).as("hs"))
      .filter(size(col("hs")) > 0)

  // ---- shared oracle CTE fragments ----

  private val normCte =
    """norm AS (
      |  SELECT doc_id, text, lang,
      |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt
      |  FROM documents
      |)""".stripMargin

  private val wrdsCte =
    s"""$normCte,
       |wrds AS (
       |  SELECT doc_id, text, lang, nt, string_split(nt, ' ') AS w FROM norm
       |)""".stripMargin

  /** Distinct word n-gram shingles, docs shorter than n words dropped. */
  private def shgCte(n: Int) =
    s"""$wrdsCte,
       |shg AS (
       |  SELECT doc_id,
       |    list_distinct([array_to_string(w[i:i+${n - 1}], ' ')
       |                   for i in range(1, len(w)-${n - 2})]) AS shingles
       |  FROM wrds WHERE len(w) >= $n
       |)""".stripMargin

  // ---- exact dedup ----

  def dedupExact(s: SparkSession, dir: String): DataFrame =
    TextDedup.exactDedup(docs(s, dir))

  val dedupExactOracle: String =
    s"""WITH $normCte
       |SELECT sha256(nt) AS text_hash, min(doc_id) AS keep_id,
       |  count(*) AS n_copies
       |FROM norm GROUP BY 1""".stripMargin

  // ---- MinHash + LSH near-dups ----

  private val MinhashK = 12
  private val JaccardThreshold = 0.3

  /** Parquet side-table memo of the LSH pair set
    * ([[graft.util.FrameMemo]]): four registry entries consume it
    * (neardup, clusters, canonical pick via clusters, the recall
    * audit), and re-running the whole signature/band/verify pipeline
    * per consumer was the registry's single biggest repeated cost
    * (the r9 BPE double-train lesson). At a web-scale dup rate the
    * pair set is corpus-proportional, so a driver-rows memo is an
    * OOM at 100 TB — the side-table costs one distributed write and
    * the driver holds only the path. */
  def minhashNearDups(s: SparkSession, dir: String): DataFrame =
    graft.util.FrameMemo.cached(s, dir, "minhash_pairs") {
      TextDedup.minhashNearDups(hashedCorpus(s, dir, 2),
        k = MinhashK, threshold = JaccardThreshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }.select(col("id_a"), col("id_b"), col("jaccard"))

  /** Hash-set Jaccard (mirrors the Spark hash corpus exactly). */
  private val hashJaccardSql =
    """len(list_intersect(x.hs, y.hs))::DOUBLE
      |    / (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)))""".stripMargin

  /** shingle posting -> DISTINCT 32-bit hashes per doc (the NgramHash32
    * twin: sha256 first 4 bytes, deduped per doc). */
  private def hashedCte(n: Int) =
    s"""${shgCte(n)},
       |posting AS (SELECT doc_id, unnest(shingles) AS shingle FROM shg),
       |hashed AS (
       |  SELECT DISTINCT doc_id, $duckHash32 AS h
       |  FROM (SELECT doc_id, sha256(shingle) AS sha FROM posting)
       |)""".stripMargin

  /** MinHash signature/band SQL builders — ONE definition consumed by
    * the minhash, cluster, and recall oracles (a drift between them
    * would make an oracle gate a different pipeline than the one
    * under test). */
  private def minhashMinsSql: Seq[String] = {
    import graft.operators.TextDedup.{MinhashA, MinhashB, MinhashP}
    (0 until MinhashK).map(i =>
      s"min((${MinhashA(i)} * h + ${MinhashB(i)}) % $MinhashP) AS m$i")
  }

  private def minhashBandValsSql: Seq[String] =
    (0 until MinhashK / 4).map(i =>
      s"concat('$i', '|', m${4 * i}, '|', m${4 * i + 1}, '|', m${4 * i + 2}, '|', m${4 * i + 3})")

  /** Sampled exact-Jaccard pair CTEs (sp/sizes/common) — shared by
    * the ppjoin and recall oracles. */
  private def sampleJaccardCtes: String =
    s"""sp AS (SELECT doc_id, h FROM hashed
       |       WHERE doc_id % ($sampleModSql) = 0),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sp GROUP BY 1),
       |common AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS cm
       |  FROM sp a JOIN sp b USING (h)
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
       |)""".stripMargin

  /** CTE chain ending in `pr(id_a, id_b, jaccard)` — the verified
    * MinHash near-dup pair set, shared by the pair oracle itself and
    * the source-bridge matrix built over it. */
  private val minhashPairsCtes: String = {
    val mins = minhashMinsSql
    val bandVals = minhashBandValsSql
    s"""${hashedCte(2)},
       |hl AS (SELECT doc_id, list(h) AS hs FROM hashed GROUP BY doc_id),
       |mh AS (
       |  SELECT doc_id, ${mins.mkString(",\n    ")}
       |  FROM hashed GROUP BY doc_id
       |),
       |bands AS (
       |  SELECT doc_id, unnest([${bandVals.mkString(", ")}]) AS band_val
       |  FROM mh
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b USING (band_val)
       |  WHERE a.doc_id < b.doc_id
       |),
       |pr AS (
       |  SELECT id_a, id_b, $hashJaccardSql AS jaccard
       |  FROM cand
       |  JOIN hl x ON x.doc_id = id_a
       |  JOIN hl y ON y.doc_id = id_b
       |  WHERE $hashJaccardSql >= $JaccardThreshold
       |)""".stripMargin
  }

  val minhashOracle: String =
    s"""WITH $minhashPairsCtes
       |SELECT id_a, id_b, jaccard FROM pr""".stripMargin

  /** LLM_INCR_NEARDUP: incremental near-dup probe
    * ([[TextDedup.minhashProbe]]) — the arriving batch (ids ≡ 7
    * mod 10, ~10% of the corpus) banded and probed against the
    * EXISTING corpus's band index; batch-proportional, never
    * corpus×corpus. Same k/threshold as the full pipeline, so the
    * oracle reuses the shared signature/band builders with the
    * new×old split stated in SQL. */
  def incrNeardup(s: SparkSession, dir: String): DataFrame = {
    val corpus = hashedCorpus(s, dir, 2)
    TextDedup.minhashProbe(
      corpus.filter(col("doc_id") % 10 === 7),
      corpus.filter(col("doc_id") % 10 =!= 7),
      k = MinhashK, threshold = JaccardThreshold)
  }

  val incrNeardupOracle: String = {
    val mins = minhashMinsSql
    val bandVals = minhashBandValsSql
    val hj = """len(list_intersect(x.hs, y.hs))::DOUBLE
      |    / (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)))"""
      .stripMargin
    s"""WITH ${hashedCte(2)},
       |hl AS (SELECT doc_id, list(h) AS hs FROM hashed GROUP BY doc_id),
       |mh AS (
       |  SELECT doc_id, ${mins.mkString(",\n    ")}
       |  FROM hashed GROUP BY doc_id
       |),
       |bands AS (
       |  SELECT doc_id, unnest([${bandVals.mkString(", ")}]) AS band_val
       |  FROM mh
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_old
       |  FROM bands a JOIN bands b USING (band_val)
       |  WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
       |)
       |SELECT id_new, id_old, $hj AS jaccard
       |FROM cand
       |JOIN hl x ON x.doc_id = id_new
       |JOIN hl y ON y.doc_id = id_old
       |WHERE $hj >= $JaccardThreshold""".stripMargin
  }

  /** LLM_DUP_PAGERANK: PageRank centrality over the verified near-dup
    * graph ([[graft.operators.GraphRank]]) — rank concentrates in the
    * big duplicate communities, giving a canonical-pick tiebreaker
    * and a "which cluster dominates the corpus" read-out. Rides the
    * memoized pair set (no signature recompute); integer fixed-point
    * arithmetic makes the 5-iteration result bit-identical across
    * engines and partitionings, so the oracle unrolls the same
    * recurrence over the same pair CTEs. */
  def dupPagerank(s: SparkSession, dir: String): DataFrame =
    graft.operators.GraphRank.pagerankInt(
      docs(s, dir).select(col("doc_id")),
      minhashNearDups(s, dir).select(col("id_a"), col("id_b")),
      iters = 5, scale = 1000000000000L)

  val dupPagerankOracle: String =
    s"""WITH $minhashPairsCtes,
       |nodes AS (SELECT doc_id FROM documents),
       |${graft.operators.GraphRank.duckPagerankCtes(5, 1000000000000L)}
       |SELECT doc_id, deg, rank_scaled FROM ranked""".stripMargin

  /** LLM_NEARDUP_SOURCES: which source pairs do near-duplicates
    * bridge — the contamination matrix a curator reads before
    * weighting sources (a near-dup that crosses sources means the
    * sources share provenance; one inside a source is ordinary
    * redundancy). Rides the memoized verified pair set; the join back
    * to documents for the two source labels is two broadcast lookups
    * of a pair table that is near-dup-sparse by construction. */
  def neardupSources(s: SparkSession, dir: String): DataFrame = {
    val src = docs(s, dir).select(col("doc_id"), col("source"))
    minhashNearDups(s, dir)
      .join(src.select(col("doc_id").as("id_a"), col("source").as("_sa")),
        Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("_sb")),
        Seq("id_b"))
      .select(
        least(col("_sa"), col("_sb")).as("source_a"),
        greatest(col("_sa"), col("_sb")).as("source_b"),
        col("jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(
        count(lit(1)).as("n_pairs"),
        (graft.util.Parity.dsum(col("jaccard")) / count(lit(1)))
          .as("mean_jaccard"))
  }

  /** LLM_NEARDUP_CURVE: threshold-sensitivity curve over the verified
    * pair set — how many near-dup pairs survive at each candidate
    * dedup threshold (cumulative: jaccard·100 ≥ thr_pct). The curve a
    * curator reads to pick the dedup cut; flat = the near-dups are
    * near-identical, steep = a threshold choice changes the corpus.
    * Thresholds slice the observed range; a threshold no pair reaches
    * drops its row on BOTH engines. The comparison is the identical
    * double multiply-compare in both (the jaccard doubles themselves
    * hash-match in llm_minhash_neardup). */
  private val NeardupCurveThr = Seq(90, 95, 96, 97, 98, 99)

  def neardupCurve(s: SparkSession, dir: String): DataFrame =
    minhashNearDups(s, dir)
      .withColumn("thr_pct",
        explode(array(NeardupCurveThr.map(lit): _*)))
      .filter(col("jaccard") * 100.0 >= col("thr_pct"))
      .groupBy(col("thr_pct"))
      .agg(
        count(lit(1)).as("n_pairs"),
        (graft.util.Parity.dsum(col("jaccard")) / count(lit(1)))
          .as("mean_jaccard"))

  val neardupCurveOracle: String =
    s"""WITH $minhashPairsCtes,
       |thr AS (SELECT unnest([${NeardupCurveThr.mkString(", ")}])
       |  AS thr_pct)
       |SELECT thr_pct, count(*) AS n_pairs,
       |  ${graft.util.Parity.duckDsum("jaccard")} / count(*)
       |    AS mean_jaccard
       |FROM pr, thr
       |WHERE jaccard * 100.0 >= thr_pct
       |GROUP BY 1""".stripMargin

  val neardupSourcesOracle: String =
    s"""WITH $minhashPairsCtes,
       |src AS (SELECT doc_id, source FROM documents)
       |SELECT least(a.source, b.source) AS source_a,
       |  greatest(a.source, b.source) AS source_b,
       |  count(*) AS n_pairs,
       |  ${graft.util.Parity.duckDsum("jaccard")} / count(*) AS mean_jaccard
       |FROM pr
       |JOIN src a ON a.doc_id = pr.id_a
       |JOIN src b ON b.doc_id = pr.id_b
       |GROUP BY 1, 2""".stripMargin

  /** Doc sample for the exact-truth audits: exact all-pairs
    * similarity is candidate-bound by pairs sharing ANY token (~all
    * pairs on this shared-vocabulary corpus — prefix filtering prunes
    * posting ROWS, not pair coverage), so complete truth is priced
    * quadratic and must run on a sample whose SIZE IS CAPPED, not on
    * a fixed fraction: a 1-in-k sample of a growing corpus grows
    * linearly and its all-pairs truth quadratically (the round-13 sf1
    * decade measured llm_ppjoin at 49× for 10× data under the old
    * fixed 1-in-3). The modulus now scales with the corpus —
    * max(3, ceil(n_docs/1700)) — capping the sample near ~1700 docs
    * (≥1-in-3 at the driver's scales, so sf0.01/sf0.1 results are
    * unchanged), which makes ground-truth cost CONSTANT at any corpus
    * size, exactly like the ANN audit's bounded query set. The oracle
    * derives the same modulus from count(*). */
  // a FrameMemo value: the dir fingerprint invalidates the cached
  // modulus if the data under dir is regenerated within one
  // application (a stale modulus would silently disagree with the
  // oracle's live count(*))
  private def sampleMod(s: SparkSession, dir: String): Long =
    graft.util.FrameMemo.value(s, dir, "sample_mod") {
      // bounded-collect(single scalar: the corpus count sizes the
      // truth-sample modulus; O(1) driver state)
      math.max(3L, (docs(s, dir).count() + 1699L) / 1700L)
    }

  /** The identical modulus in DuckDB. */
  private val sampleModSql =
    "GREATEST(3, (SELECT (count(*) + 1699) // 1700 FROM documents))"

  private def sampleHashed(s: SparkSession, dir: String): DataFrame =
    hashedCorpus(s, dir, 2)
      .filter(col("doc_id") % sampleMod(s, dir) === 0)

  /** LLM_PPJOIN: exact all-pairs Jaccard similarity join via prefix
    * filtering ([[TextDedup.prefixJaccardPairs]] — SSJoin/PPJoin),
    * over the deterministic 1-in-3 sample. The oracle deliberately
    * states the NAIVE complete specification (uncapped posting
    * self-join + jaccard filter, affordable at oracle scale): the
    * hash match proves the prefix-filter pruning is lossless, not
    * merely self-consistent. */
  /** Parquet side-table memo ([[graft.util.FrameMemo]]): the exact
    * all-pairs output is BOTH this entry's result and the recall
    * audit's ground truth — one pass instead of two (the prefix-filter
    * join is the registry's most expensive single pipeline). */
  def ppjoin(s: SparkSession, dir: String): DataFrame =
    graft.util.FrameMemo.cached(s, dir, "ppjoin_pairs") {
      TextDedup.prefixJaccardPairs(sampleHashed(s, dir),
        thresholdNum = 3, thresholdDen = 10, tokensCol = "hs")
    }

  val ppjoinOracle: String =
    s"""WITH ${hashedCte(2)},
       |$sampleJaccardCtes
       |SELECT id_a, id_b,
       |  cm::DOUBLE / (x.sz + y.sz - cm) AS jaccard
       |FROM common
       |JOIN sizes x ON x.doc_id = id_a
       |JOIN sizes y ON y.doc_id = id_b
       |WHERE cm::DOUBLE / (x.sz + y.sz - cm) >= $JaccardThreshold"""
      .stripMargin

  /** MinHash-LSH recall audit — the text-dedup twin of
    * `llm_ann_recall`: the sample's COMPLETE exact-Jaccard pair set
    * (the ppjoin output) is ground truth; the full-corpus LSH
    * pipeline's verified pairs, restricted to the sample, are the
    * found set. Found ⊆ truth by construction (the pipeline verifies
    * with the same exact Jaccard), so n_hit = n_found and the metric
    * is pure RECALL — the pairs no band caught. */
  def minhashRecall(s: SparkSession, dir: String): DataFrame = {
    // both inputs are FrameMemo parquet side-tables — multi-branch
    // reuse costs a re-read of a tiny file, no persist needed
    val truth = ppjoin(s, dir).select(col("id_a"), col("id_b"))
    val found = minhashNearDups(s, dir)
      .filter(col("id_a") % sampleMod(s, dir) === 0
        && col("id_b") % sampleMod(s, dir) === 0)
      .select(col("id_a"), col("id_b"))
    val hit = truth.join(found, Seq("id_a", "id_b"), "left_semi")
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(broadcast(found.agg(count(lit(1)).as("n_found"))))
      .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
      .select(col("n_truth"), col("n_found"), col("n_hit"),
        (col("n_hit").cast("double")
          / nullif(col("n_truth").cast("double"), lit(0.0)))
          .as("recall"))
  }

  val minhashRecallOracle: String = {
    val mins = minhashMinsSql
    val bandVals = minhashBandValsSql
    s"""WITH ${hashedCte(2)},
       |hl AS (SELECT doc_id, list(h) AS hs FROM hashed GROUP BY doc_id),
       |$sampleJaccardCtes,
       |truth AS (
       |  SELECT id_a, id_b FROM common
       |  JOIN sizes x ON x.doc_id = id_a
       |  JOIN sizes y ON y.doc_id = id_b
       |  WHERE cm::DOUBLE / (x.sz + y.sz - cm) >= $JaccardThreshold
       |),
       |mh AS (
       |  SELECT doc_id, ${mins.mkString(",\n    ")}
       |  FROM hashed GROUP BY doc_id
       |),
       |bands AS (
       |  SELECT doc_id, unnest([${bandVals.mkString(", ")}]) AS band_val
       |  FROM mh
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b USING (band_val)
       |  WHERE a.doc_id < b.doc_id
       |),
       |found AS (
       |  SELECT id_a, id_b FROM cand
       |  JOIN hl x ON x.doc_id = id_a
       |  JOIN hl y ON y.doc_id = id_b
       |  WHERE $hashJaccardSql >= $JaccardThreshold
       |    AND id_a % ($sampleModSql) = 0 AND id_b % ($sampleModSql) = 0
       |),
       |hit AS (SELECT id_a, id_b FROM truth
       |        INTERSECT SELECT id_a, id_b FROM found)
       |SELECT
       |  (SELECT count(*) FROM truth) AS n_truth,
       |  (SELECT count(*) FROM found) AS n_found,
       |  (SELECT count(*) FROM hit) AS n_hit,
       |  (SELECT count(*) FROM hit)::DOUBLE
       |    / nullif((SELECT count(*) FROM truth)::DOUBLE, 0.0) AS recall"""
      .stripMargin
  }

  // ---- near-dup clusters (connected components over pair graph) ----

  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    TextDedup.dedupClusters(minhashNearDups(s, dir))

  /** DuckDB twin: transitive closure of the (tiny) pair graph via a
    * recursive CTE; cluster id = min over the reachable set ∪ self.
    * Factored to end in a `cl` CTE so the canonical-pick oracle can
    * extend the same chain. */
  private val clusterCtes: String = {
    val mins = minhashMinsSql
    val bandVals = minhashBandValsSql
    s"""${hashedCte(2)},
       |hl AS (SELECT doc_id, list(h) AS hs FROM hashed GROUP BY doc_id),
       |mh AS (
       |  SELECT doc_id, ${mins.mkString(",\n    ")}
       |  FROM hashed GROUP BY doc_id
       |),
       |bands AS (
       |  SELECT doc_id, unnest([${bandVals.mkString(", ")}]) AS band_val
       |  FROM mh
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b USING (band_val)
       |  WHERE a.doc_id < b.doc_id
       |),
       |pairs AS (
       |  SELECT id_a, id_b FROM cand
       |  JOIN hl x ON x.doc_id = id_a
       |  JOIN hl y ON y.doc_id = id_b
       |  WHERE $hashJaccardSql >= $JaccardThreshold
       |),
       |edges AS (
       |  SELECT id_a AS s, id_b AS t FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs
       |),
       |reach AS (
       |  SELECT s, t FROM edges
       |  UNION
       |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
       |),
       |cl AS (
       |  SELECT n.s AS doc_id,
       |    least(n.s, min(r.t)) AS cluster_id,
       |    n.s = least(n.s, min(r.t)) AS keep
       |  FROM (SELECT DISTINCT s FROM edges) n
       |  JOIN reach r ON r.s = n.s
       |  GROUP BY n.s
       |)""".stripMargin
  }

  val dedupClustersOracle: String =
    s"WITH RECURSIVE $clusterCtes\nSELECT doc_id, cluster_id, keep FROM cl"

  /** LLM_DEDUP_REPORT: the dedup funnel in one row — raw corpus size,
    * survivors after exact dedup (one per normalized-text hash),
    * near-dup cluster membership/count, and the final survivor count
    * after dropping non-canonical cluster members among the exact
    * survivors. The attrition table a curator reads before shipping a
    * corpus, derived from the SAME verified stages (exact hash
    * groups, the memoized pair set's connected components) the
    * individual entries gate. */
  def dedupReport(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val exKeep = TextDedup.exactDedup(d)
      .select(col("keep_id").as("doc_id"))
    val cl = dedupClusters(s, dir)
    val joined = exKeep.join(cl, Seq("doc_id"), "left")
    val exact = joined.agg(
      count(lit(1)).as("n_exact"),
      count(when(!col("keep"), lit(1))).as("_n_dropped"))
    val raw = d.agg(count(lit(1)).as("n_raw"))
    val clStats = cl.agg(
      count(lit(1)).as("n_neardup_members"),
      countDistinct(col("cluster_id")).as("n_clusters"))
    raw.crossJoin(broadcast(exact)).crossJoin(broadcast(clStats))
      .withColumn("n_final", col("n_exact") - col("_n_dropped"))
      .select(col("n_raw"), col("n_exact"), col("n_neardup_members"),
        col("n_clusters"), col("n_final"))
  }

  val dedupReportOracle: String =
    s"""WITH RECURSIVE $clusterCtes,
       |ex AS (
       |  SELECT min(doc_id) AS doc_id FROM (
       |    SELECT doc_id,
       |      sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
       |        AS h
       |    FROM documents
       |  ) GROUP BY h
       |),
       |j AS (
       |  SELECT e.doc_id, c.keep FROM ex e
       |  LEFT JOIN cl c ON c.doc_id = e.doc_id
       |)
       |SELECT
       |  (SELECT count(*) FROM documents) AS n_raw,
       |  count(*) AS n_exact,
       |  (SELECT count(*) FROM cl) AS n_neardup_members,
       |  (SELECT count(DISTINCT cluster_id) FROM cl) AS n_clusters,
       |  count(*) - count(CASE WHEN keep = false THEN 1 END) AS n_final
       |FROM j""".stripMargin

  // ---- canonical doc per near-dup cluster ----

  /** Cluster canonicalization — after near-dup clustering, the
    * curation decision "which member survives": the longest member
    * (word count), ties to the smallest doc_id (the RefinedWeb-style
    * keep-longest rule; integer ordering, so no float tie risk). One
    * row per cluster with its size and the canonical doc. The rank
    * window and the roll-up share the cluster_id partitioning — one
    * exchange past the (tiny) cluster table join. */
  def canonicalPick(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = dedupClusters(s, dir)
    val nw = docs(s, dir).select(col("doc_id"),
      size(TextDedup.words(col("text"))).as("n_words"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_words").desc, col("doc_id"))
    clusters.join(nw, "doc_id")
      .withColumn("_rn", row_number().over(w))
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("n_members"),
        max(when(col("_rn") === 1, col("doc_id"))).as("canonical_id"),
        max(when(col("_rn") === 1, col("n_words"))).as("canonical_words"))
  }

  val canonicalPickOracle: String =
    s"""WITH RECURSIVE $clusterCtes,
       |nw AS (SELECT doc_id, CAST(len(w) AS INT) AS n_words FROM wrds),
       |m AS (
       |  SELECT c.cluster_id, c.doc_id, nw.n_words,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |      ORDER BY nw.n_words DESC, c.doc_id) AS rn
       |  FROM cl c JOIN nw USING (doc_id)
       |)
       |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       |  max(CASE WHEN rn = 1 THEN doc_id END) AS canonical_id,
       |  max(CASE WHEN rn = 1 THEN n_words END) AS canonical_words
       |FROM m GROUP BY cluster_id""".stripMargin

  // ---- inverted-index n-gram Jaccard near-dups ----

  private val NgramN = 3
  private val MaxDf = 20

  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    TextDedup.invertedIndexPairs(hashedCorpus(s, dir, NgramN),
      maxDf = MaxDf, threshold = JaccardThreshold, tokensCol = "hs")

  val ngramJaccardOracle: String =
    s"""WITH ${hashedCte(NgramN)},
       |rare AS (
       |  SELECT h FROM hashed GROUP BY 1 HAVING count(*) <= $MaxDf
       |),
       |pruned AS (SELECT doc_id, h FROM hashed JOIN rare USING (h)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM pruned GROUP BY 1),
       |common AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS cm
       |  FROM pruned a JOIN pruned b USING (h)
       |  WHERE a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT id_a, id_b,
       |  cm::DOUBLE / (x.sz + y.sz - cm) AS jaccard
       |FROM common
       |JOIN sizes x ON x.doc_id = id_a
       |JOIN sizes y ON y.doc_id = id_b
       |WHERE cm::DOUBLE / (x.sz + y.sz - cm) >= $JaccardThreshold""".stripMargin

  // ---- asymmetric n-gram containment ----

  private val ContainThreshold = 0.5

  /** LLM_CONTAINMENT: directed n-gram containment pairs
    * ([[TextDedup.containmentPairs]]) — the sub-document dup read
    * (short doc quoted whole inside a long one: Jaccard tiny,
    * containment ≈ 1). Same inverted-index candidates and df cap as
    * `llm_ngram_jaccard`; only the similarity algebra differs. */
  def containment(s: SparkSession, dir: String): DataFrame =
    TextDedup.containmentPairs(hashedCorpus(s, dir, NgramN),
      maxDf = MaxDf, threshold = ContainThreshold, tokensCol = "hs")

  val containmentOracle: String =
    s"""WITH ${hashedCte(NgramN)},
       |rare AS (
       |  SELECT h FROM hashed GROUP BY 1 HAVING count(*) <= $MaxDf
       |),
       |pruned AS (SELECT doc_id, h FROM hashed JOIN rare USING (h)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM pruned GROUP BY 1),
       |common AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS cm
       |  FROM pruned a JOIN pruned b USING (h)
       |  WHERE a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT * FROM (
       |  SELECT id_a, id_b,
       |    cm::DOUBLE / x.sz AS contain_a_in_b,
       |    cm::DOUBLE / y.sz AS contain_b_in_a,
       |    greatest(cm::DOUBLE / x.sz, cm::DOUBLE / y.sz) AS containment
       |  FROM common
       |  JOIN sizes x ON x.doc_id = id_a
       |  JOIN sizes y ON y.doc_id = id_b
       |) WHERE containment >= $ContainThreshold""".stripMargin

  // ---- TwoNN intrinsic dimension ----

  private val TwoNnProbes = 64

  /** LLM_INTRINSIC_DIM: TwoNN intrinsic-dimension MLE over the
    * embedding corpus ([[VectorOps.intrinsicDim]]) — probes are the
    * bounded lowest-id set (the ANN-family recipe), the whole squared-
    * distance scan runs on the codegen'd dot kernel, and DuckDB
    * re-derives probe top-2s, the q₁>0 drop rule, and the quantized
    * ln-ratio sum from raw embeddings. */
  def intrinsicDim(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    VectorOps.intrinsicDim(e, e.filter(col("vec_id") < TwoNnProbes))
  }

  val intrinsicDimOracle: String = {
    import graft.util.Parity.{duckDsum, duckRoundTo}
    def fold(x: String, y: String) =
      s"""list_reduce(list_transform(range(1, len($x) + 1),
         |      i -> $x[i]::DOUBLE * $y[i]::DOUBLE), (acc, v) -> acc + v)"""
        .stripMargin
    val qd = s"${fold("qv", "qv")} - 2.0 * ${fold("qv", "e.embedding")}" +
      s" + ${fold("e.embedding", "e.embedding")}"
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |  WHERE vec_id < $TwoNnProbes
       |),
       |scored AS (
       |  SELECT query_id, e.vec_id AS neighbor_id, $qd AS qd
       |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id
       |),
       |nn AS (
       |  SELECT query_id,
       |    min(CASE WHEN rn = 1 THEN qd END) AS q1,
       |    min(CASE WHEN rn = 2 THEN qd END) AS q2
       |  FROM (SELECT *, row_number() OVER (
       |      PARTITION BY query_id ORDER BY qd, neighbor_id) AS rn
       |    FROM scored)
       |  WHERE rn <= 2 GROUP BY 1
       |),
       |f AS (
       |  SELECT ${duckRoundTo("ln(q2 / q1)", 6)} AS lr
       |  FROM nn WHERE q1 > 0 AND q2 > 0
       |)
       |SELECT count(*) AS n_probes, ${duckDsum("lr")} AS sum_log_ratio,
       |  2.0 * count(*) / nullif(${duckDsum("lr")}, 0.0) AS id_twonn
       |FROM f""".stripMargin
  }

  // ---- SimHash ----

  /** One projection: each document's word array to its 60-bit SimHash
    * ([[graft.functions.SimHash60]]); a document without words has
    * none. */
  def simhash(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), graft.functions.TextHashColumns
        .simhash60(TextDedup.words(col("text"))).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** DuckDB twin of wordHash32: first 8 sha256 hex chars as a 32-bit
    * int, via per-char digit values (DuckDB has no hex→int conv).
    * A def, not a val: it is referenced from oracle vals that
    * initialize earlier in this object. */
  private def duckHash32 =
    """CAST(list_sum([(strpos('0123456789abcdef', sha[i]) - 1)
      |      * (16.0 ** (8 - i)) for i in range(1, 9)]) AS BIGINT)""".stripMargin

  /** DuckDB twin of SimHash60's word hash: first 15 sha256 hex chars
    * as a 60-bit int. Integer shifts, not `16.0 **` doubles — 16^14
    * exceeds 2^53, so the double form would silently round;
    * `digit << 4k` stays exact BIGINT arithmetic all the way up. */
  private def duckHash60 =
    """CAST(list_sum([(strpos('0123456789abcdef', sha[i]) - 1)::BIGINT
      |      << (4 * (15 - i)) for i in range(1, 16)]) AS BIGINT)""".stripMargin

  private def simhashCte: String = {
    val nb = TextDedup.SimhashBits
    val bitSums = (0 until nb).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS bs$b")
    val bits = (0 until nb).map(b =>
      s"CASE WHEN bs$b > 0 THEN ${1L << b} ELSE 0 END")
    s"""$wrdsCte,
       |tok AS (
       |  SELECT doc_id, sha256(unnest(w)) AS sha FROM wrds
       |),
       |hashed AS (SELECT doc_id, $duckHash60 AS h FROM tok),
       |votes AS (
       |  SELECT doc_id, ${bitSums.mkString(",\n    ")}
       |  FROM hashed GROUP BY doc_id
       |),
       |sims AS (
       |  SELECT doc_id, CAST(${bits.mkString(" + ")} AS BIGINT) AS simhash
       |  FROM votes
       |)""".stripMargin
  }

  val simhashOracle: String =
    s"""WITH $simhashCte
       |SELECT doc_id, simhash FROM sims""".stripMargin

  /** SimHash near-dup pairs. Spark generates candidates by
    * 15-bit-chunk bucketing (pigeonhole-complete for Hamming <= 3), so
    * the result set equals all pairs under the threshold — which the
    * oracle can state directly. */
  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    TextDedup.simhashPairs(simhash(s, dir), maxHamming = 3)

  val simhashPairsOracle: String =
    s"""WITH $simhashCte
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming_dist
       |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  // ---- winnowing fingerprint ----

  def fingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), TextDedup.words(col("text")).as("_w"))
      .select(col("doc_id"), TextDedup.wordShingles(col("_w"), 5).as("_sh"))
      .select(col("doc_id"), TextDedup.fingerprint5(col("_sh")).as("fp"))

  val fingerprintOracle: String =
    s"""WITH $wrdsCte
       |SELECT doc_id,
       |  CASE WHEN len(w) >= 5 THEN
       |    list_aggregate(list_transform(
       |      list_distinct([array_to_string(w[i:i+4], ' ')
       |                     for i in range(1, len(w)-3)]),
       |      x -> sha256(x)), 'min')
       |  END AS fp
       |FROM wrds""".stripMargin

  // ---- token counting ----

  def tokenCount(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenCounts(docs(s, dir))
      .select("doc_id", "n_ws_tokens", "n_bpe_tokens", "n_chars_norm")

  val tokenCountOracle: String =
    s"""WITH $wrdsCte
       |SELECT doc_id, len(w) AS n_ws_tokens,
       |  len(regexp_extract_all(text,
       |    '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\r]')) AS n_bpe_tokens,
       |  length(nt) AS n_chars_norm
       |FROM wrds""".stripMargin

  // ---- quality scoring ----

  def quality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScore(docs(s, dir))
      .select("doc_id", "n_words", "avg_word_len", "punct_ratio",
        "digit_ratio", "upper_ratio", "stopword_ratio", "quality_ok")

  /** The quality SELECT over `wrds` (no WITH) — reused as a CTE body
    * by the curation oracle. */
  private val qualitySelectSql: String = {
    val en = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id, len(w) AS n_words,
       |  (length(nt) - (len(w) - 1))::DOUBLE / len(w) AS avg_word_len,
       |  len(regexp_extract_all(text, '[^A-Za-z0-9 \\t\\n\\r]'))::DOUBLE
       |    / greatest(length(text), 1) AS punct_ratio,
       |  len(regexp_extract_all(text, '[0-9]'))::DOUBLE
       |    / greatest(length(text), 1) AS digit_ratio,
       |  len(regexp_extract_all(text, '[A-Z]'))::DOUBLE
       |    / greatest(length(text), 1) AS upper_ratio,
       |  len(list_filter(w, x -> list_contains([$en], x)))::DOUBLE
       |    / greatest(len(w), 1) AS stopword_ratio,
       |  len(w) >= 5
       |    AND len(regexp_extract_all(text, '[^A-Za-z0-9 \\t\\n\\r]'))::DOUBLE
       |      / greatest(length(text), 1) < 0.3
       |    AND len(regexp_extract_all(text, '[0-9]'))::DOUBLE
       |      / greatest(length(text), 1) < 0.3 AS quality_ok
       |FROM wrds""".stripMargin
  }

  val qualityOracle: String = s"WITH $wrdsCte\n$qualitySelectSql"

  // ---- Gopher/MassiveText document rules ----

  def gopher(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherRules(docs(s, dir))
      .select("doc_id", "n_words", "mean_word_len", "symbol_ratio",
        "n_lines", "bullet_frac", "ellipsis_frac", "alpha_word_frac",
        "stop_hits", "gopher_ok")

  /** Word rules over the normalized text (wrds), line rules over the
    * RAW text; every double threshold is spelled with duckDoubleLit
    * so both engines compare against bit-identical constants. */
  val gopherOracle: String = {
    def d(x: Double) = graft.util.Parity.duckDoubleLit(x)
    val stops = TextAnalysis.gopherStops.map(w => s"'$w'").mkString(", ")
    s"""WITH $wrdsCte,
       |lined AS (
       |  SELECT *, list_filter(string_split(text, chr(10)),
       |    l -> len(trim(l)) > 0) AS lns
       |  FROM wrds
       |),
       |m AS (
       |  SELECT doc_id, len(w) AS n_words,
       |    (length(nt) - (len(w) - 1))::DOUBLE / len(w) AS mean_word_len,
       |    (len(regexp_extract_all(text, '#'))
       |     + len(regexp_extract_all(text, '\\.\\.\\.|…')))::DOUBLE
       |      / len(w) AS symbol_ratio,
       |    len(lns) AS n_lines,
       |    CASE WHEN len(lns) > 0 THEN
       |      len(list_filter(lns, l -> regexp_matches(trim(l), '^[-*•]')))::DOUBLE
       |        / len(lns) ELSE 0.0::DOUBLE END AS bullet_frac,
       |    CASE WHEN len(lns) > 0 THEN
       |      len(list_filter(lns,
       |        l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$')))::DOUBLE
       |        / len(lns) ELSE 0.0::DOUBLE END AS ellipsis_frac,
       |    len(list_filter(w, x -> regexp_matches(x, '[a-z]')))::DOUBLE
       |      / len(w) AS alpha_word_frac,
       |    len(list_intersect(list_distinct(w), [$stops])) AS stop_hits
       |  FROM lined
       |)
       |SELECT *,
       |  n_words BETWEEN 40 AND 100000
       |    AND mean_word_len BETWEEN ${d(3.0)} AND ${d(10.0)}
       |    AND symbol_ratio <= ${d(0.1)}
       |    AND bullet_frac <= ${d(0.9)}
       |    AND ellipsis_frac <= ${d(0.3)}
       |    AND alpha_word_frac >= ${d(0.8)}
       |    AND stop_hits >= 2 AS gopher_ok
       |FROM m""".stripMargin
  }

  // ---- span corruption plan ----

  def spanCorrupt(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.spanCorruptionStats(docs(s, dir), startPct = 15)

  /** Fully SQL-gated: the (doc_id, pos) hash, start/length draws, the
    * three-lag mask union and the per-doc stats all re-derived in
    * DuckDB over the same word positions. */
  val spanCorruptOracle: String =
    s"""WITH $wrdsCte,
       |px AS (
       |  SELECT doc_id,
       |    unnest([{'pos': i} for i in range(1, len(w) + 1)]) AS p
       |  FROM wrds
       |),
       |hx AS (
       |  SELECT doc_id, p.pos AS pos,
       |    sha256(CAST(doc_id AS VARCHAR) || ':'
       |      || CAST(p.pos AS VARCHAR)) AS sha
       |  FROM px
       |),
       |fl AS (
       |  SELECT doc_id, pos, h % 100 < 15 AS start,
       |    CAST(h % 3 + 1 AS INT) AS len
       |  FROM (SELECT doc_id, pos, $duckHash32 AS h FROM hx)
       |),
       |lg AS (
       |  SELECT doc_id, pos, start, len,
       |    (start AND len > 0)
       |      OR coalesce(lag(start, 1) OVER w AND lag(len, 1) OVER w > 1,
       |           false)
       |      OR coalesce(lag(start, 2) OVER w AND lag(len, 2) OVER w > 2,
       |           false) AS masked
       |  FROM fl
       |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
       |)
       |SELECT doc_id, count(*) AS n_words,
       |  count(CASE WHEN start THEN 1 END) AS n_starts,
       |  count(CASE WHEN masked THEN 1 END) AS n_masked,
       |  CAST(count(CASE WHEN masked THEN 1 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS mask_frac
       |FROM lg GROUP BY doc_id""".stripMargin

  // ---- cross-source duplicate overlap ----

  def sourceOverlap(s: SparkSession, dir: String): DataFrame =
    TextDedup.sourceOverlap(docs(s, dir))

  /** Distinct (5-gram-shingle, source) pairs, pair join keyed by the
    * shingle, per-source distinct totals and Jaccard — all in SQL.
    * Counts distinct raw shingles (the earlier sha256-keyed spelling
    * counted the same thing through an injective hash — see
    * [[TextDedup.sourceOverlap]]). */
  val sourceOverlapOracle: String =
    """WITH wr AS (
      |  SELECT source,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
      |      ' ') AS w
      |  FROM documents
      |),
      |sh0 AS (
      |  SELECT source,
      |    unnest(list_distinct([array_to_string(w[i:i+4], ' ')
      |                          for i in range(1, len(w) - 3)])) AS sg
      |  FROM wr WHERE len(w) >= 5
      |),
      |hs AS (SELECT DISTINCT sg AS h, source FROM sh0),
      |tot AS (SELECT source, count(*) AS n FROM hs GROUP BY 1),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    count(*) AS shared_texts
      |  FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
      |  GROUP BY 1, 2
      |)
      |SELECT p.source_a, p.source_b, p.shared_texts,
      |  ta.n AS n_a, tb.n AS n_b,
      |  CAST(p.shared_texts AS DOUBLE)
      |    / CAST(ta.n + tb.n - p.shared_texts AS DOUBLE) AS jaccard
      |FROM pairs p
      |JOIN tot ta ON ta.source = p.source_a
      |JOIN tot tb ON tb.source = p.source_b""".stripMargin

  // ---- character coverage ----

  def charCoverage(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.charCoverage(docs(s, dir), topK = 64)

  /** Fully SQL-gated: the oracle re-derives the char frequency table
    * (same word-stream symbolization as the BPE gate), the (cnt DESC,
    * ch) rank, cumulative mass and total in DuckDB. */
  val charCoverageOracle: String =
    s"""WITH $wrdsCte,
       |wx AS (SELECT unnest(w) AS word FROM wrds),
       |chx AS (
       |  SELECT unnest([word[i:i] for i in range(1, len(word) + 1)]) AS ch
       |  FROM wx WHERE len(word) > 0
       |),
       |cc AS (SELECT ch, count(*) AS cnt FROM chx GROUP BY 1),
       |ranked AS (
       |  SELECT ch, cnt,
       |    row_number() OVER (ORDER BY cnt DESC, ch) AS rnk,
       |    sum(cnt) OVER (ORDER BY cnt DESC, ch
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(cnt) OVER () AS total
       |  FROM cc
       |)
       |SELECT ch, cnt, rnk,
       |  CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS cum_frac
       |FROM ranked WHERE rnk <= 64""".stripMargin

  // ---- BPE vocabulary training ----

  private val BpeMerges = 24

  /** Train-once BPE model (merge list, initial count of each learned
    * pair) plus the trainer's FINAL folded vocabulary. The 24-merge
    * training (one task on a vocabulary of one partition, one Spark
    * job per merge beyond) runs once per [[FrameMemo.value]] key, and
    * builds only once under concurrent first callers: without the
    * fingerprint an in-process regeneration of the data would be
    * served a stale model the echo+verify oracle cannot catch.
    * llm_bpe_train, llm_bpe_encode and llm_tok_compare all consume it.
    * The vocabulary rides a [[FrameMemo]] parquet side-table written
    * by the same build under the same fingerprint: the encode entry
    * reads it back instead of re-folding (a cross-query cached
    * DataFrame cannot carry it — Bench/Verify unpersist all cache and
    * checkpoint blocks between queries, which the parquet memo
    * survives). Identical to `encodeWords(docs, merges)` by
    * construction: the same [[TextBpe.fold]] applied in the same
    * order. */
  private def trainedBpe(s: SparkSession, dir: String)
      : ((Seq[TextBpe.Merge], Map[(String, String), Long]), DataFrame) = {
    val fp = graft.util.FrameMemo.dirFingerprint(dir)
    def vocab(build: => DataFrame) =
      graft.util.FrameMemo.cached(s, dir, "bpe_final_vocab", fp)(build)
    val model = graft.util.FrameMemo.value(s, dir, "bpe_model", fp) {
      val trained = TextBpe.trainFull(docs(s, dir), BpeMerges)
      try {
        vocab(trained.vocab)
        (trained.merges, trained.initCounts)
      } finally trained.release()
    }
    (model, vocab(throw new IllegalStateException(
      "bpe_final_vocab is written by the bpe_model build")))
  }

  private def trainedMerges(s: SparkSession, dir: String)
      : Seq[TextBpe.Merge] =
    trainedBpe(s, dir)._1._1

  /** Distributed BPE merge learning ([[TextBpe.trainFull]]), gated with
    * the echo+verify pattern: the learned merge list is pinned, and
    * the oracle re-derives from the raw corpus (a) the ENTIRE initial
    * adjacent-pair count table, (b) rank-1's argmax, (c) rank-2's
    * argmax by FOLDING rank-1's merge in SQL — the symbol arrays are
    * space-joined and the merge is DuckDB `replace` (greedy leftmost
    * non-overlapping — exactly [[TextBpe.fold]]'s rewrite rule;
    * unambiguous because corpus symbols are single non-space chars,
    * so every pattern occurrence aligns with a symbol boundary) and
    * the pair recount + argmax run on the folded strings. Rank 1 and
    * 2's rows in the final SELECT are built from the SQL-derived
    * pairs, so a drift in the word-frequency pipeline, the first
    * merge, or one step of the ITERATIVE fold itself hash-mismatches.
    * (d) `init_pair_count` for every pinned merge whose sides are
    * base symbols is joined from the SQL table (here: the trainer's
    * initial counts); merges of merged symbols are null on both.
    * Ranks >= 3 are echoed; their statistical properties are pinned
    * by TextBpeSpec's golden corpus. The output is built from driver
    * rows — no re-tokenization and no join. */
  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ((merges, init), _) = trainedBpe(s, dir)
    DynamicOracles.put("llm_bpe_train", bpeOracle(merges))
    merges.map(m => (m.rank, m.l_sym, m.r_sym, m.merged, m.pair_count,
        init.get((m.l_sym, m.r_sym))))
      .toDF("rank", "l_sym", "r_sym", "merged", "pair_count",
        "init_pair_count")
  }

  /** Initial char-level pair counts re-derived in DuckDB — the same
    * chars + end-token symbolization as [[TextBpe.wordSymbols]]. */
  private val bpeInitCtes: String =
    s"""wf AS (
       |  SELECT word, count(*) AS c
       |  FROM (SELECT unnest(w) AS word FROM wrds)
       |  WHERE len(word) > 0 GROUP BY 1
       |),
       |symd AS (
       |  SELECT c,
       |    list_concat([word[i:i] for i in range(1, len(word) + 1)],
       |      ['${TextBpe.EndToken}']) AS syms
       |  FROM wf
       |),
       |pe AS (
       |  SELECT c, unnest([{'l': syms[i], 'r': syms[i+1]}
       |                    for i in range(1, len(syms))]) AS p
       |  FROM symd
       |),
       |ip AS (
       |  SELECT p.l AS l, p.r AS r, CAST(sum(c) AS BIGINT) AS cnt
       |  FROM pe GROUP BY 1, 2
       |),
       |fp AS (SELECT * FROM ip ORDER BY cnt DESC, l, r LIMIT 1),
       |symstr AS (
       |  SELECT c, array_to_string(syms, ' ') AS s FROM symd
       |),
       |fold1 AS (
       |  SELECT c, replace(s, fp.l || ' ' || fp.r, fp.l || fp.r) AS s
       |  FROM symstr, fp
       |),
       |syms2 AS (SELECT c, string_split(s, ' ') AS syms FROM fold1),
       |pe2 AS (
       |  SELECT c, unnest([{'l': syms[i], 'r': syms[i+1]}
       |                    for i in range(1, len(syms))]) AS p
       |  FROM syms2
       |),
       |ip2 AS (
       |  SELECT p.l AS l, p.r AS r, CAST(sum(c) AS BIGINT) AS cnt
       |  FROM pe2 GROUP BY 1, 2
       |),
       |fp2 AS (SELECT * FROM ip2 ORDER BY cnt DESC, l, r LIMIT 1)""".stripMargin

  private def bpeOracle(merges: Seq[graft.operators.TextBpe.Merge])
      : String =
    if (merges.isEmpty)
      """SELECT CAST(NULL AS INT) AS rank, CAST(NULL AS VARCHAR) AS l_sym,
        |  CAST(NULL AS VARCHAR) AS r_sym, CAST(NULL AS VARCHAR) AS merged,
        |  CAST(NULL AS BIGINT) AS pair_count,
        |  CAST(NULL AS BIGINT) AS init_pair_count
        |WHERE false""".stripMargin
    else {
      def esc(x: String) = x.replace("'", "''")
      // ranks 1 AND 2 are fully SQL-derived (rank 2 via the string
      // fold of rank-1's merge — one step INTO the iterative loop);
      // only ranks >= 3 are echoed.
      val tail = merges.drop(2)
      val pinnedSql =
        if (tail.isEmpty) ""
        else {
          val values = tail.map(m =>
            s"(${m.rank}, '${esc(m.l_sym)}', '${esc(m.r_sym)}', " +
              s"'${esc(m.merged)}', ${m.pair_count}::BIGINT)")
            .mkString(",\n    ")
          s""",
             |pinned(rank, l_sym, r_sym, merged, pair_count) AS (VALUES
             |    $values)""".stripMargin
        }
      val rank2Select =
        if (merges.size < 2) ""
        else
          s"""
             |UNION ALL
             |SELECT 2 AS rank, f.l AS l_sym, f.r AS r_sym,
             |  f.l || f.r AS merged, f.cnt AS pair_count,
             |  ip.cnt AS init_pair_count
             |FROM fp2 f
             |LEFT JOIN ip ON ip.l = f.l AND ip.r = f.r""".stripMargin
      val tailSelect =
        if (tail.isEmpty) ""
        else
          s"""
             |UNION ALL
             |SELECT p.rank, p.l_sym, p.r_sym, p.merged, p.pair_count,
             |  ip.cnt AS init_pair_count
             |FROM pinned p
             |LEFT JOIN ip ON ip.l = p.l_sym AND ip.r = p.r_sym""".stripMargin
      s"""WITH $wrdsCte,
         |$bpeInitCtes$pinnedSql
         |SELECT 1 AS rank, l AS l_sym, r AS r_sym, l || r AS merged,
         |  cnt AS pair_count, cnt AS init_pair_count
         |FROM fp$rank2Select$tailSelect""".stripMargin
    }

  // ---- BPE encode (top-K word tokenization table) ----

  private val BpeTopWords = 200

  /** The trained tokenizer applied to the vocabulary, gated on the
    * top-[[BpeTopWords]] words by (freq DESC, word) — and, since
    * round 10, the FOLD ITSELF is SQL-derived: given only the pinned
    * merge list, the oracle re-runs every merge as a nested DuckDB
    * `list_reduce` implementing [[TextBpe.fold]]'s exact
    * leftmost-non-overlapping rewrite (match the accumulator's last
    * symbol + the next symbol, splice in the merged symbol), so
    * n_tokens and the tokenization are independently recomputed for
    * every word — nothing about the fold is echoed any more. A
    * second gate column widens the verified domain to the WHOLE
    * corpus: `corpus_tokens` = Σ freq x n_tokens over the full
    * vocabulary, reconciled against the oracle's own full-vocab
    * fold. */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val ((merges, _), vocab) = trainedBpe(s, dir)
    // the memoized vocabulary is already fully folded — decorate is a
    // map-only projection over the side-table, so no re-fold and no
    // materialize barrier is needed (both consumers re-read a tiny
    // parquet scan instead of paying a persist+count job)
    val encoded = TextBpe.decorate(vocab)
    val total = encoded.agg(
      sum(col("freq") * col("n_tokens")).cast("long").as("corpus_tokens"))
    val out = encoded
      .orderBy(col("freq").desc, col("word")).limit(BpeTopWords)
      .crossJoin(broadcast(total))
    DynamicOracles.put("llm_bpe_encode", bpeEncodeOracle(merges))
    out
  }

  /** Nested-fold expression: apply `merges` in rank order to the
    * symbol-list expression `symsExpr`, returning the space-joined
    * tokenization. Each rank is one `list_reduce` whose accumulator
    * is the tokenization-so-far; the merge fires iff the
    * accumulator's LAST symbol (exact match after the last space —
    * merged symbols never contain spaces) equals `l` and the next
    * symbol equals `r`, exactly [[TextBpe.fold]]. */
  private def duckBpeTokens(merges: Seq[graft.operators.TextBpe.Merge],
      symsExpr: String): String = {
    def esc(x: String) = s"'${x.replace("'", "''")}'"
    if (merges.isEmpty) s"array_to_string($symsExpr, ' ')"
    else merges.zipWithIndex.foldLeft(symsExpr) { case (inner, (m, i)) =>
      val lst = if (i == 0) inner else s"string_split($inner, ' ')"
      val l = esc(m.l_sym); val r = esc(m.r_sym); val mg = esc(m.merged)
      s"""list_reduce($lst, (a, s) -> CASE
         |      WHEN s = $r AND (a = $l
         |        OR right(a, length($l) + 1) = ' ' || $l)
         |      THEN left(a, length(a) - length($l)) || $mg
         |      ELSE a || ' ' || s END)""".stripMargin
    }
  }

  private def bpeEncodeOracle(
      merges: Seq[graft.operators.TextBpe.Merge]): String = {
    val syms =
      s"""list_concat([word[i:i] for i in range(1, len(word) + 1)],
         |      ['${graft.operators.TextBpe.EndToken}'])""".stripMargin
    s"""WITH $wrdsCte,
       |wf AS (
       |  SELECT word, count(*) AS c
       |  FROM (SELECT unnest(w) AS word FROM wrds)
       |  WHERE len(word) > 0 GROUP BY 1
       |),
       |tok AS (
       |  SELECT word, c,
       |    ${duckBpeTokens(merges, syms)} AS tokens
       |  FROM wf
       |),
       |tok2 AS (
       |  SELECT word, c, tokens,
       |    CAST(len(string_split(tokens, ' ')) AS INT) AS n_tokens
       |  FROM tok
       |),
       |total AS (
       |  SELECT CAST(sum(c * n_tokens) AS BIGINT) AS corpus_tokens
       |  FROM tok2
       |),
       |topw AS (
       |  SELECT word, c, n_tokens, tokens FROM tok2
       |  ORDER BY c DESC, word LIMIT $BpeTopWords
       |)
       |SELECT t.word, t.c AS freq, t.n_tokens, t.tokens,
       |  total.corpus_tokens
       |FROM topw t CROSS JOIN total""".stripMargin
  }

  // ---- tokenizer fertility ----

  /** Per-language tokenizer fertility roll-up (the audit run before
    * committing a tokenizer to a corpus mix): BPE-pre-tokens per
    * whitespace word and normalized chars per BPE token, from exact
    * integer sums over [[TextAnalysis.tokenCounts]]. */
  def tokFertility(s: SparkSession, dir: String): DataFrame = {
    val t = TextAnalysis.tokenCounts(docs(s, dir))
    t.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_ws_tokens")).as("ws_tokens"),
        sum(col("n_bpe_tokens")).as("bpe_tokens"),
        sum(col("n_chars_norm")).as("chars_norm"))
      .withColumn("fertility",
        col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"))
      .withColumn("chars_per_token",
        col("chars_norm").cast("double") / col("bpe_tokens").cast("double"))
  }

  val tokFertilityOracle: String =
    s"""WITH $wrdsCte,
       |tok AS (
       |  SELECT lang, len(w) AS n_ws,
       |    len(regexp_extract_all(text,
       |      '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\r]')) AS n_bpe,
       |    length(nt) AS n_chars
       |  FROM wrds
       |),
       |agg AS (
       |  SELECT lang, count(*) AS n_docs,
       |    CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
       |    CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
       |    CAST(sum(n_chars) AS BIGINT) AS chars_norm
       |  FROM tok GROUP BY 1
       |)
       |SELECT *,
       |  CAST(bpe_tokens AS DOUBLE) / CAST(ws_tokens AS DOUBLE) AS fertility,
       |  CAST(chars_norm AS DOUBLE) / CAST(bpe_tokens AS DOUBLE)
       |    AS chars_per_token
       |FROM agg""".stripMargin

  // ---- unigram-LM (SentencePiece) tokenizer ----

  import graft.operators.TextUnigramLm

  /** Train-once model ([[FrameMemo.value]], like [[trainedBpe]]):
    * only the DRIVER-SIDE model (piece → micro-nat log-prob) and the
    * per-iteration likelihood stats are memoized — each entry rebuilds
    * its cheap DataFrame side (one Viterbi fold over the Heaps-bounded
    * word table) from the model, because cached DataFrames would not
    * survive Verify's per-query cache cleanup. */
  private def trainedUnigram(s: SparkSession, dir: String)
      : (Map[String, Long], Seq[TextUnigramLm.IterStat]) =
    graft.util.FrameMemo.value(s, dir, "unigram_model") {
      val (m, st, _) = TextUnigramLm.train(docs(s, dir))
      (m, st)
    }

  /** Shared word-frequency CTE (the same symbolization as the Spark
    * side's [[TextUnigramLm.wordFreq]]). */
  private val unigramWfCte =
    """wf AS (
      |  SELECT word, count(*) AS c
      |  FROM (SELECT unnest(w) AS word FROM wrds)
      |  WHERE len(word) > 0 GROUP BY 1
      |)""".stripMargin

  /** The pinned model as VALUES + a piece → lp map, usable inside
    * the Viterbi lambda. */
  private def unigramModelCtes(model: Map[String, Long]): String =
    unigramModelCtesNamed(model, "pinned", "mdl")

  /** [[unigramModelCtes]] with caller-chosen CTE names, so one oracle
    * can pin TWO models side by side (the tokenizer-comparison and
    * loss-prune entries). The map column is always `m` — only one
    * model CTE is in scope per consumer. */
  private def unigramModelCtesNamed(model: Map[String, Long],
      pinnedName: String, mdlName: String): String = {
    def esc(x: String) = x.replace("'", "''")
    val values = model.toSeq.sortBy(_._1)
      .map { case (p, lp) => s"('${esc(p)}', ${lp}::BIGINT)" }
      .mkString(",\n    ")
    s"""$pinnedName(piece, lp) AS (VALUES
       |    $values),
       |$mdlName AS (SELECT map(list(piece ORDER BY piece),
       |  list(lp ORDER BY piece)) AS m FROM $pinnedName)""".stripMargin
  }

  /** DuckDB mirror of [[TextUnigramLm.viterbiBest]]: the same DP as a
    * `list_reduce` fold — the accumulator holds per prefix length the
    * best struct (o = -score, k2 = -pieceLen, sc, sg); candidates are
    * a list comprehension over piece lengths and `list_sort(...)[1]`
    * is the (score DESC, len DESC) argmax. Every operation is BIGINT
    * arithmetic or string concat, so the engines agree bit-for-bit. */
  /** NOTE: this fragment is interpolated into CTE strings that are
    * themselves stripMargin'd, so no generated line may begin with
    * whitespace + `|` (a leading `||` concat operator would be eaten
    * as a margin) — string concatenation is spelled `concat(...)`. */
  private def duckViterbi(wordExpr: String): String =
    duckViterbiEx(wordExpr, None)

  /** [[duckViterbi]] with a barred piece: the lattice's lookup floors
    * any candidate equal to `exclExpr` — the self-exclusion DP behind
    * the prune-loss alternate path (identical to looking the piece up
    * in a map it was removed from). */
  private def duckViterbiEx(wordExpr: String,
      exclExpr: Option[String]): String = {
    val ml = TextUnigramLm.MaxPieceLen
    val sub = s"$wordExpr[(x[1].o - k + 1)::INT:(x[1].o)::INT]"
    val floor = s"(${TextUnigramLm.MinLpMicro})::BIGINT"
    val look = s"coalesce(m[$sub][1], $floor)"
    val lp = exclExpr match {
      case Some(e) => s"(CASE WHEN $sub = $e THEN $floor ELSE $look END)"
      case None => look
    }
    s"""list_reduce(
       |    list_concat(
       |      [[{'o': 0::BIGINT, 'k2': 0::BIGINT, 'sc': 0::BIGINT, 'sg': ''}]],
       |      [[{'o': i::BIGINT, 'k2': 0::BIGINT, 'sc': 0::BIGINT, 'sg': ''}]
       |       for i in range(1, len($wordExpr)+1)]),
       |    (acc, x) -> list_append(acc,
       |      (list_sort(
       |        [{'o': -(acc[x[1].o - k + 1].sc + $lp),
       |          'k2': (-k)::BIGINT,
       |          'sc': acc[x[1].o - k + 1].sc + $lp,
       |          'sg': concat(acc[x[1].o - k + 1].sg,
       |            (CASE WHEN x[1].o = k THEN '' ELSE ' ' END),
       |            $wordExpr[(x[1].o - k + 1)::INT:(x[1].o)::INT])}
       |         for k in range(1, least(x[1].o, $ml)+1)]))[1]
       |    ))""".stripMargin
  }

  /** vit/fin CTE pair: the DP per distinct word and its final cell. */
  private val unigramVitCtes: String =
    s"""vit AS (
       |  SELECT word, c, ${duckViterbi("word")} AS dp FROM wf, mdl
       |),
       |fin AS (SELECT word, c, dp[len(word) + 1] AS f FROM vit)"""
      .stripMargin

  /** Unigram-LM training ([[TextUnigramLm.train]]), gated with the
    * echo+verify pattern: the learned model (piece, lp_micro) is
    * pinned, and the oracle re-derives the ENTIRE final E-step from
    * it in SQL — the Viterbi segmentation of every distinct word
    * (integer micro-nat DP, bit-exact across engines), the
    * frequency-weighted piece counts, the corpus log-likelihood, and
    * the refit log-prob `floor(ln(cnt/total)·1e6 + 0.5)` each piece
    * would get from those counts (the M-step machinery). A drift in
    * the word pipeline, the DP, the tie-breaks, or the count
    * aggregation hash-mismatches. `monotone_ll` pins hard-EM's
    * likelihood ascent over the post-prune iterations (the oracle
    * expects true; iteration 1 runs under the seed model before the
    * prune, where the guarantee does not apply). */
  def unigramTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (model, stats) = trainedUnigram(s, dir)
    // snapshot: a pieces consumer must not re-run the Viterbi fold
    val seg = graft.util.Caches.snapshot(TextUnigramLm.segment(
      TextUnigramLm.wordFreq(docs(s, dir)), model))
    val cnts = TextUnigramLm.pieceCounts(seg)
    val ll = seg
      .agg(sum(col("freq") * col("score_micro")).cast("long")
        .as("loglik_micro"))
    val tt = cnts.agg(sum(col("cnt")).cast("long").as("t"))
    val post = stats.drop(1).map(_.loglik_micro)
    val monotone = post.zip(post.drop(1)).forall { case (a, b) => a <= b }
    val modelDf = model.toSeq.sortBy(_._1).toDF("piece", "lp_micro")
    DynamicOracles.put("llm_unigram_train", unigramTrainOracle(model))
    modelDf.join(cnts, Seq("piece"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .crossJoin(broadcast(tt))
      .withColumn("refit_lp_micro",
        when(col("cnt") > 0,
          floor(log(col("cnt").cast("double") / col("t").cast("double"))
            * lit(1e6) + lit(0.5)).cast("long")))
      .crossJoin(broadcast(ll))
      .select(col("piece"), col("lp_micro"), col("cnt"),
        col("refit_lp_micro"), col("loglik_micro"),
        lit(monotone).as("monotone_ll"),
        lit(TextUnigramLm.Iterations).as("n_iters"))
  }

  private def unigramTrainOracle(model: Map[String, Long]): String =
    s"""WITH $wrdsCte,
       |$unigramWfCte,
       |${unigramModelCtes(model)},
       |$unigramVitCtes,
       |tot AS (
       |  SELECT CAST(sum(c * f.sc) AS BIGINT) AS loglik_micro FROM fin
       |),
       |pc AS (
       |  SELECT c, unnest(string_split(f.sg, ' ')) AS piece FROM fin
       |),
       |cnts AS (
       |  SELECT piece, CAST(sum(c) AS BIGINT) AS cnt FROM pc GROUP BY 1
       |),
       |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM cnts)
       |SELECT p.piece, p.lp AS lp_micro,
       |  coalesce(c.cnt, 0::BIGINT) AS cnt,
       |  CASE WHEN c.cnt IS NOT NULL THEN
       |    CAST(floor(ln(c.cnt::DOUBLE / tt.t::DOUBLE) * 1000000.0 + 0.5)
       |      AS BIGINT)
       |  ELSE NULL END AS refit_lp_micro,
       |  tot.loglik_micro, true AS monotone_ll,
       |  CAST(${TextUnigramLm.Iterations} AS INT) AS n_iters
       |FROM pinned p LEFT JOIN cnts c ON c.piece = p.piece, tot, tt"""
      .stripMargin

  /** Vocab budget where the pruning criterion actually BINDS: at the
    * default 200 the used-multi set is smaller than the budget on the
    * driver corpora and both rankings keep everything (measured at
    * sf0.01: 36 used multis — identical models, a vacuous
    * comparison). At 24 the cut is real and the two criteria pick
    * different inventories. */
  private val LossCompareMultis = 24

  /** Train-once tight-budget model PAIR (count-pruned, loss-pruned),
    * memoized like the other trainers. */
  private def trainedUnigramPair(s: SparkSession, dir: String)
      : ((Map[String, Long], Seq[TextUnigramLm.IterStat]),
        (Map[String, Long], Seq[TextUnigramLm.IterStat])) =
    graft.util.FrameMemo.value(s, dir, "unigram_loss_pair") {
      val (mc, stc, _) = TextUnigramLm.train(docs(s, dir),
        pruneByLoss = false, targetMultis = LossCompareMultis)
      val (ml, stl, _) = TextUnigramLm.train(docs(s, dir),
        pruneByLoss = true, targetMultis = LossCompareMultis)
      ((mc, stc), (ml, stl))
    }

  /** Likelihood-loss pruning vs count pruning (Kudo 2018 §3.2's
    * criterion applied at the same vocab budget): the trainer run
    * with `pruneByLoss = true` ranks multi pieces at every M-step by
    * `cnt · (lp − altScore)` — what the corpus log-lik loses when the
    * piece's occurrences re-segment through their best alternate
    * path — instead of raw count. Gated echo+verify on BOTH models:
    * per kept multi the oracle re-derives, from the pinned final
    * loss model alone, the E-step piece counts (full Viterbi fold
    * over the word table), the ALT score (the same DP over the
    * piece's own string with the piece barred from its lattice —
    * integer micro-nats, bit-exact), the loss, and both corpora
    * log-liks; `loss_model_wins` is computed in SQL from the
    * RE-DERIVED log-liks, so the ≥ relation is a measured cross-
    * engine fact, not an echoed claim. Scale shape: the extra work
    * over hard-EM is one driver-side vocab-sized loss ranking per
    * M-step — O(vocab · MaxPieceLen²) integer ops, no new
    * distributed stage. */
  def unigramLossPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ((hard, hardStats), (loss, lossStats)) = trainedUnigramPair(s, dir)
    // snapshot: a pieces consumer must not re-run the Viterbi fold
    val seg = graft.util.Caches.snapshot(TextUnigramLm.segment(
      TextUnigramLm.wordFreq(docs(s, dir)), loss))
    // bounded-collect(vocab): final-model piece counts
    val cnts = TextUnigramLm.pieceCounts(seg).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val llLoss = lossStats.last.loglik_micro
    val llHard = hardStats.last.loglik_micro
    val rows = loss.toSeq.filter(_._1.length > 1).sortBy(_._1)
      .map { case (p, lp) =>
        val cnt = cnts.getOrElse(p, 0L)
        val alt = TextUnigramLm.altScoreMicro(p, loss, p)
        (p, lp, cnt, alt, cnt * (lp - alt))
      }
    DynamicOracles.put("llm_unigram_lossprune",
      unigramLossOracle(loss, hard))
    rows.toDF("piece", "lp_micro", "cnt", "alt_micro", "loss_micro")
      .withColumn("ll_loss_micro", lit(llLoss))
      .withColumn("ll_count_micro", lit(llHard))
      .withColumn("loss_model_wins", lit(llLoss >= llHard))
  }

  private def unigramLossOracle(lossModel: Map[String, Long],
      hardModel: Map[String, Long]): String =
    s"""WITH $wrdsCte,
       |$unigramWfCte,
       |${unigramModelCtesNamed(lossModel, "pinned", "mdl")},
       |${unigramModelCtesNamed(hardModel, "pinnedc", "mdlc")},
       |$unigramVitCtes,
       |lll AS (SELECT CAST(sum(c * f.sc) AS BIGINT) AS ll FROM fin),
       |pc AS (
       |  SELECT c, unnest(string_split(f.sg, ' ')) AS piece FROM fin
       |),
       |cnts AS (
       |  SELECT piece, CAST(sum(c) AS BIGINT) AS cnt FROM pc GROUP BY 1
       |),
       |vitc AS (
       |  SELECT word, c, ${duckViterbi("word")} AS dp
       |  FROM wf, mdlc
       |),
       |llc AS (
       |  SELECT CAST(sum(c * dp[len(word) + 1].sc) AS BIGINT) AS ll
       |  FROM vitc
       |),
       |alt AS (
       |  SELECT p.piece,
       |    ${duckViterbiEx("p.piece", Some("p.piece"))}
       |      [len(p.piece) + 1].sc AS alt
       |  FROM pinned p, mdl WHERE len(p.piece) > 1
       |)
       |SELECT p.piece, p.lp AS lp_micro,
       |  coalesce(c.cnt, 0::BIGINT) AS cnt,
       |  a.alt AS alt_micro,
       |  CAST(coalesce(c.cnt, 0::BIGINT) * (p.lp - a.alt) AS BIGINT)
       |    AS loss_micro,
       |  lll.ll AS ll_loss_micro,
       |  llc.ll AS ll_count_micro,
       |  (lll.ll >= llc.ll) AS loss_model_wins
       |FROM pinned p
       |JOIN alt a ON a.piece = p.piece
       |LEFT JOIN cnts c ON c.piece = p.piece, lll, llc
       |WHERE len(p.piece) > 1""".stripMargin

  private val UnigramTopWords = 200

  /** Train-once soft-EM model at the binding budget. */
  private def trainedUnigramSoft(s: SparkSession, dir: String)
      : (Map[String, Long], Seq[TextUnigramLm.IterStat]) =
    graft.util.FrameMemo.value(s, dir, "unigram_soft") {
      val (m, st, _) = TextUnigramLm.trainSoft(docs(s, dir),
        targetMultis = LossCompareMultis)
      (m, st)
    }

  /** Soft-EM vs hard-EM unigram training (r16 item 5 — the upper half
    * of the r15 ask that likelihood-loss pruning closed the minimum
    * of): the E-step accumulates forward-backward EXPECTED counts
    * over the whole lattice ([[TextUnigramLm.trainSoft]] — Kudo
    * 2018's actual E-step) instead of hard Viterbi counts, at the
    * SAME vocab budget where the inventory cut binds
    * ([[LossCompareMultis]]; at the default 200 the comparison is
    * vacuous — r16's lesson). Gated echo+verify on BOTH final models:
    * the oracle re-derives, from the pinned models alone, the soft
    * model's full Viterbi E-step (segmentation, piece counts) and
    * BOTH corpus log-liks under the shared INTEGER metric (best-path
    * micro-nats — the expectation pass itself is the one necessarily
    * floating step, quantized per edge so its aggregation is
    * deterministic; Round17eSpec pins its posterior algebra);
    * `soft_model_wins` is computed in SQL from the RE-DERIVED
    * log-liks. Measured at sf0.01: soft -2.26e11 vs hard -9.64e14
    * micro-nats — the soft expectations keep enough mass on the
    * pieces whose removal would strand words on floored paths, the
    * exact failure hard counts can't see coming. */
  def unigramSoftEm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ((hard, hardStats), _) = trainedUnigramPair(s, dir)
    val (soft, softStats) = trainedUnigramSoft(s, dir)
    // snapshot: a pieces consumer must not re-run the Viterbi fold
    val seg = graft.util.Caches.snapshot(TextUnigramLm.segment(
      TextUnigramLm.wordFreq(docs(s, dir)), soft))
    // bounded-collect(vocab): final-model piece counts
    val cnts = TextUnigramLm.pieceCounts(seg).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val llSoft = softStats.last.loglik_micro
    val llHard = hardStats.last.loglik_micro
    val rows = soft.toSeq.filter(_._1.length > 1).sortBy(_._1)
      .map { case (p, lp) => (p, lp, cnts.getOrElse(p, 0L)) }
    DynamicOracles.put("llm_unigram_softem", unigramSoftOracle(soft, hard))
    rows.toDF("piece", "lp_micro", "cnt")
      .withColumn("ll_soft_micro", lit(llSoft))
      .withColumn("ll_hard_micro", lit(llHard))
      .withColumn("soft_model_wins", lit(llSoft >= llHard))
  }

  private def unigramSoftOracle(softModel: Map[String, Long],
      hardModel: Map[String, Long]): String =
    s"""WITH $wrdsCte,
       |$unigramWfCte,
       |${unigramModelCtesNamed(softModel, "pinned", "mdl")},
       |${unigramModelCtesNamed(hardModel, "pinnedc", "mdlc")},
       |$unigramVitCtes,
       |lls AS (SELECT CAST(sum(c * f.sc) AS BIGINT) AS ll FROM fin),
       |pc AS (
       |  SELECT c, unnest(string_split(f.sg, ' ')) AS piece FROM fin
       |),
       |cnts AS (
       |  SELECT piece, CAST(sum(c) AS BIGINT) AS cnt FROM pc GROUP BY 1
       |),
       |vitc AS (
       |  SELECT word, c, ${duckViterbi("word")} AS dp
       |  FROM wf, mdlc
       |),
       |llc AS (
       |  SELECT CAST(sum(c * dp[len(word) + 1].sc) AS BIGINT) AS ll
       |  FROM vitc
       |)
       |SELECT p.piece, p.lp AS lp_micro,
       |  coalesce(c.cnt, 0::BIGINT) AS cnt,
       |  lls.ll AS ll_soft_micro,
       |  llc.ll AS ll_hard_micro,
       |  (lls.ll >= llc.ll) AS soft_model_wins
       |FROM pinned p
       |LEFT JOIN cnts c ON c.piece = p.piece, lls, llc
       |WHERE len(p.piece) > 1""".stripMargin

  /** The trained unigram tokenizer applied to the vocabulary, gated
    * on the top-[[UnigramTopWords]] words by (freq DESC, word): the
    * oracle re-runs the WHOLE Viterbi fold in SQL given only the
    * pinned model, so n_tokens, the tokenization string, and the
    * path score are all independently recomputed — nothing about the
    * segmentation is echoed. `corpus_tokens` widens the verified
    * domain to the full vocabulary (Σ freq × n_tokens, exact BIGINT
    * on both engines). */
  def unigramEncode(s: SparkSession, dir: String): DataFrame = {
    val (model, _) = trainedUnigram(s, dir)
    // snapshot: a pieces consumer must not re-run the Viterbi fold
    val seg = graft.util.Caches.snapshot(TextUnigramLm.segment(
      TextUnigramLm.wordFreq(docs(s, dir)), model))
    val tot = seg
      .agg(sum(col("freq") * size(col("pieces"))).cast("long")
        .as("corpus_tokens"))
    DynamicOracles.put("llm_unigram_encode", unigramEncodeOracle(model))
    seg.select(col("word"), col("freq"),
        size(col("pieces")).as("n_tokens"),
        concat_ws(" ", col("pieces")).as("tokens"), col("score_micro"))
      .orderBy(col("freq").desc, col("word")).limit(UnigramTopWords)
      .crossJoin(broadcast(tot))
  }

  private def unigramEncodeOracle(model: Map[String, Long]): String =
    s"""WITH $wrdsCte,
       |$unigramWfCte,
       |${unigramModelCtes(model)},
       |$unigramVitCtes,
       |tot AS (
       |  SELECT CAST(sum(c * len(string_split(f.sg, ' '))) AS BIGINT)
       |    AS corpus_tokens
       |  FROM fin
       |),
       |topw AS (
       |  SELECT word, c, CAST(len(string_split(f.sg, ' ')) AS INT)
       |      AS n_tokens,
       |    f.sg AS tokens, f.sc AS score_micro
       |  FROM fin ORDER BY c DESC, word LIMIT $UnigramTopWords
       |)
       |SELECT t.word, t.c AS freq, t.n_tokens, t.tokens, t.score_micro,
       |  tot.corpus_tokens
       |FROM topw t CROSS JOIN tot""".stripMargin

  /** Side-by-side tokenizer audit — the comparison the fertility
    * entry had nothing to compare BPE against: corpus tokens,
    * fertility (tokens per whitespace word) and chars-per-token for
    * the trained BPE, the trained unigram LM, and the whitespace
    * baseline, each re-derived by the oracle from its pinned model
    * alone (the BPE nested-merge fold and the unigram Viterbi fold
    * both re-run in SQL; integer sums, one exact double division at
    * the end). BPE counts include its end-of-word sentinel token —
    * the same convention as llm_bpe_encode's corpus_tokens. */
  def tokCompare(s: SparkSession, dir: String): DataFrame = {
    val merges = trainedMerges(s, dir)
    val (model, _) = trainedUnigram(s, dir)
    val d = docs(s, dir)
    // snapshot: five branches (ws total, unigram segment, whitespace
    // count, plus the two fertility denominators) read the word table
    // — without the barrier each branch re-scans the corpus
    // (PlanAuditSpec registry-wide scan audit)
    val words = graft.util.Caches.snapshot(TextUnigramLm.wordFreq(d))
    val wsT = words.agg(sum(col("freq")).cast("long").as("ws_tokens"))
    val chars = d
      .select(length(TextDedup.normText(col("text"))).as("len_nt"))
      .agg(sum(col("len_nt")).cast("long").as("chars_norm"))
    val b = TextBpe.encodeWords(d, merges)
      .agg(sum(col("freq") * col("n_tokens")).cast("long")
        .as("corpus_tokens"))
    val u = TextUnigramLm.segment(words, model)
      .agg(sum(col("freq") * size(col("pieces"))).cast("long")
        .as("corpus_tokens"))
    val w = words
      .agg(sum(col("freq")).cast("long").as("corpus_tokens"))
    def row(family: String, toks: DataFrame): DataFrame =
      toks.crossJoin(broadcast(wsT)).crossJoin(broadcast(chars))
        .select(lit(family).as("family"), col("corpus_tokens"),
          col("ws_tokens"), col("chars_norm"),
          (col("corpus_tokens").cast("double") /
            col("ws_tokens").cast("double")).as("fertility"),
          (col("chars_norm").cast("double") /
            col("corpus_tokens").cast("double")).as("chars_per_token"))
    DynamicOracles.put("llm_tok_compare", tokCompareOracle(merges, model))
    row("bpe", b).unionAll(row("unigram", u)).unionAll(row("whitespace", w))
  }

  private def tokCompareOracle(
      merges: Seq[graft.operators.TextBpe.Merge],
      model: Map[String, Long]): String = {
    val syms =
      s"""list_concat([word[i:i] for i in range(1, len(word) + 1)],
         |      ['${graft.operators.TextBpe.EndToken}'])""".stripMargin
    s"""WITH $wrdsCte,
       |$unigramWfCte,
       |${unigramModelCtes(model)},
       |$unigramVitCtes,
       |btok AS (
       |  SELECT c, ${duckBpeTokens(merges, syms)} AS tokens FROM wf
       |),
       |b AS (
       |  SELECT CAST(sum(c * len(string_split(tokens, ' '))) AS BIGINT)
       |    AS toks
       |  FROM btok
       |),
       |u AS (
       |  SELECT CAST(sum(c * len(string_split(f.sg, ' '))) AS BIGINT)
       |    AS toks
       |  FROM fin
       |),
       |w AS (SELECT CAST(sum(c) AS BIGINT) AS toks FROM wf),
       |ch AS (
       |  SELECT CAST(sum(len(nt)) AS BIGINT) AS chars_norm FROM norm
       |)
       |SELECT 'bpe' AS family, b.toks AS corpus_tokens,
       |  w.toks AS ws_tokens, ch.chars_norm,
       |  b.toks::DOUBLE / w.toks::DOUBLE AS fertility,
       |  ch.chars_norm::DOUBLE / b.toks::DOUBLE AS chars_per_token
       |FROM b, w, ch
       |UNION ALL
       |SELECT 'unigram', u.toks, w.toks, ch.chars_norm,
       |  u.toks::DOUBLE / w.toks::DOUBLE,
       |  ch.chars_norm::DOUBLE / u.toks::DOUBLE
       |FROM u, w, ch
       |UNION ALL
       |SELECT 'whitespace', w.toks, w.toks, ch.chars_norm,
       |  1.0::DOUBLE,
       |  ch.chars_norm::DOUBLE / w.toks::DOUBLE
       |FROM w, ch""".stripMargin
  }

  // ---- language ID ----

  def langId(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langId(docs(s, dir))
      .select("doc_id", "lang", "cjk_ratio", "s_en", "s_de", "s_fr",
        "s_es", "predicted_lang")

  val langIdOracle: String = {
    def lex(l: String) = TextAnalysis.stopwords(l)
      .map(w => s"'$w'").mkString(", ")
    def overlap(l: String) =
      s"len(list_intersect(list_distinct(w), [${lex(l)}]))"
    s"""WITH $wrdsCte,
       |scored AS (
       |  SELECT doc_id, lang,
       |    len(regexp_extract_all(text, '[一-龥]'))::DOUBLE
       |      / greatest(length(text), 1) AS cjk_ratio,
       |    ${overlap("en")} AS s_en,
       |    ${overlap("de")} AS s_de,
       |    ${overlap("fr")} AS s_fr,
       |    ${overlap("es")} AS s_es
       |  FROM wrds
       |)
       |SELECT *,
       |  CASE WHEN cjk_ratio > 0.05 THEN 'zh'
       |       WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       |       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
       |       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
       |       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
       |       ELSE 'es' END AS predicted_lang
       |FROM scored""".stripMargin
  }

  // ---- repetition filters (Gopher/MassiveText family) ----

  def repetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionMetrics(docs(s, dir))
      .select("doc_id", "n_lines", "dup_line_frac", "dup_10gram_frac",
        "n_bigrams", "top_bigram_frac", "repetition_ok")

  /** rep/topbg CTE bodies + the final repetition SELECT, split out so
    * the curation oracle can reuse them. */
  private val repCtesSql: String =
    """rep AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, chr(10)),
      |                l -> length(trim(l)) > 0) AS lines,
      |    CASE WHEN len(w) >= 10 THEN
      |      [array_to_string(w[i:i+9], ' ') for i in range(1, len(w)-8)]
      |    ELSE [] END AS tg,
      |    CASE WHEN len(w) >= 2 THEN
      |      [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]
      |    ELSE [] END AS bg
      |  FROM wrds
      |),
      |topbg AS (
      |  SELECT doc_id, max(c) AS topc FROM (
      |    SELECT doc_id, b, count(*) AS c
      |    FROM (SELECT doc_id, unnest(bg) AS b FROM rep)
      |    GROUP BY 1, 2
      |  ) GROUP BY 1
      |)""".stripMargin

  private val repSelectSql: String =
    """SELECT r.doc_id, len(lines) AS n_lines,
      |  CASE WHEN len(lines) > 0 THEN
      |    (len(lines) - len(list_distinct(lines)))::DOUBLE / len(lines)
      |  END AS dup_line_frac,
      |  CASE WHEN len(tg) > 0 THEN
      |    (len(tg) - len(list_distinct(tg)))::DOUBLE / len(tg)
      |  END AS dup_10gram_frac,
      |  len(bg) AS n_bigrams,
      |  CASE WHEN len(bg) > 0 THEN topc::DOUBLE / len(bg)
      |  END AS top_bigram_frac,
      |  coalesce(dup_line_frac <= 0.3, true)
      |    AND coalesce(top_bigram_frac <= 0.2, true)
      |    AND coalesce(dup_10gram_frac <= 0.5, true) AS repetition_ok
      |FROM rep r LEFT JOIN topbg USING (doc_id)""".stripMargin

  val repetitionOracle: String =
    s"WITH $wrdsCte,\n$repCtesSql\n$repSelectSql"

  // ---- decontamination (train-test overlap removal) ----

  /** 8-gram overlap against the benchmark stand-in (docs with
    * doc_id < 20). Docs shorter than 8 words have no 8-grams and are
    * clean by construction (they drop out of the hashed corpus, so the
    * output covers docs with >= 8 words — mirrored by the oracle). */
  private val DecontamN = 8
  private val BenchmarkIds = 20

  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val corpus = hashedCorpus(s, dir, DecontamN)
    TextDedup.decontaminate(corpus,
      corpus.filter(col("doc_id") < BenchmarkIds))
  }

  /** LLM_DECON_BLOOM: the Bloom-gated decontamination plan
    * ([[TextDedup.decontaminateBloom]]) — same exact verdict as
    * llm_decontaminate (so the same oracle gates it), but the
    * benchmark membership test is a broadcast fixed-bits Bloom
    * prefilter + exact verify join, the shape that survives a
    * benchmark set too large to broadcast exactly. */
  def deconBloom(s: SparkSession, dir: String): DataFrame = {
    val corpus = hashedCorpus(s, dir, DecontamN)
    TextDedup.decontaminateBloom(corpus,
      corpus.filter(col("doc_id") < BenchmarkIds))
  }

  val decontaminateOracle: String =
    s"""WITH ${hashedCte(DecontamN)},
       |bench AS (
       |  SELECT DISTINCT h FROM hashed WHERE doc_id < $BenchmarkIds
       |),
       |ov AS (
       |  SELECT doc_id, count(*) AS n_overlap
       |  FROM hashed JOIN bench USING (h) GROUP BY 1
       |)
       |SELECT d.doc_id, coalesce(o.n_overlap, 0) AS n_overlap,
       |  coalesce(o.n_overlap, 0) > 0 AS contaminated
       |FROM (SELECT DISTINCT doc_id FROM hashed) d
       |LEFT JOIN ov o USING (doc_id)""".stripMargin

  // ---- curation end-to-end (quality ∧ repetition ∧ exact-dedup keep) ----

  /** The full corpus-curation funnel as one plan: per source, how many
    * documents enter, how many survive quality + repetition filters
    * AND are the canonical copy of their exact-dup class, and the
    * surviving whitespace-token budget. The three per-doc metric
    * operators compose as projections of one scan; only the exact-dup
    * keep set joins back by doc_id, and each aggregate is one shuffle
    * keyed by doc_id/source. */
  def curationE2e(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // the three per-doc gates are projections of one scan, no joins
    val gated = TextAnalysis.tokenCounts(
      TextAnalysis.repetitionMetrics(TextAnalysis.qualityScore(d)))
    val keep = TextDedup.exactDedup(d)
      .select(col("keep_id").as("doc_id"), lit(true).as("_keep"))
    val surviving = col("quality_ok") && col("repetition_ok") &&
      coalesce(col("_keep"), lit(false))
    gated.select(col("doc_id"), col("source"), col("quality_ok"),
        col("repetition_ok"), col("n_ws_tokens"))
      .join(keep, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(surviving, 1)).as("n_survivors"),
        coalesce(sum(when(surviving, col("n_ws_tokens"))), lit(0L))
          .as("tokens_out"))
  }

  val curationE2eOracle: String =
    s"""WITH $wrdsCte,
       |$repCtesSql,
       |qual AS ($qualitySelectSql),
       |repm AS ($repSelectSql),
       |tok AS (SELECT doc_id, len(w) AS n_ws_tokens FROM wrds),
       |keepers AS (
       |  SELECT min(doc_id) AS doc_id FROM norm GROUP BY sha256(nt)
       |)
       |SELECT doc.source, count(*) AS n_docs,
       |  count(CASE WHEN qual.quality_ok AND repm.repetition_ok
       |    AND k.doc_id IS NOT NULL THEN 1 END) AS n_survivors,
       |  coalesce(CAST(sum(CASE WHEN qual.quality_ok AND repm.repetition_ok
       |    AND k.doc_id IS NOT NULL THEN tok.n_ws_tokens END) AS BIGINT), 0)
       |    AS tokens_out
       |FROM documents doc
       |JOIN qual ON qual.doc_id = doc.doc_id
       |JOIN repm ON repm.doc_id = doc.doc_id
       |JOIN tok ON tok.doc_id = doc.doc_id
       |LEFT JOIN keepers k ON k.doc_id = doc.doc_id
       |GROUP BY doc.source""".stripMargin

  // ---- deterministic stratified sampling ----

  /** Quality-weighted downsampling stand-in: even-indexed sources are
    * kept at 75%, odd at 25%, by stable sha256 bucket — reproducible
    * and nested (raising a rate yields a superset). */
  def stratSample(s: SparkSession, dir: String): DataFrame = {
    val idx = regexp_extract(col("source"), "src(\\d+)", 1).cast("int")
    TextAnalysis.stratifiedSample(docs(s, dir),
      when(idx % 2 === 0, lit(75)).otherwise(lit(25)))
      .select("doc_id", "source", "sample_bucket", "keep_rate")
  }

  val stratSampleOracle: String =
    s"""WITH h AS (
       |  SELECT doc_id, source, sha256(CAST(doc_id AS VARCHAR)) AS sha
       |  FROM documents
       |),
       |b AS (
       |  SELECT doc_id, source, $duckHash32 % 100 AS sample_bucket,
       |    CASE WHEN CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) % 2 = 0
       |      THEN 75 ELSE 25 END AS keep_rate
       |  FROM h
       |)
       |SELECT doc_id, source, sample_bucket, keep_rate
       |FROM b WHERE sample_bucket < keep_rate""".stripMargin

  /** LLM_WEIGHTED_SAMPLE: Efraimidis–Spirakis A-Res weighted sampling
    * without replacement ([[TextAnalysis.weightedSample]]), weights =
    * n_chars — the char-budget-proportional doc sampler a mixture
    * executor draws with. Deterministic seeded-sha draws, so the
    * oracle replays the identical keys. */
  def weightedSample(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.weightedSample(docs(s, dir), k = 200, seed = 42L)

  val weightedSampleOracle: String =
    s"""WITH hw AS (
       |  SELECT doc_id, source, n_chars,
       |    sha256(concat('wsamp:42:', CAST(doc_id AS VARCHAR))) AS sha
       |  FROM documents WHERE n_chars > 0
       |),
       |ky AS (
       |  SELECT doc_id, source, n_chars AS weight,
       |    ${graft.util.Parity.duckRoundTo(
             s"ln(($duckHash32 + 1) / 4294967296.0) / n_chars", 9)}
       |      AS samp_key
       |  FROM hw
       |)
       |SELECT doc_id, source, weight, samp_key FROM ky
       |ORDER BY samp_key DESC, doc_id LIMIT 200""".stripMargin

  // ---- unigram log-probability (perplexity-filter proxy) ----

  def unigramLogprob(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramLogprob(docs(s, dir))

  val unigramLogprobOracle: String =
    s"""WITH $wrdsCte,
       |tok AS (SELECT doc_id, unnest(w) AS word FROM wrds),
       |counts AS (SELECT word, count(*) AS c FROM tok GROUP BY 1),
       |tot AS (SELECT sum(c) AS total, count(*) AS vocab FROM counts)
       |SELECT doc_id, count(*) AS n_words,
       |  ${graft.util.Parity.duckDsum(
             graft.util.Parity.duckRoundTo("ln((c + 1) / (total + vocab))", 6))}
       |    / count(*) AS avg_logprob
       |FROM tok JOIN counts USING (word), tot
       |GROUP BY doc_id""".stripMargin

  // ---- interpolated bigram LM (perplexity-filter, order 2) ----

  private val BigramLambda = 0.7
  private val BigramBackoff = 0.3

  def bigramLogprob(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramLogprob(docs(s, dir), BigramLambda, BigramBackoff)

  /** Shared CTE pipeline: corpus counts, context counts,
    * per-distinct-bigram interpolated probability. The two weights are
    * spelled with duckDoubleLit so both engines fold bit-identical
    * constants. */
  private val bigramCtes: String = {
    val lam = graft.util.Parity.duckDoubleLit(BigramLambda)
    val bo = graft.util.Parity.duckDoubleLit(BigramBackoff)
    s"""$wrdsCte,
       |tok AS (SELECT doc_id, unnest(w) AS word FROM wrds),
       |uni AS (SELECT word, count(*) AS cu FROM tok GROUP BY 1),
       |tot AS (SELECT sum(cu) AS total, count(*) AS vocab FROM uni),
       |pairs AS (
       |  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
       |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
       |        FROM wrds WHERE len(w) >= 2)
       |),
       |bigc AS (SELECT w1, w2, count(*) AS cb FROM pairs GROUP BY 1, 2),
       |ctx AS (SELECT w1, sum(cb) AS cctx FROM bigc GROUP BY 1),
       |probs AS (
       |  SELECT b.w1, b.w2,
       |    ${graft.util.Parity.duckRoundTo(
              s"ln($lam * (cb / cctx) + $bo * ((cu + 1) / (total + vocab)))",
              6)} AS lp
       |  FROM bigc b JOIN ctx USING (w1) JOIN uni u ON u.word = b.w2, tot
       |),
       |perdoc AS (
       |  SELECT p.doc_id, count(*) AS n_bigrams,
       |    ${graft.util.Parity.duckDsum("lp")} / count(*) AS avg_logprob
       |  FROM pairs p JOIN probs USING (w1, w2)
       |  GROUP BY 1
       |)""".stripMargin
  }

  val bigramLogprobOracle: String =
    s"""WITH $bigramCtes
       |SELECT doc_id, n_bigrams, avg_logprob FROM perdoc""".stripMargin

  // ---- LM-perplexity percentile cut (CCNet head/tail split) ----

  private val PerplexityKeepFrac = 0.5

  /** The CCNet composition: score every document with the interpolated
    * bigram LM, then keep the most-likely half of each source
    * (per-source percent_rank on avg_logprob, the same relative-cut
    * machinery as llm_quality_cut — absolute LM thresholds misfire
    * across sources with different length/vocabulary profiles). The
    * ranking metric is the quantized decimal mean, so ordering is
    * bit-identical across engines and the cut can never straddle. */
  def perplexityCut(s: SparkSession, dir: String): DataFrame = {
    val lm = TextAnalysis.bigramLogprob(docs(s, dir), BigramLambda,
      BigramBackoff)
    val scored = lm.join(
      docs(s, dir).select(col("doc_id"), col("source")), "doc_id")
    TextAnalysis.qualityPercentileCut(scored, col("avg_logprob"),
      keepFrac = PerplexityKeepFrac)
  }

  val perplexityCutOracle: String =
    s"""WITH $bigramCtes,
       |j AS (
       |  SELECT d.doc_id, d.source, p.avg_logprob AS metric
       |  FROM documents d JOIN perdoc p USING (doc_id)
       |),
       |r AS (
       |  SELECT *, percent_rank() OVER (
       |    PARTITION BY source ORDER BY metric DESC, doc_id ASC
       |  ) AS pct_rank FROM j
       |)
       |SELECT doc_id, source, metric, pct_rank
       |FROM r WHERE pct_rank <= $PerplexityKeepFrac""".stripMargin

  // ---- sequence packing into token-budget bins ----

  private val PackBudget = 300L

  def packBins(s: SparkSession, dir: String): DataFrame = {
    // tokenCounts preserves every input column (withColumn), so source
    // rides along — re-joining the docs table would scan it twice and
    // shuffle for nothing
    val tokens = TextAnalysis.tokenCounts(docs(s, dir))
      .select(col("doc_id"), col("source"),
        col("n_ws_tokens").as("n_tokens"))
    TextAnalysis.packIntoBins(tokens, PackBudget)
      .select("doc_id", "source", "n_tokens", "bin_id",
        "tok_from", "tok_until", "n_in_bin")
  }

  val packBinsOracle: String =
    s"""WITH $wrdsCte,
       |tok AS (SELECT doc_id, len(w) AS n_tokens FROM wrds),
       |j AS (
       |  SELECT d.doc_id, d.source, t.n_tokens
       |  FROM documents d JOIN tok t USING (doc_id)
       |),
       |pre AS (
       |  SELECT *, CAST(coalesce(sum(n_tokens) OVER (
       |    PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS p
       |  FROM j
       |),
       |x AS (
       |  SELECT *, unnest(range(p // $PackBudget,
       |    (p + greatest(n_tokens, 1) - 1) // $PackBudget + 1)) AS bin_id
       |  FROM pre
       |)
       |SELECT doc_id, source, n_tokens,
       |  CAST(bin_id AS BIGINT) AS bin_id,
       |  CAST(greatest(p, bin_id * $PackBudget) - p AS BIGINT) AS tok_from,
       |  CAST(least(p + n_tokens, (bin_id + 1) * $PackBudget) - p AS BIGINT)
       |    AS tok_until,
       |  CAST(least(p + n_tokens, (bin_id + 1) * $PackBudget)
       |    - greatest(p, bin_id * $PackBudget) AS BIGINT) AS n_in_bin
       |FROM x""".stripMargin

  // ---- per-source corpus statistics ----

  def sourceStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.sourceStats(docs(s, dir))
      .select("source", "n_docs", "n_dup_docs", "dup_rate", "mean_chars")

  val sourceStatsOracle: String =
    s"""WITH h AS (
       |  SELECT source, text,
       |    sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS hh
       |  FROM documents
       |),
       |duph AS (SELECT hh AS dhh FROM h GROUP BY 1 HAVING count(*) >= 2)
       |SELECT source, count(*) AS n_docs,
       |  count(dhh) AS n_dup_docs,
       |  count(dhh)::DOUBLE / count(*) AS dup_rate,
       |  ${graft.util.Parity.duckDavg("length(text)")} AS mean_chars
       |FROM h LEFT JOIN duph ON h.hh = duph.dhh
       |GROUP BY 1""".stripMargin

  // ---- embedding ANN: brute-force top-k ----

  private val AnnQueries = 8
  private val AnnK = 5

  /** Engine-identical cosine: strict left fold of double products. */
  private[queries] def duckCosine(a: String, b: String): String = {
    def d(x: String, y: String) =
      s"""list_reduce(list_transform(range(1, len($x) + 1),
         |      i -> $x[i]::DOUBLE * $y[i]::DOUBLE), (acc, v) -> acc + v)""".stripMargin
    s"${d(a, b)} / (sqrt(${d(a, a)}) * sqrt(${d(b, b)}))"
  }

  def annTopK(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    VectorOps.annTopK(e, e.filter(col("vec_id") < AnnQueries), AnnK)
  }

  val annTopKOracle: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |  WHERE vec_id < $AnnQueries
       |),
       |scored AS (
       |  SELECT query_id, e.vec_id AS neighbor_id,
       |    ${duckCosine("qv", "e.embedding")} AS cos_sim
       |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id
       |)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
       |  ) AS INT) AS rank
       |  FROM scored
       |) WHERE rank <= $AnnK""".stripMargin

  /** Filtered (label-constrained) vector search — the retrieval
    * pipeline's metadata-predicate + ANN combination, done the only
    * way that is correct at scale: the predicate joins INTO the
    * scoring (pre-filter — each query scores only vectors sharing its
    * label), never applied to a global top-k afterwards. The entry
    * MEASURES why: `post_hits` counts how many of the UNFILTERED
    * top-k happen to satisfy the predicate — post-filtering
    * under-returns whenever post_hits < k, which is the standard
    * failure of filter-after-search. Exact brute-force scoring
    * (queries broadcast, one corpus pass per variant); the oracle
    * recomputes both rankings with the engine-identical fold cosine.
    * At 100 TB the pre-filter rides the same partition pruning /
    * index probe as any predicate — selectivity shrinks the scored
    * set, it never inflates it. */
  def annFiltered(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // the literal-bounded query subset feeds FOUR plan branches (two
    // broadcast builds, the ANN query side, the post-hits attach) —
    // collect it once so the corpus is not re-scanned per branch
    // (the plan audit pins the per-table scan count)
    // bounded-collect(AnnQueries query vectors)
    val qBase = graft.util.Caches.local(
      e.filter(col("vec_id") < AnnQueries))
    val q = broadcast(qBase
      .select(col("vec_id").as("query_id"), col("embedding").as("_qv"),
        col("label").as("_ql")))
    val pre = e
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("_cv"),
        col("label").as("_nl"))
      .join(q, col("neighbor_id") =!= col("query_id") &&
        col("_nl") === col("_ql"))
      .select(col("query_id"),
        col("neighbor_id"), VectorOps.cosine(col("_qv"), col("_cv"))
          .as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    val preTop = pre.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= AnnK)
    val postHits = VectorOps
      .annTopK(e, qBase, AnnK)
      .join(e.select(col("vec_id").as("neighbor_id"),
        col("label").as("_nl2")), "neighbor_id")
      .join(q.select(col("query_id"), col("_ql")), "query_id")
      .groupBy(col("query_id"))
      .agg(sum(when(col("_nl2") === col("_ql"), 1L).otherwise(0L))
        .as("post_hits"))
    preTop.join(postHits, "query_id")
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"),
        col("rank"), col("post_hits"))
  }

  val annFilteredOracle: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qv, label AS ql
       |  FROM embeddings WHERE vec_id < $AnnQueries
       |),
       |pre AS (
       |  SELECT query_id, e.vec_id AS neighbor_id,
       |    ${duckCosine("qv", "e.embedding")} AS cos_sim
       |  FROM embeddings e JOIN q
       |    ON e.vec_id <> q.query_id AND e.label = q.ql
       |),
       |prtop AS (
       |  SELECT * FROM (
       |    SELECT *, CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
       |    ) AS INT) AS rank FROM pre
       |  ) WHERE rank <= $AnnK
       |),
       |post AS (
       |  SELECT query_id, e.vec_id AS nid, e.label AS nl, ql,
       |    ${duckCosine("qv", "e.embedding")} AS cs
       |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id
       |),
       |postop AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY query_id ORDER BY cs DESC, nid
       |    ) AS rnk FROM post
       |  ) WHERE rnk <= $AnnK
       |),
       |ph AS (
       |  SELECT query_id,
       |    CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) AS BIGINT)
       |      AS post_hits
       |  FROM postop GROUP BY 1
       |)
       |SELECT p.query_id, p.neighbor_id, p.cos_sim, p.rank, ph.post_hits
       |FROM prtop p JOIN ph ON p.query_id = ph.query_id""".stripMargin

  // ---- MRL truncation: neighbor preservation audit ----

  private val MrlDim = 16

  /** Top-k overlap between full-dimension and prefix-truncated
    * cosine rankings ([[VectorOps.mrlRecall]]) — the recall audit run
    * before serving Matryoshka-truncated embeddings. Same query
    * subset as llm_ann_topk; both rankings recomputed exactly in SQL
    * (truncation = list slice). */
  def mrlRecall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    VectorOps.mrlRecall(e, e.filter(col("vec_id") < AnnQueries), AnnK, MrlDim)
  }

  private def mrlRankCte(name: String, qv: String, cv: String): String =
    s"""$name AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${duckCosine(qv, cv)} DESC, e.vec_id) AS rn
       |    FROM embeddings e JOIN q ON e.vec_id <> q.query_id
       |  ) WHERE rn <= $AnnK
       |)""".stripMargin

  val mrlRecallOracle: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qv,
       |    embedding[1:$MrlDim] AS tqv
       |  FROM embeddings WHERE vec_id < $AnnQueries
       |),
       |${mrlRankCte("full_rank", "q.qv", "e.embedding")},
       |${mrlRankCte("trunc_rank", "q.tqv", s"e.embedding[1:$MrlDim]")},
       |ov AS (
       |  SELECT f.query_id, count(*) AS overlap
       |  FROM full_rank f JOIN trunc_rank t
       |    ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
       |  GROUP BY 1
       |)
       |SELECT q.query_id, $MrlDim AS trunc_dim,
       |  CAST(coalesce(ov.overlap, 0) AS INT) AS overlap,
       |  CAST(coalesce(ov.overlap, 0) AS DOUBLE) / $AnnK AS recall
       |FROM q LEFT JOIN ov ON ov.query_id = q.query_id""".stripMargin

  // ---- embedding ANN: bucketed (IVF/LSH) nearest neighbour ----

  def annBucketed(s: SparkSession, dir: String): DataFrame =
    VectorOps.bucketTop1(emb(s, dir))

  // ---- embedding-cosine near-dup pairs (bucketed) ----

  private val EmbedDupThreshold = 0.3

  def embedNearDups(s: SparkSession, dir: String): DataFrame =
    VectorOps.cosineNearDups(emb(s, dir), EmbedDupThreshold)

  /** Shared oracle CTEs mirroring [[VectorOps.candidatePairs]]'s
    * banded sign-projection LSH bit for bit: hyperplane coefficients
    * are +/-1 by the parity of the first hex char of sha256("p:i")
    * (p = band*bits + bit, i the 1-based coordinate), each projection
    * is the same left-to-right double fold the codegen'd
    * [[graft.functions.VectorHash.signLsh]] runs, the band key packs
    * as band * 2^bits + sig, and candidates are distinct intra-bucket
    * id pairs. Geometry constants come from VectorOps so a retune
    * cannot desynchronize the gate. */
  private val pairBucketCte: String = {
    val bands = VectorOps.SignLshBands
    val bits = VectorOps.SignLshBits
    s"""coefs AS (
       |  SELECT p, list(CASE WHEN substr(sha256(p::VARCHAR || ':' || i::VARCHAR), 1, 1)
       |                      IN ('1','3','5','7','9','b','d','f')
       |                 THEN -1.0 ELSE 1.0 END ORDER BY i) AS cs
       |  FROM (SELECT t1.range AS p, u.i
       |        FROM range(0, ${bands * bits}) t1,
       |             (SELECT unnest(range(1, max(len(embedding)) + 1)) AS i
       |              FROM embeddings) u)
       |  GROUP BY p
       |),
       |sigs AS (
       |  SELECT vec_id, b,
       |    CAST(b AS BIGINT) * ${1L << bits}
       |      + sum(CASE WHEN proj >= 0 THEN (1::BIGINT << j) ELSE 0 END)
       |      AS bucket
       |  FROM (
       |    SELECT e.vec_id, p.b, p.j,
       |      list_reduce(list_transform(range(1, len(e.embedding) + 1),
       |        i -> c.cs[i] * e.embedding[i]::DOUBLE),
       |        (acc, x) -> acc + x) AS proj
       |    FROM embeddings e
       |    JOIN (SELECT t1.range AS b, t2.range AS j
       |          FROM range(0, $bands) t1, range(0, $bits) t2) p ON true
       |    JOIN coefs c ON c.p = p.b * $bits + p.j
       |  ) GROUP BY 1, 2
       |),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
       |  FROM sigs a JOIN sigs c
       |    ON a.bucket = c.bucket AND a.vec_id < c.vec_id
       |)""".stripMargin
  }

  val embedNearDupsOracle: String =
    s"""WITH $pairBucketCte
       |SELECT id_a, id_b,
       |  ${duckCosine("ea.embedding", "eb.embedding")} AS cos_sim
       |FROM cand
       |JOIN embeddings ea ON ea.vec_id = cand.id_a
       |JOIN embeddings eb ON eb.vec_id = cand.id_b
       |WHERE ${duckCosine("ea.embedding", "eb.embedding")} >= $EmbedDupThreshold""".stripMargin

  /** Embedding near-dup clusters: the same distributed
    * connected-components operator the text near-dups use, composed
    * over the cosine pair graph — one cluster id (the component
    * minimum) per vector that appears in any near-dup pair. */
  def embedClusters(s: SparkSession, dir: String): DataFrame =
    TextDedup.dedupClusters(
      VectorOps.cosineNearDups(emb(s, dir), EmbedDupThreshold)
        .select(col("id_a"), col("id_b")))
      .select(col("doc_id").as("vec_id"), col("cluster_id"), col("keep"))

  val embedClustersOracle: String =
    s"""WITH RECURSIVE $pairBucketCte,
       |pairs AS (
       |  SELECT id_a, id_b
       |  FROM cand
       |  JOIN embeddings ea ON ea.vec_id = cand.id_a
       |  JOIN embeddings eb ON eb.vec_id = cand.id_b
       |  WHERE ${duckCosine("ea.embedding", "eb.embedding")} >= $EmbedDupThreshold
       |),
       |edges AS (
       |  SELECT id_a AS s, id_b AS t FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs
       |),
       |reach AS (
       |  SELECT s, t FROM edges
       |  UNION
       |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
       |)
       |SELECT n.s AS vec_id,
       |  least(n.s, min(r.t)) AS cluster_id,
       |  n.s = least(n.s, min(r.t)) AS keep
       |FROM (SELECT DISTINCT s FROM edges) n
       |JOIN reach r ON r.s = n.s
       |GROUP BY n.s""".stripMargin

  val annBucketedOracle: String =
    s"""WITH $pairBucketCte,
       |bidir AS (
       |  SELECT id_a, id_b FROM cand
       |  UNION ALL SELECT id_b, id_a FROM cand
       |),
       |pairs AS (
       |  SELECT id_a, id_b,
       |    ${duckCosine("ea.embedding", "eb.embedding")} AS cos_sim
       |  FROM bidir
       |  JOIN embeddings ea ON ea.vec_id = bidir.id_a
       |  JOIN embeddings eb ON eb.vec_id = bidir.id_b
       |)
       |SELECT id_a AS vec_id, id_b AS nn_id, cos_sim FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY id_a ORDER BY cos_sim DESC, id_b) AS rn
       |  FROM pairs
       |) WHERE rn = 1""".stripMargin

  // ---- SemDeDup: semantic dedup within k-means clusters ----

  private val SemDedupClusters = 8

  /** SemDeDup over the embeddings table: cluster-partitioned exact
    * cosine dedup ([[VectorOps.semDedup]]). Echo+verify gate: the
    * trained centroids (FP-order-dependent, not SQL-derivable) are
    * echoed into the oracle as literals — k x dim doubles, driver-
    * sized by construction — and DuckDB independently recomputes the
    * assignment (same squared-L2 left fold, same lowest-index
    * tie-break), the within-cluster pair scan, and the keep/dup_of
    * decisions from raw embeddings. */
  def semDedup(s: SparkSession, dir: String): DataFrame = {
    val (cents, out) =
      VectorOps.semDedup(emb(s, dir), SemDedupClusters, EmbedDupThreshold)
    DynamicOracles.put("llm_semdedup", semDedupOracle(cents))
    out
  }

  private def semDedupOracle(cents: Array[Array[Double]]): String =
    if (cents.isEmpty)
      """SELECT CAST(NULL AS BIGINT) AS vec_id,
        |  CAST(NULL AS INT) AS cluster_id,
        |  CAST(NULL AS BIGINT) AS dup_of, CAST(NULL AS BOOLEAN) AS keep
        |WHERE false""".stripMargin
    else {
      // each element through duckDoubleLit: a bare 17-digit literal
      // parses as DECIMAL whose DOUBLE conversion can drift 1 ULP,
      // enough to flip an assignment between near-equidistant centroids
      val values = cents.zipWithIndex.map { case (v, c) =>
        s"($c, [${v.map(graft.util.Parity.duckDoubleLit).mkString(", ")}])"
      }.mkString(",\n    ")
      s"""WITH cents(c, cv) AS (VALUES $values),
         |dists AS (
         |  SELECT e.vec_id, c.c,
         |    list_reduce(list_transform(range(1, len(e.embedding) + 1),
         |      i -> (e.embedding[i]::DOUBLE - c.cv[i])
         |           * (e.embedding[i]::DOUBLE - c.cv[i])),
         |      (acc, x) -> acc + x) AS d
         |  FROM embeddings e CROSS JOIN cents c
         |),
         |assigned AS (
         |  SELECT vec_id, CAST(c AS INT) AS cluster_id FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d, c) AS rn
         |    FROM dists
         |  ) WHERE rn = 1
         |),
         |dups AS (
         |  SELECT a.vec_id, min(b.vec_id) AS dup_of
         |  FROM assigned a
         |  JOIN assigned b
         |    ON a.cluster_id = b.cluster_id AND b.vec_id < a.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id
         |  WHERE ${duckCosine("ea.embedding", "eb.embedding")}
         |    >= $EmbedDupThreshold
         |  GROUP BY 1
         |)
         |SELECT a.vec_id, a.cluster_id, d.dup_of, d.dup_of IS NULL AS keep
         |FROM assigned a LEFT JOIN dups d ON d.vec_id = a.vec_id""".stripMargin
    }

  /** LLM_CLUSTER_METRICS: cluster-quality panel over the SemDeDup
    * k-means clustering ([[VectorOps.clusterMetrics]]) — per-cluster
    * size, scatter, nearest-centroid separation, and Davies–Bouldin
    * term. Echo+verify: DuckDB re-derives assignment (same squared-L2
    * fold, lowest-index ties), the 6-dp-quantized scatter means, and
    * the k×k DB geometry from the echoed centroids. */
  def clusterMetrics(s: SparkSession, dir: String): DataFrame = {
    val (cents, out) =
      VectorOps.clusterMetrics(emb(s, dir), SemDedupClusters)
    DynamicOracles.put("llm_cluster_metrics", clusterMetricsOracle(cents))
    out
  }

  private def clusterMetricsOracle(cents: Array[Array[Double]]): String =
    if (cents.isEmpty)
      """SELECT CAST(NULL AS INT) AS cluster_id,
        |  CAST(NULL AS BIGINT) AS n_members,
        |  CAST(NULL AS DOUBLE) AS scatter,
        |  CAST(NULL AS DOUBLE) AS min_sep, CAST(NULL AS DOUBLE) AS db_term
        |WHERE false""".stripMargin
    else {
      val values = cents.zipWithIndex.map { case (v, c) =>
        s"($c, [${v.map(graft.util.Parity.duckDoubleLit).mkString(", ")}])"
      }.mkString(",\n    ")
      import graft.util.Parity.{duckDsum, duckRoundTo}
      s"""WITH cents(c, cv) AS (VALUES $values),
         |dists AS (
         |  SELECT e.vec_id, c.c,
         |    list_reduce(list_transform(range(1, len(e.embedding) + 1),
         |      i -> (e.embedding[i]::DOUBLE - c.cv[i])
         |           * (e.embedding[i]::DOUBLE - c.cv[i])),
         |      (acc, x) -> acc + x) AS d
         |  FROM embeddings e CROSS JOIN cents c
         |),
         |assigned AS (
         |  SELECT vec_id, CAST(c AS INT) AS cluster_id, d FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d, c) AS rn
         |    FROM dists
         |  ) WHERE rn = 1
         |),
         |per AS (
         |  SELECT cluster_id, count(*) AS n_members,
         |    ${duckDsum(duckRoundTo("sqrt(d)", 6))} / count(*) AS scatter
         |  FROM assigned GROUP BY 1
         |),
         |cd AS (
         |  SELECT CAST(a.c AS INT) AS ci, CAST(b.c AS INT) AS cj,
         |    sqrt(list_reduce(list_transform(range(1, len(a.cv) + 1),
         |      i -> (a.cv[i] - b.cv[i]) * (a.cv[i] - b.cv[i])),
         |      (acc, x) -> acc + x)) AS m
         |  FROM cents a JOIN cents b ON a.c <> b.c
         |),
         |terms AS (
         |  SELECT p.cluster_id, min(cd.m) AS min_sep,
         |    max((p.scatter + q.scatter) / cd.m) AS db_term
         |  FROM per p
         |  JOIN cd ON cd.ci = p.cluster_id
         |  JOIN per q ON q.cluster_id = cd.cj
         |  GROUP BY 1
         |)
         |SELECT p.cluster_id, p.n_members, p.scatter,
         |  t.min_sep, t.db_term
         |FROM per p LEFT JOIN terms t ON t.cluster_id = p.cluster_id"""
        .stripMargin
    }

  // ---- trainable quality/domain classifier ----

  /** Trained-classifier gate ([[graft.operators.QualityClassifier]]):
    * features, weak label, margin, and prediction are ALL recomputed
    * independently in SQL — only the trained weights/standardization
    * constants (FP-order-dependent, not SQL-derivable) are echoed as
    * literals, the same echo+verify split the EGARCH and trained-ANN
    * gates use. */
  /** Trained-model memo shared by the classifier and calibration
    * entries ([[FrameMemo.value]]): a dir regenerated in-process
    * retrains instead of serving stale weights. */
  private def trainedQualModel(s: SparkSession, dir: String)
      : graft.operators.QualityClassifier.Model =
    graft.util.FrameMemo.value(s, dir, "qual_model") {
      val feats = graft.operators.QualityClassifier
        .featureFrame(docs(s, dir), col("lang") === "en")
      // 25 GD steps (two jobs within the kernel's size rule) are past
      // the loss plateau on this corpus; the gate is exact at ANY
      // count (it echoes whatever converged).
      graft.operators.QualityClassifier.train(feats, iters = 25)
    }

  def qualClassifier(s: SparkSession, dir: String): DataFrame = {
    val m = trainedQualModel(s, dir)
    DynamicOracles.put("llm_qual_classifier", qualClassifierOracle(m))
    graft.operators.QualityClassifier.score(
      graft.operators.QualityClassifier
        .featureFrame(docs(s, dir), col("lang") === "en"), m)
  }

  /** LLM_CALIBRATION: reliability curve of the trained quality
    * classifier — ten probability bins over the 9-dp-quantized
    * sigmoid, each with its count, positive count, mean predicted
    * probability and empirical positive rate (the |mean_p − frac_pos|
    * gap per bin is the ECE integrand). The training echo is shared
    * with llm_qual_classifier through the model memo; the oracle
    * re-derives features, margin, sigmoid, binning and every bin stat
    * from the echoed constants in SQL. */
  def calibration(s: SparkSession, dir: String): DataFrame = {
    val m = trainedQualModel(s, dir)
    DynamicOracles.put("llm_calibration", calibrationOracle(m))
    val scored = graft.operators.QualityClassifier.score(
      graft.operators.QualityClassifier
        .featureFrame(docs(s, dir), col("lang") === "en"), m)
    scored
      .withColumn("p", graft.util.Parity.roundTo(
        lit(1.0) / (lit(1.0) + exp(-col("margin"))), 9))
      .withColumn("bin",
        least(floor(col("p") * 10).cast("int"), lit(9)))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        count(when(col("label"), lit(1))).as("n_pos"),
        (graft.util.Parity.dsum(col("p")) / count(lit(1)))
          .as("mean_p"))
      .withColumn("frac_pos",
        col("n_pos").cast("double") / col("n").cast("double"))
      .withColumn("gap", abs(col("mean_p") - col("frac_pos")))
  }

  private def calibrationOracle(
      m: graft.operators.QualityClassifier.Model): String =
    s"""WITH $wrdsCte,
       |scored AS (
       |  SELECT doc_id, lang = 'en' AS label,
       |    ${qualMarginSql(m)} AS margin
       |  FROM wrds
       |),
       |pp AS (
       |  SELECT label,
       |    ${graft.util.Parity.duckRoundTo(
             "1.0 / (1.0 + exp(-(margin)))", 9)} AS p
       |  FROM scored
       |),
       |bb AS (
       |  SELECT least(CAST(floor(p * 10) AS INT), 9) AS bin, label, p
       |  FROM pp
       |),
       |a AS (
       |  SELECT bin, count(*) AS n,
       |    count(CASE WHEN label THEN 1 END) AS n_pos,
       |    ${graft.util.Parity.duckDsum("p")} / count(*) AS mean_p
       |  FROM bb GROUP BY 1
       |)
       |SELECT bin, n, n_pos, mean_p,
       |  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos,
       |  abs(mean_p - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)) AS gap
       |FROM a""".stripMargin

  /** The six quality-feature expressions over the `wrds` CTE, in
    * [[graft.operators.QualityClassifier.FeatureCols]] order — same
    * definitions `qualitySelectSql` pins for llm_quality_score (both
    * gates fail loudly if either copy drifts from
    * [[TextAnalysis.qualityScore]]). All pre-cast to DOUBLE, matching
    * the Spark side's `.cast("double")`. */
  private def qualFeatSql(name: String): String = {
    val en = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
    name match {
      case "n_words" => "len(w)::DOUBLE"
      case "avg_word_len" => "(length(nt) - (len(w) - 1))::DOUBLE / len(w)"
      case "punct_ratio" =>
        """len(regexp_extract_all(text, '[^A-Za-z0-9 \t\n\r]'))::DOUBLE
          | / greatest(length(text), 1)""".stripMargin
      case "digit_ratio" =>
        """len(regexp_extract_all(text, '[0-9]'))::DOUBLE
          | / greatest(length(text), 1)""".stripMargin
      case "upper_ratio" =>
        """len(regexp_extract_all(text, '[A-Z]'))::DOUBLE
          | / greatest(length(text), 1)""".stripMargin
      case "stopword_ratio" =>
        s"""len(list_filter(w, x -> list_contains([$en], x)))::DOUBLE
           | / greatest(len(w), 1)""".stripMargin
    }
  }

  private def qualClassifierOracle(
      m: graft.operators.QualityClassifier.Model): String = {
    // The string-cast (duckDoubleLit) on every echoed constant is
    // load-bearing: a bare decimal literal parses as DECIMAL and
    // DuckDB's wide-DECIMAL -> DOUBLE conversion is not correctly
    // rounded (1-ULP drift on ~20% of 17-digit shortest-reprs), so the
    // echoed model would not round-trip. VARCHAR -> DOUBLE casting is
    // a correctly-rounded strtod, after which every +/-/* in the
    // margin chain is exact IEEE binary64 on both engines.
    s"""WITH $wrdsCte,
       |scored AS (
       |  SELECT doc_id, lang = 'en' AS label,
       |    ${qualMarginSql(m)} AS margin
       |  FROM wrds
       |)
       |SELECT doc_id, label, margin, margin > 0.0 AS pred
       |FROM scored""".stripMargin
  }

  /** bias + Σ ((f − mean)/std)·w in the exact left-to-right
    * association QualityClassifier.marginCol folds with — shared by
    * the classifier and calibration oracles. */
  private def qualMarginSql(
      m: graft.operators.QualityClassifier.Model): String = {
    def d(x: Double) = graft.util.Parity.duckDoubleLit(x)
    m.features.zipWithIndex.foldLeft(d(m.bias)) {
      case (acc, (f, j)) =>
        s"$acc\n    + (((${qualFeatSql(f)}) - ${d(m.mean(j))})" +
          s" / ${d(m.std(j))}) * ${d(m.weights(j))}"
    }
  }

  /** Cap on the per-query candidate set the re-rank gate pins: the
    * collect (and the generated oracle literal) is bounded at
    * |queries| x GateCap no matter how the candidate stage scales. */
  private val GateCap = 32

  /** Re-rank gate shared by the trained-ANN entries: the trained
    * stage (k-means centroids / PQ codebooks — FP-order-dependent,
    * not SQL-expressible) produces a deterministic shortlist of
    * (query_id, neighbor_id) candidates; we pin that shortlist by
    * collecting it, re-rank from the pinned ids, and stash a DuckDB
    * oracle that embeds the same ids as literals and computes the
    * same exact-cosine top-k. The quantizer's quality is covered by
    * the recall/planted-cluster suites in LlmOperatorsSpec; this gate
    * hash-verifies the whole plain-SQL scoring tail.
    *
    * The collect is capped DISTRIBUTED first: the IVF candidate set
    * grows ~|corpus| * nprobe / nClusters per query (linear in the
    * corpus — unbounded at the 100 TB design point), so the gate
    * takes the exact-cosine top-[[GateCap]] per query before anything
    * reaches the driver. For cap >= k the top-k over the capped set
    * IS the top-k over the full candidate set (same score, same
    * tie-break), so the pinned gate loses nothing. */
  private def gatedRerank(name: String, s: SparkSession, corpus: DataFrame,
      queries: DataFrame, shortlist: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    require(GateCap >= k, s"GateCap $GateCap must cover k=$k")
    val capped = VectorOps.exactRerank(shortlist, corpus, queries, GateCap)
    // bounded-collect(n_queries x GateCap: the exact-rerank gate caps
    // the per-query candidate list at GateCap before anything reaches
    // the driver)
    val ids = capped.select(col("query_id").cast("long"),
        col("neighbor_id").cast("long"))
      .as[(Long, Long)].collect().sorted.toSeq
    DynamicOracles.put(name, rerankOracle(ids, k))
    VectorOps.exactRerank(ids.toDF("query_id", "neighbor_id"),
      corpus, queries, k)
  }

  private def rerankOracle(ids: Seq[(Long, Long)], k: Int): String =
    if (ids.isEmpty)
      """SELECT CAST(NULL AS BIGINT) AS query_id,
        |  CAST(NULL AS BIGINT) AS neighbor_id,
        |  CAST(NULL AS DOUBLE) AS cos_sim, CAST(NULL AS INT) AS rank
        |WHERE false""".stripMargin
    else {
      val values = ids.map { case (q, n) => s"($q, $n)" }.mkString(", ")
      s"""WITH short(query_id, neighbor_id) AS (VALUES $values),
         |scored AS (
         |  SELECT CAST(query_id AS BIGINT) AS query_id,
         |    CAST(neighbor_id AS BIGINT) AS neighbor_id,
         |    ${duckCosine("eq.embedding", "en.embedding")} AS cos_sim
         |  FROM short
         |  JOIN embeddings eq ON eq.vec_id = short.query_id
         |  JOIN embeddings en ON en.vec_id = short.neighbor_id
         |)
         |SELECT query_id, neighbor_id, cos_sim, rank FROM (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
         |  ) AS INT) AS rank
         |  FROM scored
         |) WHERE rank <= $k""".stripMargin
    }

  /** Trained-IVF ANN, oracle-gated at the re-rank stage (the probed
    * candidate set is the "shortlist" IVF scores exactly). */
  def annIvfTrained(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < AnnQueries)
    gatedRerank("llm_ann_ivf_trained", s, e, q,
      VectorOps.ivfCandidates(e, q), AnnK)
  }

  /** PQ (product-quantization) ANN: ADC shortlist + gated exact
    * re-rank. */
  def annPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < AnnQueries)
    gatedRerank("llm_ann_pq", s, e, q, VectorOps.pqShortlist(e, q), AnnK)
  }

  /** IVF-PQ ANN — coarse lists + residual PQ codes + per-list ADC
    * shortlist + gated exact re-rank. */
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < AnnQueries)
    gatedRerank("llm_ann_ivfpq", s, e, q,
      VectorOps.ivfPqShortlist(e, q), AnnK)
  }

  // ---- IVF recall audit (echo centroids + verify everything) ----

  private val IvfClusters = 16
  private val IvfProbe = 2

  /** Recall@k of the trained IVF vs exact brute force
    * ([[VectorOps.ivfRecallAudit]]). The gate pins ONLY the trained
    * centroids; the oracle re-derives in SQL the squared-L2
    * assignment (same left-to-right fold, first-wins ties), the
    * per-query probe lists, the probed candidate set, BOTH exact
    * cosine top-k rankings and the overlap — so unlike the re-rank
    * gates this one verifies the ENTIRE search path, not just the
    * scoring tail. */
  def annIvfRecall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // the query panel is bounded by construction — collect it so the
    // audit's three query-side branches read one local relation
    // bounded-collect(AnnQueries query vectors)
    val q = graft.util.Caches.local(
      e.filter(col("vec_id") < AnnQueries))
    val (centroids, out) = VectorOps.ivfRecallAudit(
      e, q, AnnK, IvfClusters, IvfProbe)
    DynamicOracles.put("llm_ann_recall", ivfRecallOracle(centroids))
    out
  }

  private val IvfSweepProbes = Seq(1, 2, 4)

  /** Recall sensitivity curve: the single-point audit swept over
    * nprobe ∈ {1,2,4} ([[VectorOps.ivfRecallSweep]]) — one row per
    * (nprobe, query). Same gate discipline as `llm_ann_recall`: only
    * the trained centroids are pinned; assignment, ranked probe
    * lists, every sweep point's candidate set, both top-k rankings
    * and the overlap are all re-derived in SQL. */
  def annIvfRecallCurve(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // bounded-collect(AnnQueries query vectors)
    val q = graft.util.Caches.local(
      e.filter(col("vec_id") < AnnQueries))
    val (centroids, out) = VectorOps.ivfRecallSweep(
      e, q, AnnK, IvfClusters, IvfSweepProbes)
    DynamicOracles.put("llm_ann_recall_curve", ivfSweepOracle(centroids))
    out
  }

  private def ivfSweepOracle(centroids: Array[Array[Double]]): String = {
    val d = graft.util.Parity.duckDoubleLit _
    val values = centroids.zipWithIndex.map { case (cs, c) =>
      s"($c, [${cs.map(d).mkString(", ")}])"
    }.mkString(",\n    ")
    val nps = IvfSweepProbes.map(n => s"($n)").mkString(", ")
    val sqdist =
      """list_reduce(list_transform(range(1, len(e.embedding) + 1),
        |      i -> (e.embedding[i]::DOUBLE - c.cs[i])
        |           * (e.embedding[i]::DOUBLE - c.cs[i])),
        |      (a, b) -> a + b)""".stripMargin
    s"""WITH cent(c, cs) AS (VALUES
       |    $values),
       |nps(np) AS (VALUES $nps),
       |dists AS (
       |  SELECT e.vec_id, c.c,
       |    $sqdist AS dd
       |  FROM embeddings e, cent c
       |),
       |assigned AS (
       |  SELECT vec_id AS neighbor_id, c AS cluster FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dd, c) AS rn FROM dists
       |  ) WHERE rn = 1
       |),
       |probes AS (
       |  SELECT n.np AS nprobe, r.vec_id AS query_id, r.c AS cluster
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dd, c) AS rn
       |    FROM dists WHERE vec_id < $AnnQueries
       |  ) r CROSS JOIN nps n
       |  WHERE r.rn <= n.np
       |),
       |cand AS (
       |  SELECT p.nprobe, p.query_id, a.neighbor_id
       |  FROM probes p JOIN assigned a USING (cluster)
       |  WHERE a.neighbor_id <> p.query_id
       |),
       |q AS (
       |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |  WHERE vec_id < $AnnQueries
       |),
       |ivf_top AS (
       |  SELECT nprobe, query_id, neighbor_id FROM (
       |    SELECT cand.nprobe, cand.query_id, cand.neighbor_id,
       |      row_number() OVER (PARTITION BY cand.nprobe, cand.query_id
       |        ORDER BY ${duckCosine("q.qv", "e.embedding")} DESC,
       |                 cand.neighbor_id) AS rn
       |    FROM cand
       |    JOIN embeddings e ON e.vec_id = cand.neighbor_id
       |    JOIN q ON q.query_id = cand.query_id
       |  ) WHERE rn <= $AnnK
       |),
       |brute_top AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${duckCosine("q.qv", "e.embedding")} DESC,
       |                 e.vec_id) AS rn
       |    FROM embeddings e JOIN q ON e.vec_id <> q.query_id
       |  ) WHERE rn <= $AnnK
       |),
       |ncand AS (
       |  SELECT nprobe, query_id, count(*) AS n_candidates
       |  FROM cand GROUP BY 1, 2
       |),
       |ov AS (
       |  SELECT i.nprobe, i.query_id, count(*) AS overlap
       |  FROM ivf_top i JOIN brute_top b
       |    ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
       |  GROUP BY 1, 2
       |)
       |SELECT n.np AS nprobe, q.query_id,
       |  CAST(coalesce(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
       |  CAST(coalesce(ov.overlap, 0) AS BIGINT) AS overlap,
       |  CAST(coalesce(ov.overlap, 0) AS DOUBLE) / $AnnK AS recall
       |FROM q CROSS JOIN nps n
       |LEFT JOIN ncand nc ON nc.query_id = q.query_id AND nc.nprobe = n.np
       |LEFT JOIN ov ON ov.query_id = q.query_id AND ov.nprobe = n.np""".stripMargin
  }

  private def ivfRecallOracle(centroids: Array[Array[Double]]): String = {
    val d = graft.util.Parity.duckDoubleLit _
    val values = centroids.zipWithIndex.map { case (cs, c) =>
      s"($c, [${cs.map(d).mkString(", ")}])"
    }.mkString(",\n    ")
    val sqdist =
      """list_reduce(list_transform(range(1, len(e.embedding) + 1),
        |      i -> (e.embedding[i]::DOUBLE - c.cs[i])
        |           * (e.embedding[i]::DOUBLE - c.cs[i])),
        |      (a, b) -> a + b)""".stripMargin
    s"""WITH cent(c, cs) AS (VALUES
       |    $values),
       |dists AS (
       |  SELECT e.vec_id, c.c,
       |    $sqdist AS dd
       |  FROM embeddings e, cent c
       |),
       |assigned AS (
       |  SELECT vec_id AS neighbor_id, c AS cluster FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dd, c) AS rn FROM dists
       |  ) WHERE rn = 1
       |),
       |probes AS (
       |  SELECT vec_id AS query_id, c AS cluster FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dd, c) AS rn
       |    FROM dists WHERE vec_id < $AnnQueries
       |  ) WHERE rn <= $IvfProbe
       |),
       |cand AS (
       |  SELECT p.query_id, a.neighbor_id
       |  FROM probes p JOIN assigned a USING (cluster)
       |  WHERE a.neighbor_id <> p.query_id
       |),
       |q AS (
       |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |  WHERE vec_id < $AnnQueries
       |),
       |ivf_top AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT cand.query_id, cand.neighbor_id,
       |      row_number() OVER (PARTITION BY cand.query_id
       |        ORDER BY ${duckCosine("q.qv", "e.embedding")} DESC,
       |                 cand.neighbor_id) AS rn
       |    FROM cand
       |    JOIN embeddings e ON e.vec_id = cand.neighbor_id
       |    JOIN q ON q.query_id = cand.query_id
       |  ) WHERE rn <= $AnnK
       |),
       |brute_top AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${duckCosine("q.qv", "e.embedding")} DESC,
       |                 e.vec_id) AS rn
       |    FROM embeddings e JOIN q ON e.vec_id <> q.query_id
       |  ) WHERE rn <= $AnnK
       |),
       |ncand AS (
       |  SELECT query_id, count(*) AS n_candidates FROM cand GROUP BY 1
       |),
       |ov AS (
       |  SELECT i.query_id, count(*) AS overlap
       |  FROM ivf_top i JOIN brute_top b
       |    ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
       |  GROUP BY 1
       |)
       |SELECT q.query_id,
       |  CAST(coalesce(n.n_candidates, 0) AS BIGINT) AS n_candidates,
       |  CAST(coalesce(ov.overlap, 0) AS BIGINT) AS overlap,
       |  CAST(coalesce(ov.overlap, 0) AS DOUBLE) / $AnnK AS recall
       |FROM q
       |LEFT JOIN ncand n ON n.query_id = q.query_id
       |LEFT JOIN ov ON ov.query_id = q.query_id""".stripMargin
  }

  // ---- Misra-Gries heavy hitters (guarantee-gated sketch) ----

  // k sized against the synthetic corpus's near-uniform 31-word
  // vocabulary (top word ~3.5% of the stream): k=29 puts the
  // guarantee threshold 1/(k+1) = 3.33% BELOW the head words (the
  // gate is non-vacuous — ~a dozen guaranteed rows) while keeping
  // k < |vocab| so the counter table actually evicts
  private val MgK = 29
  private val MgTopRows = 20

  /** Mergeable Misra-Gries sketch over the corpus word stream
    * ([[graft.operators.HeavyHitters]]), gated on its DETERMINISTIC
    * guarantee rather than the (merge-order-dependent) summary
    * content: the oracle derives the exact frequency table, the total
    * stream length N, and the guaranteed set {freq·(k+1) > N}; every
    * guaranteed word in the top-[[MgTopRows]] must be captured by the
    * sketch (`mg_captured`) with estimate short by at most N/(k+1)
    * (`est_ok`) — the oracle states both as `true`, so a summary
    * losing a guaranteed item or blowing the error bound flips
    * Spark's derived booleans against it. Rank window runs on the
    * Heaps-bounded vocabulary table, not the stream. */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val sketch = graft.operators.HeavyHitters.misraGries(d, MgK)
    val wf = d
      .select(explode(graft.operators.TextDedup.words(col("text")))
        .as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val tot = wf.agg(sum(col("freq")).cast("long").as("n"))
    // bounded-window(distinct words: the vocabulary, sublinear in the corpus)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("word"))
    val sketchDf = sketch.toSeq.toDF("word", "est")
    wf.withColumn("rank", row_number().over(w))
      .crossJoin(broadcast(tot))
      .filter(col("freq") * (MgK + 1) > col("n") &&
        col("rank") <= MgTopRows)
      .join(broadcast(sketchDf), Seq("word"), "left")
      .select(col("word"), col("freq"), col("rank"),
        col("est").isNotNull.as("mg_captured"),
        (col("est").isNotNull &&
          (col("freq") - coalesce(col("est"), lit(0L))) * (MgK + 1)
            <= col("n")).as("est_ok"))
  }

  val heavyHittersOracle: String =
    s"""WITH $wrdsCte,
       |wf AS (
       |  SELECT word, count(*) AS c
       |  FROM (SELECT unnest(w) AS word FROM wrds)
       |  WHERE len(word) > 0 GROUP BY 1
       |),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM wf),
       |ranked AS (
       |  SELECT word, c, row_number() OVER (ORDER BY c DESC, word)
       |    AS rank
       |  FROM wf
       |)
       |SELECT r.word, r.c AS freq, CAST(r.rank AS INT) AS rank,
       |  true AS mg_captured, true AS est_ok
       |FROM ranked r CROSS JOIN tot t
       |WHERE r.c * ${MgK + 1} > t.n AND r.rank <= $MgTopRows""".stripMargin

  // ---- corpus n-gram heavy hitters ----

  private val TopNgramN = 2
  private val TopNgramK = 100

  def topkNgrams(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.topNgrams(docs(s, dir), n = TopNgramN, k = TopNgramK)

  /** Raw (non-distinct) bigrams; ties broken (count DESC, ngram ASC)
    * on both sides so the top-k SET is engine-independent. */
  val topkNgramsOracle: String =
    s"""WITH $wrdsCte,
       |rng AS (
       |  SELECT [array_to_string(w[i:i+${TopNgramN - 1}], ' ')
       |          for i in range(1, len(w)-${TopNgramN - 2})] AS ngrams
       |  FROM wrds WHERE len(w) >= $TopNgramN
       |)
       |SELECT ngram, count(*) AS n_occurrences
       |FROM (SELECT unnest(ngrams) AS ngram FROM rng)
       |GROUP BY 1
       |ORDER BY n_occurrences DESC, ngram ASC
       |LIMIT $TopNgramK""".stripMargin

  // ---- cross-document duplicated-n-gram fraction ----

  private val DupNgramN = 8

  def dupNgramFrac(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.dupNgramFrac(hashedCorpus(s, dir, DupNgramN))

  val dupNgramFracOracle: String =
    s"""WITH ${hashedCte(DupNgramN)},
       |dfreq AS (SELECT h, count(*) AS df FROM hashed GROUP BY 1)
       |SELECT doc_id, count(*) AS n_ngrams,
       |  count(CASE WHEN df >= 2 THEN 1 END) AS n_dup_ngrams,
       |  count(CASE WHEN df >= 2 THEN 1 END)::DOUBLE / count(*)
       |    AS dup_frac,
       |  (count(CASE WHEN df >= 2 THEN 1 END)::DOUBLE / count(*))
       |    <= 0.5 AS dup_ok
       |FROM hashed JOIN dfreq USING (h)
       |GROUP BY doc_id""".stripMargin

  // ---- exact substring dedup (Lee et al. 2022) ----

  /** LLM_SUBSTR_DEDUP: cross-doc repeated ≥k-token substring REMOVAL
    * ([[TextDedup.exactSubstrDedup]]) — the ExactSubstr technique of
    * Lee et al. 2022, next to the `llm_dup_ngram_frac` rate it
    * complements. k rides [[DupNgramN]] so the removal operates on
    * the exact n-gram space the duplication-rate entry measures.
    * Survivor text is exported as its sha256 (byte-exact gate without
    * shipping full texts through the comparator; the planted-span
    * spec pins the actual bytes). */
  def substrDedup(s: SparkSession, dir: String): DataFrame =
    TextDedup.exactSubstrDedup(docs(s, dir), k = DupNgramN)
      .select(col("doc_id"), col("n_tokens"), col("n_dup_starts"),
        col("n_removed"), sha2(col("cleaned"), 256).as("cleaned_sha"))

  val substrDedupOracle: String = {
    val k = DupNgramN
    s"""WITH $wrdsCte,
       |kg0 AS (
       |  SELECT doc_id,
       |    unnest([{'p': i, 'g': array_to_string(w[i:i+${k - 1}], ' ')}
       |            for i in range(1, len(w)-${k - 2})]) AS u
       |  FROM wrds WHERE len(w) >= $k
       |),
       |kgs AS (SELECT doc_id, u.p AS p, sha256(u.g) AS sha FROM kg0),
       |kg AS (SELECT doc_id, p, $duckHash60 AS h FROM kgs),
       |dup AS (SELECT h FROM kg GROUP BY h
       |        HAVING count(DISTINCT doc_id) >= 2),
       |st AS (
       |  SELECT doc_id, list_sort(list(DISTINCT p)) AS s
       |  FROM kg JOIN dup USING (h) GROUP BY doc_id
       |),
       |base AS (
       |  SELECT wrds.doc_id, wrds.w, coalesce(st.s, []) AS s
       |  FROM wrds LEFT JOIN st USING (doc_id)
       |),
       |clean AS (
       |  SELECT doc_id, len(w) AS n_tokens, len(s) AS n_dup_starts,
       |    [w[i] for i in range(1, len(w)+1)
       |     if len(list_filter(s, x -> x <= i AND i < x + $k)) = 0]
       |      AS kept
       |  FROM base
       |)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(n_dup_starts AS BIGINT) AS n_dup_starts,
       |  CAST(n_tokens - len(kept) AS BIGINT) AS n_removed,
       |  -- DuckDB array_to_string([]) is NULL (not ''): coalesce so a
       |  -- fully-removed doc hashes the empty string like Spark
       |  sha256(coalesce(array_to_string(kept, ' '), '')) AS cleaned_sha
       |FROM clean""".stripMargin
  }

  // ---- held-out n-gram novelty vs train ----

  /** LLM_NGRAM_NOVELTY: per held-out split (val/test), the share of
    * its distinct doc n-gram hashes unseen in ANY train doc — the
    * memorization-risk read on the llm_split_assign split (same seed
    * and percents, so "the split" is one split). */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramNovelty(
      hashedCorpus(s, dir, DupNgramN),
      TextAnalysis.splitAssign(docs(s, dir), CurationQueries.SplitSeed,
        CurationQueries.TrainPct, CurationQueries.ValPct))

  val ngramNoveltyOracle: String = {
    import graft.util.Parity.duckHex32
    val (seed, tr, va) = (CurationQueries.SplitSeed,
      CurationQueries.TrainPct, CurationQueries.ValPct)
    s"""WITH ${hashedCte(DupNgramN)},
       |k AS (
       |  SELECT doc_id,
       |    sha256('split:$seed:' || CAST(doc_id AS VARCHAR)) AS sha
       |  FROM documents
       |),
       |sp AS (
       |  SELECT doc_id,
       |    CASE WHEN pct < $tr THEN 'train'
       |         WHEN pct < ${tr + va} THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT doc_id, CAST(${duckHex32("sha")} % 100 AS INT)
       |          AS pct FROM k)
       |),
       |post AS (
       |  SELECT h.doc_id, s.split, h.h
       |  FROM hashed h JOIN sp s USING (doc_id)
       |),
       |tr AS (SELECT DISTINCT h FROM post WHERE split = 'train')
       |SELECT p.split, count(DISTINCT p.doc_id) AS n_docs,
       |  count(*) AS n_ngrams,
       |  count(CASE WHEN t.h IS NULL THEN 1 END) AS n_novel,
       |  count(CASE WHEN t.h IS NULL THEN 1 END)::DOUBLE / count(*)
       |    AS novelty_rate
       |FROM post p LEFT JOIN tr t ON p.h = t.h
       |WHERE p.split <> 'train'
       |GROUP BY 1""".stripMargin
  }

  // ---- train/held-out unigram KL drift ----

  /** LLM_KL_DRIFT: add-one-smoothed unigram KL between train and each
    * held-out split in both directions ([[TextAnalysis.klDrift]]) —
    * the covariate-shift audit on the same deterministic split as
    * `llm_ngram_novelty`. */
  def klDrift(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.klDrift(docs(s, dir),
      TextAnalysis.splitAssign(docs(s, dir), CurationQueries.SplitSeed,
        CurationQueries.TrainPct, CurationQueries.ValPct))

  val klDriftOracle: String = {
    import graft.util.Parity.{duckDsum, duckHex32, duckRoundTo}
    import graft.operators.TextAnalysis.{klPExpr, klQExpr}
    val (seed, tr, va) = (CurationQueries.SplitSeed,
      CurationQueries.TrainPct, CurationQueries.ValPct)
    def block(sp: String) =
      s"""u_$sp AS (
         |  SELECT coalesce(e.c, 0) AS ce, coalesce(t.c, 0) AS ct
         |  FROM (SELECT w, c FROM counts WHERE split = '$sp') e
         |  FULL OUTER JOIN
         |    (SELECT w, c FROM counts WHERE split = 'train') t USING (w)
         |),
         |tot_$sp AS (
         |  SELECT sum(ce) AS ns, sum(ct) AS nt, count(*) AS v FROM u_$sp
         |),
         |term_$sp AS (
         |  SELECT v, ns, nt,
         |    ${duckRoundTo("q * ln(q / p)", 6)} AS tq,
         |    ${duckRoundTo("p * ln(p / q)", 6)} AS tp
         |  FROM (SELECT *, $klQExpr AS q, $klPExpr AS p
         |        FROM u_$sp, tot_$sp)
         |),
         |kl_$sp AS (
         |  SELECT '$sp' AS split, v AS n_vocab,
         |    CAST(ns AS BIGINT) AS n_tokens_eval,
         |    CAST(nt AS BIGINT) AS n_tokens_train,
         |    ${duckDsum("tq")} AS kl_eval_train,
         |    ${duckDsum("tp")} AS kl_train_eval
         |  FROM term_$sp GROUP BY 1, 2, 3, 4
         |)""".stripMargin
    s"""WITH $wrdsCte,
       |k AS (
       |  SELECT doc_id,
       |    sha256('split:$seed:' || CAST(doc_id AS VARCHAR)) AS sha
       |  FROM documents
       |),
       |sp AS (
       |  SELECT doc_id,
       |    CASE WHEN pct < $tr THEN 'train'
       |         WHEN pct < ${tr + va} THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT doc_id, CAST(${duckHex32("sha")} % 100 AS INT)
       |          AS pct FROM k)
       |),
       |tok AS (
       |  SELECT s.split, unnest(wr.w) AS word
       |  FROM wrds wr JOIN sp s USING (doc_id)
       |),
       |counts AS (
       |  SELECT split, word AS w, count(*) AS c FROM tok
       |  WHERE len(word) > 0 GROUP BY 1, 2
       |),
       |${block("val")},
       |${block("test")}
       |SELECT * FROM kl_val UNION ALL SELECT * FROM kl_test""".stripMargin
  }

  // ---- sliding context-window chunking ----

  private val ChunkTokens = 32L
  private val StrideTokens = 24L

  def chunkStride(s: SparkSession, dir: String): DataFrame = {
    val tokens = TextAnalysis.tokenCounts(docs(s, dir))
      .select(col("doc_id"), col("n_ws_tokens").cast("long").as("n_tokens"))
    TextAnalysis.chunkWithStride(tokens, ChunkTokens, StrideTokens)
      .select("doc_id", "n_tokens", "chunk_id", "tok_from", "tok_until",
        "n_in_chunk")
  }

  val chunkStrideOracle: String = {
    val (c, st) = (ChunkTokens, StrideTokens)
    s"""WITH $wrdsCte,
       |tok AS (SELECT doc_id, len(w) AS n_tokens FROM wrds),
       |x AS (
       |  SELECT *, unnest(range(0, CASE WHEN n_tokens <= $c THEN 1
       |    ELSE (n_tokens - ${c - st} - 1) // $st + 1 END)) AS chunk_id
       |  FROM tok WHERE n_tokens > 0
       |)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(chunk_id AS BIGINT) AS chunk_id,
       |  CAST(chunk_id * $st AS BIGINT) AS tok_from,
       |  CAST(least(chunk_id * $st + $c, n_tokens) AS BIGINT) AS tok_until,
       |  CAST(least(chunk_id * $st + $c, n_tokens) - chunk_id * $st
       |    AS BIGINT) AS n_in_chunk
       |FROM x""".stripMargin
  }

  // ---- per-document top-k TF-IDF terms ----

  private val TfidfK = 5

  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfTopTerms(docs(s, dir), k = TfidfK)

  /** tfidf quantized to 6 decimals BEFORE ranking on both sides, so
    * the rank order is engine-exact (Parity.roundTo contract). */
  val tfidfOracle: String =
    s"""WITH $wrdsCte,
       |tok AS (SELECT doc_id, unnest(w) AS word FROM wrds),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS nn FROM documents),
       |scored AS (
       |  SELECT doc_id, word, tf, df,
       |    ${graft.util.Parity.duckRoundTo(
        "tf * ln((nn + 1)::DOUBLE / (df + 1))", 6)} AS tfidf_q
       |  FROM tf JOIN dfreq USING (word), n
       |)
       |SELECT doc_id, word, tf, df, tfidf_q, rank FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY doc_id ORDER BY tfidf_q DESC, word ASC
       |  ) AS INT) AS rank
       |  FROM scored
       |) WHERE rank <= $TfidfK""".stripMargin

  // ---- per-source quality-percentile cut ----

  private val QualityKeepFrac = 0.5

  def qualityCut(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityPercentileCut(
      TextAnalysis.qualityScore(docs(s, dir)),
      col("stopword_ratio"), keepFrac = QualityKeepFrac)

  val qualityCutOracle: String = {
    val en = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
    s"""WITH $wrdsCte,
       |sw AS (
       |  SELECT doc_id,
       |    len(list_filter(w, x -> list_contains([$en], x)))::DOUBLE
       |      / greatest(len(w), 1) AS metric
       |  FROM wrds
       |),
       |j AS (
       |  SELECT d.doc_id, d.source, sw.metric
       |  FROM documents d JOIN sw USING (doc_id)
       |),
       |r AS (
       |  SELECT *, percent_rank() OVER (
       |    PARTITION BY source ORDER BY metric DESC, doc_id ASC
       |  ) AS pct_rank FROM j
       |)
       |SELECT doc_id, source, metric, pct_rank
       |FROM r WHERE pct_rank <= $QualityKeepFrac""".stripMargin
  }

  // ---- language-balanced resampling (temperature mix) ----

  def langBalance(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langBalancedSample(docs(s, dir))

  /** sqrt(min/n)*100 keep rate per language; sqrt and / are
    * correctly-rounded IEEE ops, so the percentage is bit-identical
    * across engines and the bucket filter can never straddle. */
  val langBalanceOracle: String =
    s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
       |m AS (SELECT min(n) AS mn FROM c),
       |r AS (
       |  SELECT lang, sqrt(CAST(mn AS DOUBLE) / CAST(n AS DOUBLE)) * 100.0
       |    AS keep_pct
       |  FROM c, m
       |),
       |h AS (
       |  SELECT doc_id, lang, sha256(CAST(doc_id AS VARCHAR)) AS sha
       |  FROM documents
       |),
       |b AS (SELECT doc_id, lang, $duckHash32 % 100 AS sample_bucket FROM h)
       |SELECT b.doc_id, b.lang, b.sample_bucket, r.keep_pct
       |FROM b JOIN r USING (lang)
       |WHERE sample_bucket < keep_pct""".stripMargin

  // ---- int8 embedding quantization ----

  def vecQuantize(s: SparkSession, dir: String): DataFrame =
    VectorOps.int8Quantize(emb(s, dir))

  /** Oracle mirror of [[VectorOps.int8Quantize]]: same left folds
    * (init 0.0 + x == x bitwise, so list_reduce's first-element init
    * matches Spark's aggregate seed), same round-half-away ties, same
    * zero-scale CASE. */
  val vecQuantizeOracle: String = {
    val q = (x: String) =>
      s"CASE WHEN scale = 0 THEN 0.0 ELSE round(($x)::DOUBLE / scale) END"
    val err = (x: String) => s"(($x)::DOUBLE - (${q(x)}) * scale)"
    s"""WITH base AS (
       |  SELECT vec_id, embedding AS v,
       |    list_reduce(list_transform(range(1, len(embedding) + 1),
       |      i -> abs(embedding[i]::DOUBLE)),
       |      (acc, x) -> greatest(acc, x)) / 127.0 AS scale
       |  FROM embeddings
       |)
       |SELECT vec_id, CAST(len(v) AS INT) AS n_dims, scale,
       |  CAST(${q("v[1]")} AS INT) AS q_first,
       |  CAST(${q("v[len(v)]")} AS INT) AS q_last,
       |  list_reduce(list_transform(range(1, len(v) + 1),
       |    i -> ${err("v[i]")} * ${err("v[i]")}),
       |    (acc, x) -> acc + x) / len(v) AS mse,
       |  list_reduce(list_transform(range(1, len(v) + 1),
       |    i -> abs(${err("v[i]")})),
       |    (acc, x) -> greatest(acc, x)) AS max_err
       |FROM base""".stripMargin
  }

  // ---- dataset card ----

  def datasetCard(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.datasetCard(docs(s, dir))

  val datasetCardOracle: String =
    s"""WITH base AS (
       |  SELECT doc_id, source, lang, n_chars,
       |    len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))
       |      AS nw,
       |    sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
       |  FROM documents
       |),
       |card AS (
       |  SELECT count(*) AS n_docs,
       |    count(DISTINCT source) AS n_sources,
       |    count(DISTINCT lang) AS n_langs,
       |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |    CAST(sum(nw) AS BIGINT) AS total_words,
       |    count(DISTINCT h) AS n_distinct_texts,
       |    1.0 - count(DISTINCT h)::DOUBLE / count(*) AS dup_rate,
       |    ${graft.util.Parity.duckDavg("nw")} AS mean_words
       |  FROM base
       |),
       |n AS (SELECT count(*) AS _n FROM base),
       |ent AS (
       |  SELECT ${graft.util.Parity.duckDsum(graft.util.Parity.duckRoundTo(
                 "-(c::DOUBLE / _n) * ln(c::DOUBLE / _n)", 6))}
       |    AS lang_entropy
       |  FROM (SELECT lang, count(*) AS c FROM base GROUP BY 1), n
       |)
       |SELECT * FROM card, ent""".stripMargin

  // ---- Kneser–Ney-smoothed bigram LM (top bigrams) ----

  def knBigrams(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.kneserNeyBigrams(docs(s, dir), k = 100)

  /** Every model input is an integer count; the probability is the
    * shared per-row IEEE chain [[graft.operators.TextAnalysis.knExpr]]
    * over pre-cast doubles — no float sums anywhere, so no
    * quantization is needed. */
  val knBigramsOracle: String =
    s"""WITH $wrdsCte,
       |pairs AS (
       |  SELECT w[i] AS w1, w[i + 1] AS w2
       |  FROM (SELECT w, unnest(range(1, len(w))) AS i
       |        FROM wrds WHERE len(w) >= 2)
       |),
       |bigc AS (SELECT w1, w2, count(*) AS cb FROM pairs GROUP BY 1, 2),
       |ctx AS (
       |  SELECT w1, CAST(sum(cb) AS BIGINT) AS cctx,
       |    count(*) AS n_follow
       |  FROM bigc GROUP BY 1
       |),
       |prec AS (SELECT w2, count(*) AS n_prec FROM bigc GROUP BY 1),
       |types AS (SELECT count(*) AS n_types FROM bigc),
       |scored AS (
       |  SELECT b.w1, b.w2, b.cb, c.cctx, c.n_follow, p.n_prec, t.n_types,
       |    CAST(b.cb AS DOUBLE) AS cbd, CAST(c.cctx AS DOUBLE) AS cctxd,
       |    CAST(c.n_follow AS DOUBLE) AS nfd,
       |    CAST(p.n_prec AS DOUBLE) AS npd,
       |    CAST(t.n_types AS DOUBLE) AS ttd
       |  FROM bigc b JOIN ctx c USING (w1) JOIN prec p USING (w2), types t
       |)
       |SELECT w1, w2, cb, cctx, n_follow, n_prec, n_types,
       |  ${graft.operators.TextAnalysis.knExpr} AS p_kn
       |FROM scored
       |ORDER BY cb DESC, w1, w2 LIMIT 100""".stripMargin

  // ---- padding-waste audit (power-of-two batching buckets) ----

  def padWaste(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.padWaste(docs(s, dir))

  val padWasteOracle: String = {
    val sizes = Iterator.iterate(16)(_ * 2).takeWhile(_ <= 2048).toSeq
    val bucketCase = sizes.init
      .map(s0 => s"WHEN n_tok <= $s0 THEN $s0")
      .mkString("CASE ", " ", s" ELSE ${sizes.last} END")
    s"""WITH $wrdsCte,
       |toks AS (
       |  SELECT CAST(len(w) AS BIGINT) AS n_tok FROM wrds
       |),
       |bucketed AS (
       |  SELECT n_tok, CAST($bucketCase AS BIGINT) AS bucket FROM toks
       |),
       |padded AS (
       |  SELECT bucket, n_tok,
       |    greatest(bucket - n_tok, 0) AS pad
       |  FROM bucketed
       |)
       |SELECT bucket, count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       |  CAST(sum(pad) AS BIGINT) AS total_padding,
       |  CAST(CAST(sum(pad) AS BIGINT) AS DOUBLE)
       |    / CAST(bucket * count(*) AS DOUBLE) AS pad_frac
       |FROM padded GROUP BY 1""".stripMargin
  }

  // ---- Zipf's-law fit over the vocabulary ----

  def zipfFit(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.zipfFit(docs(s, dir), topK = 500)

  val zipfFitOracle: String = {
    import graft.operators.{SpotCorr, TextAnalysis}
    def gate(e: String) =
      s"CAST(CAST(round(sum($e), 8) AS DECIMAL(22,8)) AS DOUBLE)"
    s"""WITH $wrdsCte,
       |tok AS (SELECT unnest(w) AS word FROM wrds),
       |counts AS (
       |  SELECT word, count(*) AS cnt FROM tok
       |  WHERE len(word) > 0 GROUP BY 1
       |),
       |ranked AS (
       |  SELECT cnt,
       |    row_number() OVER (ORDER BY cnt DESC, word) AS rnk,
       |    count(*) OVER () AS n_vocab
       |  FROM counts
       |),
       |quant AS (
       |  SELECT n_vocab,
       |    CAST(ln(CAST(rnk AS DOUBLE)) AS DECIMAL(12,6)) AS xq,
       |    CAST(ln(CAST(cnt AS DOUBLE)) AS DECIMAL(12,6)) AS yq
       |  FROM ranked WHERE rnk <= 500
       |),
       |aggd AS (
       |  SELECT n_vocab, count(*) AS n_fit,
       |    ${gate("xq")} AS sx, ${gate("yq")} AS sy,
       |    ${gate("xq * yq")} AS sxy,
       |    ${gate("xq * xq")} AS sxx, ${gate("yq * yq")} AS syy
       |  FROM quant GROUP BY 1
       |)
       |SELECT CAST(n_vocab AS BIGINT) AS n_vocab, n_fit,
       |  -(${SpotCorr.betaExpr}) AS alpha,
       |  ${TextAnalysis.zipfInterceptExpr} AS intercept,
       |  ${TextAnalysis.zipfR2Expr} AS r2
       |FROM (SELECT *, CAST(n_fit AS DOUBLE) AS nd FROM aggd)""".stripMargin
  }

  // ---- Heaps'-law vocabulary-growth fit ----

  def heapsFit(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.heapsFit(docs(s, dir), nBuckets = 10)

  val heapsFitOracle: String = {
    import graft.operators.{SpotCorr, TextAnalysis}
    def gate(e: String) =
      s"CAST(CAST(round(sum($e), 8) AS DECIMAL(22,8)) AS DOUBLE)"
    s"""WITH $wrdsCte,
       |mm AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
       |tokb AS (
       |  SELECT ((doc_id - lo) * 10) // (hi - lo + 1) AS b,
       |    CAST(sum(len(w)) AS BIGINT) AS toks
       |  FROM wrds, mm GROUP BY 1
       |),
       |tok AS (SELECT doc_id, unnest(w) AS word FROM wrds),
       |fw AS (
       |  SELECT word, min(doc_id) AS fd FROM tok
       |  WHERE len(word) > 0 GROUP BY 1
       |),
       |fb AS (
       |  SELECT ((fd - lo) * 10) // (hi - lo + 1) AS b,
       |    count(*) AS news
       |  FROM fw, mm GROUP BY 1
       |),
       |points AS (
       |  SELECT t.b,
       |    CAST(sum(t.toks) OVER w AS BIGINT) AS cum_tok,
       |    CAST(sum(coalesce(f.news, 0)) OVER w AS BIGINT) AS cum_vocab
       |  FROM tokb t LEFT JOIN fb f USING (b)
       |  WINDOW w AS (ORDER BY t.b
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |),
       |quant AS (
       |  SELECT cum_tok, cum_vocab,
       |    CAST(ln(CAST(cum_tok AS DOUBLE)) AS DECIMAL(12,6)) AS xq,
       |    CAST(ln(CAST(cum_vocab AS DOUBLE)) AS DECIMAL(12,6)) AS yq
       |  FROM points WHERE cum_tok > 0 AND cum_vocab > 0
       |),
       |aggd AS (
       |  SELECT count(*) AS n_points,
       |    max(cum_tok) AS n_tokens, max(cum_vocab) AS n_vocab,
       |    ${gate("xq")} AS sx, ${gate("yq")} AS sy,
       |    ${gate("xq * yq")} AS sxy,
       |    ${gate("xq * xq")} AS sxx, ${gate("yq * yq")} AS syy
       |  FROM quant
       |)
       |SELECT n_points, n_tokens, n_vocab,
       |  ${SpotCorr.betaExpr} AS heaps_beta,
       |  ${TextAnalysis.zipfInterceptExpr} AS ln_k,
       |  ${TextAnalysis.zipfR2Expr} AS r2
       |FROM (SELECT *, CAST(n_points AS DOUBLE) AS nd FROM aggd)"""
      .stripMargin
  }

  // ---- full winnowing fingerprints (MOSS) ----

  def winnowFps(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextDedup.winnow(docs(s, dir), k = 3, window = 4)

  val winnowOracle: String =
    s"""WITH $wrdsCte,
       |shg AS (
       |  SELECT doc_id,
       |    [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
       |      AS sh
       |  FROM wrds WHERE len(w) >= 3
       |),
       |un AS (
       |  SELECT doc_id, unnest(sh) AS s,
       |    unnest(range(1, len(sh) + 1)) AS pos
       |  FROM shg WHERE len(sh) >= 4
       |),
       |hx AS (SELECT doc_id, pos, sha256(s) AS sha FROM un),
       |hh AS (SELECT doc_id, pos, $duckHash32 AS h FROM hx),
       |arr AS (SELECT doc_id, list(h ORDER BY pos) AS hs FROM hh GROUP BY 1),
       |fp AS (
       |  SELECT doc_id, len(hs) AS n_grams,
       |    list_distinct([list_min(hs[i:i+3])
       |                   for i in range(1, len(hs)-2)]) AS fps
       |  FROM arr
       |)
       |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       |  CAST(len(fps) AS BIGINT) AS n_fingerprints,
       |  CAST(len(fps) AS DOUBLE) / CAST(n_grams - 3 AS DOUBLE) AS density,
       |  CAST(list_min(fps) AS BIGINT) AS min_fp
       |FROM fp""".stripMargin

  // ---- hash-width integrity audit ----

  def hashAudit(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextDedup.hashCollisionAudit(docs(s, dir))

  val hashAuditOracle: String =
    s"""WITH $wrdsCte,
       |vocab AS (SELECT DISTINCT unnest(w) AS word FROM wrds),
       |hx AS (
       |  SELECT sha256(word) AS sha FROM vocab WHERE len(word) > 0
       |),
       |hh AS (SELECT $duckHash32 AS h32, $duckHash60 AS h60 FROM hx)
       |SELECT count(*) AS n_vocab,
       |  count(DISTINCT h32) AS n_h32,
       |  count(DISTINCT h60) AS n_h60,
       |  count(*) - count(DISTINCT h32) AS collisions_32,
       |  count(*) - count(DISTINCT h60) AS collisions_60
       |FROM hh""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "llm_hash_audit" -> QueryDef(hashAudit _, hashAuditOracle),
    "llm_winnow" -> QueryDef(winnowFps _, winnowOracle),
    "llm_heaps_fit" -> QueryDef(heapsFit _, heapsFitOracle),
    "llm_zipf_fit" -> QueryDef(zipfFit _, zipfFitOracle),
    "llm_kn_bigram" -> QueryDef(knBigrams _, knBigramsOracle),
    "llm_pad_waste" -> QueryDef(padWaste _, padWasteOracle),
    "llm_canonical_pick" -> QueryDef(canonicalPick _, canonicalPickOracle),
    "llm_vec_quantize" -> QueryDef(vecQuantize _, vecQuantizeOracle),
    "llm_dataset_card" -> QueryDef(datasetCard _, datasetCardOracle),
    "llm_topk_ngrams" -> QueryDef(topkNgrams _, topkNgramsOracle),
    "llm_dup_ngram_frac" -> QueryDef(dupNgramFrac _, dupNgramFracOracle),
    "llm_substr_dedup" -> QueryDef(substrDedup _, substrDedupOracle),
    "llm_ngram_novelty" -> QueryDef(ngramNovelty _, ngramNoveltyOracle),
    "llm_kl_drift" -> QueryDef(klDrift _, klDriftOracle),
    "llm_lang_balance" -> QueryDef(langBalance _, langBalanceOracle),
    "llm_chunk_stride" -> QueryDef(chunkStride _, chunkStrideOracle),
    "llm_tfidf_topterms" -> QueryDef(tfidfTopTerms _, tfidfOracle),
    "llm_quality_cut" -> QueryDef(qualityCut _, qualityCutOracle),
    "llm_dedup_exact" -> QueryDef(dedupExact _, dedupExactOracle),
    "llm_minhash_neardup" -> QueryDef(minhashNearDups _, minhashOracle),
    "llm_dup_pagerank" -> QueryDef(dupPagerank _, dupPagerankOracle),
    "llm_incr_neardup" -> QueryDef(incrNeardup _, incrNeardupOracle),
    "llm_neardup_sources" -> QueryDef(neardupSources _, neardupSourcesOracle),
    "llm_neardup_curve" -> QueryDef(neardupCurve _, neardupCurveOracle),
    "llm_minhash_recall" -> QueryDef(minhashRecall _, minhashRecallOracle),
    "llm_ppjoin" -> QueryDef(ppjoin _, ppjoinOracle),
    "llm_dedup_clusters" -> QueryDef(dedupClusters _, dedupClustersOracle),
    "llm_dedup_report" -> QueryDef(dedupReport _, dedupReportOracle),
    "llm_ngram_jaccard" -> QueryDef(ngramJaccard _, ngramJaccardOracle),
    "llm_containment" -> QueryDef(containment _, containmentOracle),
    "llm_intrinsic_dim" -> QueryDef(intrinsicDim _, intrinsicDimOracle),
    "llm_simhash" -> QueryDef(simhash _, simhashOracle),
    "llm_simhash_pairs" -> QueryDef(simhashPairs _, simhashPairsOracle),
    "llm_fingerprint" -> QueryDef(fingerprint _, fingerprintOracle),
    "llm_token_count" -> QueryDef(tokenCount _, tokenCountOracle),
    "llm_quality_score" -> QueryDef(quality _, qualityOracle),
    "llm_gopher_rules" -> QueryDef(gopher _, gopherOracle),
    "llm_tok_fertility" -> QueryDef(tokFertility _, tokFertilityOracle),
    "llm_char_coverage" -> QueryDef(charCoverage _, charCoverageOracle),
    "llm_span_corrupt" -> QueryDef(spanCorrupt _, spanCorruptOracle),
    "llm_source_overlap" -> QueryDef(sourceOverlap _, sourceOverlapOracle),
    "llm_bpe_train" -> QueryDef(bpeTrain _, None),
    "llm_bpe_encode" -> QueryDef(bpeEncode _, None),
    "llm_unigram_train" -> QueryDef(unigramTrain _, None),
    "llm_unigram_encode" -> QueryDef(unigramEncode _, None),
    "llm_unigram_lossprune" -> QueryDef(unigramLossPrune _, None),
    "llm_unigram_softem" -> QueryDef(unigramSoftEm _, None),
    "llm_tok_compare" -> QueryDef(tokCompare _, None),
    "llm_repetition" -> QueryDef(repetition _, repetitionOracle),
    "llm_source_stats" -> QueryDef(sourceStats _, sourceStatsOracle),
    "llm_lang_id" -> QueryDef(langId _, langIdOracle),
    "llm_ann_topk" -> QueryDef(annTopK _, annTopKOracle),
    "llm_ann_filtered" -> QueryDef(annFiltered _, annFilteredOracle),
    "llm_mrl_recall" -> QueryDef(mrlRecall _, mrlRecallOracle),
    "llm_ann_bucketed" -> QueryDef(annBucketed _, annBucketedOracle),
    "llm_embed_neardup" -> QueryDef(embedNearDups _, embedNearDupsOracle),
    "llm_ann_ivf_trained" -> QueryDef(annIvfTrained _, None),
    "llm_ann_pq" -> QueryDef(annPq _, None),
    "llm_ann_ivfpq" -> QueryDef(annIvfPq _, None),
    "llm_ann_recall" -> QueryDef(annIvfRecall _, None),
    "llm_ann_recall_curve" -> QueryDef(annIvfRecallCurve _, None),
    "llm_heavy_hitters" -> QueryDef(heavyHitters _, heavyHittersOracle),
    "llm_decontaminate" -> QueryDef(decontaminate _, decontaminateOracle),
    "llm_decon_bloom" -> QueryDef(deconBloom _, decontaminateOracle),
    "llm_curation_e2e" -> QueryDef(curationE2e _, curationE2eOracle),
    "llm_embed_clusters" -> QueryDef(embedClusters _, embedClustersOracle),
    "llm_semdedup" -> QueryDef(semDedup _, None),
    "llm_cluster_metrics" -> QueryDef(clusterMetrics _, None),
    "llm_qual_classifier" -> QueryDef(qualClassifier _, None),
    "llm_calibration" -> QueryDef(calibration _, None),
    "llm_strat_sample" -> QueryDef(stratSample _, stratSampleOracle),
    "llm_weighted_sample" -> QueryDef(weightedSample _, weightedSampleOracle),
    "llm_unigram_logprob" -> QueryDef(unigramLogprob _, unigramLogprobOracle),
    "llm_bigram_logprob" -> QueryDef(bigramLogprob _, bigramLogprobOracle),
    "llm_perplexity_cut" -> QueryDef(perplexityCut _, perplexityCutOracle),
    "llm_pack_bins" -> QueryDef(packBins _, packBinsOracle))
}
