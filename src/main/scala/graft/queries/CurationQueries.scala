package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{TextAnalysis, TextDedup, TextPii}
import graft.util.{Parity, Tables}

/** Training-data curation entries beyond the round-7 LLM family:
  * PII scrub/redaction, incremental snapshot-delta dedup,
  * deterministic corpus shuffling for training order, and
  * temperature-based source mixture weighting.
  *
  * The synthetic `documents` corpus contains no PII and no exact
  * duplicates, so the entries that need them PLANT them
  * deterministically — the same arithmetic-on-doc_id construction is
  * spelled on the Spark side and in the DuckDB oracle, so the
  * patterns/joins are genuinely exercised and still bit-verifiable
  * (zero-match regexes or an all-false join column would verify
  * nothing). */
object CurationQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ---- PII scrub (pii1/pii2) ----

  /** Deterministic PII planting: 2/3 of documents get one email, one
    * IPv4 and one phone number derived from doc_id appended; the rest
    * stay clean (the zero-count path must be exercised too). */
  private def injected: Column =
    when(col("doc_id") % 3 =!= 0,
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com from 10."), (col("doc_id") % 200).cast("string"),
        lit(".0."), (col("doc_id") % 250).cast("string"),
        lit(" or call +1 (202) 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(col("text"))

  /** NOTE: this fragment is embedded in oracles that call
    * `.stripMargin` on the assembled string, so no line here may
    * START with `|` — a leading `||` would lose its first char to the
    * outer stripMargin. Concatenation operators sit at line ends. */
  private val injCte =
    """inj AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 3 <> 0 THEN text ||
      |      ' contact user' || CAST(doc_id AS VARCHAR) ||
      |      '@example.com from 10.' || CAST(doc_id % 200 AS VARCHAR) ||
      |      '.0.' || CAST(doc_id % 250 AS VARCHAR) ||
      |      ' or call +1 (202) 555-' ||
      |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |    ELSE text END AS t
      |  FROM documents
      |)""".stripMargin

  private def duckRedact(t: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace($t,
       |      '${TextPii.emailPattern}', '[EMAIL]', 'g'),
       |      '${TextPii.ipv4Pattern}', '[IP]', 'g'),
       |      '${TextPii.phonePattern}', '[PHONE]', 'g')""".stripMargin

  /** pii1: per-document PII counts + redacted text. Pure projection —
    * one scan, zero shuffles, fully inside whole-stage codegen. */
  def pii1Scrub(s: SparkSession, dir: String): DataFrame =
    TextPii.scrub(
      docs(s, dir).select(col("doc_id"), injected.as("_t")), "_t")
      .select("doc_id", "n_emails", "n_ips", "n_phones", "redacted")

  val pii1Oracle: String =
    s"""WITH $injCte
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '${TextPii.emailPattern}')) AS INT)
       |    AS n_emails,
       |  CAST(len(regexp_extract_all(t, '${TextPii.ipv4Pattern}')) AS INT)
       |    AS n_ips,
       |  CAST(len(regexp_extract_all(t, '${TextPii.phonePattern}')) AS INT)
       |    AS n_phones,
       |  ${duckRedact("t")} AS redacted
       |FROM inj""".stripMargin

  /** pii2: per-source PII incidence + redaction volume — the
    * compliance dashboard roll-up. One scan + one hash aggregate. */
  def pii2SourceRates(s: SparkSession, dir: String): DataFrame =
    TextPii.scrub(
      docs(s, dir).select(col("doc_id"), col("source"), injected.as("_t")),
      "_t")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("n_emails") + col("n_ips") + col("n_phones") > 0,
          lit(1))).as("docs_with_pii"),
        sum(col("n_emails")).as("total_emails"),
        sum(col("n_ips")).as("total_ips"),
        sum(col("n_phones")).as("total_phones"),
        sum(length(col("_t")) - length(col("redacted"))).as("chars_removed"))

  val pii2Oracle: String =
    s"""WITH $injCte,
       |scr AS (
       |  SELECT source,
       |    len(regexp_extract_all(t, '${TextPii.emailPattern}')) AS ne,
       |    len(regexp_extract_all(t, '${TextPii.ipv4Pattern}')) AS ni,
       |    len(regexp_extract_all(t, '${TextPii.phonePattern}')) AS np,
       |    len(t) - len(${duckRedact("t")}) AS delta
       |  FROM inj
       |)
       |SELECT source, count(*) AS n_docs,
       |  count(CASE WHEN ne + ni + np > 0 THEN 1 END) AS docs_with_pii,
       |  CAST(sum(ne) AS BIGINT) AS total_emails,
       |  CAST(sum(ni) AS BIGINT) AS total_ips,
       |  CAST(sum(np) AS BIGINT) AS total_phones,
       |  CAST(sum(delta) AS BIGINT) AS chars_removed
       |FROM scr GROUP BY source""".stripMargin

  // ---- incremental snapshot-delta dedup ----

  /** Canonical planted-duplicate text: k in [0,7). Lowercase single
    * spaces, so normalization is the identity on it. */
  private def canonText(k: Column): Column =
    concat(lit("the quick brown fox "), k.cast("string"),
      lit(" jumped over the lazy dog"))

  private val canonSql =
    "'the quick brown fox ' || CAST(%s AS VARCHAR) || ' jumped over the lazy dog'"

  /** Snapshot = even docs + 7 canonical synthetic docs; batch = odd
    * docs, with every doc_id ≡ 1 (mod 10) rewritten to a canonical
    * text — so ~10% of the batch are exact duplicates of snapshot
    * rows and the rest are novel (the corpus itself has no exact
    * dups, see the object doc). */
  def incrDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val canon = s.range(7).select(
      (col("id") + 100000L).as("doc_id"), canonText(col("id")).as("text"))
    val snapshot = d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text")).union(canon)
    val batch = d.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 1, canonText(col("doc_id") % 7))
          .otherwise(col("text")).as("text"))
    TextDedup.incrementalDedup(batch, snapshot)
  }

  private val duckNorm =
    """sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))"""

  val incrDedupOracle: String =
    s"""WITH snap_raw AS (
       |  SELECT text FROM documents WHERE doc_id % 2 = 0
       |  UNION ALL
       |  SELECT ${canonSql.format("k")} AS text FROM range(7) t(k)
       |),
       |snap AS (SELECT DISTINCT $duckNorm AS h FROM snap_raw),
       |batch AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 10 = 1 THEN ${canonSql.format("doc_id % 7")}
       |    ELSE text END AS text
       |  FROM documents WHERE doc_id % 2 = 1
       |),
       |bh AS (SELECT doc_id, $duckNorm AS text_hash FROM batch)
       |SELECT b.doc_id, b.text_hash, (s.h IS NOT NULL) AS is_dup
       |FROM bh b LEFT JOIN snap s ON b.text_hash = s.h""".stripMargin

  // ---- deterministic corpus shuffle ----

  private val ShuffleSeed = 42L
  private val NShards = 16

  def corpusShuffle(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.corpusShuffle(docs(s, dir), ShuffleSeed, NShards)

  /** DuckDB twin of `conv(substring(hex, 1, 8), 16, 10)` — now the
    * shared [[graft.util.Parity.duckHex32]] spelling (ev22 uses the
    * same bucket assignment). */
  private def duckHex32(hexCol: String): String =
    graft.util.Parity.duckHex32(hexCol)

  val corpusShuffleOracle: String =
    s"""WITH k AS (
       |  SELECT doc_id,
       |    sha256('shuffle:$ShuffleSeed:' || CAST(doc_id AS VARCHAR)) AS sha
       |  FROM documents
       |),
       |s AS (
       |  SELECT doc_id, sha AS shuffle_key,
       |    CAST(${duckHex32("sha")} % $NShards AS INT) AS shard
       |  FROM k
       |)
       |SELECT doc_id, shuffle_key, shard,
       |  CAST(row_number() OVER (
       |    PARTITION BY shard ORDER BY shuffle_key, doc_id) AS INT)
       |    AS pos_in_shard
       |FROM s""".stripMargin

  // ---- temperature mixture weights ----

  private val MixBudget = 1000L

  def mixWeights(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.temperatureMixture(docs(s, dir), MixBudget)

  val mixWeightsOracle: String =
    s"""WITH ps AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS n_chars
       |  FROM documents GROUP BY 1
       |),
       |sc AS (
       |  SELECT source, n_docs, n_chars,
       |    ${Parity.duckRoundTo("sqrt(CAST(n_chars AS DOUBLE))", 6)} AS s
       |  FROM ps
       |),
       |z AS (SELECT ${Parity.duckDsum("s")} AS z FROM sc)
       |SELECT source, n_docs, n_chars, s / z AS mix_weight,
       |  s / z * ${MixBudget.toDouble} AS expected_docs
       |FROM sc, z""".stripMargin

  // ---- deterministic train/val/test split ----

  // shared with LlmQueries' novelty probe so "the split" is ONE split
  private[queries] val SplitSeed = 7L
  private[queries] val TrainPct = 90
  private[queries] val ValPct = 5

  def splitAssign(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.splitAssign(docs(s, dir), SplitSeed, TrainPct, ValPct)

  val splitAssignOracle: String =
    s"""WITH k AS (
       |  SELECT doc_id,
       |    sha256('split:$SplitSeed:' || CAST(doc_id AS VARCHAR)) AS sha
       |  FROM documents
       |),
       |p AS (
       |  SELECT doc_id,
       |    CAST(${duckHex32("sha")} % 100 AS INT) AS split_pct
       |  FROM k
       |)
       |SELECT doc_id, split_pct,
       |  CASE WHEN split_pct < $TrainPct THEN 'train'
       |       WHEN split_pct < ${TrainPct + ValPct} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM p""".stripMargin

  // ---- split-leakage audit (exact-dup contamination across splits) ----

  def splitLeakage(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.splitLeakage(docs(s, dir), SplitSeed, TrainPct, ValPct)

  val splitLeakageOracle: String =
    s"""WITH k AS (
       |  SELECT doc_id,
       |    sha256('split:$SplitSeed:' || CAST(doc_id AS VARCHAR)) AS sha
       |  FROM documents
       |),
       |sp AS (
       |  SELECT doc_id,
       |    CASE WHEN CAST(${duckHex32("sha")} % 100 AS INT) < $TrainPct
       |         THEN 'train'
       |         WHEN CAST(${duckHex32("sha")} % 100 AS INT)
       |           < ${TrainPct + ValPct} THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM k
       |),
       |hx AS (
       |  SELECT doc_id,
       |    sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
       |      AS text_hash
       |  FROM documents
       |),
       |ph AS (
       |  SELECT text_hash,
       |    count(CASE WHEN split = 'train' THEN 1 END) AS n_tr,
       |    count(CASE WHEN split = 'val' THEN 1 END) AS n_va,
       |    count(CASE WHEN split = 'test' THEN 1 END) AS n_te
       |  FROM hx JOIN sp USING (doc_id) GROUP BY 1
       |),
       |sm AS (
       |  SELECT
       |    count(CASE WHEN n_tr > 0 AND n_te > 0 THEN 1 END) AS h_tt,
       |    CAST(sum(CASE WHEN n_tr > 0 THEN n_te ELSE 0 END) AS BIGINT)
       |      AS d_tt,
       |    count(CASE WHEN n_tr > 0 AND n_va > 0 THEN 1 END) AS h_tv,
       |    CAST(sum(CASE WHEN n_tr > 0 THEN n_va ELSE 0 END) AS BIGINT)
       |      AS d_tv,
       |    count(CASE WHEN n_va > 0 AND n_te > 0 THEN 1 END) AS h_vt,
       |    CAST(sum(CASE WHEN n_va > 0 THEN n_te ELSE 0 END) AS BIGINT)
       |      AS d_vt
       |  FROM ph
       |)
       |SELECT 'train->test' AS channel, h_tt AS n_shared_hashes,
       |  d_tt AS n_leaked_docs FROM sm
       |UNION ALL
       |SELECT 'train->val', h_tv, d_tv FROM sm
       |UNION ALL
       |SELECT 'val->test', h_vt, d_vt FROM sm""".stripMargin

  // ---- corpus-frequent span scrub (boilerplate removal) ----

  private val SpanN = 5
  private val SpanMinDf = 2

  def spanScrub(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.spanScrub(docs(s, dir), SpanN, SpanMinDf)

  /** Full SQL recompute: span occurrences with positions, distinct-doc
    * df, covered word indexes (1-based here, 0-based Spark-side — the
    * +1 shift below), anti-join rebuild with order restored by word
    * index. The double-unnest in `toks` zips (DuckDB zips equal-length
    * unnests in one SELECT). */
  val spanScrubOracle: String =
    s"""WITH norm AS (
       |  SELECT doc_id,
       |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt
       |  FROM documents
       |),
       |wrds AS (SELECT doc_id, string_split(nt, ' ') AS w FROM norm),
       |posd AS (
       |  SELECT doc_id, w,
       |    unnest(range(1, greatest(len(w) - $SpanN + 2, 1))) AS p
       |  FROM wrds
       |),
       |spans AS (
       |  SELECT doc_id, p, array_to_string(w[p:p + $SpanN - 1], ' ') AS g
       |  FROM posd WHERE p + $SpanN - 1 <= len(w)
       |),
       |boiler AS (
       |  SELECT g FROM spans GROUP BY g
       |  HAVING count(DISTINCT doc_id) >= $SpanMinDf
       |),
       |cov AS (
       |  SELECT DISTINCT doc_id, widx FROM (
       |    SELECT s.doc_id, s.p + unnest(range(0, $SpanN)) AS widx
       |    FROM spans s JOIN boiler b USING (g)
       |  )
       |),
       |toks AS (
       |  SELECT doc_id, unnest(w) AS word,
       |    unnest(range(1, len(w) + 1)) AS widx
       |  FROM wrds
       |),
       |kept AS (
       |  SELECT t.doc_id, t.word, t.widx
       |  FROM toks t LEFT JOIN cov c
       |    ON c.doc_id = t.doc_id AND c.widx = t.widx
       |  WHERE c.doc_id IS NULL
       |),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
       |    string_agg(word, ' ' ORDER BY widx) AS cleaned
       |  FROM kept GROUP BY doc_id
       |)
       |SELECT w.doc_id, CAST(len(w.w) AS INT) AS n_words,
       |  CAST(len(w.w) - coalesce(a.n_kept, 0) AS INT) AS n_removed,
       |  coalesce(a.cleaned, '') AS cleaned_text
       |FROM wrds w LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** Multi-pattern blocklist audit via Aho–Corasick — one pass over
    * each document regardless of pattern count; the oracle runs the
    * docs × patterns cross join the automaton replaces (equal counts
    * because every pattern is borderless; see
    * [[graft.operators.BlocklistScan]]). */
  def blocklistAc(s: SparkSession, dir: String): DataFrame =
    graft.operators.BlocklistScan.audit(s, docs(s, dir))

  val blocklistAcOracle: String =
    graft.operators.BlocklistScan.duckAudit

  /** Blocked entity resolution (record linkage): fuzzy-match entity
    * names within blocking keys via edit distance — the Fellegi–
    * Sunter blocking pattern every large-scale data-integration
    * pipeline runs. ALL-pairs edit distance is O(n²) and dead at
    * 100 TB; blocking on (4-char prefix, name length) bounds
    * candidates to within-block pairs, and a block-width cap (4096,
    * same hygiene as MarketBasket's basket cap) bounds the worst
    * block quadratic at ~8M pairs — a single task's work. The
    * equi-join on the block key is the only shuffle; Spark's
    * codegen'd `levenshtein` (identical full-edit-distance semantics
    * to DuckDB's) runs inside the join's whole-stage pipeline.
    * Production variants refine with multi-pass blocking (several
    * keys, union) or string-LSH; the one-key skeleton here is the
    * verifiable core. */
  def erBlocking(s: SparkSession, dir: String): DataFrame = {
    // CANONICALIZE FIRST: fuzzy-match the DISTINCT name values, not
    // the entities — the step every production linker runs before
    // pairwise comparison. Entities sharing a spelling collapse into
    // one node with a count; the quadratic edit-distance work then
    // runs over the (vocabulary-bounded) distinct-value table and
    // entity-pair counts expand back arithmetically. The first cut
    // of this entry paired raw entities inside blocks and measured
    // 41x for 10x data at sf0.1 (67 s) — distinct-first brought it
    // to ~0.5 s and sublinear, because distinct names grow like the
    // vocabulary, not like the table.
    // snapshot: both blocking passes self-join this one table
    val names = graft.util.Caches.snapshot(
      Tables.load(s, dir, "part").groupBy(col("p_name"))
        .agg(count(lit(1)).as("cnt")))
    // two blocking passes over the distinct values: a single key
    // MISSES matches whose edit sits inside it ("cold ring"/"old
    // ring" differ in the prefix); multi-pass blocking unions
    // candidates — recall compounds, cost stays sum-of-blocks
    def pass(blk: Column): DataFrame = {
      val b = names.withColumn("blk", blk)
      val width = b.groupBy(col("blk")).agg(count(lit(1)).as("bw"))
      val kept = b.join(width.where(col("bw") <= 4096), "blk")
        .select(col("blk"), col("p_name"), col("cnt"))
      val l = kept.select(col("blk"), col("p_name").as("name_a"),
        col("cnt").as("cnt_a"))
      val r = kept.select(col("blk").as("blk_r"),
        col("p_name").as("name_b"), col("cnt").as("cnt_b"))
      l.join(r, col("blk") === col("blk_r") && col("name_a") < col("name_b"))
        .select(col("name_a"), col("name_b"), col("cnt_a"), col("cnt_b"))
    }
    val prefixKey = concat(substring(col("p_name"), 1, 4), lit("#"),
      length(col("p_name")).cast("string"))
    val lastWordKey = regexp_extract(col("p_name"), "[^ ]+$", 0)
    pass(prefixKey).unionAll(pass(lastWordKey))
      .distinct()
      // banded O(k·n) edit distance (codegen'd custom Expression) —
      // exact for dist <= k, sentinel k+1 beyond, so the 1..2 filter
      // sees identical values to full levenshtein at a fraction of
      // the DP work per candidate pair
      .withColumn("dist",
        graft.functions.BoundedLevenshtein(
          col("name_a"), col("name_b"), 2).cast("int"))
      .where(col("dist").between(1, 2))
      .groupBy(col("dist"))
      .agg(
        count(lit(1)).as("n_name_pairs"),
        sum(col("cnt_a") * col("cnt_b")).as("n_pairs"),
        sum(col("cnt_a")).as("n_left_entities"))
  }

  val erBlockingOracle: String = {
    def passSql(blkExpr: String, t: String): String =
      s"""$t AS (SELECT p_name, cnt, $blkExpr AS blk FROM nm),
         |${t}w AS (SELECT blk FROM $t GROUP BY blk
         |          HAVING count(*) <= 4096),
         |${t}p AS (
         |  SELECT a.p_name AS name_a, b.p_name AS name_b,
         |    a.cnt AS cnt_a, b.cnt AS cnt_b
         |  FROM ($t a JOIN ${t}w USING (blk))
         |  JOIN $t b ON a.blk = b.blk AND a.p_name < b.p_name)"""
        .stripMargin
    s"""WITH nm AS (
       |  SELECT p_name, count(*) AS cnt FROM part GROUP BY p_name),
       |${passSql("concat(substr(p_name, 1, 4), '#', CAST(length(p_name) AS VARCHAR))", "ba")},
       |${passSql("regexp_extract(p_name, '[^ ]+$$')", "bb")},
       |cand AS (
       |  SELECT DISTINCT name_a, name_b, cnt_a, cnt_b FROM
       |    (SELECT * FROM bap UNION ALL SELECT * FROM bbp)),
       |d AS (
       |  SELECT levenshtein(name_a, name_b) AS dist, cnt_a, cnt_b
       |  FROM cand)
       |SELECT dist, count(*) AS n_name_pairs,
       |  CAST(sum(cnt_a * cnt_b) AS BIGINT) AS n_pairs,
       |  CAST(sum(cnt_a) AS BIGINT) AS n_left_entities
       |FROM d WHERE dist BETWEEN 1 AND 2 GROUP BY dist""".stripMargin
  }

  /** Content-defined chunking audit ([[graft.operators.CdcChunking]]):
    * Gear-hash CDC vs fixed-size chunking on a corpus with a planted
    * shared passage behind varying prefixes — CDC's duplicate-chunk
    * fraction is high (shift-resistant boundaries), fixed-size stays
    * ~zero (one offset change slides every later block). */
  def cdcChunks(s: SparkSession, dir: String): DataFrame =
    graft.operators.CdcChunking.audit(docs(s, dir))

  val cdcChunksOracle: String =
    s"""WITH docs AS (SELECT doc_id, text FROM documents),
       |${graft.operators.CdcChunking.duckAudit()}""".stripMargin

  /** Chunk-level near-dup detection over the CDC digests
    * ([[graft.operators.CdcChunking.nearDup]]): docs sharing ≥2
    * content-defined chunks pair up regardless of passage offset —
    * the Lee et al. 2022 use of chunking for corpus dedup, with
    * df-capped postings bounding the quadratic pair expansion. */
  def cdcNearDup(s: SparkSession, dir: String): DataFrame =
    graft.operators.CdcChunking.nearDup(docs(s, dir))

  val cdcNearDupOracle: String =
    s"""WITH docs AS (SELECT doc_id, text FROM documents),
       |${graft.operators.CdcChunking.duckChunkCtes},
       |${graft.operators.CdcChunking.duckNearDup()}""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "llm_cdc_neardup" -> QueryDef(cdcNearDup _, cdcNearDupOracle),
    "llm_cdc_chunks" -> QueryDef(cdcChunks _, cdcChunksOracle),
    "llm_er_blocking" -> QueryDef(erBlocking _, erBlockingOracle),
    "llm_blocklist_ac" -> QueryDef(blocklistAc _, blocklistAcOracle),
    "pii1_scrub" -> QueryDef(pii1Scrub _, pii1Oracle),
    "pii2_source_rates" -> QueryDef(pii2SourceRates _, pii2Oracle),
    "llm_incr_dedup" -> QueryDef(incrDedup _, incrDedupOracle),
    "llm_corpus_shuffle" -> QueryDef(corpusShuffle _, corpusShuffleOracle),
    "llm_split_assign" -> QueryDef(splitAssign _, splitAssignOracle),
    "llm_split_leakage" -> QueryDef(splitLeakage _, splitLeakageOracle),
    "llm_span_scrub" -> QueryDef(spanScrub _, spanScrubOracle),
    "llm_mix_weights" -> QueryDef(mixWeights _, mixWeightsOracle))
}
