package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: language ID
  * (stopword/CJK heuristic), quality scoring (length / punctuation /
  * digit / stopword ratios), and token counting (whitespace + a
  * BPE-style pre-tokenizer regex).
  *
  * All computations are pure column expressions (whole-stage codegen,
  * no UDFs); every ratio divides by a guarded non-zero length. The
  * operators scan `documents` once each — no joins, no shuffles beyond
  * the final aggregate where one exists, so they scale linearly with
  * corpus size.
  */
object TextAnalysis {

  /** Tiny per-language function-word lexicons. Deliberately small and
    * inline: the point is the *operator shape* (distinct-token overlap
    * vs N lexicons in one pass), not lexical coverage. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "was", "that",
      "for", "it", "with", "as", "on", "be", "at", "by", "a", "an"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit",
      "ein", "eine", "zu", "den", "von", "auf", "im", "sich", "als"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un", "une", "est",
      "dans", "que", "pour", "qui", "sur", "pas", "au", "avec"),
    "es" -> Seq("el", "los", "las", "y", "que", "en", "un", "una",
      "es", "por", "con", "para", "del", "se", "no", "como"))

  /** BPE-style pre-tokenizer: letter runs, single digits, or single
    * non-alphanumeric non-space marks (the GPT-2 pre-tok family,
    * ASCII-simplified so Java and RE2 regex dialects agree). */
  val bpePattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\r]"

  /** Number of (possibly repeated) tokens present in `lexicon`. */
  def lexiconHits(wordsCol: Column, lexicon: Seq[String]): Column =
    size(filter(wordsCol, w => array_contains(
      array(lexicon.map(lit): _*), w)))

  /** Distinct-token overlap with `lexicon` (set intersection size). */
  def lexiconOverlap(wordsCol: Column, lexicon: Seq[String]): Column =
    size(array_intersect(array_distinct(wordsCol),
      array(lexicon.map(lit): _*)))

  /** Per-doc language scores + winner. CJK-ratio short-circuits to zh;
    * otherwise argmax of stopword overlaps with a fixed tie-break order
    * (en > de > fr > es, matching greatest-first CASE evaluation).
    * The distinct-words array is materialized once (wordShingles
    * contract in TextDedup: inline expressions inside HOF lambdas are
    * re-evaluated per element). */
  def langId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val w = col("_dw")
    val cjk = regexp_count(col(textCol), lit("[一-龥]"))
      .cast("double") / greatest(length(col(textCol)), lit(1))
    val scored = docs
      .withColumn("_dw", array_distinct(TextDedup.words(col(textCol))))
      .withColumn("cjk_ratio", cjk)
      .withColumn("s_en", lexiconOverlap(w, stopwords("en")))
      .withColumn("s_de", lexiconOverlap(w, stopwords("de")))
      .withColumn("s_fr", lexiconOverlap(w, stopwords("fr")))
      .withColumn("s_es", lexiconOverlap(w, stopwords("es")))
      .drop("_dw")
    val best = greatest(col("s_en"), col("s_de"), col("s_fr"), col("s_es"))
    scored.withColumn("predicted_lang",
      when(col("cjk_ratio") > 0.05, lit("zh"))
        .when(best === 0, lit("und"))
        .when(col("s_en") === best, lit("en"))
        .when(col("s_de") === best, lit("de"))
        .when(col("s_fr") === best, lit("fr"))
        .otherwise(lit("es")))
  }

  /** Per-doc quality metrics + keep flag. `avg_word_len` uses the
    * normalized single-spaced text: (chars - (n-1) spaces) / n. */
  def qualityScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val norm = col("_nt")
    val w = col("_w")
    val nWords = size(w)
    val len = greatest(length(t), lit(1)).cast("double")
    docs
      .withColumn("_nt", TextDedup.normText(t))
      .withColumn("_w", split(col("_nt"), " "))
      .withColumn("n_words", nWords)
      .withColumn("avg_word_len",
        (length(norm) - (nWords - lit(1))).cast("double") / nWords)
      .withColumn("punct_ratio",
        regexp_count(t, lit("[^A-Za-z0-9 \\t\\n\\r]")).cast("double") / len)
      .withColumn("digit_ratio",
        regexp_count(t, lit("[0-9]")).cast("double") / len)
      .withColumn("upper_ratio",
        regexp_count(t, lit("[A-Z]")).cast("double") / len)
      .withColumn("stopword_ratio",
        lexiconHits(w, stopwords("en")).cast("double") / greatest(nWords, lit(1)))
      .withColumn("quality_ok",
        nWords >= 5 && col("punct_ratio") < 0.3 && col("digit_ratio") < 0.3)
      .drop("_nt", "_w")
  }

  /** Per-doc token counts: whitespace tokens, BPE-style pre-tokens,
    * normalized char length. */
  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("_nt", TextDedup.normText(col(textCol)))
      .withColumn("n_ws_tokens", size(split(col("_nt"), " ")))
      .withColumn("n_bpe_tokens", regexp_count(col(textCol), lit(bpePattern)))
      .withColumn("n_chars_norm", length(col("_nt")))
      .drop("_nt")

  /** Word n-grams WITHOUT dedup — alias of the shared builder in
    * TextDedup so the two shingle forms cannot drift. */
  def rawShingles(wordsCol: Column, n: Int): Column =
    TextDedup.rawWordShingles(wordsCol, n)

  /** Repetition filters in the Gopher/MassiveText family, the standard
    * pre-training quality gate this engine's documents table feeds:
    *
    *  - `dup_line_frac`: repeated-occurrence fraction of non-blank
    *    lines, 1 - distinct/total (array ops, no shuffle);
    *  - `dup_10gram_frac`: same over word 10-grams — catches long
    *    templated spans exact-line dedup misses;
    *  - `top_bigram_frac`: occurrence share of the most frequent word
    *    bigram, the longest run in the doc's sorted bigram array (array
    *    ops, no shuffle);
    *  - `repetition_ok`: the conjunction gate (thresholds are the
    *    operator's parameters, defaults in the Gopher ballpark).
    *
    * All ratios are integer/integer divisions — bit-exact in any
    * engine. Divergence from the paper (documented): fractions count
    * repeated ITEMS, not characters inside repeated items. */
  def repetitionMetrics(docs: DataFrame, textCol: String = "text",
      maxDupLineFrac: Double = 0.3, maxTopBigramFrac: Double = 0.2,
      maxDup10gramFrac: Double = 0.5)
      : DataFrame = {
    val lines = col("_lines")
    val tengrams = col("_tg")
    docs
      .withColumn("_lines",
        filter(split(col(textCol), "\n"), l => length(trim(l)) > 0))
      .withColumn("_w", TextDedup.words(col(textCol)))
      .withColumn("_tg", rawShingles(col("_w"), 10))
      .withColumn("_bg", rawShingles(col("_w"), 2))
      .withColumn("n_lines", size(lines))
      .withColumn("dup_line_frac",
        when(size(lines) > 0,
          (size(lines) - size(array_distinct(lines))).cast("double")
            / size(lines)))
      .withColumn("dup_10gram_frac",
        when(size(tengrams) > 0,
          (size(tengrams) - size(array_distinct(tengrams))).cast("double")
            / size(tengrams)))
      .withColumn("n_bigrams", size(col("_bg")))
      // the top bigram's count: the longest run of equal bigrams in the
      // doc's sorted bigram array, one per-doc fold
      .withColumn("_top", aggregate(array_sort(col("_bg")),
        struct(lit(null).cast("string").as("p"), lit(0).as("c"),
          lit(0).as("m")),
        (acc, b) => {
          val c = when(b === acc("p"), acc("c") + 1).otherwise(lit(1))
          struct(b.as("p"), c.as("c"), greatest(acc("m"), c).as("m"))
        },
        acc => acc("m")))
      .withColumn("top_bigram_frac",
        when(col("n_bigrams") > 0,
          col("_top").cast("double") / col("n_bigrams")))
      .withColumn("repetition_ok",
        coalesce(col("dup_line_frac") <= maxDupLineFrac, lit(true)) &&
          coalesce(col("top_bigram_frac") <= maxTopBigramFrac, lit(true)) &&
          coalesce(col("dup_10gram_frac") <= maxDup10gramFrac, lit(true)))
      .drop("_lines", "_w", "_tg", "_bg", "_top")
  }

  /** The eight canonical Gopher stop words ("must contain at least 2
    * of …" — the MassiveText natural-language check). */
  val gopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Document-level Gopher/MassiveText quality rules — the canonical
    * pre-training document gate, complementing [[repetitionMetrics]]
    * (which covers the repetition half of the paper's appendix):
    * word-count bounds, mean-word-length band, symbol-to-word ratio
    * (hash + ellipsis), bullet-started and ellipsis-ended line
    * fractions, alphabetic-word fraction, and the ≥2-stop-words
    * natural-language check. Every ratio is integer/integer (or an
    * exact length difference over an integer) so the oracle matches
    * bit-for-bit; one narrow projection, no shuffle — at 100 TB this
    * is a map-only stage fused into whatever consumes the flags.
    *
    * Word rules run on the normalized (lowercased, space-collapsed)
    * text; line rules run on the RAW text (normalization collapses
    * newlines). Thresholds are parameters; defaults follow the paper
    * except `minWords`, sized to this corpus's short synthetic docs. */
  def gopherRules(docs: DataFrame, textCol: String = "text",
      minWords: Int = 40, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
      minStopHits: Int = 2): DataFrame = {
    val t = col(textCol)
    val w = col("_w")
    val lines = col("_lines")
    val nWords = col("n_words")
    val nLines = size(lines)
    docs
      .withColumn("_nt", TextDedup.normText(t))
      .withColumn("_w", split(col("_nt"), " "))
      .withColumn("_lines",
        filter(split(t, "\n"), l => length(trim(l)) > 0))
      .withColumn("n_words", size(w))
      .withColumn("mean_word_len",
        (length(col("_nt")) - (nWords - lit(1))).cast("double") / nWords)
      .withColumn("symbol_ratio",
        (regexp_count(t, lit("#")) + regexp_count(t, lit("\\.\\.\\.|…")))
          .cast("double") / nWords)
      .withColumn("n_lines", nLines)
      .withColumn("bullet_frac",
        when(nLines > 0,
          size(filter(lines, l => trim(l).rlike("^[-*•]")))
            .cast("double") / nLines).otherwise(lit(0.0)))
      .withColumn("ellipsis_frac",
        when(nLines > 0,
          size(filter(lines, l => trim(l).rlike("(\\.\\.\\.|…)$")))
            .cast("double") / nLines).otherwise(lit(0.0)))
      .withColumn("alpha_word_frac",
        size(filter(w, x => x.rlike("[a-z]"))).cast("double") / nWords)
      .withColumn("stop_hits",
        size(array_intersect(array_distinct(w),
          array(gopherStops.map(lit): _*))))
      .withColumn("gopher_ok",
        nWords.between(minWords, maxWords) &&
          col("mean_word_len").between(minMeanWordLen, maxMeanWordLen) &&
          col("symbol_ratio") <= maxSymbolRatio &&
          col("bullet_frac") <= maxBulletFrac &&
          col("ellipsis_frac") <= maxEllipsisFrac &&
          col("alpha_word_frac") >= minAlphaFrac &&
          col("stop_hits") >= minStopHits)
      .drop("_nt", "_w", "_lines")
  }

  /** Per-source corpus statistics — the "which crawl/feed is rotten"
    * roll-up every corpus triage starts with: document count, exact-
    * duplicate rate (docs whose normalized-text hash occurs >= 2 times
    * ANYWHERE in the corpus, charged to each source holding a copy),
    * and mean document length. One hash aggregate + a broadcast-sized
    * join of duplicated hashes. */
  def sourceStats(docs: DataFrame, textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    val hashed =
      docs.withColumn("_h", sha2(TextDedup.normText(col(textCol)), 256))
    val dupHashes = hashed.groupBy(col("_h"))
      .agg(count(lit(1)).as("_n")).filter(col("_n") >= 2)
      .select(col("_h"), lit(true).as("_dup"))
    hashed.join(dupHashes, Seq("_h"), "left")
      .groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("_dup"), lit(1))).as("n_dup_docs"),
        (count(when(col("_dup"), lit(1))).cast("double") / count(lit(1)))
          .as("dup_rate"),
        graft.util.Parity.davg(length(col(textCol))).as("mean_chars"))
  }

  /** Deterministic stratified sampling: each document is assigned a
    * stable bucket in [0, 100) from the sha256 of its id, and kept
    * iff bucket < its stratum's keep-rate percentage. Hash-based
    * (never `rand()`): the sample is reproducible across runs,
    * engines, and partitionings — resampling with a higher rate
    * yields a SUPERSET of the lower-rate sample (nested samples), the
    * property training-data ablations rely on. Pure map-side filter:
    * no shuffle, no state, any scale. */
  def sampleBucket(idCol: Column): Column =
    conv(substring(sha2(idCol.cast("string"), 256), 1, 8), 16, 10)
      .cast("long") % 100

  def stratifiedSample(docs: DataFrame, ratePct: Column,
      idCol: String = "doc_id"): DataFrame =
    docs
      .withColumn("sample_bucket", sampleBucket(col(idCol)))
      .withColumn("keep_rate", ratePct)
      .filter(col("sample_bucket") < col("keep_rate"))

  /** Efraimidis–Spirakis weighted sampling WITHOUT replacement
    * (A-Res, "Weighted random sampling with a reservoir", IPL 2006):
    * each row draws a deterministic uniform u from a seeded sha256 of
    * its id, gets the key ln(u)/w (order-equivalent to the paper's
    * u^(1/w) — larger weight ⇒ stochastically larger key), and the
    * global top-k by key IS an exact weighted-without-replacement
    * sample. Seeding by (seed, id) makes the draw a pure function —
    * reproducible across engines, partitionings and reruns, the same
    * contract as [[corpusShuffle]].
    *
    * Engine parity: u = (h32+1)/2^32 ∈ (0,1] is exact integer→double
    * arithmetic; ln and the divide are within-1-ulp ops whose
    * residual divergence the 9-dp key quantization absorbs, and equal
    * quantized keys tie-break by id. Scale shape: one map-side key
    * projection + TakeOrderedAndProject (per-partition top-k, k-row
    * driver merge) — no global sort, no shuffle of the corpus. */
  def weightedSample(docs: DataFrame, k: Int, seed: Long,
      weightCol: String = "n_chars", idCol: String = "doc_id")
      : DataFrame = {
    val sha = sha2(
      concat(lit(s"wsamp:$seed:"), col(idCol).cast("string")), 256)
    val h = conv(substring(sha, 1, 8), 16, 10).cast("long")
    val u = (h + lit(1L)).cast("double") / lit(4294967296.0)
    val key = graft.util.Parity.roundTo(
      log(u) / col(weightCol).cast("double"), 9)
    docs
      .filter(col(weightCol) > 0)
      .select(col(idCol), col("source"), col(weightCol).as("weight"),
        key.as("samp_key"))
      .orderBy(col("samp_key").desc, col(idCol))
      .limit(k)
  }

  /** Sequence packing with document splitting: documents are laid
    * out as one concatenated token stream per group (deterministic
    * order by id), and bins are the consecutive `budget`-token
    * windows of that stream — so every bin holds exactly `budget`
    * tokens (except the group's last) and a document crossing a bin
    * boundary emits one row per bin it overlaps, with its
    * doc-relative token sub-range [tok_from, tok_until). This is the
    * packing a training loader actually consumes; the prior
    * whole-doc next-fit overflowed its budget by up to a document at
    * each boundary. The prefix sum is a window partitioned by the
    * grouping column (shards/sources), so packing parallelizes
    * across groups and no global sort exists; the per-doc explode
    * emits ceil(n/budget)+1 rows at most. Integer token counts make
    * the cumulative arithmetic exact in any engine. */
  def packIntoBins(docTokens: DataFrame, budget: Long,
      idCol: String = "doc_id", groupCol: String = "source",
      tokensCol: String = "n_tokens"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val b = lit(budget)
    docTokens
      .withColumn("_p", coalesce(sum(col(tokensCol)).over(w), lit(0L)))
      .withColumn("bin_id", explode(sequence(
        floor(col("_p") / lit(budget.toDouble)).cast("long"),
        floor((col("_p") + greatest(col(tokensCol).cast("long"), lit(1L)) -
          lit(1L)) / lit(budget.toDouble)).cast("long"))))
      .withColumn("tok_from",
        greatest(col("_p"), col("bin_id") * b) - col("_p"))
      .withColumn("tok_until",
        least(col("_p") + col(tokensCol), (col("bin_id") + lit(1L)) * b) -
          col("_p"))
      .withColumn("n_in_bin", col("tok_until") - col("tok_from"))
      .drop("_p")
  }

  /** Corpus-wide n-gram heavy hitters: raw (non-deduped) word
    * n-grams exploded and counted, top `k` by (count DESC, ngram ASC)
    * — the deterministic tiebreak makes the boundary of the top-k set
    * engine-independent. Physical shape: explode → partial (map-side)
    * count → final count → TakeOrderedAndProject; the full ordered
    * result never materializes, only per-partition top-k heaps reach
    * the driver-side merge, so `k` bounds memory at any corpus size. */
  def topNgrams(docs: DataFrame, n: Int = 2, k: Int = 100,
      textCol: String = "text"): DataFrame =
    docs
      .select(TextDedup.words(col(textCol)).as("_w"))
      .filter(size(col("_w")) >= n)
      .select(explode(rawShingles(col("_w"), n)).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("ngram").asc)
      .limit(k)

  /** Cross-document duplicated-n-gram fraction — the corpus-level
    * twin of [[repetitionMetrics]]'s within-doc `dup_10gram_frac`:
    * for each doc, the share of its DISTINCT n-gram hashes that occur
    * in at least `minDf` documents corpus-wide. High values mark
    * boilerplate/templated docs whose content is massively shared
    * (the signal Dolma-style pipelines use for paragraph-level dedup;
    * with no newlines in this corpus the unit is the word n-gram).
    * Input is the hashed corpus (doc_id, distinct hash32 array) so
    * only 4-byte hashes — never shingle strings — cross the two
    * df/join shuffles, both keyed by the hash. */
  def dupNgramFrac(hashedCorpus: DataFrame, minDf: Int = 2,
      maxDupFrac: Double = 0.5, idCol: String = "doc_id",
      hashesCol: String = "hs"): DataFrame = {
    val posting =
      hashedCorpus.select(col(idCol), explode(col(hashesCol)).as("_h"))
    val dup = posting.groupBy(col("_h"))
      .agg(count(lit(1)).as("_df")).filter(col("_df") >= minDf)
      .select(col("_h"), lit(true).as("_dup"))
    posting.join(dup, Seq("_h"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_ngrams"),
        count(when(col("_dup"), lit(1))).as("n_dup_ngrams"),
        (count(when(col("_dup"), lit(1))).cast("double") / count(lit(1)))
          .as("dup_frac"))
      .withColumn("dup_ok", col("dup_frac") <= maxDupFrac)
  }

  /** Language-balanced resampling (temperature mixing at α = 0.5,
    * renormalized so the rarest language keeps 100%): language ℓ with
    * nℓ docs keeps at rate sqrt(min(n)/nℓ) — over-represented
    * languages are downsampled toward uniform, the standard
    * multilingual-pretraining mix. Membership is the same stable
    * sha-bucket as [[stratifiedSample]] (reproducible, nested across
    * reweightings). sqrt and division are correctly-rounded IEEE ops,
    * so the keep percentage is bit-identical in any engine — the
    * bucket comparison can never straddle engines. The per-language
    * count table is tiny and broadcast back onto the corpus: one
    * aggregate + a map-side join, no corpus shuffle. */
  def langBalancedSample(docs: DataFrame, langCol: String = "lang",
      idCol: String = "doc_id"): DataFrame = {
    // bounded-collect(one row per language): counts feeds BOTH the min
    // aggregate and the rates join, which then run no corpus scan
    val counts = graft.util.Caches.local(
      docs.groupBy(col(langCol)).agg(count(lit(1)).as("_n")))
    val minN = counts.agg(min(col("_n")).as("_mn"))
    val rates = counts.crossJoin(broadcast(minN))
      .select(col(langCol),
        (sqrt(col("_mn").cast("double") / col("_n").cast("double"))
          * lit(100.0)).as("keep_pct"))
    docs.join(broadcast(rates), Seq(langCol))
      .withColumn("sample_bucket", sampleBucket(col(idCol)))
      .filter(col("sample_bucket") < col("keep_pct"))
      .select(col(idCol), col(langCol), col("sample_bucket"),
        col("keep_pct"))
  }

  /** Per-document top-k TF-IDF terms — the classic keyword-extraction
    * / relevance-feature operator: tf from one doc-word aggregate, df
    * from a word-keyed roll-up of that same table, idf =
    * ln((N+1)/(df+1)) with the corpus size N broadcast as a one-row
    * aggregate, rank by (quantized tfidf DESC, word ASC) inside a
    * doc-partitioned window. Every shuffle is keyed by word or
    * doc_id; ranking never leaves the document partition, so no
    * global sort exists at any corpus size. The tfidf value is
    * quantized ([[graft.util.Parity.roundTo]]) BEFORE ranking so the
    * rank order — not just the emitted score — is engine-exact. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(TextDedup.words(col(textCol))).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("_n"))
    val scored = tf.join(dfreq, "word")
      .crossJoin(broadcast(n))
      .withColumn("tfidf_q", graft.util.Parity.roundTo(
        col("tf") * log((col("_n") + 1).cast("double") / (col("df") + 1)),
        6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("tfidf_q").desc, col("word").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("word"), col("tf"), col("df"),
        col("tfidf_q"), col("rank"))
  }

  /** Per-source quality-percentile cut — the FineWeb-style "keep the
    * best X% of each domain" relative filter (absolute thresholds
    * misfire when sources have different score distributions). Ranks
    * docs inside each source by a quality metric with a doc-id
    * tiebreak and keeps percent_rank <= keepFrac. The window is
    * source-partitioned — ranking parallelizes across sources and no
    * global sort exists. percent_rank = (rank-1)/(n-1) is integer
    * arithmetic in a double — bit-exact in any engine. */
  def qualityPercentileCut(docs: DataFrame, metric: Column,
      keepFrac: Double = 0.5, sourceCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol))
      .orderBy(metric.desc, col(idCol).asc)
    docs
      .withColumn("metric", metric)
      .withColumn("pct_rank", percent_rank().over(w))
      .filter(col("pct_rank") <= keepFrac)
      .select(col(idCol), col(sourceCol), col("metric"), col("pct_rank"))
  }

  /** Sliding context-window chunking with overlap — the
    * chunk-for-RAG / training-window twin of [[packIntoBins]]: chunk
    * c of a doc covers token range [c·stride, c·stride + chunk)
    * clipped to the doc, and chunks advance by `strideTokens` until
    * one reaches the doc's end (so every token is covered, chunks
    * overlap by chunk − stride tokens, and no trailing chunk is a
    * strict suffix of its predecessor). Pure map-side explode of
    * integer arithmetic: no shuffle, no state, each doc emits
    * ceil((n − chunk)/stride) + 1 rows independently of every other
    * doc — embarrassingly parallel at any corpus size. */
  def chunkWithStride(docTokens: DataFrame, chunkTokens: Long,
      strideTokens: Long, idCol: String = "doc_id",
      tokensCol: String = "n_tokens"): DataFrame = {
    require(strideTokens >= 1, "stride must be >= 1")
    require(chunkTokens >= strideTokens, "chunk must cover its stride")
    val n = col(tokensCol).cast("long")
    // integer ceil-div on longs (expr: Column./ is double division)
    val nChunks = when(n <= chunkTokens, lit(1L)).otherwise(
      expr(s"(cast($tokensCol as bigint) - ${chunkTokens - strideTokens}"
        + s" - 1) div $strideTokens + 1"))
    docTokens
      .filter(n > 0)
      .withColumn("chunk_id", explode(sequence(lit(0L), nChunks - 1)))
      .withColumn("tok_from", col("chunk_id") * strideTokens)
      .withColumn("tok_until", least(col("tok_from") + chunkTokens, n))
      .withColumn("n_in_chunk", col("tok_until") - col("tok_from"))
  }

  /** Unigram log-probability scoring — the perplexity-filter proxy of
    * CCNet-style pipelines: per document, the mean add-one-smoothed
    * corpus-unigram log-likelihood of its words. Low scores mark
    * gibberish / vocabulary-atypical text. Two hash aggregates (corpus
    * counts, per-doc mean) + one count-join, all keyed by word/doc —
    * nothing collects, any scale. Each word's log term is quantized
    * to 6 decimals before the order-free decimal sum ([[
    * graft.util.Parity.roundTo]]): JVM and glibc `ln` differ by <=1
    * ulp, so raw doubles could never hash-match across engines. */
  def unigramLogprob(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val tok = docs.select(col(idCol),
      explode(TextDedup.words(col(textCol))).as("word"))
    val counts = tok.groupBy(col("word")).agg(count(lit(1)).as("_c"))
    val totals = counts.agg(sum(col("_c")).as("_total"),
      count(lit(1)).as("_vocab"))
    tok.join(counts, "word")
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        graft.util.Parity.roundTo(
          log((col("_c") + 1) / (col("_total") + col("_vocab"))), 6)
          .as("_lp"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_words"),
        (graft.util.Parity.dsum(col("_lp")) / count(lit(1)))
          .as("avg_logprob"))
  }

  /** Interpolated bigram LM scoring — the LM-perplexity quality filter
    * (CCNet lineage) one order up from [[unigramLogprob]]: per
    * document, the mean log of P(w2|w1) = lambda * c(w1,w2)/c_ctx(w1)
    * + backoff * (c(w2)+1)/(total+vocab), where c_ctx is the
    * bigram-context count (so the ML term is a proper conditional) and
    * the backoff term is the same add-one unigram model. Callers pass
    * both interpolation weights explicitly — deriving backoff as
    * 1-lambda in code would bake a floating-point artifact
    * (1.0 - 0.7 != 0.3 in binary64) into the cross-engine contract.
    *
    * Scale shape: the log-probability is computed once per DISTINCT
    * bigram (the probs table — counts joined to counts, all equi-keyed
    * hash aggregates), so the corpus-sized pair stream shuffles ONCE,
    * for its (w1,w2) probability lookup; the naive form (join pairs to
    * three count tables) would shuffle the corpus three times. Log
    * terms are 6-decimal-quantized before the order-free decimal sum —
    * the same ln-parity contract as [[unigramLogprob]]. */
  def bigramLogprob(docs: DataFrame, lambda: Double = 0.7,
      backoff: Double = 0.3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // kept: the words feed the unigram and the pair branches, and
    // without it the plan scans the corpus 5 times (the audit's cap is 4)
    val base = graft.util.Caches.materialize(
      docs.select(col(idCol), TextDedup.words(col(textCol)).as("_w")))
    val tok = base.select(col(idCol), explode(col("_w")).as("word"))
    val uni = tok.groupBy(col("word")).agg(count(lit(1)).as("_cu"))
    val totals = uni.agg(sum(col("_cu")).as("_total"),
      count(lit(1)).as("_vocab"))
    val pairs = base.filter(size(col("_w")) >= 2)
      .select(col(idCol), explode(adjacentPairs(col("_w"))).as("_p"))
      .select(col(idCol), col("_p.w1").as("_w1"), col("_p.w2").as("_w2"))
    val bigc = pairs.groupBy(col("_w1"), col("_w2"))
      .agg(count(lit(1)).as("_cb"))
    val ctx = bigc.groupBy(col("_w1")).agg(sum(col("_cb")).as("_cctx"))
    val probs = bigc
      .join(ctx, "_w1")
      .join(uni.withColumnRenamed("word", "_w2"), "_w2")
      .crossJoin(broadcast(totals))
      .select(col("_w1"), col("_w2"), graft.util.Parity.roundTo(
        log(lit(lambda) * (col("_cb") / col("_cctx")) +
          lit(backoff) * ((col("_cu") + 1) /
            (col("_total") + col("_vocab")))), 6).as("_lp"))
    pairs.join(probs, Seq("_w1", "_w2"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        (graft.util.Parity.dsum(col("_lp")) / count(lit(1)))
          .as("avg_logprob"))
  }

  /** One-row corpus "dataset card" — the summary block a curation run
    * publishes with its output: volume (docs/chars/words), source and
    * language coverage, exact-duplicate rate, and language-balance
    * entropy. The per-doc projection (word count + text hash) feeds
    * both the global aggregate and the language-distribution entropy;
    * the entropy terms are
    * 6-decimal-quantized before the order-free decimal sum (ln parity,
    * same contract as [[unigramLogprob]]). Every aggregate is
    * map-side-combining; nothing collects. */
  def datasetCard(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val base = docs.select(col(idCol), col("source"), col("lang"),
      col("n_chars"), size(TextDedup.words(col(textCol))).as("_nw"),
      sha2(TextDedup.normText(col(textCol)), 256).as("_h"))
    val card = base.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum(col("n_chars")).as("total_chars"),
      sum(col("_nw")).as("total_words"),
      countDistinct(col("_h")).as("n_distinct_texts"),
      (lit(1.0) - countDistinct(col("_h")).cast("double") / count(lit(1)))
        .as("dup_rate"),
      graft.util.Parity.davg(col("_nw")).as("mean_words"))
    val n = base.agg(count(lit(1)).as("_n"))
    val p = col("_c").cast("double") / col("_n")
    val ent = base.groupBy(col("lang")).agg(count(lit(1)).as("_c"))
      .crossJoin(broadcast(n))
      .select(graft.util.Parity.roundTo(-p * log(p), 6).as("_t"))
      .agg(graft.util.Parity.dsum(col("_t")).as("lang_entropy"))
    card.crossJoin(broadcast(ent))
  }

  /** Deterministic global corpus shuffle for training-data ordering:
    * every document gets a seeded sha256 shuffle key, a shard (the
    * training-file granularity) from the key's top 32 bits, and its
    * position within the shard. The permutation is a pure function of
    * (seed, doc_id) — independent of input partitioning, cluster
    * size, and execution order — so a re-run, a resume, or a
    * different engine reproduces byte-identical training order (the
    * property data-ordering ablations and crash-recovery both need;
    * `rand()`-keyed shuffles have neither).
    *
    * Scale shape: ONE exchange, keyed by shard (the position
    * row_number never leaves its shard partition; there is no global
    * sort). sha keys are uniform, so shards are balanced within
    * O(sqrt) noise — no skew handling needed at any corpus size. The
    * production writer is `.repartition(nShards, $"shard")` +
    * `.sortWithinPartitions("shuffle_key")` + one file per shard;
    * this operator emits the assignment table that writer consumes. */
  def corpusShuffle(docs: DataFrame, seed: Long, nShards: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val key = sha2(
      concat(lit(s"shuffle:$seed:"), col(idCol).cast("string")), 256)
    val shard = (conv(substring(col("shuffle_key"), 1, 8), 16, 10)
      .cast("long") % nShards).cast("int")
    docs
      .select(col(idCol), key.as("shuffle_key"))
      .withColumn("shard", shard)
      .withColumn("pos_in_shard", row_number().over(
        Window.partitionBy(col("shard"))
          .orderBy(col("shuffle_key"), col(idCol))))
  }

  /** Temperature-based source mixture weights — the multilingual /
    * multi-domain sampling scheme (T5, XLM-R lineage): a source's
    * sampling weight is its token share raised to 1/T, here T = 2
    * (sqrt), renormalized. Rare sources are upsampled toward uniform,
    * dominant ones damped; expected_docs is the per-source draw count
    * a budget of `budgetDocs` documents implies. sqrt is a
    * correctly-rounded IEEE op (unlike pow, whose libm implementations
    * differ across engines), so weights are engine-exact given the
    * same integer token counts; the normalizing sum is an order-free
    * decimal sum of 6-decimal-quantized terms. One aggregate over the
    * corpus + arithmetic on the tiny per-source table — the corpus is
    * scanned once, nothing about the operator grows with corpus
    * size. */
  def temperatureMixture(docs: DataFrame, budgetDocs: Long,
      sourceCol: String = "source", charsCol: String = "n_chars")
      : DataFrame = {
    val perSource = docs.groupBy(col(sourceCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(col(charsCol)).as("n_chars"))
    val scaled = perSource.withColumn("_s",
      graft.util.Parity.roundTo(sqrt(col("n_chars").cast("double")), 6))
    val z = scaled.agg(graft.util.Parity.dsum(col("_s")).as("_z"))
    scaled.crossJoin(broadcast(z))
      .select(col(sourceCol), col("n_docs"), col("n_chars"),
        (col("_s") / col("_z")).as("mix_weight"),
        (col("_s") / col("_z") * lit(budgetDocs.toDouble))
          .as("expected_docs"))
  }

  /** Corpus-frequent span scrub — boilerplate removal at n-gram-span
    * granularity (the C4/CCNet "remove lines seen in many pages"
    * cleaning step, at word-span granularity since this corpus has no
    * line structure): any word n-gram appearing in >= `minDf` DISTINCT
    * documents is boilerplate, and every word covered by at least one
    * boilerplate span occurrence is dropped from the document.
    * Deterministic — no sampling, no ordering dependence (coverage is
    * a set union over span starts).
    *
    * Scale shape: the span stream (positions via posexplode —
    * occurrences, not the distinct-shingle set) feeds the df count
    * (map-side-combining aggregate on the span string) and the
    * dictionary join-back, which is an equi-key join, never
    * doc-pairwise. The two consumers deliberately RECOMPUTE the span
    * stream from the 2-column pruned source scan rather than cache
    * it: the explosion is ~n x corpus bytes, so a MEMORY_AND_DISK
    * barrier would spill the whole corpus several times over at
    * scale, while re-running split+posexplode over a columnar scan is
    * cheap CPU. Coverage collapses to a per-doc covered-index set
    * (collect_set of word indexes, bounded by doc length) and the
    * rebuild is a single indexed-lambda filter over the words array —
    * per-doc columnar work, no second corpus-wide shuffle. */
  def spanScrub(docs: DataFrame, n: Int, minDf: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(n >= 1 && minDf >= 2, "need n >= 1 and minDf >= 2")
    val base = docs.select(col(idCol),
      TextDedup.words(col(textCol)).as("_w"))
    val spans = base
      .filter(size(col("_w")) >= n)
      .select(col(idCol),
        posexplode(TextDedup.rawWordShingles(col("_w"), n))
          .as(Seq("_pos", "_g")))
    val boiler = spans.groupBy(col("_g"))
      .agg(countDistinct(col(idCol)).as("_df"))
      .filter(col("_df") >= minDf)
      .select(col("_g"))
    val covered = spans.join(boiler, "_g")
      .select(col(idCol),
        explode(sequence(col("_pos"), col("_pos") + lit(n - 1))).as("_i"))
      .groupBy(col(idCol)).agg(collect_set(col("_i")).as("_cov"))
    base.join(covered, Seq(idCol), "left")
      .withColumn("_cov", coalesce(col("_cov"), array()))
      .withColumn("_kept",
        filter(col("_w"), (w, i) => !array_contains(col("_cov"), i)))
      .select(col(idCol), size(col("_w")).as("n_words"),
        (size(col("_w")) - size(col("_kept"))).as("n_removed"),
        array_join(col("_kept"), " ").as("cleaned_text"))
  }

  /** Deterministic train/val/test split: the assignment is a pure
    * function of (seed, doc_id) via a seeded sha256 — reproducible
    * across runs, engines, cluster sizes, and input orderings, and
    * stable under corpus growth (a document never changes split when
    * other documents arrive — the property random-number splits
    * lack). Percent bucket = top-32-bits-of-sha mod 100; `train` is
    * [0, trainPct), `val` is [trainPct, trainPct+valPct), `test` the
    * rest. Pure per-row arithmetic: no shuffle, no state, linear at
    * any corpus size. */
  def splitAssign(docs: DataFrame, seed: Long, trainPct: Int, valPct: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      "percentages must fit in [0, 100]")
    val sha = sha2(
      concat(lit(s"split:$seed:"), col(idCol).cast("string")), 256)
    val pct = (conv(substring(sha, 1, 8), 16, 10).cast("long") % 100)
      .cast("int")
    docs.select(col(idCol), pct.as("split_pct"))
      .withColumn("split",
        when(col("split_pct") < trainPct, "train")
          .when(col("split_pct") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** T5/UL2-style span-corruption plan, deterministically seeded —
    * the masking pass a denoising-objective pipeline runs over every
    * document, stated as per-doc statistics (span starts, masked-word
    * count, mask fraction) so the plan is auditable and replayable.
    *
    * A word position starts a span when its (doc_id, pos) hash lands
    * under `startPct`%; the span covers 1 + (hash % 3) words; word i
    * is masked when any start within the trailing window reaches it
    * (three lag terms — span length is capped at 3). Everything is
    * integer hash arithmetic on (doc_id, pos) — word-independent, so
    * the mask is reproducible across reruns and restatable in SQL.
    *
    * Shape: posexplode + ONE doc-keyed window (lags + the aggregate
    * share the exchange); output is one row per doc. */
  def spanCorruptionStats(docs: DataFrame, startPct: Int = 15,
      textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val h = TextDedup.wordHash32(
      concat(col("doc_id").cast("string"), lit(":"),
        col("pos").cast("string")))
    def lagTerm(j: Int) =
      coalesce(lag(col("start"), j).over(w) &&
        lag(col("len"), j).over(w) > j, lit(false))
    docs
      .select(col("doc_id"),
        posexplode(TextDedup.words(col(textCol))).as(Seq("pos0", "word")))
      .withColumn("pos", col("pos0") + 1)
      .withColumn("h", h)
      .withColumn("start", col("h") % 100 < startPct)
      .withColumn("len", (col("h") % 3 + 1).cast("int"))
      .withColumn("masked",
        (col("start") && col("len") > 0) || lagTerm(1) || lagTerm(2))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        count(when(col("start"), 1)).as("n_starts"),
        count(when(col("masked"), 1)).as("n_masked"))
      .withColumn("mask_frac",
        col("n_masked").cast("double") / col("n_words").cast("double"))
  }

  /** Character-coverage table — the SentencePiece-style pre-tokenizer
    * audit (its `character_coverage` knob decides which tail chars
    * become UNK): per distinct character of the word stream, its
    * count, frequency rank and the cumulative corpus-coverage
    * fraction, truncated to the top `topK`.
    *
    * Scale shape: one corpus-sized shuffle collapses chars to the
    * ALPHABET-bounded frequency table (a few hundred rows for any
    * real corpus — Unicode itself caps it at ~150k); the rank/cumsum
    * windows and the global total run over that bounded table, so
    * their unpartitioned ordering is driver-cheap by construction,
    * not a per-row sort. */
  def charCoverage(docs: DataFrame, topK: Int = 64,
      textCol: String = "text"): DataFrame = {
    val counts = docs
      .select(explode(TextDedup.words(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .select(explode(split(col("w"), "")).as("ch"))
      .filter(length(col("ch")) > 0)
      .groupBy(col("ch"))
      .agg(count(lit(1)).as("cnt"))
    val ord = Window.orderBy(col("cnt").desc, col("ch"))
    counts
      .withColumn("rnk", row_number().over(ord).cast("long"))
      .withColumn("cum",
        sum(col("cnt")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy()))
      .filter(col("rnk") <= topK)
      .select(col("ch"), col("cnt"), col("rnk"),
        (col("cum").cast("double") / col("total").cast("double"))
          .as("cum_frac"))
  }

  /** Adjacent word pairs of a words array, as (w1, w2) structs. */
  private def adjacentPairs(w: Column): Column =
    zip_with(slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))

  /** The corpus bigram count table (w1, w2, `countCol`) that
    * [[kneserNeyBigrams]] and [[collocations]] both model: the pair
    * stream collapses to it in ONE corpus-sized shuffle. Each model
    * reads it four times (the table plus three aggregates over it)
    * through one plan, with no barrier: persisting it measured no
    * faster and no fewer jobs for either model. */
  private def bigramCounts(docs: DataFrame, textCol: String,
      countCol: String): DataFrame =
    docs.select(TextDedup.words(col(textCol)).as("_w"))
      .filter(size(col("_w")) >= 2)
      .select(explode(adjacentPairs(col("_w"))).as("_p"))
      .groupBy(col("_p.w1").as("w1"), col("_p.w2").as("w2"))
      .agg(count(lit(1)).as(countCol))

  /** Shared algebra for the Kneser–Ney probability over pre-cast
    * double columns (cbd = bigram count, cctxd = context total, nfd =
    * distinct continuations of w1, npd = distinct predecessors of w2,
    * ttd = total bigram types) — spelled verbatim in the DuckDB
    * oracle so both engines run the identical IEEE chain. */
  val knExpr: String =
    "greatest(cbd - 0.75, 0.0) / cctxd + 0.75 * nfd / cctxd * (npd / ttd)"

  /** Kneser–Ney-smoothed bigram probabilities (absolute discount
    * d = 0.75) for the corpus's top-`k` bigrams — the classic
    * n-gram-LM smoothing where the backoff weight is the CONTINUATION
    * probability N1+(·w₂)/|bigram types|, not raw frequency (Kneser &
    * Ney 1995; the SRILM formulation).
    *
    * Scale shape: the corpus pair stream collapses to the distinct-
    * bigram count table in ONE corpus-sized shuffle; context totals,
    * continuation counts and predecessor counts are hash aggregates
    * OF that table (bigram-type-sized); the single global total is a
    * one-row broadcast. Final ranking is top-k (TakeOrdered — no
    * global sort materializes). All model inputs are integers; the
    * probability is a per-row exactly-rounded IEEE chain — no
    * cross-row float sums anywhere. */
  def kneserNeyBigrams(docs: DataFrame, k: Int = 100,
      textCol: String = "text"): DataFrame = {
    val bigc = bigramCounts(docs, textCol, "cb")
    val ctx = bigc.groupBy(col("w1"))
      .agg(sum(col("cb")).as("cctx"), count(lit(1)).as("n_follow"))
    val prec = bigc.groupBy(col("w2")).agg(count(lit(1)).as("n_prec"))
    val types = bigc.agg(count(lit(1)).as("n_types"))
    bigc
      .join(ctx, "w1")
      .join(prec, "w2")
      .crossJoin(broadcast(types))
      .withColumn("cbd", col("cb").cast("double"))
      .withColumn("cctxd", col("cctx").cast("double"))
      .withColumn("nfd", col("n_follow").cast("double"))
      .withColumn("npd", col("n_prec").cast("double"))
      .withColumn("ttd", col("n_types").cast("double"))
      .withColumn("p_kn", expr(knExpr))
      .select(col("w1"), col("w2"), col("cb"), col("cctx"),
        col("n_follow"), col("n_prec"), col("n_types"), col("p_kn"))
      .orderBy(col("cb").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Shared slope/intercept algebra for the log-log Zipf OLS —
    * spelled verbatim in the DuckDB oracle. Works over the SpotCorr
    * sum names (nd, sx, sy, sxy, sxx, syy): slope = β(y on x),
    * alpha = −slope, r² = corr². */
  val zipfInterceptExpr: String =
    s"(sy - (${SpotCorr.betaExpr}) * sx) / nd"

  /** r² with the variance product clamped at zero BEFORE the sqrt:
    * a degenerate axis (constant y — e.g. a saturated vocabulary in
    * the Heaps fit) makes the exact variance 0, and the 8-dp render
    * gate can land it at −ε, where DuckDB's sqrt ERRORS while
    * Spark's returns NaN. Clamped, both engines give sqrt(0) → the
    * nullif turns the ratio into NULL — the honest "undefined". */
  val zipfR2Expr: String = {
    val vprod = s"(${SpotCorr.varxExpr} * ${SpotCorr.varyExpr})"
    val corrSafe = s"${SpotCorr.covExpr} / nullif(sqrt(" +
      s"CASE WHEN $vprod < 0 THEN 0.0 ELSE $vprod END), 0.0)"
    s"($corrSafe) * ($corrSafe)"
  }

  /** Zipf's-law fit over the corpus word-frequency table: OLS of
    * ln(count) on ln(rank) for the top-`topK` words — the corpus
    * health check (natural text ⇒ alpha ≈ 1; synthetic/boilerplate
    * corpora bend the curve). One row out: vocab size, fitted alpha,
    * intercept, R².
    *
    * Scale shape: ONE corpus-sized shuffle collapses tokens to the
    * vocabulary table (Heaps-bounded, orders below the corpus); the
    * rank window and the OLS aggregate run over the top-K slice.
    * Exactness: ln terms are 6-dp-quantized (the ln-parity
    * contract), products built in pinned-scale DECIMAL(12,6)
    * arithmetic, sums rendered through a HALF-UP DECIMAL(22,8) gate
    * (all terms ≥ 0), final algebra shared verbatim. */
  def zipfFit(docs: DataFrame, topK: Int = 500,
      textCol: String = "text"): DataFrame = {
    val d6 = org.apache.spark.sql.types.DataTypes.createDecimalType(12, 6)
    val d22 = org.apache.spark.sql.types.DataTypes.createDecimalType(22, 8)
    val counts = docs
      .select(explode(TextDedup.words(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val ranked = counts
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("cnt").desc, col("w"))))
      .withColumn("n_vocab", count(lit(1)).over(Window.partitionBy()))
      .filter(col("rnk") <= topK)
      .withColumn("xq", log(col("rnk").cast("double")).cast(d6))
      .withColumn("yq", log(col("cnt").cast("double")).cast(d6))
    val dbl = (c: org.apache.spark.sql.Column) => c.cast(d22).cast("double")
    ranked
      .groupBy(col("n_vocab"))
      .agg(
        count(lit(1)).as("n_fit"),
        dbl(sum(col("xq"))).as("sx"),
        dbl(sum(col("yq"))).as("sy"),
        dbl(sum(col("xq") * col("yq"))).as("sxy"),
        dbl(sum(col("xq") * col("xq"))).as("sxx"),
        dbl(sum(col("yq") * col("yq"))).as("syy"))
      .withColumn("nd", col("n_fit").cast("double"))
      .withColumn("alpha", -expr(SpotCorr.betaExpr))
      .withColumn("intercept", expr(zipfInterceptExpr))
      .withColumn("r2", expr(zipfR2Expr))
      .select("n_vocab", "n_fit", "alpha", "intercept", "r2")
  }

  /** Heaps'-law fit — vocabulary growth V(n) ≈ K·n^β along the
    * doc-id ingest order, the companion diagnostic to [[zipfFit]]
    * (natural corpora: β ≈ 0.4–0.6; duplicated/boilerplate corpora
    * push β down). The corpus is cut into `nBuckets` equal doc-id
    * ranges; per checkpoint (bucket end) the cumulative token count
    * and cumulative vocabulary (words whose FIRST occurrence falls at
    * or before it) give the (n, V) curve; OLS of ln V on ln n fits
    * β and ln K.
    *
    * Scale shape: two corpus-sized aggregates — per-word min(doc_id)
    * (the first-occurrence table, vocab-sized) and per-bucket token
    * totals — plus prefix-sum windows over the `nBuckets`-row bucket
    * table. No running window ever orders the corpus; the bucket of a
    * row is a pure integer formula of (doc_id, min, max) from a
    * one-row broadcast. Exactness: counts are integers; the ln points
    * are 6-dp-quantized DECIMAL(12,6) with the zipf render gate. */
  def heapsFit(docs: DataFrame, nBuckets: Int = 10,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val d6 = org.apache.spark.sql.types.DataTypes.createDecimalType(12, 6)
    val d22 = org.apache.spark.sql.types.DataTypes.createDecimalType(22, 8)
    val base =
      docs.select(col(idCol).as("_id"), TextDedup.words(col(textCol)).as("_w"))
    val minmax = base.agg(min(col("_id")).as("_lo"), max(col("_id")).as("_hi"))
    def bucketOf(idc: org.apache.spark.sql.Column) =
      expr(s"((${idc.toString} - _lo) * $nBuckets) div (_hi - _lo + 1)")
    // per-bucket token totals
    val tokPerBucket = base
      .crossJoin(broadcast(minmax))
      .select(bucketOf(col("_id")).as("b"),
        size(col("_w")).cast("long").as("n_tok"))
      .groupBy(col("b")).agg(sum(col("n_tok")).as("toks"))
    // per-bucket first-occurrence counts
    val firstPerBucket = base
      .select(col("_id"), explode(col("_w")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(min(col("_id")).as("_fd"))
      .crossJoin(broadcast(minmax))
      .select(bucketOf(col("_fd")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("news"))
    val wCum = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val points = tokPerBucket.join(firstPerBucket, Seq("b"), "left")
      .withColumn("cum_tok", sum(col("toks")).over(wCum))
      .withColumn("cum_vocab", sum(coalesce(col("news"), lit(0L))).over(wCum))
      .filter(col("cum_tok") > 0 && col("cum_vocab") > 0)
      .withColumn("xq", log(col("cum_tok").cast("double")).cast(d6))
      .withColumn("yq", log(col("cum_vocab").cast("double")).cast(d6))
    val dbl = (c: org.apache.spark.sql.Column) => c.cast(d22).cast("double")
    points
      .agg(
        count(lit(1)).as("n_points"),
        max(col("cum_tok")).as("n_tokens"),
        max(col("cum_vocab")).as("n_vocab"),
        dbl(sum(col("xq"))).as("sx"),
        dbl(sum(col("yq"))).as("sy"),
        dbl(sum(col("xq") * col("yq"))).as("sxy"),
        dbl(sum(col("xq") * col("xq"))).as("sxx"),
        dbl(sum(col("yq") * col("yq"))).as("syy"))
      .withColumn("nd", col("n_points").cast("double"))
      .withColumn("heaps_beta", expr(SpotCorr.betaExpr))
      .withColumn("ln_k", expr(zipfInterceptExpr))
      .withColumn("r2", expr(zipfR2Expr))
      .select("n_points", "n_tokens", "n_vocab", "heaps_beta", "ln_k", "r2")
  }

  /** Power-of-two padding buckets for batch assembly: [16, maxLen]
    * by doubling. A CASE chain of integer comparisons — identical in
    * any engine, no log2/float anywhere. */
  def pow2Bucket(n: Column, maxLen: Int = 2048): Column = {
    val sizes = Iterator.iterate(16)(_ * 2).takeWhile(_ <= maxLen).toSeq
    sizes.init.foldRight(lit(sizes.last)) { (s, acc) =>
      when(n <= s, s).otherwise(acc)
    }
  }

  /** Padding-waste audit for fixed-shape batching: docs bucketed to
    * the next power-of-two sequence length; per bucket the doc
    * count, token total, padding total (bucket − tokens, 0 for
    * overflow docs that would be split) and the padding fraction of
    * the padded batch volume. ONE corpus-sized aggregate keyed by the
    * ≤9-value bucket column; everything is integer except the final
    * per-bucket division. */
  def padWaste(docs: DataFrame, maxLen: Int = 2048,
      textCol: String = "text"): DataFrame = {
    docs
      .select(size(TextDedup.words(col(textCol))).cast("long").as("n_tok"))
      .withColumn("bucket", pow2Bucket(col("n_tok"), maxLen).cast("long"))
      .withColumn("pad",
        greatest(col("bucket") - col("n_tok"), lit(0L)))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        sum(col("pad")).as("total_padding"))
      .withColumn("pad_frac",
        col("total_padding").cast("double")
          / (col("bucket") * col("n_docs")).cast("double"))
  }

  /** Train/val/test leakage audit — the check every split must pass
    * before anyone trains: exact-content duplicates that straddle a
    * split boundary leak evaluation answers into training. One
    * content-hash × split-count aggregate (corpus shuffled ONCE, on
    * the 32-byte hash), then a one-row reduce unpivoted into the
    * three leak channels. `n_leaked_docs` counts eval-side documents
    * whose normalized content also appears on the train (resp. val)
    * side — the number of rows to drop to clean the split. */
  def splitLeakage(docs: DataFrame, seed: Long, trainPct: Int,
      valPct: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val assigned = splitAssign(docs, seed, trainPct, valPct, idCol)
      .select(col(idCol), col("split"))
    val hashed = docs.select(col(idCol),
      sha2(TextDedup.normText(col(textCol)), 256).as("text_hash"))
    val perHash = hashed.join(assigned, idCol)
      .groupBy(col("text_hash"))
      .agg(
        count(when(col("split") === "train", 1)).as("n_tr"),
        count(when(col("split") === "val", 1)).as("n_va"),
        count(when(col("split") === "test", 1)).as("n_te"))
    perHash.agg(
      count(when(col("n_tr") > 0 && col("n_te") > 0, 1)).as("h_tt"),
      sum(when(col("n_tr") > 0, col("n_te")).otherwise(0L)).as("d_tt"),
      count(when(col("n_tr") > 0 && col("n_va") > 0, 1)).as("h_tv"),
      sum(when(col("n_tr") > 0, col("n_va")).otherwise(0L)).as("d_tv"),
      count(when(col("n_va") > 0 && col("n_te") > 0, 1)).as("h_vt"),
      sum(when(col("n_va") > 0, col("n_te")).otherwise(0L)).as("d_vt"))
      .select(expr(
        "stack(3, 'train->test', h_tt, d_tt, 'train->val', h_tv, d_tv, " +
          "'val->test', h_vt, d_vt) as " +
          "(channel, n_shared_hashes, n_leaked_docs)"))
  }

  /** N-gram novelty of the held-out splits vs train — the
    * memorization-risk read next to [[splitLeakage]]'s exact-dup
    * audit: for each of `val`/`test`, the fraction of its docs'
    * DISTINCT word-n-gram hashes that never occur in ANY train doc
    * (low novelty ⇒ the held-out loss is partly re-measuring
    * memorized train text even when no doc is an exact dup). Input is
    * the hashed corpus (doc_id, distinct hash32 array — the
    * llm_dup_ngram_frac representation) joined to the deterministic
    * [[splitAssign]] labels, so only 4-byte hashes cross the wire.
    *
    * Shape: one posting explode (it feeds both the train-set distinct
    * and the eval probe), a hash-keyed DISTINCT
    * over train postings, and a hash-keyed left join of the eval
    * postings against it — all equi-shuffles on the hash; output is
    * two rows. No corpus-sized collect, no cartesian. */
  def ngramNovelty(hashed: DataFrame, splits: DataFrame,
      idCol: String = "doc_id", hashesCol: String = "hs"): DataFrame = {
    val posting =
      hashed.join(splits.select(col(idCol), col("split")), Seq(idCol))
        .select(col(idCol), col("split"), explode(col(hashesCol)).as("_h"))
    val trainSet = posting.filter(col("split") === "train")
      .select(col("_h")).distinct()
      .withColumn("_seen", lit(true))
    posting.filter(col("split") =!= "train")
      .join(trainSet, Seq("_h"), "left")
      .groupBy(col("split"))
      .agg(
        countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_ngrams"),
        count(when(col("_seen").isNull, lit(1))).as("n_novel"),
        (count(when(col("_seen").isNull, lit(1))).cast("double") /
          count(lit(1))).as("novelty_rate"))
  }

  /** Unigram-distribution drift between train and each held-out
    * split — the covariate-shift audit next to [[ngramNovelty]]'s
    * memorization read: add-one-smoothed KL divergence in BOTH
    * directions over the union vocabulary of (train, split). High
    * KL(eval‖train) says the held-out loss is measured on text the
    * model never saw the like of; both near zero says the split is
    * distributionally clean. Terms are 6-dp-quantized before the
    * exact decimal sum (the entropy-family contract: the value is a
    * deterministic ≈, identical on both engines).
    *
    * Shape: ONE corpus-sized token shuffle collapses to the
    * (split, word) count table (Heaps-bounded); each eval split is a
    * vocab-sized full-outer join against the train counts plus a
    * one-row totals broadcast. Output = one row per eval split. */
  def klDrift(docs: DataFrame, splits: DataFrame,
      evalSplits: Seq[String] = Seq("val", "test"),
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // kept: each eval split reads the table twice and the train side
    // twice more; without it the plan scans the corpus 16 times (the
    // audit's cap is 4)
    val counts = graft.util.Caches.materialize(docs
      .join(splits.select(col(idCol), col("split")), Seq(idCol))
      .select(col("split"), explode(TextDedup.words(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("split"), col("w"))
      .agg(count(lit(1)).as("c")))
    val train = counts.filter(col("split") === "train")
      .select(col("w"), col("c").as("ct"))
    val frames = evalSplits.map { sp =>
      val ev = counts.filter(col("split") === sp)
        .select(col("w"), col("c").as("ce"))
      val u = ev.join(train, Seq("w"), "full_outer")
        .select(coalesce(col("ce"), lit(0L)).as("ce"),
          coalesce(col("ct"), lit(0L)).as("ct"))
      val tots = u.agg(sum(col("ce")).as("ns"), sum(col("ct")).as("nt"),
        count(lit(1)).as("v"))
      u.crossJoin(broadcast(tots))
        .withColumn("q", expr(klQExpr))
        .withColumn("p", expr(klPExpr))
        .select(col("v"), col("ns"), col("nt"),
          graft.util.Parity.roundTo(
            col("q") * log(col("q") / col("p")), 6).as("_tq"),
          graft.util.Parity.roundTo(
            col("p") * log(col("p") / col("q")), 6).as("_tp"))
        .groupBy(col("v"), col("ns"), col("nt"))
        .agg(graft.util.Parity.dsum(col("_tq")).as("kl_eval_train"),
          graft.util.Parity.dsum(col("_tp")).as("kl_train_eval"))
        .select(lit(sp).as("split"), col("v").as("n_vocab"),
          col("ns").as("n_tokens_eval"), col("nt").as("n_tokens_train"),
          col("kl_eval_train"), col("kl_train_eval"))
    }
    frames.reduce(_.unionByName(_))
  }

  /** Add-one smoothing over the union vocab — shared text with the
    * oracle (long + double literal promotes identically). */
  val klQExpr: String = "(ce + 1.0) / (ns + v)"
  val klPExpr: String = "(ct + 1.0) / (nt + v)"

  /** Collocation mining — top-k word bigrams by pointwise mutual
    * information over the bigram event space (PMI = ln(c_xy·N /
    * (c_x•·c_•y)) with marginals taken from the bigram table itself),
    * gated by a minimum pair count so rare-pair PMI noise never
    * surfaces. The standard collocation extractor (Church & Hanks
    * 1990) a corpus team runs before tokenizer/stopword decisions.
    *
    * Shape: one corpus-sized pair explode → (w1,w2) hash aggregate;
    * marginals are two aggregates OVER THE BIGRAM TABLE (Heaps-law
    * bounded, not corpus-sized); the one-row total broadcasts; top-k
    * is TakeOrderedAndProject (per-partition top-k + merge, no global
    * sort). Counts < 2^26 keep every double product exact at any
    * realistic corpus scale (c·N < 2^52).
    *
    * Exactness: integer counts; one ln per surviving pair,
    * 9-dp-quantized; ties on the rounded PMI break on (w1, w2). */
  def collocations(docs: DataFrame, minCount: Long = 5, k: Int = 50,
      textCol: String = "text"): DataFrame = {
    val bigc = bigramCounts(docs, textCol, "c_xy")
    val left = bigc.groupBy(col("w1")).agg(sum(col("c_xy")).as("c_x"))
    val right = bigc.groupBy(col("w2")).agg(sum(col("c_xy")).as("c_y"))
    val total = bigc.agg(sum(col("c_xy")).as("n_pairs"))
    val d = (c: Column) => c.cast("double")
    bigc
      .join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(total))
      .filter(col("c_xy") >= minCount)
      .withColumn("pmi", graft.util.Parity.roundTo(
        log((d(col("c_xy")) * d(col("n_pairs")))
          / (d(col("c_x")) * d(col("c_y")))), 9))
      .select("w1", "w2", "c_xy", "c_x", "c_y", "pmi")
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Per-source lexical diversity: vocabulary size, token count,
    * Shannon entropy of the word distribution (nats), its normalized
    * form H/ln(V), and the type-token ratio — the corpus-level
    * diversity panel data teams read before fixing mixture weights
    * (a low-entropy source is boilerplate; Shannon 1948 / Gopher's
    * diversity signals).
    *
    * Shape: ONE (source, word)-keyed corpus aggregate with map-side
    * partials, then a per-source reduce of the word-frequency table —
    * Heaps-law bounded, exactly the scale contract of the BPE/Zipf
    * operators. H = ln N − (Σ c·ln c)/N so the transcendental enters
    * ONE order-free decimal sum (c·ln c terms, 6-dp grid); outputs
    * on the 9-dp grid. */
  def lexicalEntropy(docs: DataFrame, textCol: String = "text",
      srcCol: String = "source"): DataFrame = {
    val wc = docs
      .select(col(srcCol), explode(TextDedup.words(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col(srcCol), col("word"))
      .agg(count(lit(1)).as("c"))
    val cd = col("c").cast("double")
    val nd = col("n_tokens").cast("double")
    wc.groupBy(col(srcCol))
      .agg(
        count(lit(1)).as("n_types"),
        sum(col("c")).as("n_tokens"),
        graft.util.Parity.dsum(cd * log(cd)).as("_s"))
      .withColumn("entropy",
        graft.util.Parity.roundTo(log(nd) - col("_s") / nd, 9))
      .withColumn("norm_entropy",
        graft.util.Parity.roundTo(
          (log(nd) - col("_s") / nd)
            / nullif(log(col("n_types").cast("double")), lit(0.0)), 9))
      .withColumn("ttr",
        col("n_types").cast("double") / nd)
      .select(srcCol, "n_types", "n_tokens", "entropy", "norm_entropy",
        "ttr")
  }
}
