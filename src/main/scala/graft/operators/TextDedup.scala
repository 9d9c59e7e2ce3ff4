package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Caches

/** Deduplication operators for large-scale text corpora: exact
  * (hash-groupBy), MinHash+LSH near-dup (shingle → signature → band →
  * bucket-join → verify), SimHash, n-gram Jaccard, and winnowing-style
  * fingerprints.
  *
  * Design for 100 TB:
  *  - NO all-pairs comparison anywhere. Candidate generation is a
  *    shuffle keyed by (band index, band value); only same-bucket pairs
  *    are verified. The verify join fetches shingle sets by doc id
  *    (shuffle by id) rather than carrying arrays through the bucket
  *    join.
  *  - All hashing is columnar (sha2 / conv inside codegen) — sha256 as
  *    the shingle hash is deliberate: it is reproducible in any engine
  *    for oracle checks. A throughput-tuned deployment would swap in
  *    xxhash64 (also a Spark builtin) — one-line change, same plan.
  *  - minhash keeps the lexicographic MIN of the seeded hash per seed:
  *    a uniform random total order per seed, i.e. a valid minwise
  *    permutation family.
  */
object TextDedup {

  /** Canonical normalization: lowercase, trim, collapse whitespace. */
  def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  def words(c: Column): Column = split(normText(c), " ")

  /** Word n-grams WITH repeats (occurrence counts preserved — what
    * repetition metrics need); empty array when the doc is shorter
    * than n words.
    *
    * PERFORMANCE CONTRACT: `wordsCol` must be a *materialized column
    * attribute*, not an inline expression. Expressions referenced
    * inside a higher-order-function lambda are re-evaluated per
    * element — an inline `split(regexp_replace(...))` here re-runs the
    * whole normalization once per shingle position (measured 40x
    * slowdown). Use `shingleDocs` which stages the projections. */
  def rawWordShingles(wordsCol: Column, n: Int): Column =
    when(size(wordsCol) >= n,
      transform(
        sequence(lit(1), size(wordsCol) - (n - 1)),
        i => concat_ws(" ",
          (0 until n).map(j => element_at(wordsCol, i + lit(j))): _*)))
      .otherwise(array().cast("array<string>"))

  /** Distinct word n-grams (set-similarity form); same HOF contract
    * as [[rawWordShingles]], which it wraps. */
  def wordShingles(wordsCol: Column, n: Int): Column =
    array_distinct(rawWordShingles(wordsCol, n))

  /** (idCol, shingles) for docs with >= n words, with the words array
    * materialized in its own projection (see wordShingles contract)
    * and the emptiness filter applied to the cheap words column so
    * predicate pushdown never duplicates the shingle expression. */
  def shingleDocs(docs: DataFrame, n: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol), words(col(textCol)).as("_w"))
      .filter(size(col("_w")) >= n)
      .select(col(idCol), wordShingles(col("_w"), n).as("shingles"))

  /** Exact dedup: one row per normalized-text hash with the canonical
    * (minimum) doc id and the multiplicity. */
  def exactDedup(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs
      .withColumn("text_hash", sha2(normText(col(textCol)), 256))
      .groupBy(col("text_hash"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_copies"))

  /** Compact corpus hash index for incremental dedup: one DISTINCT
    * normalized-text sha256 per known document. 32 bytes/doc — three
    * orders of magnitude smaller than the corpus, so at 100 TB the
    * index is a few hundred GB that lives as its own parquet table,
    * refreshed by unioning each accepted batch's hashes (a cheap
    * distinct over already-hashed rows). Persist it bucketed by
    * `text_hash` (the x2 technique) and the per-batch probe join below
    * shuffles only the incoming batch, never the index. */
  def hashIndex(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(sha2(normText(col(textCol)), 256).as("text_hash")).distinct()

  /** Incremental (snapshot-delta) dedup: classify every document of a
    * NEW batch as an exact duplicate of the existing corpus snapshot
    * or novel, without re-deduplicating the snapshot itself — the
    * operation a rolling crawl runs on every increment, where
    * re-running [[exactDedup]] over snapshot+batch would re-shuffle
    * the full corpus for a 1% delta.
    *
    * Plan shape: batch rows carry only (id, 32-byte hash) into a
    * SHUFFLE_HASH left join against the distinct index — hash, not
    * sort-merge, because sorting a 100 TB batch side to probe a
    * lookup table is wasted work, and the index side (the smaller,
    * already-distinct build side) is what gets hashed. No broadcast:
    * at 10^10 known documents the index is far past broadcast range.
    * Spark's runtime bloom filter (demonstrated in x6) slots in front
    * of the exchange when the index side carries a selective filter;
    * with a full index the bloom would pass everything, so the
    * prefilter a production deployment adds is a per-batch-partition
    * probe of a PERSISTED bloom built once from the index — exactness
    * is unaffected either way because the join below re-confirms every
    * candidate. */
  def incrementalDedup(batch: DataFrame, snapshot: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val idx = hashIndex(snapshot, textCol).withColumn("_hit", lit(1))
    batch
      .select(col(idCol), sha2(normText(col(textCol)), 256).as("text_hash"))
      .join(idx.hint("shuffle_hash"), Seq("text_hash"), "left")
      .select(col(idCol), col("text_hash"),
        col("_hit").isNotNull.as("is_dup"))
  }

  /** Mersenne prime 2^31-1 and affine-permutation constants for the
    * minhash family. One strong 32-bit hash per shingle (sha256-based,
    * reproducible in any engine), then k cheap permutations
    * h -> (a*h + b) mod P. a*h stays below 2^63, so the arithmetic is
    * exact in any signed-64-bit engine — no overflow divergence. */
  val MinhashP = 2147483647L
  val MinhashA: Seq[Long] = Seq(1103515245L, 22695477L, 69069L, 214013L,
    1664525L, 134775813L, 1140671485L, 48271L, 65539L, 16807L,
    1226874159L, 279470273L)
  val MinhashB: Seq[Long] = Seq(12345L, 1L, 362437L, 2531011L,
    1013904223L, 3L, 12820163L, 7L, 11L, 17L, 23L, 29L)

  /** LSH bands: adjacent signature values concatenated in groups of
    * `rowsPerBand`. Two docs collide in a band iff all its minhashes
    * match — P(collide) = J^rowsPerBand per band, so 4 rows/band keeps
    * random pairs (J ~ 0.1) out of the candidate set while catching
    * true near-dups (J >= 0.8) with probability >= 1-(1-0.8^4)^3 ~ 0.8. */
  def bands(signature: Seq[Column], rowsPerBand: Int = 4): Seq[Column] =
    signature.grouped(rowsPerBand).map(g => concat_ws("|", g: _*)).toSeq

  /** Exact Jaccard of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Winnowing-style document fingerprint: minimum sha256 over word
    * 5-grams (a 1-permutation minhash). Pass a materialized 5-gram
    * shingle column (see wordShingles performance contract). */
  def fingerprint5(shinglesCol: Column): Column =
    array_min(transform(shinglesCol, x => sha2(x, 256)))

  /** 32-bit word hash: first 8 hex chars of sha256, parsed. */
  def wordHash32(w: Column): Column =
    conv(substring(sha2(w, 256), 1, 8), 16, 10).cast("long")

  /** Hash-integrity audit: observed collision counts of the 32-bit
    * and 60-bit word hashes over the corpus vocabulary — the check
    * that tells you when a fingerprint width has been outgrown
    * (birthday regime: expect ~V²/2³³ at 32 bits, so a 100 TB-scale
    * vocabulary WILL collide there; the 60-bit hash is the headroom).
    * Distinct-word collapse (one corpus shuffle), then two distinct
    * counts over the vocabulary table. */
  def hashCollisionAudit(docs: DataFrame, textCol: String = "text")
      : DataFrame = {
    val vocab = docs
      .select(explode(words(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .distinct()
    vocab
      .select(wordHash32(col("w")).as("h32"),
        wordHash60(col("w")).as("h60"))
      .agg(
        count(lit(1)).as("n_vocab"),
        countDistinct(col("h32")).as("n_h32"),
        countDistinct(col("h60")).as("n_h60"))
      .withColumn("collisions_32", col("n_vocab") - col("n_h32"))
      .withColumn("collisions_60", col("n_vocab") - col("n_h60"))
  }

  /** Full winnowing (Schleimer/Wilkerson/Aiken 2003, the MOSS
    * algorithm): positional k-gram hashes → the minimum of every
    * length-`window` run → the distinct selected set is the doc's
    * fingerprint set. Guarantees any shared run of ≥ window+k−1 words
    * shares a fingerprint, at ~2/(window+1) selection density —
    * [[fingerprint5]] is the degenerate 1-fingerprint version.
    *
    * Per-doc array work only (no shuffle, no explode): positional
    * hashes with repeats via a transform over the shingle array, and
    * rolling minima via a transform over start positions. Emits per
    * doc the gram count, fingerprint count, selection density and
    * the set's minimum (a cheap doc signature). Docs shorter than
    * window+k−1 words are dropped (no full window exists). */
  /** Per-doc fingerprint SETS (the `_fps` array) — [[winnow]]'s
    * internals, exposed so the shared-run guarantee is testable. */
  def winnowSets(docs: DataFrame, k: Int, window: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), words(col(textCol)).as("_w"))
      // size(_sh) >= window ⟺ size(_w) >= window + k - 1, and the
      // filter MUST run on the cheap words column: a size(_sh)
      // predicate gets pushed below the projections and re-inlines
      // the whole normalize+shingle chain per row — measured 12.9 s
      // vs 0.35 s on the sf0.1 corpus (the shingleDocs contract)
      .filter(size(col("_w")) >= window + k - 1)
      .withColumn("_sh", rawWordShingles(col("_w"), k))
      .withColumn("_hs", transform(col("_sh"), s => wordHash32(s)))
      .withColumn("_fps", array_distinct(transform(
        sequence(lit(1), size(col("_hs")) - (window - 1)),
        i => array_min(slice(col("_hs"), i, lit(window))))))

  def winnow(docs: DataFrame, k: Int = 3, window: Int = 4,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    winnowSets(docs, k, window, textCol, idCol)
      .select(col(idCol),
        size(col("_hs")).cast("long").as("n_grams"),
        size(col("_fps")).cast("long").as("n_fingerprints"),
        (size(col("_fps")).cast("double")
          / (size(col("_hs")) - (window - 1)).cast("double"))
          .as("density"),
        array_min(col("_fps")).as("min_fp"))
  }

  /** SimHash width. 60 bits = 15 sha256 hex chars: wide enough that
    * 15-bit chunk buckets stay sparse (see [[simhashPairs]]), narrow
    * enough that every value and every sum of distinct bit terms stays
    * strictly below 2^63 — exact in signed-64 arithmetic in ANY engine
    * (a 64-bit simhash would overflow DuckDB's checked BIGINT '+'). */
  val SimhashBits = 60

  /** 60-bit word hash: first 15 hex chars of sha256, parsed. */
  def wordHash60(w: Column): Column =
    conv(substring(sha2(w, 256), 1, 15), 16, 10).cast("long")

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** MinHash/LSH near-duplicate pairs: corpus must carry (idCol, hs)
    * where `hs` is the distinct shingle-hash array (one
    * NgramHash32 pass — see TextHashExpr). Returns (id_a, id_b,
    * jaccard) with id_a < id_b and jaccard >= threshold; jaccard is
    * computed over the hash sets (collision probability ~ |S|²/2³³
    * per doc — immaterial, and the oracle mirrors the same sets).
    * Candidates come from [[BandJoin]] over the signature's bands. */
  def minhashNearDups(
      corpus: DataFrame,
      idCol: String = "doc_id",
      k: Int = 12,
      threshold: Double = 0.5): DataFrame =
    BandJoin.pairs(minhashSigned(corpus, k), None, idCol, minhashBands(k),
      verify = Some(jaccardAtLeast(threshold)))

  /** Incremental MinHash near-dup probe — the production contract for
    * a GROWING corpus: an arriving batch is banded and probed against
    * the EXISTING corpus's band index; old×old pairs are never
    * re-examined (that work was done when those docs arrived), so the
    * per-batch cost is batch-proportional, not corpus-proportional —
    * the near-dup twin of [[incrementalDedup]]'s exact-hash probe.
    * At 100 TB the old side's (band, key, id) index is a persisted
    * table maintained across batches; here it is rebuilt per call
    * (the probe JOIN is the contract under test). Emits
    * (id_new, id_old, jaccard ≥ threshold). */
  def minhashProbe(newDocs: DataFrame, oldDocs: DataFrame,
      idCol: String = "doc_id", k: Int = 12,
      threshold: Double = 0.5): DataFrame =
    BandJoin.pairs(minhashSigned(newDocs, k), Some(minhashSigned(oldDocs, k)),
      idCol, minhashBands(k), verify = Some(jaccardAtLeast(threshold)))
      .select(col("id_a").as("id_new"), col("id_b").as("id_old"),
        col("jaccard"))

  /** `df` with all k permutation minima of `hs` staged as `_sig`, in
    * ONE codegen'd traversal per doc (the k-lambda Column formulation
    * was the pipeline's measured hot spot at sf1), so the band keys
    * read the array instead of re-evaluating the kernel per band. */
  private def minhashSigned(df: DataFrame, k: Int): DataFrame =
    df.withColumn("_sig", graft.functions.TextHashColumns.minhashSigs(
      col("hs"), MinhashA.take(k), MinhashB.take(k), MinhashP))

  private def minhashBands(k: Int): Seq[Column] =
    bands((1 to k).map(s => element_at(col("_sig"), s)))

  private def jaccardAtLeast(threshold: Double) =
    BandJoin.Verify("hs", "jaccard", jaccard, _ >= threshold)

  /** n-gram Jaccard near-dups via an inverted index: explode shingles,
    * drop "stop-shingles" whose document frequency exceeds `maxDf`
    * (stopword removal for shingles — it both bounds the posting-list
    * self-join fan-out AND defines the similarity space), self-join on
    * the shingle, then compute Jaccard *by counting*:
    * |A∩B| = number of co-occurring postings (shingles are distinct per
    * doc), |A∪B| = |A| + |B| − |A∩B|, with sizes counted over the same
    * capped index. No shingle arrays ever cross a join and no distinct
    * pair-set is materialized — the whole verify is one count
    * aggregation over the posting join, which is what survives 100 TB. */
  def invertedIndexPairs(
      corpus: DataFrame,
      idCol: String = "doc_id",
      maxDf: Int = 20,
      threshold: Double = 0.3,
      tokensCol: String = "shingles"): DataFrame =
    postingCounts(corpus, idCol, maxDf, tokensCol)
      .select(col("id_a"), col("id_b"),
        (col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** The inverted-index kernel of [[invertedIndexPairs]] and
    * [[containmentPairs]]: (id_a, id_b, common, sz_a, sz_b) for every
    * pair id_a < id_b sharing a posting of df ≤ `maxDf`, where common
    * counts the shared postings and sz the doc's postings in the same
    * capped index.
    *
    * NOTE (r20, measured): Caches.widen ahead of the explode was
    * tried and REVERTED — the corpus here carries PRE-HASHED int
    * arrays (cheap single-task explode), so the widening exchange
    * cost more than it saved (idle A/B: ngram 2.8 vs 3.1 s,
    * containment 3.2 vs 3.8 s). Contrast TextRetrieval's
    * string-shingle explode, where widen is a 2x win. */
  private def postingCounts(corpus: DataFrame, idCol: String, maxDf: Int,
      tokensCol: String): DataFrame = {
    val posting = corpus
      .select(col(idCol), explode(col(tokensCol)).as("shingle"))
    val rare = posting.groupBy(col("shingle"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf)
      .select(col("shingle"))
    // kept: pruned feeds sizes and both sides of the self-join, and
    // without it the plan scans the corpus 8 times (the audit's cap is 4)
    val pruned = Caches.materialize(posting.join(rare, "shingle"))
    val sizes = pruned.groupBy(col(idCol)).agg(count(lit(1)).as("_sz"))
    pruned.select(col(idCol).as("id_a"), col("shingle"))
      .join(pruned.select(col(idCol).as("id_b"), col("shingle")), "shingle")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.select(col(idCol).as("id_a"), col("_sz").as("sz_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("_sz").as("sz_b")), "id_b")
  }

  /** Exact substring dedup — the canonical LLM-curation technique of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"): REMOVE from every document each maximal span
    * whose ≥k-token substrings also appear in some OTHER document,
    * not just measure the duplication rate. The paper builds a
    * corpus-wide suffix array (sequential, memory-bound); the
    * distributed equivalent here is sorted k-gram postings:
    *
    *  1. positional k-grams: one posting (doc, pos, gram) per token
    *     position — corpus-linear, no all-pairs;
    *  2. duplicated grams: groupBy gram HAVING countDistinct(doc) ≥ 2
    *     (one shuffle keyed by gram; map-side partial aggregation);
    *  3. flagged starts: postings semi-joined to the duplicated-gram
    *     set (second shuffle on the same key);
    *  4. coverage: per doc, the union of [p, p+k) over flagged starts
    *     p — adjacent/overlapping flagged windows merge into maximal
    *     removed spans exactly as in the paper (a span of m ≥ k
    *     shared tokens yields starts s..s+m−k whose union is
    *     precisely the span);
    *  5. survivors: tokens at uncovered positions, rejoined — all
    *     per-doc HOF work (no shuffle), O(tokens × flagged-starts)
    *     worst case per doc.
    *
    * Grams are raw normalized strings so an independent SQL engine
    * can re-derive the pipeline bit-exactly; at 100 TB the join key
    * becomes a 128-bit hash (shuffle bytes drop ~k×, collision odds
    * are negligible, and a collision only over-removes one window).
    * Occurrences are removed from BOTH sides of a duplicate (all
    * copies), matching the paper; within-doc-only repeats are NOT
    * removed (the cross-doc rule this engine's curation layer wants).
    *
    * Output: (idCol, n_tokens, n_dup_starts, n_removed, cleaned) with
    * cleaned = the surviving tokens rejoined with single spaces
    * (normalized text, byte-exact — pinned by spec on planted spans).
    * Docs shorter than k tokens pass through untouched. */
  def exactSubstrDedup(
      docs: DataFrame,
      k: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // tokens staged per the HOF contract; the grams are built INSIDE
    // the posexplode: over a `_g` attribute, Catalyst would infer
    // size(_g) > 0, push it below the projection and re-inline the word
    // split into the gram lambda per element (measured 13x)
    val staged = docs.select(col(idCol), words(col(textCol)).as("_w"))
    // grams join on their 60-bit sha hash, not the raw ≥k-token
    // string: the k-gram text is ~50 bytes and crosses TWO shuffles
    // (dup-gram aggregate + flag join) at one posting per token —
    // the round-13 sf1 decade measured the raw-string spelling at 31×
    // for 10× data, almost all of it shuffle bytes. 60-bit collisions
    // are negligible (and a collision only over-removes one window);
    // the oracle hashes identically so parity is unaffected.
    val posGram = staged
      .select(col(idCol),
        posexplode(rawWordShingles(col("_w"), k)).as(Seq("_p0", "g")))
      .select(col(idCol), (col("_p0") + 1).as("p"),
        wordHash60(col("g")).as("h"))
    val dupGrams = posGram.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("_nd"))
      .filter(col("_nd") >= 2)
      .select(col("h"))
    // flagged starts per doc, sorted — bounded by the doc's own token
    // count (a per-doc executor-side array, never driver rows)
    val starts = posGram.join(dupGrams, "h")
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("p"))).as("_s"))
    staged.join(starts, Seq(idCol), "left")
      .select(col(idCol), col("_w"),
        coalesce(col("_s"), array().cast("array<int>")).as("_s"))
      .withColumn("_kept",
        filter(
          sequence(lit(1), size(col("_w"))),
          i => !exists(col("_s"), s => s <= i && i < s + lit(k))))
      .select(
        col(idCol),
        size(col("_w")).cast("long").as("n_tokens"),
        size(col("_s")).cast("long").as("n_dup_starts"),
        (size(col("_w")) - size(col("_kept"))).cast("long")
          .as("n_removed"),
        concat_ws(" ",
          transform(col("_kept"), i => element_at(col("_w"), i)))
          .as("cleaned"))
  }

  /** Asymmetric n-gram CONTAINMENT pairs — the sub-document dup read
    * Jaccard misses: a short doc quoted whole inside a long one has
    * tiny Jaccard (the union is long-doc-sized) but containment
    * C(A,B) = |A∩B|/|A| ≈ 1. Emits, per candidate pair above the
    * max-containment threshold, both directed containments plus the
    * dominant direction (Broder's resemblance-vs-containment split,
    * the dedup literature's standard pairing). One select over the
    * same [[postingCounts]] kernel as [[invertedIndexPairs]]: the
    * candidates, df cap and scale story (posting equi-joins, no
    * all-pairs) are shared, only the similarity algebra differs. */
  def containmentPairs(
      corpus: DataFrame,
      idCol: String = "doc_id",
      maxDf: Int = 20,
      threshold: Double = 0.9,
      tokensCol: String = "shingles"): DataFrame =
    postingCounts(corpus, idCol, maxDf, tokensCol)
      .select(col("id_a"), col("id_b"),
        (col("common").cast("double") / col("sz_a")).as("contain_a_in_b"),
        (col("common").cast("double") / col("sz_b")).as("contain_b_in_a"))
      .withColumn("containment",
        greatest(col("contain_a_in_b"), col("contain_b_in_a")))
      .filter(col("containment") >= threshold)

  /** EXACT all-pairs Jaccard similarity join via PREFIX FILTERING
    * (SSJoin/PPJoin, Chaudhuri et al. 2006 / Xiao et al. 2008) — the
    * complete pair set at `threshold`, WITHOUT the df cap
    * [[invertedIndexPairs]] needs and without its quadratic blowup on
    * frequent tokens. The theorem: under ANY fixed total token order,
    * two sets with |A∩B| >= c must share a token inside their first
    * (|X| − c + 1) tokens; jaccard >= t implies |A∩B| >= ceil(t·|X|)
    * for BOTH docs, so joining per-doc prefixes of length
    * |X| − ceil(t·|X|) + 1 is guaranteed-complete. Ordering tokens by
    * ASCENDING document frequency puts the frequent tokens (the ones
    * whose df² posting join explodes) in the suffixes, where they are
    * never joined — measured 8× over the uncapped posting join on the
    * sf0.1 corpus. Candidates verify by counting co-occurring
    * postings over the FULL (uncapped) index, so the jaccard is the
    * true set similarity. ceil(t·sz) runs as exact integer math
    * ((num·sz + den − 1) div den from the rational t = num/den) so
    * prefix boundaries are engine-identical.
    *
    * PRECONDITION (same as [[invertedIndexPairs]]): `tokensCol` holds
    * DISTINCT tokens per doc — posting counts drive the prefix-length
    * math and the verify divides a distinct-intersection by them, so
    * duplicated tokens would both shrink prefixes below the
    * completeness bound and mis-scale the jaccard. The hashed-corpus
    * producers guarantee this (NgramHash32 dedupes per doc). */
  def prefixJaccardPairs(
      corpus: DataFrame,
      thresholdNum: Int = 3, thresholdDen: Int = 10,
      idCol: String = "doc_id",
      tokensCol: String = "shingles"): DataFrame = {
    val posting = Caches.materialize(
      corpus.select(col(idCol), explode(col(tokensCol)).as("shingle")))
    val dfreq = posting.groupBy(col("shingle"))
      .agg(count(lit(1)).as("_df"))
    val sizes = posting.groupBy(col(idCol)).agg(count(lit(1)).as("_sz"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_df"), col("shingle"))
    val prefix = Caches.materialize(posting
      .join(dfreq, "shingle")
      .join(sizes, idCol)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <=
        col("_sz") - expr(s"($thresholdNum * _sz + ${thresholdDen - 1}) " +
          s"div $thresholdDen") + 1)
      .select(col(idCol), col("shingle")))
    val cand = prefix.select(col(idCol).as("id_a"), col("shingle"))
      .join(prefix.select(col(idCol).as("id_b"), col("shingle")), "shingle")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    // verify per CANDIDATE via array intersection (the minhash verify
    // shape) — a posting re-join here would resurrect the quadratic
    // frequent-token blowup the prefixes just avoided
    val t = thresholdNum.toDouble / thresholdDen
    cand
      .join(corpus.select(col(idCol).as("id_a"),
        col(tokensCol).as("_ta")), "id_a")
      .join(corpus.select(col(idCol).as("id_b"),
        col(tokensCol).as("_tb")), "id_b")
      .withColumn("_common", size(array_intersect(col("_ta"), col("_tb"))))
      .select(col("id_a"), col("id_b"),
        (col("_common").cast("double") /
          (size(col("_ta")) + size(col("_tb")) - col("_common")))
          .as("jaccard"))
      .filter(col("jaccard") >= t)
  }

  /** Directed-edge bound (both directions of every pair) up to which
    * [[dedupClusters]] computes components in one task: the node and
    * edge arrays of a graph this size are a few tens of MB. */
  private val SmallGraphEdges: Long = 2000000L

  /** Connected components over a near-dup pair graph: every document
    * that appears in a pair gets its component's minimum doc id as
    * `cluster_id` (`keep` = it IS that minimum — the survivor). Ids are
    * integral; the output carries the input's id type.
    *
    * The pair list is materialized once — one job, which also sizes
    * the graph. Up to [[SmallGraphEdges]] edges, [[components]] runs
    * union-find over the coalesced pair list in ONE task, inside the
    * caller's action (no further job here). A larger graph runs the
    * distributed [[labelPropagation]] loop. */
  def dedupClusters(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val idType = pairs.schema("id_a").dataType
    val p = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edgeCount = 2 * p.count()
    val labels =
      if (edgeCount <= SmallGraphEdges)
        p.coalesce(1).mapPartitions(components).toDF("doc_id", "cluster_id")
      else
        try labelPropagation(p.toDF("id_a", "id_b"), edgeCount)
        finally p.unpersist()
    labels.select(col("doc_id").cast(idType).as("doc_id"),
      col("cluster_id").cast(idType).as("cluster_id"),
      (col("doc_id") === col("cluster_id")).as("keep"))
  }

  /** Union-find over an edge list held in one task: (node, component
    * root) for every node, in node order. Nodes are sorted and
    * numbered, and a union links the larger root under the smaller,
    * so each root is its component's smallest id. Path halving keeps
    * the finds short. */
  private def components(edges: Iterator[(Long, Long)])
      : Iterator[(Long, Long)] = {
    val src = new scala.collection.mutable.ArrayBuilder.ofLong
    val dst = new scala.collection.mutable.ArrayBuilder.ofLong
    edges.foreach { case (a, b) => src += a; dst += b }
    val from = src.result()
    val to = dst.result()
    val ids = from ++ to
    java.util.Arrays.sort(ids)
    var n = 0
    for (i <- ids.indices) if (n == 0 || ids(i) != ids(n - 1)) {
      ids(n) = ids(i); n += 1
    }
    val parent = Array.range(0, n)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def node(id: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, id)
    for (e <- from.indices) {
      val ra = find(node(from(e)))
      val rb = find(node(to(e)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    Iterator.range(0, n).map(i => (ids(i), ids(find(i))))
  }

  /** Distributed connected components of the (id_a, id_b) pair graph:
    * (doc_id, cluster_id = component minimum). Alternating min-label
    * propagation + pointer jumping (label := label's label) to a
    * fixpoint — the jump halves the distance to the component minimum
    * every round, so convergence is O(log diameter) rounds, each one
    * join+aggregate plus one self-join over the label table. Inputs
    * and intermediates stay distributed; only the per-round changed
    * flag hits the driver. `edgeCount` (both directions) sizes the
    * loop's shuffles. Every round reads `pairs` again: the caller
    * passes its persisted pair list. */
  private[graft] def labelPropagation(pairs: DataFrame, edgeCount: Long)
      : DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    // Size the loop's shuffles to the GRAPH, not the session's scan
    // parallelism: the label/edge tables are tiny relative to the
    // corpus (only near-dup participants), and every round runs ~4
    // shuffle stages whose fixed per-task cost dominates at 32+
    // partitions. ~250k edges per partition; grows with the graph, so
    // the knob is scale-correct at 100 TB too.
    val spark = pairs.sparkSession
    val loopParts = math.max(4L,
      math.min(4096L, edgeCount / 250000L + 4L)).toString
    // lineage MUST be truncated every round (it grows exponentially);
    // Caches.snapshot upgrades to a fault-tolerant checkpoint when a
    // checkpoint dir is configured.
    def snapshot(df: DataFrame): DataFrame = graft.util.Caches.snapshot(df)
    // The override lives in a CLONED session (shared SparkContext +
    // CacheManager, private SQLConf): every DataFrame the loop derives
    // from loopEdges plans against the small partition count, while
    // queries running concurrently on the caller's session keep their
    // own shuffle sizing — mutating the shared conf here would leak
    // the tiny count to them for the duration of the loop.
    val loopEdges = org.apache.spark.sql.GraftBridge.withSessionConf(
      edges, Map("spark.sql.shuffle.partitions" -> loopParts))
    // seed with min(self, direct neighbors) — one propagation round
    // for free
    var labels = snapshot(
      loopEdges.groupBy(col("src"))
        .agg(least(min(col("dst")), col("src")).as("label"))
        .select(col("src").as("id"), col("label")))
    var converged = false
    var rounds = 0
    val maxRounds = 64 // log2-diameter rounds suffice; 64 is unreachable
    while (!converged && rounds < maxRounds) {
      // (a) min over self + neighbor labels, carrying the round-start
      // label as _old so convergence needs no second join afterwards
      val neighborMin = loopEdges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("_nbr"))
      val propagated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label").as("_old"),
          least(col("label"), coalesce(col("_nbr"), col("label"))).as("label"))
      // (b) pointer jump: follow the label's own label (labels are
      // node ids, so the self-join is total on the left)
      val parent = propagated
        .select(col("id").as("label"), col("label").as("_ll"))
      val jumped = snapshot(propagated.join(parent, Seq("label"), "left")
        .select(col("id"), col("_old"),
          least(col("label"), coalesce(col("_ll"), col("label"))).as("label")))
      // the snapshot already materialized the round; the convergence
      // probe is a plain scan of that (tiny, checkpointed) table — no
      // join with the previous round's labels
      converged = jumped.filter(col("label") < col("_old"))
        .limit(1).count() == 0L
      labels = jumped.select(col("id"), col("label"))
      rounds += 1
    }
    require(converged,
      s"label propagation did not converge within $maxRounds rounds")
    // bind the (checkpointed) result back to the caller's session so
    // downstream plans use the caller's conf, not the loop's
    org.apache.spark.sql.GraftBridge.bindTo(
      labels.select(col("id").as("doc_id"), col("label").as("cluster_id")),
      spark)
  }

  /** Decontamination: flag corpus documents that share any n-gram with
    * a benchmark/eval set — the standard train-test overlap removal of
    * LLM data pipelines. `corpus` and `benchmark` both carry
    * (idCol, tokensCol) distinct token-hash arrays; the benchmark's
    * distinct hash set is broadcast (eval sets are bounded by
    * construction), so the check is a map-side join over the exploded
    * corpus postings — no shuffle proportional to the corpus.
    * Returns one row per corpus doc: (id, n_overlap, contaminated). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String = "doc_id", tokensCol: String = "hs"): DataFrame = {
    val benchHashes = benchmark
      .select(explode(col(tokensCol)).as("_bh")).distinct()
    val overlaps = corpus
      .select(col(idCol), explode(col(tokensCol)).as("_bh"))
      .join(broadcast(benchHashes), "_bh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
    corpus.select(col(idCol))
      .join(overlaps, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) > 0).as("contaminated"))
  }

  /** Bloom-gated decontamination — the 100 TB shape of
    * [[decontaminate]]: when the benchmark n-gram set is too large to
    * broadcast EXACTLY (billions of n-grams across dozens of eval
    * suites), a fixed-bits Bloom filter of it still broadcasts, the
    * corpus postings are prefiltered MAP-SIDE by `might_contain`
    * (no false negatives, tunable false positives), and only the
    * surviving sliver pays the exact equi-join — shuffle volume is
    * (true overlaps + fp·corpus), not the corpus. Output is the exact
    * decontamination verdict, bit-identical to [[decontaminate]]
    * (false positives die in the verify join), so the same oracle
    * gates both; the Bloom stage is pinned by plan audit in
    * Round13bSpec. Uses the optimizer's own BloomFilterAggregate /
    * BloomFilterMightContain expressions (SPARK-32268) via
    * [[org.apache.spark.sql.GraftBridge]]. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
      idCol: String = "doc_id", tokensCol: String = "hs",
      estimatedItems: Long = 1L << 16, numBits: Long = 1L << 20)
      : DataFrame = {
    import org.apache.spark.sql.GraftBridge
    // kept: the bench set feeds the Bloom subquery and the verify join,
    // and without it the plan scans documents 5 times (the audit's cap
    // is 4). A snapshot, not a persist: the same subtree also appears
    // inside llm_decontaminate's plan (cache-manager rewrite gotcha)
    val bench = graft.util.Caches.snapshot(
      benchmark.select(explode(col(tokensCol)).as("_bh")).distinct())
    // scalar subquery, not a broadcast-join column: might_contain
    // requires a constant/subquery Bloom, and the subquery result is
    // broadcast to every task exactly like the optimizer's own
    // injected runtime filters
    val bloom = GraftBridge.scalarSubquery(bench.agg(
      GraftBridge.bloomAgg(col("_bh"), estimatedItems, numBits).as("_bf")))
    val candidates = corpus
      .select(col(idCol), explode(col(tokensCol)).as("_bh"))
      .where(GraftBridge.bloomMightContain(bloom, col("_bh")))
    val overlaps = candidates
      .join(bench.hint("shuffle_hash"), "_bh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
    corpus.select(col(idCol))
      .join(overlaps, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) > 0).as("contaminated"))
  }

  /** SimHash near-dup pairs: candidate pairs share at least one of the
    * four 15-bit chunks of the 60-bit simhash (pigeonhole: any pair at
    * Hamming distance <= 3 must agree on >= 1 chunk), verified by exact
    * Hamming distance. Input: (id, simhash).
    *
    * Chunk width sets the scale behavior: candidates per chunk
    * position ~ N²/2^width for random non-dup hashes, so 15-bit
    * buckets (32768 values) keep the candidate join ~100x smaller
    * than the 8-bit chunks a 32-bit simhash forces (measured 19M vs
    * ~200k candidate rows on the 50k-doc sf0.1 corpus). At larger N,
    * widen the simhash and chunks again — the pigeonhole argument
    * only needs floor(bits/chunks) >= maxHamming+1 chunks. */
  def simhashPairs(sims: DataFrame, idCol: String = "doc_id",
      maxHamming: Int = 3): DataFrame = {
    val chunkBits = SimhashBits / 4
    val chunks = (0 until 4).map(c => shiftright(col("simhash"), c * chunkBits)
      .bitwiseAND(lit((1L << chunkBits) - 1L)))
    BandJoin.pairs(sims, None, idCol, chunks, verify = Some(BandJoin.Verify(
      "simhash", "hamming_dist", hamming, _ <= maxHamming)))
  }

  /** Cross-source content overlap at word-5-gram granularity — which
    * source pairs ship the same phrasing, and how much (the
    * provenance/boilerplate audit that decides whether two crawls are
    * worth keeping separately; whole-document hashes only light up
    * when corpora literally mirror each other, shingles catch the
    * partial overlap that actually occurs). Exact: the corpus
    * collapses to the DISTINCT (shingle, source) table first (one
    * corpus-sized shuffle, output bounded by distinct shingles ×
    * sources-per-shingle); the pair join then runs on that table
    * keyed by the shingle itself, with fan-out bounded by the handful
    * of sources a shingle appears in — never corpus × corpus.
    * Jaccard = shared / (n_a + n_b − shared) over distinct shingles.
    *
    * The raw shingle IS the distinct/join key: an earlier cut keyed on
    * sha256(shingle), whose 64-char hex DOUBLED the key bytes through
    * both exchanges and the join sort vs the ~30-char shingles it
    * replaced (measured 8× on this op end-to-end; the count is
    * identical either way — the hash was injective in effect, so
    * DISTINCT over it equals DISTINCT over the shingle). */
  def sourceOverlap(docs: DataFrame, n: Int = 5,
      textCol: String = "text", srcCol: String = "source"): DataFrame = {
    val hs = docs.select(col(srcCol).as("src"), words(col(textCol)).as("_w"))
      .filter(size(col("_w")) >= n)
      .select(col("src"), explode(wordShingles(col("_w"), n)).as("sg"))
      .distinct()
      .select(col("sg").as("h"), col("src"))
    val totals = hs.groupBy(col("src")).agg(count(lit(1)).as("n"))
    hs.select(col("h"), col("src").as("source_a"))
      .join(hs.select(col("h"), col("src").as("source_b")), "h")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared_texts"))
      .join(broadcast(totals.select(col("src").as("source_a"),
        col("n").as("n_a"))), Seq("source_a"))
      .join(broadcast(totals.select(col("src").as("source_b"),
        col("n").as("n_b"))), Seq("source_b"))
      .withColumn("jaccard",
        col("shared_texts").cast("double") /
          (col("n_a") + col("n_b") - col("shared_texts")).cast("double"))
      .select("source_a", "source_b", "shared_texts", "n_a", "n_b",
        "jaccard")
  }
}
