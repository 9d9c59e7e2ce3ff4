package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed unigram-LM (SentencePiece-style) tokenizer training —
  * the OTHER tokenizer family real pipelines compare BPE against
  * (Kudo 2018): pieces carry probabilities, a word's tokenization is
  * the max-likelihood segmentation (Viterbi over the piece lattice),
  * and training is hard-EM over the corpus:
  *
  *  - E-step: Viterbi-segment every DISTINCT word under the current
  *    model and accumulate frequency-weighted piece counts — one
  *    map-only fold over the Heaps-law-bounded word-frequency table
  *    (like [[TextBpe]], never the raw token stream) plus one hash
  *    aggregate;
  *  - M-step: piece log-prob = ln(count / total) over the pieces the
  *    E-step actually used; the piece inventory is pruned to the
  *    target size after the first E-step (by count, ties by piece)
  *    and only ever SHRINKS to used pieces afterwards, which keeps
  *    every word's current segmentation available and hard-EM's
  *    likelihood ascent intact;
  *  - single characters stay in the model for the whole run (unused
  *    ones at the [[MinLpMicro]] floor) so every word always has a
  *    finite-cost fallback lattice path — segmentation never fails,
  *    it just scores badly.
  *
  * All model arithmetic is INTEGER micro-nats: log-probs quantize to
  * `floor(ln(p) * 1e6 + 0.5)` once per M-step (driver-side over the
  * vocab-sized count table) and the Viterbi DP then adds/compares
  * BIGINTs only — exact, associative, and bit-identical in any engine,
  * which is what lets a SQL oracle re-derive the full E-step (the DP,
  * the segment counts, the corpus log-likelihood) from the pinned
  * model with zero floating-point hazard.
  *
  * Scale shape (100 TB): one corpus-sized shuffle builds the word
  * table; each iteration is a map-only fold over it (per-row DP,
  * O(len × [[MaxPieceLen]])), one hash aggregate for counts, and a
  * vocab-sized driver collect for the M-step — driver state is
  * O(vocab), never O(corpus). Tie-breaks are total: best candidate by
  * (score DESC, piece-length DESC), prune by (count DESC, piece ASC).
  */
object TextUnigramLm {

  /** Longest candidate piece. DP cost per word is len × this. */
  val MaxPieceLen = 4

  /** Integer-micro-nat floor standing in for -inf: one use costs more
    * than any real path (corpus log-liks are ~1e6-1e9 micro-nats),
    * yet 20 uses still cannot underflow a BIGINT. */
  val MinLpMicro: Long = -100000000000L

  /** Seed inventory: every single char plus the top multis by
    * substring count. */
  val SeedMultis = 600

  /** Post-prune inventory: multis kept after the first E-step. */
  val TargetMultis = 200

  /** Hard-EM iterations (E-steps run). */
  val Iterations = 4

  final case class Piece(piece: String, lp_micro: Long)
  final case class IterStat(iter: Int, loglik_micro: Long)

  /** Corpus word-frequency table (the Heaps-bounded training set). */
  def wordFreq(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(TextDedup.words(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** floor(ln(c/t)·1e6 + 0.5) — the micro-nat quantizer. Spelled the
    * same way in the SQL oracle's refit column. */
  def quantLn(c: Long, t: Long): Long =
    math.floor(math.log(c.toDouble / t.toDouble) * 1e6 + 0.5).toLong

  /** Viterbi best-segmentation DP as ONE fold expression over the
    * word's positions: the accumulator holds, per prefix length, the
    * best struct (o = -score for min-ordering, k2 = -pieceLen for the
    * longer-piece tie-break, sc = score in micro-nats, sg = the
    * space-joined segmentation). Candidate k extends the best prefix
    * ending k chars back by the piece word[i-k+1 .. i]; `array_min`
    * over the candidate structs IS the (score DESC, len DESC) argmax.
    * Returns the final struct for the whole word. Mirrored verbatim
    * by the DuckDB oracle's `list_reduce` fold — every operation is
    * BIGINT arithmetic or string concat, so the two engines agree
    * bit-for-bit. */
  def viterbiBest(word: Column, model: Map[String, Long]): Column = {
    val m = typedLit(model)
    val init = array(struct(lit(0L).as("o"), lit(0L).as("k2"),
      lit(0L).as("sc"), lit("").as("sg")))
    val dp = aggregate(
      sequence(lit(1), length(word)),
      init,
      (acc: Column, i: Column) => {
        val cands = (1 to MaxPieceLen).map { k =>
          // CaseWhen evaluates lazily: the element_at/substr below
          // only run when k <= i, so indices stay in bounds under ANSI
          when(lit(k) <= i, {
            val prev = element_at(acc, i - lit(k) + 1)
            val piece = word.substr(i - lit(k) + 1, lit(k))
            val lp = coalesce(try_element_at(m, piece), lit(MinLpMicro))
            val sc = prev.getField("sc") + lp
            val sg = concat(prev.getField("sg"),
              when(i === lit(k), lit("")).otherwise(lit(" ")), piece)
            struct((-sc).as("o"), lit(-k.toLong).as("k2"),
              sc.as("sc"), sg.as("sg"))
          })
        }
        concat(acc, array(array_min(
          filter(array(cands: _*), c => c.isNotNull))))
      })
    element_at(dp, length(word) + 1)
  }

  /** One E-step: the word table with the Viterbi result attached —
    * `score_micro` (path log-lik) and `pieces` (the segmentation). */
  def segment(words: DataFrame, model: Map[String, Long]): DataFrame = {
    val f = viterbiBest(col("word"), model)
    words.withColumn("f", f)
      .select(col("word"), col("freq"),
        col("f").getField("sc").as("score_micro"),
        split(col("f").getField("sg"), " ").as("pieces"))
  }

  /** Frequency-weighted piece counts of a segmented word table — one
    * hash aggregate, vocab-sized output. */
  def pieceCounts(segmented: DataFrame): DataFrame =
    segmented
      .select(col("freq"), explode(col("pieces")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))

  /** All substrings of length 1..[[MaxPieceLen]] — the seed pass. */
  private def allSubstrings(w: Column): Column =
    flatten(transform(sequence(lit(1), length(w)), i =>
      transform(sequence(lit(0),
          least(lit(MaxPieceLen - 1), length(w) - i)), k =>
        w.substr(i, k + 1))))

  /** Viterbi best score of `str` under `model` with piece `excl`
    * barred from the lattice — the SentencePiece prune-loss "alternate
    * path": what segmenting the piece's own string costs once the
    * piece is gone. Pure integer micro-nat DP on the DRIVER (the
    * model is vocab-sized; the strings are ≤ [[MaxPieceLen]] chars),
    * and EXACTLY `viterbiBest(str, model - excl).sc` — the lattice's
    * lookup-with-floor makes removing a piece from the map and
    * barring it from candidates the same thing (UnigramLossSpec pins
    * the equality against the Spark expression). */
  def altScoreMicro(str: String, model: Map[String, Long],
      excl: String): Long = {
    val n = str.length
    val best = Array.fill(n + 1)(Long.MinValue / 4)
    best(0) = 0L
    for (i <- 1 to n; k <- 1 to math.min(MaxPieceLen, i)) {
      val piece = str.substring(i - k, i)
      // the barred piece stays a CANDIDATE at the floor price — the
      // lattice's lookup-with-floor never drops an edge, it reprices
      // it (exactly viterbiBest's behavior once the piece leaves the
      // map; dropping the edge instead diverges whenever the floored
      // whole-piece path beats a path through floored singles)
      val lp = if (piece == excl) MinLpMicro
        else model.getOrElse(piece, MinLpMicro)
      val cand = best(i - k) + lp
      if (cand > best(i)) best(i) = cand
    }
    best(n)
  }

  /** Prune loss of a used multi piece: how many micro-nats the corpus
    * log-lik loses if the piece is dropped and every one of its `cnt`
    * occurrences re-segments through its best alternate path —
    * SentencePiece's pruning criterion (Kudo 2018 §3.2's per-piece
    * loss, with the piece's own string standing in for its occurrence
    * contexts). Can be ≤ 0 when the alternate path scores at least
    * as well — exactly the pieces to drop first. */
  def pruneLossMicro(piece: String, cnt: Long,
      model: Map[String, Long]): Long =
    // getOrElse: the E-step can legitimately use a multi OUTSIDE the
    // model — in a region whose singles are all floored, one floored
    // unknown piece beats a path of several floored singles (score
    // tie broken by piece length). Such a piece prices at the floor
    // here, ranking it last — the loss criterion admits no new multis
    // (SentencePiece prunes existing pieces; entry is the seed's job)
    cnt * (model.getOrElse(piece, MinLpMicro)
      - altScoreMicro(piece, model, piece))

  /** M-step on the driver over the vocab-sized count table: keep the
    * used singles + top `targetMultis` used multis, assign quantized
    * log-probs; every seed single stays (floor prob when unused).
    * Multi ranking: by count (hard-EM baseline) or by PRUNE LOSS
    * under `lossModel` (likelihood-loss pruning — Kudo's criterion:
    * a frequent piece whose string re-segments almost as cheaply is
    * worth less than a rarer piece with no good alternate). */
  private def mstep(counts: Seq[(String, Long)], singles: Set[String],
      targetMultis: Int,
      lossModel: Option[Map[String, Long]] = None): Map[String, Long] = {
    val used = counts.filter(_._2 > 0)
    val allMultis = used.filter(_._1.length > 1)
    val multis = lossModel match {
      case Some(m) => allMultis
        .map { case (p, c) => (p, c, pruneLossMicro(p, c, m)) }
        .sortBy { case (p, _, loss) => (-loss, p) }
        .take(targetMultis).map { case (p, c, _) => (p, c) }
      case None => allMultis.sortBy { case (p, c) => (-c, p) }
        .take(targetMultis)
    }
    val kept = multis ++ used.filter(_._1.length == 1)
    val total = kept.map(_._2).sum
    val fitted = kept.map { case (p, c) => p -> quantLn(c, total) }.toMap
    singles.filterNot(fitted.contains).map(_ -> MinLpMicro).toMap ++ fitted
  }

  // ---- soft-EM: forward-backward expected counts (Kudo 2018 §3.1's
  // full E-step, vs the hard-EM Viterbi approximation above) ----

  /** Pairwise log-add-exp. All inputs are finite (the floor is a very
    * negative FINITE price, and every word has a finite all-singles
    * path), so no -inf guard is needed: exp(-|a-b|) underflows to 0
    * and the max wins — exactly the right limit. */
  private def lse2(a: Column, b: Column): Column =
    greatest(a, b) + log1p(exp(-abs(a - b)))

  private def lpNat(m: Column, piece: Column): Column =
    coalesce(try_element_at(m, piece), lit(MinLpMicro))
      .cast("double") / lit(1e6)

  /** Forward pass: array of n+1 log-marginals, element i+1 =
    * ln Σ_paths P(word[1..i]) in nats. Same fold shape as
    * [[viterbiBest]] with `array_min` replaced by log-sum-exp. */
  def forwardLog(word: Column, model: Map[String, Long]): Column = {
    val m = typedLit(model)
    aggregate(
      sequence(lit(1), length(word)),
      array(lit(0.0)),
      (acc: Column, i: Column) => {
        val cands = (1 to MaxPieceLen).map { k =>
          when(lit(k) <= i,
            element_at(acc, i - lit(k) + 1) +
              lpNat(m, word.substr(i - lit(k) + 1, lit(k))))
        }
        val valid = filter(array(cands: _*), c => c.isNotNull)
        val sum = aggregate(valid, lit(Double.NegativeInfinity),
          (s: Column, x: Column) =>
            when(s === lit(Double.NegativeInfinity), x)
              .otherwise(lse2(s, x)))
        concat(acc, array(sum))
      })
  }

  /** Backward pass, as a fold from the RIGHT end: element j+1 =
    * β(n−j) = ln Σ_paths P(word[n−j+1..n]). β(i) of the forward
    * indexing is `element_at(result, n − i + 1)`. */
  def backwardLog(word: Column, model: Map[String, Long]): Column = {
    val m = typedLit(model)
    val n = length(word)
    aggregate(
      sequence(lit(1), length(word)),
      array(lit(0.0)),
      (acc: Column, j: Column) => {
        val cands = (1 to MaxPieceLen).map { k =>
          // edge leaving position i = n - j, consuming word[i+1..i+k]
          when(lit(k) <= j,
            element_at(acc, j - lit(k) + 1) +
              lpNat(m, word.substr(n - j + 1, lit(k))))
        }
        val valid = filter(array(cands: _*), c => c.isNotNull)
        val sum = aggregate(valid, lit(Double.NegativeInfinity),
          (s: Column, x: Column) =>
            when(s === lit(Double.NegativeInfinity), x)
              .otherwise(lse2(s, x)))
        concat(acc, array(sum))
      })
  }

  /** Soft E-step: per word, every lattice edge with its posterior
    * P(edge | word) = exp(α(i−k) + lp + β(i) − α(n)), QUANTIZED
    * per edge to integer micro-counts (`floor(p·1e6 + 0.5)`) BEFORE
    * any aggregation — the downstream sums are then pure BIGINT
    * arithmetic, associative and deterministic under any partitioning
    * (a double sum over a shuffle is order-dependent; an integer sum
    * is not). Edges through floored pieces underflow to posterior 0
    * and drop here. Emits (word, freq, piece, w_micro). */
  def softEdges(words: DataFrame, model: Map[String, Long]): DataFrame = {
    val m = typedLit(model)
    val word = col("word")
    val n = length(word)
    val al = forwardLog(word, model)
    val bk = backwardLog(word, model)
    val edges = flatten(transform(sequence(lit(1), n), i =>
      filter(
        transform(sequence(lit(1), lit(MaxPieceLen)), k =>
          when(k <= i, {
            val piece = word.substr(i - k + 1, k)
            val logPost = element_at(col("__al"), i - k + 1) +
              lpNat(m, piece) +
              element_at(col("__bk"), n - i + 1) -
              element_at(col("__al"), n + 1)
            struct(piece.as("piece"),
              floor(exp(logPost) * lit(1e6) + lit(0.5)).cast("long")
                .as("w_micro"))
          })),
        c => c.isNotNull && c.getField("w_micro") > 0)))
    words
      .withColumn("__al", al).withColumn("__bk", bk)
      .select(col("word"), col("freq"), explode(edges).as("e"))
      .select(col("word"), col("freq"),
        col("e.piece").as("piece"), col("e.w_micro").as("w_micro"))
  }

  /** Frequency-weighted EXPECTED piece counts in micro-units — one
    * hash aggregate, vocab-sized output (the soft twin of
    * [[pieceCounts]]; micro-units cancel in the M-step's count/total
    * ratio). */
  def softCounts(words: DataFrame, model: Map[String, Long]): DataFrame =
    softEdges(words, model)
      .groupBy(col("piece"))
      .agg(sum(col("freq") * col("w_micro")).as("cnt"))

  /** Soft-EM training: the E-step accumulates forward-backward
    * EXPECTED counts over the whole lattice instead of hard Viterbi
    * counts — Kudo 2018's actual E-step, of which hard-EM is the
    * max-approximation. The M-step, the floor semantics, the vocab
    * budget, and the final artifact (the Viterbi-segmented word table
    * under the final model, integer micro-nats) are IDENTICAL to
    * [[train]], so the oracle machinery re-derives the result
    * unchanged; only the expectation pass itself is floating-point
    * (log-sum-exp has no exact integer form), and its per-edge
    * quantization keeps the aggregation deterministic. Per-iteration
    * stats are the VITERBI corpus log-lik under that iteration's
    * model — the integer metric both trainers share, so the entries
    * can compare them cross-engine. */
  def trainSoft(docs: DataFrame, textCol: String = "text",
      targetMultis: Int = TargetMultis)
      : (Map[String, Long], Seq[IterStat], DataFrame) =
    em(docs, textCol, targetMultis, pruneByLoss = false)(
      (words, _, model) => softCounts(words, model))

  /** Train the unigram LM. Returns (final model, per-iteration
    * log-lik stats, the FINAL segmented word table under that model —
    * the artifact both entries and the oracle verify against).
    * `pruneByLoss = true` swaps the multi-piece ranking at every
    * M-step from raw count to the prune LOSS (Kudo's criterion) —
    * same vocab budget, same integer micro-nat contract, so the
    * oracle machinery re-derives either model's E-step unchanged.
    * The prune binds at the first TargetMultis cut; afterwards used
    * pieces ⊆ model keeps the kept set stable and hard-EM's
    * post-prune likelihood ascent holds under either ranking. */
  def train(docs: DataFrame, textCol: String = "text",
      pruneByLoss: Boolean = false,
      targetMultis: Int = TargetMultis)
      : (Map[String, Long], Seq[IterStat], DataFrame) =
    em(docs, textCol, targetMultis, pruneByLoss)(
      (_, segmented, _) => pieceCounts(segmented))

  /** The one EM loop behind [[train]] and [[trainSoft]]: seed model
    * from the top substrings, then [[Iterations]] rounds of Viterbi
    * segmentation (the per-iteration stat) and, between rounds, an
    * M-step over the counts `estep` derives from (word table, this
    * round's segmented table, current model). */
  private def em(docs: DataFrame, textCol: String, targetMultis: Int,
      pruneByLoss: Boolean)
      (estep: (DataFrame, DataFrame, Map[String, Long]) => DataFrame)
      : (Map[String, Long], Seq[IterStat], DataFrame) = {
    val words = graft.util.Caches.snapshot(wordFreq(docs, textCol))
    // snapshot, not materialize: two bounded collects read this, and
    // localCheckpoint stays invisible to the session cache manager
    // (a persisted subtree would rewrite other queries' pinned plans)
    val seed = graft.util.Caches.snapshot(
      words.select(col("freq"), explode(allSubstrings(col("word")))
        .as("piece"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("cnt")))
    // bounded-collect(alphabet): distinct single characters
    val singleRows = seed.filter(length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // bounded-collect(SeedMultis): top-k via TakeOrderedAndProject
    val multiRows = seed.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece")).limit(SeedMultis)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val singles = singleRows.map(_._1).toSet
    var model = mstep(singleRows ++ multiRows, singles, SeedMultis)
    val stats = scala.collection.mutable.ArrayBuffer.empty[IterStat]
    var segmented: DataFrame = null
    for (t <- 1 to Iterations) {
      segmented = graft.util.Caches.snapshot(segment(words, model))
      val ll = segmented
        .agg(sum(col("freq") * col("score_micro")).cast("long"))
        .head().getLong(0)
      stats += IterStat(t, ll)
      if (t < Iterations) {
        // bounded-collect(vocab): piece counts are model-sized
        val cnts = estep(words, segmented, model).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
        model = mstep(cnts, singles, targetMultis,
          if (pruneByLoss) Some(model) else None)
      }
    }
    (model, stats.toSeq, segmented)
  }
}
