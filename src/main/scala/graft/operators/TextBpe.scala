package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distributed BPE (byte-pair-encoding) vocabulary training — the
  * Sennrich-style merge learner every tokenizer build starts from,
  * run corpus-scale the classic way: on the DISTINCT-WORD frequency
  * table, never the raw token stream.
  *
  * Scale shape (100 TB): one corpus-sized shuffle builds the word
  * frequency table (map-side partial counts into a Heaps-law-bounded
  * vocabulary, orders of magnitude smaller than the corpus). The
  * [[RowsPerPartition]] rule then picks the merge path. A vocabulary
  * that fits one partition (every test and benchmark scale) learns
  * every merge inside ONE task ([[learn]]): one job for the whole
  * training instead of one per merge. A larger one runs [[mergeLoop]]
  * over a cached RDD of (word, freq, symbols), ONE Spark job per
  * merge: the map side folds the previous merge into each word
  * ([[fold]]) and emits its adjacent pairs, which `reduceByKey`
  * combines per map partition in a hash map and sums into `parts`
  * partitions, each of which keeps only its local best; the driver
  * collects at most `parts` candidates and picks the exact global
  * argmax. No pair table ever reaches the driver — its state is
  * O(nMerges + parts). Lineage is truncated every iteration by the
  * rule of [[graft.util.Caches.snapshot]] and each superseded state
  * released, so the loop's plan and its cache footprint stay
  * constant-size.
  *
  * Determinism: argmax ties break (count DESC, left ASC, right ASC)
  * in Spark's UTF-8 byte order ([[Utf8Order]]); the merge fold is the
  * standard leftmost non-overlapping rewrite (an "aaa" with pair (a,a)
  * folds to ["aa","a"]), exact by construction.
  */
object TextBpe {

  /** End-of-word sentinel symbol (sorts before ASCII letters — '<'
    * is 0x3C — identically in Spark and DuckDB binary collation). */
  val EndToken = "</w>"

  final case class Merge(rank: Int, l_sym: String, r_sym: String,
      merged: String, pair_count: Long)

  /** Word frequency table with each distinct word exploded into its
    * initial symbol array: characters plus the [[EndToken]]. */
  def wordSymbols(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(TextDedup.words(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("syms",
        concat(split(col("word"), ""), array(lit(EndToken))))

  /** Adjacent-symbol pair counts weighted by word frequency — one
    * hash aggregate over the vocab table. */
  def pairCounts(wordSyms: DataFrame): DataFrame = {
    val n = size(col("syms"))
    wordSyms
      .select(col("freq"),
        explode(zip_with(
          slice(col("syms"), lit(1), n - 1),
          slice(col("syms"), lit(2), n - 1),
          (a: Column, b: Column) => struct(a.as("l"), b.as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("cnt"))
  }

  /** Leftmost non-overlapping rewrite of (l, r) -> l+r in one word's
    * symbol array — the fold both the trainer and [[encodeWords]]
    * apply. */
  def fold(syms: Array[String], l: String, r: String): Array[String] = {
    val out = new mutable.ArrayBuilder.ofRef[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Spark's string order (`UTF8String.binaryCompare`: unsigned UTF-8
    * bytes, i.e. code points) — NOT `String.compareTo`, whose UTF-16
    * code units put supplementary-plane characters before U+E000. */
  private val Utf8Order: Ordering[String] = (a: String, b: String) =>
    UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))

  /** Argmax order over (l, r, cnt) candidates: cnt DESC, l ASC, r ASC. */
  private val Rank: Ordering[(String, String, Long)] =
    Ordering.by[(String, String, Long), Long](t => -t._3)
      .orElse(Ordering.by[(String, String, Long), String](_._1)(Utf8Order))
      .orElse(Ordering.by[(String, String, Long), String](_._2)(Utf8Order))

  /** Target vocab rows per partition for the merge loop. The vocab
    * table is Heaps-law-bounded (≈√corpus): at test scale it fits one
    * partition, and so one task (per-iteration task overhead would
    * otherwise dominate the loop 10:1 — measured 22 s → ~4 s at
    * sf0.1), at 100 TB a ~100M-word vocab still spreads over ~200
    * partitions. */
  val RowsPerPartition: Long = 500000L

  /** Apply a learned merge list to the corpus vocabulary: the
    * distinct-word table with each word's final symbol array, token
    * count and space-joined tokenization. This is how BPE encodes at
    * corpus scale — tokenize the Heaps-bounded vocab once, then
    * join-back to the token stream by word; never fold per token
    * occurrence. Every merge is applied in ONE map pass. */
  def encodeWords(docs: DataFrame, merges: Seq[Merge],
      textCol: String = "text"): DataFrame = {
    val foldAll = udf((syms: Seq[String]) =>
      merges.foldLeft(syms.toArray)((s, m) => fold(s, m.l_sym, m.r_sym))
        .toSeq)
    decorate(wordSymbols(docs, textCol)
      .withColumn("syms", foldAll(col("syms"))))
  }

  /** Learn `nMerges` merges. Returns (merge table, initial pair-count
    * table) — the latter is what an oracle can re-derive from the raw
    * corpus (rank-1's argmax and every merge of two base characters
    * verify against it; see the llm_bpe_train gate). Stops early if
    * the pair table drains. */
  def train(docs: DataFrame, nMerges: Int, textCol: String = "text")
      : (Seq[Merge], DataFrame) = {
    val t = trainFull(docs, nMerges, textCol)
    t.release()
    (t.merges, pairCounts(wordSymbols(docs, textCol)))
  }

  /** A trained model: the merge list, the initial (pre-merge) pair
    * count of every learned pair whose two sides are initial symbols,
    * and the FINAL folded vocabulary (word, freq, syms) — which the
    * encode path reuses instead of re-folding the vocab from scratch.
    * `vocab` reads the trainer's last cached state: consume it before
    * `release()`. */
  final case class Trained(merges: Seq[Merge],
      initCounts: Map[(String, String), Long], vocab: DataFrame,
      release: () => Unit)

  private[graft] type State = RDD[(String, Long, Array[String])]

  /** The vocabulary (word, freq, initial symbols) as an RDD. */
  private[graft] def symbolState(docs: DataFrame, textCol: String = "text")
      : State =
    wordSymbols(docs, textCol)
      .select(col("word"), col("freq"), col("syms")).rdd
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2).toArray))

  /** Learn the merges. One job materializes the vocabulary and counts
    * it; the [[RowsPerPartition]] rule then sizes the work. A
    * vocabulary of one partition runs every merge inside ONE task
    * ([[learn]]), whose job returns the merges, the initial counts and
    * the final vocabulary; a larger one runs [[mergeLoop]], one job per
    * merge. */
  def trainFull(docs: DataFrame, nMerges: Int, textCol: String = "text")
      : Trained = {
    val first = symbolState(docs, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocabRows = first.count()
    val parts = math.max(1L, math.min(first.getNumPartitions.toLong,
      vocabRows / RowsPerPartition + 1)).toInt
    if (parts > 1) mergeLoop(docs.sparkSession, first, parts, nMerges)
    else {
      val (merges, initCounts, words) =
        try first.coalesce(1)
          .mapPartitions(it => Iterator(learn(it.toArray, nMerges)))
          .collect().headOption
          .getOrElse(learn(Array.empty, nMerges))
        finally first.unpersist(blocking = false)
      val rows = words.toSeq.map { case (w, f, s) => Row(w, f, s.toSeq) }
      Trained(merges, initCounts,
        docs.sparkSession.createDataFrame(rows.asJava, VocabSchema), () => ())
    }
  }

  /** Every merge over a vocabulary held in memory: the same pair
    * totals, [[Rank]] argmax and [[fold]] as [[mergeLoop]], so both
    * learn the same merges. Returns (merges, initial count of each
    * learned pair, final vocabulary). */
  private def learn(words: Array[(String, Long, Array[String])], nMerges: Int)
      : (Seq[Merge], Map[(String, String), Long],
        Array[(String, Long, Array[String])]) = {
    def totals(ws: Array[(String, Long, Array[String])]) = {
      val m = mutable.HashMap.empty[(String, String), Long]
      for ((_, f, s) <- ws; i <- 1 until s.length)
        m.updateWith((s(i - 1), s(i)))(c => Some(c.getOrElse(0L) + f))
      m
    }
    val init = totals(words)
    val merges = mutable.ArrayBuffer.empty[Merge]
    var cur = words
    var counts = init
    var drained = false
    while (merges.size < nMerges && !drained) {
      counts.iterator.map { case ((l, r), c) => (l, r, c) }.minOption(Rank) match {
        case Some((l, r, c)) =>
          merges += Merge(merges.size + 1, l, r, l + r, c)
          cur = cur.map { case (w, f, s) => (w, f, fold(s, l, r)) }
          if (merges.size < nMerges) counts = totals(cur)
        case None => drained = true
      }
    }
    val learned = merges.map(m => (m.l_sym, m.r_sym)).toSet
    (merges.toSeq, init.filter { case (p, _) => learned(p) }.toMap, cur)
  }

  private val VocabSchema = StructType(Seq(StructField("word", StringType),
    StructField("freq", LongType, nullable = false),
    StructField("syms", ArrayType(StringType, containsNull = false))))

  /** The per-merge loop over a materialized `first` state (released
    * with the result) — see the object doc for its job shape. */
  private[graft] def mergeLoop(spark: SparkSession, first: State, parts: Int,
      nMerges: Int): Trained = {
    val sc = first.sparkContext
    val base = if (parts < first.getNumPartitions) first.coalesce(parts)
      else first
    // `base` may be a coalesced view: its blocks are `first`'s
    def release(s: State): Unit =
      (if (s eq base) first else s).unpersist(blocking = false)
    def folded(s: State, l: String, r: String): State =
      s.map { case (w, f, syms) => (w, f, fold(syms, l, r)) }
    val merges = mutable.ArrayBuffer.empty[Merge]
    var state: State = base
    var pending: Option[(String, String)] = None
    var drained = false
    while (merges.size < nMerges && !drained) {
      val cur = pending match {
        case Some((l, r)) => graft.util.Caches.snapshotRdd(folded(state, l, r))
        case None => state
      }
      val best = pairTotals(cur, parts, _ => true)
        .mapPartitions(it => it.map { case ((l, r), c) => (l, r, c) }
          .minOption(Rank).iterator)
        .collect().minOption(Rank)
      // `cur` is materialized now; its predecessor is superseded
      if (cur ne state) { if (state ne base) release(state); state = cur }
      best match {
        case Some((l, r, c)) =>
          merges += Merge(merges.size + 1, l, r, l + r, c)
          pending = Some((l, r))
        case None =>
          drained = true; pending = None
      }
    }
    val wanted = sc.broadcast(merges.map(m => (m.l_sym, m.r_sym)).toSet)
    val initCounts = pairTotals(base, parts, p => wanted.value.contains(p))
      .collect().toMap
    wanted.destroy()
    if (state ne base) release(base)
    val last = pending match {
      case Some((l, r)) => folded(state, l, r)
      case None => state
    }
    val vocab = spark.createDataFrame(
      last.map { case (w, f, s) => Row(w, f, s.toSeq) }, VocabSchema)
    Trained(merges.toSeq, initCounts, vocab, () => release(state))
  }

  /** Frequency-weighted adjacent-pair totals of `state` over the pairs
    * `keep` admits, summed into `parts` reduce partitions
    * (`reduceByKey` first combines each map partition in a hash map). */
  private def pairTotals(state: State, parts: Int,
      keep: ((String, String)) => Boolean): RDD[((String, String), Long)] =
    state.flatMap { case (_, f, s) =>
      s.iterator.zip(s.iterator.drop(1)).filter(keep).map(_ -> f)
    }.reduceByKey(_ + _, parts)

  /** Decorate a folded vocabulary (word, freq, syms) with token count
    * and the space-joined tokenization. */
  def decorate(wordSyms: DataFrame): DataFrame =
    wordSyms
      .withColumn("n_tokens", size(col("syms")))
      .withColumn("tokens", concat_ws(" ", col("syms")))
      .drop("syms")
}
