package graft

import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll

import graft.operators.TextBpe

/** The distributed BPE kernel against a straight-line driver-only
  * reference trainer on random corpora: same merges, same pair counts,
  * same initial counts, same final symbol arrays. The alphabet mixes
  * ASCII with a supplementary-plane character and characters in
  * U+E000–U+FFFF, where UTF-8 byte order and UTF-16 order disagree,
  * so a tie broken in the wrong order shows. */
object TextBpeProps extends SparkProperties("TextBpe") {
  private lazy val spark = TestSpark.spark

  // lowercase-stable, non-space symbols: normalization leaves them be
  private val alphabet = Seq("a", "b", "\u00e9", "\ue000", "\uff5a",
    new String(Character.toChars(0x1f600)))

  private val corpusGen: Gen[(List[String], Int)] = for {
    letters <- Gen.choose(1, alphabet.size).flatMap(Gen.pick(_, alphabet))
    word = Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.oneOf(letters)))
      .map(_.mkString)
    doc = Gen.choose(1, 5).flatMap(Gen.listOfN(_, word)).map(_.mkString(" "))
    docs <- Gen.choose(1, 6).flatMap(Gen.listOfN(_, doc))
    n <- Gen.choose(1, 12)
  } yield (docs, n)

  private def symbols(w: String): List[String] =
    w.codePoints.toArray.toList.map(c => new String(Character.toChars(c))) :+
      TextBpe.EndToken

  // code-point order is UTF-8 byte order, computed without UTF8String
  private val byCodePoint: Ordering[String] =
    Ordering.by((s: String) => s.codePoints.toArray.toSeq)(
      Ordering.Implicits.seqOrdering[Seq, Int])

  /** Reference BPE: (merges as (l, r, count), initial pair counts,
    * final symbols per word). */
  private def reference(freqs: Map[String, Long], n: Int) = {
    def pairs(v: Map[String, (Long, List[String])]) = v.values.toSeq
      .flatMap { case (f, s) => s.zip(s.tail).map(_ -> f) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    def merge(s: List[String], l: String, r: String): List[String] = s match {
      case a :: b :: t if a == l && b == r => (l + r) :: merge(t, l, r)
      case a :: t => a :: merge(t, l, r)
      case Nil => Nil
    }
    val rank = Ordering.Tuple3(Ordering.Long, byCodePoint, byCodePoint)
    var vocab = freqs.map { case (w, f) => w -> (f, symbols(w)) }
    val init = pairs(vocab)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var counts = init
    while (merges.size < n && counts.nonEmpty) {
      val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }(rank)
      merges += ((l, r, c))
      vocab = vocab.map { case (w, (f, s)) => w -> (f, merge(s, l, r)) }
      counts = pairs(vocab)
    }
    (merges.toSeq, init, vocab.map { case (w, (_, s)) => w -> s })
  }

  property("kernel == driver-only reference BPE") =
    forAll(corpusGen) { case (texts, n) =>
      import spark.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val freqs = texts.flatMap(_.split(" ")).filter(_.nonEmpty)
        .groupMapReduce(identity)(_ => 1L)(_ + _)
      val (refMerges, refInit, refFinal) = reference(freqs, n)
      val t = TextBpe.trainFull(docs, n)
      val finals = try t.vocab.collect()
        .map(r => r.getString(0) -> r.getSeq[String](2).toList).toMap
      finally t.release()
      val dfInit = TextBpe.pairCounts(TextBpe.wordSymbols(docs)).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val learned = refMerges.map { case (l, r, _) => (l, r) }
      val got = t.merges.map(m => (m.l_sym, m.r_sym, m.pair_count))
      Prop(got == refMerges) :| s"merges $got != reference $refMerges" &&
      Prop(t.merges.map(m => (m.rank, m.merged)) ==
        refMerges.indices.map(i => (i + 1, refMerges(i)._1 + refMerges(i)._2))) &&
      Prop(dfInit == refInit) :| "pairCounts table != reference" &&
      Prop(t.initCounts == learned.flatMap(p => dfInit.get(p).map(p -> _)).toMap) :|
        s"initial counts ${t.initCounts}" &&
      Prop(finals == refFinal) :| s"final symbols $finals != $refFinal"
    }
}
