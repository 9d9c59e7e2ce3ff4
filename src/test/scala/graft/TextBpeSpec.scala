package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.operators.TextBpe

/** Golden tests for the BPE merge learner — the Sennrich worked
  * example (low/lower/newest/widest) with hand-computed merge
  * sequence, plus the leftmost-non-overlapping fold contract. */
class TextBpeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docsOf(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  test("golden corpus: hand-computed merge sequence") {
    // vocab freqs: low 5, lower 2, newest 6, widest 3
    val docs = docsOf(
      "low low low low low",
      "lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest")
    val (merges, init) = TextBpe.train(docs, 6)
    val got = merges.map(m => (m.l_sym, m.r_sym, m.pair_count))
    // ties break (count DESC, l ASC, r ASC)
    assert(got == Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("est", "</w>", 9L),
      ("l", "o", 7L), ("lo", "w", 7L), ("e", "w", 6L)))
    assert(merges.map(_.merged) ==
      Seq("es", "est", "est</w>", "lo", "low", "ew"))
    // the initial pair table carries the raw counts the oracle joins
    val ip = init.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(ip(("e", "s")) == 9L)
    assert(ip(("w", "e")) == 8L)
    assert(ip(("l", "o")) == 7L)
    assert(ip(("w", "</w>")) == 5L)
  }

  test("fold is leftmost non-overlapping") {
    val folded = TextBpe.fold(Array("a", "a", "a", TextBpe.EndToken), "a", "a")
    assert(folded.toSeq == Seq("aa", "a", TextBpe.EndToken))
  }

  test("ties break in UTF-8 byte order, not UTF-16") {
    // both pairs count 1: U+E000 is EE 80 80 in UTF-8 and sorts before
    // U+1F600 (F0 ...), whose UTF-16 lead surrogate D83D sorts first
    val emoji = new String(Character.toChars(0x1f600))
    val (merges, _) = TextBpe.train(docsOf(s"$emoji \ue000"), 1)
    assert(merges.map(m => (m.l_sym, m.r_sym, m.pair_count)) ==
      Seq(("\ue000", TextBpe.EndToken, 1L)))
  }

  test("aaa corpus: second merge sees the folded symbols") {
    val (merges, _) = TextBpe.train(docsOf("aaa"), 2)
    // round 1: (a,a) count 2; round 2 ties at 1 -> (a,</w>) lex-first
    assert(merges.map(m => (m.l_sym, m.r_sym, m.pair_count)) ==
      Seq(("a", "a", 2L), ("a", TextBpe.EndToken, 1L)))
  }

  test("encodeWords tokenizes the golden vocab with the learned merges") {
    val docs = docsOf(
      "low low low low low",
      "lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest")
    val (merges, _) = TextBpe.train(docs, 6)
    val enc = TextBpe.encodeWords(docs, merges).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getInt(2),
        r.getString(3))).toMap
    // after es/est/est</w>/lo/low/ew: hand-tokenized
    assert(enc("low") == ((5L, 2, "low </w>")))
    assert(enc("lower") == ((2L, 4, "low e r </w>")))
    assert(enc("newest") == ((6L, 3, "n ew est</w>")))
    assert(enc("widest") == ((3L, 4, "w i d est</w>")))
  }

  test("train drains early when no pairs remain") {
    // single 1-char word: one pair (x, </w>), then nothing to merge
    val (merges, _) = TextBpe.train(docsOf("x x"), 5)
    assert(merges.map(m => (m.l_sym, m.r_sym, m.pair_count)) ==
      Seq(("x", TextBpe.EndToken, 2L)))
  }

  test("train runs at most one Spark job per merge plus four") {
    // job counts are deterministic where wall time is not: this pins
    // the one-job-per-merge shape of the merge loop
    val docs = docsOf(
      "low low low low low",
      "lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest")
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val marker = "textbpe-job-count-marker"
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.job.description") == marker)
          markerSeen = true
        else jobs.incrementAndGet()
    }
    val n = 8
    sc.addSparkListener(listener)
    try {
      val (merges, _) = TextBpe.train(docs, n)
      assert(merges.size == n)
      // listener delivery is async but ordered: once the marker job is
      // seen, every job the trainer started has been counted
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "the marker job never reached the listener")
    } finally sc.removeSparkListener(listener)
    assert(jobs.get <= n + 4, s"train($n) ran ${jobs.get} jobs")
  }
}
