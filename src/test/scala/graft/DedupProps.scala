package graft

import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._

import graft.operators.{TextDedup, VectorOps}

/** Property layer for the round-4 operators.
  *
  *  - decontaminate(corpus, corpus): every doc with a nonempty shingle
  *    set is contaminated with overlap == its full set size (its own
  *    hashes are in the benchmark union).
  *  - decontaminate against a DISJOINT benchmark flags nothing.
  *  - pqEncode: codes are in-range, deterministic, and identical
  *    subvectors get identical codes.
  *  - dedupClusters' one-task union-find labels every node exactly as
  *    the distributed label-propagation loop does.
  */
object DedupProps extends SparkProperties("Dedup") {
  private lazy val spark = TestSpark.spark

  private val wordGen = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val docGen: Gen[String] = for {
    n <- Gen.choose(3, 10)
    ws <- Gen.listOfN(n, wordGen)
  } yield ws.mkString(" ")

  private def corpusOf(texts: List[String]) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextDedup.words(col("text")).as("_w"))
      .select(col("doc_id"),
        transform(TextDedup.wordShingles(col("_w"), 2),
          TextDedup.wordHash32(_)).as("hs"))
      .filter(size(col("hs")) > 0)
  }

  property("self-decontamination flags every doc with full overlap") =
    forAll(Gen.listOfN(6, docGen)) { texts: List[String] =>
      val corpus = corpusOf(texts)
      val sizes = corpus.collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet.size).toMap
      val out = TextDedup.decontaminate(corpus, corpus).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      Prop(sizes.forall { case (id, n) => out(id) == ((n.toLong, true)) })
    }

  property("disjoint-benchmark decontamination flags nothing") =
    forAll(Gen.listOfN(5, docGen)) { texts: List[String] =>
      // shift corpus words into a disjoint vocabulary by suffixing
      val corpus = corpusOf(texts.map(_.split(" ").map(_ + "x").mkString(" ")))
      val bench = corpusOf(texts.map(_.split(" ").map(_ + "y").mkString(" ")))
      val out = TextDedup.decontaminate(corpus, bench).collect()
      Prop(out.forall(r => r.getLong(1) == 0L && !r.getBoolean(2)))
    }

  private val vecGen: Gen[Array[Float]] =
    Gen.listOfN(8, Gen.choose(-100, 100)).map(_.map(_ / 10f).toArray)

  property("pqEncode: in-range, deterministic, slice-consistent") =
    forAll(Gen.listOfN(6, vecGen)) { vs: List[Array[Float]] =>
      val books = Array.tabulate(4) { s =>
        Array.tabulate(3)(c => Array.tabulate(2)(i => (s + c * 2 + i).toDouble))
      }
      Prop(vs.forall { v =>
        val a = VectorOps.pqEncode(v, books)
        val b = VectorOps.pqEncode(v, books)
        a.sameElements(b) && a.length == 4 &&
          a.forall(c => c >= 0 && c < 3) &&
          a.zipWithIndex.forall { case (code, s) =>
            val sub = java.util.Arrays.copyOfRange(v, s * 2, s * 2 + 2)
            code == VectorOps.nearestCentroid(sub, books(s))
          }
      })
    }

  /** Random pair graphs: chains, stars and isolated pairs over shuffled
    * (possibly negative) ids, plus duplicated and reversed edges. */
  private val graphGen: Gen[List[(Long, Long)]] = for {
    shapes <- Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("chain", "star", "pair"),
      Gen.choose(2, 7))).map(_.take(6))
    seed <- Gen.long
    dupes <- Gen.choose(0, 3)
  } yield {
    val rnd = new scala.util.Random(seed)
    val sizes = shapes.map { case (k, n) => if (k == "pair") 2 else n }
    val ids = rnd.shuffle((0 until sizes.sum).map(i => i * 7L - 40L)).iterator
    val edges = shapes.zip(sizes).flatMap { case ((kind, _), n) =>
      val c = List.fill(n)(ids.next())
      if (kind == "star") c.tail.map(c.head -> _) else c.zip(c.tail)
    }
    edges ++ rnd.shuffle(edges).take(dupes).map(_.swap)
  }

  property("one-task union-find == label-propagation loop on random graphs") =
    forAll(graphGen) { edges =>
      import spark.implicits._
      val pairs = edges.toDF("id_a", "id_b")
      val uf = TextDedup.dedupClusters(pairs).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
      val loop = TextDedup.labelPropagation(pairs, 2L * edges.size).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      Prop(uf.map { case (id, (root, _)) => id -> root } == loop) :|
        s"union-find $uf != label propagation $loop" &&
      Prop(uf.forall { case (id, (root, keep)) => keep == (id == root) })
    }
}
