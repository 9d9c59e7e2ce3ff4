package graft

import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, TextDedup, VectorOps}

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
  *  - the LSH band join, for each signature family (MinHash with its
  *    new × old probe, SimHash, perceptual hash, sign-projection LSH),
  *    emits exactly the brute-force all-pairs answer: every pair that
  *    shares at least one band and passes the verify, each once.
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

  /** Two rows share a band when their band keys agree at a position. */
  private def shareBand(a: Seq[Any], b: Seq[Any]): Boolean =
    a.zip(b).exists { case (x, y) => x == y }

  /** Brute force over every pair: a < b over one side, or new × old. */
  private def allPairs[R](rows: Seq[(Long, R)], other: Option[Seq[(Long, R)]])
      : Seq[((Long, R), (Long, R))] =
    for {
      a <- rows
      b <- other.getOrElse(rows)
      if other.isDefined || a._1 < b._1
    } yield (a, b)

  private def sortedPairs[T](d: DataFrame)(row: org.apache.spark.sql.Row => T)
      (key: T => (Long, Long)): Seq[T] =
    d.collect().toSeq.map(row).sortBy(key)

  /** Random signatures in two near-duplicate families: each value is
    * one of two bases with up to `maxFlips` random bits flipped. */
  private def nearBits(bits: Int, maxFlips: Int): Gen[List[Long]] = for {
    bases <- Gen.listOfN(2, Gen.choose(0L, (1L << bits) - 1))
    n <- Gen.choose(2, 9)
    vs <- Gen.listOfN(n, for {
      b <- Gen.oneOf(bases)
      nf <- Gen.choose(0, maxFlips)
      flips <- Gen.listOfN(nf, Gen.choose(0, bits - 1))
    } yield flips.foldLeft(b)((v, f) => v ^ (1L << f)))
  } yield vs

  private val hashSetGen: Gen[List[Long]] =
    Gen.choose(1, 6).flatMap(Gen.listOfN(_, Gen.choose(0L, 12L))).map(_.distinct)

  property("minhash band join and probe == brute force, each pair once") =
    forAll(Gen.choose(2, 9).flatMap(Gen.listOfN(_, hashSetGen))) { sets =>
      import spark.implicits._
      val rows = sets.zipWithIndex.map { case (hs, i) => (i.toLong, hs) }
      val df = rows.toDF("doc_id", "hs")
      def bandsOf(hs: Seq[Long]) = (0 until 12).map { s =>
        hs.map(h => (TextDedup.MinhashA(s) * h + TextDedup.MinhashB(s))
          % TextDedup.MinhashP).min
      }.grouped(4).toSeq
      def brute(other: Option[Seq[(Long, List[Long])]]) =
        allPairs(if (other.isDefined) rows.filter(_._1 % 2 == 0) else rows, other)
          .collect { case ((a, ha), (b, hb)) if shareBand(bandsOf(ha), bandsOf(hb)) =>
            (a, b, ha.intersect(hb).size.toDouble / (ha ++ hb).distinct.size) }
          .filter(_._3 >= 0.3).sortBy(t => (t._1, t._2))
      def found(d: DataFrame) = sortedPairs(d)(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2)))(t => (t._1, t._2))
      val self = found(TextDedup.minhashNearDups(df, threshold = 0.3))
      val probe = found(TextDedup.minhashProbe(df.filter(col("doc_id") % 2 === 0),
        df.filter(col("doc_id") % 2 =!= 0), threshold = 0.3))
      val bruteSelf = brute(None)
      val bruteProbe = brute(Some(rows.filter(_._1 % 2 != 0)))
      Prop(self == bruteSelf) :| s"self $self != $bruteSelf" &&
      Prop(probe == bruteProbe) :| s"probe $probe != $bruteProbe"
    }

  property("simhash band join == brute force, each pair once") =
    forAll(nearBits(TextDedup.SimhashBits, 5)) { hashes =>
      import spark.implicits._
      val rows = hashes.zipWithIndex.map { case (h, i) => (i.toLong, h) }
      def chunks(h: Long) = (0 until 4).map(c => (h >> (15 * c)) & 0x7fffL)
      val brute = allPairs(rows, None).collect {
        case ((a, ha), (b, hb)) if shareBand(chunks(ha), chunks(hb)) =>
          (a, b, java.lang.Long.bitCount(ha ^ hb)) }
        .filter(_._3 <= 3)
      val found = sortedPairs(TextDedup.simhashPairs(
        rows.toDF("doc_id", "simhash"), maxHamming = 3))(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2)))(t => (t._1, t._2))
      Prop(found == brute) :| s"$found != $brute"
    }

  property("phash band join == brute force within a media type, each pair once") =
    forAll(nearBits(16, 4).flatMap(hs =>
        Gen.listOfN(hs.size, Gen.oneOf("image", "audio")).map(hs.zip(_)))) { docs =>
      import spark.implicits._
      val rows = docs.zipWithIndex.map { case ((h, t), i) => (i.toLong, (h.toInt, t)) }
      def bands(h: Int) = Seq(h / 1024, h / 32 % 32, h % 32)
      val brute = allPairs(rows, None).collect {
        case ((a, (ha, ta)), (b, (hb, tb)))
            if ta == tb && shareBand(bands(ha), bands(hb)) =>
          (ta, a, b, Integer.bitCount(ha ^ hb)) }
        .filter(_._4 <= 2).sortBy(t => (t._2, t._3))
      val df = rows.map { case (i, (h, t)) => (t, i, h) }
        .toDF("media_type", "doc_id", "phash")
      val found = sortedPairs(Multimodal.phashPairs(df))(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))(t => (t._2, t._3))
      Prop(found == brute) :| s"$found != $brute"
    }

  /** Two clusters of 4-dim vectors, every coordinate at least 0.1 from
    * zero, so each vector has a norm. */
  private val vecsGen: Gen[List[Array[Float]]] = for {
    bases <- Gen.listOfN(2, Gen.listOfN(4, Gen.oneOf((-9 to -1) ++ (1 to 9))))
    n <- Gen.choose(2, 8)
    vs <- Gen.listOfN(n, for {
      b <- Gen.oneOf(bases)
      d <- Gen.listOfN(4, Gen.choose(-3, 3))
    } yield b.zip(d).map { case (x, e) => x + e * 0.3f }.toArray)
  } yield vs

  property("sign-LSH band join == brute force, with and without verify") =
    forAll(vecsGen) { vecs =>
      import spark.implicits._
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val keys = df.select(col("vec_id"), VectorOps.signLshKeys(col("embedding")))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val rows = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      def dot(a: Array[Float], b: Array[Float]) =
        a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
      val banded = allPairs(rows, None).collect {
        case ((a, va), (b, vb)) if shareBand(keys(a), keys(b)) =>
          (a, b, dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb)))) }
      val cand = sortedPairs(VectorOps.candidatePairs(df))(r =>
        (r.getLong(0), r.getLong(1)))(identity)
      val near = sortedPairs(VectorOps.cosineNearDups(df, 0.9))(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2)))(t => (t._1, t._2))
      val bruteNear = banded.filter(_._3 >= 0.9)
      Prop(cand == banded.map(t => (t._1, t._2))) :| s"candidates $cand" &&
      Prop(near == bruteNear) :| s"near $near != $bruteNear"
    }
}
