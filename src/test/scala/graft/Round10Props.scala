package graft

import org.scalacheck.Gen
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._

import graft.operators.{EventsAnalytics, NearestJoin, TextDedup}

/** Property layer for the round-10 machinery: random-input
  * comparisons against straight-line in-memory references
  * (nearest-temporal join), the closed-form-vs-recursion identity
  * (CUSUM), and the winnowing shared-run guarantee. */
object Round10Props extends SparkProperties("Round10") {
  private lazy val spark = TestSpark.spark

  // ---- nearest join vs brute force ----

  private val tsGen: Gen[(List[Long], List[(Long, Double)])] = for {
    lefts <- Gen.listOfN(25, Gen.choose(0L, 260000L)) // ~3 day-buckets
    rights <- Gen.listOfN(12, for {
      t <- Gen.choose(0L, 260000L)
      v <- Gen.choose(1, 999)
    } yield (t, v.toDouble))
  } yield (lefts, rights)

  property("nearest join equals the brute-force nearest with backward ties") =
    forAll(tsGen) { case (lefts, rights) =>
      import spark.implicits._
      val l = lefts.zipWithIndex.map { case (t, i) =>
        ("K", new java.sql.Timestamp(t * 1000), i.toLong) }
        .toDF("k", "t", "id")
      val r = rights.map { case (t, v) =>
        ("K", new java.sql.Timestamp(t * 1000), v) }.toDF("k", "t", "v")
      val got = NearestJoin.nearest(l, r, "k", "t", "t", "v", "nv", "d")
        .collect()
        .map(row => row.getAs[Long]("id") ->
          Option(row.getAs[java.lang.Double]("nv")).map(_.doubleValue))
        .toMap
      // reference: dedup right per ms-instant with max value, then
      // scan for the closest (ties -> earlier/backward)
      val dedup = rights.groupBy(_._1).map { case (t, vs) =>
        (t, vs.map(_._2).max) }.toList
      lefts.zipWithIndex.forall { case (lt, i) =>
        val expect =
          if (dedup.isEmpty) None
          else Some(dedup.minBy { case (rt, _) =>
            (math.abs(rt - lt), if (rt <= lt) 0 else 1) }._2)
        got(i.toLong) == expect
      }
    }

  // ---- CUSUM closed form == recursion ----

  private val countsGen: Gen[List[Int]] =
    Gen.listOfN(14, Gen.choose(1, 60))

  property("cusum closed form equals the max(0, S+z) recursion") =
    forAll(countsGen) { counts =>
      import spark.implicits._
      val df = counts.zipWithIndex.flatMap { case (n, d) =>
        (1 to n).map(i => ((d * 1000 + i).toLong, 1L,
          new java.sql.Timestamp((d * 86400L + i) * 1000), "view", 1.0))
      }.toDF("event_id", "user_id", "ts", "event_type", "value")
      val got = EventsAnalytics.cusumDays(df).collect()
        .map(r => r.getAs[Long]("day") ->
          (r.getAs[Double]("cusum_up"), r.getAs[Double]("cusum_down")))
        .toMap
      // reference: the recursion on the same 6-dp-quantized z
      val mu = counts.sum.toDouble / counts.length
      val zq = counts.map(n => BigDecimal(n - mu)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP))
      var (sUp, sDn) = (BigDecimal(0), BigDecimal(0))
      counts.indices.forall { d =>
        sUp = (sUp + zq(d)).max(0)
        sDn = (sDn - zq(d)).max(0)
        val (gu, gd) = got(d.toLong)
        gu == sUp.toDouble && gd == sDn.toDouble
      }
    }

  // ---- winnowing shared-run guarantee ----

  private val wordGen: Gen[String] =
    Gen.choose(0, 25).map(i => s"w$i")

  property("docs sharing a run of >= window+k-1 words share a fingerprint") =
    forAll(Gen.listOfN(8, wordGen), Gen.listOfN(8, wordGen),
      Gen.listOfN(6, wordGen)) { (pre, post, run0) =>
      import spark.implicits._
      val k = 3; val w = 4
      val run = run0 // exactly w + k - 1 = 6 words
      val d1 = (pre ++ run).mkString(" ")
      val d2 = (run ++ post).mkString(" ")
      val sets = TextDedup
        .winnowSets(Seq((1L, d1), (2L, d2)).toDF("doc_id", "text"), k, w)
        .select(col("doc_id"), col("_fps"))
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          r.getSeq[Long](1).toSet).toMap
      sets(1L).intersect(sets(2L)).nonEmpty
    }

  // ---- Misra-Gries guarantee under arbitrary split/merge order ----

  private val mgGen: Gen[(List[String], Int, List[Int])] = for {
    n <- Gen.choose(10, 400)
    // zipf-ish alphabet: low ids much likelier
    stream <- Gen.listOfN(n,
      Gen.frequency((40, Gen.const(0)), (20, Gen.const(1)),
        (10, Gen.const(2)), (10, Gen.choose(3, 6)),
        (20, Gen.choose(7, 30))).map(i => s"w$i"))
    k <- Gen.choose(2, 9)
    nSplits <- Gen.choose(1, 6)
    cuts <- Gen.listOfN(nSplits, Gen.choose(0, n))
  } yield (stream, k, cuts)

  property("MG summary keeps every freq>N/(k+1) item within N/(k+1) error") =
    forAll(mgGen) { case (stream, k, cuts) =>
      import graft.operators.HeavyHitters
      // split the stream at arbitrary points, summarize each part,
      // merge left-to-right — the partition/merge shape Spark uses
      val bounds = (0 +: cuts.sorted :+ stream.length).distinct.sorted
      val parts = bounds.zip(bounds.tail)
        .map { case (a, b) => stream.slice(a, b) }
      val sk = parts.map(p => HeavyHitters.summarize(p, k))
        .foldLeft(Map.empty[String, Long])(HeavyHitters.merge(_, _, k))
      val exact = stream.groupBy(identity).view.mapValues(_.size.toLong)
      val n = stream.length.toLong
      val guaranteedOk = exact.forall { case (w, f) =>
        f * (k + 1) <= n ||
          sk.get(w).exists(est => est <= f && (f - est) * (k + 1) <= n)
      }
      val noOverestimate = sk.forall { case (w, est) =>
        est <= exact.getOrElse(w, 0L)
      }
      guaranteedOk && noOverestimate && sk.size <= k
    }
}
