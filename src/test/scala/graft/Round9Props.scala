package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._

import graft.operators.{EventsAnalytics, IntervalJoin, TextBpe}

/** Property layer for the round-9 operators: distributed results vs
  * straight-line in-memory references on random inputs. */
object Round9Props extends Properties("Round9") {
  private lazy val spark = TestSpark.spark

  // the BPE properties launch a full distributed merge loop per case;
  // 15 random corpora pin the semantics without minutes of job churn
  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(15)

  private val eventsGen: Gen[List[(Long, Long, String)]] =
    Gen.listOfN(40, for {
      u <- Gen.choose(1L, 4L)
      us <- Gen.choose(0L, 40000000L)
      t <- Gen.oneOf("a", "b", "c")
    } yield (u, us, t))

  private def toDf(evs: List[(Long, Long, String)]) = {
    import spark.implicits._
    evs.zipWithIndex.map { case ((u, us, t), i) =>
      (i.toLong, u, us, t, 1.0)
    }.toDF("event_id", "user_id", "us", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
  }

  property("pathTransitions matches the in-memory adjacent-pair reference") =
    forAll(eventsGen) { evs =>
      // reference: per user sort by (us, event_id), count adjacent pairs
      val pairs = evs.zipWithIndex
        .map { case ((u, us, t), i) => (u, us, i.toLong, t) }
        .groupBy(_._1).toSeq.flatMap { case (_, es) =>
          val sorted = es.sortBy(e => (e._2, e._3)).map(_._4)
          sorted.zip(sorted.drop(1))
        }
      val refCounts = pairs.groupBy(identity).view.mapValues(_.size.toLong)
        .toMap
      val fromTotals = pairs.groupBy(_._1).view.mapValues(_.size.toLong)
        .toMap
      val got = EventsAnalytics.pathTransitions(toDf(evs))
        .select("from_type", "to_type", "n_transitions", "p_transition")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
      val countsOk = got.view.mapValues(_._1).toMap == refCounts
      val probsOk = got.forall { case ((f, _), (n, p)) =>
        p == n.toDouble / fromTotals(f).toDouble
      }
      Prop(countsOk && probsOk) :| s"got=$got ref=$refCounts"
    }

  private val intervalsGen: Gen[List[(Long, Long)]] =
    Gen.listOfN(6, for {
      s <- Gen.choose(0L, 200000L)
      len <- Gen.choose(0L, 150000L)
    } yield (s, s + len))

  private val pointsGen: Gen[List[Long]] =
    Gen.listOfN(30, Gen.choose(0L, 400000L))

  property("containmentJoin == naive containment filter") =
    forAll(intervalsGen, pointsGen, Gen.choose(1000L, 100000L)) {
      (ivs, pts, bucket) =>
        import spark.implicits._
        val ivDf = ivs.zipWithIndex
          .map { case ((s, e), i) => ("K", i.toLong, s, e) }
          .toDF("k", "iv_id", "start_ep", "end_ep")
        val ptDf = pts.zipWithIndex
          .map { case (p, i) => ("K", i.toLong, p) }
          .toDF("k", "pt_id", "ep")
        val got = IntervalJoin
          .containmentJoin(ptDf, ivDf, "k", "ep", "start_ep", "end_ep",
            bucketSec = bucket)
          .select("pt_id", "iv_id").as[(Long, Long)].collect().toSet
        val ref = (for {
          ((s, e), ii) <- ivs.zipWithIndex
          (p, pi) <- pts.zipWithIndex
          if p >= s && p <= e
        } yield (pi.toLong, ii.toLong)).toSet
        Prop(got == ref) :| s"bucket=$bucket got=${got.size} ref=${ref.size}"
    }

  private val corpusGen: Gen[List[String]] =
    Gen.listOfN(8, Gen.listOfN(6,
      Gen.oneOf("ab", "ba", "abc", "aa", "b", "cab"))
      .map(_.mkString(" ")))

  property("BPE merges: deterministic, pair counts non-increasing") =
    forAll(corpusGen) { texts =>
      import spark.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val (m1, _) = TextBpe.train(docs, 6)
      val (m2, _) = TextBpe.train(docs, 6)
      val monotone = m1.map(_.pair_count)
        .zip(m1.map(_.pair_count).drop(1)).forall { case (a, b) => a >= b }
      Prop(m1 == m2 && monotone) :| s"merges=$m1"
    }

  property("BPE fold preserves concatenated word content") =
    forAll(corpusGen) { texts =>
      import spark.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val (merges, _) = TextBpe.train(docs, 4)
      val ok = TextBpe.wordSymbols(docs).collect().forall { r =>
        val folded = merges.foldLeft(r.getSeq[String](2).toArray)(
          (s, m) => TextBpe.fold(s, m.l_sym, m.r_sym))
        folded.mkString == r.getString(0) + TextBpe.EndToken
      }
      Prop(ok)
    }
}
