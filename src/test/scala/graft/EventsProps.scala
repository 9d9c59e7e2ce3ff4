package graft

import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._

import graft.operators.{EventsAnalytics, TextAnalysis}

/** Property layer for the events-analytics and chunking operators:
  * each distributed result is compared against a straight-line
  * in-memory reference implementation on random inputs, so the
  * operator semantics (not just the fixed spec fixtures) are pinned.
  */
object EventsProps extends SparkProperties("Events") {
  private lazy val spark = TestSpark.spark

  /** (user, epoch-µs, type) triples over a tiny key space so gaps,
    * ties and repeated types actually occur. */
  private val eventsGen: Gen[List[(Long, Long, String)]] =
    Gen.listOfN(40, for {
      u <- Gen.choose(1L, 4L)
      us <- Gen.choose(0L, 40000000L) // 0..40 s
      t <- Gen.oneOf("view", "click", "purchase")
    } yield (u, us, t))

  private def toDf(evs: List[(Long, Long, String)]) = {
    import spark.implicits._
    evs.zipWithIndex.map { case ((u, us, t), i) =>
      (i.toLong, u, us, t, 1.0)
    }.toDF("event_id", "user_id", "us", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
  }

  property("sessionize matches the in-memory islands-and-gaps reference") =
    forAll(eventsGen, Gen.choose(1L, 20L)) {
      (evs: List[(Long, Long, String)], gapSec: Long) =>
        val gapUs = gapSec * 1000000L
        // reference: per user, sort by (us, event_id), split on gap
        val ref = evs.zipWithIndex
          .map { case ((u, us, t), i) => (u, us, i.toLong) }
          .groupBy(_._1).toSeq.flatMap { case (u, es) =>
            val sorted = es.map(e => (e._2, e._3)).sortBy(identity)
            val seqs = sorted.foldLeft(List.empty[List[(Long, Long)]]) {
              case (Nil, e) => List(List(e))
              case (cur :: done, e) =>
                if (e._1 - cur.head._1 > gapUs) List(e) :: cur :: done
                else (e :: cur) :: done
            }.reverse.map(_.reverse)
            seqs.zipWithIndex.map { case (s, i) =>
              ((u, i + 1L), (s.map(_._1).min, s.map(_._1).max, s.size.toLong))
            }
          }.toMap
        val got = EventsAnalytics.sessionize(toDf(evs), gapSec = gapSec)
          .select("user_id", "session_seq", "session_start_us",
            "session_end_us", "n_events")
          .collect().map(r => ((r.getLong(0), r.getLong(1)),
            (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
        Prop(got == ref) :| s"got=$got ref=$ref"
    }

  property("funnel matches the in-memory greedy earliest-chain reference") =
    forAll(eventsGen, Gen.choose(1L, 30L)) {
      (evs: List[(Long, Long, String)], winSec: Long) =>
        val steps = Seq("view", "click", "purchase")
        val winUs = winSec * 1000000L
        val ref = evs.map(_._1).distinct.map { u =>
          val mine = evs.filter(_._1 == u)
          def minAfter(tpe: String, after: Long, cap: Long): Option[Long] = {
            val c = mine.filter(e => e._3 == tpe && e._2 > after &&
              e._2 <= cap).map(_._2)
            if (c.isEmpty) None else Some(c.min)
          }
          val t1 = {
            val c = mine.filter(_._3 == steps(0)).map(_._2)
            if (c.isEmpty) None else Some(c.min)
          }
          val t2 = t1.flatMap(a => minAfter(steps(1), a, a + winUs))
          val t3 = (t1, t2) match {
            case (Some(a), Some(b)) => minAfter(steps(2), b, a + winUs)
            case _ => None
          }
          u -> Seq(t1, t2, t3).count(_.isDefined).toLong
        }.toMap
        val got = EventsAnalytics.funnel(toDf(evs), steps, winSec)
          .select("user_id", "funnel_level")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        Prop(got == ref) :| s"got=$got ref=$ref"
    }

  property("funnelAnyChain matches the exhaustive max-over-anchors reference") =
    forAll(eventsGen, Gen.choose(1L, 30L)) {
      (evs: List[(Long, Long, String)], winSec: Long) =>
        val steps = Seq("view", "click", "purchase")
        val winUs = winSec * 1000000L
        val ref = evs.map(_._1).distinct.map { u =>
          val mine = evs.filter(_._1 == u)
          def minAfter(tpe: String, after: Long, cap: Long): Option[Long] = {
            val c = mine.filter(e => e._3 == tpe && e._2 > after &&
              e._2 <= cap).map(_._2)
            if (c.isEmpty) None else Some(c.min)
          }
          // every step-1 event is a candidate anchor; greedy from a
          // fixed anchor is optimal, so max-over-anchors IS the
          // exists-a-chain answer
          val chains = mine.filter(_._3 == steps(0)).map(_._2).distinct
            .map { a =>
              val t2 = minAfter(steps(1), a, a + winUs)
              val t3 = t2.flatMap(b => minAfter(steps(2), b, a + winUs))
              (a, Seq(Some(a), t2, t3).count(_.isDefined).toLong)
            }
          val best =
            if (chains.isEmpty) (None: Option[Long], 0L)
            else {
              val top = chains.maxBy(_._2)._2
              (Some(chains.filter(_._2 == top).map(_._1).min), top)
            }
          u -> best
        }.toMap
        val got = EventsAnalytics.funnelAnyChain(toDf(evs), steps, winSec)
          .select("user_id", "t1_us", "funnel_level_any")
          .collect().map(r => r.getLong(0) ->
            ((if (r.isNullAt(1)) None else Some(r.getLong(1))),
              r.getLong(2))).toMap
        Prop(got == ref) :| s"got=$got ref=$ref"
    }

  property("anyChain level is never below the greedy level") =
    forAll(eventsGen, Gen.choose(1L, 30L)) {
      (evs: List[(Long, Long, String)], winSec: Long) =>
        val steps = Seq("view", "click", "purchase")
        val greedy = EventsAnalytics.funnel(toDf(evs), steps, winSec)
          .select("user_id", "funnel_level")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val any = EventsAnalytics.funnelAnyChain(toDf(evs), steps, winSec)
          .select("user_id", "funnel_level_any")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        Prop(greedy.forall { case (u, l) => any(u) >= l }) :|
          s"greedy=$greedy any=$any"
    }

  property("retention matches the in-memory cohort-offset reference") =
    forAll(eventsGen, Gen.choose(0, 3)) {
      (evs: List[(Long, Long, String)], maxOff: Int) =>
        val dayUs = 86400000000L
        // shrink days so offsets actually vary within the µs range:
        // treat each second as a "day" by scaling us up
        val scaled = evs.map { case (u, us, t) => (u, us * 86400L, t) }
        val act = scaled.map { case (u, us, _) => (u, us / dayUs) }.distinct
        val day0 = act.groupBy(_._1).map { case (u, ds) =>
          u -> ds.map(_._2).min
        }
        val ref = act
          .map { case (u, d) => (day0(u), d - day0(u)) }
          .filter(_._2 <= maxOff)
          .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
        val got = EventsAnalytics.retention(toDf(scaled), maxOff)
          .collect().map { r =>
            val d0 = java.time.LocalDate.parse(r.getString(0)).toEpochDay
            ((d0, r.getLong(1)), r.getLong(2))
          }.toMap
        Prop(got == ref) :| s"got=$got ref=$ref"
    }

  property("chunkWithStride covers [0,n) exactly with stride steps") =
    forAll(Gen.choose(1L, 200L), Gen.choose(1L, 40L), Gen.choose(0L, 30L)) {
      (n: Long, stride: Long, extra: Long) =>
        import spark.implicits._
        val chunk = stride + extra
        val chunks = TextAnalysis
          .chunkWithStride(Seq((1L, n)).toDF("doc_id", "n_tokens"),
            chunk, stride)
          .select("chunk_id", "tok_from", "tok_until")
          .as[(Long, Long, Long)].collect().sortBy(_._1)
        val ids = chunks.map(_._1)
        Prop(
          ids.sameElements(chunks.indices.map(_.toLong)) && // dense ids
          chunks.head._2 == 0L &&                   // starts at 0
          chunks.last._3 == n &&                    // reaches the end
          chunks.forall(c => c._2 == c._1 * stride) &&
          chunks.forall(c => c._3 - c._2 > 0 && c._3 - c._2 <= chunk) &&
          // consecutive chunks overlap by chunk-stride (or meet the end)
          chunks.sliding(2).forall {
            case Array(a, b) => b._2 <= a._3
            case _ => true
          } &&
          // all but the last chunk are full-width
          chunks.dropRight(1).forall(c => c._3 - c._2 == chunk)
        ) :| s"n=$n chunk=$chunk stride=$stride -> ${chunks.toSeq}"
    }
}
