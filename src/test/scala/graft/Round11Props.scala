package graft

import org.scalacheck.Gen
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._

import graft.operators.{MarkovAttribution, Microstructure}

/** Property layer for the round-11 machinery: barrier-consistency of
  * the triple-barrier labeler, monotonicity/range invariants of the
  * Kaplan–Meier curve, translation invariance of the Roll estimator,
  * scale invariance of the variance ratio, and the
  * removal-can-only-hurt monotonicity of Markov attribution. */
object Round11Props extends SparkProperties("Round11") {
  private lazy val spark = TestSpark.spark

  private def ticksDf(closes: List[Double]) = {
    import spark.implicits._
    closes.zipWithIndex.map { case (c, d) => ("X", d.toLong, c) }
      .toDF("symbol", "d", "close")
      .select($"symbol", timestamp_seconds($"d" * 86400L).as("timestamp"),
        $"close")
  }

  private val walkGen: Gen[List[Double]] = for {
    n <- Gen.choose(5, 30)
    steps <- Gen.listOfN(n, Gen.choose(-40, 40))
  } yield steps.scanLeft(1000.0)((p, s) => (p * (1.0 + s / 1000.0))
    .max(200.0)).map(x => math.rint(x * 100) / 100)

  property("triple-barrier labels are consistent with the exit return") =
    forAll(walkGen) { closes =>
      val rows = Microstructure.tripleBarrier(ticksDf(closes)).collect()
      rows.forall { r =>
        val label = r.getAs[Int]("label")
        val ret = r.getAs[Double]("exit_ret")
        val k = r.getAs[Int]("days_to_exit")
        val inRange = k >= 1 && k <= 10
        val consistent = label match {
          case 1 => ret >= 0.02
          case -1 => ret <= -0.02
          case _ => ret > -0.02 && ret < 0.02
        }
        inRange && consistent
      }
    }

  private val lifetimesGen: Gen[List[(Long, List[Long])]] = for {
    n <- Gen.choose(2, 12)
    users <- Gen.listOfN(n, for {
      d0 <- Gen.choose(0L, 30L)
      span <- Gen.choose(0L, 25L)
    } yield (d0, List(d0, d0 + span)))
  } yield users.zipWithIndex.map { case ((_, ds), u) => (u.toLong, ds) }

  property("kaplan–meier survival is in [0,1] and non-increasing") =
    forAll(lifetimesGen) { users =>
      import spark.implicits._
      val ev = users.flatMap { case (u, ds) => ds.map(d => (u, d)) }
        .toDF("user_id", "d")
        .select($"user_id", timestamp_seconds($"d" * 86400L).as("ts"))
      val rows = graft.operators.EventsAnalytics.kaplanMeier(ev)
        .orderBy("duration").collect()
      val s = rows.map(_.getAs[Double]("km_survival"))
      val risks = rows.map(_.getAs[Long]("n_risk"))
      s.forall(x => x >= 0.0 && x <= 1.0) &&
        s.zip(s.drop(1)).forall { case (a, b) => b <= a + 1e-12 } &&
        risks.zip(risks.drop(1)).forall { case (a, b) => b < a } &&
        risks.head == users.size
    }

  property("roll spread is invariant under a constant price shift") =
    forAll(walkGen) { closes =>
      val base = Microstructure.rollSpread(ticksDf(closes)).collect()
      val shifted = Microstructure
        .rollSpread(ticksDf(closes.map(_ + 500.0))).collect()
      base.length == shifted.length && base.zip(shifted).forall {
        case (a, b) =>
          math.abs(a.getAs[Double]("autocov")
            - b.getAs[Double]("autocov")) < 1e-6
      }
    }

  property("variance ratio is invariant under a constant price scale") =
    forAll(walkGen) { closes =>
      def vr(cs: List[Double]) = Microstructure.varianceRatio(ticksDf(cs))
        .collect().map(r => r.getAs[Int]("q") ->
          Option(r.getAs[java.lang.Double]("vr")).map(_.doubleValue)).toMap
      val a = vr(closes); val b = vr(closes.map(_ * 4.0))
      a.keySet == b.keySet && a.forall { case (q, va) =>
        (va, b(q)) match {
          case (Some(x), Some(y)) =>
            (x.isNaN && y.isNaN) || math.abs(x - y) < 1e-4
          case (None, None) => true
          case _ => false
        }
      }
    }

  // ---- Markov attribution: removing a channel never helps ----

  private val journeyGen: Gen[List[(Long, List[String])]] = {
    val step = Gen.oneOf("view", "click", "signup", "error")
    for {
      n <- Gen.choose(2, 10)
      users <- Gen.listOfN(n, for {
        len <- Gen.choose(1, 5)
        steps <- Gen.listOfN(len, step)
        conv <- Gen.oneOf(true, false)
      } yield steps ++ (if (conv) List("purchase") else Nil))
    } yield users.zipWithIndex.map { case (js, u) => (u.toLong, js) }
  }

  property("markov removal effect: removal_cvr <= base_cvr, shares sum to 1") =
    forAll(journeyGen) { users =>
      import spark.implicits._
      var eid = 0L
      val ev = users.flatMap { case (u, js) =>
        js.zipWithIndex.map { case (t, i) =>
          eid += 1; (u, i.toLong, eid, t)
        }
      }.toDF("user_id", "sec", "event_id", "event_type")
        .select($"user_id", timestamp_seconds($"sec").as("ts"),
          $"event_id", $"event_type")
      val counts = MarkovAttribution.transitionCounts(ev)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val base = MarkovAttribution
        .absorption(counts, MarkovAttribution.Channels, None)("START")
      val (_, rows) = MarkovAttribution.attribution(counts)
      val monotone = rows.forall(_._2 <= base + 1e-9)
      val shares = rows.map(_._4).sum
      val sharesOk = shares == 0.0 || math.abs(shares - 1.0) < 1e-9
      monotone && sharesOk
    }

  // ---- distributedNtile ≡ the ntile window it replaces ----

  private val ntileGen: Gen[(List[Int], Int)] = for {
    n <- Gen.choose(1, 60)
    vals <- Gen.listOfN(n, Gen.choose(0, 8)) // heavy ties on purpose
    b <- Gen.choose(1, 7) // includes buckets > n
  } yield (vals, b)

  property("distributedNtile is bit-identical to ntile OVER (ORDER BY)") =
    forAll(ntileGen) { case (vals, buckets) =>
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("u", "m")
      val want = df.withColumn("s",
        ntile(buckets).over(Window.orderBy($"m".desc, $"u")))
        .select($"u", $"s").as[(Long, Int)].collect().sortBy(_._1)
      val got = graft.operators.DistributedSelection
        .distributedNtile(df, "s", buckets, Seq($"m".desc, $"u".asc))
        .select($"u", $"s").as[(Long, Int)].collect().sortBy(_._1)
      spark.catalog.clearCache()
      got.toSeq == want.toSeq
    }

  // ---- CdcMerge ≡ sequential changelog replay ----

  private val cdcGen: Gen[(List[(Long, Double)], List[(Long, String, Double)])] =
    for {
      nSnap <- Gen.choose(0, 8)
      snap <- Gen.listOfN(nSnap,
        Gen.zip(Gen.choose(1L, 10L), Gen.choose(1, 99).map(_.toDouble)))
      nChg <- Gen.choose(0, 15)
      chg <- Gen.listOfN(nChg, for {
        k <- Gen.choose(1L, 12L)
        op <- Gen.oneOf("U", "D")
        v <- Gen.choose(1, 99).map(_.toDouble)
      } yield (k, op, v))
    } yield (snap.distinctBy(_._1), chg)

  // ---- ArrDot ≡ the HOF fold it replaced (bit-level) ----

  private val vecPairGen: Gen[(List[Float], List[Float])] = for {
    n <- Gen.choose(0, 24)
    sameLen <- Gen.frequency(4 -> true, 1 -> false)
    m <- if (sameLen) Gen.const(n) else Gen.choose(0, 24)
    a <- Gen.listOfN(n, Gen.choose(-1e6f, 1e6f))
    b <- Gen.listOfN(m, Gen.choose(-1e6f, 1e6f))
  } yield (a, b)

  property("ArrDot is bit-identical to aggregate(zip_with(...))") =
    forAll(vecPairGen) { case (a, b) =>
      import spark.implicits._
      val df = Seq((a.toArray, b.toArray)).toDF("a", "b")
      val hof = aggregate(
        zip_with($"a", $"b", (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
      val r = df.select(
        graft.functions.VectorMath.arrDot($"a", $"b").as("k"),
        hof.as("h")).head()
      if (r.isNullAt(0) || r.isNullAt(1)) r.isNullAt(0) == r.isNullAt(1)
      else java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1))
    }

  private val corpusGen: Gen[List[List[Int]]] = for {
    nDocs <- Gen.choose(2, 25)
    docs <- Gen.listOfN(nDocs, for {
      sz <- Gen.choose(1, 12)
      toks <- Gen.listOfN(sz, Gen.choose(0, 20)) // heavy token sharing
    } yield toks.distinct)
  } yield docs.filter(_.nonEmpty)

  property("prefix-filter Jaccard join is lossless vs brute force") =
    forAll(corpusGen) { docs =>
      import spark.implicits._
      val df = docs.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
        .toDF("doc_id", "hs")
      val got = graft.operators.TextDedup
        .prefixJaccardPairs(df, 3, 10, tokensCol = "hs")
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      val want = (for {
        (a, i) <- docs.zipWithIndex; (b, j) <- docs.zipWithIndex
        if i < j
        inter = a.toSet.intersect(b.toSet).size
        if inter * 10 >= 3 * (a.size + b.size - inter) &&
          inter.toDouble / (a.size + b.size - inter) >= 0.3
      } yield (i.toLong, j.toLong)).toSet
      spark.catalog.clearCache()
      got == want
    }

  property("reduceStates folds batches order-independently") =
    forAll(cdcGen, Gen.choose(0L, 999L)) { case ((_, chg), permSeed) =>
      import spark.implicits._
      def df(rows: Seq[(Long, String, Double)], base: Int) =
        rows.zipWithIndex.map { case ((k, op, v), i) =>
          (k, (base + i).toLong, op, v, 100L + base + i)
        }.toDF("u", "event_id", "op", "v", "us")
      val whole = graft.operators.CdcMerge
        .latestState(df(chg, 0), "u", "op", "v", "us", "event_id")
        .as[(Long, String, Double, Long, Long)].collect().sorted
      // split into 3 batches (keeping global event ids), fold in a
      // seed-shuffled order via the version-guarded reduce
      val batches = chg.zipWithIndex.groupBy(_._2 % 3).toSeq
        .sortBy { case (g, _) => (g + permSeed) % 3 }
        .map { case (_, rs) =>
          rs.map { case ((k, op, v), i) =>
            (k, i.toLong, op, v, 100L + i)
          }.toDF("u", "event_id", "op", "v", "us")
        }
      val folded = batches
        .map(b => graft.operators.CdcMerge
          .latestState(b, "u", "op", "v", "us", "event_id"))
        .reduceOption((a, b) => graft.operators.CdcMerge
          .reduceStates(a.unionByName(b), "u"))
      val got = folded.map(_.as[(Long, String, Double, Long, Long)]
        .collect().sorted.toSeq).getOrElse(Seq.empty)
      got == whole.toSeq
    }

  property("CdcMerge equals a sequential replay of the changelog") =
    forAll(cdcGen) { case (snap, chg) =>
      import spark.implicits._
      val snapDf = snap.map { case (k, v) => (k, v, 0L) }
        .toDF("u", "val", "us")
      val chgDf = chg.zipWithIndex
        .map { case ((k, op, v), i) => (k, i.toLong, op, v, 100L + i) }
        .toDF("u", "event_id", "op", "v", "us")
      val latest = graft.operators.CdcMerge
        .latestState(chgDf, "u", "op", "v", "us", "event_id")
      val got = graft.operators.CdcMerge.merge(snapDf, latest, "u")
        .select($"u", $"val").as[(Long, Double)].collect().sorted
      // reference: replay changes in order over a mutable map
      val state = scala.collection.mutable.Map(snap: _*)
      chg.foreach {
        case (k, "U", v) => state(k) = v
        case (k, "D", _) => state.remove(k)
        case _ => ()
      }
      got.toSeq == state.toSeq.sorted
    }
}
