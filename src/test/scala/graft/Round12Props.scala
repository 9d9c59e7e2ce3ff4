package graft

import org.scalacheck.Gen
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._

import graft.operators.{LshPlanner, Multimodal, TailDynamics, TermStructure}

/** Property layer for the round-12 machinery: scale invariance of the
  * OU fit, bounds and budget-totality of the LSH planner, slope-range
  * and translation invariance of Theil–Sen, and permutation/reversal
  * invariants of the VAD segmenter. */
object Round12Props extends SparkProperties("Round12") {
  private lazy val spark = TestSpark.spark

  private def ticksDf(closes: List[Double]) = {
    import spark.implicits._
    closes.zipWithIndex.map { case (c, d) => ("X", d.toLong, c) }
      .toDF("symbol", "d", "close")
      .select($"symbol", timestamp_seconds($"d" * 86400L).as("timestamp"),
        $"close")
  }

  private val walkGen: Gen[List[Double]] = for {
    n <- Gen.choose(8, 40)
    steps <- Gen.listOfN(n, Gen.choose(-40, 40))
  } yield steps.scanLeft(1000.0)((p, s) => (p * (1.0 + s / 1000.0))
    .max(200.0)).map(x => math.rint(x * 100) / 100)

  // OU: rho is invariant under a multiplicative price rescale (a log
  // SHIFT) — up to the 5-dp input grid, which bounds the slope move.
  property("ouHalfLife rho is stable under price rescale") =
    forAll(walkGen, Gen.choose(2, 8)) { (closes, k) =>
      def rho(mult: Double): Option[Double] = {
        val r = TailDynamics.ouHalfLife(
          ticksDf(closes.map(_ * mult))).collect()
        if (r.isEmpty || r.head.isNullAt(r.head.fieldIndex("rho"))) None
        else Some(r.head.getAs[Double]("rho"))
      }
      (rho(1.0), rho(k.toDouble)) match {
        case (Some(a), Some(b)) => math.abs(a - b) < 2e-3
        case _ => true
      }
    }

  // LSH planner: configs cover the budget exactly; probabilities and
  // masses stay in range; the optimal flag marks a true minimizer.
  property("bandPlan configs multiply to k and masses are bounded") =
    forAll(Gen.oneOf(4, 6, 8, 12, 16, 24)) { k =>
      val cfgOk = LshPlanner.configs(k).forall { case (b, r) => b * r == k }
      val rows = LshPlanner.bandPlan(spark, k, 3, 10).collect()
      val n = rows.head.getAs[Long]("n_grid").toDouble
      val bounded = rows.forall { r =>
        val fp = r.getAs[Double]("fp_mass"); val fn = r.getAs[Double]("fn_mass")
        fp >= 0 && fn >= 0 && fp + fn <= n + 1e-9
      }
      val best = rows.map(_.getAs[Double]("total_err")).min
      val flagOk = rows.forall { r =>
        r.getAs[Boolean]("is_optimal") == (r.getAs[Double]("total_err") == best)
      }
      cfgOk && bounded && flagOk
    }

  // Theil–Sen: the median slope lies within the pairwise-slope range,
  // and adding a constant to every IV leaves it unchanged.
  private val curveGen: Gen[List[Double]] = for {
    ivs <- Gen.listOfN(6, Gen.choose(100, 900))
  } yield ivs.map(_ / 1000.0)

  property("theilSenSlope is translation-invariant in iv") =
    forAll(curveGen) { ivs =>
      val mids = Seq((0, 7), (8, 14), (15, 30), (31, 60), (61, 90), (91, 999))
      val day0 = java.time.LocalDate.of(2024, 3, 1)
      def df(shift: Double) = {
        import spark.implicits._
        mids.zip(ivs).map { case ((lo, hi), iv) =>
          ("X",
            java.sql.Timestamp.valueOf(day0.atStartOfDay()),
            java.sql.Date.valueOf(day0.plusDays(((lo + hi) / 2).toLong.max(lo))),
            iv + shift)
        }.toDF("underlying", "timestamp", "expiry", "iv")
      }
      def slope(shift: Double) =
        TermStructure.theilSenSlope(df(shift)).collect()
          .head.getAs[Double]("ts_slope")
      math.abs(slope(0.0) - slope(0.25)) < 1e-9
    }

  // VAD: voiced count is a multiset property (invariant under frame
  // permutation); reversal preserves counts, segments AND longest run.
  private val framesGen: Gen[List[Int]] = for {
    n <- Gen.choose(2, 12)
    lvls <- Gen.listOfN(n, Gen.choose(0, 4))
  } yield lvls

  private def vadOf(levels: List[Int]) = {
    import spark.implicits._
    // level L -> frame of constant byte 128+20L (energy rises with L)
    val bytes = levels.flatMap(l =>
      Array.fill(64)((128 + 20 * l).toByte)).toArray
    val r = Multimodal.vadSegments(spark.createDataset(
      Seq(Multimodal.MediaRow(1L, "audio", bytes)))).collect().head
    (r.n_voiced, r.n_segments, r.longest_voiced)
  }

  property("vad voiced count is permutation-invariant; reversal exact") =
    forAll(framesGen) { levels =>
      val (v0, s0, l0) = vadOf(levels)
      val (v1, _, _) = vadOf(scala.util.Random.javaRandomToRandom(
        new java.util.Random(levels.hashCode().toLong))
        .shuffle(levels))
      val (v2, s2, l2) = vadOf(levels.reverse)
      v1 == v0 && v2 == v0 && s2 == s0 && l2 == l0
    }

  // Semivariance: the up/down legs recompose rv — exactly at the
  // decimal-sum level; the three sums render to double independently,
  // so the recomposition is tight to a few ulps, never more.
  property("semivariance legs recompose rv to the ulp") =
    forAll(walkGen) { closes =>
      import spark.implicits._
      val trades = closes.zipWithIndex
        .map { case (c, i) => ("X", i.toLong, c) }
        .toDF("underlying", "i", "price")
        .select($"underlying",
          timestamp_seconds($"i" * 900L).as("timestamp"), $"price")
      graft.operators.RealizedVol.semivariance(trades).collect()
        .forall { r =>
          val rv = r.getAs[Double]("rv_cc")
          val s = r.getAs[Double]("rsv_up") + r.getAs[Double]("rsv_down")
          val split = math.abs(s - rv) <= 4 * math.ulp(math.max(rv, s))
          val share = r.fieldIndex("down_share")
          split && (r.isNullAt(share) ||
            (r.getDouble(share) >= 0.0 && r.getDouble(share) <= 1.0))
        }
    }

  // TwoNN: bit-identical under a power-of-two rescale — float
  // multiplication by 2^k is exact, squared distances scale by
  // exactly 2^2k, so every q2/q1 ratio (and the ln-ratio sum) is
  // unchanged down to the last bit.
  private val vecsGen: Gen[List[(Long, List[Int])]] = for {
    n <- Gen.choose(6, 16)
    vs <- Gen.listOfN(n, Gen.listOfN(4, Gen.choose(-50, 50)))
  } yield vs.zipWithIndex.map { case (v, i) => ((i + 1).toLong, v) }

  property("intrinsicDim invariant under power-of-two rescale") =
    forAll(vecsGen, Gen.oneOf(0.25f, 0.5f, 2.0f, 4.0f)) { (vecs, s) =>
      import spark.implicits._
      def run(scale: Float): (Long, Option[Double]) = {
        val e = vecs
          .map { case (id, v) =>
            (id, v.map(x => x * 0.1f * scale).toArray) }
          .toDF("vec_id", "embedding")
        val r = graft.operators.VectorOps
          .intrinsicDim(e, e.filter(col("vec_id") <= 4L))
          .collect().head
        (r.getAs[Long]("n_probes"),
          if (r.isNullAt(r.fieldIndex("id_twonn"))) None
          else Some(r.getAs[Double]("id_twonn")))
      }
      run(1.0f) == run(s)
    }

  // Containment dominates Jaccard on every candidate pair, and both
  // directed containments live in (0, 1].
  private val docsGen: Gen[List[String]] = for {
    n <- Gen.choose(2, 5)
    ds <- Gen.listOfN(n, Gen.listOfN(8, Gen.oneOf(
      "alpha", "beta", "gamma", "delta", "eps")).map(_.mkString(" ")))
  } yield ds

  property("containment >= jaccard, both directions in (0,1]") =
    forAll(docsGen) { texts =>
      import spark.implicits._
      val hashed = texts.zipWithIndex
        .map { case (t, i) => ((i + 1).toLong, t) }
        .toDF("doc_id", "text")
        .select(col("doc_id"),
          graft.functions.TextHashColumns
            .ngramHashes(col("text"), 3).as("hs"))
      val cont = graft.operators.TextDedup
        .containmentPairs(hashed, maxDf = 100, threshold = 0.0,
          tokensCol = "hs")
        .collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
          (r.getAs[Double]("contain_a_in_b"),
            r.getAs[Double]("contain_b_in_a"),
            r.getAs[Double]("containment"))).toMap
      val jac = graft.operators.TextDedup
        .invertedIndexPairs(hashed, maxDf = 100, threshold = 0.0,
          tokensCol = "hs")
        .collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
          r.getAs[Double]("jaccard")).toMap
      // one posting-count kernel under both: with c common postings,
      // ab = c/|A|, ba = c/|B| and jaccard = c/(|A|+|B|-c), so
      // 1/jaccard = 1/ab + 1/ba - 1
      cont.keySet == jac.keySet && cont.forall { case (k, (ab, ba, mx)) =>
        ab > 0 && ab <= 1 && ba > 0 && ba <= 1 && mx >= jac(k) &&
          math.abs(1 / jac(k) - (1 / ab + 1 / ba - 1)) < 1e-9
      }
    }
}
