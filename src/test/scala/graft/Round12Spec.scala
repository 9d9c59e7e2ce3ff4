package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{LshPlanner, TailDynamics}

/** Round-12 wave: OU/AR(1) half-life (m37), the Hill tail estimator
  * (m38), the LSH band planner (llm_band_plan), and the
  * dynamic-partition-overwrite re-ingest (s18). Known-answer and
  * statistical-recovery tests here; the DuckDB oracles gate
  * full-scale parity. */
class Round12Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(daySec: Long): Timestamp = new Timestamp(daySec * 1000L)

  // ---- M37: OU half-life ----

  test("ouHalfLife recovers the AR(1) coefficient of a synthetic series") {
    // x_{t+1} = mu + rho (x_t - mu) + eps, exp'd into closes; one tick
    // per day so daily close == the series
    val rho = 0.7
    val mu = math.log(12000.0)
    val rng = new scala.util.Random(7)
    var x = mu
    val rows = (0 until 400).map { d =>
      x = mu + rho * (x - mu) + 0.02 * rng.nextGaussian()
      ("BTC", ts(d * 86400L + 10), math.exp(x))
    }
    val out = TailDynamics
      .ouHalfLife(rows.toDF("symbol", "timestamp", "close"))
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_pairs") == 399L)
    val rhoHat = r.getAs[Double]("rho")
    assert(math.abs(rhoHat - rho) < 0.12, s"rhoHat=$rhoHat")
    val hl = r.getAs[Double]("half_life_days")
    val hlTrue = -math.log(2.0) / math.log(rho)
    assert(math.abs(hl - hlTrue) / hlTrue < 0.5, s"hl=$hl true=$hlTrue")
  }

  test("ouHalfLife leaves half-life null when the series is explosive") {
    // rho > 1 (trend): half-life must be null, rho still reported
    val rows = (0 until 50).map { d =>
      ("ETH", ts(d * 86400L), 100.0 * math.exp(0.05 * d))
    }
    val r = TailDynamics
      .ouHalfLife(rows.toDF("symbol", "timestamp", "close"))
      .collect().head
    assert(r.getAs[Double]("rho") > 0.9)
    assert(r.isNullAt(r.fieldIndex("half_life_days")))
  }

  // ---- M38: Hill tail index ----

  test("hillTail recovers the tail index of Pareto returns") {
    // |r| ~ Pareto(alpha): closes built so each bar return IS the
    // sampled value; Hill on the top decile should land near alpha
    val alpha = 3.0
    val rng = new scala.util.Random(11)
    val n = 4000
    var price = 1000.0
    val rows = Seq.newBuilder[(String, Timestamp, Double)]
    rows += (("BTC", ts(0L), price))
    (1 to n).foreach { i =>
      val u = rng.nextDouble()
      val r = 1e-4 * math.pow(1.0 - u, -1.0 / alpha) // Pareto tail
      price *= (1.0 + r)
      rows += (("BTC", ts(i * 900L), price))
    }
    val out = TailDynamics
      .hillTail(rows.result().toDF("symbol", "timestamp", "close"))
      .collect().head
    val k = out.getAs[Long]("k_tail")
    assert(k > 200 && k < 450, s"k=$k") // ~10% strict exceedances
    val alphaHat = out.getAs[Double]("alpha")
    assert(math.abs(alphaHat - alpha) < 0.6, s"alphaHat=$alphaHat")
  }

  test("hillTail threshold is the exact ceil(0.9 n) order statistic") {
    // 20 distinct |returns| via constructed closes; u must equal the
    // 18th smallest (rank ceil(0.9*20) = 18)
    var price = 100.0
    val rets = (1 to 20).map(i => i * 0.001)
    val rows = Seq.newBuilder[(String, Timestamp, Double)]
    rows += (("ETH", ts(0L), price))
    rets.zipWithIndex.foreach { case (r, i) =>
      price *= (1.0 + r)
      rows += (("ETH", ts((i + 1) * 900L), price))
    }
    val out = TailDynamics
      .hillTail(rows.result().toDF("symbol", "timestamp", "close"))
      .collect().head
    val sorted = rets.sorted
    val uExpected = sorted(17) // rank 18, 1-indexed
    assert(math.abs(out.getAs[Double]("u_threshold") - uExpected) < 1e-9)
    assert(out.getAs[Long]("k_tail") == 2L) // strictly above rank 18
  }

  // ---- llm_band_plan: LSH S-curve planner ----

  test("bandPlan matches a driver-side brute-force S-curve score") {
    val k = 12; val thrNum = 3; val thrDen = 10; val grid = 20
    val rows = LshPlanner.bandPlan(spark, k, thrNum, thrDen, grid)
      .collect()
    assert(rows.length == LshPlanner.configs(k).size)
    def q9(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def q6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = LshPlanner.configs(k).map { case (b, r) =>
      val pts = (1 until grid).map { ji =>
        val j = ji.toDouble / grid
        val p = 1.0 - q9(math.pow(1.0 - q9(math.pow(j, r)), b))
        (ji, p)
      }
      val fp = pts.collect { case (ji, p) if ji * thrDen < thrNum * grid => q6(p) }.sum
      val fn = pts.collect { case (ji, p) if ji * thrDen >= thrNum * grid => q6(1.0 - p) }.sum
      ((b, r), (fp, fn))
    }.toMap
    rows.foreach { row =>
      val key = (row.getAs[Int]("bands"), row.getAs[Int]("rows_per_band"))
      val (fp, fn) = expected(key)
      assert(math.abs(row.getAs[Double]("fp_mass") - fp) < 1e-6, s"$key fp")
      assert(math.abs(row.getAs[Double]("fn_mass") - fn) < 1e-6, s"$key fn")
    }
    // exactly the brute-force argmin carries the flag
    val bestKey = expected.minBy { case (_, (fp, fn)) => fp + fn }._1
    val flagged = rows.filter(_.getAs[Boolean]("is_optimal"))
      .map(r => (r.getAs[Int]("bands"), r.getAs[Int]("rows_per_band")))
    assert(flagged.contains(bestKey), s"flagged=${flagged.toSeq}")
  }

  test("bandPlan collision probability is monotone in j per config") {
    val pts = LshPlanner.configs(12).toDF("bands", "rows_per_band")
      .withColumn("j_i", explode(sequence(lit(1), lit(19))))
      .withColumn("j", col("j_i").cast("double") / 20.0)
      .withColumn("p", lit(1.0) -
        pow(lit(1.0) - pow(col("j"), col("rows_per_band").cast("double")),
          col("bands").cast("double")))
      .select("bands", "rows_per_band", "j_i", "p")
      .collect()
      .groupBy(r => (r.getInt(0), r.getInt(1)))
    pts.values.foreach { rs =>
      val ordered = rs.sortBy(_.getInt(2)).map(_.getDouble(3))
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a <= b })
    }
  }

  // ---- M39: BNS jump test ----

  test("jumpTest flags the planted jump day, not the diffusive day") {
    import graft.operators.RealizedVol
    // bv ≈ rv only for DIFFUSIVE (Gaussian) returns — the μ1⁻² = π/2
    // scaling is calibrated to E|Z|; a deterministic drift day would
    // read bv/rv = π/2 by construction. Day 0: 96 Gaussian bars.
    // Day 1: the same walk plus one 50% jump at bar 48.
    val rng = new scala.util.Random(3)
    def bars(day: Int, jumpAt: Int): Seq[(String, Timestamp, Double)] = {
      var x = math.log(100.0)
      (0 until 96).map { i =>
        x += 0.01 * rng.nextGaussian()
        if (i == jumpAt) x += math.log(1.5)
        ("BTC", ts(day * 86400L + i * 900L), math.exp(x))
      }
    }
    val trades = (bars(0, -1) ++ bars(1, 48))
      .toDF("underlying", "timestamp", "price")
    val out = RealizedVol.jumpTest(trades).collect()
      .map(r => r.getAs[Long]("day_start") / 86400L ->
        (r.getAs[Double]("rv_cc"), r.getAs[Double]("bv"),
          r.getAs[Double]("jump_frac"))).toMap
    val (rv0, bv0, jf0) = out(0L)
    val (rv1, _, jf1) = out(1L)
    assert(math.abs(rv0 - bv0) / rv0 < 0.35, s"diffusive day: rv=$rv0 bv=$bv0")
    assert(jf0 < 0.35, s"diffusive day frac=$jf0")
    assert(jf1 > 0.8, s"jump day frac=$jf1") // the jump dominates rv
    assert(rv1 > rv0 * 5)
  }

  // ---- A34: Theil–Sen term-curve slope ----

  test("theilSenSlope shrugs off a poisoned bucket (OLS would not)") {
    import graft.operators.TermStructure
    // 6 DTE buckets at mids 3.5..545; clean ivs on slope 0.001/day,
    // the far bucket poisoned to iv=10 — the median pairwise slope
    // must stay the clean 0.001
    val mids = Seq((0, 7), (8, 14), (15, 30), (31, 60), (61, 90), (91, 999))
    val day0 = java.time.LocalDate.of(2024, 1, 10)
    val rows = mids.zipWithIndex.map { case ((lo, hi), i) =>
      val mid = (lo + hi) / 2.0
      val dte = math.round(mid).toInt.max(lo).min(hi)
      val iv = if (i == 5) 10.0 else 0.2 + 0.001 * mid
      ("BTC",
        java.sql.Timestamp.valueOf(day0.atStartOfDay().plusHours(1)),
        java.sql.Date.valueOf(day0.plusDays(dte.toLong)),
        iv)
    }
    val out = TermStructure.theilSenSlope(
        rows.toDF("underlying", "timestamp", "expiry", "iv"))
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_pairs") == 15L)
    assert(math.abs(r.getAs[Double]("ts_slope") - 0.001) < 1e-9,
      s"ts=${r.getAs[Double]("ts_slope")}")
  }

  // ---- EV24: difference-in-differences ----

  test("didPanel recovers a planted treatment effect under a common trend") {
    import graft.operators.EventsAnalytics
    // replicate the operator's sha coin so the lift lands on the
    // actual treatment group
    def isTreated(u: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest(s"did:42:$u".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 2 == 0
    }
    val users = (1L to 40L)
    val rows = users.flatMap { u =>
      val lift = if (isTreated(u)) 7.0 else 0.0
      Seq(
        (u, new Timestamp(100L), 10.0),            // pre
        (u, new Timestamp(1900L), 15.0 + lift))    // post: +5 trend
    }
    val ev = rows.toDF("user_id", "ts", "value")
    val r = EventsAnalytics.didPanel(ev, 42L).collect().head
    assert(r.getAs[Long]("n_t_pre") + r.getAs[Long]("n_c_pre") == 40L)
    // common trend cancels; only the planted lift survives
    assert(math.abs(r.getAs[Double]("did") - 7.0) < 1e-9,
      s"did=${r.getAs[Double]("did")}")
    assert(math.abs(
      r.getAs[Double]("mean_c_post") - r.getAs[Double]("mean_c_pre")
        - 5.0) < 1e-9)
  }

  // ---- MM6: audio VAD segmentation ----

  test("vadSegments finds the planted loud runs") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal.MediaRow
    // 6 frames of 64 bytes: quiet = all 128 (energy 0), loud = all 0
    // (energy 64*128^2). Pattern L Q L L Q Q -> voiced frames are the
    // louds (mean energy = half the loud energy), segments = {0},{2,3}
    val quiet = Array.fill(64)(128.toByte)
    val loud = Array.fill(64)(0.toByte)
    val bytes = Array(loud, quiet, loud, loud, quiet, quiet).flatten
    val media = spark.createDataset(
      Seq(MediaRow(1L, "audio", bytes),
        MediaRow(2L, "image", bytes), // non-audio: ignored
        MediaRow(3L, "audio", Array.fill(10)(5.toByte)))) // < 1 frame
    val out = Multimodal.vadSegments(media).collect()
    assert(out.length == 1)
    val v = out.head
    assert(v.doc_id == 1L && v.n_frames == 6 && v.n_voiced == 3 &&
      v.n_segments == 2 && v.longest_voiced == 2)
  }

  test("vadSegments: uniform energy means zero voiced frames") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal.MediaRow
    val bytes = Array.fill(256)(77.toByte) // 4 identical frames
    val v = Multimodal.vadSegments(
      spark.createDataset(Seq(MediaRow(9L, "audio", bytes))))
      .collect().head
    assert(v.n_frames == 4 && v.n_voiced == 0 && v.n_segments == 0 &&
      v.longest_voiced == 0)
  }

  // ---- llm_neardup_curve ----

  test("neardup threshold curve is non-increasing in the threshold") {
    val rows = graft.queries.LlmQueries
      .neardupCurve(spark, "/root/testdata/sf0.001")
      .orderBy(col("thr_pct"))
      .collect()
    assert(rows.nonEmpty)
    val counts = rows.map(_.getAs[Long]("n_pairs"))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    // every bucket's mean jaccard clears its own threshold
    rows.foreach { r =>
      assert(r.getAs[Double]("mean_jaccard") * 100.0 >=
        r.getAs[Int]("thr_pct"))
    }
  }

  // ---- llm_dedup_report ----

  test("dedup report funnel is consistent with its stage entries") {
    val dir = "/root/testdata/sf0.001"
    val r = graft.queries.LlmQueries.dedupReport(spark, dir)
      .collect().head
    val nRaw = r.getAs[Long]("n_raw")
    val nExact = r.getAs[Long]("n_exact")
    val nFinal = r.getAs[Long]("n_final")
    // the funnel only ever shrinks
    assert(nRaw >= nExact && nExact >= nFinal && nFinal > 0)
    // stage counts match the standalone stage operators
    val d = graft.util.Tables.load(spark, dir, "documents")
    val docsN = d.count()
    val exactN = graft.operators.TextDedup.exactDedup(d).count()
    assert(nRaw == docsN && nExact == exactN)
    // every cluster has >= 2 members (a singleton is not a near-dup)
    assert(r.getAs[Long]("n_neardup_members") >=
      2L * r.getAs[Long]("n_clusters"))
  }

  // ---- S20: snapshot store / time travel ----

  test("snapshot store: old versions survive append and compaction") {
    import graft.sources.SnapshotStore
    val root = graft.util.TempDirs.scoped("r12-s20")
    assert(SnapshotStore.latestVersion(root) == 0)
    val v1 = SnapshotStore.commitReplace(
      Seq((1L, "a"), (2L, "b")).toDF("id", "x"), root)
    val v2 = SnapshotStore.commitAppend(
      Seq((3L, "c")).toDF("id", "x"), root)
    // compaction: same logical rows, new layout
    val v3 = SnapshotStore.commitReplace(
      SnapshotStore.read(spark, root).coalesce(1), root)
    assert((v1, v2, v3) == (1, 2, 3))
    def ids(v: Int) = SnapshotStore.read(spark, root, Some(v))
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids(1) == Seq(1L, 2L))      // pre-append snapshot intact
    assert(ids(2) == Seq(1L, 2L, 3L))
    assert(ids(3) == Seq(1L, 2L, 3L))  // compaction preserved content
    // a further append builds on the compacted file set
    SnapshotStore.commitAppend(Seq((4L, "d")).toDF("id", "x"), root)
    assert(ids(4) == Seq(1L, 2L, 3L, 4L))
    assert(ids(2) == Seq(1L, 2L, 3L))  // still stable
  }

  // ---- S18: dynamic partition overwrite ----

  test("dynamic overwrite rewrites only the target partition") {
    val lake = graft.util.TempDirs.scoped("r12-s18")
    val t = Seq(
      (1L, 10L, 1.0), (2L, 10L, 2.0),
      (3L, 11L, 3.0), (4L, 12L, 4.0))
      .toDF("id", "day", "price")
    t.write.partitionBy("day").mode("overwrite").parquet(lake)
    def files(day: Long) = {
      val d = new java.io.File(s"$lake/day=$day")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val before11 = files(11L); val before12 = files(12L)
    Thread.sleep(1100) // mtime granularity
    Seq((1L, 10L, 9.0), (2L, 10L, 9.0)).toDF("id", "day", "price")
      .write.partitionBy("day").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(lake)
    // untouched partitions: identical file names AND mtimes
    assert(files(11L) == before11)
    assert(files(12L) == before12)
    val back = spark.read.parquet(lake)
      .select(col("id"), col("day").cast("long"), col("price"))
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(back == Seq((1L, 10L, 9.0), (2L, 10L, 9.0),
      (3L, 11L, 3.0), (4L, 12L, 4.0)))
  }

  // ---- M41: lead-lag cross-correlogram ----

  test("leadLagCorr peaks at the planted lead") {
    // ETH's bar return at bucket b+1 EQUALS BTC's at b: the
    // correlogram must read ~1.0 at lag +1 and stay small elsewhere.
    val rng = new scala.util.Random(11)
    val rets = Vector.fill(300)(0.01 * rng.nextGaussian())
    def closes(shift: Int): Vector[Double] =
      rets.drop(shift).scanLeft(100.0)((p, r) => p * (1.0 + r))
    val btc = closes(1) // BTC sees return r_{t+1} at bar t
    val eth = closes(0) // ETH sees it one bar later
    val ticks =
      btc.zipWithIndex.map { case (c, i) => ("BTC", ts(i * 900L), c) } ++
      eth.zipWithIndex.map { case (c, i) => ("ETH", ts(i * 900L), c) }
    val out = graft.operators.SpotCorr
      .leadLagCorr(ticks.toDF("symbol", "timestamp", "close"))
      .collect().map(r => r.getAs[Int]("lag") -> r.getAs[Double]("corr_lag"))
      .toMap
    assert(out.size == 7)
    assert(out(1) > 0.98, s"corr at +1 = ${out(1)}")
    assert(math.abs(out(0)) < 0.2 && math.abs(out(-1)) < 0.2,
      s"off-peak: ${out(0)}, ${out(-1)}")
  }

  // ---- EV25: CUPED ----

  test("cuped removes pre-period imbalance and reports the variance cut") {
    // Post spend is EXACTLY 2x pre spend per user: theta -> 2, the
    // adjusted outcome is constant (rho^2 -> 1), so the CUPED diff
    // vanishes even though raw arm means differ by sampling noise.
    val rng = new scala.util.Random(3)
    val pre = ts(0L)
    val post = ts(200000L) // past the midpoint of [0, 200000]
    val rows = (1 to 400).flatMap { u =>
      val a = 50.0 + 40.0 * rng.nextDouble()
      Seq((u.toLong, "buy", pre, a), (u.toLong, "buy", post, 2.0 * a))
    }
    val ev = rows.toDF("user_id", "event_type", "ts", "value")
    val r = graft.operators.EventsAnalytics.cuped(ev).collect().head
    val theta = r.getAs[Double]("theta")
    assert(math.abs(theta - 2.0) < 1e-3, s"theta=$theta")
    assert(r.getAs[Double]("var_reduction") > 0.999)
    val raw = math.abs(r.getAs[Double]("diff_raw"))
    val adj = math.abs(r.getAs[Double]("diff_cuped"))
    assert(raw > 0.0) // sampling imbalance exists
    assert(adj < raw / 100.0, s"adj=$adj raw=$raw")
  }

  // ---- llm_ngram_novelty ----

  // ---- M42: realized semivariance ----

  test("semivariance splits rv exactly and flags the jump side") {
    // 30 small alternating returns plus ONE +8% jump bar: the up leg
    // must carry the jump (signed_jump > 0) and the two legs must
    // recompose rv exactly (the sums are quantized decimals).
    var p = 100.0
    val closes = (0 until 30).map { i =>
      p *= (if (i == 15) 1.08 else if (i % 2 == 0) 1.001 else 0.999)
      p
    }
    val rows = closes.zipWithIndex.map { case (c, i) =>
      ("BTC", ts(i * 900L), c)
    }
    val r = graft.operators.RealizedVol
      .semivariance(rows.toDF("underlying", "timestamp", "price"))
      .collect().head
    val rv = r.getAs[Double]("rv_cc")
    val up = r.getAs[Double]("rsv_up")
    val dn = r.getAs[Double]("rsv_down")
    // identity at the decimal level; double rendering is per-sum, so
    // allow a few ulps
    assert(math.abs(up + dn - rv) <= 4 * math.ulp(rv),
      s"split not tight: $up + $dn != $rv")
    assert(r.getAs[Double]("signed_jump") > 0.004,
      s"jump leg: ${r.getAs[Double]("signed_jump")}")
    assert(dn > 0.0 && r.getAs[Double]("down_share") < 0.2)
  }

  // ---- M43: signature plot ----

  test("signaturePlot scales rv linearly in the interval under pure drift") {
    // Constant log-return per 60s tick: returns are perfectly
    // autocorrelated, so RV at interval k*60 is ~k x RV at 60 (the
    // anti-flat signature a drifting series produces). Deterministic
    // up to the 6-dp term quantization.
    val rows = (0 until 1000).map { i =>
      ("BTC", ts(i * 60L), 100.0 * math.exp(0.001 * i))
    }
    val out = graft.operators.RealizedVol
      .signaturePlot(rows.toDF("underlying", "timestamp", "price"))
      .collect()
      .map(r => r.getAs[Long]("interval_sec") ->
        (r.getAs[Long]("n_returns"), r.getAs[Double]("rv"))).toMap
    assert(out.keySet == Set(60L, 300L, 900L, 3600L))
    val (n60, rv60) = out(60L)
    val (n300, rv300) = out(300L)
    assert(n60 == 999L && n300 == 199L)
    val ratio = rv300 / rv60
    assert(math.abs(ratio - 199.0 * 25.0 / 999.0) < 0.05, s"ratio=$ratio")
    // n_returns strictly decreases with the interval
    assert(out(300L)._1 > out(900L)._1 && out(900L)._1 > out(3600L)._1)
  }

  // ---- EV27: quantile treatment effects ----

  test("quantileLift reads a planted tail-only treatment") {
    // Both arms share the same median spend; the treatment arm's top
    // decile spends 10x. The mean moves, but the QTE panel localizes
    // it: p50 lift ~0, p90 lift large. Arms come from the real coin,
    // so the planted effect is applied by recomputing it test-side.
    def coinA(u: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest(s"ab:42:$u".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16) % 2 == 0
    }
    // boost 20% of the arm so the p90 rank lands INSIDE the boosted
    // mass (a 10% boost puts ceil(.9 n) exactly on the boundary)
    val rows = (1L to 2000L).map { u =>
      val base = 10.0 + (u % 7).toDouble
      val v = if (!coinA(u) && u % 5 == 0) base * 10.0 else base
      (u, "buy", ts(u), v)
    }
    val r = graft.operators.EventsAnalytics
      .quantileLift(rows.toDF("user_id", "event_type", "ts", "value"))
      .collect().head
    assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") == 2000L)
    assert(math.abs(r.getAs[Double]("lift_p50")) <= 2.0,
      s"p50 lift ${r.getAs[Double]("lift_p50")}")
    assert(r.getAs[Double]("lift_p90") > 50.0,
      s"p90 lift ${r.getAs[Double]("lift_p90")}")
  }

  // ---- S22: snapshot tags ----

  test("tags pin versions through compaction; re-tagging moves") {
    import graft.sources.SnapshotStore
    val root = graft.util.TempDirs.scoped("r12-tag")
    SnapshotStore.commitReplace(
      Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v").coalesce(1), root)
    SnapshotStore.tag(root, "t")
    SnapshotStore.commitAppend(
      Seq((3L, 3.0)).toDF("k", "v").coalesce(1), root)
    SnapshotStore.commitReplace(
      SnapshotStore.read(spark, root).coalesce(1), root)
    def tagged(t: String) =
      graft.sources.SnapshotRead.plan(spark, root, tag = Some(t)).df
    // the tag still reads the 2-row v1 snapshot after compaction
    assert(tagged("t").count() == 2L)
    // re-tagging the same name moves it to the requested version
    SnapshotStore.tag(root, "t", Some(3))
    assert(tagged("t").count() == 3L)
    assert(SnapshotStore.tags(root) == Map("t" -> 3))
    // unknown tag raises the typed QueryError (round-15 exception
    // hierarchy: snapshot tag/version resolution is API validation)
    intercept[graft.QueryError] {
      tagged("nope")
    }
  }

  // ---- M45: historical VaR / ES ----

  test("varEs picks the planted tail exactly") {
    // 100 daily returns: five distinct crash days, the rest +0.001.
    // At q=5%: rank ceil(.05*100)=5 -> var_95 = -0.01 (the mildest
    // crash), es_95 = mean of the five crashes = -0.03. At q=1%:
    // rank 1 -> var_99 = es_99 = -0.05.
    val crashes = Map(10 -> -0.05, 30 -> -0.04, 50 -> -0.03,
      70 -> -0.02, 90 -> -0.01)
    var p = 1000.0
    val rows = (0 to 100).map { d =>
      if (d > 0) p *= math.exp(crashes.getOrElse(d, 0.001))
      ("BTC", ts(d * 86400L + 10), p)
    }
    val r = graft.operators.RealizedVol
      .varEs(rows.toDF("underlying", "timestamp", "price"))
      .collect().head
    assert(r.getAs[Long]("n_returns") == 100L)
    assert(r.getAs[Double]("var_95") == -0.01)
    assert(math.abs(r.getAs[Double]("es_95") - (-0.03)) < 1e-12)
    assert(r.getAs[Double]("var_99") == -0.05)
    assert(r.getAs[Double]("es_99") == -0.05)
  }

  // ---- M47: downside/upside beta ----

  test("downsideBeta recovers the planted sided slopes") {
    // ETH moves 2x BTC on BTC down days, 0.5x on up days.
    val rng = new scala.util.Random(9)
    var (b, e) = (10000.0, 700.0)
    val rows = scala.collection.mutable.Buffer(
      ("BTC", ts(5L), b), ("ETH", ts(5L), e))
    (1 until 300).foreach { d =>
      val rb = (if (d % 2 == 0) 1 else -1) * (0.005 + 0.01 * rng.nextDouble())
      val re = if (rb < 0) 2.0 * rb else 0.5 * rb
      b *= (1.0 + rb); e *= (1.0 + re)
      rows += (("BTC", ts(d * 86400L + 5), b))
      rows += (("ETH", ts(d * 86400L + 5), e))
    }
    val r = graft.operators.SpotCorr
      .downsideBeta(rows.toSeq.toDF("symbol", "timestamp", "close"))
      .collect().head
    assert(math.abs(r.getAs[Double]("beta_down") - 2.0) < 0.01)
    assert(math.abs(r.getAs[Double]("beta_up") - 0.5) < 0.01)
    assert(r.getAs[Double]("beta_asym") > 1.4)
  }

  // ---- EV29: Holm step-down panel ----

  test("holmPanel rejects only the planted segment; holm_p monotone") {
    def coinA(u: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest(s"ab:42:$u".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16) % 2 == 0
    }
    val rows = (1L to 1500L).flatMap { u =>
      val base = 10.0 + (u % 7)
      Seq(
        (u, "lift", ts(u), if (coinA(u)) base else base + 100.0),
        (u, "null1", ts(u), base),
        (u, "null2", ts(u), base + (u % 3)))
    }
    val out = graft.operators.EventsAnalytics
      .holmPanel(rows.toDF("user_id", "event_type", "ts", "value"))
      .collect()
      .sortBy(_.getAs[Int]("rank_p"))
    assert(out.length == 3)
    assert(out.head.getAs[String]("segment") == "lift" &&
      out.head.getAs[Boolean]("reject"))
    assert(out.tail.forall(!_.getAs[Boolean]("reject")))
    // step-down adjustment is monotone in the p rank
    val hp = out.map(_.getAs[Double]("holm_p"))
    assert(hp.zip(hp.tail).forall { case (a, c) => a <= c })
  }

  // ---- M46: Cornish-Fisher modified VaR ----

  test("cornishFisherVar matches the expansion and reacts to skew") {
    import graft.operators.Microstructure.{Z01, Z05}
    // mostly small gains, occasional crashes: negative skew
    var p = 1000.0
    val rows = (0 until 200).map { d =>
      p *= (if (d % 20 == 19) 0.95 else 1.005)
      ("BTC", ts(d * 86400L + 5), p)
    }
    val r = graft.operators.Microstructure
      .cornishFisherVar(rows.toDF("symbol", "timestamp", "close"))
      .collect().head
    val (mean, m2) = (r.getAs[Double]("mean"), r.getAs[Double]("m2"))
    val (s, k) = (r.getAs[Double]("skewness"),
      r.getAs[Double]("ex_kurtosis"))
    assert(s < -1.0, s"expected negative skew, got $s")
    def cf(z: Double) = mean + math.sqrt(m2) * (z +
      (z * z - 1.0) * s / 6.0 + (z * z * z - 3.0 * z) * k / 24.0 -
      (2.0 * z * z * z - 5.0 * z) * s * s / 36.0)
    assert(math.abs(r.getAs[Double]("cf_var_95") - cf(Z05)) < 1e-12)
    assert(math.abs(r.getAs[Double]("cf_var_99") - cf(Z01)) < 1e-12)
    // negative skew pushes the 95% level below the Gaussian read
    assert(r.getAs[Double]("cf_var_95") < mean + math.sqrt(m2) * Z05)
  }

  // ---- EV28: post-hoc MDE ----

  test("mdeReadout wires the MDE algebra and flags a huge lift as powered") {
    def coinA(u: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest(s"ab:42:$u".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16) % 2 == 0
    }
    val rows = (1L to 2000L).map { u =>
      val v = 10.0 + (u % 5) + (if (coinA(u)) 0.0 else 50.0)
      (u, "buy", ts(u), v)
    }
    val r = graft.operators.EventsAnalytics
      .mdeReadout(rows.toDF("user_id", "event_type", "ts", "value"))
      .collect().head
    val se = r.getAs[Double]("se_diff")
    val mde = r.getAs[Double]("mde_abs")
    // identity: mde = (z975 + z80) * se, se rebuilt from the outputs
    import graft.operators.EventsAnalytics.{Z80, Z975}
    val seCheck = math.sqrt(
      r.getAs[Double]("var_a") / r.getAs[Long]("n_a") +
        r.getAs[Double]("var_b") / r.getAs[Long]("n_b"))
    assert(se == seCheck && mde == (Z975 + Z80) * se)
    assert(r.getAs[Double]("observed_diff") > 49.0)
    assert(mde < 1.0 && r.getAs[Boolean]("powered"))
  }

  // ---- A35: butterfly arbitrage ----

  test("butterflyArb flags exactly the planted convexity break") {
    // Convex price curve over 5 strikes, then the middle strike's
    // last trade is repriced ABOVE the interpolation line — exactly
    // one violation with a known gap.
    val expiry = java.sql.Date.valueOf("2026-09-25")
    def row(id: Long, k: Double, p: Double, at: Long) =
      (id.toString, "BTC", expiry, "C", k, p, ts(at))
    val convex = Seq(
      row(1, 100.0, 50.0, 10), row(2, 110.0, 41.0, 10),
      row(3, 120.0, 33.0, 10), row(4, 130.0, 26.0, 10),
      row(5, 140.0, 20.0, 10),
      // strike 120 re-trades LATER at 40.0 > (41+26)/2 = 33.5
      row(6, 120.0, 40.0, 99))
    val df = convex.toDF("trade_id", "underlying", "expiry",
      "option_type", "strike", "price", "timestamp")
    val r = graft.queries.FeatureQueries.butterflyArb(df).collect().head
    assert(r.getAs[Long]("n_strikes") == 5L)
    assert(r.getAs[Long]("n_triples") == 3L)
    assert(r.getAs[Long]("n_violations") == 1L)
    assert(math.abs(r.getAs[Double]("worst_gap") - 6.5) < 1e-9)
  }

  // ---- llm_rank_fusion ----

  test("rrfFuse ranks the doc both lists agree on first") {
    val a = Seq((0, 1L, 1), (0, 2L, 2))
      .toDF("query_id", "doc_id", "rank")
    val b = Seq((0, 2L, 1), (0, 3L, 2))
      .toDF("query_id", "doc_id", "rank")
    val out = graft.operators.TextRetrieval.rrfFuse(a, b, k = 10)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("fused_rank"), r.getAs[Double]("rrf"))).toMap
    // d2 appears in both lists (1/62 + 1/61) and must lead
    assert(out(2L)._1 == 1 && out(1L)._1 == 2 && out(3L)._1 == 3)
    assert(math.abs(out(2L)._2 - (1.0 / 62 + 1.0 / 61)) < 1e-12)
    assert(out(1L)._2 == 1.0 / 61 && out(3L)._2 == 1.0 / 62)
  }

  // ---- S23: incremental small-file compaction ----

  test("compactSmall merges tiny files, carries big ones, keeps history") {
    import graft.sources.SnapshotStore
    val root = graft.util.TempDirs.scoped("r12-compact")
    val tiny = (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v")
    SnapshotStore.commitAppend(tiny.repartition(5), root)
    val big = spark.range(1000L, 60000L)
      .select(col("id").as("k"), (col("id") * 1.0).as("v"))
    SnapshotStore.commitAppend(big.coalesce(1), root)
    SnapshotStore.tag(root, "pre")
    val total = 100L + 59000L
    val (v, merged, carried) =
      SnapshotStore.compactSmall(spark, root, minBytes = 20L * 1024)
    assert(merged == 5 && carried == 1, s"merged=$merged carried=$carried")
    assert(SnapshotStore.read(spark, root, Some(v)).count() == total)
    // the pre-compaction tag still reads the original files
    assert(graft.sources.SnapshotRead.plan(spark, root, tag = Some("pre"))
      .df.count() == total)
    // a store with nothing small is a no-op (same version back)
    val root2 = graft.util.TempDirs.scoped("r12-compact2")
    SnapshotStore.commitAppend(big.coalesce(1), root2)
    val (v2, m2, c2) =
      SnapshotStore.compactSmall(spark, root2, minBytes = 20L * 1024)
    assert(v2 == 1 && m2 == 0 && c2 == 1)
  }

  // ---- M44: overnight/intraday split ----

  test("overnightIntraday attributes gap-only variance to the overnight leg") {
    // close == open every day (flat intraday), but the open gaps
    // alternate +/-10% versus the previous close: all variance must
    // land on the overnight leg.
    val rows = (0 until 40).flatMap { d =>
      val o = 100.0 * math.exp(if (d % 2 == 0) 0.0 else 0.1)
      Seq(("BTC", ts(d * 86400L + 10), o),
        ("BTC", ts(d * 86400L + 7200), o))
    }
    val r = graft.operators.RealizedVol
      .overnightIntraday(rows.toDF("underlying", "timestamp", "price"))
      .collect().head
    assert(r.getAs[Long]("n_days") == 40L && r.getAs[Long]("n_on") == 39L)
    assert(r.getAs[Double]("var_intraday") == 0.0)
    assert(r.getAs[Double]("var_overnight") > 0.005)
    assert(r.getAs[Double]("overnight_share") == 1.0)
  }

  // ---- llm_kl_drift ----

  test("klDrift reads 0 on an identical split and large on a disjoint one") {
    val docs = (
      (1 to 10).map(i => (i.toLong, "a b c")) ++
        Seq((11L, "a b c"), (12L, "a b c")) ++
        Seq((13L, "x y z"), (14L, "x y z"))
    ).toDF("doc_id", "text")
    val splits = (
      (1 to 10).map(i => (i.toLong, "train")) ++
        Seq((11L, "val"), (12L, "val"), (13L, "test"), (14L, "test"))
    ).toDF("doc_id", "split")
    val out = graft.operators.TextAnalysis.klDrift(docs, splits)
      .collect()
      .map(r => r.getAs[String]("split") ->
        (r.getAs[Double]("kl_eval_train"),
          r.getAs[Double]("kl_train_eval"))).toMap
    // same distribution + smoothing: exactly equal smoothed masses
    assert(out("val")._1 == 0.0 && out("val")._2 == 0.0)
    // disjoint vocab: both directions far from zero
    assert(out("test")._1 > 0.3 && out("test")._2 > 0.3)
  }

  test("klDrift's shared q, p and p / q are DOUBLE, as in the oracle") {
    import graft.operators.TextAnalysis.{klPExpr, klQExpr}
    val qp = Seq((3L, 5L, 40L, 70L, 12L)).toDF("ce", "ct", "ns", "nt", "v")
      .select(expr(klQExpr).as("q"), expr(klPExpr).as("p"))
      .select(col("q"), col("p"), (col("p") / col("q")).as("ratio"))
    assert(qp.schema.map(_.dataType).forall(
      _ == org.apache.spark.sql.types.DoubleType), qp.schema)
  }

  // ---- S21: manifest-level data skipping ----

  test("manifest pruning drops files but never rows; no-stats files stay") {
    import graft.sources.SnapshotStore
    val root = graft.util.TempDirs.scoped("r12-prune")
    val df = (1L to 4000L).map(i => (i, i * 2.0)).toDF("k", "v")
    SnapshotStore.commitAppendWithStats(df, root, "k", nFiles = 8)
    def plan = graft.sources.SnapshotRead.plan(spark, root,
      range = Some(("k", 1000L, 1500L)))
    val (kept, skipped) = (plan.filesAfterStats, plan.statsSkipped)
    assert(skipped > 0, "range-partitioned commit must skip files")
    assert(kept > 0)
    val pruned = plan.df.collect()
    assert(pruned.length == 501)
    assert(pruned.map(_.getAs[Double]("v")).sum
      == (1000L to 1500L).map(_ * 2.0).sum)
    // a file WITHOUT a stats line (its frame lacks the indexed
    // column) is conservatively kept even out of range
    SnapshotStore.commitAppend(Seq(1.0).toDF("v").coalesce(1), root)
    val (k2, s2) = (plan.filesAfterStats, plan.statsSkipped)
    assert(k2 == kept + 1 && s2 == skipped)
    assert(plan.df.count() == 501L)
    // the DEFAULT append keeps the index fresh: the new file carries
    // bounds and an out-of-range read now skips it
    SnapshotStore.commitAppend(
      Seq((8888L, 1.0)).toDF("k", "v").coalesce(1), root)
    val (k3, s3) = (plan.filesAfterStats, plan.statsSkipped)
    assert(k3 == k2 && s3 == s2 + 1,
      "an indexed append's fresh file must be stats-skippable")
  }

  // ---- llm_containment: asymmetric n-gram containment ----

  test("containmentPairs finds the quoted-whole doc Jaccard misses") {
    val short = (1 to 12).map(i => s"w$i").mkString(" ")
    val long = short + " " + (1 to 30).map(i => s"x$i").mkString(" ")
    val other = (1 to 20).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, short), (2L, long), (3L, other))
      .toDF("doc_id", "text")
    val hashed = docs.select(col("doc_id"),
      graft.functions.TextHashColumns.ngramHashes(col("text"), 3).as("hs"))
    val rows = graft.operators.TextDedup
      .containmentPairs(hashed, maxDf = 20, threshold = 0.9,
        tokensCol = "hs")
      .collect()
    // exactly the (short ⊂ long) pair; direction must read A-in-B
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L)
    assert(r.getAs[Double]("contain_a_in_b") == 1.0)
    assert(r.getAs[Double]("contain_b_in_a") < 0.5)
    // the symmetric Jaccard on the same pair is BELOW the threshold —
    // this is the case the entry exists for
    val j = graft.operators.TextDedup
      .invertedIndexPairs(hashed, maxDf = 20, threshold = 0.0,
        tokensCol = "hs")
      .filter(col("id_a") === 1L && col("id_b") === 2L)
      .collect().head.getAs[Double]("jaccard")
    assert(j < 0.9)
  }

  // ---- llm_intrinsic_dim: TwoNN ----

  test("intrinsicDim recovers ~2 on a planted 2-manifold, drops dups") {
    val rng = new scala.util.Random(5)
    val base = (1L to 400L).map { id =>
      val v = new Array[Float](8)
      v(0) = rng.nextFloat(); v(1) = rng.nextFloat()
      (id, v)
    }
    // an exact dup of probe 1: its q1 = 0, so that probe must drop
    val withDup = base :+ (401L, base.head._2.clone())
    val e = withDup.toDF("vec_id", "embedding")
    val r = graft.operators.VectorOps
      .intrinsicDim(e, e.filter(col("vec_id") < 64L))
      .collect().head
    assert(r.getAs[Long]("n_probes") == 62L)
    val id = r.getAs[Double]("id_twonn")
    assert(id > 1.4 && id < 2.8, s"id_twonn=$id")
  }

  // ---- llm_cluster_metrics: Davies-Bouldin panel ----

  test("clusterMetrics separates planted blobs with low DB terms") {
    // Two tight blobs around (1,0,0,0) and (0,1,0,0); ids 1 and 2 are
    // one per blob so the lowest-id k-means seeds start separated.
    def v(base: Array[Float], j: Float) =
      base.zipWithIndex.map { case (b, i) => b + (if (i == 2) j else 0f) }
    val a = Array(1f, 0f, 0f, 0f)
    val b = Array(0f, 1f, 0f, 0f)
    val rows = (0 until 40).map { i =>
      val id = i + 1L
      val blob = if (id % 2 == 1) a else b
      (id, v(blob, 0.01f * (i % 5)))
    }
    val df = rows.toDF("vec_id", "embedding")
    val (cents, out) = graft.operators.VectorOps.clusterMetrics(df, k = 2)
    assert(cents.length == 2)
    // on one partition the echoed centroids are a plain in-order
    // Lloyd's, bit for bit
    assert(graft.operators.VectorOps.kmeansCentroids(df.coalesce(1), 2)
      .map(_.toSeq).toSeq == TestSpark.lloydReference(rows, 2, 3))
    val rs = out.collect()
    assert(rs.length == 2)
    assert(rs.forall(_.getAs[Long]("n_members") == 20L))
    // blob radius ~0.02 vs separation ~sqrt(2): DB terms tiny
    assert(rs.forall(_.getAs[Double]("scatter") < 0.05))
    assert(rs.forall(r => math.abs(r.getAs[Double]("min_sep")
      - math.sqrt(2.0)) < 0.1))
    assert(rs.forall(_.getAs[Double]("db_term") < 0.1))
  }

  // ---- EV26: sample-ratio mismatch ----

  test("srmCheck flags only the segment with a corrupted arm") {
    // Segment "ok" logs every user; segment "bad" silently drops all
    // B-arm users (the classic one-sided logging bug). The coin is
    // recomputed test-side with the same sha recipe.
    def coinA(u: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest(s"ab:42:$u".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16) % 2 == 0
    }
    val users = (1L to 800L)
    val rows =
      users.map(u => (u, "ok", ts(u), 1.0)) ++
        users.filter(coinA).map(u => (u, "bad", ts(u), 1.0))
    val out = graft.operators.EventsAnalytics
      .srmCheck(rows.toDF("user_id", "event_type", "ts", "value"))
      .collect()
      .map(r => r.getAs[String]("segment") ->
        (r.getAs[Long]("n_b"), r.getAs[Double]("share_a"),
          r.getAs[Boolean]("srm_flag"))).toMap
    assert(!out("ok")._3, s"ok segment flagged: ${out("ok")}")
    assert(out("bad")._1 == 0L && out("bad")._2 == 1.0 && out("bad")._3)
  }

  test("ngramNovelty: verbatim reuse scores 0, fresh text scores 1") {
    val trainText = (1 to 20).map(i => s"w$i").mkString(" ")
    val freshText = (1 to 20).map(i => s"z$i").mkString(" ")
    val docs = Seq(
      (1L, trainText), (2L, trainText), (3L, freshText))
      .toDF("doc_id", "text")
    val hashed = docs.select(col("doc_id"),
      graft.functions.TextHashColumns.ngramHashes(col("text"), 8).as("hs"))
    val splits = Seq((1L, "train"), (2L, "val"), (3L, "test"))
      .toDF("doc_id", "split")
    val out = graft.operators.TextAnalysis.ngramNovelty(hashed, splits)
      .collect().map(r => r.getAs[String]("split") ->
        (r.getAs[Long]("n_novel"), r.getAs[Double]("novelty_rate"))).toMap
    assert(out("val") == ((0L, 0.0)))
    assert(out("test")._2 == 1.0)
  }
}
