package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{EmbedPca, EventsAnalytics, Greeks, Microstructure,
  TextAnalysis}

/** Round-11 operators: microstructure spread estimators (m25/m26),
  * the variance ratio (m27), triple-barrier labels (m28), the
  * Kaplan–Meier survival curve (ev17), lexical entropy and the
  * embedding-head PCA. Known-answer + boundary tests; the DuckDB
  * oracles gate full-scale parity. */
class Round11Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ticks(rows: Seq[(String, Long, Double)]) =
    rows.toDF("symbol", "ep", "close")
      .select($"symbol", timestamp_seconds($"ep" * 86400L).as("timestamp"),
        $"close")

  // ---- M25 Roll spread ----

  test("roll spread matches the hand-computed serial covariance") {
    // closes 10,8,10,8,10 -> dp = -2,+2,-2,+2 -> 3 (dp,dl) pairs
    val t = ticks(Seq(("X", 0L, 10.0), ("X", 1L, 8.0), ("X", 2L, 10.0),
      ("X", 3L, 8.0), ("X", 4L, 10.0)))
    val r = Microstructure.rollSpread(t).head()
    assert(r.getAs[Long]("n_pairs") == 3L)
    val expCov = (-12.0 - (2.0 * -2.0) / 3.0) / 3.0 // -32/9
    assert(math.abs(r.getAs[Double]("autocov") - expCov) < 1e-12)
    assert(math.abs(r.getAs[Double]("roll_spread")
      - 2.0 * math.sqrt(-expCov)) < 1e-12)
  }

  test("roll spread is null when price changes trend (positive autocov)") {
    val t = ticks((0 to 5).map(d => ("X", d.toLong, 100.0 + d * d)))
    val r = Microstructure.rollSpread(t).head()
    assert(r.getAs[Double]("autocov") > 0)
    assert(r.isNullAt(r.fieldIndex("roll_spread")))
  }

  // ---- M26 Corwin–Schultz ----

  test("corwin–schultz matches the closed form on one adjacent pair") {
    // day0 ticks spread over [100,102], day1 over [101,103]
    val t = ticks(Seq(("X", 0L, 100.0), ("X", 0L, 102.0),
      ("X", 1L, 101.0), ("X", 1L, 103.0)))
    val r = Microstructure.corwinSchultz(t).head()
    assert(r.getAs[Long]("n_days") == 1L)
    val k = 3.0 - 2.0 * math.sqrt(2.0)
    val l1 = math.log(103.0 / 101.0); val l2 = math.log(102.0 / 100.0)
    val lg = math.log(103.0 / 100.0)
    val beta = l1 * l1 + l2 * l2; val gamma = lg * lg
    val alpha = (math.sqrt(2 * beta) - math.sqrt(beta)) / k -
      math.sqrt(gamma / k)
    val sp = 2.0 * (math.exp(alpha) - 1.0) / (math.exp(alpha) + 1.0)
    assert(math.abs(r.getAs[Double]("cs_spread_mean") - sp) < 1e-8)
    assert(math.abs(r.getAs[Double]("cs_spread_max") - sp) < 1e-8)
  }

  test("corwin–schultz skips non-adjacent day pairs") {
    val t = ticks(Seq(("X", 0L, 100.0), ("X", 5L, 101.0)))
    assert(Microstructure.corwinSchultz(t).count() == 0L)
  }

  // ---- M27 variance ratio ----

  test("variance ratio flags mean reversion on an alternating series") {
    val closes = (0 to 12).map(d =>
      ("X", d.toLong, if (d % 2 == 0) 100.0 else 102.0))
    val out = Microstructure.varianceRatio(ticks(closes))
      .collect().map(r => r.getAs[Int]("q") ->
        (r.getAs[Long]("n_base"), r.getAs[Double]("vr"))).toMap
    assert(out(2)._1 == 12L)
    // alternating returns cancel over even horizons -> VR well below 1
    assert(out(2)._2 < 0.2)
    assert(out(5)._2 < 1.0)
  }

  // ---- M28 triple barrier ----

  test("triple barrier labels up, down and vertical exits") {
    val t = ticks(Seq(("X", 0L, 100.0), ("X", 1L, 101.0),
      ("X", 2L, 103.0), ("X", 3L, 97.0)))
    val rows = Microstructure.tripleBarrier(t)
      .collect().map(r => r.getAs[Long]("day") ->
        (r.getAs[Int]("label"), r.getAs[Int]("days_to_exit"),
          r.getAs[Double]("exit_ret"))).toMap
    // entry day0 (100): day2 close 103 >= 102 -> +1 at k=2
    assert(rows(0L) == ((1, 2, 103.0 / 100.0 - 1.0)))
    // entry day1 (101): 103 < 103.02, then 97 <= 98.98 -> -1 at k=2
    assert(rows(1L) == ((-1, 2, 97.0 / 101.0 - 1.0)))
    // entry day2 (103): 97 <= 100.94 -> -1 at k=1
    assert(rows(2L) == ((-1, 1, 97.0 / 103.0 - 1.0)))
    // entry day3 has no future days -> no row
    assert(!rows.contains(3L))
  }

  test("triple barrier vertical exit labels 0 at the last seen day") {
    val t = ticks(Seq(("X", 0L, 100.0), ("X", 1L, 100.5),
      ("X", 2L, 99.5)))
    val r = Microstructure.tripleBarrier(t)
      .filter($"day" === 0L).head()
    assert(r.getAs[Int]("label") == 0)
    assert(r.getAs[Int]("days_to_exit") == 2)
    assert(math.abs(r.getAs[Double]("exit_ret") - (99.5 / 100.0 - 1.0))
      < 1e-15)
  }

  // ---- EV17 Kaplan–Meier ----

  test("kaplan–meier risk sets and survival on a 3-user history") {
    // A spans days 0..10 (censored), B 0..2 (churned), C day 5 only
    // (duration 0, censored: 5 >= end(10) - 7)
    val ev = Seq((1L, 0L), (1L, 10L), (2L, 0L), (2L, 2L), (3L, 5L))
      .toDF("user_id", "d")
      .select($"user_id", timestamp_seconds($"d" * 86400L).as("ts"))
    val rows = EventsAnalytics.kaplanMeier(ev)
      .collect().map(r => r.getAs[Long]("duration") ->
        (r.getAs[Long]("n_risk"), r.getAs[Long]("n_churned"),
          r.getAs[Long]("n_censored"), r.getAs[Double]("km_survival")))
      .toMap
    assert(rows(0L) == ((3L, 0L, 1L, 1.0)))
    assert(rows(2L)._1 == 2L && rows(2L)._2 == 1L)
    assert(math.abs(rows(2L)._4 - 0.5) < 1e-9)
    assert(rows(10L)._1 == 1L && math.abs(rows(10L)._4 - 0.5) < 1e-9)
  }

  test("kaplan–meier hits zero when the last risk set all churns") {
    // C churns at duration 15; D (days 29..30) pins end_day=30 and is
    // censored at duration 1 -> the duration-15 risk set is 100%
    // churn, so S must hit exactly 0 (the ln(0) guard path)
    val ev = Seq((1L, 0L), (1L, 15L), (2L, 29L), (2L, 30L))
      .toDF("user_id", "d")
      .select($"user_id", timestamp_seconds($"d" * 86400L).as("ts"))
    val rows = EventsAnalytics.kaplanMeier(ev)
      .collect().map(r => r.getAs[Long]("duration") ->
        (r.getAs[Long]("n_risk"), r.getAs[Double]("km_survival"))).toMap
    assert(rows(1L) == ((2L, 1.0)))
    assert(rows(15L) == ((1L, 0.0)))
  }

  // ---- M34 drawdown spells ----

  test("drawdown spells: count, longest and deepest match by hand") {
    // path: 100 (peak), 90, 95, 101 (new peak), 98, 97, 99, 102
    // spell 1 = {90, 95} (2 days, depth -0.10)
    // spell 2 = {98, 97, 99} (3 days, depth 97/101-1)
    val t = ticks(Seq(0L -> 100.0, 1L -> 90.0, 2L -> 95.0, 3L -> 101.0,
      4L -> 98.0, 5L -> 97.0, 6L -> 99.0, 7L -> 102.0)
      .map { case (d, c) => ("X", d, c) })
    val r = Microstructure.drawdownSpells(t).head()
    assert(r.getAs[Long]("n_spells") == 2L)
    assert(r.getAs[Long]("max_dd_days") == 3L)
    assert(math.abs(r.getAs[Double]("worst_depth") - (90.0 / 100.0 - 1.0))
      < 1e-15)
  }

  // ---- M33 second-order greeks ----

  test("second-order greeks match the closed form on one contract") {
    import graft.operators.Greeks
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val exp = java.sql.Date.valueOf("2024-02-01")
    val df = Seq(("1", ts, exp, "C", 10000.0, 0.6, 9500.0, 500.0))
      .toDF("trade_id", "timestamp", "expiry", "option_type",
        "strike", "iv", "spot_price", "price")
    val r = Greeks.secondOrderGreeks(df).head()
    val tYears = (java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
      .getTime / 1000L - ts.getTime / 1000L) / 31557600.0
    val sqrtT = math.sqrt(tYears)
    val d1 = (math.log(9500.0 / 10000.0) + (0.02 + 0.6 * 0.6 / 2.0)
      * tYears) / (0.6 * sqrtT)
    val d2 = d1 - 0.6 * sqrtT
    val pdf1 = math.exp(-(d1 * d1) / 2.0) / math.sqrt(2.0 * math.Pi)
    val vanna = -(pdf1 * d2) / 0.6
    val vomma = 9500.0 * pdf1 * sqrtT * d1 * d2 / 0.6 / 100.0
    val charm = -(pdf1 * (0.04 * tYears - d2 * 0.6 * sqrtT)) /
      (2.0 * tYears * 0.6 * sqrtT) / 365.25
    assert(math.abs(r.getAs[Double]("vanna") - vanna) < 1e-9)
    assert(math.abs(r.getAs[Double]("vomma") - vomma) < 1e-9)
    assert(math.abs(r.getAs[Double]("charm") - charm) < 1e-9)
    // OTM call: d2 < 0 so vanna must be positive
    assert(r.getAs[Double]("vanna") > 0)
  }

  // ---- EV19 cohort LTV ----

  test("cohort ltv accumulates value along the offset axis per cohort") {
    import graft.operators.EventsAnalytics
    // cohort day0: users 1,2; cohort day1: user 3
    val ev = Seq(
      (1L, 0L, 10.0), (2L, 0L, 5.0), (1L, 1L, 3.0), (3L, 1L, 7.0),
      (3L, 2L, 1.0))
      .toDF("user_id", "d", "value")
      .select($"user_id", timestamp_seconds($"d" * 86400L).as("ts"),
        $"value")
    val rows = EventsAnalytics.cohortLtv(ev)
      .collect().map(r => (r.getAs[String]("cohort_date"),
        r.getAs[Long]("day_offset")) -> r).toMap
    val c0 = rows.keys.map(_._1).min
    val c1 = rows.keys.map(_._1).max
    assert(rows((c0, 0L)).getAs[Double]("day_value") == 15.0)
    assert(rows((c0, 0L)).getAs[Long]("cohort_users") == 2L)
    assert(rows((c0, 1L)).getAs[Double]("cum_value") == 18.0)
    assert(rows((c0, 1L)).getAs[Double]("cum_value_per_user") == 9.0)
    assert(rows((c1, 0L)).getAs[Double]("day_value") == 7.0)
    assert(rows((c1, 1L)).getAs[Double]("cum_value") == 8.0)
    assert(rows((c1, 1L)).getAs[Long]("active_users") == 1L)
  }

  // ---- lexical entropy ----

  test("lexical entropy matches the closed form on a tiny corpus") {
    val docs = Seq((1L, "a a b", "s1"), (2L, "C c", "s2"))
      .toDF("doc_id", "text", "source")
    val rows = TextAnalysis.lexicalEntropy(docs)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val r1 = rows("s1")
    assert(r1.getAs[Long]("n_types") == 2L)
    assert(r1.getAs[Long]("n_tokens") == 3L)
    // the c·ln c sum rides the 6-dp decimal grid — coarse on a
    // 3-token corpus (fine at corpus scale), hence the loose bound
    val h = math.log(3.0) - (2.0 * math.log(2.0)) / 3.0
    assert(math.abs(r1.getAs[Double]("entropy") - h) < 1e-5)
    assert(math.abs(r1.getAs[Double]("ttr") - 2.0 / 3.0) < 1e-12)
    // "C c" lowercases to two identical tokens: 1 type, H ~ 0
    val r2 = rows("s2")
    assert(r2.getAs[Long]("n_types") == 1L)
    assert(math.abs(r2.getAs[Double]("entropy")) < 1e-5)
  }

  // ---- embedding-head PCA ----

  test("topEigen recovers the dominant eigenpair of a known matrix") {
    val c = Array(Array(2.0, 1.0), Array(1.0, 2.0))
    val (lambda, v) = EmbedPca.topEigen(c)
    assert(math.abs(lambda - 3.0) < 1e-12)
    assert(math.abs(v(0) - math.sqrt(0.5)) < 1e-12)
    assert(math.abs(v(1) - math.sqrt(0.5)) < 1e-12)
  }

  test("momentSums covariance matches a direct computation") {
    val vecs = Seq(
      Array(1.0f, 0.5f), Array(2.0f, 1.5f), Array(3.0f, 0.0f),
      Array(4.0f, 2.0f))
    val df = vecs.map(v => Tuple1(v)).toDF("embedding")
    val (c, n) = EmbedPca.covFromMoments(
      EmbedPca.momentSums(df, 2).head(), 2)
    assert(n == 4L)
    val xs = vecs.map(_(0).toDouble); val ys = vecs.map(_(1).toDouble)
    def cov(a: Seq[Double], b: Seq[Double]) = {
      val ma = a.sum / a.size; val mb = b.sum / b.size
      a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum / (a.size - 1)
    }
    assert(math.abs(c(0)(0) - cov(xs, xs)) < 1e-9)
    assert(math.abs(c(0)(1) - cov(xs, ys)) < 1e-9)
    assert(math.abs(c(1)(1) - cov(ys, ys)) < 1e-9)
  }

  // ---- EV18 Markov attribution ----

  test("markov attribution: hand-solved removal effects on 3 journeys") {
    import graft.operators.MarkovAttribution
    // u1: view -> purchase; u2: view -> click (no conv); u3: click -> purchase
    val ev = Seq(
      (1L, 0L, 1L, "view"), (1L, 1L, 2L, "purchase"),
      (2L, 0L, 3L, "view"), (2L, 1L, 4L, "click"),
      (3L, 0L, 5L, "click"), (3L, 1L, 6L, "purchase"))
      .toDF("user_id", "sec", "event_id", "event_type")
      .select($"user_id", timestamp_seconds($"sec").as("ts"),
        $"event_id", $"event_type")
    val chans = Seq("view", "click")
    val counts = MarkovAttribution.transitionCounts(ev, chans)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(counts == Map(
      ("START", "view") -> 2L, ("START", "click") -> 1L,
      ("view", "CONV") -> 1L, ("view", "click") -> 1L,
      ("click", "NULL") -> 1L, ("click", "CONV") -> 1L))
    val base = MarkovAttribution.absorption(counts, chans, None)
    assert(math.abs(base("click") - 0.5) < 1e-12)
    assert(math.abs(base("view") - 0.75) < 1e-12)
    assert(math.abs(base("START") - 2.0 / 3.0) < 1e-12)
    val rmView = MarkovAttribution.absorption(counts, chans, Some("view"))
    assert(math.abs(rmView("START") - 1.0 / 6.0) < 1e-12)
    val rmClick = MarkovAttribution.absorption(counts, chans, Some("click"))
    assert(math.abs(rmClick("START") - 1.0 / 3.0) < 1e-12)
    val (_, rows) = MarkovAttribution.attribution(counts, chans)
    val m = rows.map(r => r._1 -> r).toMap
    assert(math.abs(m("view")._3 - 0.75) < 1e-12)  // removal effect
    assert(math.abs(m("click")._3 - 0.5) < 1e-12)
    assert(math.abs(m("view")._4 - 0.6) < 1e-12)   // share
    assert(math.abs(m("click")._4 - 0.4) < 1e-12)
  }

  test("markov attribution truncates journeys at the first conversion") {
    import graft.operators.MarkovAttribution
    // events after the first purchase must not contribute transitions
    val ev = Seq(
      (1L, 0L, 1L, "view"), (1L, 1L, 2L, "purchase"),
      (1L, 2L, 3L, "click"), (1L, 3L, 4L, "purchase"))
      .toDF("user_id", "sec", "event_id", "event_type")
      .select($"user_id", timestamp_seconds($"sec").as("ts"),
        $"event_id", $"event_type")
    val counts = MarkovAttribution
      .transitionCounts(ev, Seq("view", "click"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(counts == Map(("START", "view") -> 1L, ("view", "CONV") -> 1L))
  }

  // ---- M29 Hurst / M30 range vol ----

  test("hurst: ~0.5 on a random walk, null slope when only one q survives") {
    val rng = new scala.util.Random(11)
    var p = 1000.0
    val walk = (0 to 120).map { d =>
      p *= 1.0 + (rng.nextDouble() - 0.5) * 0.04
      ("X", d.toLong, math.rint(p * 100) / 100)
    }
    val h = Microstructure.hurstExponent(ticks(walk)).head()
    assert(h.getAs[Long]("n_points") == 4L)
    val hv = h.getAs[Double]("hurst")
    assert(hv > 0.2 && hv < 0.8, s"random-walk hurst out of band: $hv")
    // exact alternation: every even-q aggregated variance is 0, only
    // q=1 survives -> degenerate regression must yield null, not throw
    val alt = ticks((0 to 40).map(d =>
      ("X", d.toLong, if (d % 2 == 0) 100.0 else 103.0)))
    val a = Microstructure.hurstExponent(alt).head()
    assert(a.isNullAt(a.fieldIndex("hurst")))
  }

  test("range vol matches the closed form on constant-range days") {
    // each day opens at the low, closes at the high: ln(H/L) = ln(C/O)
    val t = Seq(("X", 0L, 100.0), ("X", 3600L, 110.0),
      ("X", 86400L, 100.0), ("X", 90000L, 110.0))
      .toDF("symbol", "sec", "close")
      .select($"symbol", timestamp_seconds($"sec").as("timestamp"),
        $"close")
    val r = Microstructure.rangeVol(t).head()
    val l = math.log(110.0 / 100.0)
    val park = l * l / (4.0 * math.log(2.0)) * 365.0
    val gk = (0.5 * l * l - (2.0 * math.log(2.0) - 1.0) * l * l) * 365.0
    assert(r.getAs[Long]("n_days") == 2L)
    assert(math.abs(r.getAs[Double]("parkinson_vol") - math.sqrt(park)) < 1e-4)
    assert(math.abs(r.getAs[Double]("gk_vol") - math.sqrt(gk)) < 1e-4)
  }

  // ---- llm_colloc_pmi ----

  test("collocations rank a repeated pair by PMI above a diffuse one") {
    val docs = (1 to 10).map(i =>
      (i.toLong, "alpha beta gamma delta " * 2 + s"tok$i solo", "s"))
      .toDF("doc_id", "text", "source")
    val top = graft.operators.TextAnalysis.collocations(docs, minCount = 5)
      .collect()
    assert(top.nonEmpty)
    val first = top.head
    // "alpha beta" occurs 20x with tight marginals -> top PMI block
    val pairs = top.map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("alpha", "beta")))
    assert(first.getAs[Double]("pmi") >= top.last.getAs[Double]("pmi"))
    // one bigram count table serves both models: every pair's PMI
    // count is its Kneser-Ney count
    def counts(df: org.apache.spark.sql.DataFrame, c: String) = df.collect()
      .map(r => (r.getAs[String]("w1"), r.getAs[String]("w2")) -> r.getAs[Long](c))
      .toMap
    val pmi = counts(graft.operators.TextAnalysis.collocations(docs,
      minCount = 1, k = 1000), "c_xy")
    assert(pmi.size > pairs.size)
    assert(pmi == counts(
      graft.operators.TextAnalysis.kneserNeyBigrams(docs, k = 1000), "cb"))
  }

  // ---- J8 as-of tolerance ----

  test("asOfTolerance nulls stale matches but keeps the age observable") {
    import graft.operators.AsOfJoin
    val right = Seq(("K", 50L, 1.5))
      .toDF("k", "sec", "v")
      .select($"k", timestamp_seconds($"sec").as("rts"), $"v")
    val left = Seq(("K", 10L, "early"), ("K", 100L, "fresh"),
      ("K", 2000L, "stale"))
      .toDF("k", "sec", "tag")
      .select($"k", timestamp_seconds($"sec").as("lts"), $"tag")
    val out = AsOfJoin.asOfTolerance(left, right, "k", "lts", "rts",
      "v", "asof_v", tolSec = 600L)
      .collect().map(r => r.getAs[String]("tag") -> r).toMap
    // before any right row: no match at all
    assert(out("early").isNullAt(out("early").fieldIndex("asof_v")))
    assert(out("early").isNullAt(out("early").fieldIndex("asof_age_sec")))
    assert(!out("early").getAs[Boolean]("is_fresh"))
    // within tolerance
    assert(out("fresh").getAs[Double]("asof_v") == 1.5)
    assert(out("fresh").getAs[Long]("asof_age_sec") == 50L)
    assert(out("fresh").getAs[Boolean]("is_fresh"))
    // matched but stale: value nulled, age stays
    assert(out("stale").isNullAt(out("stale").fieldIndex("asof_v")))
    assert(out("stale").getAs[Long]("asof_age_sec") == 1950L)
    assert(!out("stale").getAs[Boolean]("is_fresh"))
  }

  // ---- M31 higher moments ----

  test("realized moments: exact skew 0 / kurtosis -2 on a ±10% flip-flop") {
    val t = ticks(Seq(("X", 0L, 100.0), ("X", 1L, 110.0),
      ("X", 2L, 99.0), ("X", 3L, 108.9), ("X", 4L, 98.01)))
    val r = Microstructure.realizedMoments(t).head()
    assert(r.getAs[Long]("n_obs") == 4L)
    assert(math.abs(r.getAs[Double]("mean")) < 1e-12)
    assert(math.abs(r.getAs[Double]("m2") - 0.01) < 1e-12)
    assert(r.getAs[Double]("skewness") == 0.0)
    assert(math.abs(r.getAs[Double]("ex_kurtosis") - -2.0) < 1e-9)
  }

  // ---- M32 Sortino / Omega ----

  test("sortino/omega: symmetric flip-flop gives sortino 0, omega 1") {
    val t = ticks(Seq(("X", 0L, 100.0), ("X", 1L, 110.0),
      ("X", 2L, 99.0), ("X", 3L, 108.9), ("X", 4L, 98.01)))
    val r = Microstructure.sortinoOmega(t).head()
    assert(r.getAs[Long]("n_obs") == 4L)
    assert(math.abs(r.getAs[Double]("mean_ret")) < 1e-12)
    assert(math.abs(r.getAs[Double]("downside_dev")
      - math.sqrt(0.02 / 4.0)) < 1e-12)
    assert(math.abs(r.getAs[Double]("sortino")) < 1e-10)
    assert(math.abs(r.getAs[Double]("omega") - 1.0) < 1e-10)
    assert(r.getAs[Double]("win_rate") == 0.5)
  }

  // ---- split leakage ----

  test("split leakage catches a planted train->test duplicate") {
    import graft.operators.TextAnalysis
    // find one train id and one test id under the audit's own seed
    val probe = (0L until 200L).map(i => (i, s"probe $i", "s"))
      .toDF("doc_id", "text", "source")
    val splits = TextAnalysis.splitAssign(probe, 7L, 90, 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("split")).toMap
    val trainId = splits.collectFirst { case (id, "train") => id }.get
    val testId = splits.collectFirst { case (id, "test") => id }.get
    val valId = splits.collectFirst { case (id, "val") => id }.get
    val docs = Seq(
      (trainId, "the shared leaked document", "s"),
      (testId, "the shared LEAKED    document", "s"), // same normalized
      (valId, "something else entirely", "s"))
      .toDF("doc_id", "text", "source")
    val rows = TextAnalysis.splitLeakage(docs, 7L, 90, 5)
      .collect().map(r => r.getAs[String]("channel") ->
        (r.getAs[Long]("n_shared_hashes"), r.getAs[Long]("n_leaked_docs")))
      .toMap
    assert(rows("train->test") == ((1L, 1L)))
    assert(rows("train->val") == ((0L, 0L)))
    assert(rows("val->test") == ((0L, 0L)))
  }

  // ---- kNN label vote ----

  test("knn label vote recovers the cluster label, ties break low") {
    import graft.operators.VectorOps
    // two tight clusters along orthogonal axes
    def v(x: Float, y: Float) = Array(x, y)
    val rows = Seq(
      (0L, v(1.0f, 0.01f), 1), // query: clearly in cluster 1
      (1L, v(1.0f, 0.02f), 1), (2L, v(1.0f, 0.03f), 1),
      (3L, v(0.99f, 0.01f), 1),
      (4L, v(0.01f, 1.0f), 2), (5L, v(0.02f, 1.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val out = VectorOps.knnLabelVote(rows,
      rows.filter($"vec_id" === 0L), k = 3).head()
    assert(out.getAs[Int]("pred_label") == 1)
    assert(out.getAs[Long]("n_votes") == 3L)
    assert(out.getAs[Boolean]("correct"))
  }

  // ---- A33 gamma exposure ----

  test("gamma exposure signs, cumulates and flags the flip strike") {
    val g = Seq(
      ("BTC", 100.0, "C", 2e-5, 50.0, 10000.0),
      ("BTC", 100.0, "P", 1e-5, 30.0, 10000.0),
      ("BTC", 200.0, "P", 4e-5, 80.0, 10000.0))
      .toDF("underlying", "strike", "option_type", "gamma", "amount",
        "spot_price")
    val rows = Greeks.gammaExposure(g)
      .collect().map(r => r.getAs[Double]("strike") -> r).toMap
    val r100 = rows(100.0)
    val cGex = 2e-5 * 50.0 * 10000.0 * 10000.0 * 0.01
    val pGex = -1e-5 * 30.0 * 10000.0 * 10000.0 * 0.01
    assert(math.abs(r100.getAs[Double]("gex_calls") - cGex) < 1e-3)
    assert(math.abs(r100.getAs[Double]("gex_puts") - pGex) < 1e-3)
    assert(math.abs(r100.getAs[Double]("gex_net") - (cGex + pGex)) < 1e-3)
    assert(!r100.getAs[Boolean]("is_flip"))
    val r200 = rows(200.0)
    // strike 200 put swings the cumulative negative -> flip
    assert(r200.getAs[Double]("cum_gex") < 0)
    assert(r200.getAs[Boolean]("is_flip"))
  }
}
