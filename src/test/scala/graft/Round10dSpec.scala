package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{EmbedPca, TermPca, TextRetrieval, ZOrderLayout}

/** Round-10 fourth batch: Z-order layout audit (x7), TF-IDF cosine
  * pairs (llm_tfidf_cosine), term-structure PCA (m24), Taylor P&L
  * attribution (m23 — oracle-gated; the greek-ladder identity is
  * exercised there), stream-stream left-outer join (st13 —
  * oracle-gated incl. the watermark null-emission boundary). */
class Round10dSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- Z-order ----

  private def mortonRef(b1: Long, b2: Long, bits: Int): Long =
    (0 until bits).map { i =>
      (((b1 >> i) & 1L) << (2 * i + 1)) | (((b2 >> i) & 1L) << (2 * i))
    }.sum

  test("mortonCol matches the reference interleave on a grid sample") {
    val cases = for (a <- 0 until 16; b <- 0 until 16) yield (a.toLong, b.toLong)
    val got = cases.toDF("b1", "b2")
      .select(col("b1"), col("b2"),
        ZOrderLayout.mortonCol(col("b1"), col("b2"), 4).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for ((a, b) <- cases)
      assert(got((a, b)) == mortonRef(a, b, 4), s"morton($a,$b)")
  }

  test("morton z-values are unique per cell (bijective on the grid)") {
    val zs = for (a <- 0L until 32L; b <- 0L until 32L)
      yield mortonRef(a, b, 5)
    assert(zs.distinct.size == 1024 && zs.min == 0 && zs.max == 1023)
  }

  test("z-order audit: box query hits no more files than linear layout") {
    // uniform grid over two exactly-representable dims
    val rows = for (t <- 0 until 64; p <- 0 until 16)
      yield (t * 100L, 8000.0 + 250.0 * p)
    val df = rows.toDF("t", "price")
    val out = ZOrderLayout.audit(df, col("t"), col("price"),
      bits = 6, fileShift = 6)
      .collect().map(r => r.getAs[String]("layout") ->
        (r.getAs[Long]("files_hit"), r.getAs[Long]("rows_scanned"),
          r.getAs[Long]("box_rows"), r.getAs[Long]("n_rows"))).toMap
    val (zHit, zScan, zBox, zN) = out("zorder")
    val (lHit, lScan, lBox, lN) = out("linear")
    assert(zN == rows.size && lN == rows.size && zBox == lBox)
    assert(zHit <= lHit, s"zorder $zHit files vs linear $lHit")
    assert(zScan <= lScan)
    assert(zScan >= zBox && lScan >= lBox) // footers can never under-scan
  }

  // ---- TF-IDF cosine pairs ----

  test("tfidf cosine: exact duplicates score 1.0, disjoint docs absent") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six"),
      (4L, "seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val got = TextRetrieval.tfidfCosinePairs(docs, n = 3, maxDf = 10,
      minCosine = 0.0)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("cosine")).toMap
    assert(got.keySet == Set((1L, 2L))) // only the dup pair shares shingles
    assert(math.abs(got((1L, 2L)) - 1.0) < 1e-12)
  }

  test("tfidf cosine: df cap excludes boilerplate shingles from pairing") {
    // the shared phrase appears in ALL 5 docs -> df=5 > maxDf=4 -> no pairs
    val docs = (1 to 5).map(i =>
      (i.toLong, s"common boiler plate phrase here tail$i")).toDF("doc_id", "text")
    val got = TextRetrieval.tfidfCosinePairs(docs, n = 3, maxDf = 4,
      minCosine = 0.0).count()
    assert(got == 0L)
  }

  // ---- Term-structure PCA ----

  test("power iteration recovers the dominant eigenpair of a known matrix") {
    // C = diag(4,1,1,1) rotated by nothing: eigenpair is trivial
    val c = Array(
      Array(4.0, 0.0, 0.0, 0.0),
      Array(0.0, 1.0, 0.0, 0.0),
      Array(0.0, 0.0, 1.0, 0.0),
      Array(0.0, 0.0, 0.0, 1.0))
    val (lambda, v) = EmbedPca.topEigen(c, iters = 100)
    assert(math.abs(lambda - 4.0) < 1e-10)
    assert(math.abs(v(0) - 1.0) < 1e-8 && v.drop(1).forall(math.abs(_) < 1e-8))
  }

  test("topEigen satisfies Cv = lambda v on a dense symmetric matrix") {
    val c = Array(
      Array(2.0, 0.5, 0.3, 0.1),
      Array(0.5, 1.5, 0.2, 0.4),
      Array(0.3, 0.2, 1.0, 0.6),
      Array(0.1, 0.4, 0.6, 0.8))
    val (lambda, v) = EmbedPca.topEigen(c, iters = 100)
    val resid = (0 until 4).map { i =>
      math.abs((0 until 4).map(j => c(i)(j) * v(j)).sum - lambda * v(i))
    }.max
    assert(resid < 1e-10)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-12)
    assert(v(0) >= 0) // sign convention
  }

  // ---- Gap repair plan (s16) ----

  test("gapRepairPlan slices a gap into clipped 6h fetch windows") {
    val gaps = Seq((1000L, 1000L + 15L * 3600L, 15L))
      .toDF("gap_start", "gap_end", "gap_hours")
    val got = graft.operators.DataQuality.gapRepairPlan(gaps)
      .orderBy("slice_idx")
      .collect().map(r => (r.getAs[Long]("slice_idx"),
        r.getAs[Long]("slice_start"), r.getAs[Long]("slice_end")))
    // 15h gap / 6h slices -> 3 slices, last clipped to 3h
    assert(got.length == 3)
    assert(got(0) == ((0L, 1000L, 1000L + 21600L)))
    assert(got(1) == ((1L, 1000L + 21600L, 1000L + 43200L)))
    assert(got(2) == ((2L, 1000L + 43200L, 1000L + 54000L)))
    // slices tile the gap exactly: contiguous, full coverage
    assert(got.sliding(2).forall { case Array(a, b) => a._3 == b._2 })
  }

  test("gapRepairPlan: exact-multiple gap gets no empty tail slice") {
    val gaps = Seq((0L, 43200L, 12L)).toDF("gap_start", "gap_end", "gap_hours")
    val got = graft.operators.DataQuality.gapRepairPlan(gaps).count()
    assert(got == 2L) // 12h / 6h = exactly 2, not 3
  }

  // ---- Funnel transition latency (ev16) ----

  test("funnelTransitionStats computes per-pair latency from chain frames") {
    val chain = Seq(
      (1L, Some(100L), Some(150L), Some(400L)),
      (2L, Some(10L), Some(9000000000L), None),
      (3L, Some(5L), None, None))
      .toDF("user_id", "t1_us", "t2_us", "t3_us")
    val got = graft.operators.EventsAnalytics
      .funnelTransitionStats(chain, Seq("a", "b", "c"))
      .collect().map(r => r.getAs[String]("transition") ->
        ((r.getAs[Long]("n_converted"), r.getAs[Long]("min_us"),
          r.getAs[Long]("within_1h")))).toMap
    assert(got("a->b") == ((2L, 50L, 1L))) // user2's 9000s > 1h
    assert(got("b->c") == ((1L, 250L, 1L)))
  }

  test("bucketIdx covers the synthetic 7..66 DTE ladder into 4 buckets") {
    val got = (7 to 66).map(d => (d, d)).toDF("dte", "d")
      .select(TermPca.bucketIdx(col("dte")).as("b"))
      .groupBy("b").count().collect()
      .map(r => r.getAs[Int]("b") -> r.getAs[Long]("count")).toMap
    assert(got.keySet == Set(0, 1, 2, 3))
    assert(got(0) == 15 && got(1) == 15 && got(2) == 15 && got(3) == 15)
  }
}
