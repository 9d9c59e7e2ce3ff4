package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators._

/** Unit layer for the LLM-data-pipeline operators: dedup (exact /
  * MinHash / SimHash / inverted-index Jaccard), text analysis, and
  * vector similarity. */
class LlmOperatorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val docs: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "The quick brown fox jumps over the lazy dog"),
      (2L, "  the QUICK brown   fox jumps over the lazy dog "), // = 1 normalized
      (3L, "The quick brown fox jumps over the lazy cat"), // near-dup of 1
      (4L, "Completely different text about spark query engines here"),
      (5L, "short doc")).toDF("doc_id", "text")
  }

  private def shingled(n: Int): DataFrame = TextDedup.shingleDocs(docs, n)

  private def hashed(n: Int): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.TextHashColumns.ngramHashes(col("text"), n).as("hs"))
      .filter(size(col("hs")) > 0)

  test("NgramHash32 splits exactly on regex \\s, not Character.isWhitespace") {
    import spark.implicits._
    // U+001C is isWhitespace-true but \s-false: must stay inside a word
    val d = Seq((1L, "aa\u001Cbb cc dd")).toDF("doc_id", "text")
    val viaExpr = d.select(
      graft.functions.TextHashColumns.ngramHashes(col("text"), 2).as("hs"))
      .head().getSeq[Long](0).toSet
    val viaCols = d
      .select(TextDedup.words(col("text")).as("_w"))
      .select(TextDedup.wordShingles(col("_w"), 2).as("_sh"))
      .select(transform(col("_sh"), TextDedup.wordHash32(_)).as("hs"))
      .head().getSeq[Long](0).toSet
    assert(viaExpr == viaCols)
    assert(viaExpr.size == 2) // ["aa<FS>bb cc", "cc dd"]
  }

  test("NgramHash32 expression matches the staged column pipeline") {
    val viaExpr = hashed(2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val viaColumns = shingled(2)
      .select(col("doc_id"),
        transform(col("shingles"), TextDedup.wordHash32(_)).as("hs"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(viaExpr == viaColumns)
  }

  test("exact dedup collapses whitespace/case variants") {
    val out = TextDedup.exactDedup(docs).collect()
    assert(out.length == 4) // docs 1+2 share a hash
    val dup = out.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("minhash LSH finds the normalized-dup and the near-dup pair") {
    val pairs = TextDedup.minhashNearDups(hashed(2), k = 12, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical shingle sets
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("jaccard is exact on distinct shingle arrays") {
    val j = docs.filter(col("doc_id").isin(1, 3))
      .select(TextDedup.wordShingles(TextDedup.words(col("text")), 2)
        .as("sh"))
    val Array(a, b) = j.collect().map(_.getSeq[String](0).toSet)
    val expected = (a & b).size.toDouble / (a | b).size
    val got = TextDedup.invertedIndexPairs(hashed(2), maxDf = 100,
      threshold = 0.0, tokensCol = "hs")
      .filter(col("id_a") === 1 && col("id_b") === 3)
      .head().getAs[Double]("jaccard")
    assert(math.abs(got - expected) < 1e-12)
  }

  test("dedupClusters propagates min label across a chain component") {
    import spark.implicits._
    // chain 10-20-30-40 (diameter 3 forces multiple rounds) + pair 5-6
    val pairs = Seq((10L, 20L), (20L, 30L), (30L, 40L), (5L, 6L))
      .toDF("id_a", "id_b")
    val out = TextDedup.dedupClusters(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(Seq(10L, 20L, 30L, 40L).forall(out(_)._1 == 10L))
    assert(out(5L)._1 == 5L && out(6L)._1 == 5L)
    assert(out.count(_._2._2) == 2) // one survivor per component
    assert(out(10L)._2 && out(5L)._2)
  }

  test("dedupClusters converges on a 200-node chain (log-diameter jumps)") {
    import spark.implicits._
    // pure propagation would need 199 rounds — far past the 64 cap;
    // pointer jumping must close it in ~log2(199) alternating rounds
    val chain = (0 until 199).map(i => (i.toLong, i.toLong + 1))
      .toDF("id_a", "id_b")
    val out = TextDedup.dedupClusters(chain).collect()
    assert(out.length == 200)
    assert(out.forall(_.getLong(1) == 0L))
    assert(out.count(_.getBoolean(2)) == 1)
    // the graph fits one task's union-find; the distributed loop the
    // large graphs take must label it the same
    val loop = TextDedup.labelPropagation(chain, 2L * 199).collect()
    assert(loop.length == 200)
    assert(loop.forall(_.getLong(1) == 0L))
  }

  test("dedupClusters runs at most two jobs on a small graph") {
    import spark.implicits._
    val pairs = Seq((10L, 20L), (20L, 30L), (30L, 40L), (5L, 6L))
      .toDF("id_a", "id_b")
    var rows = 0
    val jobs = TestSpark.jobsDuring {
      rows = TextDedup.dedupClusters(pairs).collect().length
    }
    assert(rows == 6)
    assert(jobs.size <= 2, s"dedupClusters ran ${jobs.size} jobs")
  }

  test("simhash: identical normalized docs hash equal; hamming 0") {
    val sims = docs.select(col("doc_id"), graft.functions.TextHashColumns
      .simhash60(TextDedup.words(col("text"))).as("simhash"))
    val byId = sims.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(1L) == byId(2L))
    assert(byId.values.forall(v =>
      v >= 0 && v < (1L << TextDedup.SimhashBits)))
    val pairs = TextDedup.simhashPairs(sims, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("decontaminate flags exactly the docs sharing benchmark n-grams") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps"),   // benchmark
      (2L, "a quick brown fox sits here"), // shares "quick brown fox"
      (3L, "completely different words in this text"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextDedup.words(col("text")).as("_w"))
      .select(col("doc_id"),
        transform(TextDedup.wordShingles(col("_w"), 3),
          TextDedup.wordHash32(_)).as("hs"))
    val out = TextDedup.decontaminate(corpus,
      corpus.filter(col("doc_id") === 1L)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L)._2) // benchmark doc overlaps itself entirely
    assert(out(2L) == ((1L, true))) // exactly one shared 3-gram
    assert(out(3L) == ((0L, false)))
  }

  test("stratified sample is deterministic and nested across rates") {
    val d = graft.util.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    def ids(rate: Int) = TextAnalysis
      .stratifiedSample(d, lit(rate)).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val s25 = ids(25); val s50 = ids(50); val s100 = ids(100)
    assert(s25.subsetOf(s50) && s50.subsetOf(s100)) // nested samples
    assert(s100.size == d.count())                  // rate 100 keeps all
    assert(ids(25) == s25)                          // reproducible
    // rate is approximately honored (hash buckets are uniform-ish)
    val frac = s25.size.toDouble / s100.size
    assert(frac > 0.15 && frac < 0.35, s"25% sample kept $frac")
  }

  test("packIntoBins splits boundary docs and never overflows budget") {
    import spark.implicits._
    val toks = Seq(
      (1L, "a", 100L), (2L, "a", 150L), (3L, "a", 100L), (4L, "a", 60L),
      (5L, "b", 400L), (6L, "b", 10L))
      .toDF("doc_id", "source", "n_tokens")
    val rows = TextAnalysis.packIntoBins(toks, budget = 300L).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("bin_id"),
        r.getAs[Long]("tok_from"), r.getAs[Long]("tok_until")))
    val byDoc = rows.groupBy(_._1)
    // doc 3 (prefix 250, 100 tokens) straddles the a-group boundary:
    // 50 tokens close bin 0, the remaining 50 open bin 1
    assert(byDoc(3L).toSet ==
      Set((3L, 0L, 0L, 50L), (3L, 1L, 50L, 100L)))
    // doc 5 (400 tokens > budget) fills bin 0 and spills into bin 1
    assert(byDoc(5L).toSet ==
      Set((5L, 0L, 0L, 300L), (5L, 1L, 300L, 400L)))
    // unsplit docs emit exactly one full-range row
    assert(byDoc(1L).toSeq == Seq((1L, 0L, 0L, 100L)))
    assert(byDoc(6L).toSeq == Seq((6L, 1L, 0L, 10L)))
    // every doc's sub-ranges tile [0, n_tokens) exactly
    val n = Map(1L -> 100L, 2L -> 150L, 3L -> 100L, 4L -> 60L,
      5L -> 400L, 6L -> 10L)
    byDoc.foreach { case (id, rs) =>
      assert(rs.map(r => r._4 - r._3).sum == n(id), s"doc $id not tiled")
    }
  }

  test("packIntoBins property: every bin holds at most budget tokens") {
    import spark.implicits._
    // adversarial mix: giant docs, singletons, zero-token docs
    val toks = (1 to 120).map { i =>
      val n = (i * 37 % 11) match {
        case 0 => 0L
        case k if k < 4 => k * 450L // > budget
        case k => k * 17L
      }
      (i.toLong, s"src${i % 3}", n)
    }.toDF("doc_id", "source", "n_tokens")
    val budget = 256L
    val out = TextAnalysis.packIntoBins(toks, budget).collect()
    val perBin = out.groupBy(r => (r.getAs[String]("source"),
        r.getAs[Long]("bin_id")))
      .view.mapValues(_.map(r => r.getAs[Long]("n_in_bin")).sum)
    perBin.foreach { case (k, total) =>
      assert(total <= budget, s"bin $k overflows: $total > $budget")
    }
    // all bins below a group's last are filled to exactly the budget
    val lastBin = out.groupBy(r => r.getAs[String]("source"))
      .view.mapValues(_.map(r => r.getAs[Long]("bin_id")).max)
    perBin.foreach { case ((src, bin), total) =>
      if (bin < lastBin(src)) assert(total == budget,
        s"non-terminal bin ($src, $bin) underfilled: $total")
    }
  }

  test("unigram logprob ranks common-vocabulary docs above rare ones") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the mat"),
      (3L, "zyx qwv pfj xkz brr gnl")) // vocabulary singletons
      .toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogprob(corpus).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("avg_logprob")).toMap
    assert(out.size == 3)
    assert(out.values.forall(_ < 0.0))
    // docs 1/2 share high-frequency words; doc 3 is all singletons
    assert(out(1L) > out(3L) && out(2L) > out(3L))
  }

  test("bigram logprob matches the hand-computed interpolated LM") {
    import spark.implicits._
    // tokens: a x3, b x2, c x1 -> total=6, vocab=3
    // bigrams: (a,b) x2, (a,c) x1 -> cctx(a)=3
    val corpus = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogprob(corpus, 0.7, 0.3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def q6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pAB = 0.7 * (2.0 / 3.0) + 0.3 * ((2.0 + 1) / (6.0 + 3))
    val pAC = 0.7 * (1.0 / 3.0) + 0.3 * ((1.0 + 1) / (6.0 + 3))
    assert(out(1L) == ((1L, q6(math.log(pAB)))))
    assert(out(2L) == out(1L))
    assert(out(3L) == ((1L, q6(math.log(pAC)))))
    // the common bigram scores higher than the rare one
    assert(out(1L)._2 > out(3L)._2)
  }

  test("bigram logprob drops docs with fewer than two words") {
    import spark.implicits._
    val corpus = Seq((1L, "solo"), (2L, ""), (3L, "a b c"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogprob(corpus).collect()
    assert(out.map(_.getLong(0)).toSet == Set(3L))
    assert(out.head.getLong(1) == 2L) // "a b" and "b c"
  }

  test("perplexity cut keeps the most-likely half per source") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d", "s1"), (2L, "a b c d", "s1"),
      (3L, "a b x q", "s1"), (4L, "q x z w", "s1"),
      (5L, "a b c d", "s2"), (6L, "z w q x", "s2"))
      .toDF("doc_id", "text", "source")
    val lm = TextAnalysis.bigramLogprob(corpus)
    val scored = lm.join(corpus.select("doc_id", "source"), "doc_id")
    val kept = TextAnalysis.qualityPercentileCut(scored,
      col("avg_logprob"), keepFrac = 0.5).collect()
      .map(r => r.getLong(0)).toSet
    // Conditional bigram likelihood rewards PREDICTABLE transitions,
    // not common words: s1 keeps 1,2 (their transitions are the
    // majority of their contexts) over 3,4 (mixed-context tails); in
    // s2 doc 6 wins — all its transitions are deterministic within
    // their contexts (P_ML = 1) — while doc 5 pays for b->c competing
    // with b->x. Hand-computed: avg lp 6 ~ -0.309 > 5 ~ -0.391.
    assert(kept == Set(1L, 2L, 6L))
  }

  test("quality + token metrics are bounded and consistent") {
    val q = TextAnalysis.qualityScore(docs).collect()
    q.foreach { r =>
      Seq("punct_ratio", "digit_ratio", "upper_ratio", "stopword_ratio")
        .foreach { c =>
          val v = r.getAs[Double](c)
          assert(v >= 0.0 && v <= 1.0, s"$c=$v")
        }
    }
    val t = TextAnalysis.tokenCounts(docs)
      .filter(col("doc_id") === 5).head()
    assert(t.getAs[Int]("n_ws_tokens") == 2)
    assert(t.getAs[Int]("n_bpe_tokens") == 2)
  }

  test("repetition metrics flag duplicated lines and dominant bigrams") {
    import spark.implicits._
    val rep = Seq(
      (1L, "spam line\nspam line\nspam line\nreal content"),
      (2L, "buy now buy now buy now buy now"),
      (3L, "a perfectly normal sentence with varied words inside"),
      (4L, "tiny")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionMetrics(rep).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("dup_line_frac"),
          Option(r.getAs[java.lang.Double]("top_bigram_frac")),
          r.getAs[Boolean]("repetition_ok"))).toMap
    // doc 1: 4 lines, 2 repeats of "spam line" -> 2/4
    assert(out(1L)._1 == 0.5 && !out(1L)._3)
    // doc 2: "buy now" dominates the bigrams -> gate trips
    assert(out(2L)._2.exists(_ > 0.2) && !out(2L)._3)
    assert(out(3L)._3)
    // doc 4: one line, no bigrams -> vacuously ok, frac null
    assert(out(4L)._2.isEmpty && out(4L)._3)
  }

  test("source stats charge exact duplicates to every holding source") {
    import spark.implicits._
    val d = Seq(
      (1L, "same text", "crawlA"),
      (2L, "Same   TEXT", "crawlB"), // normalized dup of 1
      (3L, "unique one", "crawlA"),
      (4L, "unique two", "crawlB")).toDF("doc_id", "text", "source")
    val out = TextAnalysis.sourceStats(d).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_dup_docs"))).toMap
    assert(out("crawlA") == ((2L, 1L)))
    assert(out("crawlB") == ((2L, 1L)))
  }

  test("langId short-circuits CJK and falls back to stopword argmax") {
    import spark.implicits._
    val d = Seq(
      (1L, "the fox is on the hill", "x"),
      (2L, "der hund ist nicht mit der katze", "x"),
      (3L, "你好世界 你好世界 你好世界", "x")).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langId(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("predicted_lang"))
      .toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
    assert(out(3L) == "zh")
  }

  private lazy val vecs: DataFrame = {
    import spark.implicits._
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)), // close to 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.95f, 0.05f)), // close to 2
      (4L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
  }

  test("brute-force ANN ranks by exact cosine with deterministic ties") {
    val out = VectorOps.annTopK(vecs, vecs.filter(col("vec_id") === 0), k = 2)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L))
    val top = out.head.getAs[Double]("cos_sim")
    assert(top > 0.99 && top < 1.0)
  }

  test("trained IVF recovers planted clusters and matches brute force") {
    import spark.implicits._
    // 3 clean clusters around orthogonal axes, 8 vectors each
    val planted = (0 until 24).map { i =>
      val axis = i % 3
      val base = Array.fill(3)(0.01f * ((i * 7) % 5))
      base(axis) = 1.0f + 0.01f * (i / 3)
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val centroids = VectorOps.kmeansCentroids(planted, k = 3, iters = 5)
    assert(centroids.length == 3 && centroids.forall(_.length == 3))
    // every vector's nearest centroid must be shared with its axis-mates
    val assigns = planted.as[(Long, Array[Float])].collect()
      .map { case (id, v) => id -> VectorOps.nearestCentroid(v, centroids) }
      .toMap
    for (axis <- 0 until 3) {
      val members = (0 until 24).filter(_ % 3 == axis).map(i => assigns(i.toLong))
      assert(members.distinct.size == 1, s"axis $axis split: $members")
    }
    // IVF top-1 with nprobe=1 agrees with brute force inside clusters
    val queries = planted.filter(col("vec_id") < 3)
    val ivf = VectorOps.exactRerank(VectorOps.ivfCandidates(planted, queries,
      nClusters = 3, nprobe = 1), planted, queries, k = 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val brute = VectorOps.annTopK(planted, queries, k = 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    assert(ivf == brute)
    // one partition: the centroids are a plain in-order Lloyd's, bit
    // for bit, and training is the kernel's counting job plus one task
    val rows = planted.as[(Long, Array[Float])].collect().toSeq
    assert(VectorOps.kmeansCentroids(planted.coalesce(1), k = 3, iters = 5)
      .map(_.toSeq).toSeq == TestSpark.lloydReference(rows, 3, 5))
    for (iters <- Seq(1, 3, 25)) {
      val ran = TestSpark.jobsDuring(
        VectorOps.kmeansCentroids(planted.coalesce(1), 3, iters)).size
      assert(ran <= 2, s"kmeansCentroids(iters = $iters) ran $ran jobs")
    }
    // three partitions: one task and one job per step agree bit for bit
    val parts = spark.sparkContext.parallelize(rows, 3)
    val loop = VectorOps.lloyd(1, 3)
    val s0 = graft.util.Iterate(parts, 0, loop) // zero steps: the seeds
    val deep = (b: Array[Array[Array[Double]]]) => b.map(_.map(_.toSeq).toSeq).toSeq
    var stepped = s0
    val perStep = TestSpark.jobsDuring {
      stepped = graft.util.Iterate.stepLoop(parts, s0, 5, loop)
    }.size
    assert(perStep == 5)
    assert(deep(graft.util.Iterate.oneTask(parts, s0, 5, loop)) == deep(stepped))
    assert(deep(graft.util.Iterate(parts, 5, loop)) == deep(stepped))
  }

  test("PQ ANN: exact re-rank scores, high recall vs brute force") {
    val emb = graft.util.Tables.load(spark, "/root/testdata/sf0.001",
      "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
    val pq = VectorOps.pqTopK(emb, queries, k = 5).collect()
    val brute = VectorOps.annTopK(emb, queries, k = 5).collect()
    // per (query, neighbor) the re-ranked cosine is EXACT — identical
    // to the brute-force score for the same pair
    val bruteScore = brute.map(r => (r.getAs[Long]("query_id"),
      r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cos_sim")).toMap
    val pqPairs = pq.map(r => (r.getAs[Long]("query_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    pq.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      bruteScore.get(key).foreach { exact =>
        assert(r.getAs[Double]("cos_sim") == exact, s"score drift at $key")
      }
    }
    // recall@5 of the ADC shortlist against brute force
    val hit = brute.count(r => pqPairs.contains(
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))))
    val recall = hit.toDouble / brute.length
    assert(recall >= 0.5, s"PQ recall@5 = $recall")
    // shape: 5 rows per query, ranks 1..5
    assert(pq.length == 8 * 5)
    // codebook training on one partition: two jobs at any iteration count
    for (iters <- Seq(1, 3, 25)) {
      val ran = TestSpark.jobsDuring(
        VectorOps.pqTrain(emb.coalesce(1), 4, 16, iters = iters)).size
      assert(ran <= 2, s"pqTrain(iters = $iters) ran $ran jobs")
    }
    // all four subspaces: one task and one job per step agree bit for bit
    import spark.implicits._
    val parts = spark.sparkContext.parallelize(
      emb.select(col("vec_id").cast("long"), col("embedding"))
        .as[(Long, Array[Float])].collect().toSeq, 3)
    val loop = VectorOps.lloyd(4, 16)
    val s0 = graft.util.Iterate(parts, 0, loop)
    val deep = (b: Array[Array[Array[Double]]]) => b.map(_.map(_.toSeq).toSeq).toSeq
    assert(deep(graft.util.Iterate.oneTask(parts, s0, 3, loop)) ==
      deep(graft.util.Iterate.stepLoop(parts, s0, 3, loop)))
  }

  test("IVF-PQ: planted clusters recovered through residual codes") {
    import spark.implicits._
    // same planted geometry as the IVF test: 3 orthogonal-axis
    // clusters — IVF-PQ must route and rank within them like brute
    // force (dim 3 is not divisible by m=4, so m=3/ksub=4 here)
    val planted = (0 until 24).map { i =>
      val axis = i % 3
      val base = Array.fill(3)(0.01f * ((i * 7) % 5))
      base(axis) = 1.0f + 0.01f * (i / 3)
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val queries = planted.filter(col("vec_id") < 3)
    val ivfpq = VectorOps.exactRerank(VectorOps.ivfPqShortlist(planted,
      queries, nClusters = 3, nprobe = 1, m = 3, ksub = 4, shortlist = 8),
      planted, queries, k = 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val brute = VectorOps.annTopK(planted, queries, k = 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    assert(ivfpq == brute)
    // real corpus: shortlist recall + exact re-rank scores
    val emb = graft.util.Tables.load(spark, "/root/testdata/sf0.001",
      "embeddings")
    val q8 = emb.filter(col("vec_id") < 8)
    val pq = VectorOps.exactRerank(VectorOps.ivfPqShortlist(emb, q8), emb, q8,
      k = 5).collect()
    val bf = VectorOps.annTopK(emb, q8, k = 5).collect()
    val bfScore = bf.map(r => (r.getAs[Long]("query_id"),
      r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cos_sim")).toMap
    pq.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      bfScore.get(key).foreach { exact =>
        assert(r.getAs[Double]("cos_sim") == exact, s"score drift at $key")
      }
    }
    assert(pq.length == 8 * 5)
  }

  /** Deterministic pseudo-random 64-dim corpus with planted near-dup
    * pairs: vector 2i+1 of each planted pair is a tiny perturbation of
    * vector 2i (cos > 0.99); the rest are index-hashed noise. */
  private def lshCorpus(n: Int, planted: Int) = {
    import spark.implicits._
    def noise(seed: Int) = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(64)(r.nextGaussian().toFloat)
      val nrm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / nrm)
    }
    (0 until n).map { i =>
      if (i < 2 * planted && i % 2 == 1) {
        val base = noise(i - 1)
        base(0) = base(0) + 0.02f // perturbed copy of 2i
        (i.toLong, base)
      } else (i.toLong, noise(i))
    }.toDF("vec_id", "embedding")
  }

  test("sign-LSH recalls every planted near-identical pair") {
    // semantic pin of the bucketing: near-identical vectors
    // (cos > 0.99) MUST share a band — deterministic given the
    // sha-derived hyperplanes, not a probabilistic flake
    val df = lshCorpus(200, planted = 10)
    val cand = VectorOps.candidatePairs(df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (i <- 0 until 10)
      assert(cand.contains((2L * i, 2L * i + 1)),
        s"planted pair ${2 * i} missing from candidates")
  }

  test("sign-LSH keeps random-pair candidates far below all-pairs") {
    val n = 400
    val df = lshCorpus(n, planted = 0)
    val cand = VectorOps.candidatePairs(df).count()
    val allPairs = n.toLong * (n - 1) / 2
    assert(cand * 50 < allPairs,
      s"candidate volume not bounded: $cand of $allPairs all-pairs")
  }

  test("bucketed ANN finds the planted twin as nearest neighbour") {
    val out = VectorOps.bucketTop1(lshCorpus(100, planted = 5)).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        (r.getAs[Long]("nn_id"), r.getAs[Double]("cos_sim")))).toMap
    for (i <- 0 until 5) {
      val (nn, cos) = out(2L * i)
      assert(nn == 2L * i + 1 && cos > 0.99,
        s"vec ${2 * i}: nn=$nn cos=$cos, expected its planted twin")
      assert(out(2L * i + 1)._1 == 2L * i)
    }
  }

  test("cosineNearDups emits exactly the planted pairs at a high threshold") {
    val pairs = VectorOps.cosineNearDups(lshCorpus(200, planted = 10), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == (0 until 10).map(i => (2L * i, 2L * i + 1)).toSet)
  }

  test("topNgrams counts raw occurrences with a deterministic tiebreak") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b a b c"),   // "a b" x2
      (2L, "a b z z")).toDF("doc_id", "text")
    val top = TextAnalysis.topNgrams(d, n = 2, k = 3)
      .as[(String, Long)].collect().toSeq
    // counts: "a b"->3, then ties at 1 broken alphabetically
    assert(top === Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)))
  }

  test("dupNgramFrac charges corpus-shared n-grams to every holder") {
    import spark.implicits._
    val d = Seq(
      (1L, "p q r s t u v w"),          // one 8-gram, shared with 2
      (2L, "p q r s t u v w x"),        // two 8-grams, one shared
      (3L, "aa bb cc dd ee ff gg hh"),  // unique 8-gram
      (4L, "too short")).toDF("doc_id", "text")
    val hashed8 = d.select(col("doc_id"),
      graft.functions.TextHashColumns.ngramHashes(col("text"), 8).as("hs"))
      .filter(size(col("hs")) > 0)
    val f = TextAnalysis.dupNgramFrac(hashed8)
      .select("doc_id", "n_ngrams", "n_dup_ngrams", "dup_ok")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(f(1L) === ((1L, 1L, false))) // 1/1 duplicated > 0.5
    assert(f(2L) === ((2L, 1L, true))) // 1/2 duplicated <= 0.5
    assert(f(3L) === ((1L, 0L, true)))
    assert(!f.contains(4L)) // shorter than n words: no n-grams
  }

  test("chunkWithStride covers every token, overlaps by chunk-stride, no suffix tails") {
    import spark.implicits._
    val d = Seq(
      (1L, 10L),  // fits one chunk
      (2L, 32L),  // exact fit: still one chunk
      (3L, 56L),  // boundary-exact second chunk [24,56)
      (4L, 57L),  // third chunk [48,57)
      (5L, 0L)    // empty doc: dropped
    ).toDF("doc_id", "n_tokens")
    val ch = TextAnalysis.chunkWithStride(d, 32L, 24L)
      .select("doc_id", "chunk_id", "tok_from", "tok_until")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(ch === Set(
      (1L, 0L, 0L, 10L),
      (2L, 0L, 0L, 32L),
      (3L, 0L, 0L, 32L), (3L, 1L, 24L, 56L),
      (4L, 0L, 0L, 32L), (4L, 1L, 24L, 56L), (4L, 2L, 48L, 57L)))
    // every token covered; last chunk always reaches n
    for ((id, n) <- Seq((3L, 56L), (4L, 57L)))
      assert(ch.filter(_._1 == id).map(_._4).max === n)
  }

  test("tfidf ranks rare terms above common ones, deterministic ties") {
    import spark.implicits._
    val d = Seq(
      (1L, "common common rare"),
      (2L, "common other"),
      (3L, "common thing")).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTopTerms(d, k = 2)
      .select("doc_id", "word", "rank")
      .as[(Long, String, Int)].collect().toSet
    // "common" has df=3 -> idf ln(4/4)=0 -> tfidf 0; rare terms win
    assert(top.contains((1L, "rare", 1)))
    assert(top.contains((2L, "other", 1)))
    // doc 1 rank 2 is "common" (only term left), tfidf 0
    assert(top.contains((1L, "common", 2)))
  }

  test("qualityPercentileCut keeps the top fraction per source") {
    import spark.implicits._
    // metric = doc_id mod 10 for transparency; two sources of 4 docs
    val d = (1 to 8).map(i =>
      (i.toLong, if (i <= 4) "s1" else "s2", (i % 10).toDouble))
      .toDF("doc_id", "source", "m")
    val kept = TextAnalysis.qualityPercentileCut(d, col("m"), 0.5)
      .select("doc_id", "pct_rank").as[(Long, Double)].collect().toMap
    // s1 ranks by m desc: 4,3,2,1 -> pct 0, 1/3, 2/3, 1 -> keep 4,3
    // s2 ranks 8,7,6,5 likewise -> keep 8,7
    assert(kept.keySet === Set(4L, 3L, 8L, 7L))
    assert(kept(4L) === 0.0 && math.abs(kept(3L) - 1.0 / 3) < 1e-15)
  }

  test("langBalancedSample keeps the rarest language whole and nests") {
    import spark.implicits._
    val d = (1 to 40).map(i => (i.toLong, s"doc $i",
      if (i <= 36) "en" else "fr")).toDF("doc_id", "text", "lang")
    val kept = TextAnalysis.langBalancedSample(d)
      .select("doc_id", "lang", "keep_pct")
      .as[(Long, String, Double)].collect()
    val frPct = kept.filter(_._2 == "fr").map(_._3).distinct
    val enPct = kept.filter(_._2 == "en").map(_._3).distinct
    assert(frPct.toSeq === Seq(100.0)) // rarest keeps everything
    assert(kept.count(_._2 == "fr") === 4)
    // en keep rate sqrt(4/36)*100 = 33.3...%
    assert(enPct.length === 1 && math.abs(enPct.head - 100.0 / 3) < 1e-9)
    // nested: kept en docs are a subset of any higher-rate sample
    val kept50 = TextAnalysis
      .stratifiedSample(d, lit(50), idCol = "doc_id")
      .select("doc_id").as[Long].collect().toSet
    val keptEn = kept.filter(_._2 == "en").map(_._1).toSet
    assert(keptEn.subsetOf(
      TextAnalysis.stratifiedSample(d, lit(34), idCol = "doc_id")
        .select("doc_id").as[Long].collect().toSet))
    assert(TextAnalysis.stratifiedSample(d, lit(34), idCol = "doc_id")
      .select("doc_id").as[Long].collect().toSet.subsetOf(kept50))
  }

  test("gopherRules: each rule trips on its own violation") {
    import spark.implicits._
    val passing = ("the quick brown fox and that dog have fun with " +
      "words of every kind to be sure ") * 3 // 54 words, stops present
    val d = Seq(
      (1L, passing),
      (2L, "too short to pass the word count"), // n_words rule
      (3L, ("- bullet item\n" * 5) + "- final bullet"), // all bullet lines
      (4L, passing.replace("fun", "fun...")), // symbol+ellipsis counted
      (5L, ("数据 引擎 查询 " * 20) + "扫描 排序")) // no [a-z] words
      .toDF("doc_id", "text")
    val m = TextAnalysis.gopherRules(d)
      .select("doc_id", "n_words", "bullet_frac", "alpha_word_frac",
        "stop_hits", "symbol_ratio", "gopher_ok")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getBoolean(6))
    assert(!m(2L).getBoolean(6) && m(2L).getInt(1) < 40)
    assert(!m(3L).getBoolean(6) && m(3L).getDouble(2) == 1.0)
    assert(m(4L).getDouble(5) > 0.0) // three ellipses over 54 words
    assert(!m(5L).getBoolean(6) && m(5L).getDouble(3) == 0.0)
  }

  test("gopherRules line fractions use raw newlines, word rules the norm text") {
    import spark.implicits._
    val d = Seq((1L, "one line...\nand the second\n\n  \nthird...")).toDF(
      "doc_id", "text")
    val r = TextAnalysis.gopherRules(d).head()
    assert(r.getAs[Int]("n_lines") == 3) // blank/whitespace lines dropped
    assert(math.abs(r.getAs[Double]("ellipsis_frac") - 2.0 / 3) < 1e-12)
    assert(r.getAs[Int]("n_words") == 6) // newlines collapse to spaces
  }
}
