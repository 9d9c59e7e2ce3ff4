package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{Caches, Tables}

/** Frames bounded by construction (oracle-gate pins, ANN query panels)
  * are collected once into local relations: the copy keeps the frame's
  * rows and schema exactly, nothing stays cached, and an entry whose
  * output is such a relation runs no job in its action. */
class BoundedFramesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  /** The sf0.01 scale, beside the smallest one (TESTDATA.md). */
  private val sf001 = new java.io.File(TestSpark.sf0001).getParent + "/sf0.01"

  test("Caches.local keeps rows, column order, types and nullability, arrays and nulls included") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false),
      StructField("xs", ArrayType(DoubleType, containsNull = true), nullable = true),
      StructField("amt", DecimalType(22, 8), nullable = true),
      StructField("ok", BooleanType, nullable = false)))
    val rows = Seq(
      Row(1L, "a", Seq(1.5f, -0.0f), Seq(1.0, null, -2.5),
        new java.math.BigDecimal("1.25000000"), true),
      Row(2L, null, Seq.empty[Float], null, null, false))
    val src = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .filter(org.apache.spark.sql.functions.col("id") > 0)
    val local = Caches.local(src)
    assert(local.schema == src.schema)
    assert(local.collect().toSeq == src.collect().toSeq)
    // neither the source plan nor the copy is registered with the
    // cache manager
    assert(src.storageLevel == StorageLevel.NONE)
    assert(local.storageLevel == StorageLevel.NONE)
    // later reads, projections and filters included, run no job
    val jobs = TestSpark.jobsDuring {
      local.collect()
      local.select("name", "id").filter("id = 2").collect()
      local.head()
    }
    assert(jobs.isEmpty, s"${jobs.size} jobs over the local relation")
  }

  test("Caches.widen over an input holding an exchange starts no Spark job") {
    import org.apache.spark.sql.functions.col
    val in = spark.range(0, 1000, 1, 1)
      .groupBy((col("id") % 7).as("k")).count()
    val jobs = TestSpark.jobsDuring(Caches.widen(in, col("k")))
    assert(jobs.isEmpty, s"${jobs.size} jobs to read the input's width")
  }

  /** The gated entries whose output is the collected bounded frame. */
  private val localOutputs = Seq("m3_egarch_fit", "m4_egarch_auto",
    "m5_egarch_forecast", "m6_egarch_spread", "m20_implied_vol",
    "ev20_sketch_wau", "a18_quality_sketch")

  test("at sf0.01 each converted gated entry's action runs no Spark job") {
    for (name <- localOutputs) {
      val df = SparkEntry.queries(name)(spark, sf001)
      val jobs = TestSpark.jobsDuring(df.collect())
      assert(jobs.isEmpty, s"$name: ${jobs.size} jobs in the action")
      assert(df.collect().nonEmpty, s"$name is empty at sf0.01")
      Harness.isolate(spark)
    }
  }

  /** Each entry whose text-operator barrier (TextDedup, TextAnalysis,
    * TextRetrieval) was deleted or collected once, with the jobs its
    * build and `collect()` ran at sf0.01 once it was. */
  private val textOperatorJobs = Map(
    "llm_ngram_jaccard" -> 12, "llm_containment" -> 12,
    "llm_substr_dedup" -> 6, "llm_source_overlap" -> 7,
    "llm_repetition" -> 1, "llm_curation_e2e" -> 7,
    "llm_source_stats" -> 4, "llm_topk_ngrams" -> 2,
    "llm_dup_ngram_frac" -> 4, "llm_lang_balance" -> 6,
    "llm_tfidf_topterms" -> 8, "llm_unigram_logprob" -> 6,
    "llm_dataset_card" -> 8, "llm_kn_bigram" -> 11,
    "llm_heaps_fit" -> 8, "llm_ngram_novelty" -> 8,
    "llm_colloc_pmi" -> 11, "llm_tfidf_cosine" -> 15)

  /** Each near-duplicate entry on the LSH band-join kernel, with the
    * jobs its build and `collect()` ran at sf0.01 on it. With a pair
    * `distinct` and per-operator barriers they ran 5, 3, 7, 8, 9, 9. */
  private val bandJoinJobs = Map(
    "llm_incr_neardup" -> 4, "llm_simhash_pairs" -> 2,
    "mm5_phash_neardup" -> 2, "llm_embed_neardup" -> 3,
    "llm_embed_clusters" -> 4, "llm_ann_bucketed" -> 4)

  private def assertJobsAtMost(pins: Map[String, Int]): Unit = {
    Tables.names.foreach(Tables.load(spark, sf001, _))
    val counts = pins.keys.toSeq.sorted.map { name =>
      val jobs = TestSpark.jobsDuring(
        SparkEntry.queries(name)(spark, sf001).collect())
      Harness.isolate(spark)
      name -> jobs.size
    }
    val over = counts.filter { case (name, n) => n > pins(name) }
    assert(over.isEmpty, over.map { case (name, n) =>
      s"$name: $n jobs > ${pins(name)}" }.mkString("; "))
  }

  test("at sf0.01 each text-operator entry without its barrier runs at most its measured jobs") {
    assertJobsAtMost(textOperatorJobs)
  }

  test("at sf0.01 each band-join entry runs at most its measured jobs") {
    assertJobsAtMost(bandJoinJobs)
  }

  test("m3_egarch_fit runs at most three jobs from build through action at sf0.01") {
    Tables.names.foreach(Tables.load(spark, sf001, _))
    val jobs = TestSpark.jobsDuring(
      SparkEntry.queries("m3_egarch_fit")(spark, sf001).collect())
    assert(jobs.size <= 3, s"${jobs.size} jobs")
  }
}
