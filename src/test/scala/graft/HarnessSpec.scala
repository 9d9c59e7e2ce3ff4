package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The one run harness behind Bench, Verify and PlanProbe: entry
  * selection refuses unknown names, a failed warm-up step is reported
  * without stopping the warm-up, isolation leaves nothing persisted,
  * and the entry loop records ordinary failures but lets fatal ones
  * through. */
class HarnessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  test("select runs every entry or the named ones in name order, refuses unknown names") {
    assert(Harness.select(None) == SparkEntry.queries.keySet.toSeq.sorted)
    assert(Harness.select(Some(" q1_agg ,o1_topk,")) == Seq("o1_topk", "q1_agg"))
    val e = intercept[IllegalArgumentException](
      Harness.select(Some("q1_agg,no_such_entry")))
    assert(e.getMessage.contains("no_such_entry"))
    assert(!e.getMessage.contains("q1_agg"))
  }

  test("warmUp reports a failed step and still runs the later steps") {
    // every table but events: its scan, the store and the x2 tables
    // (all built from events) fail; the memo steps after them succeed
    val partial = graft.util.TempDirs.scoped("harness-warm")
    graft.util.Tables.names.filterNot(_ == "events").foreach(t =>
      Files.copy(Paths.get(dir, s"$t.parquet"), Paths.get(partial, s"$t.parquet")))
    val warm = Harness.warmUp(spark, partial)
    assert(warm.failed == Seq("scan:events", "prunedStore", "ensureX2Tables"))
    assert(warm.memoSec > 0)
  }

  test("isolate leaves no cached plan and no persistent RDD, local checkpoints included") {
    val cached = spark.range(100).toDF("x").cache()
    cached.count()
    val checkpointed = spark.sparkContext.parallelize(1 to 10, 2).localCheckpoint()
    checkpointed.count()
    assert(cached.storageLevel != StorageLevel.NONE)
    assert(spark.sparkContext.getPersistentRDDs.contains(checkpointed.id))
    Harness.isolate(spark)
    assert(cached.storageLevel == StorageLevel.NONE)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("run records an entry's NonFatal failure and goes on; an interrupt propagates") {
    val names = Seq("o1_topk", "q1_agg")
    val out = Harness.run(spark, dir, names) { (name, df) =>
      if (name == "o1_topk") {
        spark.range(5).cache().count()
        throw new IllegalStateException("boom")
      }
      df.columns.toSeq
    }.toVector
    assert(out.map(_.name) == names)
    assert(out(0).result.left.exists(_.getMessage == "boom"))
    assert(out(1).result == Right(SparkEntry.queries("q1_agg")(spark, dir).columns.toSeq))
    assert(out.forall(e => e.sec >= e.buildSec && e.buildSec >= 0))
    // the failed entry's cache was isolated before the next one ran
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    intercept[InterruptedException] {
      Harness.run(spark, dir, names)((_, _) => throw new InterruptedException("stop")).toVector
    }
  }

  test("the retrieval warm-up persists each shared plan once") {
    // the bm25 and tf-idf ranked lists are FrameMemo side-tables: the
    // first warm-up writes them, a second one and every consumer after
    // it read the same files back and start no job
    val d = graft.util.TempDirs.scoped("harness-retrieval")
    spark.read.parquet(s"$dir/documents.parquet").write.parquet(s"$d/documents.parquet")
    assert(TestSpark.jobsDuring(graft.queries.RetrievalQueries.warmMemos(spark, d)).nonEmpty)
    val files = graft.queries.RetrievalQueries.bm25TopK(spark, d).inputFiles.toSet
    assert(TestSpark.jobsDuring(graft.queries.RetrievalQueries.warmMemos(spark, d)).isEmpty,
      "the second warm-up rebuilt a memo")
    var again: org.apache.spark.sql.DataFrame = null
    assert(TestSpark.jobsDuring {
      again = graft.queries.RetrievalQueries.bm25TopK(spark, d)
    }.isEmpty)
    assert(files.nonEmpty && again.inputFiles.toSet == files)
  }

  test("bm25 and tf-idf build on one postings plan: no job before the action, the same matched docs") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "b c d"), (3L, "c d e"), (4L, "e f"))
      .toDF("doc_id", "text")
    val terms = Seq((1, "b"), (1, "d"), (2, "e")).toDF("query_id", "term")
    var bm25, tfidf: org.apache.spark.sql.DataFrame = null
    val jobs = TestSpark.jobsDuring {
      bm25 = graft.operators.TextRetrieval.bm25TopK(docs, terms, 10)
      tfidf = graft.operators.TextRetrieval.tfidfTopK(docs, terms, 10)
    }
    assert(jobs.isEmpty, s"${jobs.size} jobs while building")
    def matched(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "doc_id").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(matched(bm25) == Set((1, 1L), (1, 2L), (1, 3L), (2, 3L), (2, 4L)))
    assert(matched(tfidf) == matched(bm25))
  }
}
