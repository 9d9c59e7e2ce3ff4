package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{SnapshotRead, SnapshotStore}

/** Round-16 first wave: batchId-idempotent streaming snapshot
  * commits, manifest-carried commit instants, and the cache-key
  * staleness fix for the tokenizer trainers. */
class Round16Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def manifest(root: String, v: Int) =
    new File(new File(root, "_manifests"), s"v$v.list")

  test("a replayed streaming commit (same writer token) is a no-op") {
    val root = graft.util.TempDirs.scoped("r16-idem")
    val batch0 = Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v").coalesce(1)
    assert(SnapshotStore.commitAppend(batch0, root, Some("q1:0")) == 1)
    val before = SnapshotStore.read(spark, root).collect().map(_.toSeq).toSet
    // Structured Streaming re-delivers the last uncommitted batch with
    // the SAME batchId after a crash — the commit must not double
    assert(SnapshotStore.commitAppend(batch0, root, Some("q1:0")) == 1)
    assert(SnapshotStore.latestVersion(root) == 1,
      "replay must not publish a new version")
    assert(SnapshotStore.read(spark, root).collect().map(_.toSeq).toSet
      == before, "replay must not change content")
    // the NEXT batch (new token) advances normally
    assert(SnapshotStore.commitAppend(
      Seq((3L, 3.0)).toDF("k", "v").coalesce(1), root, Some("q1:1")) == 2)
    assert(SnapshotStore.read(spark, root).count() == 3)
  }

  test("replay is detected even when maintenance moved the head") {
    val root = graft.util.TempDirs.scoped("r16-idem2")
    val batch0 = Seq((1L, 1.0)).toDF("k", "v").coalesce(1)
    assert(SnapshotStore.commitAppend(batch0, root, Some("st:0")) == 1)
    // an st18-style foreachBatch body compacts AFTER its append, so
    // the token's manifest is no longer the head at replay time
    SnapshotStore.commitReplace(
      SnapshotStore.read(spark, root).coalesce(1), root)
    assert(SnapshotStore.latestVersion(root) == 2)
    assert(SnapshotStore.commitAppend(batch0, root, Some("st:0")) == 1,
      "the token scan must cover all live manifests, not just the head")
    assert(SnapshotStore.latestVersion(root) == 2)
    assert(SnapshotStore.read(spark, root).count() == 1)
  }

  test("partitioned and stats commits replay as no-ops too") {
    val root = graft.util.TempDirs.scoped("r16-idem4")
    val p = Seq((1L, "202601", 1.0), (2L, "202602", 2.0))
      .toDF("tid", "month", "amount")
    assert(SnapshotStore.commitAppend(
      p, root, Some("pq:0"), spec = Seq("month")) == 1)
    assert(SnapshotStore.commitAppend(
      p, root, Some("pq:0"), spec = Seq("month")) == 1)
    assert(SnapshotStore.latestVersion(root) == 1)
    val root2 = graft.util.TempDirs.scoped("r16-idem5")
    val t = Seq((1L, 1.0), (2L, 2.0)).toDF("tid", "amount")
    assert(SnapshotStore.commitAppendWithStats(
      t, root2, "tid", 2, Some("sq:0")) == 1)
    assert(SnapshotStore.commitAppendWithStats(
      t, root2, "tid", 2, Some("sq:0")) == 1)
    assert(SnapshotStore.latestVersion(root2) == 1)
    assert(SnapshotStore.read(spark, root2).count() == 2)
  }

  test("commitMergeRows replay (same writer token) is a no-op") {
    val root = graft.util.TempDirs.scoped("r16-idem3")
    SnapshotStore.commitAppend(
      Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("k", "val", "seq")
        .coalesce(1), root)
    val changes = Seq((2L, "b2", 20L, "U", 1L), (1L, "a", 20L, "D", 2L))
      .toDF("k", "val", "seq", "op", "cid").coalesce(1)
    val v = SnapshotStore.commitMergeRows(
      spark, root, changes, "k", "op", "seq", "cid", Some("m:5"))
    assert(v == 2)
    val after = SnapshotStore.read(spark, root).collect().map(_.toSeq).toSet
    assert(SnapshotStore.commitMergeRows(
      spark, root, changes, "k", "op", "seq", "cid", Some("m:5")) == 2)
    assert(SnapshotStore.latestVersion(root) == 2)
    assert(SnapshotStore.read(spark, root).collect().map(_.toSeq).toSet
      == after)
  }

  test("versionAsOf survives an mtime rewrite (backup/restore)") {
    val root = graft.util.TempDirs.scoped("r16-tt")
    val t0 = 1700000000000L
    SnapshotStore.commitAppend(
      Seq((1L, 1.0)).toDF("k", "v").coalesce(1), root)
    SnapshotStore.stampManifest(root, 1, t0)
    SnapshotStore.commitAppend(
      Seq((2L, 2.0)).toDF("k", "v").coalesce(1), root)
    SnapshotStore.stampManifest(root, 2, t0 + 1000L)
    // simulate a cp -r / restore: every mtime rewritten to "now-ish"
    assert(manifest(root, 1).setLastModified(t0 + 999999999L))
    assert(manifest(root, 2).setLastModified(t0 + 123L))
    assert(SnapshotStore.versionAsOf(root, t0) == 1,
      "publication instants live in the manifest content, not mtimes")
    assert(SnapshotStore.versionAsOf(root, t0 + 999L) == 1)
    assert(SnapshotStore.versionAsOf(root, t0 + 1000L) == 2)
    assert(SnapshotRead.plan(spark, root, asOfMillis = Some(t0 + 500L))
      .df.count() == 1)
  }

  test("tokenizer trainers retrain when the dir is regenerated") {
    val dir = graft.util.TempDirs.scoped("r16-cache")
    def writeDocs(texts: Seq[String]): Unit =
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "web", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val corpusA = Seq.fill(8)(
      "the quick brown fox jumps over the lazy dog near the riverbank")
    val corpusB = Seq.fill(8)(
      "zzyzx qoph vex wumpus zzyzx qoph glyph zzyzx murmur")
    writeDocs(corpusA)
    def bpeRank1(): Seq[Any] =
      graft.queries.LlmQueries.bpeTrain(spark, dir)
        .orderBy(col("rank")).select(col("merged")).limit(3)
        .collect().map(_.getString(0)).toSeq
    def unigramPieces(): Set[String] =
      graft.queries.LlmQueries.unigramTrain(spark, dir)
        .select(col("piece")).collect().map(_.getString(0)).toSet
    val bpeA = bpeRank1()
    val uniA = unigramPieces()
    // regenerate the SAME path with different data, in-process — the
    // (applicationId, dir, fingerprint) key must observe the change
    // (the identity-hash key this replaces could not)
    writeDocs(corpusB)
    val bpeB = bpeRank1()
    val uniB = unigramPieces()
    assert(bpeA != bpeB, "bpeCache served a stale model after regeneration")
    assert(uniA != uniB,
      "unigramCache served a stale model after regeneration")
  }

  test("cdc cut expression tolerates an empty document") {
    val df = Seq(("", 1L), ("abcdef abcdef abcdef", 2L)).toDF("nt", "id")
    val out = df.select(col("id"),
      graft.operators.CdcChunking.chunksFromNtSql.as("cks"),
      graft.operators.CdcChunking.boundsFromNt.as("bs"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[String](1).length).toMap
    assert(out(1L) == 0, "empty nt must yield zero chunks, not an error")
    assert(out(2L) >= 1)
  }

  test("blocklist audit tolerates NULL document text") {
    val df = Seq((1L, "the spark vector pipeline"), (2L, null))
      .toDF("doc_id", "text")
    val out = graft.operators.BlocklistScan.audit(spark, df)
    assert(out.agg(sum(col("n_hits"))).head.getLong(0) >= 1L)
  }

  test("cdc nearDup returns zero (not NULL) on a pair-less corpus") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val r = graft.operators.CdcChunking.nearDup(docs).head
    assert(!r.isNullAt(r.fieldIndex("n_neardup_pairs")))
    assert(r.getLong(r.fieldIndex("n_neardup_pairs")) == 0L)
  }
}
