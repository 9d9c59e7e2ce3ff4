package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TextDedup

/** Round-13 wave: exact substring dedup (Lee et al. 2022 ExactSubstr
  * via sorted k-gram postings). Planted-span tests pin the byte-exact
  * survivor contract; the DuckDB oracle (`llm_substr_dedup`) gates
  * full-scale parity. */
class Round13Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Span12 =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"

  private def run(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long, String)] =
    TextDedup.exactSubstrDedup(docs.toDF("doc_id", "text"), k = 8)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap

  test("a planted cross-doc span is removed byte-exactly from BOTH docs") {
    val out = run(Seq(
      1L -> s"one two three four five $Span12 six seven eight nine ten",
      2L -> s"red green blue yellow $Span12 cyan magenta black white pink gray",
      3L -> "entirely unrelated words that appear nowhere else in anything at all today"))
    // span = 12 tokens -> flagged starts s..s+12-8 (5 of them), whose
    // [p, p+8) union is exactly the span: survivors are the doc's own
    // unique prefix + suffix, byte-exact
    assert(out(1L) == ((22L, 5L, 12L,
      "one two three four five six seven eight nine ten")))
    assert(out(2L) == ((22L, 5L, 12L,
      "red green blue yellow cyan magenta black white pink gray")))
    // untouched doc: zero starts, zero removed, normalized text back
    assert(out(3L) == ((12L, 0L, 0L,
      "entirely unrelated words that appear nowhere else in anything at all today")))
  }

  test("a within-doc-only repeat is NOT removed (cross-doc rule)") {
    val out = run(Seq(
      1L -> s"$Span12 and then once more $Span12",
      2L -> "totally different content with no overlap whatsoever in any token here"))
    assert(out(1L)._2 == 0L, "no flagged starts for a within-doc repeat")
    assert(out(1L)._3 == 0L)
    assert(out(1L)._4 == s"$Span12 and then once more $Span12")
  }

  test("identical docs are fully removed (empty survivors) and short docs pass through") {
    val out = run(Seq(
      1L -> Span12, 2L -> Span12, // 12 identical tokens >= k
      3L -> "Tiny DOC  under eight"))  // < k tokens, mixed case/space
    assert(out(1L) == ((12L, 5L, 12L, "")))
    assert(out(2L) == ((12L, 5L, 12L, "")))
    // short doc: untouched, but normalized (lowercase, collapsed ws)
    assert(out(3L) == ((4L, 0L, 0L, "tiny doc under eight")))
  }

  test("two overlapping shared spans merge into one maximal removed region") {
    // doc 1 carries tokens t1..t16; doc 2 shares t1..t12, doc 3 shares
    // t9..t16 — every 8-gram of doc 1 lands in one of the shared
    // windows, so coverage is the full 16 tokens even though neither
    // partner alone spans them
    val t = (1 to 16).map(i => s"tok$i")
    val out = run(Seq(
      1L -> t.mkString(" "),
      2L -> (t.take(12).mkString(" ") + " zzz yyy xxx www vvv uuu"),
      3L -> ("aaa bbb ccc ddd eee fff " + t.drop(8).mkString(" "))))
    assert(out(1L)._3 == 16L, s"doc1 fully covered: ${out(1L)}")
    assert(out(1L)._4 == "")
  }

  // ---- SnapshotStore: optimistic concurrency (CAS on publish) ----

  test("two interleaved committers: one wins, the other gets a retryable conflict") {
    import graft.sources.SnapshotStore
    val root = graft.util.TempDirs.scoped("r13-cas")
    SnapshotStore.commitAppend(Seq((1L, "base")).toDF("id", "x"), root)
    // committer A starts from v1: resolves the base file set and
    // writes its data files, but has not yet published v2
    val aBase = SnapshotStore.filesAt(root, 1)
    val aFresh = SnapshotStore.writeData(
      Seq((2L, "from-A")).toDF("id", "x"), root, 2)
    // committer B lands a full commit in the meantime and wins v2
    val vB = SnapshotStore.commitAppend(
      Seq((3L, "from-B")).toDF("id", "x"), root)
    assert(vB == 2)
    // A's publish of v2 must FAIL LOUDLY — an atomic-rename manifest
    // write would silently overwrite B's commit and lose it
    intercept[SnapshotStore.CommitConflictException] {
      SnapshotStore.writeManifest(root, 2, aBase ++ aFresh)
    }
    // B's commit is intact after the failed publish
    assert(SnapshotStore.read(spark, root).select("id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // the conflict is retryable: A re-reads the new latest and
    // re-commits on top (its orphaned first write stays unreferenced)
    val vA = SnapshotStore.commitAppend(
      Seq((2L, "from-A")).toDF("id", "x"), root)
    assert(vA == 3)
    assert(SnapshotStore.read(spark, root).select("id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  // ---- SnapshotStore: copy-on-write row-level delete ----

  test("deleteRows rewrites only hit files, carries the rest by path, keeps old versions readable") {
    import graft.sources.SnapshotStore
    val root = graft.util.TempDirs.scoped("r13-del")
    // 4 files with EXACT known key ranges (one stats-commit each with
    // nFiles = 1, so no range-sampler boundary ambiguity): k 0-24,
    // 25-49, 50-74, 75-99
    val df = spark.range(100).select(col("id").cast("long").as("k"),
      (col("id") % 7).as("v"))
    for (i <- 0 until 4)
      SnapshotStore.commitAppendWithStats(
        df.filter(col("k") >= i * 25 && col("k") < (i + 1) * 25),
        root, "k", nFiles = 1)
    val before = SnapshotStore.filesAt(root, 4)
    assert(before.size == 4)
    // delete k in [10, 20] — contained in the first file's range
    val (v5, nRewritten, nCarried) = SnapshotStore.deleteRows(
      spark, root, col("k") >= 10 && col("k") <= 20,
      pruneRange = Some(("k", 10L, 20L)))
    assert(v5 == 5)
    assert(nRewritten == 1, s"only the hit file is rewritten: $nRewritten")
    assert(nCarried == 3)
    val after = SnapshotStore.filesAt(root, 5)
    // survivors carried BY PATH: the 3 non-matching files appear in
    // the new manifest verbatim (no rewrite, no copy)
    assert(before.toSet.intersect(after.toSet).size == 3)
    assert(!after.toSet.subsetOf(before.toSet))
    // old version still reads the deleted rows; the head does not
    assert(SnapshotStore.read(spark, root, Some(4)).count() == 100L)
    val headKeys = SnapshotStore.read(spark, root, Some(5))
      .select("k").as[Long].collect().sorted.toSeq
    assert(headKeys == ((0L to 9L) ++ (21L to 99L)))
    // carried files keep their stats lines: a pruned read outside the
    // deleted range still skips correctly
    val p = graft.sources.SnapshotRead.plan(spark, root, version = Some(5),
      range = Some(("k", 80L, 99L)))
    assert(p.statsSkipped > 0, "stats survived for carried files")
    assert(p.df.inputFiles.map(new java.net.URI(_).getPath).forall(after.contains))
  }

  test("deleteRows with a null-valued predicate keeps null rows (SQL DELETE semantics)") {
    import graft.sources.SnapshotStore
    val root = graft.util.TempDirs.scoped("r13-delnull")
    val df = Seq((1L, Some("a")), (2L, None: Option[String]),
      (3L, Some("b"))).toDF("k", "s")
    SnapshotStore.commitAppend(df, root)
    // predicate `s = 'a'` is NULL for row 2 — it must survive
    val (v2, _, _) =
      SnapshotStore.deleteRows(spark, root, col("s") === "a")
    assert(v2 == 2)
    assert(SnapshotStore.read(spark, root).select("k")
      .as[Long].collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("deleteRows is a no-op when nothing matches") {
    import graft.sources.SnapshotStore
    val root = graft.util.TempDirs.scoped("r13-delnoop")
    SnapshotStore.commitAppend(
      Seq((1L, 1L), (2L, 2L)).toDF("k", "v"), root)
    val (v, nRewritten, nCarried) =
      SnapshotStore.deleteRows(spark, root, col("k") > 100L)
    assert((v, nRewritten) == ((1, 0)))
    assert(nCarried == SnapshotStore.filesAt(root, 1).size)
    assert(SnapshotStore.read(spark, root).count() == 2L)
  }
}
