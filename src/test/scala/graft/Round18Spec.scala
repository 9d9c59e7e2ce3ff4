package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{BloomIndex, SnapshotRead, SnapshotStore}

/** Round-18 first wave: the wrong-column pruning hazard class closed
  * on every range face (the planner's ranges and deleteRows'
  * pruneRange — the failure mode r16 found on SnapshotRead.plan and
  * r17 on the since-removed legacy range reads), Bloom build/probe
  * hash parity for sub-long key columns,
  * bloom-sidecar expiry, memoized evolved-scan planning, namespaced
  * procedure resolution, and string ranges on the Scala planner. */
class Round18Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** tids 0..79 in tid-ranged files with a tid stats sidecar. amount
    * is ANTI-correlated (790 - 10*tid): pruning an amount range by the
    * tid bounds provably keeps the WRONG files. */
  private def antiStore(tag: String): String = {
    val root = graft.util.TempDirs.scoped(tag)
    val t = spark.range(80).select(col("id").as("tid"),
      (lit(790) - col("id") * 10).cast("long").as("amount"))
    SnapshotStore.commitAppendWithStats(t, root, "tid", 4)
    root
  }

  private def ranged(root: String, c: String, lo: Long, hi: Long) =
    SnapshotRead.plan(spark, root, range = Some((c, lo, hi)))

  test("a range on a non-indexed column prunes NOTHING, exact file counts") {
    val root = antiStore("r18-legacy-guard")
    // amount in [0, 95] lives in the HIGHEST-tid file; before the
    // column guard, a range read consulted the tid bounds and kept
    // only the LOWEST files — silently dropping every matching row
    val p = ranged(root, "amount", 0L, 95L)
    assert(p.statsSkipped == 0 && p.filesAfterStats == 4,
      "amount is not the indexed column: nothing may prune")
    val rows = p.df.collect()
    assert(rows.length == 10)
    assert(rows.map(_.getAs[Long]("tid")).sorted.toSeq == (70L to 79L))
    // the indexed column still prunes, with exact file counts
    val q = ranged(root, "tid", 0L, 19L)
    assert(q.filesAfterStats == 1 && q.statsSkipped == 3)
    assert(q.df.count() == 20L)
  }

  test("a range resolves the SECOND indexed column's own bounds") {
    val root = graft.util.TempDirs.scoped("r18-second-col")
    val t = spark.range(80).select(col("id").as("a"),
      (lit(790) - col("id") * 10).cast("long").as("b"))
    SnapshotStore.commitAppendWithStatsMulti(t, root, Seq("a", "b"), 4)
    // b = 790 - 10a: file a∈[60,79] has b∈[0,190] — a range on b must
    // prune by B's bounds (the head #statcol entry is a)
    val p = ranged(root, "b", 0L, 95L)
    assert(p.filesAfterStats == 1 && p.statsSkipped == 3,
      s"b bounds prune to the one overlapping file, got ${p.filesAfterStats}")
    val rows = p.df.collect()
    assert(rows.map(_.getAs[Long]("a")).sorted.toSeq == (70L to 79L))
  }

  test("deleteRows pruneRange on a non-indexed column deletes ALL matches") {
    val root = antiStore("r18-del-guard")
    // before the guard: pruneRange had no column and pruned delete
    // candidates by the tid bounds — matching rows in wrongly-skipped
    // files SURVIVED the delete (a retention/GDPR failure)
    val (v, nRewritten, _) = SnapshotStore.deleteRows(spark, root,
      col("amount") <= 95L, pruneRange = Some(("amount", 0L, 95L)))
    assert(v == 2 && nRewritten == 1)
    val head = SnapshotStore.read(spark, root)
    assert(head.count() == 70L)
    assert(head.filter(col("amount") <= 95L).count() == 0L,
      "every matching row must be gone despite the useless pruneRange")
  }

  test("deleteRows pruneRange on the indexed column still prunes candidates") {
    val root = antiStore("r18-del-indexed")
    val (v, nRewritten, nCarried) = SnapshotStore.deleteRows(spark, root,
      col("tid") >= 70L, pruneRange = Some(("tid", 70L, 79L)))
    assert(v == 2 && nRewritten == 1 && nCarried == 3)
    assert(SnapshotStore.read(spark, root).count() == 70L)
  }

  test("bloom sidecar on an INT key column: probes find every key") {
    val root = graft.util.TempDirs.scoped("r18-bloom-int")
    val t = spark.range(100).select(col("id").cast("int").as("k"),
      (col("id") * 3).as("v"))
    SnapshotStore.commitAppendWithStats(t, root, "k", 4)
    BloomIndex.build(spark, root, "k")
    // before the widen-to-long fix, xxhash64 over the INT column took
    // the int-hash path while probes hash a LONG literal — different
    // positions, FALSE NEGATIVES (files wrongly skipped). Exhaustive:
    // every key's true file must survive its probe.
    val v = SnapshotStore.latestVersion(root)
    val files = SnapshotStore.filesAt(root, v)
    (0L until 100L).foreach { key =>
      val surv = SnapshotRead.plan(spark, root, point = Some(("k", key)))
        .df.count()
      assert(surv == 1L, s"key $key lost to a bloom false negative")
    }
    // and the index actually skips: a point probe keeps < all files
    val p = SnapshotRead.plan(spark, root, point = Some(("k", 37L)))
    assert(p.filesAfterBloom < p.filesTotal, "bloom must prune files")
    assert(p.df.count() == 1L)
  }

  test("bloom build refuses a key type probes cannot hash") {
    val root = graft.util.TempDirs.scoped("r18-bloom-bad")
    SnapshotStore.commitAppend(
      spark.range(5).select(col("id").cast("string").as("k")), root)
    intercept[graft.QueryError] { BloomIndex.build(spark, root, "k") }
  }

  test("expireVersions removes the dead versions' bloom sidecars") {
    val root = graft.util.TempDirs.scoped("r18-expire-bloom")
    (1 to 3).foreach { i =>
      SnapshotStore.commitAppend(
        spark.range(10).select((col("id") + i * 100).as("k")), root)
      BloomIndex.build(spark, root, "k")
    }
    val mdir = new java.io.File(root, "_manifests")
    def blooms = mdir.listFiles().map(_.getName)
      .filter(_.contains(".bloom.")).sorted.toSeq
    assert(blooms == Seq("v1.bloom.k", "v2.bloom.k", "v3.bloom.k"))
    SnapshotStore.expireVersions(root, keepLast = 1, orphanGraceMs = 0L)
    assert(blooms == Seq("v3.bloom.k"),
      "expired versions' bloom sidecars must die with their manifests")
  }

  private lazy val wh = graft.util.TempDirs.scoped("r18-wh")
  private def registerCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.r18_snap",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.r18_snap.warehouse", wh)
  }

  /** Two-layout store: v1 flat evens with a tid sidecar, v2 odds under
    * a shard spec. */
  private def evolvedStore(name: String): String = {
    val root = s"$wh/$name"
    val t = spark.range(80).select(col("id").as("tid"),
      (col("id") * 2).cast("double").as("amount"),
      (col("id") % 4).cast("string").as("shard"))
    SnapshotStore.commitAppendWithStats(
      t.filter(col("tid") % 2 === 0).select(col("tid"), col("amount")),
      root, "tid", 4)
    SnapshotStore.commitAppend(
      t.filter(col("tid") % 2 === 1).repartition(4, col("shard")),
      root, spec = Seq("shard"))
    root
  }

  test("evolved scan plans each group's partitions exactly ONCE") {
    evolvedStore("planonce")
    registerCatalog()
    val before = graft.sources.EvolvedTable.planningPasses.get()
    val n = spark.sql("SELECT count(*) AS n FROM r18_snap.planonce")
      .head().getLong(0)
    assert(n == 80L)
    val delta = graft.sources.EvolvedTable.planningPasses.get() - before
    // two layout groups, one listing/split pass each — the audit
    // ledger, the uniform-columnar check, and the returned partitions
    // all reuse the memo (pre-fix: 3 passes per group per query)
    assert(delta == 2L, s"expected 2 planning passes, measured $delta")
  }

  test("SQL INSERT into an evolved table: flat append, old files untouched") {
    val root = evolvedStore("evwrite")
    registerCatalog()
    val v2Files = SnapshotStore.filesAt(root, 2)
    val sizes = v2Files.map(f => f -> new java.io.File(f).length()).toMap
    spark.range(80, 90)
      .select(col("id").as("tid"), (col("id") * 2).cast("double").as("amount"),
        (col("id") % 4).cast("string").as("shard"))
      .createOrReplaceTempView("r18_ins")
    spark.sql("INSERT INTO r18_snap.evwrite SELECT tid, amount, shard " +
      "FROM r18_ins")
    val v3Files = SnapshotStore.filesAt(root, 3)
    // append commit: every v2 file carried BY PATH, byte-identical
    assert(v2Files.toSet.subsetOf(v3Files.toSet))
    v2Files.foreach(f =>
      assert(new java.io.File(f).length() == sizes(f), s"$f mutated"))
    assert(v3Files.size > v2Files.size, "the insert added fresh files")
    assert(spark.sql("SELECT count(*) AS n FROM r18_snap.evwrite")
      .head().getLong(0) == 90L)
    // the inserted rows surface with their shard values through the union
    assert(spark.sql(
      "SELECT count(*) AS n FROM r18_snap.evwrite WHERE tid >= 80 AND " +
        "shard IS NOT NULL").head().getLong(0) == 10L)
    // DELETE routes through the evolution-safe copy-on-write rewrite
    spark.sql("DELETE FROM r18_snap.evwrite WHERE tid >= 40 AND tid < 80")
    assert(spark.sql("SELECT count(*) AS n FROM r18_snap.evwrite")
      .head().getLong(0) == 50L)
    // directory-encoded shard values survived the rewrite for odd tids
    assert(spark.sql(
      "SELECT count(*) AS n FROM r18_snap.evwrite WHERE tid < 40 AND " +
        "tid % 2 = 1 AND shard IS NULL").head().getLong(0) == 0L)
  }

  test("ALTER TABLE ADD COLUMN: metadata-only commit, refusal shapes") {
    registerCatalog()
    spark.sql("CREATE TABLE r18_snap.acme (tid BIGINT, amount DOUBLE)")
    spark.range(5).select(col("id").as("tid"),
      (col("id") * 1.5).as("amount")).createOrReplaceTempView("r18_ac")
    spark.sql("INSERT INTO r18_snap.acme SELECT tid, amount FROM r18_ac")
    val root = s"$wh/acme"
    val v2Files = SnapshotStore.filesAt(root, 2)
    spark.sql("ALTER TABLE r18_snap.acme ADD COLUMN note STRING")
    // metadata-only: version advanced, file list IDENTICAL
    assert(SnapshotStore.latestVersion(root) == 3)
    assert(SnapshotStore.filesAt(root, 3) == v2Files)
    // old files read the new column as null
    val head = spark.sql(
      "SELECT count(*) AS n, count(note) AS nn FROM r18_snap.acme").head()
    assert(head.getLong(0) == 5L && head.getLong(1) == 0L)
    // refusals: NOT NULL, duplicate, positioned, non-additive
    intercept[UnsupportedOperationException] {
      spark.sql("ALTER TABLE r18_snap.acme ADD COLUMN bad INT NOT NULL")
    }
    intercept[Exception] { // duplicate column (analyzer or store refuses)
      spark.sql("ALTER TABLE r18_snap.acme ADD COLUMN note STRING")
    }
    intercept[UnsupportedOperationException] {
      spark.sql("ALTER TABLE r18_snap.acme ADD COLUMN early INT FIRST")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE r18_snap.acme DROP COLUMN amount")
    }
    assert(SnapshotStore.latestVersion(root) == 3, "refusals commit nothing")
  }

  test("ALTER TABLE refuses on a store that pins no #schema") {
    registerCatalog()
    val root = s"$wh/legacyac"
    // a partitioned commit carries no #schema header (the union of an
    // evolved store's layouts lives in per-commit markers instead)
    SnapshotStore.commitAppend(
      spark.range(6).select(col("id").as("tid"),
        (col("id") % 2).cast("string").as("p")),
      root, spec = Seq("p"))
    intercept[graft.QueryError] {
      spark.sql("ALTER TABLE r18_snap.legacyac ADD COLUMN c INT")
    }
  }

  test("namespaced tables are reachable from CALL procedures") {
    registerCatalog()
    val root = s"$wh/ns/nested"
    SnapshotStore.commitAppend(
      spark.range(8).select(col("id").as("tid")).repartition(4), root)
    val res = spark.sql(
      "CALL r18_snap.system.set_tag('ns.nested', 'pin')").collect()
    assert(res.head.getString(0) == "pin" && res.head.getInt(1) == 1)
    assert(SnapshotStore.tags(root) == Map("pin" -> 1))
    val c = spark.sql(
      "CALL r18_snap.system.compact('ns.nested', 1048576, 1)").collect()
    assert(c.head.getInt(0) == 2 && c.head.getInt(1) == 4)
    assert(spark.sql("SELECT count(*) AS n FROM r18_snap.ns.nested")
      .head().getLong(0) == 8L)
  }

  test("writer token dedups SQL DML through both channels") {
    import graft.sources.SnapshotDml
    registerCatalog()
    spark.sql("CREATE TABLE r18_snap.tok (tid BIGINT)")
    val root = s"$wh/tok"
    spark.range(3).select(col("id").as("tid"))
      .createOrReplaceTempView("r18_tok")
    // channel 1: the write option (DataFrameWriterV2)
    spark.table("r18_tok").writeTo("r18_snap.tok")
      .option("writer_token", "job:1").append()
    spark.table("r18_tok").writeTo("r18_snap.tok")
      .option("writer_token", "job:1").append() // replay: must no-op
    assert(SnapshotStore.latestVersion(root) == 2)
    assert(spark.sql("SELECT count(*) AS n FROM r18_snap.tok")
      .head().getLong(0) == 3L)
    // channel 2: the session conf (pure SQL INSERT text)
    spark.conf.set(SnapshotDml.TokenConf, "job:2")
    try {
      spark.sql("INSERT INTO r18_snap.tok SELECT tid FROM r18_tok")
      spark.sql("INSERT INTO r18_snap.tok SELECT tid FROM r18_tok")
    } finally spark.conf.unset(SnapshotDml.TokenConf)
    assert(SnapshotStore.latestVersion(root) == 3,
      "same token: the second INSERT must be a no-op")
    assert(spark.sql("SELECT count(*) AS n FROM r18_snap.tok")
      .head().getLong(0) == 6L)
    // untokened INSERTs still commit every time
    spark.sql("INSERT INTO r18_snap.tok SELECT tid FROM r18_tok")
    assert(SnapshotStore.latestVersion(root) == 4)
  }

  test("string ranges prune on the Scala planner with the identity guard") {
    val root = graft.util.TempDirs.scoped("r18-str")
    def pad(x: Long): String = f"$x%012d"
    // `other` is ANTI-correlated with tkey (79 - id, zero-padded):
    // pruning an `other` range by the tkey bounds keeps the WRONG file
    val t = spark.range(80).select(
      lpad(col("id").cast("string"), 12, "0").as("tkey"),
      lpad((lit(79) - col("id")).cast("string"), 12, "0").as("other"),
      col("id").as("tid"))
    SnapshotStore.commitAppendWithStatsMulti(t, root, Seq("tkey"), 4)
    val p = SnapshotRead.plan(spark, root,
      strRanges = Seq(("tkey", pad(0), pad(19))))
    assert(p.filesTotal == 4 && p.filesAfterStats == 1,
      s"str bounds prune to one file, got ${p.filesAfterStats}")
    assert(p.df.count() == 20L)
    // a str range on a column the sidecar does not index prunes
    // nothing — and loses none of its rows (they live in the LAST
    // tkey file, which wrong-column pruning would have skipped)
    val q = SnapshotRead.plan(spark, root,
      strRanges = Seq(("other", pad(0), pad(19))))
    assert(q.filesAfterStats == q.filesTotal)
    val qRows = q.df.collect()
    assert(qRows.length == 20)
    assert(qRows.map(_.getAs[Long]("tid")).sorted.toSeq == (60L to 79L))
    // nor does one whose indexed kind is not `str`
    val root2 = graft.util.TempDirs.scoped("r18-str2")
    SnapshotStore.commitAppendWithStats(
      spark.range(40).select(col("id").as("tid"),
        col("id").cast("string").as("s")), root2, "tid", 4)
    val r = SnapshotRead.plan(spark, root2,
      strRanges = Seq(("tid", "0", "9")))
    assert(r.filesAfterStats == r.filesTotal,
      "tid is long-kind: a STRING range must not prune by it")
  }
}
