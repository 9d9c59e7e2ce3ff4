package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{BloomIndex, SnapshotRead, SnapshotStore}

/** Round-17 first wave: the stats-pruning column guard, driver-side
  * Bloom probes, the durable writer-token log, and evolved reads on
  * the caller's session. */
class Round17Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** tids 0..79 in tid-ranged files with a tid stats sidecar. The
    * amount column is ANTI-correlated with tid (amount = 790 - 10*tid)
    * so pruning an amount range by tid bounds would provably keep the
    * WRONG files. */
  private def statStore(tag: String): String = {
    val root = graft.util.TempDirs.scoped(tag)
    val t = spark.range(80).select(col("id").as("tid"),
      (lit(790) - col("id") * 10).cast("long").as("amount"))
    SnapshotStore.commitAppendWithStats(t, root, "tid", 4)
    root
  }

  test("a range on a non-indexed column prunes NO files and loses no rows") {
    val root = statStore("r17-guard")
    // amount in [0, 95] = tids 70..79 — the HIGHEST tid file. Pruning
    // by the tid sidecar's bounds would keep only the LOWEST files and
    // silently drop every matching row.
    val p = SnapshotRead.plan(spark, root, range = Some(("amount", 0L, 95L)))
    assert(p.filesAfterStats == p.filesTotal,
      "bounds index tid, not amount: nothing may be stats-pruned")
    val rows = p.df.collect()
    assert(rows.length == 10)
    assert(rows.map(_.getAs[Long]("tid")).sorted.toSeq == (70L to 79L))
    // the indexed column still prunes
    val q = SnapshotRead.plan(spark, root, range = Some(("tid", 0L, 19L)))
    assert(q.statsSkipped > 0, "a tid range uses the tid sidecar")
    assert(q.df.count() == 20)
  }

  test("statCols parses legacy bare and typed list headers") {
    val root = statStore("r17-statcols")
    assert(SnapshotStore.statCols(root, 1) == Map("tid" -> "long"))
  }

  test("driver-side bloom probe positions match the expression codepath") {
    // the build pass hashes keys through posCols (Spark expressions);
    // plan-time probes use BloomIndex.positions (driver eval of the
    // same Catalyst expression). Any divergence = false negatives.
    val keys = Seq(0L, 1L, -1L, 42L, Long.MaxValue, Long.MinValue) ++
      (1 to 40).map(i => i * 982451653L - 7L)
    val viaExpr = spark.range(1).select(keys.zipWithIndex.map {
      case (k, i) =>
        val h1 = pmod(xxhash64(lit(k)), lit(16384L))
        val h2 = pmod(xxhash64(lit(k), lit(0x9E3779B9L)), lit(16383L)) +
          lit(1L)
        array((0 until 7).map(j =>
          pmod(h1 + lit(j.toLong) * h2, lit(16384L)).cast("int")): _*)
          .as(s"p$i")
    }: _*).collect().head
    keys.zipWithIndex.foreach { case (k, i) =>
      assert(BloomIndex.positions(k) == viaExpr.getSeq[Int](i),
        s"positions diverge for key $k")
    }
  }

  test("bloom pruning still has no false negatives after the rewrite") {
    val root = statStore("r17-bloomfn")
    BloomIndex.build(spark, root, "tid")
    (0L until 80L).foreach { k =>
      val p = SnapshotRead.plan(spark, root, point = Some(("tid", k)))
      assert(p.df.count() == 1, s"key $k must survive its own bloom")
    }
    val miss = SnapshotRead.plan(spark, root, point = Some(("tid", 5000L)))
    assert(miss.filesAfterBloom == 0, "an absent key prunes every file")
  }

  test("writer token survives manifest expiry via the token log") {
    val root = graft.util.TempDirs.scoped("r17-toklog")
    val t = spark.range(10).select(col("id").as("tid"))
    val v1 = SnapshotStore.commitAppend(t, root, Some("q:batch7"))
    assert(v1 == 1)
    // bury the tokened manifest, then vacuum it away
    SnapshotStore.commitAppend(t, root)
    SnapshotStore.commitAppend(t, root)
    val res = SnapshotStore.expireVersions(root, keepLast = 1,
      orphanGraceMs = 0L)
    assert(res.expired.contains(1), "the tokened manifest was expired")
    // the replayed batch must STILL no-op: the token log remembers
    val vReplay = SnapshotStore.commitAppend(
      spark.range(10).select(col("id").as("tid")), root, Some("q:batch7"))
    assert(vReplay == 1, "replay resolves to the originally committed version")
    assert(SnapshotStore.latestVersion(root) == 3, "no new version published")
    assert(SnapshotStore.read(spark, root).count() == 30)
  }

  test("evolved reads keep numeric partition dirs STRING under the caller's timezone") {
    val root = graft.util.TempDirs.scoped("r17-conf")
    val t = spark.range(6).select(col("id").as("tid"),
      (col("id") % 2).cast("string").as("p"),
      timestamp_seconds(col("id") * 3600L).as("ts"))
    SnapshotStore.commitAppend(t, root, spec = Seq("p"))
    val key = "spark.sql.session.timeZone"
    val orig = spark.conf.get(key)
    try {
      spark.conf.set(key, "America/New_York")
      val df = SnapshotStore.read(spark, root)
      assert(df.sparkSession.conf.get(key) == "America/New_York",
        "the read runs on the caller's session and its runtime conf")
      assert(df.count() == 6)
      // directories named p=0 / p=1 stay STRING with inference on
      assert(spark.conf.get(
        "spark.sql.sources.partitionColumnTypeInference.enabled") == "true")
      assert(df.schema("p").dataType == org.apache.spark.sql.types.StringType)
      assert(df.filter(col("p") === "1").count() == 3)
      // epoch 0 renders in the caller's zone: 1969-12-31 19:00 EST
      assert(df.filter(col("tid") === 0L)
        .select(date_format(col("ts"), "yyyy-MM-dd HH")).head.getString(0)
        == "1969-12-31 19")
    } finally spark.conf.set(key, orig)
  }

  test("unknown tag through the SQL face names the tag, not the table") {
    val wh = graft.util.TempDirs.scoped("r17-wh")
    val root = s"$wh/tagged"
    SnapshotStore.commitAppend(
      spark.range(4).select(col("id").as("tid")), root)
    SnapshotStore.tag(root, "good", Some(1))
    spark.conf.set("spark.sql.catalog.r17_snap",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.r17_snap.warehouse", wh)
    val ok = spark.sql(
      "SELECT count(*) AS n FROM r17_snap.tagged VERSION AS OF 'good'")
      .head.getLong(0)
    assert(ok == 4)
    val e = intercept[Exception] {
      spark.sql(
        "SELECT * FROM r17_snap.tagged VERSION AS OF 'typo'").collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c => c.isInstanceOf[graft.QueryError] &&
      c.getMessage.contains("typo") && c.getMessage.contains("good")),
      s"got: $e")
  }
}
