package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.SnapshotStore

/** Round-17 sixth wave: SQL DML through the catalog — INSERT INTO /
  * INSERT OVERWRITE / DELETE FROM / CREATE TABLE / CTAS, all routed
  * through the CAS commit primitives. */
class Round17fSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val wh = graft.util.TempDirs.scoped("r17f-wh")

  private def registerCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.r17f_snap",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.r17f_snap.warehouse", wh)
  }

  test("INSERT INTO publishes an append commit; old versions unchanged") {
    val root = s"$wh/ins"
    SnapshotStore.commitAppend(
      Seq((1L, "a"), (2L, "b")).toDF("tid", "v"), root)
    registerCatalog()
    spark.sql("INSERT INTO r17f_snap.ins VALUES (3, 'c'), (4, 'd')")
    assert(SnapshotStore.latestVersion(root) == 2, "one append commit")
    assert(spark.sql("SELECT count(*) AS n FROM r17f_snap.ins")
      .head().getLong(0) == 4)
    assert(spark.sql(
      "SELECT count(*) AS n FROM r17f_snap.ins VERSION AS OF 1")
      .head().getLong(0) == 2, "time travel unaffected by the insert")
    val inserted = spark.sql(
      "SELECT v FROM r17f_snap.ins WHERE tid = 3").head().getString(0)
    assert(inserted == "c")
  }

  test("INSERT OVERWRITE is one replace commit") {
    val root = s"$wh/ovw"
    SnapshotStore.commitAppend(
      Seq((1L, "a"), (2L, "b")).toDF("tid", "v"), root)
    registerCatalog()
    spark.sql("INSERT OVERWRITE r17f_snap.ovw VALUES (9, 'z')")
    assert(SnapshotStore.latestVersion(root) == 2)
    assert(spark.sql("SELECT count(*) AS n FROM r17f_snap.ovw")
      .head().getLong(0) == 1)
    assert(spark.sql(
      "SELECT count(*) AS n FROM r17f_snap.ovw VERSION AS OF 1")
      .head().getLong(0) == 2, "the overwritten version stays readable")
  }

  test("DELETE FROM is the copy-on-write delete") {
    val root = s"$wh/del"
    SnapshotStore.commitAppend(
      spark.range(10).select(col("id").as("tid"),
        (col("id") * 2).as("x")), root)
    registerCatalog()
    spark.sql("DELETE FROM r17f_snap.del WHERE tid >= 6 AND x < 16")
    // tid 6, 7 match (x = 12, 14); 8, 9 keep (x = 16, 18)
    val left = spark.sql("SELECT tid FROM r17f_snap.del ORDER BY tid")
      .collect().map(_.getLong(0)).toSeq
    assert(left == Seq(0L, 1L, 2L, 3L, 4L, 5L, 8L, 9L))
    assert(spark.sql(
      "SELECT count(*) AS n FROM r17f_snap.del VERSION AS OF 1")
      .head().getLong(0) == 10, "pre-delete snapshot keeps the rows")
  }

  test("DELETE with IN and IS NULL shapes") {
    val root = s"$wh/del2"
    SnapshotStore.commitAppend(
      Seq((1L, Some("a")), (2L, None), (3L, Some("c")))
        .toDF("tid", "v"), root)
    registerCatalog()
    spark.sql("DELETE FROM r17f_snap.del2 WHERE v IS NULL OR tid IN (3)")
    val left = spark.sql("SELECT tid FROM r17f_snap.del2").collect()
      .map(_.getLong(0)).toSeq
    assert(left == Seq(1L))
  }

  test("CREATE TABLE pins the schema; first INSERT appends") {
    registerCatalog()
    spark.sql(
      "CREATE TABLE r17f_snap.fresh (tid BIGINT, score DOUBLE)")
    assert(SnapshotStore.versions(s"$wh/fresh") == Seq(1))
    assert(spark.sql("SELECT count(*) AS n FROM r17f_snap.fresh")
      .head().getLong(0) == 0, "empty table readable right away")
    spark.sql("INSERT INTO r17f_snap.fresh VALUES (1, 0.5), (2, 1.5)")
    assert(spark.sql(
      "SELECT CAST(sum(score) AS DOUBLE) AS s FROM r17f_snap.fresh")
      .head().getDouble(0) == 2.0)
    intercept[Exception] {
      spark.sql("CREATE TABLE r17f_snap.fresh (x INT)")
    }
  }

  test("CTAS creates and fills in one statement") {
    registerCatalog()
    spark.range(5).select(col("id").as("tid"))
      .createOrReplaceTempView("r17f_src")
    spark.sql(
      "CREATE TABLE r17f_snap.ctas AS SELECT tid FROM r17f_src")
    assert(spark.sql("SELECT count(*) AS n FROM r17f_snap.ctas")
      .head().getLong(0) == 5)
    assert(SnapshotStore.versions(s"$wh/ctas").nonEmpty)
  }

  test("DROP and RENAME still refuse; evolved tables accept SQL writes") {
    val root = s"$wh/ro"
    SnapshotStore.commitAppend(
      Seq((1L, "202601")).toDF("tid", "month"), root, spec = Seq("month"))
    registerCatalog()
    intercept[Exception] { spark.sql("DROP TABLE r17f_snap.ro") }
    intercept[Exception] {
      spark.sql("ALTER TABLE r17f_snap.ro RENAME TO r17f_snap.ro2")
    }
    // round 18: INSERT INTO an evolved store is a flat append commit
    // (correct by the union-read contract — Round18Spec pins the
    // byte-identity invariant and the DELETE path)
    spark.sql("INSERT INTO r17f_snap.ro VALUES (2, '202602')")
    assert(SnapshotStore.read(spark, root).count() == 2)
  }

  test("a delete on the whole table truncates via copy-on-write") {
    val root = s"$wh/trunc"
    SnapshotStore.commitAppend(
      spark.range(4).select(col("id").as("tid")), root)
    registerCatalog()
    spark.sql("DELETE FROM r17f_snap.trunc WHERE tid >= 0")
    assert(spark.sql("SELECT count(*) AS n FROM r17f_snap.trunc")
      .head().getLong(0) == 0)
    assert(spark.sql(
      "SELECT count(*) AS n FROM r17f_snap.trunc VERSION AS OF 1")
      .head().getLong(0) == 4)
  }
}
