package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import graft.sources.{BloomIndex, SnapshotRead, SnapshotStore}

/** The snapshot store's one read planner: every read face returns the
  * same columns and rows on every store shape (and `snapshotDiff` those
  * columns and the rows the reads differ by), building a read runs no
  * Spark job, and Bloom filters are sized from the data they index. */
class SnapshotReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val wh = {
    val w = graft.util.TempDirs.scoped("read-wh")
    spark.conf.set("spark.sql.catalog.read_snap",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.read_snap.warehouse", w)
    w
  }

  private def kv(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("k"), (col("id") * 0.5).as("v"))
      .coalesce(1)

  private def kp(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("k"),
      (col("id") % 3).cast("string").as("p"))

  /** Each shape builds a store under `root`. */
  private val shapes: Seq[(String, String => Unit)] = Seq(
    "flat" -> { root =>
      (0 until 3).foreach(i => SnapshotStore.commitAppend(kv(i * 10, i * 10 + 10), root))
    },
    "added_column" -> { root =>
      SnapshotStore.commitAppend(kv(0, 10), root)
      SnapshotStore.addColumns(root, Seq(StructField("c", org.apache.spark.sql.types.LongType)))
      SnapshotStore.commitAppend(
        kv(10, 20).withColumn("c", col("k") * 100), root)
    },
    "partitioned" -> { root =>
      SnapshotStore.commitAppend(kp(0, 12), root, spec = Seq("p"))
    },
    "partition_evolved" -> { root =>
      SnapshotStore.commitAppend(kp(0, 12).coalesce(1), root)
      SnapshotStore.commitAppend(kp(12, 24), root, spec = Seq("p"))
    },
    "empty" -> { root =>
      SnapshotStore.createEmpty(root, StructType.fromDDL("k BIGINT, v DOUBLE"))
    },
    "added_column_deleted" -> { root =>
      SnapshotStore.commitAppend(kv(0, 10), root)
      SnapshotStore.addColumns(root, Seq(StructField("c", org.apache.spark.sql.types.LongType)))
      SnapshotStore.commitAppend(
        kv(10, 20).withColumn("c", col("k") * 100), root)
      // one file written before the column was added, one after
      SnapshotStore.deleteRows(spark, root, col("k") === 3L || col("k") === 13L)
    })

  private def shape(df: DataFrame): (Seq[(String, String)], Seq[String]) =
    (df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq,
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted)

  /** `df`'s rows over `cols`, a column `df` lacks read as null. */
  private def rowsOver(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(c =>
      if (df.columns.contains(c)) col(c) else lit(null).as(c)): _*)
      .collect().map(_.toSeq.mkString("|")).toSeq

  /** Why `snapshotDiff(v1, latest)` disagrees with the reads of the two
    * versions, for every version v1: its columns must be the read's
    * plus (change, n), and its added and removed rows the multiset
    * differences of the two reads. */
  private def diffFailures(root: String): Seq[String] = {
    val last = SnapshotStore.latestVersion(root)
    val cols = SnapshotStore.read(spark, root).columns.toSeq
    val lastRows = rowsOver(SnapshotStore.read(spark, root), cols)
    SnapshotStore.versions(root).flatMap { v1 =>
      try {
        val d = SnapshotStore.snapshotDiff(spark, root, v1, last)
        if (d.columns.toSeq != cols :+ "change" :+ "n")
          Some(s"diff($v1,$last) columns ${d.columns.mkString(",")}")
        else {
          val v1Rows = rowsOver(SnapshotStore.read(spark, root, Some(v1)), cols)
          val got = d.collect().toSeq
          def side(change: String) = got.filter(_.getAs[String]("change") == change)
            .flatMap(r => Seq.fill(r.getAs[Long]("n").toInt)(
              r.toSeq.take(cols.size).mkString("|"))).sorted
          if (side("added") == lastRows.diff(v1Rows).sorted &&
              side("removed") == v1Rows.diff(lastRows).sorted) None
          else Some(s"diff($v1,$last) rows ${got.mkString(" ")}")
        }
      } catch { case e: Exception => Some(s"diff($v1,$last): $e") }
    }
  }

  test("every read face returns the same columns and rows on every store shape") {
    val failures = shapes.flatMap { case (name, build) =>
      val root = s"$wh/$name"
      build(root)
      val faces = Seq(
        "SnapshotStore.read" -> (() => SnapshotStore.read(spark, root)),
        "SnapshotRead.plan" -> (() => SnapshotRead.plan(spark, root).df),
        "SQL" -> (() => spark.sql(s"SELECT * FROM read_snap.$name")))
      val got = faces.map { case (face, df) =>
        face -> (try Right(shape(df())) catch { case e: Exception => Left(e.toString) })
      }
      val distinct = got.map(_._2).distinct
      if (distinct.size == 1 && distinct.head.isRight) {
        val diffs = diffFailures(root)
        if (diffs.isEmpty) None
        else Some(s"$name: snapshotDiff " + diffs.mkString("; "))
      } else Some(s"$name: " + got.map { case (f, r) => s"$f=$r" }.mkString("; "))
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    // the shapes' own contracts, on the agreed answer
    val added = SnapshotStore.read(spark, s"$wh/added_column")
    assert(added.columns.toSeq == Seq("k", "v", "c"))
    assert(added.filter(col("c").isNotNull).count() == 10)
    assert(SnapshotStore.read(spark, s"$wh/partitioned").columns.toSeq == Seq("k", "p"))
    assert(SnapshotStore.read(spark, s"$wh/partition_evolved").count() == 24)
    assert(SnapshotStore.read(spark, s"$wh/empty").columns.toSeq == Seq("k", "v"))
    val deleted = SnapshotStore.read(spark, s"$wh/added_column_deleted")
    assert(deleted.count() == 18 && deleted.filter(col("c").isNotNull).count() == 9)
  }

  test("building a read of a pinned flat store runs no Spark job") {
    val root = graft.util.TempDirs.scoped("read-jobs")
    (0 until 25).foreach(i => SnapshotStore.commitAppend(kv(i * 4, i * 4 + 4), root))
    var read, planned: DataFrame = null
    val readJobs = TestSpark.jobsDuring { read = SnapshotStore.read(spark, root) }
    val planJobs = TestSpark.jobsDuring { planned = SnapshotRead.plan(spark, root).df }
    assert(readJobs.isEmpty, s"SnapshotStore.read ran ${readJobs.size} jobs")
    assert(planJobs.isEmpty, s"SnapshotRead.plan ran ${planJobs.size} jobs")
    assert(read.count() == 100 && planned.count() == 100)
    assert(read.inputFiles.length == 25)
  }

  test("Bloom filters are sized from the data: 9k keys per file still prune") {
    val root = graft.util.TempDirs.scoped("read-bloom")
    (0 until 4).foreach { i =>
      SnapshotStore.commitAppend(
        spark.range(i * 9000L, (i + 1) * 9000L).select(col("id").as("k"))
          .coalesce(1), root)
    }
    val v = BloomIndex.build(spark, root, "k")
    val absent = (1 to 20).map(i => 1000000000L + i * 7919L)
    var plans: Seq[SnapshotRead.ScanPlan] = Nil
    val probeJobs = TestSpark.jobsDuring {
      plans = absent.map(k => SnapshotRead.plan(spark, root, point = Some(("k", k))))
    }
    plans.foreach(p => assert(p.filesAfterBloom * 2 <= p.filesTotal,
      s"an absent key kept ${p.filesAfterBloom} of ${p.filesTotal} files"))
    assert(probeJobs.isEmpty, s"probes ran ${probeJobs.size} jobs")
    // each file's filter: a power of two, at least 16 bits per key
    val sidecar = new String(Files.readAllBytes(
      new File(new File(root, "_manifests"), s"v$v.bloom.k").toPath),
      StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty)
    assert(sidecar.length == 4)
    sidecar.foreach { l =>
      val bits = java.util.Base64.getDecoder.decode(l.split("\t")(1)).length * 8
      assert(bits >= 16 * 9000 && Integer.bitCount(bits) == 1,
        s"filter of $bits bits for 9000 keys")
    }
    Seq(0L, 8999L, 9000L, 20123L, 35999L).foreach { k =>
      val p = SnapshotRead.plan(spark, root, point = Some(("k", k)))
      assert(p.df.collect().toSeq == Seq(Row(k)), s"key $k must survive")
    }
  }
}
