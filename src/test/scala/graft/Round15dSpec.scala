package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{BloomIndex, SnapshotRead, SnapshotStore}

/** Round-15 fourth wave: the per-file Bloom sidecar (x9). */
class Round15dSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def lookup(root: String, k: Long) =
    SnapshotRead.plan(spark, root, point = Some(("k", k)))

  private def freshStore(n: Long, parts: Int): String = {
    val root = graft.util.TempDirs.scoped("r15d-bloom")
    val df = spark.range(n).select(col("id").as("k"),
      (col("id") * 3 % 17).cast("double").as("v"))
    SnapshotStore.commitAppend(df.repartition(parts, col("k")), root)
    BloomIndex.build(spark, root, "k")
    root
  }

  test("no false negatives: every present key's lookup finds its row") {
    val root = freshStore(2000, 10)
    // a deterministic sample across the key space
    (0L until 2000L by 97).foreach { k =>
      val rows = lookup(root, k).df.collect()
      assert(rows.length == 1 && rows.head.getLong(0) == k,
        s"key $k must survive its own Bloom")
    }
  }

  test("point probes prune most files; absent key prunes all") {
    val root = freshStore(2000, 10)
    val present = lookup(root, 1234L)
    assert(present.filesTotal == 10)
    assert(present.filesAfterBloom <= 3,
      s"expected <=3 surviving files, got ${present.filesAfterBloom}")
    val absent = lookup(root, 999999L)
    assert(absent.filesAfterBloom <= 2)
    assert(absent.df.count() == 0)
  }

  test("files appended after the build are conservatively kept") {
    val root = freshStore(100, 4)
    SnapshotStore.commitAppend(
      Seq((5000L, 1.0)).toDF("k", "v").coalesce(1), root)
    // no rebuild: the new file has no sidecar line -> always scanned
    val p = lookup(root, 5000L)
    assert(p.filesTotal == 5)
    val all = SnapshotStore.filesAt(root, SnapshotStore.latestVersion(root))
    val newFile = (all.toSet -- SnapshotStore.filesAt(root, 1).toSet).head
    assert(p.df.inputFiles.map(new java.net.URI(_).getPath).contains(newFile),
      "unindexed file must be kept")
    assert(p.df.count() == 1)
  }

  test("lookup with nothing surviving returns an empty schema-correct frame") {
    val root = freshStore(100, 4)
    val out = lookup(root, Long.MaxValue - 7).df
    assert(out.columns.toSeq == Seq("k", "v"))
    assert(out.count() == 0)
  }
}
