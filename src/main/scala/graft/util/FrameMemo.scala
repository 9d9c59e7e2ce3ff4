package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Write-once parquet side-table memos for registry entries that
  * share an expensive upstream pass (the LSH pair set, the BM25 /
  * tf·idf ranked lists): the first consumer materializes the frame as
  * a parquet table with ONE distributed write, every later consumer
  * reads it back as a DataFrame. Never driver-side rows — a
  * corpus-proportional result (a web-scale dup-pair set) would OOM
  * the driver; here the driver holds only the path (O(1)).
  *
  * Keyed by (applicationId, dir, dirFingerprint, name): the memoized
  * frame is a pure function of the data under dir; applicationId is
  * process-unique (session identity hashes are not — they can be
  * reused after a GC and would serve stale frames on a rare
  * collision), and the fingerprint — filesystem metadata of the files
  * under dir, no data read — invalidates the memo if the data under
  * dir is REGENERATED within one application (same path, new bytes),
  * which would otherwise silently serve a stale frame that disagrees
  * with the oracle's live scan. Bounded: one entry per (dir, version,
  * name) an application ever touches. Each table lives in a
  * [[TempDirs.scoped]] directory, deleted at JVM exit. On a cluster
  * the same pattern targets a job-scoped path on the shared
  * filesystem (java.io.tmpdir here; local mode has no HDFS). */
object FrameMemo {

  /** Path and written schema of each memo table. */
  private val memo = scala.collection.concurrent.TrieMap
    .empty[(String, String, String, String), (String, StructType)]

  /** Cheap dataset fingerprint: relative path + length + full-
    * precision mtime + filesystem fileKey (inode on POSIX — changes
    * whenever a file is rewritten, even within the same mtime tick)
    * of every regular file under dir, digested in sorted order — pure
    * filesystem metadata, no data bytes read, so it is O(#files) on
    * the driver and safe to recompute per call. Millisecond mtimes
    * alone are too coarse: an in-place regeneration with identical
    * names and sizes inside one clock tick would keep the fingerprint
    * unchanged and silently serve a stale memo; the nanosecond
    * instant plus the fileKey each independently break that tie.
    * Any traversal failure (including the UncheckedIOException a
    * mid-walk deletion surfaces as) degrades to the "unreadable"
    * sentinel — a distinct key that never aliases a healthy one. */
  def dirFingerprint(dir: String): String = {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.BasicFileAttributes
    try {
      val root = Paths.get(dir)
      if (!Files.exists(root)) "absent"
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val st = Files.walk(root)
        try st.filter(p => Files.isRegularFile(p)).sorted().forEach { p =>
          val attrs = Files.readAttributes(p, classOf[BasicFileAttributes])
          val key = Option(attrs.fileKey()).map(_.toString).getOrElse("-")
          md.update((root.relativize(p).toString + "|" + attrs.size() +
            "|" + attrs.lastModifiedTime().toInstant + "|" + key + "\n")
            .getBytes("UTF-8"))
        } finally st.close()
        md.digest().map(b => f"$b%02x").mkString
      }
    } catch {
      case scala.util.control.NonFatal(_) => "unreadable"
    }
  }

  /** Return the memoized frame for (app, dir-version, name), building
    * and writing it on first use. Column order/types round-trip
    * through parquet unchanged, so each read-back takes the schema
    * the write had instead of inferring it from the footers (a Spark
    * job per read). */
  def cached(s: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame =
    cached(s, dir, name, dirFingerprint(dir))(build)

  /** [[cached]] under a fingerprint the caller already computed, so a
    * caller keying its own state by the same fingerprint cannot see a
    * different dir version than the memo. */
  def cached(s: SparkSession, dir: String, name: String, fp: String)
      (build: => DataFrame): DataFrame = {
    val (path, schema) = memo.getOrElseUpdate(
      (s.sparkContext.applicationId, dir, fp, name), {
        val out = TempDirs.scoped(s"graft_memo_${name}_")
        val df = build
        df.write.mode("overwrite").parquet(out)
        (out, df.schema)
      })
    s.read.schema(schema).parquet(path)
  }
}
