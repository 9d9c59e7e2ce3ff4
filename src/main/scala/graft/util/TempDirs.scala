package graft.util

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Scoped temp directories for the self-contained harness queries
  * (streaming sources/checkpoints, backfill targets): every dir is
  * registered once for recursive deletion at JVM exit, so repeated
  * verify/bench invocations inside one process still see isolated
  * dirs per call, and nothing accumulates on disk across runs.
  * Exit-time (not eager) deletion because several callers return
  * DataFrames that lazily re-scan what they wrote (the parquet-sink
  * harnesses); an eager delete after `q.stop()` would invalidate
  * those results before the driver reads them.
  */
object TempDirs {

  private val registered = mutable.ArrayBuffer.empty[Path]

  sys.addShutdownHook {
    registered.synchronized {
      registered.foreach(deleteRecursively)
    }
  }

  /** Create a fresh temp dir with the given prefix and register it
    * for exit-time cleanup. Returns its absolute path as a String. */
  def scoped(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    registered.synchronized { registered += p }
    p.toString
  }

  /** Whether `path` is a directory [[scoped]] handed out. */
  private[graft] def isScoped(path: String): Boolean =
    registered.synchronized(registered.exists(_.toString == path))

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val children = Files.list(p)
      try {
        val it = children.iterator()
        while (it.hasNext) deleteRecursively(it.next())
      } finally children.close()
    }
    try Files.deleteIfExists(p)
    catch { case _: java.io.IOException => () }
  }
}
