package graft.sources

import java.io.File

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg-style METADATA tables over a snapshot store — the
  * introspection face a SQL user expects next to time travel:
  *
  * {{{
  *   SELECT * FROM graft_snap.trades.history;  -- versions + instants
  *   SELECT * FROM graft_snap.trades.files;    -- the head's file list
  *   SELECT * FROM graft_snap.trades.tags;     -- tag → version
  * }}}
  *
  * Resolution: `<cat>.trades.history` parses as namespace=[trades],
  * name=history; when no real table answers to that path but the
  * namespace prefix IS a store and the name is a known metadata kind,
  * the catalog serves the metadata relation. All three are pure
  * DRIVER-side manifest reads (KBs at any table size — the same
  * asymmetry every store operation leans on) surfaced through a
  * [[LocalScan]], computed fresh at scan time so a query always sees
  * the current metadata. */
private[sources] object MetadataTables {

  val kinds: Set[String] = Set("history", "files", "tags")

  private val schemas: Map[String, StructType] = Map(
    "history" -> StructType.fromDDL(
      "version INT, ts_millis BIGINT, n_files INT, writer STRING"),
    "files" -> StructType.fromDDL(
      "path STRING, size_bytes BIGINT, commit_dir STRING"),
    "tags" -> StructType.fromDDL("tag STRING, version INT"))

  private def rowsOf(root: String, kind: String): Array[InternalRow] =
    kind match {
      case "history" =>
        SnapshotStore.versions(root).map { v =>
          val meta = SnapshotStore.manifestMeta(root, v)
          new GenericInternalRow(Array[Any](v,
            meta.get("ts").map(_.toLong).getOrElse(0L),
            SnapshotStore.filesAt(root, v).size,
            meta.get("writer").map(UTF8String.fromString).orNull))
            : InternalRow
        }.toArray
      case "files" =>
        val files = SnapshotStore.filesAt(root, SnapshotStore.latestVersion(root))
        // the COMMIT directory, not the immediate parent — a file
        // under an evolved layout sits below partition directories
        val commitDir = EvolvedTable.commitDirs(root, files)
          .flatMap { case (d, fs) => fs.map(_ -> d.getName) }.toMap
        files.map { p =>
          new GenericInternalRow(Array[Any](UTF8String.fromString(p),
            new File(p).length(),
            UTF8String.fromString(commitDir(p)))): InternalRow
        }.toArray
      case "tags" =>
        SnapshotStore.tags(root).toSeq.sortBy(_._1).map { case (t, v) =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(t), v)): InternalRow
        }.toArray
      case other =>
        throw new graft.QueryError(s"unknown metadata table: $other")
    }

  final class MetadataTable(tableName: String, root: String,
      kind: String) extends Table with SupportsRead {
    override def name(): String = tableName
    override def schema(): StructType = schemas(kind)
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.Collections.singleton(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap)
        : ScanBuilder = new ScanBuilder {
      override def build(): Scan = new LocalScan {
        // computed at scan time: a re-run of the same query sees the
        // CURRENT manifests, like any other read of the store
        override def rows(): Array[InternalRow] = rowsOf(root, kind)
        override def readSchema(): StructType = schemas(kind)
        override def description(): String =
          s"graft metadata table $kind"
      }
    }
  }
}
