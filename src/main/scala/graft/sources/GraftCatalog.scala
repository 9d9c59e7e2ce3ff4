package graft.sources

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The SQL-text face of the snapshot store — a DataSourceV2
  * [[TableCatalog]] so a pure-SQL user gets Delta/Iceberg-style time
  * travel without touching the Scala API:
  *
  * {{{
  *   SET spark.sql.catalog.graft_snap = graft.sources.GraftCatalog
  *   SET spark.sql.catalog.graft_snap.warehouse = /path/to/warehouse
  *   SELECT * FROM graft_snap.trades VERSION AS OF 3;
  *   SELECT * FROM graft_snap.trades VERSION AS OF 'baseline'; -- a tag
  *   SELECT * FROM graft_snap.trades TIMESTAMP AS OF '2026-01-01';
  * }}}
  *
  * A table named `t` is the snapshot-store root `<warehouse>/t`
  * (nested namespaces map to subdirectories). `loadTable` resolves
  * the requested version — Spark's parser hands `VERSION AS OF` /
  * `TIMESTAMP AS OF` straight to the catalog's overloads, timestamps
  * in MICROSECONDS — to one [[SnapshotRead.Snapshot]], whose DSv2
  * face hands EXACTLY its paths, under its read schema, to Spark's
  * own `ParquetTable`, so the SQL path and the Scala
  * `SnapshotStore.read` path plan the same file-pruned parquet scan
  * over the same columns (filter pushdown, column pruning, and
  * vectorized reading all come from the stock parquet source). A
  * non-numeric `VERSION AS OF` string resolves as a TAG name — the
  * natural SQL spelling for pinned snapshots.
  *
  * DML routes THROUGH the store's one commit path, never around it:
  * INSERT INTO is a [[SnapshotStore.commitAppend]] and INSERT
  * OVERWRITE a [[SnapshotStore.commitReplace]] (both under the
  * table's default spec, [[SnapshotDml]]), `writeStream.toTable` the
  * staged append/replace commits ([[SnapshotStreaming]]), UPDATE,
  * MERGE INTO and subquery DELETEs the staged replace
  * ([[SnapshotRowLevel]]), DELETE FROM the copy-on-write
  * [[SnapshotStore.deleteRows]], CREATE TABLE
  * [[SnapshotStore.createEmpty]] and ALTER TABLE ADD COLUMN the
  * metadata-only [[SnapshotStore.addColumns]]; the `CALL system.*`
  * procedures reach compaction, re-indexing, `set_spec` and
  * `merge_rows`. Each is a caller of the same core, so the CAS
  * publish stays the single serialization point, the writer-token
  * check and header carry rule apply to every kind, committed files
  * stay immutable, and every prior version keeps reading its exact
  * files. DROP/RENAME and every non-additive ALTER still refuse
  * (destroying or re-rooting a versioned store is a deliberate
  * out-of-band act, not a statement to run by accident). */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null,
      s"catalog $name needs spark.sql.catalog.$name.warehouse")
  }

  override def name(): String = catalogName

  private def rootOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name())
      .foldLeft(new File(warehouse))(new File(_, _)).getPath

  /** The table at version `v`. Partition-evolved commits store values
    * in DIRECTORY names under a per-commit spec, so the planner's
    * layout rule ([[SnapshotRead.Snapshot.evolved]]) decides: evolved
    * versions plan as a per-layout union ([[EvolvedTable]]) that
    * resolves every file against the spec its commit was written with
    * — the Iceberg read contract, in pure SQL — and flat ones as one
    * parquet table. */
  private def tableAt(ident: Identifier, v: Int): Table = {
    val snap = SnapshotStore.snapshotAt(rootOf(ident), v)
    val tableName = s"$catalogName.${ident.toString}@v$v"
    if (snap.evolved) new EvolvedTable.EvolvedSnapshotTable(tableName, snap)
    else new GraftCatalog.SnapshotTable(tableName, snap)
  }

  private def checkExists(ident: Identifier): String = {
    val root = rootOf(ident)
    if (SnapshotStore.versions(root).isEmpty)
      throw new NoSuchTableException(ident)
    root
  }

  /** `<cat>.<table>.<history|files|tags>` — the metadata relations
    * ([[MetadataTables]]), served when no REAL table answers to the
    * full path but the prefix is a store (a genuine table named
    * `history` under a namespace still wins). */
  private def metadataTable(ident: Identifier): Option[Table] =
    if (ident.namespace().isEmpty ||
        !MetadataTables.kinds(ident.name())) None
    else {
      val ns = ident.namespace()
      val base = Identifier.of(ns.dropRight(1), ns.last)
      val baseRoot = rootOf(base)
      if (SnapshotStore.versions(baseRoot).isEmpty) None
      else Some(new MetadataTables.MetadataTable(
        s"$catalogName.${ident.toString}", baseRoot, ident.name()))
    }

  override def loadTable(ident: Identifier): Table = {
    val root = rootOf(ident)
    if (SnapshotStore.versions(root).isEmpty)
      metadataTable(ident).getOrElse(throw new NoSuchTableException(ident))
    else tableAt(ident, SnapshotRead.resolve(root))
  }

  /** `VERSION AS OF <v>` — an integer version or a tag name. An
    * unknown tag is a VERSION error, not a missing table: the table
    * exists (checkExists passed), so the diagnostic must name the
    * actual problem — NoSuchTableException here would tell a user who
    * typo'd a tag that a table they can SELECT from doesn't exist. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = checkExists(ident)
    tableAt(ident, version.toIntOption match {
      case Some(v) => SnapshotRead.resolve(root, version = Some(v))
      case None => SnapshotRead.resolve(root, tag = Some(version),
        table = ident.toString)
    })
  }

  /** `TIMESTAMP AS OF <t>` — Spark hands epoch MICROseconds. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    tableAt(ident, SnapshotRead.resolve(checkExists(ident),
      asOfMillis = Some(timestampMicros / 1000L)))

  override def tableExists(ident: Identifier): Boolean =
    SnapshotStore.versions(rootOf(ident)).nonEmpty

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = namespace.foldLeft(new File(warehouse))(new File(_, _))
    val kids = Option(dir.listFiles()).getOrElse(Array.empty)
    kids.filter(f => f.isDirectory &&
        new File(f, "_manifests").isDirectory)
      .map(f => Identifier.of(namespace, f.getName))
  }

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"$catalogName is the read face of the snapshot store; $op goes " +
        "through the commit API (SnapshotStore.commit*)")

  /** `CREATE TABLE` (and the create half of CTAS): publish an empty
    * version-1 manifest pinning the schema; the first INSERT is an
    * ordinary append commit. `PARTITIONED BY (col, ...)` (identity
    * transforms only) records the DEFAULT spec for future writes in
    * the `#spec` header: INSERTs land Hive-style partition
    * directories under it, and `CALL system.set_spec` evolves it
    * later WITHOUT rewriting committed layouts — specs stay
    * per-commit underneath (Iceberg's spec evolution, driveable
    * entirely from SQL). Bucket/temporal transforms refuse loudly. */
  override def createTable(ident: Identifier,
      schema: org.apache.spark.sql.types.StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String]): Table = {
    val spec = partitions.toSeq.map {
      case t if t.name() == "identity" && t.references().length == 1 &&
          t.references()(0).fieldNames().length == 1 =>
        t.references()(0).fieldNames()(0)
      case other => throw new UnsupportedOperationException(
        s"only identity partition columns are supported, got $other — " +
          "derive the column in the INSERT query instead")
    }
    val root = rootOf(ident)
    if (SnapshotStore.versions(root).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (ident.namespace() :+ ident.name()).toSeq)
    SnapshotStore.createEmpty(root, schema, spec)
    tableAt(ident, 1)
  }

  /** `ALTER TABLE ADD COLUMN(S)` — the one additive DDL a versioned
    * store can honor as a METADATA-ONLY commit: the pinned `#schema`
    * header widens through the same [[graft.util.SchemaMerge]] appends
    * use ([[SnapshotStore.addColumns]]), the new version lists the
    * SAME data files, and old files read the column as NULL. Zero data
    * IO at any table size. Everything non-additive (drops, renames,
    * type changes, NOT NULL, positioned inserts) still refuses loudly:
    * honoring those would either rewrite 100 TB or pin a schema some
    * committed file can't satisfy. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val root = checkExists(ident)
    val adds = changes.map {
      case a: TableChange.AddColumn
          if a.fieldNames().length == 1 && a.isNullable &&
            a.position() == null =>
        org.apache.spark.sql.types.StructField(
          a.fieldNames()(0), a.dataType(), nullable = true)
      case a: TableChange.AddColumn if !a.isNullable =>
        throw new UnsupportedOperationException(
          s"ADD COLUMN ${a.fieldNames().mkString(".")} NOT NULL: " +
            "existing files read added columns as NULL — add it " +
            "nullable or rewrite the table")
      case a: TableChange.AddColumn if a.position() != null =>
        throw new UnsupportedOperationException(
          "ADD COLUMN FIRST/AFTER: the pinned-schema merge appends " +
            "columns at the end (stable across appends) — omit the " +
            "position clause")
      case a: TableChange.AddColumn =>
        throw new UnsupportedOperationException(
          s"ADD COLUMN ${a.fieldNames().mkString(".")}: only top-level " +
            "columns can be added (nested struct fields live inside " +
            "committed file footers)")
      case other => readOnly(s"ALTER TABLE (${other.getClass.getSimpleName})")
    }
    SnapshotStore.addColumns(root, adds)
    tableAt(ident, SnapshotStore.latestVersion(root))
  }

  override def dropTable(ident: Identifier): Boolean =
    readOnly("DROP TABLE")

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = readOnly("RENAME TABLE")

  // ---- SQL maintenance procedures (CALL <cat>.system.<name>(...)) ----
  // the write-shaped operations the read-only table face deliberately
  // refuses: they go through the commit API's CAS primitives, exposed
  // to SQL users as Spark 4 DSv2 stored procedures

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!(ident.namespace().isEmpty ||
        ident.namespace().sameElements(Array("system"))))
      throw new graft.QueryError(
        s"procedures live in the 'system' namespace, got " +
          ident.namespace().mkString("."))
    GraftProcedures.load(warehouse, ident.name())
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.names.sorted
      .map(n => Identifier.of(Array("system"), n)).toArray
}

object GraftCatalog {
  /** The catalog's table over a flat version: its schema is the
    * snapshot's read schema, and reads go through
    * [[SnapshotScanBuilder]], which re-resolves the file list against
    * the sidecar indexes at filter-pushdown time. Writes do
    * NOT delegate to ParquetTable's writer (streaming parquet into
    * manifest-listed paths would mutate committed files behind every
    * version's back — the corruption the immutable-data-file contract
    * forbids); they ride [[SnapshotDml.SnapshotWriteBuilder]], whose
    * insert IS a CAS commit, and DELETE FROM is the copy-on-write
    * [[SnapshotStore.deleteRows]]. */
  private final class SnapshotTable(tableName: String,
      snap: SnapshotRead.Snapshot)
      extends Table with SupportsRead
      with org.apache.spark.sql.connector.catalog.SupportsWrite
      with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
      with org.apache.spark.sql.connector.catalog
        .SupportsRowLevelOperations {
    private val root = snap.root
    override def name(): String = tableName
    override def schema(): org.apache.spark.sql.types.StructType =
      snap.readSchema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.OVERWRITE_BY_FILTER,
        TableCapability.STREAMING_WRITE,
        TableCapability.MICRO_BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap)
        : ScanBuilder = new SnapshotScanBuilder(tableName, snap, options)
    override def newWriteBuilder(
        info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
        : org.apache.spark.sql.connector.write.WriteBuilder =
      new SnapshotDml.SnapshotWriteBuilder(root, info)
    override def canDeleteWhere(predicates: Array[
        org.apache.spark.sql.connector.expressions.filter.Predicate])
        : Boolean = SnapshotDml.canDelete(predicates)
    override def deleteWhere(predicates: Array[
        org.apache.spark.sql.connector.expressions.filter.Predicate])
        : Unit =
      SnapshotDml.deleteWhere(SparkSession.active, root, predicates)
    // UPDATE / MERGE INTO / subquery DELETEs — copy-on-write
    // ReplaceData through the staged-parquet seam; translatable
    // DELETEs still take the targeted deleteWhere path above
    override def newRowLevelOperationBuilder(
        info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
        : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
      new SnapshotRowLevel.OpBuilder(root, info)
  }

  /** The piece that makes the SQL face plan like the Scala planner:
    * Spark pushes the query's predicates into the scan builder
    * (`SupportsPushDownCatalystFilters` — the optimizer's V2 pushdown
    * entry point), and THIS builder resolves them against the
    * manifest sidecars BEFORE the parquet scan exists — equality on a
    * Bloom-indexed column keeps only covering files, bounds on the
    * stats column (identified by the manifest's `#statcol` header)
    * keep only [min,max]-overlapping files — then rebuilds the stock
    * ParquetScanBuilder over the SURVIVORS and forwards the same
    * predicates for ordinary row-group pushdown. A pure-SQL
    * `WHERE tid = k` thus scans the same one-ish file the Scala
    * `SnapshotRead.plan(point = ...)` scans, with zero extra syntax.
    * Unsupported predicate shapes simply prune nothing (the full
    * list survives) — correctness never depends on the pruning, only
    * IO does. When everything is skipped, one file is kept and the
    * row filter makes the scan empty. */
  private final class SnapshotScanBuilder(tableName: String,
      snap: SnapshotRead.Snapshot, options: CaseInsensitiveStringMap)
      extends org.apache.spark.sql.internal.connector
        .SupportsPushDownCatalystFilters
      with org.apache.spark.sql.connector.read
        .SupportsPushDownRequiredColumns {
    import org.apache.spark.sql.catalyst.expressions._

    private val all = snap.files
    private var inner = snap.parquetTable(tableName).newScanBuilder(options)
    private var required: Option[org.apache.spark.sql.types.StructType] =
      None

    override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
      val pruned = snap.prune(SnapshotRead.Bounds.of(filters))._2
      if (pruned.size != all.size)
        inner = snap.parquetTable(tableName,
          if (pruned.nonEmpty) pruned else all.take(1)).newScanBuilder(options)
      inner.pushFilters(filters)
    }

    override def pushedFilters()
        : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
      inner.pushedFilters

    override def pruneColumns(
        requiredSchema: org.apache.spark.sql.types.StructType): Unit = {
      required = Some(requiredSchema)
      inner.pruneColumns(requiredSchema)
    }

    override def build(): org.apache.spark.sql.connector.read.Scan =
      // batch reads delegate straight through; the wrapper adds the
      // streaming face (readStream.table — version-diff micro-batches)
      new SnapshotSource.WrappedScan(inner.build(), tableName, snap, required,
        options)
  }
}
