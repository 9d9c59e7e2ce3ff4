package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The SQL face of a PARTITION-EVOLVED snapshot table — the read path
  * Iceberg treats as table stakes: each commit's files resolve under
  * the partition spec THEY were written with, and the table surfaces
  * the union-by-name of every layout.
  *
  * Shape: the manifest's files group by commit directory (the unit a
  * spec applies to). Each group plans as Spark's OWN ParquetTable —
  * its `basePath` pins where Hive-style partition directories start,
  * and the group schema rides in as the user-specified schema with
  * partition columns as STRINGS (the same groups and schemas the
  * Scala planner's evolved scan reads, so the SQL and Scala faces
  * return identical rows). The unified scan concatenates the groups'
  * input partitions and projects each group's rows into the unified
  * required schema by NAME, null-padding columns the group lacks.
  *
  * Pushdown: sidecar pruning ([[SnapshotRead.Snapshot.prune]]) runs
  * ONCE over the union's files; each group then receives the pushed
  * predicates it can evaluate (references ⊆ its columns) for ordinary
  * partition-directory and row-group pruning. EVERY predicate stays
  * residual at
  * the union level — Spark re-evaluates them on the padded rows,
  * which is exactly what makes a filter on a column some group lacks
  * correct (padded NULL → row dropped), and costs one extra codegen'd
  * predicate pass, never extra IO.
  *
  * Group schemas come from the per-commit `_schema.ddl` marker every
  * commit writes (zero data IO at plan time); a commit directory
  * without one refuses rather than open a footer. The table's schema
  * is the groups' merge, [[SnapshotRead.Snapshot.readSchema]]. Rows
  * flow through the row-based reader (the union projection is
  * per-row) — the price of heterogeneous layouts; single-layout
  * tables keep the vectorized [[GraftCatalog]] path. */
private[graft] object EvolvedTable {

  /** Test seam: how many per-group listing/split passes evolved scans
    * have run (one increment per layout group per scan). The stock
    * `FileScan.partitions` re-lists and re-splits on EVERY
    * `planInputPartitions()` call, and an evolved scan consults the
    * result from three sites (the planned array, the uniform-columnar
    * check, the audit ledger) — memoization keeps it at ONE pass per
    * group, which Round18Spec pins. At 100 TB file counts, listing IS
    * the plan-time cost. */
  private[graft] val planningPasses =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** One commit directory's worth of files: the unit a partition spec
    * (and a schema marker) applies to. */
  final case class LayoutGroup(baseDir: String, files: Seq[String],
      specCols: Seq[String], dataSchema: StructType) {
    /** Columns this group's scan can surface: data columns plus its
      * partition directories as strings. */
    def groupSchema: StructType = StructType(
      dataSchema.fields ++
        specCols.map(StructField(_, StringType, nullable = true)))
  }

  /** `files` grouped by their commit directory under `<root>/data`,
    * in directory-name order — the store's one commit grouping. */
  def commitDirs(root: String, files: Seq[String]): Seq[(File, Seq[String])] = {
    val dataDir = new File(root, "data").getCanonicalFile
    files.groupBy { p =>
      var f = new File(p).getCanonicalFile
      while (f.getParentFile != null && f.getParentFile != dataDir)
        f = f.getParentFile
      f.getName
    }.toSeq.sortBy(_._1).map { case (cdir, fs) => new File(dataDir, cdir) -> fs }
  }

  /** The text of commit directory `dir`'s marker file `name`. */
  def marker(dir: File, name: String): Option[String] = {
    val f = new File(dir, name)
    if (f.isFile)
      Some(new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
    else None
  }

  /** [[commitDirs]]' groups with each one's spec (`_spec.list`) and
    * schema (`_schema.ddl`) resolved. */
  def groupsOf(dirs: Seq[(File, Seq[String])]): Seq[LayoutGroup] =
    dirs.map { case (dir, fs) =>
      val spec = marker(dir, "_spec.list").toSeq.flatMap(_.split("\n"))
        .map(_.trim).filter(_.nonEmpty)
      val full = StructType.fromDDL(marker(dir, "_schema.ddl").getOrElse(
        throw new graft.QueryError(s"commit directory $dir has no _schema.ddl")))
      val data = StructType(full.fields.filterNot(f =>
        spec.contains(f.name)))
      LayoutGroup(dir.getPath, fs.sorted, spec, data)
    }

  /** The V2 table over an evolved store. Throws [[graft.QueryError]]
    * at load when layouts disagree on a shared column's type (one
    * commit's data-Long vs another's directory-string cannot be
    * flattened losslessly — the Scala planner's by-name union remains
    * for that rare shape).
    *
    * Writes are first-class (Iceberg writes under partition evolution
    * as a matter of course): `INSERT INTO` is a FLAT append commit —
    * correct by the union-read contract, which surfaces mixed layouts
    * by construction (the inserted rows carry every unified column,
    * partition-directory columns included, as data columns); `INSERT
    * OVERWRITE` is one atomic replace commit; `DELETE FROM` routes to
    * the evolution-safe copy-on-write [[SnapshotStore.deleteRows]]
    * (rewrites read spec-aware, so directory-encoded values survive
    * into the rewritten files — Round17gSpec). All through the same
    * CAS commit primitives and the same [[SnapshotDml]] seam as the
    * flat table. */
  final class EvolvedSnapshotTable(tableName: String,
      snap: SnapshotRead.Snapshot) extends Table with SupportsRead
      with org.apache.spark.sql.connector.catalog.SupportsWrite
      with org.apache.spark.sql.connector.catalog.SupportsDeleteV2 {
    private val root = snap.root
    private[sources] val unified: StructType =
      try snap.readSchema
      catch {
        case e: graft.QueryError => throw new graft.QueryError(
          s"$tableName: partition-evolved layouts disagree on a " +
            s"column's type (${e.getMessage}); read it via " +
            "SnapshotRead.plan")
      }
    override def name(): String = tableName
    override def schema(): StructType = unified
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.STREAMING_WRITE)
    override def newScanBuilder(options: CaseInsensitiveStringMap)
        : ScanBuilder =
      new EvolvedScanBuilder(tableName, snap, unified, options)
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
  }

  private final class EvolvedScanBuilder(tableName: String,
      snap: SnapshotRead.Snapshot, unified: StructType,
      options: CaseInsensitiveStringMap)
      extends org.apache.spark.sql.internal.connector
        .SupportsPushDownCatalystFilters
      with org.apache.spark.sql.connector.read
        .SupportsPushDownRequiredColumns {

    private var required: StructType = unified
    private var filters: Seq[Expression] = Nil
    private val groups = snap.groups
    private var active: Seq[LayoutGroup] = groups

    override def pushFilters(fs: Seq[Expression]): Seq[Expression] = {
      filters = fs
      // ONE sidecar pass over the union's files; groups shrink to
      // their survivors, empty groups drop from the plan entirely
      val keep = snap.prune(SnapshotRead.Bounds.of(fs))._2.toSet
      val pruned = groups.map(g => g.copy(files = g.files.filter(keep)))
        .filter(_.files.nonEmpty)
      active =
        if (pruned.nonEmpty) pruned
        // everything skipped: keep one file so the scan stays
        // schema-stable; the residual row filters make it empty
        else Seq(groups.head.copy(files = groups.head.files.take(1)))
      // EVERYTHING stays residual: re-evaluating on the unified rows
      // is what makes predicates over group-missing columns correct
      // (padded NULL → dropped)
      fs
    }

    override def pushedFilters(): Array[
        org.apache.spark.sql.connector.expressions.filter.Predicate] =
      Array.empty

    override def pruneColumns(req: StructType): Unit = required = req

    override def build(): Scan = {
      val scans = active.map { g =>
        val sb = snap.parquetTable(tableName, g, options).newScanBuilder(options)
        val gcols = g.groupSchema.fieldNames.toSet
        sb match {
          case c: org.apache.spark.sql.internal.connector
              .SupportsPushDownCatalystFilters =>
            // a group only sees predicates it can evaluate — its
            // partition directories prune, its row groups filter
            c.pushFilters(filters.filter(
              _.references.forall(a => gcols(a.name))))
          case _ =>
        }
        sb match {
          case p: org.apache.spark.sql.connector.read
              .SupportsPushDownRequiredColumns =>
            p.pruneColumns(StructType(
              required.fields.filter(f => gcols(f.name))))
          case _ =>
        }
        sb.build()
      }
      new EvolvedScan(required, scans)
    }
  }

  private final case class EvolvedInputPartition(group: Int,
      inner: InputPartition) extends InputPartition {
    override def preferredLocations(): Array[String] =
      inner.preferredLocations()
  }

  private[graft] final class EvolvedScan(required: StructType,
      groupScans: Seq[Scan]) extends Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def description(): String =
      s"graft evolved union over ${groupScans.size} layout group(s)"
    /** Files the union scan actually plans — the pruning ledger the
      * audit reads. Counted from the planned FilePartitions (not the
      * file index) so partition-DIRECTORY pruning, which the stock
      * scan applies at listFiles time, is visible too. */
    private[graft] def plannedFiles: Int = planned.map {
      _.map {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
          fp.files.length
        case _ => 0
      }.sum
    }.sum
    private lazy val batches = groupScans.map(_.toBatch)
    /** Each group's input partitions, planned ONCE and reused by all
      * three consumers (the returned array, the uniform-columnar
      * check, the audit ledger): `FileScan.partitions` re-lists and
      * re-splits on every call, so without the memo plan-time listing
      * work triples per query — the dominant plan cost at 100 TB file
      * counts. */
    private lazy val planned: Seq[Array[InputPartition]] = batches.map { b =>
      EvolvedTable.planningPasses.incrementAndGet()
      b.planInputPartitions()
    }
    override def planInputPartitions(): Array[InputPartition] =
      planned.zipWithIndex.flatMap { case (ps, gi) =>
        ps.map(p => EvolvedInputPartition(gi, p): InputPartition)
      }.toArray
    override def createReaderFactory(): PartitionReaderFactory = {
      val factories = batches.map(_.createReaderFactory())
      // per group: unified required field i ← group scan output j
      // (by NAME — a parquet scan emits data columns then partition
      // columns, not necessarily the pruned order), -1 = null-pad
      val projections = groupScans.map { s =>
        val byName = s.readSchema().fieldNames.zipWithIndex.toMap
        required.fieldNames.map(n => byName.getOrElse(n, -1))
      }
      val scanLens = groupScans.map(_.readSchema().length)
      def identity(g: Int): Boolean =
        scanLens(g) == projections(g).length &&
          projections(g).zipWithIndex.forall { case (j, i) => j == i }
      // Spark REQUIRES every partition of a scan to agree on
      // columnar-ness (mixed partitions throw at planning) — decide
      // ONCE for the whole union: vectorized iff every planned group
      // is an identity projection and its reader is columnar-capable
      val uniformColumnar = batches.indices.forall { g =>
        identity(g) && planned(g).forall(factories(g).supportColumnarReads)
      }
      new EvolvedReaderFactory(factories.toArray, projections.toArray,
        scanLens.toArray, required.fields.map(_.dataType),
        uniformColumnar)
    }
  }

  /** Delegating factory. A group whose scan output matches the
    * required schema EXACTLY (an identity projection — the dominant
    * case once pruning narrowed the plan to one layout, or when every
    * commit shares a layout) passes the inner VECTORIZED reader
    * straight through; only groups that actually need padding or
    * reordering pay the per-row projection. Spark requires all
    * partitions of a scan to agree on columnar-ness, so the fast path
    * engages exactly when EVERY planned group is identity. */
  private final class EvolvedReaderFactory(
      factories: Array[PartitionReaderFactory],
      projections: Array[Array[Int]],
      scanLens: Array[Int],
      outTypes: Array[DataType],
      uniformColumnar: Boolean) extends PartitionReaderFactory {
    private def identity(g: Int): Boolean = {
      val proj = projections(g)
      if (scanLens(g) != proj.length) return false
      var i = 0
      while (i < proj.length) { if (proj(i) != i) return false; i += 1 }
      true
    }
    override def supportColumnarReads(p: InputPartition): Boolean =
      uniformColumnar
    override def createColumnarReader(p: InputPartition)
        : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
      val ep = p.asInstanceOf[EvolvedInputPartition]
      factories(ep.group).createColumnarReader(ep.inner)
    }
    override def createReader(p: InputPartition)
        : PartitionReader[InternalRow] = {
      val ep = p.asInstanceOf[EvolvedInputPartition]
      val inner = factories(ep.group).createReader(ep.inner)
      if (identity(ep.group)) return inner
      val proj = projections(ep.group)
      val n = proj.length
      new PartitionReader[InternalRow] {
        override def next(): Boolean = inner.next()
        override def get(): InternalRow = {
          val r = inner.get()
          val out = new Array[Any](n)
          var i = 0
          while (i < n) {
            val j = proj(i)
            if (j >= 0 && !r.isNullAt(j)) out(i) = r.get(j, outTypes(i))
            i += 1
          }
          new GenericInternalRow(out)
        }
        override def close(): Unit = inner.close()
      }
    }
  }
}
