package graft.sources

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-callable MAINTENANCE procedures for the snapshot store — the
  * `CALL`-statement face Delta/Iceberg users expect for operations
  * that are commits-about-commits rather than queries:
  *
  * {{{
  *   CALL graft_snap.system.set_tag('trades', 'baseline');
  *   CALL graft_snap.system.compact('trades', 1048576, 2);
  *   CALL graft_snap.system.expire('trades', 3, 0);
  *   CALL graft_snap.system.merge_rows('trades', 'changes_view',
  *        'tid', 'op', 'seq', 'id');
  * }}}
  *
  * Spark 4's DSv2 procedure API: the catalog resolves
  * `system.<name>` to an [[UnboundProcedure]]; the analyzer binds and
  * type-checks the argument row; `call` runs DRIVER-side (these are
  * metadata commits — manifest writes, file-count-sized) and returns
  * its result as a [[LocalScan]], so `CALL` surfaces a result row the
  * caller (and the oracle gate) can read. Every mutation goes through
  * the SAME commit primitives as the Scala API — CAS manifests,
  * carried stats/schema headers, tag pinning — so SQL maintenance
  * can never bypass an invariant the store enforces. */
private[sources] object GraftProcedures {

  val names: Seq[String] = Seq("set_tag", "compact", "expire",
    "merge_rows", "index", "build_bloom", "set_spec")

  def load(warehouse: String, name: String): UnboundProcedure =
    name match {
      case "set_tag" => SetTag(warehouse)
      case "compact" => Compact(warehouse)
      case "expire" => Expire(warehouse)
      case "merge_rows" => MergeRows(warehouse)
      case "index" => Index(warehouse)
      case "build_bloom" => BuildBloom(warehouse)
      case "set_spec" => SetSpec(warehouse)
      case other => throw new graft.QueryError(
        s"unknown procedure 'system.$other': known procedures " +
          names.sorted.mkString("[", ", ", "]"))
    }

  /** Resolve a procedure's `table` argument exactly like the catalog
    * resolves identifiers: a dotted `ns.t` is the nested namespace
    * `<warehouse>/ns/t` (the same path `GraftCatalog.rootOf` maps
    * `Identifier(ns, t)` to), so every table SELECT can reach is also
    * addressable from `CALL`. A filesystem-flavored `ns/t` keeps
    * working (File composition treats the separator natively). */
  private def rootOf(warehouse: String, table: String): String = {
    val root = table.split("\\.").filter(_.nonEmpty)
      .foldLeft(new File(warehouse))(new File(_, _)).getPath
    if (SnapshotStore.versions(root).isEmpty)
      throw new graft.QueryError(s"no snapshot table '$table' under $warehouse")
    root
  }

  private def in(name: String, dt: DataType) =
    ProcedureParameter.in(name, dt).build()
  private def inDefault(name: String, dt: DataType, default: String) =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  /** Boilerplate shared by the four procedures: a driver-side body
    * producing one result row surfaced through a LocalScan. */
  private abstract class DriverProcedure(procName: String,
      params: Array[ProcedureParameter], resultSchema: StructType)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false // commits mutate state
    def run(args: InternalRow): Array[Any]
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val row: InternalRow = new GenericInternalRow(run(input))
      val scan: Scan = new LocalScan {
        override def rows(): Array[InternalRow] = Array(row)
        override def readSchema(): StructType = resultSchema
        override def description(): String = s"graft procedure $procName"
      }
      java.util.Collections.singletonList(scan).iterator()
    }
  }

  /** `set_tag(table, tag, version?)` — pin a name to a version
    * (default: latest). Tags pin manifests through vacuum. */
  private final case class SetTag(warehouse: String)
      extends DriverProcedure("set_tag",
        Array(in("table", StringType), in("tag", StringType),
          inDefault("version", IntegerType, "NULL")),
        StructType.fromDDL("tag STRING, version INT")) {
    override def description(): String =
      "pin a tag name to a snapshot version (default: latest)"
    override def run(a: InternalRow): Array[Any] = {
      val root = rootOf(warehouse, a.getUTF8String(0).toString)
      val tagName = a.getUTF8String(1).toString
      val v = SnapshotStore.tag(root, tagName,
        if (a.isNullAt(2)) None else Some(a.getInt(2)))
      Array(UTF8String.fromString(tagName), v)
    }
  }

  /** `compact(table, min_bytes, target_files?)` — incremental
    * small-file OPTIMIZE; reader-invisible at every version. */
  private final case class Compact(warehouse: String)
      extends DriverProcedure("compact",
        Array(in("table", StringType), in("min_bytes", LongType),
          inDefault("target_files", IntegerType, "1")),
        StructType.fromDDL(
          "version INT, merged_files INT, carried_files INT")) {
    override def description(): String =
      "merge data files below min_bytes into target_files fresh files"
    override def run(a: InternalRow): Array[Any] = {
      val root = rootOf(warehouse, a.getUTF8String(0).toString)
      val (v, merged, carried) = SnapshotStore.compactSmall(
        SparkSession.active, root, a.getLong(1), a.getInt(2))
      Array(v, merged, carried)
    }
  }

  /** `expire(table, keep_last, grace_ms?)` — VACUUM: expire old
    * manifests (tagged versions always survive) and physically delete
    * unreferenced data files older than the grace. */
  private final case class Expire(warehouse: String)
      extends DriverProcedure("expire",
        Array(in("table", StringType), in("keep_last", IntegerType),
          inDefault("grace_ms", LongType,
            SnapshotStore.DefaultOrphanGraceMs.toString)),
        StructType.fromDDL("expired_versions INT, surviving_versions INT, " +
          "deleted_files INT, deleted_bytes BIGINT")) {
    override def description(): String =
      "expire old snapshot versions and purge unreferenced data files"
    override def run(a: InternalRow): Array[Any] = {
      val root = rootOf(warehouse, a.getUTF8String(0).toString)
      val r = SnapshotStore.expireVersions(root, a.getInt(1), a.getLong(2))
      Array(r.expired.size, r.survivors.size, r.deletedFiles,
        r.deletedBytes)
    }
  }

  /** `index(table, stat_cols, n_files?)` — re-cluster the table by
    * the given columns and publish ONE replace commit whose typed
    * stats sidecar indexes all of them (Iceberg's rewrite_data_files
    * + per-column bounds, for SQL users): after it, pushed range
    * predicates on any indexed column prune files. `stat_cols` is a
    * comma-separated column list; kinds derive from the schema
    * (integral → long, timestamp → ts, string → str). */
  private final case class Index(warehouse: String)
      extends DriverProcedure("index",
        Array(in("table", StringType), in("stat_cols", StringType),
          inDefault("n_files", IntegerType, "8")),
        StructType.fromDDL("version INT, indexed_columns STRING")) {
    override def description(): String =
      "re-cluster and stats-index the table on the given columns"
    override def run(a: InternalRow): Array[Any] = {
      val spark = SparkSession.active
      val root = rootOf(warehouse, a.getUTF8String(0).toString)
      val cols = a.getUTF8String(1).toString.split(",").toSeq
        .map(_.trim).filter(_.nonEmpty)
      // the planner's layout-aware scan: re-clustering flattens
      // directory-encoded columns into data columns rather than
      // dropping their values
      val v = SnapshotStore.commitReplaceWithStatsMulti(
        SnapshotStore.read(spark, root), root, cols, a.getInt(2))
      Array(v, UTF8String.fromString(
        SnapshotStore.statCols(root, v)
          .map { case (c, k) => s"$c:$k" }.mkString(",")))
    }
  }

  /** `set_spec(table, 'col1,col2')` — evolve the table's DEFAULT
    * partition spec for FUTURE writes (empty string = unpartitioned):
    * a metadata-only commit; committed layouts never rewrite, and the
    * union read resolves every file against the spec its own commit
    * recorded — Iceberg's partition-spec evolution, driven from SQL. */
  private final case class SetSpec(warehouse: String)
      extends DriverProcedure("set_spec",
        Array(in("table", StringType), in("spec", StringType)),
        StructType.fromDDL("version INT, spec STRING")) {
    override def description(): String =
      "evolve the default partition spec for future writes"
    override def run(a: InternalRow): Array[Any] = {
      val root = rootOf(warehouse, a.getUTF8String(0).toString)
      val cols = a.getUTF8String(1).toString.split(",").toSeq
        .map(_.trim).filter(_.nonEmpty)
      val v = SnapshotStore.setSpec(root, cols)
      Array(v, UTF8String.fromString(
        SnapshotStore.currentSpec(root).mkString(",")))
    }
  }

  /** `build_bloom(table, key_col)` — build the per-file Bloom sidecar
    * for point lookups on `key_col` at the current head version. */
  private final case class BuildBloom(warehouse: String)
      extends DriverProcedure("build_bloom",
        Array(in("table", StringType), in("key_col", StringType)),
        StructType.fromDDL("version INT")) {
    override def description(): String =
      "build the per-file Bloom sidecar for a point-lookup column"
    override def run(a: InternalRow): Array[Any] = {
      val root = rootOf(warehouse, a.getUTF8String(0).toString)
      Array(BloomIndex.build(SparkSession.active, root,
        a.getUTF8String(1).toString))
    }
  }

  /** `merge_rows(table, changes_view, key_col, op_col, seq_col,
    * id_col)` — MERGE INTO from any registered view/table of changes
    * ('U' upsert-whole-row / 'D' delete, latest per key wins). */
  private final case class MergeRows(warehouse: String)
      extends DriverProcedure("merge_rows",
        Array(in("table", StringType), in("changes_view", StringType),
          in("key_col", StringType), in("op_col", StringType),
          in("seq_col", StringType), in("id_col", StringType)),
        StructType.fromDDL("version INT")) {
    override def description(): String =
      "MERGE a changelog view into the table (SCD1 latest-wins)"
    override def run(a: InternalRow): Array[Any] = {
      val spark = SparkSession.active
      val root = rootOf(warehouse, a.getUTF8String(0).toString)
      val changes = spark.table(a.getUTF8String(1).toString)
      val v = SnapshotStore.commitMergeRows(spark, root, changes,
        a.getUTF8String(2).toString, a.getUTF8String(3).toString,
        a.getUTF8String(4).toString, a.getUTF8String(5).toString)
      Array(v)
    }
  }
}
