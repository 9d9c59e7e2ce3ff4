package graft.sources

import java.io.File

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The snapshot store's ONE read planner, and the only code in
  * `graft.sources` that turns store files into rows or a schema. Its
  * read faces:
  *  - `plan` and [[SnapshotStore.read]];
  *  - the SQL catalog's flat and evolved tables, their scan builders,
  *    the streaming source's micro-batches and the row-level group
  *    scan, all through the DSv2 face [[Snapshot.parquetTable]];
  *  - [[SnapshotStore.snapshotDiff]], [[BloomIndex.build]] and the
  *    commit core's stats pass;
  *  - the base reads of the rewriting commits (delete, compaction,
  *    merge, re-index).
  * Each turns (version, predicate) into files and files into rows
  * through three parts:
  *
  *  1. the resolver ([[resolve]]): latest, an explicit version,
  *     `TIMESTAMP AS OF` (the manifests' `#ts` instants) or a tag;
  *  2. the pruner ([[Snapshot.prune]] over [[Bounds]]): per-column long
  *     bounds and string bounds against the version's stats sidecar
  *     (column identity through the `#statcol` header — bounds of one
  *     column never prune by another's predicate), then per-column key
  *     sets against the Bloom sidecars, probed only on the stats
  *     survivors. Driver-side metadata, never a Spark job. Two
  *     translations feed it: pushed Catalyst filters ([[Bounds.of]],
  *     where an equality feeds both the bounds and the key set) and
  *     `plan`'s arguments (a `point` feeds only the key set);
  *  3. the scan ([[Snapshot.scan]]), under a layout decided once per
  *     version: EVOLVED when any commit directory carries `_spec.list`,
  *     or when the manifest pins no `#schema` and the commits'
  *     `_schema.ddl` markers differ; FLAT otherwise. A flat table is
  *     one parquet scan under its read schema ([[Snapshot.readSchema]]:
  *     the pinned `#schema`, else the commits' marker — no footer
  *     job); an evolved table reads each commit group
  *     ([[EvolvedTable.groupsOf]]) under its group schema and
  *     `basePath` — partition directories as STRING, so the layout
  *     never changes a column's type — and unions the groups by name.
  *     An empty file subset is an empty frame of the read schema.
  *
  * Sidecars bound FILES, never rows: `plan` re-applies every predicate
  * as a row filter, and a file without a sidecar line is kept. */
object SnapshotRead {

  /** The planned scan: `df` is the final filtered frame; the counts
    * are the per-layer pruning ledger (`filesTotal` ≥ afterStats ≥
    * afterBloom). */
  final case class ScanPlan(version: Int, filesTotal: Int,
      filesAfterStats: Int, filesAfterBloom: Int, df: DataFrame) {
    def statsSkipped: Int = filesTotal - filesAfterStats
    def bloomSkipped: Int = filesAfterStats - filesAfterBloom
  }

  /** Plan a snapshot read. At most one of `version` / `asOfMillis` /
    * `tag` may be given (default: latest). `range` = (statCol, lo,
    * hi) enables stats pruning + the row filter `lo <= c <= hi`;
    * `ranges` adds further range predicates (every indexed column
    * prunes at once); `strRanges` = (col, lo, hi) STRING bounds;
    * `point` = (keyCol, key) enables Bloom skipping + the row filter
    * `c = key`. All together express their conjunction. A range on a
    * `ts`-kind column takes epoch-MICROS bounds (the sidecar's
    * storage domain) and filters rows through `timestamp_micros`. */
  def plan(spark: SparkSession, root: String,
      version: Option[Int] = None,
      asOfMillis: Option[Long] = None,
      tag: Option[String] = None,
      range: Option[(String, Long, Long)] = None,
      point: Option[(String, Long)] = None,
      ranges: Seq[(String, Long, Long)] = Nil,
      strRanges: Seq[(String, String, String)] = Nil): ScanPlan = {
    val snap = SnapshotStore.snapshotAt(root,
      resolve(root, version, asOfMillis, tag))
    val allRanges = range.toSeq ++ ranges
    val withLongs = allRanges.foldLeft(
      Bounds(keys = point.map { case (c, k) => c -> Seq(k) }.toMap)) {
      case (b, (c, lo, hi)) => b.atLeast(c, lo).atMost(c, hi)
    }
    val bounds = strRanges.foldLeft(withLongs) { case (b, (c, lo, hi)) =>
      b.strAtLeast(c, UTF8String.fromString(lo))
        .strAtMost(c, UTF8String.fromString(hi))
    }
    val (afterStats, afterBloom) = snap.prune(bounds)
    def rangeFilter(c: String, lo: Long, hi: Long) =
      if (snap.statCols.get(c).contains("ts"))
        col(c) >= timestamp_micros(lit(lo)) &&
          col(c) <= timestamp_micros(lit(hi))
      else col(c) >= lo && col(c) <= hi
    val filtered = (
      allRanges.map { case (c, lo, hi) => rangeFilter(c, lo, hi) } ++
      strRanges.map { case (c, lo, hi) => col(c) >= lo && col(c) <= hi } ++
      point.map { case (c, k) => col(c) === k })
      .foldLeft(snap.scan(spark, afterBloom))(_.filter(_))
    ScanPlan(snap.version, snap.files.size, afterStats.size,
      afterBloom.size, filtered)
  }

  // ---- the resolver ----

  /** The version a read sees: at most one of `version`, `asOfMillis`
    * and `tag`, else the latest. An unknown tag is a VERSION error
    * naming `table`, the known tags and the live version range. */
  private[sources] def resolve(root: String, version: Option[Int] = None,
      asOfMillis: Option[Long] = None, tag: Option[String] = None,
      table: String = ""): Int = {
    require(Seq(version, asOfMillis, tag).count(_.isDefined) <= 1,
      "give at most one of version / asOfMillis / tag")
    version
      .orElse(asOfMillis.map(SnapshotStore.versionAsOf(root, _)))
      .orElse(tag.map { t =>
        val tags = SnapshotStore.tags(root)
        tags.getOrElse(t, throw new graft.QueryError(
          s"unknown version/tag '$t' for table " +
            s"${if (table.nonEmpty) table else root}: known tags " +
            s"${tags.keys.toSeq.sorted.mkString("[", ", ", "]")}, " +
            s"versions ${SnapshotStore.versions(root).headOption.getOrElse(0)}" +
            s"..${SnapshotStore.latestVersion(root)}"))
      })
      .getOrElse(SnapshotStore.latestVersion(root))
  }

  // ---- the pruner ----

  /** A conjunctive predicate as the pruner sees it: per-column long
    * bounds (kinds `long` and `ts`, a ts bound in epoch-micros),
    * per-column string bounds (byte-wise unsigned UTF8String order —
    * what Spark's min/max used when the sidecar was built), and
    * per-column key SETS (a file survives a set when its Bloom may
    * hold ANY member). */
  private[sources] final case class Bounds(
      lo: Map[String, Long] = Map.empty,
      hi: Map[String, Long] = Map.empty,
      sLo: Map[String, UTF8String] = Map.empty,
      sHi: Map[String, UTF8String] = Map.empty,
      keys: Map[String, Seq[Long]] = Map.empty) {
    def atLeast(c: String, x: Long): Bounds =
      copy(lo = lo + (c -> math.max(x, lo.getOrElse(c, Long.MinValue))))
    def atMost(c: String, x: Long): Bounds =
      copy(hi = hi + (c -> math.min(x, hi.getOrElse(c, Long.MaxValue))))
    def strAtLeast(c: String, x: UTF8String): Bounds =
      copy(sLo = sLo + (c -> sLo.get(c).filter(_.compareTo(x) >= 0).getOrElse(x)))
    def strAtMost(c: String, x: UTF8String): Bounds =
      copy(sHi = sHi + (c -> sHi.get(c).filter(_.compareTo(x) <= 0).getOrElse(x)))
    /** A key set also bounds the column by its min and max. */
    def keySet(c: String, ks: Seq[Long]): Bounds =
      copy(keys = keys + (c -> ks)).atLeast(c, ks.min).atMost(c, ks.max)
  }

  private[sources] object Bounds {

    private def longOf(l: Literal): Option[Long] = l.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType =>
        Option(l.value).map(_.toString.toLong)
      // a timestamp literal's Catalyst value IS epoch-micros — the
      // same domain the `ts`-kind sidecar stores bounds in
      case org.apache.spark.sql.types.TimestampType =>
        Option(l.value).map(_.asInstanceOf[Long])
      case _ => None
    }

    private def strOf(l: Literal): Option[UTF8String] = l.dataType match {
      case org.apache.spark.sql.types.StringType =>
        Option(l.value).map(_.asInstanceOf[UTF8String])
      case _ => None
    }

    private def equal(b: Bounds, a: String, l: Literal): Bounds = {
      val withKey = longOf(l).fold(b)(k => b.keySet(a, Seq(k)))
      strOf(l).fold(withKey)(x => withKey.strAtLeast(a, x).strAtMost(a, x))
    }

    /** Strict long bounds tighten by one; strict string bounds relax to
      * inclusive — conservative, keeps at most the boundary file. */
    private def bound(b: Bounds, a: String, l: Literal, isLo: Boolean,
        strict: Boolean): Bounds = {
      val withLong = longOf(l).fold(b) { k =>
        if (isLo) b.atLeast(a, if (strict) k + 1 else k)
        else b.atMost(a, if (strict) k - 1 else k)
      }
      strOf(l).fold(withLong)(x =>
        if (isLo) withLong.strAtLeast(a, x) else withLong.strAtMost(a, x))
    }

    /** The Catalyst translation: pushed filters the scan builders
      * receive. Unsupported shapes prune nothing — correctness never
      * depends on pruning, only IO does. */
    def of(filters: Seq[Expression]): Bounds =
      filters.foldLeft(Bounds()) { (b, f) =>
        f match {
          case EqualTo(a: AttributeReference, l: Literal) => equal(b, a.name, l)
          case EqualTo(l: Literal, a: AttributeReference) => equal(b, a.name, l)
          case In(a: AttributeReference, vs)
              if vs.nonEmpty && vs.size <= 64 &&
                vs.forall(_.isInstanceOf[Literal]) =>
            val ks = vs.flatMap(x => longOf(x.asInstanceOf[Literal]))
            if (ks.size == vs.size) b.keySet(a.name, ks) else b
          case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
            bound(b, a.name, l, isLo = true, strict = false)
          case GreaterThan(a: AttributeReference, l: Literal) =>
            bound(b, a.name, l, isLo = true, strict = true)
          case LessThanOrEqual(a: AttributeReference, l: Literal) =>
            bound(b, a.name, l, isLo = false, strict = false)
          case LessThan(a: AttributeReference, l: Literal) =>
            bound(b, a.name, l, isLo = false, strict = true)
          case _ => b
        }
      }
  }

  // ---- one resolved version: pruner and scan ----

  /** One version of a table, from ONE manifest read: its files and
    * headers. Version 0 is the table that does not exist yet. The
    * commit core pins its base as a Snapshot too. */
  private[sources] final case class Snapshot(root: String, version: Int,
      files: Seq[String], meta: Map[String, String]) {

    /** The pinned `#schema` header. */
    def schema: Option[StructType] = meta.get("schema").map(StructType.fromDDL)
    def spec: Seq[String] =
      meta.get("spec").toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    def statCols: ListMap[String, String] =
      SnapshotStore.parseStatCols(meta.get("statcol"), s"$root v$version")
    def requireTable(): Unit =
      if (version == 0)
        throw new graft.QueryError(s"no snapshot table under $root")

    /** (stats survivors, Bloom survivors) among this version's files:
      * every `#statcol` column the bounds constrain filters the list,
      * then every key set probes its Bloom sidecar on what is left
      * (absent sidecars and absent lines keep the file). */
    def prune(b: Bounds): (Seq[String], Seq[String]) = {
      val afterStats = statCols.foldLeft(files) { case (fs, (c, kind)) =>
        kind match {
          case "long" | "ts" if b.lo.contains(c) || b.hi.contains(c) =>
            val (l, h) = (b.lo.getOrElse(c, Long.MinValue),
              b.hi.getOrElse(c, Long.MaxValue))
            val stats = SnapshotStore.boundsFor(root, version, c)
            fs.filter(f => stats.get(f).forall { case (mn, mx) =>
              mx >= l && mn <= h })
          case "str" if b.sLo.contains(c) || b.sHi.contains(c) =>
            val stats = SnapshotStore.strBoundsFor(root, version, c)
            fs.filter(f => stats.get(f).forall { case (mn, mx) =>
              b.sLo.get(c).forall(l =>
                UTF8String.fromString(mx).compareTo(l) >= 0) &&
              b.sHi.get(c).forall(h =>
                UTF8String.fromString(mn).compareTo(h) <= 0) })
          case _ => fs
        }
      }
      val afterBloom = b.keys.foldLeft(afterStats) { case (fs, (c, ks)) =>
        BloomIndex.loadSidecar(root, version, c) match {
          case None => fs
          case Some(blooms) => fs.filter(p =>
            blooms.get(p).forall(bits => ks.exists(BloomIndex.covers(bits, _))))
        }
      }
      (afterStats, afterBloom)
    }

    private lazy val commitDirs = EvolvedTable.commitDirs(root, files)

    /** The layout rule: a spec'd commit, or differing schema markers
      * under no pinned schema (the shape a rewrite leaves when it
      * flattens the last spec'd files), make the version evolved.
      * Markers only — driver-side, commit-count-sized, zero data IO. */
    lazy val evolved: Boolean =
      commitDirs.exists(d => new File(d._1, "_spec.list").isFile) ||
        (schema.isEmpty && commitDirs.flatMap(d =>
          EvolvedTable.marker(d._1, "_schema.ddl")).distinct.size > 1)

    lazy val groups: Seq[EvolvedTable.LayoutGroup] =
      EvolvedTable.groupsOf(commitDirs)

    /** The ONE schema source of every read face: an evolved version's
      * group schemas merged by name ([[graft.util.SchemaMerge]]); a
      * flat version's pinned `#schema`, else the marker its commits
      * share (one, by the layout rule). Never a data-file footer. */
    lazy val readSchema: StructType =
      if (evolved) groups.map(_.groupSchema).reduceLeft(graft.util.SchemaMerge.merge)
      else schema.getOrElse(groups.map(_.dataSchema).headOption.getOrElse(
        throw new graft.QueryError(
          s"version $version of $root lists no files and pins no #schema")))

    /** The rows of `subset` (files of this version) under the
      * version's layout. An empty subset keeps the table's columns. */
    def scan(spark: SparkSession, subset: Seq[String] = files): DataFrame =
      if (subset.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[Row](), readSchema)
      else if (evolved) {
        val keep = subset.toSet
        groups.map(g => g.copy(files = g.files.filter(keep)))
          .filter(_.files.nonEmpty)
          .map(g => spark.read.schema(g.groupSchema)
            .option("basePath", g.baseDir).parquet(g.files: _*))
          .reduce(_.unionByName(_, allowMissingColumns = true))
      } else spark.read.schema(readSchema).parquet(subset: _*)

    /** The scan's DSv2 face: Spark's own ParquetTable over `subset`
      * under the read schema, which rides in as the user schema, so
      * the table infers none from footers. */
    def parquetTable(name: String, subset: Seq[String] = files,
        options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
        : ParquetTable =
      ParquetTable(name, SparkSession.active, options, subset.toIndexedSeq,
        Some(readSchema), classOf[ParquetFileFormat])

    /** The DSv2 face of one layout group `g` of an evolved version:
      * its files under its group schema, `basePath` at its commit
      * directory so partition directories surface as columns. */
    def parquetTable(name: String, g: EvolvedTable.LayoutGroup,
        options: CaseInsensitiveStringMap): ParquetTable = {
      val withBase = new java.util.HashMap[String, String](
        options.asCaseSensitiveMap())
      withBase.put("basePath", g.baseDir)
      ParquetTable(name, SparkSession.active,
        new CaseInsensitiveStringMap(withBase), g.files.toIndexedSeq,
        Some(g.groupSchema), classOf[ParquetFileFormat])
    }
  }
}
