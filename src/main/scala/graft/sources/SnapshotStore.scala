package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, input_file_name, lit, max, max_by, min, not, struct, unix_micros}
import org.apache.spark.sql.types.{StructField, StructType}

import SnapshotRead.Snapshot

/** Manifest-based snapshot isolation over plain parquet — the
  * time-travel core of a lakehouse table format (Delta/Iceberg's
  * essential mechanism) built from two primitives Spark already has:
  * immutable data files and an explicit file list per version.
  *
  *  - data files live under `<root>/data/c<N>-<token>/part-*.parquet`
  *    (token commit-unique) and are NEVER mutated or deleted by a
  *    commit;
  *  - version N's manifest `<root>/_manifests/v<N>.list` is the
  *    newline-separated list of data files visible at N, written with
  *    a tmp-file + atomic-rename so a reader can never observe a
  *    half-written manifest;
  *  - a reader resolves a version (or the latest) to its file list
  *    and hands EXACTLY those paths to the parquet scan — old
  *    versions stay readable after any later commit, and a compaction
  *    (replace-commit of the same logical rows) changes no reader's
  *    result at any version.
  *
  * One commit path: every public commit (append, replace, create,
  * merge, delete, compaction, spec/schema evolution, the stats
  * commits and the streaming/row-level staged commits) is a caller of
  * the private [[commit]] core. A caller says which base files the
  * new version keeps, which fresh files it adds (a frame the core
  * writes, or files a distributed writer staged) and how the headers
  * change; the core alone runs the writer-token replay check, pins
  * the base version, maintains the stats sidecar and publishes the
  * manifest. Carry rule: `#spec` and `#statcol` are TABLE metadata
  * and travel from the base unless the commit sets them — a replace,
  * merge or row-level rewrite changes data, never the table's layout
  * default or its index. At 100 TB the manifest is file-count-sized
  * (KBs per commit), the data path is ordinary distributed parquet
  * IO, and version resolution is driver-side metadata — the same
  * asymmetry the real table formats rely on.
  *
  * Concurrency: optimistic, Iceberg-style. Data files are written
  * FIRST under a commit-unique directory (never colliding), and the
  * versioned manifest is published LAST via an atomic
  * create-fail-if-exists (hard link) — the single serialization
  * point. Two committers that both read version N race to publish
  * N+1; exactly one link creation succeeds, the loser gets a
  * retryable [[CommitConflictException]] and must re-read the new
  * latest and re-resolve (its orphaned data directory is unreferenced
  * by any manifest — ordinary orphan-file maintenance, the price
  * every optimistic table format pays). Without the CAS a silent
  * manifest overwrite LOSES the first commit — unacceptable at any
  * scale, catastrophic at 100 TB. */
object SnapshotStore {

  /** A concurrent committer published this version first. Retryable:
    * re-read [[latestVersion]], re-resolve the base file set, commit
    * again. Part of the [[graft.GraftException]] hierarchy — the one
    * subtype a caller should catch-and-retry rather than propagate. */
  final class CommitConflictException(root: String, version: Int)
    extends graft.GraftException(
      s"version $version under $root was committed concurrently; " +
        "re-read the latest version and retry")

  private def manifestDir(root: String) = new File(root, "_manifests")

  private def manifestFile(root: String, v: Int) =
    new File(manifestDir(root), s"v$v.list")

  /** Highest committed version, 0 when none. */
  def latestVersion(root: String): Int = versions(root).lastOption.getOrElse(0)

  private def manifestLines(root: String, v: Int): Seq[String] = {
    val f = manifestFile(root, v)
    if (!f.isFile)
      throw new graft.QueryError(s"no manifest for version $v under $root")
    new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private[graft] def filesAt(root: String, v: Int): Seq[String] =
    manifestLines(root, v).filterNot(_.startsWith("#"))

  /** Commit metadata carried INSIDE the manifest as `#key<TAB>value`
    * header lines — durable table metadata, unlike filesystem mtimes
    * (a backup/restore or `cp -r` rewrites every mtime; Iceberg/Delta
    * store the commit instant in the snapshot metadata for exactly
    * this reason). Keys in use: `ts` (publication instant, epoch-ms),
    * `writer` (streaming idempotence token, see
    * [[committedVersionFor]]), `schema`, `spec` and `statcol`. */
  private[graft] def manifestMeta(root: String, v: Int)
      : Map[String, String] =
    headerMap(manifestLines(root, v).filter(_.startsWith("#")))

  private def headerMap(lines: Seq[String]): Map[String, String] =
    lines.flatMap { l =>
      l.drop(1).split("\t", 2) match {
        case Array(k, value) => Some(k -> value)
        case _ => None
      }
    }.toMap

  /** Publish version `v`'s manifest — the commit's serialization
    * point. `Files.createLink` is atomic create-fail-if-exists (an
    * ATOMIC_MOVE rename would silently OVERWRITE an existing v<N>
    * manifest on POSIX, losing the concurrent commit), so exactly one
    * of two racing committers wins; the loser's tmp file is removed
    * and [[CommitConflictException]] tells it to retry. Every commit
    * stamps its publication instant (`#ts`) into the content so time
    * travel survives mtime loss; `meta` adds further header lines
    * (e.g. the streaming writer token). */
  private[graft] def writeManifest(root: String, v: Int,
      files: Seq[String], meta: Map[String, String] = Map.empty): Unit = {
    val dir = manifestDir(root)
    dir.mkdirs()
    val withTs =
      if (meta.contains("ts")) meta
      else meta + ("ts" -> System.currentTimeMillis().toString)
    val header = withTs.toSeq.sortBy(_._1)
      .map { case (k, value) => s"#$k\t$value" }
    val tmp = Paths.get(dir.getPath, s".v$v.list.tmp-${commitToken()}")
    Files.write(tmp,
      (header ++ files).mkString("\n").getBytes(StandardCharsets.UTF_8))
    try Files.createLink(manifestFile(root, v).toPath, tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new CommitConflictException(root, v)
    } finally Files.deleteIfExists(tmp)
    // after the link succeeded (and only then), record the writer
    // token in the append-only token log — see [[committedVersionFor]]
    withTs.get("writer").foreach { tok =>
      Files.write(tokensLogFile(root).toPath,
        s"$tok\t$v\n".getBytes(StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
  }

  private def tokensLogFile(root: String) =
    new File(manifestDir(root), "tokens.log")

  /** Every writer token ever committed, token → version (latest
    * wins). The log is append-only and — unlike the manifests that
    * also carry the token — SURVIVES [[expireVersions]], closing the
    * fail-open replay window: without it, a vacuum that expires the
    * manifest of a still-replay-eligible micro-batch would make the
    * crash-replayed batch find no token and double-commit. Log size
    * is one short line per tokened commit — manifest-count-scale
    * metadata, read driver-side. */
  private def tokenLog(root: String): Map[String, Int] = {
    val f = tokensLogFile(root)
    if (!f.isFile) Map.empty
    else new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
      .flatMap { l =>
        l.split("\t") match {
          case Array(tok, v) => Some(tok -> v.toInt)
          case _ => None
        }
      }.toMap
  }

  /** The live version whose manifest carries `writer == token`, if
    * any — the replay check behind batchId-idempotent streaming
    * commits. Structured Streaming re-delivers the last uncommitted
    * micro-batch after a crash with the SAME batchId; a commit made
    * with that token already in a live manifest must be a no-op
    * (otherwise the replayed batch double-commits its rows — the
    * [[graft.streaming.BatchSink]] contract, applied to the snapshot
    * store). All live headers are scanned (newest first) rather than
    * just the head: a foreachBatch body may compact or vacuum AFTER
    * its append, so the token's manifest need not be the head. The
    * append-only [[tokenLog]] backstops the manifests: it survives
    * [[expireVersions]], so a token whose manifest was vacuumed away
    * is STILL recognized and the replayed batch still no-ops — replay
    * safety no longer depends on retention settings.
    * Driver-side metadata work, manifest-count-sized; vacuum bounds
    * the manifest count in long-running loops, and a replayed batch
    * is always among the most recent commits. */
  private[graft] def committedVersionFor(root: String, token: String)
      : Option[Int] =
    versions(root).reverse.find(v =>
      manifestMeta(root, v).get("writer").contains(token))
      .orElse(tokenLog(root).get(token))

  /** The table's default partition spec for NEW writes — the `#spec`
    * header of the latest manifest (empty = unpartitioned appends).
    * Purely a forward-looking default: readers resolve every file
    * against the spec its own commit recorded. */
  def currentSpec(root: String): Seq[String] = pin(root).spec

  /** Which columns version `v`'s stats sidecar indexes, as
    * column → kind, parsed from the manifest's `#statcol` header: a
    * comma-separated list of `name:kind` entries. Kinds in use: `long`
    * (integral), `ts` (timestamp, bounds stored as epoch-micros) and
    * `str`. EVERY consumer of the sidecar must resolve the pruned
    * column through this map — pruning against bounds that index a
    * DIFFERENT column silently drops rows, the one failure mode a
    * reader can never have. */
  private[graft] def statCols(root: String, v: Int): ListMap[String, String] =
    parseStatCols(manifestMeta(root, v).get("statcol"), s"$root v$v")

  private[sources] def parseStatCols(header: Option[String], where: String)
      : ListMap[String, String] =
    ListMap(header.toSeq.flatMap(_.split(",")).filter(_.nonEmpty).map { e =>
      e.split(":", 2) match {
        case Array(n, k) if n.nonEmpty && k.nonEmpty => n -> k
        case _ => throw new graft.QueryError(
          s"malformed #statcol entry '$e' in $where (expected name:kind)")
      }
    }: _*)

  /** Commit-unique suffix so two optimistic committers never collide
    * on a data directory (the loser's dir becomes an orphan, cleaned
    * by maintenance — never by a commit). */
  private def commitToken(): String =
    java.util.UUID.randomUUID().toString.take(8)

  /** Write `df` as one commit's data directory — the data phase of
    * every frame-fed commit, before [[writeManifest]] publishes. A
    * non-empty `spec` writes Hive-style partition directories and
    * records the spec in a `_spec.list` marker (self-describing: no
    * shared mutable metadata file to race on); non-empty `clusterBy`
    * range-partitions the frame into `nFiles` files on those columns
    * in order (first = primary clustering) so per-file bounds are
    * tight and mostly disjoint. Every directory gets the frame's
    * schema as a `_schema.ddl` marker, so the SQL face resolves a
    * layout group's schema without opening any data-file footer.
    * Returns the leaf parquet files, sorted. */
  private[graft] def writeData(df: DataFrame, root: String, v: Int,
      spec: Seq[String] = Seq.empty, clusterBy: Seq[String] = Seq.empty,
      nFiles: Int = 8): Seq[String] = {
    val dir = new File(new File(root, "data"), s"c$v-${commitToken()}")
    val clustered =
      if (clusterBy.isEmpty) df
      else df.repartitionByRange(nFiles, clusterBy.map(col): _*)
    if (spec.isEmpty) clustered.write.parquet(dir.getPath)
    else {
      clustered.write.partitionBy(spec: _*).parquet(dir.getPath)
      Files.write(new File(dir, "_spec.list").toPath,
        spec.mkString("\n").getBytes(StandardCharsets.UTF_8))
    }
    writeSchemaMarker(dir, df.schema)
    leafParquet(dir)
  }

  private def writeSchemaMarker(dir: File, schema: StructType): Unit =
    Files.write(new File(dir, "_schema.ddl").toPath,
      schema.toDDL.getBytes(StandardCharsets.UTF_8))

  private def leafParquet(dir: File): Seq[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    def rec(f: File): Unit =
      if (f.isDirectory) f.listFiles().foreach(rec)
      else if (f.getName.endsWith(".parquet")) buf += f.getPath
    rec(dir)
    buf.toSeq.sorted
  }

  // ---- the commit core ----

  /** Version `v` of the table from ONE manifest read: number, file
    * list and headers ([[SnapshotRead]]'s unit of planning). */
  private[sources] def snapshotAt(root: String, v: Int): Snapshot = {
    val (header, files) = manifestLines(root, v).partition(_.startsWith("#"))
    Snapshot(root, v, files, headerMap(header))
  }

  /** The version a commit builds on, pinned ONCE (version 0 = no
    * table yet: no files, no headers). */
  private def pin(root: String): Snapshot = {
    val v = latestVersion(root)
    if (v == 0) Snapshot(root, 0, Seq.empty, Map.empty) else snapshotAt(root, v)
  }

  /** A commit's fresh files: a frame the core writes through
    * [[writeData]] (optionally partitioned and/or range-clustered), or
    * files a distributed writer already staged under `<root>/data`
    * (the streaming sink, the row-level rewrite) with their schema,
    * which the core writes as their directories' `_schema.ddl`. */
  private sealed trait Fresh
  private final case class Frame(df: DataFrame, spec: Seq[String] = Seq.empty,
      clusterBy: Seq[String] = Seq.empty, nFiles: Int = 8) extends Fresh
  private final case class Staged(files: Seq[String], schema: StructType)
    extends Fresh
  private val NoFiles = Staged(Seq.empty, new StructType())

  /** What a commit writes as `#schema` — the table schema PINNED in
    * manifest metadata so the SQL face's `loadTable` never infers it
    * from data-file footers (plan-time IO proportional to the table at
    * 100 TB file counts). */
  private sealed trait SchemaHeader
  /** Metadata-only and rewrite commits: the base's header, unchanged. */
  private case object KeepSchema extends SchemaHeader
  /** Partitioned writes pin nothing: their per-commit `_schema.ddl`
    * markers are the schema source. */
  private case object NoSchema extends SchemaHeader
  /** Replace-shaped commits: the table IS the new data. */
  private final case class PinSchema(s: StructType) extends SchemaHeader
  /** Append-shaped commits: the base's pinned schema widened by the
    * incoming one through [[graft.util.SchemaMerge]]. A base that pins
    * no schema stays header-less — its commits' `_schema.ddl` markers
    * describe its files — and so does an un-mergeable
    * evolution (a column changing to an incompatible type): readers
    * resolve the markers ([[SnapshotRead.Snapshot.readSchema]]), never
    * a wrong pinned schema. */
  private final case class MergeSchema(s: StructType) extends SchemaHeader

  /** One commit's effect on its base: the base files it keeps, the
    * fresh files it adds, and its header changes. `spec`/`statCols`
    * of None carry the base's header (the carry rule). */
  private final case class Change(keep: Seq[String], fresh: Fresh,
      schema: SchemaHeader, spec: Option[Seq[String]] = None,
      statCols: Option[Seq[(String, String)]] = None)

  /** THE commit path. In order:
    *  1. the writer-token replay check: a token already committed
    *     returns its version and writes nothing (exactly-once under
    *     Structured Streaming's at-least-once re-delivery);
    *  2. pin the base (one manifest read); `expectedBase` refuses with
    *     the retryable [[CommitConflictException]] when the head moved
    *     past a base the caller computed its change against;
    *  3. `plan` turns the base into a [[Change]], or None for a no-op
    *     (the base version is returned);
    *  4. data phase: write the frame (or take the staged files) and,
    *     when the new version keeps a `#statcol` index, compute the
    *     fresh files' bounds in one bounded aggregate — append-time
    *     index maintenance, so no write dilutes the skipping index;
    *  5. publish version base+1 through the CAS [[writeManifest]] — a
    *     concurrent commit since step 2 makes it throw, never lose a
    *     commit;
    *  6. write the stats sidecar: the base's lines for kept files plus
    *     the fresh lines.
    * A crash before 5 leaves only orphaned data (swept by
    * [[expireVersions]]); a crash between 5 and 6 leaves a version
    * whose files have no bounds, which readers keep conservatively. */
  private def commit(root: String, writerToken: Option[String] = None,
      expectedBase: Option[Int] = None)(plan: Snapshot => Option[Change]): Int =
    writerToken.flatMap(committedVersionFor(root, _)).getOrElse {
      val base = pin(root)
      if (expectedBase.exists(_ != base.version))
        throw new CommitConflictException(root, base.version + 1)
      plan(base).fold(base.version) { c =>
        val v = base.version + 1
        val statCols = c.statCols.getOrElse(base.statCols.toSeq)
        // a partitioned write records no bounds: range reads keep its
        // files conservatively and its directories prune instead
        val (fresh, indexable, spark) = c.fresh match {
          case Frame(df, spec, clusterBy, nFiles) =>
            (writeData(df, root, v, spec, clusterBy, nFiles),
              if (spec.isEmpty) df.schema else new StructType(),
              () => df.sparkSession)
          case Staged(files, schema) =>
            EvolvedTable.commitDirs(root, files)
              .foreach(d => writeSchemaMarker(d._1, schema))
            (files, schema, () => SparkSession.active)
        }
        val freshLines = statsForFiles(spark(),
          Snapshot(root, v, fresh, Map("schema" -> indexable.toDDL)),
          usableKinds(indexable, statCols))
        val schemaDdl = c.schema match {
          case KeepSchema => base.meta.get("schema")
          case NoSchema => None
          case PinSchema(s) => Some(s.toDDL)
          case MergeSchema(s) =>
            if (base.version == 0) Some(s.toDDL)
            else base.schema.flatMap { pinned =>
              try Some(graft.util.SchemaMerge.merge(pinned, s).toDDL)
              catch { case _: graft.QueryError => None }
            }
        }
        val spec = c.spec.getOrElse(base.spec).mkString(",")
        val statcol = statCols.map { case (n, k) => s"$n:$k" }.mkString(",")
        val meta = Seq("schema" -> schemaDdl,
          "spec" -> Some(spec).filter(_.nonEmpty),
          "statcol" -> Some(statcol).filter(_.nonEmpty),
          "writer" -> writerToken)
          .collect { case (k, Some(value)) => k -> value }.toMap
        writeManifest(root, v, c.keep ++ fresh, meta)
        val kept = c.keep.toSet
        val lines = statsLinesAt(root, base.version)
          .filter(l => kept(l.path)) ++ freshLines
        if (lines.nonEmpty) writeStatsLines(root, v, lines)
        v
      }
    }

  /** The `#statcol` entries files of `schema` can honestly produce
    * bounds for: the column must exist AND derive the SAME kind the
    * header records — bounds in a different domain would prune
    * wrongly. Indexed columns a write lacks simply get no lines —
    * conservative, never wrong. */
  private def usableKinds(schema: StructType,
      kinds: Seq[(String, String)]): Seq[(String, String)] =
    kinds.filter { case (c, k) =>
      schema.fieldNames.contains(c) &&
        (try kindOfType(schema(c).dataType) == k
         catch { case _: graft.QueryError => false })
    }

  // ---- commit faces: each a caller of the core ----

  /** Append commit: the new version sees every previous file plus the
    * incoming frame's files. Returns the new version number.
    *
    * `writerToken` is the streaming-replay idempotence key (use
    * `"<queryName>:<batchId>"` from a foreachBatch body): when the
    * token was already committed, the frame was committed by a
    * previous delivery of the same micro-batch and this call returns
    * that version WITHOUT writing.
    *
    * A non-empty `spec` writes THIS commit's files under that
    * partition spec — the layout knob a long-lived table re-tunes as
    * it grows (month-only early, then (month, underlying) once a
    * month's volume outgrows one prune unit). Earlier commits keep
    * their own layout — Iceberg's partition-spec evolution, where old
    * files are NEVER rewritten to the new spec. The manifest lists the
    * leaf parquet files as usual, so every other store operation
    * (expire, tags, diff, stats carry) works unchanged. A partitioned
    * append pins no `#schema`.
    *
    * On an indexed store the fresh files' typed bounds are recorded
    * in the same commit (see [[commit]]); Iceberg records per-file
    * bounds on EVERY write for the same reason. */
  def commitAppend(df: DataFrame, root: String,
      writerToken: Option[String] = None,
      spec: Seq[String] = Seq.empty): Int =
    commit(root, writerToken) { b =>
      Some(Change(b.files, Frame(df, spec),
        if (spec.isEmpty) MergeSchema(df.schema) else NoSchema))
    }

  /** Replace commit (full rewrite / compaction / `INSERT OVERWRITE`):
    * the new version sees ONLY the incoming frame's files, written
    * under `spec` when non-empty; older versions keep reading the
    * files they always listed. Table metadata (`#spec`, `#statcol`)
    * carries. Returns the new version number. `writerToken` as in
    * [[commitAppend]]. */
  def commitReplace(df: DataFrame, root: String,
      writerToken: Option[String] = None,
      spec: Seq[String] = Seq.empty): Int =
    commit(root, writerToken) { _ =>
      Some(Change(Seq.empty, Frame(df, spec),
        if (spec.isEmpty) PinSchema(df.schema) else NoSchema))
    }

  /** Create an EMPTY versioned table: version 1 lists no files and
    * pins the schema in the `#schema` header — the commit CREATE
    * TABLE (SQL or Scala) publishes before any data arrives, so
    * readers and the catalog resolve the table immediately and the
    * first INSERT is an ordinary append commit. A non-empty `spec`
    * records the DEFAULT partition spec for future writes (`CREATE
    * TABLE ... PARTITIONED BY`); it must name schema columns. */
  def createEmpty(root: String, schema: StructType,
      spec: Seq[String] = Seq.empty): Int =
    commit(root) { b =>
      require(b.version == 0, s"table already exists under $root")
      requireColumns(schema, spec)
      Some(Change(Seq.empty, NoFiles, PinSchema(schema), spec = Some(spec)))
    }

  private def requireColumns(schema: StructType, spec: Seq[String]): Unit =
    spec.find(c => !schema.fieldNames.contains(c)).foreach(c =>
      throw new graft.QueryError(
        s"partition column $c is not in the table schema"))

  /** Append commit over files a DISTRIBUTED WRITER already staged
    * under `<root>/data` — the driver half of the streaming sink
    * ([[SnapshotStreaming]]): tasks write their parquet files first
    * (never colliding — task-attempt-unique names), this publishes
    * the manifest listing them. A replayed epoch whose token is
    * already committed no-ops and its re-staged files become ordinary
    * orphans (swept by maintenance, like CAS losers). */
  private[graft] def commitStagedAppend(root: String,
      staged: Seq[String], schema: StructType,
      writerToken: Option[String]): Int =
    commit(root, writerToken) { b =>
      Some(Change(b.files, Staged(staged, schema), MergeSchema(schema)))
    }

  /** Replace commit over staged files — the streaming sink's
    * COMPLETE-mode epoch and the row-level rewrites' publish.
    *
    * `expectedPrev` is the optimistic-concurrency guard for callers
    * whose replacement was COMPUTED against a pinned base (the
    * row-level scan): when another commit landed in between, this
    * replace would erase its rows — refuse with the retryable
    * [[CommitConflictException]] instead of silently winning. The
    * streaming complete-mode caller passes None (its epochs replace
    * serially from one writer — the MV pattern). */
  private[graft] def commitStagedReplace(root: String,
      staged: Seq[String], schema: StructType,
      writerToken: Option[String],
      expectedPrev: Option[Int] = None): Int =
    commit(root, writerToken, expectedPrev) { _ =>
      Some(Change(Seq.empty, Staged(staged, schema), PinSchema(schema)))
    }

  /** Evolve the table's DEFAULT partition spec — a METADATA-ONLY
    * commit: the new version lists the same files, every committed
    * layout stays exactly as written (spec-per-commit is the whole
    * point — nothing rewrites), and only writes AFTER this commit
    * land under the new spec. Empty `spec` = future writes are
    * unpartitioned. A typo'd column refuses HERE when the table pins
    * its schema, not at the next insert's partitionBy. */
  def setSpec(root: String, spec: Seq[String]): Int =
    commit(root) { b =>
      b.requireTable()
      b.schema.foreach(requireColumns(_, spec))
      Some(Change(b.files, NoFiles, KeepSchema, spec = Some(spec)))
    }

  /** `ALTER TABLE ADD COLUMN` — a METADATA-ONLY commit: the new
    * version lists the SAME files as its predecessor and widens the
    * pinned `#schema` header through the same [[graft.util.SchemaMerge]]
    * appends use, so existing files read the added column as NULL (the
    * merge marks it nullable) and the next INSERT may populate it.
    * Zero data IO at any table size — additive DDL on a 100 TB table
    * is a manifest write. Refuses loudly when the column already
    * exists, and on a store that pins no `#schema` (its commits'
    * markers may disagree on a column's type — publish one
    * replace-shaped commit first). Returns the new version. */
  def addColumns(root: String, cols: Seq[StructField]): Int = {
    require(cols.nonEmpty, "ADD COLUMN needs at least one column")
    commit(root) { b =>
      b.requireTable()
      val pinned = b.schema.getOrElse(throw new graft.QueryError(
        s"cannot ADD COLUMN under $root: version ${b.version} pins no " +
          "#schema header — publish one replace-shaped commit first"))
      cols.find(c => pinned.fieldNames.contains(c.name)).foreach(c =>
        throw new graft.QueryError(
          s"cannot ADD COLUMN ${c.name}: it already exists in $root"))
      Some(Change(b.files, NoFiles, PinSchema(graft.util.SchemaMerge.merge(
        pinned, StructType(cols.map(_.copy(nullable = true)))))))
    }
  }

  /** Snapshot read at a version (defaults to latest) — the planner's
    * unfiltered scan. */
  def read(spark: SparkSession, root: String,
      version: Option[Int] = None): DataFrame =
    SnapshotRead.plan(spark, root, version).df

  // ---- time travel by timestamp (AS OF) ----

  /** A manifest's publication instant: the `#ts` header the commit
    * wrote into the manifest CONTENT (durable — survives
    * backup/restore, `cp -r`, coarse-mtime filesystems). Every commit
    * stamps it, so a manifest without one is corrupt and refuses
    * loudly. */
  private def publishedAt(root: String, v: Int): Long =
    manifestMeta(root, v).getOrElse("ts", throw new graft.QueryError(
      s"manifest v$v under $root carries no #ts header")).toLong

  /** Version visible at `tsMillis`: the HIGHEST version whose
    * manifest was published at or before that instant (publication
    * time = the `#ts` instant the commit stamped into the manifest at
    * its serialization point). Ties (same-millisecond publications)
    * resolve to the later version, matching "the state a reader at
    * that wall-clock instant would have seen". Throws the typed
    * [[graft.QueryError]] when the table did not exist yet. */
  def versionAsOf(root: String, tsMillis: Long): Int = {
    val vs = versions(root).filter(publishedAt(root, _) <= tsMillis)
    if (vs.isEmpty)
      throw new graft.QueryError(
        s"no snapshot of $root existed at epoch-ms $tsMillis")
    vs.max
  }

  /** Test/maintenance hook: pin a manifest's publication instant so
    * time-travel reads are deterministic under test (two commits can
    * otherwise land in the same millisecond). Rewrites the `#ts`
    * header IN the manifest content — the instant versionAsOf
    * resolves from — via tmp + atomic replace (a maintenance
    * overwrite of an already-published manifest, not a commit race,
    * so ATOMIC_MOVE is correct here). */
  private[graft] def stampManifest(root: String, v: Int,
      tsMillis: Long): Unit = {
    val meta = manifestMeta(root, v) + ("ts" -> tsMillis.toString)
    val header = meta.toSeq.sortBy(_._1)
      .map { case (k, value) => s"#$k\t$value" }
    val tmp = Paths.get(manifestDir(root).getPath,
      s".v$v.list.stamp-${commitToken()}")
    Files.write(tmp, (header ++ filesAt(root, v))
      .mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestFile(root, v).toPath,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Incremental small-file compaction — the real-world OPTIMIZE:
    * data files below `minBytes` are read, merged into `targetFiles`
    * fresh files, and the new manifest lists the merged output PLUS
    * the untouched large files, carried over by path (NOT rewritten —
    * at 100 TB, re-copying the healthy gigabyte files is exactly the
    * cost incremental compaction exists to avoid). Nothing is
    * deleted, so every older version (and every tag) keeps reading
    * its original files. A compaction rewrites bytes, not the table:
    * the pinned schema carries, stats lines survive for carried-over
    * files, and on an indexed store the MERGED files are re-indexed in
    * the same commit. No-op (returns the current version) when nothing
    * is small enough. Returns (version, nSmallMerged, nCarried). */
  def compactSmall(spark: SparkSession, root: String, minBytes: Long,
      targetFiles: Int = 1): (Int, Int, Int) = {
    var counts = (0, 0)
    val v = commit(root) { b =>
      b.requireTable()
      val (small, big) =
        b.files.partition(f => new File(f).length() < minBytes)
      counts = (small.size, big.size)
      // the planner's layout-aware scan: a small file under an evolved
      // layout carries column VALUES in its directory names, which the
      // merged files then store as ordinary (string) data — the evolved
      // union surfaces them identically
      if (small.isEmpty) None
      else Some(Change(big, Frame(b.scan(spark, small).coalesce(targetFiles)),
        KeepSchema))
    }
    (v, counts._1, counts._2)
  }

  /** Copy-on-write row-level DELETE — the takedown / right-to-be-
    * forgotten commit a real training-data store hits first. Only
    * files that actually CONTAIN matching rows are rewritten; every
    * other file is carried into the new manifest BY PATH (at 100 TB,
    * rewriting healthy files for a targeted delete is the whole cost
    * this exists to avoid). Old versions keep listing the original
    * files, so pre-delete snapshots still read the deleted rows —
    * time travel is unchanged; a GDPR-grade physical purge is the
    * separate maintenance step that expires old manifests and
    * orphaned files.
    *
    * Candidate pruning is two-layered: `pruneRange` — a
    * (column, lo, hi) triple the caller's predicate must IMPLY —
    * resolves against the v<N>.stats sidecar first (through the
    * `#statcol` column-identity map: a range on a non-indexed column
    * prunes nothing rather than prune by another column's bounds,
    * which would leave matching rows ALIVE in wrongly-skipped files —
    * a silent retention/GDPR failure) — driver-side, file-count-sized,
    * no IO — then ONE distributed probe pass finds
    * which surviving candidates really hold matching rows
    * (`input_file_name` distinct — output bounded by file count, not
    * row count). Rewritten survivors = `NOT coalesce(pred, false)`:
    * SQL DELETE semantics remove only rows where the predicate is
    * TRUE — null-predicate rows are kept, which a bare `!pred` filter
    * would silently drop. Stats lines are carried for untouched
    * files; on an indexed store the rewritten files are re-indexed in
    * the same commit.
    *
    * Returns (newVersion, nRewritten, nCarried); no-op (current
    * version, 0, fileCount) when nothing matches. */
  def deleteRows(spark: SparkSession, root: String, predicate: Column,
      pruneRange: Option[(String, Long, Long)] = None): (Int, Int, Int) = {
    var counts = (0, 0)
    val v = commit(root) { b =>
      b.requireTable()
      val candidates = pruneRange.fold(b.files) { case (c, lo, hi) =>
        b.prune(SnapshotRead.Bounds().atLeast(c, lo).atMost(c, hi))._1
      }
      // the planner's layout-aware scan throughout: files under an
      // evolved layout keep their directory-encoded column values
      // through both the probe and the rewrite (a flat read would drop
      // them from the rewritten rows — silent data loss), and a
      // predicate over a partition column resolves instead of failing
      val hit: Set[String] =
        if (candidates.isEmpty) Set.empty
        else b.scan(spark, candidates)
          .filter(predicate)
          .select(input_file_name().as("f")).distinct()
          .collect()
          .map(r => new java.net.URI(r.getString(0)).getPath).toSet
      val keep = b.files.filterNot(hit)
      counts = (hit.size, keep.size)
      if (hit.isEmpty) None
      else Some(Change(keep, Frame(
        b.scan(spark, hit.toSeq.sorted)
          .filter(not(coalesce(predicate, lit(false))))),
        KeepSchema))
    }
    (v, counts._1, counts._2)
  }

  /** MERGE INTO — the lakehouse upsert commit that closes the write
    * surface (append / replace / delete / compact / merge). Reads the
    * snapshot at the base version the core pinned, applies an SCD1
    * latest-wins changelog via [[graft.operators.CdcMerge]] ('U'
    * upserts, 'D' deletes, untouched rows carry), and publishes the
    * merged state as a replace-commit: the target version is pinned
    * BEFORE the (slow) distributed write, so a concurrent commit that
    * lands in between makes the manifest link fail with
    * [[CommitConflictException]] — exactly right, because this merge
    * was computed against a base that is no longer the head (a
    * lost-update otherwise). Retry = re-read, re-merge, re-commit.
    * Pre-merge versions keep reading the old rows.
    *
    * Contract: the stored table's schema is (`keyCol`, val, us) — the
    * shape [[graft.operators.CdcMerge.merge]] applies changes to;
    * `changes` is a raw changelog with (`keyCol`, `opCol`, `valCol`,
    * `usCol`, `idCol`), collapsed latest-wins per key before the
    * apply. Returns the new version. For a store of ANY schema use
    * [[commitMergeRows]]; this single-value variant predates it and
    * stays for the CdcMerge-status-label path (s29). */
  def commitMerge(spark: SparkSession, root: String, changes: DataFrame,
      keyCol: String, opCol: String, valCol: String, usCol: String,
      idCol: String, writerToken: Option[String] = None): Int =
    commit(root, writerToken) { b =>
      b.requireTable()
      val base = b.scan(spark).select(col(keyCol), col("val"), col("us"))
      val latest = graft.operators.CdcMerge.latestState(
        changes, keyCol, opCol, valCol, usCol, idCol)
      val merged = graft.operators.CdcMerge.merge(base, latest, keyCol)
        .select(col(keyCol), col("val"), col("last_us").as("us"))
      Some(Change(Seq.empty, Frame(merged), PinSchema(merged.schema)))
    }

  /** MERGE INTO for a snapshotted table of ARBITRARY schema — the
    * general upsert [[commitMerge]]'s blessed (key, val, us) triple
    * can't express: the reference's ReplacingMergeTree story (late
    * trade corrections upserted by trade_id) completed at the
    * lakehouse layer. `changes` carries the FULL target schema plus
    * `opCol` ('U' upsert-whole-row / 'D' delete) and the
    * (`seqCol`, `idCol`) ordering pair; per key the latest change
    * wins (ONE `max_by` hash aggregate — never a window sort), then
    * the apply is MERGE INTO semantics: matched+D deletes,
    * matched+U replaces the whole row, unmatched+U inserts.
    *
    * Scale shape: the collapse shuffles only the changelog (small);
    * the apply is ONE equi-keyed anti-join of base against the
    * collapsed keys (broadcast when the changelog is small — the
    * typical late-correction batch — so the 100 TB base never
    * shuffles) plus a union with the upserts. Same CAS discipline as
    * [[commitMerge]]. Pre-merge versions keep reading the original
    * files. */
  def commitMergeRows(spark: SparkSession, root: String,
      changes: DataFrame, keyCol: String, opCol: String, seqCol: String,
      idCol: String, writerToken: Option[String] = None): Int =
    commit(root, writerToken) { b =>
      b.requireTable()
      // evolved-safe: directory-encoded columns surface (as strings)
      // and ride into the merged replace-commit as data columns
      val base = b.scan(spark)
      val cols = base.columns.toSeq
      require(cols.contains(keyCol), s"key column $keyCol not in table")
      val payload = cols.filterNot(_ == keyCol) :+ opCol
      val latest = changes
        .groupBy(col(keyCol))
        .agg(max_by(struct(payload.map(col): _*),
          struct(col(seqCol), col(idCol))).as("__mr"))
        .select(col(keyCol) +: payload.map(c => col(s"__mr.$c").as(c)): _*)
      val upserts = latest.filter(col(opCol) === "U")
        .select(cols.map(col): _*)
      val merged = base
        .join(latest.select(col(keyCol)), Seq(keyCol), "left_anti")
        .unionByName(upserts)
        .select(cols.map(col): _*)
      Some(Change(Seq.empty, Frame(merged), PinSchema(merged.schema)))
    }

  /** All committed version numbers, ascending (empty when none). */
  def versions(root: String): Seq[Int] = {
    val d = manifestDir(root)
    if (!d.isDirectory) Seq.empty
    else d.listFiles().map(_.getName)
      .collect { case s if s.matches("v\\d+\\.list") =>
        s.stripPrefix("v").stripSuffix(".list").toInt }
      .toSeq.sorted
  }

  /** What [[expireVersions]] did: which versions were expired /
    * survive, and how many orphaned data files (and bytes) were
    * physically deleted. */
  final case class ExpireResult(expired: Seq[Int], survivors: Seq[Int],
      deletedFiles: Int, deletedBytes: Long)

  /** Default orphan grace: 6 hours — comfortably above any realistic
    * in-flight commit, matching Iceberg's remove-orphan-files stance
    * that the DEFAULT must be safe on a live table. Pass 0 explicitly
    * only for a quiesced table (tests, single-writer maintenance
    * windows). */
  val DefaultOrphanGraceMs: Long = 6L * 3600 * 1000

  /** Snapshot retention — the VACUUM / expire-snapshots maintenance
    * step [[deleteRows]]' contract defers to. Without it a 100 TB
    * store grows without bound and takedown-deleted rows remain
    * readable through old versions forever, defeating the delete.
    *
    *  - keeps the `keepLast` most recent versions (≥ 1 — the head is
    *    never expirable) plus every TAGGED version, matching the tag
    *    contract: tags pin manifests regardless of age;
    *  - expired versions lose their manifest and their stats/Bloom
    *    sidecars, so a
    *    later `read(root, Some(v))` fails loudly ("no manifest for
    *    version v") instead of returning silently-wrong data;
    *  - data files referenced by NO surviving manifest are physically
    *    deleted — the GDPR-grade purge. `orphanGraceMs` is the
    *    Iceberg remove-orphan-files age guard: an optimistic
    *    committer writes data files FIRST and publishes its manifest
    *    LAST, so an unreferenced-but-young file may be an in-flight
    *    commit, not garbage. The default is a conservative
    *    [[DefaultOrphanGraceMs]]; 0 purges everything unreferenced
    *    and must be passed EXPLICITLY, only when no commit is
    *    concurrent with the vacuum.
    *
    * The referenced-file set is RE-LISTED from the live manifests
    * immediately before the physical delete loop: a commit that
    * publishes its manifest at any point before the sweep protects
    * its files regardless of grace, shrinking the race window from
    * "whole vacuum duration" to the instant between the re-list and
    * each delete. Grace remains the only guard for a commit still
    * between its data write and its manifest publish at sweep time —
    * the same residual window Iceberg accepts.
    *
    * Driver-side metadata work is manifest-count × file-count sized
    * (KBs); the deletes are per-file filesystem calls — on a real
    * object store these fan out to a distributed delete, the listing
    * stays metadata. Loser-commit orphan directories (CAS losers)
    * are swept by the same unreferenced-file rule, and the husk
    * cleanup (marker files, emptied directories) honors the same
    * age cutoff so a just-created output directory of an in-flight
    * commit is never yanked from under it. */
  def expireVersions(root: String, keepLast: Int,
      orphanGraceMs: Long = DefaultOrphanGraceMs): ExpireResult =
    expireVersionsImpl(root, keepLast, orphanGraceMs, () => ())

  /** [[expireVersions]] with a test seam: `beforeSweep` runs between
    * manifest expiry and the physical sweep, where a concurrent
    * commit is hardest to protect — Round15Spec commits there and
    * proves the re-list keeps its files under a 0-grace vacuum. */
  private[graft] def expireVersionsImpl(root: String, keepLast: Int,
      orphanGraceMs: Long, beforeSweep: () => Unit): ExpireResult = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val all = versions(root)
    if (all.isEmpty) return ExpireResult(Nil, Nil, 0, 0L)
    val tagged = tags(root).values.toSet
    val survive = (all.takeRight(keepLast).toSet ++
      all.filter(tagged)).toSeq.sorted
    val expired = all.filterNot(survive.toSet)
    expired.foreach { v =>
      Files.deleteIfExists(manifestFile(root, v).toPath)
      Files.deleteIfExists(statsFile(root, v).toPath)
      // every per-column bloom sidecar of the dead version — without
      // this, v<N>.bloom.<col> files accumulate in _manifests forever
      // on long-running tables (they are version-keyed metadata, dead
      // the instant their manifest is)
      Option(manifestDir(root).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(s"v$v.bloom."))
        .foreach(f => Files.deleteIfExists(f.toPath))
    }
    beforeSweep()
    // physical purge: every data file no LIVE manifest lists, old
    // enough to provably not belong to an in-flight commit. The
    // manifest list is re-read HERE — not reused from the expiry
    // phase — so any manifest published since then (a concurrent
    // commit) pins its files without depending on grace.
    val referenced = versions(root).flatMap(filesAt(root, _)).toSet
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    var nDel = 0
    var bytes = 0L
    val dataDir = new File(root, "data")
    def sweep(f: File): Unit =
      if (f.isDirectory) {
        f.listFiles().foreach(sweep)
        // a dir left with no data files is an empty husk (markers
        // like _SUCCESS/.crc included) — remove it with its residue,
        // but only once BOTH the residue and the directory itself
        // clear the age cutoff: a fresh marker-only directory is an
        // in-flight write's output, not garbage
        val left = f.listFiles()
        if (left.forall(c => !c.isDirectory &&
            !c.getName.endsWith(".parquet") &&
            c.lastModified() <= cutoff) &&
            f.lastModified() <= cutoff) {
          left.foreach(c => Files.deleteIfExists(c.toPath))
          if (f.listFiles().isEmpty) Files.deleteIfExists(f.toPath)
        }
      } else if (f.getName.endsWith(".parquet") &&
          !referenced(f.getPath) && f.lastModified() <= cutoff) {
        bytes += f.length()
        nDel += 1
        Files.deleteIfExists(f.toPath)
      }
    if (dataDir.isDirectory) dataDir.listFiles().foreach(sweep)
    ExpireResult(expired, survive, nDel, bytes)
  }

  // ---- named tags over versions ----

  private def tagsFile(root: String) = new File(manifestDir(root), "tags.list")

  /** All tags: name → version. */
  def tags(root: String): Map[String, Int] = {
    val f = tagsFile(root)
    if (!f.isFile) Map.empty
    else new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
      .map { l => val Array(n, v) = l.split("\t"); n -> v.toInt }
      .toMap
  }

  /** Tag a version (default: latest) with a stable name — the
    * Iceberg/Delta "tag" primitive: tags pin manifests and manifests
    * pin files, so a tagged snapshot stays byte-identical through any
    * later commit INCLUDING compaction (replace commits never delete
    * data files). Re-tagging a name moves it (latest write wins);
    * the tag file is rewritten via tmp + atomic rename like the
    * manifests. Returns the tagged version. */
  def tag(root: String, name: String, version: Option[Int] = None): Int = {
    require(name.nonEmpty && !name.contains("\t") && !name.contains("\n"),
      s"bad tag name: '$name'")
    val v = version.getOrElse(latestVersion(root))
    require(manifestFile(root, v).isFile, s"no manifest for version $v")
    val all = tags(root) + (name -> v)
    val tmp = Paths.get(manifestDir(root).getPath, ".tags.list.tmp")
    Files.write(tmp,
      all.toSeq.sortBy(_._1).map { case (n, tv) => s"$n\t$tv" }
        .mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, tagsFile(root).toPath, StandardCopyOption.ATOMIC_MOVE)
    v
  }

  // ---- per-file min/max stats: manifest-level data skipping ----

  private def statsFile(root: String, v: Int) =
    new File(manifestDir(root), s"v$v.stats")

  /** One typed stats line: per (file, column) min/max. `kind` is the
    * value domain — `long` (integral, decimal render), `ts`
    * (timestamp, epoch-MICROS render — the engine-neutral instant),
    * `str` (string, base64 of the UTF-8 bytes so tabs/newlines in
    * data can never corrupt the sidecar). `mn`/`mx` hold the ENCODED
    * form. */
  private[sources] final case class ColStats(path: String, col: String,
      kind: String, mn: String, mx: String)

  /** All stats lines at version `v` (`path col kind min max`, tab-
    * separated). Files committed without stats simply have no line
    * (and are never skipped); a line of any other shape is a corrupt
    * sidecar and refuses loudly. */
  private[graft] def statsLinesAt(root: String, v: Int): Seq[ColStats] = {
    val f = statsFile(root, v)
    if (!f.isFile) Seq.empty
    else new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
      .map { line =>
        line.split("\t") match {
          case Array(p, c, k, mn, mx) => ColStats(p, c, k, mn, mx)
          case _ => throw new graft.QueryError(
            s"malformed stats line in ${f.getPath}: $line")
        }
      }
  }

  private def writeStatsLines(root: String, v: Int,
      lines: Seq[ColStats]): Unit = {
    val tmp = Paths.get(manifestDir(root).getPath, s".v$v.stats.tmp")
    Files.write(tmp,
      lines.sortBy(l => (l.path, l.col))
        .map(l => s"${l.path}\t${l.col}\t${l.kind}\t${l.mn}\t${l.mx}")
        .mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, statsFile(root, v).toPath,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Long-domain [min, max] per file for column `c` (kinds `long` and
    * `ts` — a ts bound IS its epoch-micros long). The caller must
    * have resolved `c` against [[statCols]]; lines for other columns
    * are ignored, so bounds can never be mistaken across columns. */
  private[graft] def boundsFor(root: String, v: Int, c: String)
      : Map[String, (Long, Long)] =
    statsLinesAt(root, v)
      .filter(l => l.col == c && (l.kind == "long" || l.kind == "ts"))
      .map(l => l.path -> (l.mn.toLong, l.mx.toLong)).toMap

  /** String-domain [min, max] per file for column `c` (kind `str`),
    * decoded from base64. Ordering at the USE site must be byte-wise
    * unsigned (UTF8String.compareTo) — Spark's string order. */
  private[graft] def strBoundsFor(root: String, v: Int, c: String)
      : Map[String, (String, String)] = {
    val dec = java.util.Base64.getDecoder
    def s(b: String) = new String(dec.decode(b), StandardCharsets.UTF_8)
    statsLinesAt(root, v)
      .filter(l => l.col == c && l.kind == "str")
      .map(l => l.path -> (s(l.mn), s(l.mx))).toMap
  }

  /** Append commit that also records per-file min/max of `statCol`
    * (an integral column) in a `v<N>.stats` sidecar — the
    * manifest-level data-skipping index every real table format
    * carries. Single-column spelling of [[commitAppendWithStatsMulti]],
    * kept as the common case's API. */
  def commitAppendWithStats(df: DataFrame, root: String,
      statCol: String, nFiles: Int = 8,
      writerToken: Option[String] = None): Int =
    commitAppendWithStatsMulti(df, root, Seq(statCol), nFiles, writerToken)

  /** The stats-sidecar kind for a DataFrame column, from its Spark
    * type: integral → `long`, timestamp → `ts` (bounds as
    * epoch-micros — the engine-neutral instant), string → `str`
    * (bounds base64-coded). Anything else can't be min/max-indexed
    * here — fail loudly rather than write bounds that would prune
    * wrongly. */
  private def statKinds(df: DataFrame, cols: Seq[String])
      : Seq[(String, String)] = {
    require(cols.nonEmpty, "need at least one stats column")
    cols.map { c =>
      try c -> kindOfType(df.schema(c).dataType)
      catch {
        case _: graft.QueryError => throw new graft.QueryError(
          s"stats column $c has unsupported type ${df.schema(c).dataType} " +
            "(supported: integral, timestamp, string)")
      }
    }
  }

  private def kindOfType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType => "long"
      case TimestampType => "ts"
      case StringType => "str"
      case other => throw new graft.QueryError(
        s"unsupported stats type $other")
    }
  }

  /** Append commit recording per-file typed min/max for EVERY column
    * in `statColumns` — per-column file skipping like Iceberg's
    * per-column bounds, so ONE read can prune by a time range AND a
    * second dimension at once (the reference's headline time-range
    * pruning, applied to the snapshot path, without giving up the
    * second index). The frame is range-clustered on the stat columns
    * in order (first = primary clustering) so files hold tight,
    * mostly-disjoint ranges — stats only skip when the layout
    * clusters. The `#statcol` header merges the base's entries with
    * this commit's `name:kind` list so every consumer resolves column
    * identity before pruning; the core indexes the fresh files on
    * every listed column they can honestly bound. */
  def commitAppendWithStatsMulti(df: DataFrame, root: String,
      statColumns: Seq[String], nFiles: Int = 8,
      writerToken: Option[String] = None): Int =
    commit(root, writerToken) { b =>
      Some(Change(b.files, Frame(df, clusterBy = statColumns, nFiles = nFiles),
        MergeSchema(df.schema),
        statCols = Some((b.statCols ++ statKinds(df, statColumns)).toSeq)))
    }

  /** REPLACE commit with typed stats on every requested column — the
    * re-indexing rewrite behind `CALL system.index(...)`: the whole
    * table re-clusters by the stat columns and the new version's
    * `#statcol` and sidecar index ONLY those columns over the fresh
    * files (replace semantics — old stats die with the files they
    * described; old VERSIONS keep reading their original files as
    * always). */
  def commitReplaceWithStatsMulti(df: DataFrame, root: String,
      statColumns: Seq[String], nFiles: Int = 8,
      writerToken: Option[String] = None): Int =
    commit(root, writerToken) { _ =>
      Some(Change(Seq.empty,
        Frame(df, clusterBy = statColumns, nFiles = nFiles),
        PinSchema(df.schema), statCols = Some(statKinds(df, statColumns))))
    }

  /** Typed per-file [min, max] bounds of a commit's already-written
    * `fresh` files, read under the schema the commit holds, on
    * `kinds` — the core the stats commits AND append-time index
    * maintenance share: ONE distributed aggregate whose output is
    * bounded by the file count, not the row count (a production
    * implementation reads parquet footers — the same numbers with
    * zero extra IO). All-null columns in a file get no line
    * (conservatively never skipped). No files or no kinds: no job,
    * and `spark` is never evaluated. */
  private def statsForFiles(spark: => SparkSession, fresh: Snapshot,
      kinds: Seq[(String, String)]): Seq[ColStats] = {
    if (fresh.files.isEmpty || kinds.isEmpty) return Seq.empty
    val aggs = kinds.flatMap { case (c, k) =>
      def b(agg: Column): Column = k match {
        case "long" => agg.cast("long")
        case "ts" => unix_micros(agg)
        case _ => agg
      }
      Seq(b(min(col(c))).as(s"mn_$c"), b(max(col(c))).as(s"mx_$c"))
    }
    val enc = java.util.Base64.getEncoder
    def render(r: org.apache.spark.sql.Row, k: String, f: String): String =
      if (k == "str") enc.encodeToString(
        r.getAs[String](f).getBytes(StandardCharsets.UTF_8))
      else r.getAs[Long](f).toString
    // bounded collect: one row per file
    fresh.scan(spark)
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .toSeq.flatMap { r =>
        // input_file_name is a file:// URI; manifests hold plain paths
        val p = new java.net.URI(r.getAs[String]("f")).getPath
        kinds.flatMap { case (c, k) =>
          if (r.isNullAt(r.fieldIndex(s"mn_$c"))) None // all-null file
          else Some(ColStats(p, c, k,
            render(r, k, s"mn_$c"), render(r, k, s"mx_$c")))
        }
      }
  }

  /** Row-level changelog between two versions (the Iceberg
    * `create_changelog_view` / Delta CDF-from-snapshots primitive),
    * planned from the manifests ALONE: files carried by path between
    * the versions cancel by identity and are NEVER read, so the scan
    * is delta-proportional — after an append + a copy-on-write delete
    * on a 100 TB table, the diff reads the appended and rewritten
    * files, not the table. The removed files are read through
    * `v1`'s snapshot and the added files through `v2`'s, each under
    * its version's layout and read schema, and the two sides union by
    * name: a column only one version has (an added column, a
    * partition directory) reads null on the other side. Survivor rows
    * that a rewrite copied into fresh files also sit in the dropped
    * originals, so they cancel in the signed multiset aggregate (one
    * shuffle keyed by the full row, no join) and only true
    * adds/removes surface. Emits the columns every read face returns
    * (`v2`'s, then any only `v1` has) plus `change` ∈ {added,
    * removed} and the multiplicity `n`. */
  def snapshotDiff(spark: SparkSession, root: String, v1: Int, v2: Int)
      : DataFrame = {
    import org.apache.spark.sql.functions.{abs => fabs, sum => fsum, when}
    val (from, to) = (snapshotAt(root, v1), snapshotAt(root, v2))
    val (s1, s2) = (from.files.toSet, to.files.toSet)
    val signed = to.scan(spark, to.files.filterNot(s1))
      .withColumn("__sd_w", lit(1L))
      .unionByName(from.scan(spark, from.files.filterNot(s2))
        .withColumn("__sd_w", lit(-1L)), allowMissingColumns = true)
    val cols = signed.columns.toSeq.filterNot(_ == "__sd_w").map(col)
    signed.groupBy(cols: _*)
      .agg(fsum(col("__sd_w")).as("__sd_delta"))
      .where(col("__sd_delta") =!= 0L)
      .select(cols :+
        when(col("__sd_delta") > 0, "added").otherwise("removed")
          .as("change") :+
        fabs(col("__sd_delta")).as("n"): _*)
  }
}
