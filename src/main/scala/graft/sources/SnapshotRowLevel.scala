package graft.sources

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** ROW-LEVEL SQL DML for the snapshot store — `UPDATE`, `MERGE INTO`,
  * and non-translatable `DELETE`s (IN-subqueries, EXISTS), via Spark's
  * DSv2 `SupportsRowLevelOperations` in COPY_ON_WRITE group mode:
  * Spark rewrites the statement into a ReplaceData plan whose query
  * computes the rows that should exist in the affected groups
  * (unmatched rows copy through), the replacement rows stream into
  * staged parquet through [[ParquetStage]] (ordinary distributed IO,
  * no driver buffering), and the commit publishes ONE replace-shaped
  * CAS manifest.
  *
  * Granularity, v1: the affected group is the WHOLE TABLE — the
  * operation's scan reads every live file with NO filter pushdown.
  * That is a correctness requirement before it is a performance knob:
  * a pushed predicate would drop unmatched rows from the scan, and
  * ReplaceData would silently DELETE them (they'd never be copied
  * through). Iceberg's file-granular variant prunes whole FILES via
  * runtime filtering and replaces only those. The Scala
  * `commitMergeRows` / `CALL system.merge_rows` path rewrites the
  * whole table too: it commits `base left_anti changes ∪ upserts` as
  * a replace, keeping no file. The row-level face buys the full
  * MERGE INTO / UPDATE SQL grammar at that same full-rewrite cost.
  *
  * Simple equality/range DELETEs never reach this path: the optimizer
  * swaps them back to [[SnapshotDml.deleteWhere]]'s targeted
  * copy-on-write when `canDeleteWhere` accepts the predicates. */
private[graft] object SnapshotRowLevel {

  final class OpBuilder(root: String, info: RowLevelOperationInfo)
      extends RowLevelOperationBuilder {
    override def build(): RowLevelOperation = new Op(root, info.command())
  }

  private final class Op(root: String,
      cmd: RowLevelOperation.Command) extends RowLevelOperation {
    // the operation's BASE version, pinned ONCE: the scan reads it and
    // the commit demands the head still equals it — a commit that
    // landed during the rewrite makes the publish throw the retryable
    // CommitConflictException instead of silently erasing its rows
    private val baseV = SnapshotStore.latestVersion(root)

    override def command(): RowLevelOperation.Command = cmd
    override def description(): String =
      s"graft snapshot $cmd (copy-on-write, whole-table group, base v$baseV)"

    /** The group scan: every live file of the pinned base version,
      * full rows. The wrapper exposes NO pushdown mixins, so filters
      * in the ReplaceData query (a DELETE's keep-predicate) stay
      * plan-level residuals above the scan — conservative: they would
      * be semantics-preserving to push (they DEFINE the replacement
      * rows), but the full-group read keeps the contract obvious. */
    override def newScanBuilder(options: CaseInsensitiveStringMap)
        : ScanBuilder = new ScanBuilder {
      override def build(): Scan =
        SnapshotStore.snapshotAt(root, baseV)
          .parquetTable(s"graft-rowlevel $root@v$baseV")
          .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    }

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder {
        override def build(): Write = new Write {
          override def toBatch: BatchWrite =
            new ReplaceWrite(root, info.schema(), baseV)
        }
      }
  }

  /** The replacement write: staged distributed parquet, then one
    * replace commit (the group is the whole table). The stage dir
    * lives under `<root>/data` like every commit's; an aborted or
    * CAS-losing stage is ordinary orphan residue.
    *
    * Row shape: Spark's group-based rewrite plans PREPEND a
    * `__row_operation` int to every replacement row (MergeRows /
    * `Project [6 AS __row_operation, ...]`) and strip it only inside
    * `DataAndMetadataWritingSparkTask` — which engages solely for
    * operations declaring `requiredMetadataAttributes` (Iceberg's
    * `_spec_id`/`_partition`); a no-metadata operation gets the plain
    * task and the RAW rows. The writer therefore projects the
    * operation column away itself: rows one field wider than the
    * declared write schema skip field 0 (verified-by-plan shape for
    * UPDATE, MERGE, and subquery DELETE); exact-width rows pass
    * through; anything else refuses loudly. */
  private final class ReplaceWrite(root: String, schema: StructType,
      baseV: Int) extends BatchWrite {
    private val stageDir = new File(new File(root, "data"),
      s"rw-${java.util.UUID.randomUUID().toString.take(8)}")

    override def createBatchWriterFactory(info: PhysicalWriteInfo)
        : DataWriterFactory =
      new StripOpFactory(
        ParquetStage.writers(schema, ParquetStage.fixedDir(stageDir.getPath)),
        schema)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      SnapshotStore.commitStagedReplace(root, ParquetStage.stagedOf(messages),
        schema, None, expectedPrev = Some(baseV))
      ()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      ParquetStage.stagedOf(messages)
        .foreach(f => Files.deleteIfExists(new File(f).toPath))
  }

  /** Serializable factory wrapper stripping the leading
    * `__row_operation` column (see [[ReplaceWrite]]'s doc). */
  private final class StripOpFactory(inner: DataWriterFactory,
      schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long)
        : org.apache.spark.sql.connector.write.DataWriter[
          org.apache.spark.sql.catalyst.InternalRow] = {
      val w = inner.createWriter(partitionId, taskId)
      val n = schema.length
      val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
        schema, (1 to n).toIndexedSeq)
      new org.apache.spark.sql.connector.write.DataWriter[
          org.apache.spark.sql.catalyst.InternalRow] {
        override def write(row: org.apache.spark.sql.catalyst.InternalRow)
            : Unit =
          if (row.numFields == n) w.write(row)
          else if (row.numFields == n + 1) {
            proj.project(row)
            w.write(proj)
          } else throw new graft.QueryError(
            s"row-level write expected $n or ${n + 1} fields, " +
              s"got ${row.numFields}")
        override def commit(): WriterCommitMessage = w.commit()
        override def abort(): Unit = w.abort()
        override def close(): Unit = w.close()
      }
    }
  }
}
