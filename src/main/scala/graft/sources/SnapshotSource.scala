package graft.sources

import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The snapshot store as a STREAMING SOURCE —
  * `spark.readStream.table("graft_snap.t")` (DSv2 MICRO_BATCH_READ),
  * the change-feed face Delta calls a streaming source and Iceberg an
  * incremental read:
  *
  *  - offsets ARE version numbers: a micro-batch (v1, v2] reads
  *    exactly the files version v2's manifest lists that v1's does
  *    not — append commits stream their fresh files, file identity
  *    makes the diff driver-side metadata (no data IO to plan), and
  *    the manifests' immutability makes replay after restart
  *    deterministic (same offsets → same files);
  *  - a NON-append change in the range (a replace/compaction/delete
  *    rewrote files) refuses loudly by default — re-emitting
  *    rewritten rows would duplicate them downstream; pass
  *    `ignoreChanges=true` to accept added-files-only semantics (the
  *    Delta option, with the same caveat), e.g. when compactions are
  *    known to be reader-invisible;
  *  - `startingVersion` (default 0) picks where the initial snapshot
  *    begins: 0 streams the whole existing table as the first batch.
  *
  * Reading rides the planner's DSv2 face: each batch's file sets come
  * from the two versions' snapshots, and the added files plan through
  * the loaded version's [[SnapshotRead.Snapshot.parquetTable]] — a
  * stock ParquetScan under the table's read schema, so splits,
  * vectorization and column pruning are the batch path's. The shared
  * reader factory is built once from the pruned schema. Retention
  * note: the stream resolves `snapshotAt(start)` on replay, so
  * `expireVersions` retention must cover the checkpoint's replay
  * horizon — the same contract Delta documents for its source. */
private[graft] object SnapshotSource {

  /** Version-number offset. */
  final case class VOffset(v: Int) extends Offset {
    override def json: String = v.toString
  }

  /** Unwrap the batch delegate — plan audits that pattern-match the
    * stock ParquetScan reach through this. */
  def unwrap(scan: Scan): Scan = scan match {
    case w: WrappedScan => w.inner
    case s => s
  }

  /** The scan the catalog's builder returns: batch reads delegate to
    * the sidecar-pruned inner scan untouched; the streaming face
    * plans version-diff batches. */
  final class WrappedScan(private[sources] val inner: Scan, name: String,
      snap: SnapshotRead.Snapshot, required: Option[StructType],
      options: CaseInsensitiveStringMap) extends Scan {
    override def readSchema(): StructType = inner.readSchema()
    override def description(): String = inner.description()
    override def toBatch: Batch = inner.toBatch
    override def columnarSupportMode(): Scan.ColumnarSupportMode =
      inner.columnarSupportMode()
    override def supportedCustomMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
      inner.supportedCustomMetrics()
    override def toMicroBatchStream(checkpointLocation: String)
        : MicroBatchStream =
      new TableStream(name, snap, required.getOrElse(readSchema()), options)
  }

  private final class TableStream(name: String, snap: SnapshotRead.Snapshot,
      required: StructType, options: CaseInsensitiveStringMap)
      extends MicroBatchStream {
    private val root = snap.root
    private val ignoreChanges = options.getBoolean("ignoreChanges", false)
    private val startingVersion =
      Option(options.get("startingVersion")).map(_.toInt).getOrElse(0)

    override def initialOffset(): Offset = VOffset(startingVersion)
    override def latestOffset(): Offset =
      VOffset(SnapshotStore.latestVersion(root))
    override def deserializeOffset(json: String): Offset =
      VOffset(json.toInt)
    override def commit(end: Offset): Unit = ()
    override def stop(): Unit = ()

    /** Files version `b` lists that `a` does not — the batch's input.
      * Driver-side manifest arithmetic, file-count-sized. */
    private def filesBetween(a: Int, b: Int): Seq[String] = {
      val before =
        if (a <= 0) Set.empty[String]
        else SnapshotStore.snapshotAt(root, a).files.toSet
      val after = SnapshotStore.snapshotAt(root, b).files
      val removed = before -- after.toSet
      if (removed.nonEmpty && !ignoreChanges)
        throw new graft.QueryError(
          s"streaming read of $root: versions ${a + 1}..$b rewrote or " +
            s"removed ${removed.size} file(s) (a replace/delete/compaction" +
            ") — re-emitting rewritten rows would duplicate them; " +
            "restart from a fresh checkpoint or set ignoreChanges=true " +
            "to stream added files only")
      after.filterNot(before)
    }

    /** A stock parquet Batch over `files`, pruned to the streaming
      * query's required columns (same pruning the batch path got). */
    private def batchOver(files: Seq[String]): Batch = {
      val sb = snap.parquetTable(name, files).newScanBuilder(options)
      sb match {
        case p: org.apache.spark.sql.connector.read
            .SupportsPushDownRequiredColumns => p.pruneColumns(required)
        case _ =>
      }
      sb.build().toBatch
    }

    /** The reader factory of the batch last planned: Spark plans a
      * micro-batch's partitions before it asks for the factory. A
      * batch with no new files has no partitions, so no reader is ever
      * asked of [[NoFiles]] — and no file-less parquet table is
      * planned for it. */
    @volatile private var factory: PartitionReaderFactory = NoFiles

    override def planInputPartitions(start: Offset,
        end: Offset): Array[InputPartition] = {
      val fs = filesBetween(start.asInstanceOf[VOffset].v,
        end.asInstanceOf[VOffset].v)
      if (fs.isEmpty) { factory = NoFiles; Array.empty }
      else {
        val batch = batchOver(fs)
        factory = batch.createReaderFactory()
        batch.planInputPartitions()
      }
    }

    override def createReaderFactory(): PartitionReaderFactory = factory
  }

  private object NoFiles extends PartitionReaderFactory {
    override def createReader(p: InputPartition)
        : org.apache.spark.sql.connector.read.PartitionReader[
          org.apache.spark.sql.catalyst.InternalRow] =
      throw new IllegalStateException("a batch with no files has no partitions")
  }
}
