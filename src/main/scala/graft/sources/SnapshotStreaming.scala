package graft.sources

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}

/** The NATIVE streaming sink for the snapshot store —
  * `df.writeStream.toTable("graft_snap.t")`, Spark's DSv2
  * STREAMING_WRITE protocol, with one CAS manifest commit per epoch:
  *
  *  - tasks stream rows straight into task-attempt-unique parquet
  *    files under an epoch staging directory (`data/st<qid>-e<N>/`)
  *    through Spark's OWN parquet `OutputWriter` — the bytes on disk
  *    are identical to a batch write's, and rows never buffer on the
  *    driver;
  *  - the driver's `commit(epochId, messages)` publishes ONE append
  *    manifest listing exactly the staged files (the commit core adds
  *    the per-commit `_schema.ddl` marker), stamped with
  *    the writer token `toTable:<queryId>:<epochId>`;
  *  - exactly-once falls out of the token: Structured Streaming
  *    re-delivers the last epoch after a crash with the SAME queryId
  *    (persisted in checkpoint metadata) and epochId, so the replayed
  *    commit finds its token in a live manifest or the durable token
  *    log and NO-OPs — the re-staged files become ordinary orphans,
  *    swept by maintenance exactly like CAS losers;
  *  - `outputMode("complete")` maps to a per-epoch REPLACE commit —
  *    the incremental-MV refresh shape — under the same token guard.
  *
  * Caller note: register the `spark.sql.catalog.<name>` confs on the
  * session that is THREAD-ACTIVE when `toTable` is called (not only
  * on the stream's own session) — Spark's CatalogManager resolves
  * catalog names through `SQLConf.get` (the active session's conf),
  * and `DataStreamWriter.toTable` runs its existence check outside
  * any withActive wrapper; an unresolvable catalog there silently
  * falls back to a CREATE that then collides with the existing table.
  *
  * Scale shape: executor work is ordinary distributed parquet IO;
  * driver work per epoch is one manifest write (file-count-sized) and
  * — on an indexed store — one bounded stats aggregate, so the sink
  * inherits the append-time index-maintenance contract: range pruning
  * stays fresh under continuous ingest. */
private[graft] object SnapshotStreaming {


  final class Sink(root: String, info: LogicalWriteInfo,
      overwrite: Boolean) extends StreamingWrite {
    private val schema = info.schema()
    private val qid = info.queryId()

    override def createStreamingWriterFactory(pInfo: PhysicalWriteInfo)
        : StreamingDataWriterFactory =
      ParquetStage.writers(schema, ParquetStage.epochDir(
        new File(root, "data").getPath, s"st${qid.take(8)}"))

    override def commit(epochId: Long,
        messages: Array[WriterCommitMessage]): Unit = {
      val staged = ParquetStage.stagedOf(messages)
      val token = Some(s"toTable:$qid:$epochId")
      if (overwrite) {
        // complete mode: this epoch's result IS the table
        SnapshotStore.commitStagedReplace(root, staged, schema, token)
        ()
      } else if (staged.nonEmpty) {
        SnapshotStore.commitStagedAppend(root, staged, schema, token)
        ()
      } // an empty append epoch publishes nothing — no version churn
    }

    override def abort(epochId: Long,
        messages: Array[WriterCommitMessage]): Unit =
      ParquetStage.stagedOf(messages)
        .foreach(f => Files.deleteIfExists(new File(f).toPath))
  }

}
