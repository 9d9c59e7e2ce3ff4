package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.api.{FetchParams, TradesApi}
import graft.sources.{GraftCatalog, SnapshotStore}
import graft.streaming.StreamingIngest

/** Trade ingest with late corrections: seeded micro-batches land as
  * parquet files; a stream built on `StreamingIngest.dedupedTrades`
  * writes them to a snapshot table with `toTable`, driven by
  * `processAllAvailable` once per batch; every 5th batch is followed by
  * a late-correction upsert through `SnapshotStore.commitMergeRows`, and
  * every batch by one read-after-write `TradesApi.fetch` over
  * `SnapshotStore.read`. */
object IngestWorkload {

  val SetupReps = 3
  val ReadLimit = 500
  val ReadWindowUs: Long = 30L * 60 * 1000000L

  val schema: StructType = StructType(Seq(
    StructField("trade_id", StringType), StructField("instrument_name", StringType),
    StructField("timestamp", TimestampType), StructField("price", DoubleType),
    StructField("amount", DoubleType), StructField("direction", StringType),
    StructField("iv", DoubleType), StructField("index_price", DoubleType),
    StructField("mark_price", DoubleType), StructField("underlying", StringType),
    StructField("expiry", DateType), StructField("strike", DoubleType),
    StructField("option_type", StringType)))

  def row(t: Inputs.Trade, price: Double, amount: Double): Row = Row(
    t.tradeId, t.instrument, Timestamps.fromMicros(t.tsUs), price, amount, t.direction,
    t.iv.map(Double.box).orNull, t.indexPrice.map(Double.box).orNull, t.markPrice,
    t.underlying, java.sql.Date.valueOf(t.expiry), t.strike, t.optionType)

  /** What the table must hold: the first delivery of every trade id,
    * with its latest correction applied. */
  final class Expected {
    val rows = mutable.LinkedHashMap.empty[String, (Inputs.Trade, Double, Double)]
    var landed = 0L

    def deliver(ts: Seq[Inputs.Trade]): Int = {
      landed += ts.size
      ts.count { t =>
        val fresh = !rows.contains(t.tradeId)
        if (fresh) rows(t.tradeId) = (t, t.price, t.amount)
        fresh
      }
    }

    def correct(cs: Seq[Inputs.Correction]): Unit =
      cs.sortBy(_.seq).foreach(c => rows.get(c.tradeId).foreach { case (t, _, _) =>
        rows(c.tradeId) = (t, c.price, c.amount)
      })

    def readAnswer(underlying: String, fromUs: Long, toUs: Long): String =
      Digest.ofSequence(rows.valuesIterator
        .filter { case (t, _, _) => t.underlying == underlying && t.tsUs >= fromUs && t.tsUs < toUs }
        .toVector.sortBy { case (t, _, _) => (-t.tsUs, t.tradeId) }
        .take(ReadLimit).map { case (t, p, _) => s"${t.tradeId}|${t.tsUs}|$p" })

    def tableDigest: String = Digest.ofRows(schema.fieldNames.toSeq,
      rows.valuesIterator.map { case (t, p, a) => row(t, p, a) }.toVector)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    StreamingIngest.RocksDbStateStore.foreach { case (k, v) => spark.conf.set(k, v) }
    // a no-data batch could commit while a correction merges; eviction
    // then happens in the next data batch, with the same results
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val warehouse = ctx.dir("snapshot-warehouse")
    spark.conf.set("spark.sql.catalog.graft_snap", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_snap.warehouse", warehouse)
    val staging = ctx.dir("staging")

    val plan = new Inputs.IngestPlan(ctx.opts.seed)
    val warm = plan.next()

    def land(c: Inputs.Cycle, src: String): Long = {
      val tmp = s"$staging/${new File(src).getName}-b${c.index}"
      spark.createDataFrame(c.trades.map(t => row(t, t.price, t.amount)).asJava, schema)
        .coalesce(1).write.parquet(tmp)
      val part = new File(tmp).listFiles().find(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = new File(src, f"b${c.index}%06d.parquet")
      Files.move(part.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
      dst.length()
    }

    def readParams(c: Inputs.Cycle): (String, FetchParams) = {
      val u = if (c.index % 2 == 0) "BTC" else "ETH"
      u -> FetchParams(underlying = Some(u),
        start = Some(Inputs.formatTs(c.endUs - ReadWindowUs)),
        end = Some(Inputs.formatTs(c.endUs)), limit = Some(ReadLimit))
    }

    def read(root: String, p: FetchParams): Array[Row] = {
      val df: DataFrame = ctx.spans.span("sources.open")(SnapshotStore.read(spark, root))
      val q = ctx.spans.span("api.compose")(TradesApi.fetch(df, p))
      ctx.spans.span("ingest.read_collect")(q.collect())
    }

    // ---- set-up: empty table, stream start, one warm-up batch ----
    var query: Option[StreamingQuery] = None
    var root = ""
    var src = ""
    val reps = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      val name = s"trades_ingest_$rep"
      val repRoot = s"$warehouse/$name"
      val repSrc = ctx.dir(s"landing-$rep")
      val ckpt = ctx.dir(s"checkpoint-$rep")
      ctx.step("create_table")(SnapshotStore.createEmpty(repRoot, schema))
      val started = ctx.step("stream_start") {
        spark.readStream.schema(schema).parquet(repSrc)
          .transform(StreamingIngest.dedupedTrades(_))
          .writeStream.option("checkpointLocation", ckpt)
          .toTable(s"graft_snap.$name")
      }
      ctx.step("warm_batch") {
        land(warm, repSrc)
        started.foreach(_.processAllAvailable())
        read(repRoot, readParams(warm)._2)
      }
      val setupS = (System.nanoTime() - t0) / 1e9
      query.foreach { q => q.stop(); q.awaitTermination() }
      query = started
      root = repRoot
      src = repSrc
      setupS
    }
    val expected = new Expected
    expected.deliver(warm.trades)

    // ---- measured cycles ----
    val triggerMs = mutable.ArrayBuffer.empty[Double]
    val mergeMs = mutable.ArrayBuffer.empty[Double]
    val readMs = mutable.ArrayBuffer.empty[Double]
    var busyS = 0.0
    var committed = 0L
    var landedBytes = 0L
    val dataDir = new File(root, "data")
    var writtenBytes = 0L
    val gc0 = ctx.gcSeconds
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.opts.seconds * 1000000000L
    val q = query.orNull
    // whole correction rounds only (5 batches, then the upsert), started
    // while the run's time lasts, so every run has the same mix of
    // appends and merges
    var c = warm
    def more: Boolean =
      c.index % Inputs.CorrectionEvery != 0 || System.nanoTime() < deadline
    while (q != null && more) {
      c = plan.next()
      ctx.spans.op(s"cycle-${c.index}", "ingest.cycle") {
        val before = if (ctx.opts.trace) Harness.dirBytes(dataDir) else 0L
        val l0 = System.nanoTime()
        val bytes = ctx.attempt(s"land-${c.index}")(ctx.spans.span("ingest.land")(land(c, src)))
        val landed = System.nanoTime()
        val triggered = ctx.attempt(s"trigger-${c.index}") {
          ctx.spans.span("streaming.trigger")(q.processAllAvailable())
        }
        val done = System.nanoTime()
        busyS += (done - l0) / 1e9
        if (triggered.isDefined) triggerMs += (done - landed) / 1e6
        landedBytes += bytes.getOrElse(0L)
        committed += expected.deliver(c.trades)

        if (c.corrections.nonEmpty) {
          val changes = spark.createDataFrame(c.corrections.map { k =>
            val (t, _, _) = expected.rows(k.tradeId)
            Row.fromSeq(row(t, k.price, k.amount).toSeq ++ Seq("U", k.seq, k.seq))
          }.asJava, schema.add("op", StringType).add("seq", LongType).add("change_id", LongType))
          val m0 = System.nanoTime()
          val merged = ctx.attempt(s"merge-${c.index}") {
            ctx.spans.span("sources.commit") {
              SnapshotStore.commitMergeRows(spark, root, changes, "trade_id", "op", "seq",
                "change_id")
            }
          }
          val m1 = System.nanoTime()
          busyS += (m1 - m0) / 1e9
          if (merged.isDefined) mergeMs += (m1 - m0) / 1e6
          expected.correct(c.corrections)
        }

        val (u, p) = readParams(c)
        val r0 = System.nanoTime()
        val got = try Right(read(root, p)) catch { case e: Exception => Left(e) }
        val r1 = System.nanoTime()
        busyS += (r1 - r0) / 1e9
        got match {
          case Right(rows) =>
            readMs += (r1 - r0) / 1e6
            val d = Digest.ofSequence(rows.toSeq.map(FetchWorkload.key))
            val want = expected.readAnswer(u, c.endUs - ReadWindowUs, c.endUs)
            ctx.record(s"read-${c.index}", d == want, s"digest $d, expected $want")
          case Left(e) =>
            ctx.record(s"read-${c.index}", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        if (ctx.opts.trace) writtenBytes += Harness.dirBytes(dataDir) - before
      }
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val gcS = ctx.gcSeconds - gc0
    val progress = Option(q).map(_.recentProgress.toVector).getOrElse(Vector.empty)
    query.foreach { q => q.stop(); q.awaitTermination() }

    // the final table against the generator's expected state
    val tableFiles = ctx.attempt("final_table") {
      val table = SnapshotStore.read(spark, root)
      val d = Digest.ofRows(table.columns.toSeq, table.collect().toSeq)
      if (d != expected.tableDigest)
        throw new IllegalStateException(s"table digest $d, expected ${expected.tableDigest}")
      table.inputFiles.length
    }

    val rowsPerS = if (busyS > 0) committed / busyS else 0.0
    val named = Seq(
      Named("ingest_rows_per_s", "rows/s", rowsPerS, triggerMs.size),
      Named("trigger_p50_ms", "ms", Layers.median(triggerMs.toSeq), triggerMs.size),
      Named("merge_p50_ms", "ms", Layers.median(mergeMs.toSeq), mergeMs.size),
      Named("raw_read_p50_ms", "ms", Layers.median(readMs.toSeq), readMs.size))

    val layers = ctx.traceView().map { v =>
      val cycles = v.named("ingest.cycle")
      val data = progress.filter(_.numInputRows > 0)
      def dur(k: String) = Layers.median(data.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble)))
      val inputRows = data.map(_.numInputRows).sum
      val dropped = data.flatMap(_.stateOperators).map { s =>
        s.numRowsDroppedByWatermark +
          Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)
      }.sum
      val streamWork = new Acc
      streamWork += v.work(cycles)
      Option(q).foreach(x => streamWork += v.group(x.runId.toString))
      val reads = v.work(v.named("ingest.read_collect") ++ v.named("sources.open"))
      Layers.spark(streamWork, cycles.size, wallS, gcS) ++ Map(
        "api.compose_ms" -> Layers.median(v.durationsMs("api.compose")),
        "sources.open_ms" -> Layers.median(v.durationsMs("sources.open")),
        "sources.files_scanned" -> reads.files.toDouble / math.max(1, readMs.size),
        "sources.scan_mb" -> reads.scanBytes / 1e6 / math.max(1, readMs.size),
        "sources.rows_examined_per_row" -> reads.scanRows.toDouble / math.max(1, readMs.size * ReadLimit),
        "sources.commit_ms" -> Layers.median(v.durationsMs("sources.commit")),
        "sources.bytes_written" -> writtenBytes.toDouble / math.max(1, cycles.size),
        "sources.write_amp" -> (if (landedBytes > 0) writtenBytes.toDouble / landedBytes else 0.0),
        "sources.table_files" -> tableFiles.getOrElse(0).toDouble,
        "streaming.planning_ms" -> dur("queryPlanning"),
        "streaming.getbatch_ms" -> dur("getBatch"),
        "streaming.addbatch_ms" -> dur("addBatch"),
        "streaming.walcommit_ms" -> dur("walCommit"),
        "streaming.commitoffsets_ms" -> dur("commitOffsets"),
        "streaming.state_rows" -> data.lastOption.flatMap(_.stateOperators.headOption)
          .map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "streaming.dup_drop_ratio" -> (if (inputRows > 0) dropped.toDouble / inputRows else 0.0))
    }.getOrElse(Map.empty)

    Outcome(reps, Layers.median(triggerMs.toSeq), rowsPerS,
      named, layers,
      Map("cycles" -> triggerMs.size, "merges" -> mergeMs.size, "rows_committed" -> committed,
        "rows_landed" -> expected.landed, "table_rows" -> expected.rows.size))
  }
}
