package graft.queries


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.options.SyntheticTrades
import graft.schema.{SchemaIntrospector, TradesSchema}
import graft.sources.{Backfill, FixturePager, RawTrade, TradesStore}
import graft.streaming.StreamingIngest
import graft.util.Parity._

/** System-layer entries: the ingest stack (S1-S7) driven end-to-end
  * against the DuckDB oracle, the schema system (S9/S10), the
  * partitioned store layout, and the streaming variant (§2.9).
  *
  * s7_backfill_roundtrip is a REAL roundtrip: the synthetic trades are
  * paged through the descending-cursor collector (fixture pager
  * standing in for the REST client), batch-inserted idempotently,
  * read back from parquet, and aggregated — the oracle aggregates the
  * same trades directly, so any loss/duplication in paging, row
  * mapping, or batching breaks the hash match. */
object SystemQueries {

  /** S1-S7: full backfill roundtrip at query time. */
  def s7Backfill(s: SparkSession, dir: String): DataFrame = {
    val trades = SyntheticTrades.trades(s, dir)
    val fixture = trades.select(
      col("trade_id"), col("instrument_name"),
      unix_millis(col("timestamp")).as("ts_ms"),
      col("price"), col("amount"), col("direction"),
      col("iv"), col("index_price"), col("mark_price"))
      // bounded-collect(REST fixture harness: this SIMULATES the
      // external paged HTTP source, which is driver-side by nature —
      // the fixture stands in for the remote API, not for a table
      // scan; production backfill streams pages, it never holds the
      // corpus)
      .collect()
      .map(r => RawTrade(
        r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getString(5),
        if (r.isNullAt(6)) None else Some(r.getDouble(6)),
        if (r.isNullAt(7)) None else Some(r.getDouble(7)),
        if (r.isNullAt(8)) None else Some(r.getDouble(8))))
      .toIndexedSeq
    val target = graft.util.TempDirs.scoped("s7-backfill")
    val ckpt = graft.util.TempDirs.scoped("s7-ckpt")
    val startMs = fixture.map(_.timestamp_ms).min - 1
    val endMs = fixture.map(_.timestamp_ms).max
    // large batch size: each flush is a full Spark write job (~300 ms
    // of commit overhead) and batching is invisible in the verified
    // aggregate — the loop/batch/checkpoint mechanics are covered at
    // small sizes by IngestSpec
    Backfill.collect(s, new FixturePager(fixture), "BTC", startMs, endMs,
      target, ckpt, pageSize = 1000, batchSize = 50000)
    // the directory itself: partition discovery surfaces batch_token
    s.read.parquet(target)
      .groupBy(col("underlying"))
      .agg(
        count(lit(1)).as("n_trades"),
        countDistinct(col("trade_id")).as("unique_trades"),
        countDistinct(col("instrument_name")).as("unique_instruments"),
        dsum(col("amount")).as("total_amount"))
  }

  val s7Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte}
       |SELECT underlying, count(*) AS n_trades,
       |  count(DISTINCT trade_id) AS unique_trades,
       |  count(DISTINCT instrument_name) AS unique_instruments,
       |  ${duckDsum("amount")} AS total_amount
       |FROM trades GROUP BY 1""".stripMargin

  /** S9/S10 + store layout: DDL render, drift self-check, and a
    * partitioned sorted write/read roundtrip with month pruning. */
  def s9Schema(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spec = TradesSchema.spec
    val ddl = spec.createTableDdl
    val selfDiff = SchemaIntrospector.diff(spec, spec.structType)
    // store roundtrip on a small slice
    val target = graft.util.TempDirs.scoped("s9-store")
    val slice = SyntheticTrades.trades(s, dir).limit(1000)
    TradesStore.write(slice, target)
    val back = TradesStore.read(s, target)
    val months = back.select(countDistinct(col("month"))).head().getLong(0)
    Seq((
      ddl.contains("PARTITIONED BY (month STRING)"),
      ddl.contains("trade_id STRING NOT NULL"),
      selfDiff.isEmpty,
      back.count(),
      months > 0))
      .toDF("ddl_partitioned", "ddl_not_null", "self_diff_clean",
        "store_rows", "store_partitioned")
  }

  /** Every invariant the schema/store roundtrip must hold, stated as
    * oracle literals (store_rows gates the write/read roundtrip). */
  val s9Oracle: String =
    """SELECT true AS ddl_partitioned, true AS ddl_not_null,
      |  true AS self_diff_clean,
      |  CAST(least(1000, (SELECT count(*) FROM events)) AS BIGINT)
      |    AS store_rows,
      |  true AS store_partitioned""".stripMargin

  /** Session clone with harness-sized state-store partitions. The
    * state-store count is fixed per checkpoint at stream start; a
    * 2k-row harness stream wants a handful of state partitions, not
    * the session's scan parallelism (32 HDFS-backed stores add ~7 s
    * of per-microbatch commit overhead here). A production deployment
    * sizes this to key cardinality / executor count instead. Scoping
    * the override to a CLONED session (shared context + caches,
    * private SQLConf) keeps it from leaking to queries running
    * concurrently on `s` — the same pattern TextDedup's label loop
    * uses. */
  private def streamSession(s: SparkSession): SparkSession =
    org.apache.spark.sql.GraftBridge.sessionWithConf(
      s, Map("spark.sql.shuffle.partitions" -> "4"))

  /** Shared bounded-stream harness (the st2/st4/st5/st6/st8 shape):
    * materialize `input` to a scoped temp source dir, stream it
    * through `xform` into a memory sink in append mode, drive to
    * completion, and hand the emitted rows back bound to the
    * caller's session. All files land in micro-batch 0, so the
    * emitted set is the watermark-complete prefix the oracles state.
    * Temp dirs come from [[graft.util.TempDirs]] (exit-time cleanup —
    * repeated verify/bench runs don't accumulate disk). */
  private def boundedStream(s: SparkSession, prefix: String,
      input: DataFrame, queryName: String, mode: String = "append")(
      xform: DataFrame => DataFrame): DataFrame = {
    val src = graft.util.TempDirs.scoped(s"$prefix-src")
    val ckpt = graft.util.TempDirs.scoped(s"$prefix-ckpt")
    input.write.mode("overwrite").parquet(s"$src/pages")
    val ss = streamSession(s)
    val raw = ss.readStream.schema(input.schema).parquet(s"$src/pages")
    val q = xform(raw)
      .writeStream.format("memory").queryName(queryName)
      .option("checkpointLocation", ckpt)
      .outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
    org.apache.spark.sql.GraftBridge.bindTo(ss.table(queryName), s)
  }

  /** §2.9: streaming ingest + watermarked dedup, driven to completion
    * over a temp file source; returns the deduped row count vs input. */
  def st1Streaming(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = graft.util.TempDirs.scoped("st1-src")
    val tgt = graft.util.TempDirs.scoped("st1-tgt")
    val ckpt = graft.util.TempDirs.scoped("st1-ckpt")
    // deterministic 1-in-31 subset (a bare `limit` picks
    // plan-execution-order rows, which an oracle cannot state)
    val trades = SyntheticTrades.trades(s, dir)
      .filter(col("trade_id").cast("long") % 31 === 0)
      .select("trade_id", "underlying", "timestamp", "iv", "amount")
    // simulate a page-overlap re-delivery: every 97th trade twice
    trades.unionAll(trades.filter(col("trade_id").cast("long") % 97 === 0))
      .write.parquet(s"$src/pages")
    val ss = streamSession(s)
    val q = StreamingIngest.startIngest(ss, s"$src/pages", trades.schema,
      tgt, ckpt)
    try q.processAllAvailable() finally q.stop()
    // the directory itself, not an `ingest_batch=*` glob: FileStreamSink
    // logs a FileNotFoundException trace probing a glob for metadata
    val written = s.read.parquet(tgt)
    Seq((written.count(),
      written.select(countDistinct(col("trade_id"))).head().getLong(0)))
      .toDF("rows_written", "unique_ids")
  }

  /** The streamed dedup must write exactly one row per distinct
    * trade_id in the subset — re-delivered duplicates dropped. */
  val st1Oracle: String =
    """SELECT CAST(count(*) AS BIGINT) AS rows_written,
      |  CAST(count(*) AS BIGINT) AS unique_ids
      |FROM events WHERE event_id % 31 = 0""".stripMargin

  /** §2.9 + A2: the watermarked streaming 15-min IV OHLC bars, driven
    * to completion over a file source and verified against a DuckDB
    * oracle that applies the SAME event-time watermark cutoff: append
    * mode emits exactly the windows whose end is at or below
    * max(event time) - 30 min (the final watermark), so the emitted
    * set is a pure function of the data and fully SQL-expressible. */
  def st2StreamingBars(s: SparkSession, dir: String): DataFrame =
    boundedStream(s, "st2",
      SyntheticTrades.trades(s, dir)
        .select("trade_id", "underlying", "timestamp", "iv", "amount"),
      "st2_bars")(StreamingIngest.ivBars(_, watermark = "30 minutes"))

  /** Watermark cutoff in ms exactly as the engine computes it: event
    * time stats truncate micros to ms, watermark = max - delay, and a
    * window emits when its end <= watermark (boundary semantics pinned
    * by StreamingSpec's exact-boundary test).
    *
    * The max is over iv-NON-NULL rows only: Catalyst pushes ivBars'
    * `iv IS NOT NULL` filter below the EventTimeWatermark operator
    * (the predicate does not reference the event-time column), so
    * null-iv trades never reach the event-time stats — pinned by
    * StreamingSpec's null-iv watermark test. */
  val st2Oracle: String =
    s"""WITH ${graft.queries.OracleCtes.enriched},
       |bars AS (
       |  SELECT bucket_start, underlying,
       |    arg_min(iv, "timestamp") AS iv_open,
       |    max(iv) AS iv_high,
       |    min(iv) AS iv_low,
       |    arg_max(iv, "timestamp") AS iv_close,
       |    ${duckDsum("amount")} AS volume,
       |    count(*) AS n_trades
       |  FROM enriched
       |  WHERE iv IS NOT NULL
       |  GROUP BY bucket_start, underlying
       |),
       |wm AS (
       |  SELECT max(epoch_ms("timestamp")) - 1800000 AS wm_ms FROM trades
       |  WHERE iv IS NOT NULL
       |)
       |SELECT bucket_start, underlying, iv_open, iv_high, iv_low,
       |  iv_close, volume, n_trades
       |FROM bars, wm
       |WHERE (bucket_start + 900) * 1000 <= wm_ms""".stripMargin

  /** §2.9 + J2: stream-stream inner join of a trades stream to a spot
    * tick stream in the same 15-min bucket, driven to completion over
    * file sources. All files arrive in the first micro-batch (the
    * initial watermark is the epoch), so nothing is late-dropped and
    * the emitted set equals the static bucket join the oracle states.
    * The trades side is thinned 1-in-199 to keep the match set
    * output-sized; the tick side streams in full. */
  def st3StreamJoin(s: SparkSession, dir: String): DataFrame = {
    val src = graft.util.TempDirs.scoped("st3-src")
    val ckpt = graft.util.TempDirs.scoped("st3-ckpt")
    val trades = SyntheticTrades.trades(s, dir)
      .filter(col("trade_id").cast("long") % 199 === 0)
      .select("trade_id", "underlying", "timestamp")
    val ticks = SyntheticTrades.spotTicks(s, dir)
    trades.write.mode("overwrite").parquet(s"$src/trades")
    ticks.write.mode("overwrite").parquet(s"$src/ticks")
    val ss = streamSession(s)
    val tStream = ss.readStream.schema(trades.schema).parquet(s"$src/trades")
    val kStream = ss.readStream.schema(ticks.schema).parquet(s"$src/ticks")
    val q = StreamingIngest.spotTickJoin(tStream, kStream)
      .writeStream.format("memory").queryName("st3_join")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    org.apache.spark.sql.GraftBridge.bindTo(ss.table("st3_join"), s)
  }

  val st3Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |${SyntheticTrades.spotCte},
       |t AS (
       |  SELECT trade_id, underlying,
       |    ${duckEpochS("\"timestamp\"")} AS trade_ep
       |  FROM trades WHERE CAST(trade_id AS BIGINT) % 199 = 0
       |),
       |k AS (
       |  SELECT symbol, ${duckEpochS("\"timestamp\"")} AS tick_ep, close
       |  FROM spot_ticks
       |)
       |SELECT t.trade_id, t.trade_ep, k.symbol, k.tick_ep, k.close
       |FROM t JOIN k
       |  ON k.symbol = t.underlying
       | AND k.tick_ep - k.tick_ep % 900 = t.trade_ep - t.trade_ep % 900""".stripMargin

  /** §2.9 + A6: watermarked streaming put/call-ratio bars, driven to
    * completion over a file source. Same emission rule as st2: a bar
    * emits once window.end <= final watermark (max event time over
    * ALL trades — pcrBars has no pre-aggregation filter, so the
    * event-time stats see every row). */
  def st4StreamingPcr(s: SparkSession, dir: String): DataFrame =
    boundedStream(s, "st4",
      SyntheticTrades.trades(s, dir)
        .select("trade_id", "underlying", "timestamp", "option_type",
          "amount"),
      "st4_pcr")(StreamingIngest.pcrBars(_, watermark = "30 minutes"))

  /** §2.9 + A19: watermarked streaming order-flow bars — the
    * streaming twin of a19_flow_imbalance. Same harness discipline as
    * st4: bounded file source, append mode, the oracle restates the
    * batch aggregate over the watermark-complete bar prefix. */
  def st8StreamingFlow(s: SparkSession, dir: String): DataFrame =
    boundedStream(s, "st8",
      SyntheticTrades.trades(s, dir)
        .select("trade_id", "underlying", "timestamp", "direction",
          "amount"),
      "st8_flow")(StreamingIngest.flowBars(_, watermark = "30 minutes"))

  val st8Oracle: String =
    s"""WITH ${graft.queries.OracleCtes.enriched},
       |bars AS (
       |  SELECT bucket_start, underlying,
       |    count(CASE WHEN direction = 'buy' THEN 1 END) AS n_buys,
       |    count(CASE WHEN direction <> 'buy' THEN 1 END) AS n_sells,
       |    coalesce(${duckDsum("CASE WHEN direction = 'buy' THEN amount END")}, 0.0)
       |      AS buy_volume,
       |    coalesce(${duckDsum("CASE WHEN direction <> 'buy' THEN amount END")}, 0.0)
       |      AS sell_volume
       |  FROM enriched
       |  GROUP BY bucket_start, underlying
       |),
       |wm AS (
       |  SELECT max(epoch_ms("timestamp")) - 1800000 AS wm_ms FROM trades
       |)
       |SELECT bucket_start, underlying, n_buys, n_sells,
       |  buy_volume, sell_volume,
       |  (buy_volume - sell_volume)
       |    / nullif(buy_volume + sell_volume, 0.0) AS imbalance
       |FROM bars, wm
       |WHERE (bucket_start + 900) * 1000 <= wm_ms""".stripMargin

  val st4Oracle: String =
    s"""WITH ${graft.queries.OracleCtes.enriched},
       |bars AS (
       |  SELECT bucket_start, underlying,
       |    coalesce(${duckDsum("CASE WHEN option_type = 'P' THEN amount END")}, 0.0)
       |      AS put_volume,
       |    coalesce(${duckDsum("CASE WHEN option_type = 'C' THEN amount END")}, 0.0)
       |      AS call_volume
       |  FROM enriched
       |  GROUP BY bucket_start, underlying
       |),
       |wm AS (
       |  SELECT max(epoch_ms("timestamp")) - 1800000 AS wm_ms FROM trades
       |)
       |SELECT bucket_start, underlying, put_volume, call_volume,
       |  put_volume / nullif(call_volume, 0.0) AS pcr
       |FROM bars, wm
       |WHERE (bucket_start + 900) * 1000 <= wm_ms""".stripMargin

  /** §2.9 + W1: the custom-state gap detector
    * (flatMapGroupsWithState) driven over a thinned file-source
    * stream. All files land in micro-batch 0 in event order per key,
    * so the emitted gap set equals the static per-underlying
    * lead-window computation the oracle states. */
  def st5GapEvents(s: SparkSession, dir: String): DataFrame =
    boundedStream(s, "st5",
      SyntheticTrades.trades(s, dir)
        .filter(col("trade_id").cast("long") % 97 === 0)
        .select("underlying", "timestamp"),
      "st5_gaps")(raw =>
      StreamingIngest.gapEvents(raw, thresholdSec = 4 * 3600L).toDF())

  val st5Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |sampled AS (
       |  SELECT underlying, ${duckEpochS("\"timestamp\"")} AS ep
       |  FROM trades WHERE CAST(trade_id AS BIGINT) % 97 = 0
       |),
       |gaps AS (
       |  SELECT underlying, ep AS gap_start_ep,
       |    lead(ep) OVER (PARTITION BY underlying ORDER BY ep) AS gap_end_ep
       |  FROM sampled
       |)
       |SELECT underlying, gap_start_ep, gap_end_ep,
       |  gap_end_ep - gap_start_ep AS gap_seconds
       |FROM gaps
       |WHERE gap_end_ep IS NOT NULL
       |  AND gap_end_ep - gap_start_ep > ${4 * 3600}""".stripMargin

  /** §2.9 session windows: trade-burst sessions over the thinned
    * stream (the st5 sample, whose inter-trade spacing actually
    * produces multi-session structure). All files land in micro-batch
    * 0; append emits every session whose end (last event + gap) is at
    * or below the final watermark — the islands-and-gaps rule the
    * oracle states in SQL. */
  def st6SessionBursts(s: SparkSession, dir: String): DataFrame =
    boundedStream(s, "st6",
      SyntheticTrades.trades(s, dir)
        .filter(col("trade_id").cast("long") % 97 === 0)
        .select("underlying", "timestamp", "amount"),
      "st6_sessions")(StreamingIngest.sessionBursts(_, gap = "2 hours"))

  /** Islands-and-gaps in SQL: a new session starts when the ms gap to
    * the previous trade STRICTLY exceeds the 2 h session gap (Spark
    * merges the per-event [t, t+gap) intervals on touch, so an exact
    * gap-length spacing still extends — pinned by StreamingSpec);
    * session end = last event + gap; the append cutoff keeps sessions
    * whose exact-ms end is at or below the final watermark. */
  val st6Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |sampled AS (
       |  SELECT underlying, ${duckEpochS("\"timestamp\"")} AS ep,
       |    epoch_ms("timestamp") AS ep_ms, amount
       |  FROM trades WHERE CAST(trade_id AS BIGINT) % 97 = 0
       |),
       |flagged AS (
       |  SELECT *, CASE WHEN ep_ms - lag(ep_ms) OVER (
       |      PARTITION BY underlying ORDER BY ep_ms) > ${2 * 3600 * 1000}
       |    THEN 1 ELSE 0 END AS brk
       |  FROM sampled
       |),
       |sess AS (
       |  SELECT *, sum(brk) OVER (PARTITION BY underlying ORDER BY ep_ms
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM flagged
       |),
       |agg AS (
       |  SELECT underlying,
       |    min(ep) AS session_start_ep,
       |    max(ep) + ${2 * 3600} AS session_end_ep,
       |    max(ep_ms) + ${2 * 3600 * 1000} AS end_ms,
       |    count(*) AS n_trades,
       |    ${duckDsum("amount")} AS volume
       |  FROM sess GROUP BY underlying, sid
       |),
       |wm AS (SELECT max(ep_ms) - 1800000 AS wm_ms FROM sampled)
       |SELECT session_start_ep, session_end_ep, underlying, n_trades,
       |  volume
       |FROM agg, wm WHERE end_ms <= wm_ms""".stripMargin

  /** Day-partitioned sorted store per sf dir, built once per host and
    * data version: keyed by the sf path AND its
    * [[graft.util.FrameMemo.dirFingerprint]], so a dir regenerated in
    * place gets a fresh store instead of the old one's rows. Every
    * call deletes the dir's superseded stores: its stores under another
    * fingerprint and the path-only store of earlier layouts. */
  private[graft] def prunedStore(s: SparkSession, dir: String): String = {
    val name = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"$StoreRoot/${name}_${graft.util.FrameMemo.dirFingerprint(dir)}"
    val superseded = (java.util.regex.Pattern.quote(name) +
      "(_([0-9a-f]{32}|absent|unreadable))?").r
    Option(new java.io.File(StoreRoot).listFiles()).toSeq.flatten
      .filter(f => superseded.matches(f.getName) && f.getPath != path)
      .foreach(org.apache.commons.io.FileUtils.forceDelete)
    if (!new java.io.File(s"$path/_SUCCESS").exists()) {
      TradesStore.write(SyntheticTrades.trades(s, dir), path,
        partKey = ("date", "yyyyMMdd"))
    }
    path
  }

  private val StoreRoot = "/tmp/graft_store"

  /** S8-over-the-store: the BASELINE headline ("time-range query
    * 10-100x via index seek") Spark-style — the fetch's time-range
    * predicate prunes date partitions at planning time (see
    * PlanAuditSpec: PartitionFilters non-empty) and the
    * sortWithinPartitions layout gives tight row-group stats inside
    * each day. Correctness: identical rows to the oracle running the
    * same range over the raw derivation. */
  def s8FetchPruned(s: SparkSession, dir: String): DataFrame = {
    val stored = TradesStore.read(s, prunedStore(s, dir))
      .filter(TradesStore.timeRangePartitionFilter(
        java.time.LocalDate.parse("2024-01-10"),
        java.time.LocalDate.parse("2024-01-13"),
        partKey = ("date", "yyyyMMdd")))
    graft.api.TradesApi.fetch(stored, graft.api.FetchParams(
      underlying = Some("BTC"),
      start = Some("2024-01-10"), end = Some("2024-01-12"),
      useFinal = true))
      .select(col("trade_id"), unix_timestamp(col("timestamp")).as("ep"),
        col("underlying"), col("price"), col("amount"), col("strike"))
  }

  val s8PrunedOracle: String =
    s"""WITH ${SyntheticTrades.tradesCte}
       |SELECT trade_id, ${duckEpochS("\"timestamp\"")} AS ep, underlying,
       |  price, amount, strike
       |FROM trades
       |WHERE underlying = 'BTC'
       |  AND "timestamp" >= TIMESTAMP '2024-01-10 00:00:00'
       |  AND "timestamp" < TIMESTAMP '2024-01-13 00:00:00'""".stripMargin

  /** §2.9 for the corpus: streaming document curation — file-source
    * documents (with every 13th doc re-delivered, simulating page
    * overlap) -> content-hash dedup within the watermark -> quality
    * gate -> idempotent partitioned append, then a per-source audit
    * of what landed. The surviving TEXT set is a pure function of
    * the corpus, but WHICH copy of a cross-source exact duplicate
    * survives is first-arrival (execution-order-dependent) — so the
    * per-source rollup attributes every kept text to its CANONICAL
    * owner (min doc_id among its quality-passing copies), which is
    * survivor-independent and SQL-stateable. `rows_landed` counts
    * physical landed rows per attributed source: any dedup failure
    * (a re-delivered or duplicate hash landing twice) inflates it
    * past `texts_kept` and breaks the hash match. */
  def st7StreamDocs(s: SparkSession, dir: String): DataFrame = {
    val src = graft.util.TempDirs.scoped("st7-src")
    val tgt = graft.util.TempDirs.scoped("st7-tgt")
    val ckpt = graft.util.TempDirs.scoped("st7-ckpt")
    val docs = graft.util.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"),
        timestamp_seconds(lit(1700000000L) + col("doc_id"))
          .as("ingest_ts"))
    docs.unionAll(docs.filter(col("doc_id") % 13 === 0))
      .write.parquet(s"$src/pages")
    val ss = streamSession(s)
    val raw = ss.readStream.schema(docs.schema).parquet(s"$src/pages")
    val q = StreamingIngest.curatedDocs(raw).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.streaming.BatchSink.forMode("parquet", tgt)
          .writeBatch(batch, batchId)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val landed = s.read.parquet(tgt) // the directory, as in st1
      .groupBy(col("text_hash"))
      .agg(count(lit(1)).as("_rows"), max(col("n_words")).as("_nw"))
    val canonSrc = docs
      .select(sha2(graft.operators.TextDedup.normText(col("text")), 256)
        .as("text_hash"), col("doc_id"), col("source"))
      .groupBy(col("text_hash"))
      .agg(min_by(col("source"), col("doc_id")).as("source"))
    landed.join(canonSrc, "text_hash")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("texts_kept"),
        sum(col("_rows")).as("rows_landed"),
        sum(col("_nw").cast("long")).as("words_kept"))
  }

  /** The quality predicate is [[graft.operators.TextAnalysis
    * .qualityScore]]'s `quality_ok` spelled in SQL (n_words >= 5,
    * punct_ratio < 0.3, digit_ratio < 0.3 over the raw text);
    * duplicate copies have identical text, so the quality-passing set
    * is closed under duplicate equivalence and the canonical
    * attribution (min doc_id) is computed over it directly.
    * `rows_landed = texts_kept` here IS the dedup certificate. */
  val st7Oracle: String =
    """WITH norm AS (
      |  SELECT doc_id, text, source,
      |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt
      |  FROM documents
      |),
      |wr AS (SELECT *, string_split(nt, ' ') AS w FROM norm),
      |q AS (
      |  SELECT doc_id, source, nt, len(w) AS nw FROM wr
      |  WHERE len(w) >= 5
      |    AND len(regexp_extract_all(text, '[^A-Za-z0-9 \t\n\r]'))::DOUBLE
      |        / greatest(length(text), 1) < 0.3
      |    AND len(regexp_extract_all(text, '[0-9]'))::DOUBLE
      |        / greatest(length(text), 1) < 0.3
      |),
      |canon AS (SELECT nt, min(doc_id) AS cid FROM q GROUP BY nt),
      |attr AS (
      |  SELECT c.nt, k.source, k.nw
      |  FROM canon c JOIN q k ON k.doc_id = c.cid
      |)
      |SELECT source, CAST(count(*) AS BIGINT) AS texts_kept,
      |  CAST(count(*) AS BIGINT) AS rows_landed,
      |  CAST(sum(nw) AS BIGINT) AS words_kept
      |FROM attr GROUP BY source""".stripMargin

  /** §2.9 + A20: watermarked streaming bar-VWAP — the streaming twin
    * of a20's bar stage, same harness/emission discipline as st8. */
  def st9StreamVwap(s: SparkSession, dir: String): DataFrame =
    boundedStream(s, "st9",
      SyntheticTrades.trades(s, dir)
        .select("trade_id", "underlying", "timestamp", "price", "amount"),
      "st9_vwap")(StreamingIngest.vwapBars(_, watermark = "30 minutes"))

  val st9Oracle: String =
    s"""WITH ${graft.queries.OracleCtes.enriched},
       |bars AS (
       |  SELECT bucket_start, underlying,
       |    ${duckDsum("price * amount")} AS bar_pv,
       |    ${duckDsum("amount")} AS bar_volume,
       |    count(*) AS n_trades
       |  FROM enriched
       |  GROUP BY bucket_start, underlying
       |),
       |wm AS (
       |  SELECT max(epoch_ms("timestamp")) - 1800000 AS wm_ms FROM trades
       |)
       |SELECT bucket_start, underlying, bar_pv, bar_volume, n_trades,
       |  bar_pv / nullif(bar_volume, 0.0) AS vwap
       |FROM bars, wm
       |WHERE (bucket_start + 900) * 1000 <= wm_ms""".stripMargin

  /** §2.9 + O1: complete-mode streaming top-k — the final memory-sink
    * state of a sorted+limited complete-output aggregate over the
    * bounded input equals the batch answer the oracle states (no
    * watermark in play; ties broken by keys so the LIMIT edge is
    * deterministic). */
  def st10StreamTopk(s: SparkSession, dir: String): DataFrame =
    boundedStream(s, "st10",
      SyntheticTrades.trades(s, dir)
        .select("trade_id", "underlying", "timestamp", "strike", "amount"),
      "st10_topk", mode = "complete")(
      StreamingIngest.topVolumeStrikes(_, k = 10))

  val st10Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte}
       |SELECT underlying, strike, ${duckDsum("amount")} AS volume
       |FROM trades
       |GROUP BY underlying, strike
       |ORDER BY volume DESC, underlying, strike
       |LIMIT 10""".stripMargin

  /** §2.9: continuously-maintained aggregate (incremental view
    * maintenance) — an UPDATE-mode streaming groupBy driven over
    * FOUR micro-batches (maxFilesPerTrigger=1 over a 4-file source),
    * each batch's changed keys upserted into a key-partitioned
    * parquet table via foreachBatch + dynamic partition overwrite.
    * The sink table after the last batch must equal the plain batch
    * aggregate of the whole tape — the oracle states exactly that.
    * (This is the S4/S5 idempotent-sink story applied to AGGREGATE
    * state rather than raw rows: re-running a batch rewrites the
    * same key partitions with the same state.) */
  def st11StreamMerge(s: SparkSession, dir: String): DataFrame = {
    val src = graft.util.TempDirs.scoped("st11-src")
    val tgt = graft.util.TempDirs.scoped("st11-tgt")
    val ckpt = graft.util.TempDirs.scoped("st11-ckpt")
    val trades = SyntheticTrades.trades(s, dir)
      .select("underlying", "timestamp", "amount")
    trades.repartition(4).write.parquet(s"$src/pages")
    val ss = streamSession(s)
    ss.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val raw = ss.readStream.schema(trades.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/pages")
    val q = StreamingIngest.runningTotals(raw)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").partitionBy("underlying")
          .parquet(tgt)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(tgt)
      .select(col("underlying"), col("n_trades"),
        col("total_amount_dec")
          .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(28, 2))
          .cast("double").as("total_amount"),
        col("last_ep"))
  }

  val st11Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte}
       |SELECT underlying, count(*) AS n_trades,
       |  CAST(CAST(round(sum(CAST(amount AS DECIMAL(28,6))), 2)
       |    AS DECIMAL(28,2)) AS DOUBLE) AS total_amount,
       |  max(${duckEpochS("\"timestamp\"")}) AS last_ep
       |FROM trades GROUP BY 1""".stripMargin

  /** S12: CSV ingestion with PERMISSIVE corrupt-record capture — the
    * messy-feed half of the source story (S1-S7 cover the clean JSON
    * pager): trades rendered to CSV text with every 7th line's price
    * poisoned, read back through an explicit schema +
    * `_corrupt_record`, and audited (row counts and the exact decimal
    * amount total over rows that PARSED). The oracle derives the same
    * audit from the construction rule — any parser behavior change
    * (silently nulling vs capturing, or dropping the raw line) breaks
    * the hash. */
  def s12CsvCorrupt(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val src = graft.util.TempDirs.scoped("s12-src")
    val lines = SyntheticTrades.trades(s, dir)
      .select(concat_ws(",",
        col("trade_id"), col("underlying"),
        when(col("trade_id").cast("long") % 7 === 0, lit("xx"))
          .otherwise(col("price").cast("string")),
        col("amount").cast("string")).as("value"))
    lines.write.mode("overwrite").text(s"$src/csv")
    val schema = StructType(Seq(
      StructField("trade_id", LongType), StructField("underlying", StringType),
      StructField("price", DoubleType), StructField("amount", DoubleType),
      StructField("_corrupt_record", StringType)))
    val parsed = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(s"$src/csv")
    parsed.agg(
      count(lit(1)).as("n_rows"),
      count(col("_corrupt_record")).as("n_corrupt"),
      count(col("price")).as("n_parsed"),
      sum(when(col("_corrupt_record").isNull, col("amount"))
        .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(28, 6)))
        .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(28, 2))
        .cast("double").as("parsed_amount"))
  }

  val s12Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte}
       |SELECT count(*) AS n_rows,
       |  count(CASE WHEN CAST(trade_id AS BIGINT) % 7 = 0 THEN 1 END)
       |    AS n_corrupt,
       |  count(CASE WHEN CAST(trade_id AS BIGINT) % 7 <> 0 THEN 1 END)
       |    AS n_parsed,
       |  CAST(CAST(round(sum(CASE WHEN CAST(trade_id AS BIGINT) % 7 <> 0
       |      THEN CAST(amount AS DECIMAL(28,6)) END), 2)
       |    AS DECIMAL(28,2)) AS DOUBLE) AS parsed_amount
       |FROM trades""".stripMargin

  /** §2.9: STREAM-STATIC join — the third join mode (st3 covers
    * stream-stream, j2 the batch broadcast): a streaming tape
    * enriched against the STATIC spot-bar dimension (rebuilt from
    * the stream's own session so the cloned harness session owns
    * every plan node), then a complete-mode per-underlying coverage
    * aggregate. Final state ≡ the batch enrichment the oracle
    * states over the identical CTE chain. */
  def st12StreamEnrich(s: SparkSession, dir: String): DataFrame =
    boundedStream(s, "st12",
      SyntheticTrades.trades(s, dir)
        .select("trade_id", "underlying", "timestamp", "strike",
          "index_price"),
      "st12_enrich", mode = "complete") { raw =>
      val bars = graft.operators.SpotProvider.spotBars(
        SyntheticTrades.spotTicks(raw.sparkSession, dir))
      graft.operators.SpotProvider.enrichWithSpot(raw, bars)
        .groupBy(col("underlying"))
        .agg(
          count(lit(1)).as("n_trades"),
          count(col("binance_spot")).as("n_with_spot"),
          graft.util.Parity.davg(col("binance_spot")).as("spot_avg"))
    }

  val st12Oracle: String =
    s"""WITH ${OracleCtes.enrichedSpot}
       |SELECT underlying, count(*) AS n_trades,
       |  count(binance_spot) AS n_with_spot,
       |  ${graft.util.Parity.duckDavg("binance_spot")} AS spot_avg
       |FROM enriched_spot GROUP BY 1""".stripMargin

  /** S13: small-files compaction — the physical-layout maintenance
    * op every partitioned store needs at scale: rewrite day
    * partitions with one task per partition value and a bounded
    * `maxRecordsPerFile`, so each date lands in exactly
    * ceil(rows/R) right-sized files. The audit reports, per date,
    * the row count AND the actual post-compaction file count from
    * the filesystem listing; the oracle re-derives both (file count
    * = the ceil formula), so a layout regression — splits not
    * applied, rows lost, a date fanned across tasks — breaks the
    * hash. Date values carry a 'd' prefix so partition-column type
    * inference can't retype them. */
  def s13Compaction(s: SparkSession, dir: String): DataFrame = {
    val tgt = graft.util.TempDirs.scoped("s13-tgt")
    val maxRec = 200L
    SyntheticTrades.trades(s, dir)
      .withColumn("date",
        concat(lit("d"), date_format(col("timestamp"), "yyyyMMdd")))
      .repartition(col("date"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRec)
      .partitionBy("date").parquet(tgt)
    val rows = s.read.parquet(tgt)
      .groupBy(col("date")).agg(count(lit(1)).as("rows"))
    import s.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(tgt))
      .filter(_.isDirectory)
      .map { d =>
        (d.getPath.getName.stripPrefix("date="),
          fs.listStatus(d.getPath)
            .count(_.getPath.getName.endsWith(".parquet")).toLong)
      }.toSeq.toDF("date", "n_files")
    rows.join(files, "date")
      .select(col("date"), col("rows"), col("n_files"))
  }

  val s13Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte}
       |SELECT 'd' || strftime("timestamp", '%Y%m%d') AS date,
       |  count(*) AS rows,
       |  CAST(ceil(count(*) / 200.0) AS BIGINT) AS n_files
       |FROM trades GROUP BY 1""".stripMargin

  /** S4/S5-through-JDBC, in the registry: the streaming ingest driven
    * end-to-end into the [[graft.streaming.JdbcBatchSink]] (embedded
    * Derby standing in for the warehouse — same JDBC path a
    * ClickHouse driver would take), then read BACK over JDBC and
    * audited. The oracle restates the landed aggregate from the raw
    * events table, so a sink that drops, duplicates or mangles rows
    * (or a broken batch-commit protocol re-appending on replay)
    * hash-mismatches. The 1-in-37 subset keeps the single-JVM Derby
    * insert off the bench's critical path; trade_ids are unique by
    * construction so the watermarked dedup is a pass-through and
    * landed == subset exactly. */
  def s14JdbcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val src = graft.util.TempDirs.scoped("s14-src")
    val ckpt = graft.util.TempDirs.scoped("s14-ckpt")
    val dbDir = graft.util.TempDirs.scoped("s14-derby")
    val trades = SyntheticTrades.trades(s, dir)
      .filter(col("trade_id").cast("long") % 37 === 0)
      .select("trade_id", "underlying", "timestamp", "amount")
    trades.write.parquet(s"$src/pages")
    val ss = streamSession(s)
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val sink = graft.streaming.BatchSink.forMode("jdbc", s"$url#trades_rt")
    val q = StreamingIngest.startIngestTo(ss, s"$src/pages", trades.schema,
      sink, ckpt)
    try q.processAllAvailable() finally q.stop()
    val back = s.read
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .jdbc(url, "trades_rt", new java.util.Properties)
    back.agg(
      count(lit(1)).as("rows_landed"),
      countDistinct(col("trade_id")).as("unique_ids"),
      graft.util.Parity.dsum(col("amount")).as("total_amount"),
      min(unix_timestamp(col("timestamp"))).as("min_ep"),
      max(unix_timestamp(col("timestamp"))).as("max_ep"))
  }

  val s14Oracle: String =
    s"""WITH ${graft.queries.OracleCtes.enriched},
       |sub AS (
       |  SELECT * FROM enriched WHERE CAST(trade_id AS BIGINT) % 37 = 0
       |)
       |SELECT CAST(count(*) AS BIGINT) AS rows_landed,
       |  CAST(count(DISTINCT trade_id) AS BIGINT) AS unique_ids,
       |  ${duckDsum("amount")} AS total_amount,
       |  min(ep) AS min_ep, max(ep) AS max_ep
       |FROM sub""".stripMargin

  /** §2.9 + J2, OUTER: left-outer stream-stream bucket join — the
    * coverage-monitor shape (st3 is the inner twin): trades in
    * buckets where the thinned tick feed is silent emit with a null
    * tick side once the global watermark passes their bucket. The
    * tick side keeps only even 15-min buckets, so roughly half the
    * trades exercise the null path; the oracle states BOTH sets —
    * all matches, plus unmatched trades whose bucket end is at or
    * below the final global watermark (min over the two sides of
    * max event-time-ms − 30 min, the engine's multi-watermark `min`
    * policy). */
  def st13StreamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val src = graft.util.TempDirs.scoped("st13-src")
    val ckpt = graft.util.TempDirs.scoped("st13-ckpt")
    val trades = SyntheticTrades.trades(s, dir)
      .filter(col("trade_id").cast("long") % 97 === 0)
      .select("trade_id", "underlying", "timestamp")
    val ticks = SyntheticTrades.spotTicks(s, dir)
      .filter(expr("(unix_timestamp(timestamp) div 900) % 2") === 0)
    trades.write.mode("overwrite").parquet(s"$src/trades")
    ticks.write.mode("overwrite").parquet(s"$src/ticks")
    val ss = streamSession(s)
    val tStream = ss.readStream.schema(trades.schema).parquet(s"$src/trades")
    val kStream = ss.readStream.schema(ticks.schema).parquet(s"$src/ticks")
    val q = StreamingIngest.spotTickLeftJoin(tStream, kStream)
      .writeStream.format("memory").queryName("st13_ljoin")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    org.apache.spark.sql.GraftBridge.bindTo(ss.table("st13_ljoin"), s)
  }

  val st13Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |${SyntheticTrades.spotCte},
       |t AS (
       |  SELECT trade_id, underlying,
       |    ${duckEpochS("\"timestamp\"")} AS ep
       |  FROM trades WHERE CAST(trade_id AS BIGINT) % 97 = 0
       |),
       |k AS (
       |  SELECT symbol, ep, close FROM (
       |    SELECT symbol, ${duckEpochS("\"timestamp\"")} AS ep, close
       |    FROM spot_ticks
       |  ) WHERE (ep // 900) % 2 = 0
       |),
       |matched AS (
       |  SELECT t.trade_id, t.underlying, t.ep AS trade_ep,
       |    t.ep - t.ep % 900 AS bucket_ep, k.ep AS tick_ep, k.close
       |  FROM t JOIN k ON k.symbol = t.underlying
       |    AND k.ep - k.ep % 900 = t.ep - t.ep % 900
       |),
       |wm AS (
       |  SELECT least(
       |    (SELECT max(epoch_ms("timestamp")) FROM trades
       |     WHERE CAST(trade_id AS BIGINT) % 97 = 0),
       |    (SELECT max(epoch_ms("timestamp"))
       |     FROM (SELECT ${duckEpochS("\"timestamp\"")} AS ep, "timestamp"
       |           FROM spot_ticks) WHERE (ep // 900) % 2 = 0)
       |  ) - 1800000 AS wm_ms
       |),
       |unmatched AS (
       |  SELECT t.trade_id, t.underlying, t.ep AS trade_ep,
       |    t.ep - t.ep % 900 AS bucket_ep,
       |    CAST(NULL AS BIGINT) AS tick_ep, CAST(NULL AS DOUBLE) AS close
       |  FROM t, wm
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM k WHERE k.symbol = t.underlying
       |      AND k.ep - k.ep % 900 = t.ep - t.ep % 900)
       |    AND (t.ep - t.ep % 900 + 900) * 1000 <= wm_ms
       |)
       |SELECT * FROM matched
       |UNION ALL
       |SELECT * FROM unmatched""".stripMargin

  /** S15: schema-evolution read — the lake reality the reference's
    * fixed DDL hides (its ALTERs are manual, `schema.py`): an old
    * ingest epoch wrote (trade_id, underlying, amount), a later one
    * added `iv`. The merged read (`mergeSchema` + partition
    * discovery over `epoch=N` dirs) must surface old rows with a
    * null `iv`, keep both epochs' rows intact, and type the merged
    * column once — the audit states per-underlying totals, iv
    * coverage and the epoch count, and the oracle restates them from
    * the raw table with the v1 rows' iv nulled by construction. At
    * scale this is the contract that lets a 100 TB store evolve
    * columns without rewriting history. */
  def s15SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val lake = graft.util.TempDirs.scoped("s15-lake")
    val t = SyntheticTrades.trades(s, dir)
    t.filter(col("trade_id").cast("long") % 41 === 0)
      .select("trade_id", "underlying", "amount")
      .write.mode("overwrite").parquet(s"$lake/epoch=1")
    t.filter(col("trade_id").cast("long") % 43 === 0)
      .select("trade_id", "underlying", "amount", "iv")
      .write.mode("overwrite").parquet(s"$lake/epoch=2")
    s.read.option("mergeSchema", "true").parquet(lake)
      .groupBy(col("underlying"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("iv")).as("n_with_iv"),
        graft.util.Parity.dsum(col("amount")).as("amount_sum"),
        countDistinct(col("epoch")).as("n_epochs"))
  }

  val s15Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |u AS (
       |  SELECT underlying, amount, CAST(NULL AS DOUBLE) AS iv, 1 AS ep
       |  FROM trades WHERE CAST(trade_id AS BIGINT) % 41 = 0
       |  UNION ALL
       |  SELECT underlying, amount, iv, 2 AS ep
       |  FROM trades WHERE CAST(trade_id AS BIGINT) % 43 = 0
       |)
       |SELECT underlying, count(*) AS n_rows,
       |  count(iv) AS n_with_iv,
       |  ${duckDsum("amount")} AS amount_sum,
       |  CAST(count(DISTINCT ep) AS BIGINT) AS n_epochs
       |FROM u GROUP BY 1""".stripMargin

  /** S18: dynamic-partition-overwrite re-ingest — the idempotent
    * day-level correction pattern a 100 TB store lives by: the tape
    * loads once day-partitioned, then ONE day re-ingests with
    * corrected prices (×2 here) under
    * `partitionOverwriteMode=dynamic`, which rewrites exactly the
    * partitions present in the incoming frame and leaves every other
    * day's files untouched (static mode would truncate the whole
    * table first — the classic re-ingest footgun). The audit reads
    * the store back per day; the oracle states the expected mixture
    * (all other days original, the corrected day doubled), so a
    * whole-table truncate OR a failure to rewrite the target day
    * both break the hash. Partition-column types are pinned on
    * read-back (directory inference yields INT). */
  def s18DynamicOverwrite(s: SparkSession, dir: String): DataFrame = {
    val lake = graft.util.TempDirs.scoped("s18-lake")
    val t = SyntheticTrades.trades(s, dir)
      .withColumn("_ep", unix_timestamp(col("timestamp")))
      .withColumn("day", expr("_ep div 86400L"))
      .select(col("trade_id"), col("underlying"), col("price"),
        col("amount"), col("day"))
    t.write.partitionBy("day").mode("overwrite").parquet(lake)
    val d0 = t.agg(min(col("day")).as("_d0"))
    val corrected = t
      .join(broadcast(d0), col("day") === col("_d0"))
      .drop("_d0")
      .withColumn("price", col("price") * 2.0)
    corrected.write.partitionBy("day").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(lake)
    s.read.parquet(lake)
      .withColumn("day", col("day").cast("long"))
      .groupBy(col("day"))
      .agg(
        count(lit(1)).as("n_rows"),
        dsum(col("price")).as("price_sum"),
        dsum(col("amount")).as("amount_sum"))
  }

  val s18Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |t AS (
       |  SELECT ${duckEpochS("\"timestamp\"")} // 86400 AS day,
       |    price, amount
       |  FROM trades
       |),
       |d0 AS (SELECT min(day) AS d0 FROM t),
       |fin AS (
       |  SELECT day, price, amount FROM t
       |  WHERE day > (SELECT d0 FROM d0)
       |  UNION ALL
       |  SELECT day, price * 2.0 AS price, amount FROM t
       |  WHERE day = (SELECT d0 FROM d0)
       |)
       |SELECT day, count(*) AS n_rows,
       |  ${duckDsum("price")} AS price_sum,
       |  ${duckDsum("amount")} AS amount_sum
       |FROM fin GROUP BY 1""".stripMargin

  /** S20: manifest-based snapshot reads / time travel
    * ([[graft.sources.SnapshotStore]]) — the lakehouse contract a
    * 100 TB store needs for reproducible reads: v1 loads the even
    * trades, v2 appends the odd ones, v3 COMPACTS (replace-commit of
    * the same logical rows). The audit reads ALL THREE versions after
    * v3 exists and aggregates each: v1 must still show only the even
    * half (old snapshots survive later commits), and v2 == v3
    * logically (compaction changes layout, never content). The oracle
    * states the three expected states straight from the tape, so a
    * manifest that leaks new files into an old version, loses files,
    * or double-counts after compaction breaks the hash. */
  def s20SnapshotRead(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotStore
    val root = graft.util.TempDirs.scoped("s20-snap")
    val t = SyntheticTrades.trades(s, dir)
      .select(col("trade_id").cast("long").as("tid"), col("amount"))
    SnapshotStore.commitReplace(t.filter(col("tid") % 2 === 0), root)
    SnapshotStore.commitAppend(t.filter(col("tid") % 2 === 1), root)
    SnapshotStore.commitReplace(
      SnapshotStore.read(s, root).coalesce(2), root)
    (1 to 3).map { v =>
      SnapshotStore.read(s, root, Some(v))
        .agg(count(lit(1)).as("n_rows"), dsum(col("amount")).as("amount_sum"))
        .select(lit(v).as("version"), col("n_rows"), col("amount_sum"))
    }.reduce(_.unionAll(_))
  }

  val s20Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |t AS (
       |  SELECT CAST(trade_id AS BIGINT) AS tid, amount FROM trades
       |),
       |v1 AS (
       |  SELECT 1 AS version, count(*) AS n_rows,
       |    ${duckDsum("amount")} AS amount_sum
       |  FROM t WHERE tid % 2 = 0
       |),
       |vall AS (
       |  SELECT count(*) AS n_rows,
       |    ${duckDsum("amount")} AS amount_sum
       |  FROM t
       |)
       |SELECT * FROM v1
       |UNION ALL SELECT 2 AS version, n_rows, amount_sum FROM vall
       |UNION ALL SELECT 3 AS version, n_rows, amount_sum FROM vall"""
      .stripMargin

  /** S21: manifest-level data skipping — the [[graft.sources.SnapshotStore]]
    * stats sidecar in action. Two stats-commits land the events table
    * range-partitioned on `event_id` (tight per-file [min, max]);
    * the read resolves a mid-range predicate AGAINST THE SIDECAR
    * first, so only overlapping files reach the parquet scan, then
    * applies the row predicate on top. The oracle states the
    * semantic contract — the pruned read equals a plain filtered
    * read — while `SnapshotSpec`/`Round12Spec` pin that skipping
    * actually dropped files. Driver-side work is file-count-sized
    * metadata plus one 1-row bounds aggregate. */
  def s21ManifestPrune(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{SnapshotRead, SnapshotStore}
    val root = graft.util.TempDirs.scoped("s21-prune")
    val ev = graft.util.Tables.load(s, dir, "events")
      .select(col("event_id"), col("value"))
    SnapshotStore.commitAppendWithStats(
      ev.filter(col("event_id") % 2 === 0), root, "event_id")
    SnapshotStore.commitAppendWithStats(
      ev.filter(col("event_id") % 2 === 1), root, "event_id")
    val b = ev.agg(min(col("event_id")).as("mn"),
      max(col("event_id")).as("mx")).head()
    val (mn, mx) = (b.getAs[Long]("mn"), b.getAs[Long]("mx"))
    val lo = mn + (mx - mn) / 4
    val hi = mn + (mx - mn) / 2
    SnapshotRead.plan(s, root, range = Some(("event_id", lo, hi))).df
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("event_id")).as("n_ids"),
        dsum(col("value")).as("value_sum"))
  }

  val s21Oracle: String =
    s"""WITH b AS (
       |  SELECT min(event_id) AS mn, max(event_id) AS mx FROM events
       |),
       |f AS (
       |  SELECT event_id, value FROM events, b
       |  WHERE event_id >= mn + (mx - mn) // 4
       |    AND event_id <= mn + (mx - mn) // 2
       |)
       |SELECT count(*) AS n_rows, count(DISTINCT event_id) AS n_ids,
       |  ${duckDsum("value")} AS value_sum
       |FROM f""".stripMargin

  /** S24: copy-on-write row-level DELETE on the snapshot store
    * ([[graft.sources.SnapshotStore.deleteRows]]) — the takedown /
    * right-to-be-forgotten commit. Two stats-commits land the events
    * table range-partitioned on `event_id`; the delete targets
    * clicks inside the middle quartile range, pruning the rewrite
    * candidate set against the v2 stats sidecar first. The audit
    * reads the PRE-delete version (must still contain every deleted
    * row — time travel is unchanged) and the post-delete head (must
    * contain none), and re-derives both states from the base table
    * in SQL. `advanced` pins that the delete actually moved the
    * version (there are matching rows at every SF). File-level
    * behavior — only hit files rewritten, survivors carried BY PATH —
    * is pinned by `Round13Spec`. */
  def s24RowDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotStore
    val root = graft.util.TempDirs.scoped("s24-del")
    val ev = graft.util.Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    SnapshotStore.commitAppendWithStats(
      ev.filter(col("event_id") % 2 === 0), root, "event_id")
    SnapshotStore.commitAppendWithStats(
      ev.filter(col("event_id") % 2 === 1), root, "event_id")
    val b = ev.agg(min(col("event_id")).as("mn"),
      max(col("event_id")).as("mx")).head()
    val (mn, mx) = (b.getAs[Long]("mn"), b.getAs[Long]("mx"))
    val lo = mn + (mx - mn) / 4
    val hi = mn + (mx - mn) / 2
    val pred = col("event_id") >= lo && col("event_id") <= hi &&
      col("event_type") === "click"
    val (v3, _, _) = SnapshotStore.deleteRows(s, root, pred,
      pruneRange = Some(("event_id", lo, hi)))
    Seq("pre_delete" -> 2, "post_delete" -> v3).map { case (phase, v) =>
      SnapshotStore.read(s, root, Some(v))
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("value")).as("value_sum"),
          count(when(pred, 1)).as("n_matching"))
        .select(lit(phase).as("phase"), col("n_rows"),
          col("value_sum"), col("n_matching"),
          lit(v3 == 3).as("advanced"))
    }.reduce(_.unionAll(_))
  }

  val s24Oracle: String =
    s"""WITH b AS (
       |  SELECT min(event_id) AS mn, max(event_id) AS mx FROM events
       |),
       |m AS (
       |  SELECT value,
       |    (event_id >= mn + (mx - mn) // 4
       |     AND event_id <= mn + (mx - mn) // 2
       |     AND event_type = 'click') AS del
       |  FROM events, b
       |),
       |adv AS (SELECT count(CASE WHEN del THEN 1 END) > 0 AS a FROM m)
       |SELECT 'pre_delete' AS phase, count(*) AS n_rows,
       |  ${duckDsum("value")} AS value_sum,
       |  count(CASE WHEN del THEN 1 END) AS n_matching,
       |  (SELECT a FROM adv) AS advanced
       |FROM m
       |UNION ALL
       |SELECT 'post_delete' AS phase, count(*) AS n_rows,
       |  ${duckDsum("value")} AS value_sum,
       |  CAST(0 AS BIGINT) AS n_matching, (SELECT a FROM adv) AS advanced
       |FROM m WHERE NOT del""".stripMargin

  /** §2.9 + J5: stream-stream AS-OF join
    * ([[StreamingIngest.asofSpotStream]]) — trades pair with the
    * latest 15-min spot tick at or before them as BOTH streams
    * arrive; Structured Streaming has no native as-of, so the two
    * sides ride one type-tagged keyed stream through the
    * watermark-ordered replay state machine. The oracle is DuckDB's
    * native ASOF JOIN over the watermark-covered prefix (cutoff =
    * max µs over BOTH sides div 1000 − 30 min, the union stream's
    * watermark). */
  def st17StreamAsof(s: SparkSession, dir: String): DataFrame = {
    val t = SyntheticTrades.trades(s, dir)
    val tradeSide = t
      .filter(col("trade_id").cast("long") % 31 === 0)
      .select(col("underlying"), col("timestamp").as("ts"),
        lit(1).as("side"), col("trade_id").cast("long").as("id"),
        lit(0.0).as("px"))
    val ep = unix_timestamp(col("timestamp"))
    val spotSide = t
      .where(col("index_price").isNotNull)
      .withColumn("bs", ep - ep % 900)
      .groupBy(col("underlying"), col("bs"))
      // lexicographic struct-max, not max_by(px, ts): two ticks
      // sharing the bucket-max timestamp would make a bare max_by /
      // arg_max pick engine-nondeterministically — the composite key
      // breaks the tie on price identically in Spark and DuckDB
      .agg(max(struct(col("timestamp"), col("index_price")))
        .getField("index_price").as("px"))
      .select(col("underlying"), timestamp_seconds(col("bs")).as("ts"),
        lit(0).as("side"), lit(0L).as("id"), col("px"))
    boundedStream(s, "st17", tradeSide.unionAll(spotSide),
      "st17_asof")(raw => StreamingIngest.asofSpotStream(raw).toDF())
  }

  val st17Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |tr AS (
       |  SELECT underlying, CAST(trade_id AS BIGINT) AS trade_id,
       |    epoch_us("timestamp") AS us
       |  FROM trades WHERE CAST(trade_id AS BIGINT) % 31 = 0
       |),
       |sp AS (
       |  SELECT underlying, (ep - ep % 900) * 1000000 AS us,
       |    (max({'t': "timestamp", 'p': index_price})).p AS px
       |  FROM (SELECT *, ${duckEpochS("\"timestamp\"")} AS ep FROM trades
       |        WHERE index_price IS NOT NULL)
       |  GROUP BY 1, 2
       |),
       |wm AS (
       |  SELECT ((max(us) // 1000) - 1800000) * 1000 AS cut
       |  FROM (SELECT us FROM tr UNION ALL SELECT us FROM sp)
       |),
       |trc AS (SELECT tr.* FROM tr, wm WHERE us <= cut),
       |spc AS (SELECT sp.* FROM sp, wm WHERE us <= cut)
       |SELECT trc.trade_id, trc.us AS trade_us,
       |  spc.us AS spot_us, spc.px AS spot_price
       |FROM trc ASOF JOIN spc
       |  ON trc.underlying = spc.underlying AND trc.us >= spc.us"""
      .stripMargin

  /** S25: row-level changelog between snapshot versions
    * ([[graft.sources.SnapshotStore.snapshotDiff]]) — v1 appends the
    * even-id half, a copy-on-write delete then drops the click rows
    * with id % 14 = 0 (REWRITING every hit file's survivors into
    * fresh files), and v3 appends the odd-id half. The v1→v3 diff
    * must surface ONLY the true adds (odd half) and removes (deleted
    * clicks): carried files cancel by path without being read, and
    * the rewrite's survivor rows cancel in the signed multiset
    * aggregate. Round13bSpec additionally pins that no carried file
    * path appears in the diff's scan. */
  def s25SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotStore
    val root = graft.util.TempDirs.scoped("s25-diff")
    val ev = graft.util.Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val v1 = SnapshotStore.commitAppend(
      ev.filter(col("event_id") % 2 === 0), root)
    SnapshotStore.deleteRows(s, root,
      col("event_type") === "click" && col("event_id") % 14 === 0)
    val v3 = SnapshotStore.commitAppend(
      ev.filter(col("event_id") % 2 === 1), root)
    SnapshotStore.snapshotDiff(s, root, v1, v3)
      .groupBy(col("change"), col("event_type"))
      .agg(sum(col("n")).as("n_rows"), dsum(col("value")).as("value_sum"))
  }

  val s25Oracle: String =
    s"""SELECT 'removed' AS change, event_type,
       |  count(*) AS n_rows, ${duckDsum("value")} AS value_sum
       |FROM events
       |WHERE event_id % 2 = 0 AND event_type = 'click'
       |  AND event_id % 14 = 0
       |GROUP BY 2
       |UNION ALL
       |SELECT 'added' AS change, event_type,
       |  count(*) AS n_rows, ${duckDsum("value")} AS value_sum
       |FROM events WHERE event_id % 2 = 1
       |GROUP BY 2""".stripMargin

  /** S26: ORC as a second columnar source/sink format — the same
    * trades written as time-sorted ORC stripes and read back through
    * a pushed-down predicate (string equality + numeric range BOTH
    * reach the ORC reader — pinned by the plan assertion in
    * Round13bSpec). The parquet-vs-ORC choice is then a layout
    * decision, not a capability one; the oracle aggregates the same
    * predicate over the base trades, so any pushdown-induced row loss
    * breaks the hash. */
  def s26OrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.util.TempDirs.scoped("s26-orc")
    SyntheticTrades.trades(s, dir)
      .select(col("trade_id"), col("underlying"),
        unix_timestamp(col("timestamp")).as("ep"),
        col("price"), col("amount"))
      .repartition(4)
      .sortWithinPartitions(col("ep"))
      .write.mode("overwrite").orc(root)
    s.read.orc(root)
      .where(col("underlying") === "BTC" && col("price") > 0.03)
      .groupBy(col("underlying"))
      .agg(count(lit(1)).as("n_trades"),
        dsum(col("amount")).as("amount_sum"),
        min(col("ep")).as("first_ep"),
        max(col("ep")).as("last_ep"))
  }

  val s26Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte}
       |SELECT underlying, count(*) AS n_trades,
       |  ${duckDsum("amount")} AS amount_sum,
       |  min(${duckEpochS("\"timestamp\"")}) AS first_ep,
       |  max(${duckEpochS("\"timestamp\"")}) AS last_ep
       |FROM trades
       |WHERE underlying = 'BTC' AND price > 0.03
       |GROUP BY 1""".stripMargin

  /** S27: declarative data-contract checks
    * ([[graft.operators.DataQuality.expectations]]) — the dbt/Deequ
    * expectations layer over the warehouse tables: not-null,
    * uniqueness, accepted values, numeric range, and referential
    * integrity, each one aggregate (checks on a table fuse into one
    * scan). The oracle restates every check in SQL. */
  def s27Expectations(s: SparkSession, dir: String): DataFrame =
    graft.operators.DataQuality.expectations(
      graft.util.Tables.load(s, dir, "lineitem"),
      graft.util.Tables.load(s, dir, "orders"))

  val s27Oracle: String =
    s"""WITH li AS (
       |  SELECT count(*) AS n,
       |    count(CASE WHEN l_orderkey IS NULL THEN 1 END) AS null_ok,
       |    count(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 END)
       |      AS range_qty
       |  FROM lineitem
       |),
       |o AS (
       |  SELECT count(*) AS n,
       |    count(*) - count(DISTINCT o_orderkey) AS dups,
       |    count(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1
       |      END) AS bad_status,
       |    count(CASE WHEN o_totalprice < 0 THEN 1 END) AS neg_price
       |  FROM orders
       |),
       |orph AS (
       |  SELECT (SELECT count(*) FROM lineitem) AS n,
       |    count(*) AS orphans
       |  FROM lineitem l ANTI JOIN orders r
       |    ON l.l_orderkey = r.o_orderkey
       |)
       |SELECT 'not_null:l_orderkey' AS check_name,
       |  'lineitem' AS table_name, n AS n_rows,
       |  null_ok AS n_violations, null_ok = 0 AS passed FROM li
       |UNION ALL
       |SELECT 'range:l_quantity[1,50]', 'lineitem', n, range_qty,
       |  range_qty = 0 FROM li
       |UNION ALL
       |SELECT 'unique:o_orderkey', 'orders', n, dups, dups = 0 FROM o
       |UNION ALL
       |SELECT 'accepted:o_orderstatus', 'orders', n, bad_status,
       |  bad_status = 0 FROM o
       |UNION ALL
       |SELECT 'non_negative:o_totalprice', 'orders', n, neg_price,
       |  neg_price = 0 FROM o
       |UNION ALL
       |SELECT 'ref:l_orderkey->o_orderkey', 'lineitem', n, orphans,
       |  orphans = 0 FROM orph""".stripMargin

  /** S22: named tags over snapshot versions — the Iceberg/Delta "tag"
    * primitive on [[graft.sources.SnapshotStore]]: `baseline` is
    * tagged at v1, the table then grows (append) AND is compacted
    * (replace), and reading the tag must return v1 byte-identical —
    * tags pin manifests, manifests pin files, and replace commits
    * never delete data files. `release` tags the compacted head. The
    * oracle restates both snapshots' contents from the base table. */
  def s22SnapshotTag(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{SnapshotRead, SnapshotStore}
    val root = graft.util.TempDirs.scoped("s22-tag")
    val t = SyntheticTrades.trades(s, dir)
      .select(col("trade_id").cast("long").as("tid"), col("amount"))
    SnapshotStore.commitReplace(t.filter(col("tid") % 3 === 0), root)
    SnapshotStore.tag(root, "baseline")
    SnapshotStore.commitAppend(t.filter(col("tid") % 3 =!= 0), root)
    SnapshotStore.commitReplace(
      SnapshotStore.read(s, root).coalesce(2), root)
    SnapshotStore.tag(root, "release")
    Seq("baseline", "release").map { tg =>
      SnapshotRead.plan(s, root, tag = Some(tg)).df
        .agg(count(lit(1)).as("n_rows"), dsum(col("amount")).as("amount_sum"))
        .select(lit(tg).as("tag"), col("n_rows"), col("amount_sum"))
    }.reduce(_.unionAll(_))
  }

  val s22Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |t AS (
       |  SELECT CAST(trade_id AS BIGINT) AS tid, amount FROM trades
       |),
       |base AS (
       |  SELECT 'baseline' AS tag, count(*) AS n_rows,
       |    ${duckDsum("amount")} AS amount_sum
       |  FROM t WHERE tid % 3 = 0
       |),
       |rel AS (
       |  SELECT 'release' AS tag, count(*) AS n_rows,
       |    ${duckDsum("amount")} AS amount_sum
       |  FROM t
       |)
       |SELECT * FROM base UNION ALL SELECT * FROM rel""".stripMargin

  /** S23: incremental small-file compaction — the OPTIMIZE pass a
    * streaming-ingested lakehouse table needs: a 12-file tiny commit
    * plus a 2-file healthy commit, then
    * [[graft.sources.SnapshotStore.compactSmall]] merges ONLY the
    * sub-8 KiB files and carries the 2 large files by path. The
    * oracle states the readers' contract — the compacted head is
    * content-identical to the base table (file counts are a function
    * of the write plan and sf, so they are pinned by the controlled
    * `Round12Spec` store, not hash-gated here); a `did_merge` flag
    * gates that compaction actually rewrote the manifest whenever
    * tiny files existed (the tiny commit is non-empty at every
    * shipped sf). */
  def s23CompactSmall(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotStore
    val root = graft.util.TempDirs.scoped("s23-compact")
    val t = SyntheticTrades.trades(s, dir)
      .select(col("trade_id").cast("long").as("tid"), col("amount"))
    SnapshotStore.commitAppend(
      t.filter(col("tid") % 1000 === 0).repartition(12), root)
    SnapshotStore.commitAppend(
      t.filter(col("tid") % 1000 =!= 0).repartition(2), root)
    val (v, nMerged, nCarried) =
      SnapshotStore.compactSmall(s, root, minBytes = 8L * 1024)
    SnapshotStore.read(s, root, Some(v))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("tid")).as("n_ids"),
        dsum(col("amount")).as("amount_sum"))
      .select(lit(nMerged > 0 && nCarried > 0 && v == 3).as("did_merge"),
        col("n_rows"), col("n_ids"), col("amount_sum"))
  }

  val s23Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |t AS (
       |  SELECT CAST(trade_id AS BIGINT) AS tid, amount FROM trades
       |)
       |SELECT true AS did_merge,
       |  count(*) AS n_rows, count(DISTINCT tid) AS n_ids,
       |  ${duckDsum("amount")} AS amount_sum
       |FROM t""".stripMargin

  /** ST15: STREAMING commits into the snapshot store — each
    * micro-batch lands as one [[graft.sources.SnapshotStore]] append
    * commit (`foreachBatch`), so the store's version history IS the
    * stream's progress: any version replays the prefix of the stream
    * it was committed at. The audit checks the batching-independent
    * facts — the FINAL state equals the input exactly (count /
    * distinct ids / decimal sum, stated by the oracle) and the
    * per-version row counts are monotone non-decreasing — rather
    * than the version COUNT, which is a function of file batching
    * (maxFilesPerTrigger), not of content. */
  /** §2.9 CEP: streaming funnel conversions — ev2's greedy
    * view→click→purchase chain detected by per-user state
    * ([[StreamingIngest.funnelConversions]]: watermark-ordered buffer
    * replay + event-time timeouts), emitted at completion. The oracle
    * is the batch greedy chain restricted to events the stream-end
    * watermark covers: wm_ms = max(us) div 1000 − 24 h, an event is
    * processed iff us ≤ wm_ms·1000, and a conversion exists iff its
    * t3 (hence t1, t2) clears that cutoff — conversions completing in
    * the final day are still buffered when the tape ends, exactly as
    * the operator contract states. */
  def st16StreamFunnel(s: SparkSession, dir: String): DataFrame =
    boundedStream(s, "st16",
      graft.util.Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type")),
      "st16_funnel")(raw =>
      StreamingIngest.funnelConversions(raw,
        Seq("view", "click", "purchase"), windowSec = 2L * 86400L).toDF())

  val st16Oracle: String = {
    val winUs = 2L * 86400L * 1000000L
    val delayMs = 24L * 3600L * 1000L
    s"""WITH sev AS (
       |  SELECT user_id, epoch_us(ts) AS us, event_type
       |  FROM events
       |  WHERE event_type IN ('view', 'click', 'purchase')
       |),
       |wm AS (
       |  SELECT (max(us) // 1000 - $delayMs) * 1000 AS cut FROM sev
       |),
       |cev AS (
       |  SELECT user_id, us, event_type FROM sev, wm WHERE us <= cut
       |),
       |t1 AS (
       |  SELECT user_id, min(us) AS t1_us FROM cev
       |  WHERE event_type = 'view' GROUP BY 1
       |),
       |t2 AS (
       |  SELECT cev.user_id, min(us) AS t2_us
       |  FROM cev JOIN t1 USING (user_id)
       |  WHERE event_type = 'click'
       |    AND us > t1_us AND us <= t1_us + ${winUs}::BIGINT
       |  GROUP BY 1
       |),
       |t3 AS (
       |  SELECT cev.user_id, min(us) AS t3_us
       |  FROM cev JOIN t2 USING (user_id) JOIN t1 USING (user_id)
       |  WHERE event_type = 'purchase'
       |    AND us > t2_us AND us <= t1_us + ${winUs}::BIGINT
       |  GROUP BY 1
       |)
       |SELECT t1.user_id, t1_us, t2_us, t3_us
       |FROM t3 JOIN t2 USING (user_id) JOIN t1 USING (user_id)""".stripMargin
  }

  def st15StreamSnapshot(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotStore
    val root = graft.util.TempDirs.scoped("st15-snap")
    val src = graft.util.TempDirs.scoped("st15-src")
    val ckpt = graft.util.TempDirs.scoped("st15-ckpt")
    val t = SyntheticTrades.trades(s, dir)
      .filter(col("trade_id").cast("long") % 53 === 0)
      .select(col("trade_id").cast("long").as("tid"), col("amount"))
    t.repartition(3).write.parquet(s"$src/pages")
    val ss = streamSession(s)
    val raw = ss.readStream.schema(t.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/pages")
    val q = raw.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        // batchId-keyed writer token: a crash-replayed micro-batch
        // (same batchId) finds its token in a live manifest and the
        // commit no-ops — exactly-once into the store
        if (!batch.isEmpty) {
          SnapshotStore.commitAppend(batch, root, Some(s"st15:$batchId"))
          ()
        }
      }
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    val vmax = SnapshotStore.latestVersion(root)
    val counts = (1 to vmax).map(v =>
      SnapshotStore.read(s, root, Some(v)).count())
    val monotone = counts.zip(counts.drop(1)).forall { case (a, b) => a <= b }
    SnapshotStore.read(s, root)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("tid")).as("unique_ids"),
        dsum(col("amount")).as("amount_sum"))
      .select(col("n_rows"), col("unique_ids"), col("amount_sum"),
        lit(monotone).as("versions_monotone"))
  }

  val st15Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte}
       |SELECT count(*) AS n_rows,
       |  count(DISTINCT CAST(trade_id AS BIGINT)) AS unique_ids,
       |  ${duckDsum("amount")} AS amount_sum,
       |  true AS versions_monotone
       |FROM trades WHERE CAST(trade_id AS BIGINT) % 53 = 0""".stripMargin

  /** Shared CDC era derivation for s17 and s29 (batch) and st14
    * (streaming): the events tape split at its temporal midpoint
    * ('purchase' acting as the delete op), returned as the tagged
    * frame (u, event_id, op, v, us, is_base). The midpoint bound
    * rides a broadcast one-row aggregate (the a18 pattern). Not
    * materialized: each consumer re-reads events, which runs fewer
    * jobs than the barrier did and stays within the scan audit's cap. */
  private def cdcTagged(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.util.Tables.load(s, dir, "events")
      .select(col("user_id").as("u"), col("event_id"),
        when(col("event_type") === "purchase", "D").otherwise("U")
          .as("op"),
        col("value").as("v"), unix_micros(col("ts")).as("us"))
    val bounds = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
    ev.crossJoin(broadcast(bounds))
      .withColumn("is_base",
        col("us") < col("mn") + expr("(mx - mn) div 2"))
      .drop("mn", "mx")
  }

  private def cdcSnapshot(tagged: DataFrame): DataFrame =
    graft.operators.CdcMerge.latestState(
      tagged.filter(col("is_base")), "u", "op", "v", "us", "event_id")
      .filter(col("op") === "U")
      .select(col("u"), col("val"), col("us"))

  /** S17: SCD1 changelog merge ([[graft.operators.CdcMerge]]) — each
    * era collapses latest-wins per user, the base era's survivors
    * form the snapshot, and the change era merges over it. The whole
    * chain — split bound, both collapses, the full-outer apply, the
    * status labels — is re-derived in the oracle. Both latest-wins
    * collapses are `max_by` hash aggregates, not window sorts
    * (pinned in PlanAuditSpec). */
  def s17MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val tagged = cdcTagged(s, dir)
    val changes = graft.operators.CdcMerge.latestState(
      tagged.filter(!col("is_base")), "u", "op", "v", "us", "event_id")
    graft.operators.CdcMerge.merge(cdcSnapshot(tagged), changes, "u")
      .select(col("u").as("user_id"), col("val"), col("last_us"),
        col("status"))
  }

  /** ST14: STREAMING CDC apply — the change era arrives as parquet
    * files in micro-batches (maxFilesPerTrigger=1); every batch
    * collapses to its latest state and folds into an accumulating
    * versioned state table via the version-guarded
    * [[graft.operators.CdcMerge.reduceStates]]. Because that reduce
    * is commutative/associative and tombstones persist, the final
    * state is INDEPENDENT of how the files batch or in what order
    * they arrive — which is why this entry can be gated by the SAME
    * oracle as the batch merge (s17): any order-dependence bug
    * surfaces as a hash mismatch. The final read applies the batch
    * merge against the base-era snapshot to label statuses vs the
    * ORIGINAL snapshot (a sequential label would call a key inserted
    * in batch 0 and updated in batch 2 "updated"). */
  def st14StreamCdc(s: SparkSession, dir: String): DataFrame = {
    val src = graft.util.TempDirs.scoped("st14-src")
    val ckpt = graft.util.TempDirs.scoped("st14-ckpt")
    val stateRoot = graft.util.TempDirs.scoped("st14-state")
    val tagged = cdcTagged(s, dir)
    val chg = tagged.filter(!col("is_base"))
      .select(col("u"), col("event_id"), col("op"), col("v"), col("us"))
    // three files -> three micro-batches; the chunking key is
    // arbitrary BY DESIGN (order-independence is the contract)
    chg.repartition(3, pmod(col("event_id"), lit(3)))
      .write.parquet(s"$src/pages")
    val ss = streamSession(s)
    val raw = ss.readStream.schema(chg.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$src/pages")
    var lastVersion = -1L
    val q = raw.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bl = graft.operators.CdcMerge.latestState(
          batch, "u", "op", "v", "us", "event_id")
        val folded =
          if (lastVersion < 0) bl
          else graft.operators.CdcMerge.reduceStates(
            bl.unionByName(
              batch.sparkSession.read.parquet(s"$stateRoot/v=$lastVersion")),
            "u")
        folded.write.mode("overwrite").parquet(s"$stateRoot/v=$batchId")
        lastVersion = batchId
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    // zero micro-batches (empty change era) -> no state version was
    // ever written; degrade to the no-changes merge, not a dead read
    val finalState =
      if (lastVersion < 0)
        graft.operators.CdcMerge.latestState(
          chg.limit(0), "u", "op", "v", "us", "event_id")
      else org.apache.spark.sql.GraftBridge.bindTo(
        ss.read.parquet(s"$stateRoot/v=$lastVersion"), s)
    graft.operators.CdcMerge.merge(cdcSnapshot(tagged), finalState, "u")
      .select(col("u").as("user_id"), col("val"), col("last_us"),
        col("status"))
  }

  val s17Oracle: String = {
    def eraCte(pred: String, tag: String): String =
      s"""${tag}_rn AS (
         |  SELECT *, row_number() OVER (PARTITION BY u
         |    ORDER BY us DESC, event_id DESC) AS rn
         |  FROM tag WHERE $pred
         |),
         |$tag AS (SELECT u, op, v, us FROM ${tag}_rn WHERE rn = 1)"""
        .stripMargin
    s"""WITH ev AS (
       |  SELECT user_id AS u, event_id,
       |    CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op,
       |    value AS v, epoch_us(ts) AS us
       |  FROM events
       |),
       |b AS (SELECT min(us) AS mn, max(us) AS mx FROM ev),
       |tag AS (
       |  SELECT ev.*, us < mn + (mx - mn) // 2 AS is_base FROM ev, b
       |),
       |${eraCte("is_base", "base")},
       |${eraCte("NOT is_base", "chg")},
       |snap AS (SELECT u, v, us FROM base WHERE op = 'U')
       |SELECT coalesce(s.u, c.u) AS user_id,
       |  CASE WHEN c.op = 'U' THEN c.v ELSE s.v END AS val,
       |  CASE WHEN c.op = 'U' THEN c.us ELSE s.us END AS last_us,
       |  CASE WHEN c.op IS NULL THEN 'kept'
       |    WHEN s.u IS NULL THEN 'inserted'
       |    ELSE 'updated' END AS status
       |FROM snap s FULL JOIN chg c ON c.u = s.u
       |WHERE c.op IS NULL OR c.op = 'U'""".stripMargin
  }

  /** S28: snapshot retention / VACUUM
    * ([[graft.sources.SnapshotStore.expireVersions]]) — the
    * maintenance step [[graft.sources.SnapshotStore.deleteRows]]'s
    * scaladoc defers the physical purge to. v1 commits the even-id
    * half and is TAGGED; v2 appends the odd half (untagged); v3 is a
    * full rewrite dropping clicks. `expireVersions(keepLast = 1)`
    * must expire exactly v2, keep v1 alive through its tag, delete
    * v2's fresh data files from disk (no surviving manifest lists
    * them), and make reads of v2 fail loudly. The audit re-reads the
    * tagged snapshot and the head AFTER the purge and re-derives both
    * states from the base table; the boolean columns pin the
    * expire/fail/purge mechanics. */
  def s28ExpireSnapshots(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{SnapshotRead, SnapshotStore}
    val root = graft.util.TempDirs.scoped("s28-expire")
    val ev = graft.util.Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    SnapshotStore.commitAppend(ev.filter(col("event_id") % 2 === 0), root)
    SnapshotStore.tag(root, "audit", Some(1))
    SnapshotStore.commitAppend(ev.filter(col("event_id") % 2 === 1), root)
    SnapshotStore.commitReplace(
      SnapshotStore.read(s, root).filter(col("event_type") =!= "click"),
      root)
    // grace 0 is safe and EXPLICIT here: the store is query-local and
    // quiesced — no commit is concurrent with this vacuum
    val res = SnapshotStore.expireVersions(root, keepLast = 1,
      orphanGraceMs = 0L)
    val expiredFails =
      try { SnapshotStore.read(s, root, Some(2)); false }
      catch { case _: graft.QueryError => true }
    // physical purge proof: the parquet files on disk are EXACTLY the
    // union of the surviving manifests (driver-side file listing —
    // file-count-sized metadata, like the manifests themselves)
    val referenced = res.survivors
      .flatMap(SnapshotStore.filesAt(root, _)).toSet
    val onDisk = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(root, "data"))
        .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet
    }
    val mech = lit(expiredFails).as("expired_fails") ::
      lit(onDisk == referenced && res.deletedFiles > 0)
        .as("orphans_purged") ::
      lit(res.expired == Seq(2)).as("expired_v2") :: Nil
    Seq("tagged_v1" -> SnapshotRead.plan(s, root, tag = Some("audit")).df,
        "head" -> SnapshotStore.read(s, root)).map { case (phase, df) =>
      df.agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("value_sum"))
        .select(lit(phase).as("phase") +: col("n_rows") +:
          col("value_sum") +: mech: _*)
    }.reduce(_.unionAll(_))
  }

  val s28Oracle: String =
    s"""SELECT 'tagged_v1' AS phase, count(*) AS n_rows,
       |  ${duckDsum("value")} AS value_sum,
       |  true AS expired_fails, true AS orphans_purged,
       |  true AS expired_v2
       |FROM events WHERE event_id % 2 = 0
       |UNION ALL
       |SELECT 'head' AS phase, count(*) AS n_rows,
       |  ${duckDsum("value")} AS value_sum,
       |  true AS expired_fails, true AS orphans_purged,
       |  true AS expired_v2
       |FROM events WHERE event_type <> 'click'""".stripMargin

  /** S29: MERGE INTO the snapshot store
    * ([[graft.sources.SnapshotStore.commitMerge]]) — s17's SCD1
    * collapse COMMITTED as a snapshot version instead of computed
    * batch-side, closing the lakehouse write surface (append /
    * replace / delete / compact / merge). v1 commits the base-era
    * survivors; the change-era raw changelog merges in under the CAS
    * guard (concurrent-commit path exercised end-to-end in
    * `SnapshotSpec`). The audit reads BOTH versions after the merge:
    * v1 must still show the pre-merge rows (manifests pin files),
    * the head must equal the full-outer merge the s17 oracle chain
    * re-derives in SQL. */
  def s29SnapshotMerge(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotStore
    val root = graft.util.TempDirs.scoped("s29-merge")
    val tagged = cdcTagged(s, dir)
    SnapshotStore.commitAppend(cdcSnapshot(tagged), root)
    val chg = tagged.filter(!col("is_base"))
      .select(col("u"), col("event_id"), col("op"), col("v"), col("us"))
    val v2 = SnapshotStore.commitMerge(s, root, chg,
      "u", "op", "v", "us", "event_id")
    Seq("pre_merge" -> 1, "post_merge" -> 2).map { case (phase, v) =>
      SnapshotStore.read(s, root, Some(v))
        .agg(count(lit(1)).as("n_rows"), dsum(col("val")).as("val_sum"),
          max(col("us")).as("us_max"))
        .select(lit(phase).as("phase"), col("n_rows"), col("val_sum"),
          col("us_max"), lit(v2 == 2).as("advanced"))
    }.reduce(_.unionAll(_))
  }

  val s29Oracle: String = {
    def eraCte(pred: String, tag: String): String =
      s"""${tag}_rn AS (
         |  SELECT *, row_number() OVER (PARTITION BY u
         |    ORDER BY us DESC, event_id DESC) AS rn
         |  FROM tag WHERE $pred
         |),
         |$tag AS (SELECT u, op, v, us FROM ${tag}_rn WHERE rn = 1)"""
        .stripMargin
    s"""WITH ev AS (
       |  SELECT user_id AS u, event_id,
       |    CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op,
       |    value AS v, epoch_us(ts) AS us
       |  FROM events
       |),
       |b AS (SELECT min(us) AS mn, max(us) AS mx FROM ev),
       |tag AS (
       |  SELECT ev.*, us < mn + (mx - mn) // 2 AS is_base FROM ev, b
       |),
       |${eraCte("is_base", "base")},
       |${eraCte("NOT is_base", "chg")},
       |snap AS (SELECT u, v, us FROM base WHERE op = 'U'),
       |merged AS (
       |  SELECT coalesce(s.u, c.u) AS u,
       |    CASE WHEN c.op = 'U' THEN c.v ELSE s.v END AS val,
       |    CASE WHEN c.op = 'U' THEN c.us ELSE s.us END AS us
       |  FROM snap s FULL JOIN chg c ON c.u = s.u
       |  WHERE c.op IS NULL OR c.op = 'U'
       |)
       |SELECT 'pre_merge' AS phase, count(*) AS n_rows,
       |  ${duckDsum("v")} AS val_sum, max(us) AS us_max,
       |  true AS advanced
       |FROM snap
       |UNION ALL
       |SELECT 'post_merge' AS phase, count(*) AS n_rows,
       |  ${duckDsum("val")} AS val_sum, max(us) AS us_max,
       |  true AS advanced
       |FROM merged""".stripMargin
  }

  /** S30: MERGE INTO a snapshotted store of the trades table's OWN
    * schema ([[graft.sources.SnapshotStore.commitMergeRows]]) — the
    * ReplacingMergeTree late-correction story completed at the
    * lakehouse layer: v1 commits the `tid % 11` slice of the trades
    * fact table; a correction changelog then re-prices `tid % 33`
    * (seq 10) and `tid % 55` (seq 20 — later wins where both apply),
    * busts `tid % 22` ('D', seq 30 — wins over any reprice), and
    * inserts the previously-absent `tid % 11 = 5` slice, all in ONE
    * merge commit. The audit reads BOTH versions after the merge:
    * v1 must still show the pre-merge rows byte-identically
    * (manifests pin files), and the head must equal the MERGE result
    * the oracle re-derives in SQL (CASE-priced survivors + inserts). */
  def s30MergeTrades(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotStore
    val root = graft.util.TempDirs.scoped("s30-merge-rows")
    val t = SyntheticTrades.trades(s, dir).select(
      col("trade_id").cast("long").as("tid"), col("underlying"),
      col("price"), col("amount"), unix_micros(col("timestamp")).as("us"))
    val base = t.filter(col("tid") % 11 === 0)
    SnapshotStore.commitAppend(base, root)
    def chg(src: DataFrame, op: String, seq: Int): DataFrame =
      src.withColumn("op", lit(op)).withColumn("seq", lit(seq))
    val changes =
      chg(base.filter(col("tid") % 33 === 0)
          .withColumn("price", col("price") * 2), "U", 10)
        .unionByName(chg(base.filter(col("tid") % 55 === 0)
          .withColumn("price", col("price") * 3), "U", 20))
        .unionByName(chg(base.filter(col("tid") % 22 === 0), "D", 30))
        .unionByName(chg(t.filter(col("tid") % 11 === 5), "U", 10))
    val v2 = SnapshotStore.commitMergeRows(s, root, changes,
      "tid", "op", "seq", "tid")
    Seq("pre_merge" -> 1, "post_merge" -> 2).map { case (phase, v) =>
      SnapshotStore.read(s, root, Some(v))
        .agg(count(lit(1)).as("n_rows"), dsum(col("price")).as("price_sum"),
          dsum(col("amount")).as("amount_sum"), max(col("us")).as("us_max"))
        .select(lit(phase).as("phase"), col("n_rows"), col("price_sum"),
          col("amount_sum"), col("us_max"), lit(v2 == 2).as("advanced"))
    }.reduce(_.unionAll(_))
  }

  val s30Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |t AS (
       |  SELECT CAST(trade_id AS BIGINT) AS tid, underlying, price,
       |    amount, epoch_us("timestamp") AS us
       |  FROM trades
       |),
       |base AS (SELECT * FROM t WHERE tid % 11 = 0),
       |final AS (
       |  SELECT tid, underlying,
       |    CASE WHEN tid % 55 = 0 THEN price * 3
       |         WHEN tid % 33 = 0 THEN price * 2
       |         ELSE price END AS price,
       |    amount, us
       |  FROM base WHERE tid % 22 <> 0
       |  UNION ALL
       |  SELECT tid, underlying, price, amount, us FROM t
       |  WHERE tid % 11 = 5
       |)
       |SELECT 'pre_merge' AS phase, count(*) AS n_rows,
       |  ${duckDsum("price")} AS price_sum,
       |  ${duckDsum("amount")} AS amount_sum,
       |  max(us) AS us_max, true AS advanced
       |FROM base
       |UNION ALL
       |SELECT 'post_merge' AS phase, count(*) AS n_rows,
       |  ${duckDsum("price")} AS price_sum,
       |  ${duckDsum("amount")} AS amount_sum,
       |  max(us) AS us_max, true AS advanced
       |FROM final""".stripMargin

  /** S31: expectations quarantine sink
    * ([[graft.operators.DataQuality.quarantineSplit]]) — s27 reports
    * violations; real pipelines ALSO route the failing rows to a
    * quarantine table (dbt `--store-failures`). Two row-level checks
    * with natural violations in the data (quantity ≤ 30, returnflag
    * ∈ {A, N}) tag each lineitem row in ONE pass; the clean rows and
    * the quarantine rows (with their violated_checks label) each
    * land as a snapshot commit, and the audit aggregates FROM THE
    * COMMITTED STORES — so a row lost or misrouted between the split
    * and the sink breaks the hash, not just a report. The oracle
    * restates the split per check, including the rows that violate
    * BOTH checks (counted under each). */
  def s31Quarantine(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotStore
    val cleanRoot = graft.util.TempDirs.scoped("s31-clean")
    val quarRoot = graft.util.TempDirs.scoped("s31-quarantine")
    val li = graft.util.Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
    val checks = Seq(
      "range:l_quantity[1,30]" -> col("l_quantity").between(1, 30),
      "accepted:l_returnflag[A,N]" -> col("l_returnflag").isin("A", "N"))
    val (clean, quarantine) =
      graft.operators.DataQuality.quarantineSplit(li, checks)
    val vC = SnapshotStore.commitAppend(clean, cleanRoot)
    val vQ = SnapshotStore.commitAppend(quarantine, quarRoot)
    val committed = vC == 1 && vQ == 1
    val cleanDf = SnapshotStore.read(s, cleanRoot)
    val quarDf = SnapshotStore.read(s, quarRoot)
    def summarize(df: DataFrame, phase: String, check: String) =
      df.agg(count(lit(1)).as("n_rows"),
          dsum(col("l_quantity")).as("qty_sum"))
        .select(lit(phase).as("phase"), lit(check).as("check_name"),
          col("n_rows"), col("qty_sum"),
          lit(committed).as("committed"))
    summarize(cleanDf, "clean", "-")
      .unionAll(summarize(quarDf, "quarantine", "total"))
      .unionAll(checks.map { case (name, _) =>
        summarize(quarDf.filter(
          array_contains(split(col("violated_checks"), ";"), name)),
          "quarantine", name)
      }.reduce(_.unionAll(_)))
  }

  val s31Oracle: String =
    s"""WITH tagged AS (
       |  SELECT l_quantity,
       |    NOT (l_quantity BETWEEN 1 AND 30) AS v_range,
       |    l_returnflag NOT IN ('A', 'N') AS v_acc
       |  FROM lineitem
       |)
       |SELECT 'clean' AS phase, '-' AS check_name, count(*) AS n_rows,
       |  ${duckDsum("l_quantity")} AS qty_sum, true AS committed
       |FROM tagged WHERE NOT v_range AND NOT v_acc
       |UNION ALL
       |SELECT 'quarantine', 'total', count(*),
       |  ${duckDsum("l_quantity")}, true
       |FROM tagged WHERE v_range OR v_acc
       |UNION ALL
       |SELECT 'quarantine', 'range:l_quantity[1,30]', count(*),
       |  ${duckDsum("l_quantity")}, true
       |FROM tagged WHERE v_range
       |UNION ALL
       |SELECT 'quarantine', 'accepted:l_returnflag[A,N]', count(*),
       |  ${duckDsum("l_quantity")}, true
       |FROM tagged WHERE v_acc""".stripMargin

  /** ST18: snapshot retention UNDER the streaming ingest loop — the
    * maintenance companion to st15 and the operational proof for the
    * round-15 vacuum-race fix: every second micro-batch commit the
    * foreachBatch loop compacts the head (replace commit) and runs
    * `expireVersions(keepLast = 2)`, with one final pass after the
    * stream drains. Grace 0 is safe and EXPLICIT here because
    * foreachBatch serializes commits with the vacuum (single-writer
    * maintenance window); the tagged `baseline` (v1) must survive
    * every vacuum. The audit pins the batching-independent facts:
    * the final state equals the input exactly, versions stay bounded
    * at keepLast + tags, the vacuums physically purged orphaned
    * files, and the baseline tag still reads a non-empty subset of
    * the input. */
  def st18StreamVacuum(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{SnapshotRead, SnapshotStore}
    val root = graft.util.TempDirs.scoped("st18-snap")
    val src = graft.util.TempDirs.scoped("st18-src")
    val ckpt = graft.util.TempDirs.scoped("st18-ckpt")
    val t = SyntheticTrades.trades(s, dir)
      .filter(col("trade_id").cast("long") % 41 === 0)
      .select(col("trade_id").cast("long").as("tid"), col("amount"))
    t.repartition(4).write.parquet(s"$src/pages")
    val ss = streamSession(s)
    val raw = ss.readStream.schema(t.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/pages")
    var purged = 0L
    var nCommits = 0
    def maintain(): Unit = {
      SnapshotStore.commitReplace(
        SnapshotStore.read(s, root).coalesce(2), root)
      val res = SnapshotStore.expireVersions(root, keepLast = 2,
        orphanGraceMs = 0L)
      purged += res.deletedFiles
    }
    val q = raw.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          // idempotent under re-delivery even though maintain() may
          // move the head PAST this append: the token scan covers all
          // live manifests, and keepLast=2 + the baseline tag keep the
          // replay-eligible (most recent) commit's manifest alive
          val v = SnapshotStore.commitAppend(batch, root,
            Some(s"st18:$batchId"))
          if (v == 1) SnapshotStore.tag(root, "baseline", Some(1))
          nCommits += 1
          if (nCommits % 2 == 0) maintain()
        }
      }
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    maintain()
    val bounded = SnapshotStore.versions(root).size <= 3
    val baseline = SnapshotRead.plan(s, root, tag = Some("baseline")).df
    val baselineIntact =
      baseline.count() > 0 && baseline.exceptAll(t).count() == 0
    SnapshotStore.read(s, root)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("tid")).as("unique_ids"),
        dsum(col("amount")).as("amount_sum"))
      .select(col("n_rows"), col("unique_ids"), col("amount_sum"),
        lit(bounded).as("versions_bounded"),
        lit(purged > 0).as("orphans_purged"),
        lit(baselineIntact).as("baseline_intact"))
  }

  val st18Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte}
       |SELECT count(*) AS n_rows,
       |  count(DISTINCT CAST(trade_id AS BIGINT)) AS unique_ids,
       |  ${duckDsum("amount")} AS amount_sum,
       |  true AS versions_bounded, true AS orphans_purged,
       |  true AS baseline_intact
       |FROM trades WHERE CAST(trade_id AS BIGINT) % 41 = 0""".stripMargin

  /** S32: partition-spec evolution — v1 lands month-partitioned, v2
    * lands (month, underlying)-partitioned, and the layout-aware read
    * ([[graft.sources.SnapshotRead]]'s evolved scan) unions both
    * layouts by name WITHOUT rewriting v1's files to the new spec
    * (the Iceberg contract: re-bucketing 100 TB is exactly what
    * spec-per-commit avoids). Round15cSpec pins that a filter on the
    * evolved column partition-prunes the commits that partition by
    * it; the oracle pins that the evolved read loses/duplicates
    * nothing. */
  def s32PartitionEvolution(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotStore
    val root = graft.util.TempDirs.scoped("s32-pevo")
    val t = SyntheticTrades.trades(s, dir)
      .select(col("trade_id").cast("long").as("tid"), col("underlying"),
        col("amount"), date_format(col("timestamp"), "yyyyMM").as("month"))
    SnapshotStore.commitAppend(
      t.filter(col("tid") % 2 === 0), root, spec = Seq("month"))
    SnapshotStore.commitAppend(
      t.filter(col("tid") % 2 === 1), root, spec = Seq("month", "underlying"))
    SnapshotStore.read(s, root)
      .groupBy(col("month"), col("underlying"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("amount")).as("amount_sum"))
  }

  val s32Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte}
       |SELECT strftime(timestamp, '%Y%m') AS month, underlying,
       |  count(*) AS n_rows, ${duckDsum("amount")} AS amount_sum
       |FROM trades GROUP BY 1, 2""".stripMargin

  /** S33: incremental materialized-view maintenance
    * ([[graft.operators.IncrementalMv]]): the per-underlying volume
    * view built at v1, then kept fresh through a copy-on-write DELETE
    * and an append using only [[graft.sources.SnapshotStore
    * .snapshotDiff]]'s row-level changelog — carried files are never
    * read, so the refresh is delta-proportional where a naive
    * refresh re-scans the table. The oracle recomputes the view from
    * scratch over the final row set; the DECIMAL-carried running sum
    * makes incremental == recompute bit-for-bit. */
  def s33IncrMv(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotStore
    import graft.operators.IncrementalMv
    val root = graft.util.TempDirs.scoped("s33-mv")
    val t = SyntheticTrades.trades(s, dir)
      .select(col("trade_id").cast("long").as("tid"), col("underlying"),
        col("amount"))
    // v1: evens, spread over files so the delete rewrites a subset
    SnapshotStore.commitAppend(
      t.filter(col("tid") % 2 === 0).repartition(8, col("tid")), root)
    val mv1 = IncrementalMv.build(
      SnapshotStore.read(s, root, Some(1)), Seq("underlying"), "amount")
    SnapshotStore.deleteRows(s, root, col("tid") % 10 === 0)
    SnapshotStore.commitAppend(
      t.filter(col("tid") % 2 === 1 && col("tid") % 3 === 0), root)
    val diff = SnapshotStore.snapshotDiff(
      s, root, 1, SnapshotStore.latestVersion(root))
    IncrementalMv.render(
      IncrementalMv.maintain(mv1, diff, Seq("underlying"), "amount"),
      Seq("underlying"))
  }

  val s33Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |t AS (
       |  SELECT CAST(trade_id AS BIGINT) AS tid, underlying, amount
       |  FROM trades),
       |fin AS (
       |  SELECT * FROM t
       |  WHERE (tid % 2 = 0 AND tid % 10 <> 0)
       |     OR (tid % 2 = 1 AND tid % 3 = 0))
       |SELECT underlying, count(*) AS n_rows,
       |  ${duckDsum("amount")} AS amount_sum
       |FROM fin GROUP BY underlying""".stripMargin

  /** ST19: streaming incremental materialized-view maintenance — the
    * Delta-Live-Tables loop: every micro-batch lands as a snapshot
    * commit, and the per-underlying volume view is kept fresh from
    * each commit's [[graft.sources.SnapshotStore.snapshotDiff]]
    * changelog via [[graft.operators.IncrementalMv.maintain]] —
    * never a re-scan of the table. The view is snapshot-barriered
    * per batch (lineage truncation, the dedupClusters contract) and
    * is group-grained (bounded), so driver state is O(groups). The
    * final view must equal a from-scratch recompute BIT FOR BIT
    * (DECIMAL-carried sums) — exported as `incr_equals_full`. */
  def st19StreamMv(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.IncrementalMv
    import graft.sources.SnapshotStore
    val root = graft.util.TempDirs.scoped("st19-mv")
    val src = graft.util.TempDirs.scoped("st19-src")
    val ckpt = graft.util.TempDirs.scoped("st19-ckpt")
    val t = SyntheticTrades.trades(s, dir)
      .filter(col("trade_id").cast("long") % 29 === 0)
      .select(col("trade_id").cast("long").as("tid"), col("underlying"),
        col("amount"))
    t.repartition(4).write.parquet(s"$src/pages")
    val ss = streamSession(s)
    var mv: DataFrame = null
    val raw = ss.readStream.schema(t.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/pages")
    val q = raw.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val vPrev = SnapshotStore.latestVersion(root)
          // a replayed batch no-ops the commit (vNew == vPrev's head),
          // so snapshotDiff(vPrev, vNew) is empty and the MV state is
          // untouched — idempotent view maintenance for free
          val vNew = SnapshotStore.commitAppend(batch, root,
            Some(s"st19:$batchId"))
          val upd =
            if (vPrev == 0)
              IncrementalMv.build(SnapshotStore.read(s, root, Some(vNew)),
                Seq("underlying"), "amount")
            else IncrementalMv.maintain(mv,
              SnapshotStore.snapshotDiff(s, root, vPrev, vNew),
              Seq("underlying"), "amount")
          // snapshot: the next batch maintains this view; truncate lineage
          mv = graft.util.Caches.snapshot(upd)
          ()
        }
      }
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    val full = IncrementalMv.build(SnapshotStore.read(s, root),
      Seq("underlying"), "amount")
    // bounded-collect(group-grained: one row per underlying)
    val eq = mv.collect().map(_.toSeq).toSet ==
      full.collect().map(_.toSeq).toSet
    IncrementalMv.render(mv, Seq("underlying"))
      .withColumn("incr_equals_full", lit(eq))
  }

  val st19Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte}
       |SELECT underlying, count(*) AS n_rows,
       |  ${duckDsum("amount")} AS amount_sum,
       |  true AS incr_equals_full
       |FROM trades WHERE CAST(trade_id AS BIGINT) % 29 = 0
       |GROUP BY underlying""".stripMargin

  /** S34: time travel by TIMESTAMP (`SELECT ... AS OF <ts>`) — the
    * reader-facing face of the snapshot log: the visible version is
    * the highest manifest published at or before the probe instant.
    * Manifest publication times are pinned deterministically
    * (stampManifest) so the entry doesn't depend on commit wall
    * clocks; Round15fSpec covers the pre-table QueryError and the
    * same-millisecond tie. */
  def s34TimeTravel(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{SnapshotRead, SnapshotStore}
    val root = graft.util.TempDirs.scoped("s34-tt")
    val t0 = 1700000000000L
    val t = SyntheticTrades.trades(s, dir)
      .filter(col("trade_id").cast("long") % 7 === 0)
      .select(col("trade_id").cast("long").as("tid"), col("amount"))
    SnapshotStore.commitAppend(t.filter(col("tid") % 2 === 0), root)
    SnapshotStore.stampManifest(root, 1, t0)
    SnapshotStore.commitAppend(t.filter(col("tid") % 2 === 1), root)
    SnapshotStore.stampManifest(root, 2, t0 + 10000L)
    def probe(phase: String, ts: Long): DataFrame =
      SnapshotRead.plan(s, root, asOfMillis = Some(ts)).df
        .agg(count(lit(1)).as("n_rows"), dsum(col("amount")).as("amount_sum"))
        .select(lit(phase).as("phase"), col("n_rows"), col("amount_sum"))
    probe("mid", t0 + 5000L).unionAll(probe("late", t0 + 20000L))
  }

  val s34Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |t AS (
       |  SELECT CAST(trade_id AS BIGINT) AS tid, amount FROM trades
       |  WHERE CAST(trade_id AS BIGINT) % 7 = 0)
       |SELECT 'mid' AS phase, count(*) AS n_rows,
       |  ${duckDsum("amount")} AS amount_sum
       |FROM t WHERE tid % 2 = 0
       |UNION ALL
       |SELECT 'late', count(*), ${duckDsum("amount")}
       |FROM t""".stripMargin

  /** S35: the UNIFIED snapshot read planner
    * ([[graft.sources.SnapshotRead]]) — one entry point composing
    * manifest min/max pruning (s21), per-file Bloom skipping (x9),
    * and the spec-aware evolved layout (s32), which previously were
    * four non-composing reads. The store is partition-EVOLVED (v1
    * tid-range-partitioned flat files + stats sidecar; v2 under a
    * month partition spec) and Bloom-indexed on tid at the final
    * version. Two probes: a RANGE over tid (stats sidecar prunes v1
    * files whose [min,max] misses; v2's stats-less files are
    * conservatively kept) and a POINT lookup (Bloom keeps ~1 file).
    * The oracle pins both answers from the raw rows; Round16bSpec
    * pins exact files-skipped counts from BOTH sidecars on a
    * controlled store. Per-file key density is held bounded by
    * sizing the file count with the data (a saturated Bloom skips
    * nothing — at 100 TB files hold row-group-bounded keys, which is
    * what the sizing mimics). */
  def s35UnifiedRead(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{BloomIndex, SnapshotRead, SnapshotStore}
    val root = graft.util.TempDirs.scoped("s35-uni")
    val t = SyntheticTrades.trades(s, dir)
      .select(col("trade_id").cast("long").as("tid"), col("amount"),
        date_format(col("timestamp"), "yyyyMM").as("month"))
    // bounded-collect(one row: max tid + row count size the store)
    val bounds = t.agg(max(col("tid")).as("mx"), count(lit(1)).as("n"))
      .collect().head
    val maxTid = bounds.getLong(0)
    val nFiles = math.max(8, (bounds.getLong(1) / 6000L).toInt + 1)
    SnapshotStore.commitAppendWithStats(
      t.filter(col("tid") % 2 === 0).select(col("tid"), col("amount")),
      root, "tid", nFiles)
    SnapshotStore.commitAppend(
      t.filter(col("tid") % 2 === 1).repartition(4, col("month")),
      root, spec = Seq("month"))
    BloomIndex.build(s, root, "tid")
    val hi = maxTid / 4
    val rangePlan = SnapshotRead.plan(s, root, range = Some(("tid", 0L, hi)))
    // the probe key: the smallest EVEN tid (lives in one v1 file)
    // bounded-collect(one row: the probe key)
    val key = t.filter(col("tid") % 2 === 0).agg(min(col("tid")))
      .collect().head.getLong(0)
    val pointPlan = SnapshotRead.plan(s, root, point = Some(("tid", key)))
    def shape(phase: String, p: SnapshotRead.ScanPlan,
        skipped: Boolean): DataFrame =
      p.df.agg(count(lit(1)).as("n_rows"), dsum(col("amount"))
          .as("amount_sum"))
        .select(lit(phase).as("phase"), col("n_rows"), col("amount_sum"),
          lit(skipped).as("files_skipped"))
    shape("range", rangePlan, rangePlan.statsSkipped > 0)
      .unionAll(shape("point", pointPlan, pointPlan.bloomSkipped > 0))
  }

  val s35Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |t AS (
       |  SELECT CAST(trade_id AS BIGINT) AS tid, amount FROM trades),
       |hi AS (SELECT max(tid) // 4 AS h FROM t),
       |k AS (SELECT min(tid) AS key FROM t WHERE tid % 2 = 0)
       |SELECT 'range' AS phase, count(*) AS n_rows,
       |  ${duckDsum("amount")} AS amount_sum, true AS files_skipped
       |FROM t, hi WHERE tid >= 0 AND tid <= h
       |UNION ALL
       |SELECT 'point', count(*), ${duckDsum("amount")}, true
       |FROM t, k WHERE tid = key""".stripMargin

  /** Warehouse for the SQL catalog face — ONE directory per JVM:
    * Spark caches a catalog instance on first reference, so the
    * warehouse it was initialized with must stay valid for the
    * session's lifetime (a per-call temp dir would strand the cached
    * catalog on the first call's path). */
  private lazy val catalogWarehouse: String =
    graft.util.TempDirs.scoped("graft-snap-wh")

  /** S36: time travel in PURE SQL TEXT — the
    * [[graft.sources.GraftCatalog]] DataSourceV2 face over the
    * snapshot store, the spelling Delta/Iceberg users write:
    * `VERSION AS OF <n>`, `VERSION AS OF '<tag>'` and
    * `TIMESTAMP AS OF <t>` resolve through the catalog's loadTable
    * overloads to EXACTLY the manifest's file list (Round16bSpec
    * pins SQL-path inputFiles == Scala-API inputFiles). Store build
    * is idempotent per JVM (versions 1-2 pinned; a re-run finds them
    * committed), publication instants stamped deterministically. */
  def s36SqlTimeTravel(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotStore
    val root = s"$catalogWarehouse/trades_tt"
    val t0 = 1700000000000L
    if (SnapshotStore.latestVersion(root) == 0) {
      val t = SyntheticTrades.trades(s, dir)
        .filter(col("trade_id").cast("long") % 11 === 0)
        .select(col("trade_id").cast("long").as("tid"), col("amount"))
      SnapshotStore.commitAppend(t.filter(col("tid") % 2 === 0), root)
      SnapshotStore.stampManifest(root, 1, t0)
      SnapshotStore.tag(root, "evens", Some(1))
      SnapshotStore.commitAppend(t.filter(col("tid") % 2 === 1), root)
      SnapshotStore.stampManifest(root, 2, t0 + 10000L)
    }
    s.conf.set("spark.sql.catalog.graft_snap",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap.warehouse", catalogWarehouse)
    val dsumSql = "CAST(sum(CAST(amount AS DECIMAL(28,6))) AS DOUBLE)"
    s.sql(
      s"""SELECT 'v1' AS phase, count(*) AS n_rows, $dsumSql AS amount_sum
         |FROM graft_snap.trades_tt VERSION AS OF 1
         |UNION ALL
         |SELECT 'tag', count(*), $dsumSql
         |FROM graft_snap.trades_tt VERSION AS OF 'evens'
         |UNION ALL
         |SELECT 'asof', count(*), $dsumSql
         |FROM graft_snap.trades_tt TIMESTAMP AS OF timestamp_millis(${t0 + 5000L})
         |UNION ALL
         |SELECT 'head', count(*), $dsumSql
         |FROM graft_snap.trades_tt""".stripMargin)
  }

  val s36Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |t AS (
       |  SELECT CAST(trade_id AS BIGINT) AS tid, amount FROM trades
       |  WHERE CAST(trade_id AS BIGINT) % 11 = 0)
       |SELECT 'v1' AS phase, count(*) AS n_rows,
       |  ${duckDsum("amount")} AS amount_sum
       |FROM t WHERE tid % 2 = 0
       |UNION ALL
       |SELECT 'tag', count(*), ${duckDsum("amount")} FROM t WHERE tid % 2 = 0
       |UNION ALL
       |SELECT 'asof', count(*), ${duckDsum("amount")} FROM t WHERE tid % 2 = 0
       |UNION ALL
       |SELECT 'head', count(*), ${duckDsum("amount")} FROM t""".stripMargin

  /** ST20: exactly-once through a REAL crash-replay — the operational
    * proof for the batchId-idempotent snapshot commits that the spec
    * can only simulate by re-invoking the body. The stream runs to
    * completion, then the entry reproduces the crash window
    * Structured Streaming's contract warns about: the last
    * micro-batch committed to the SINK but its checkpoint commit
    * marker never landed (here: the marker file is deleted). On
    * restart from that checkpoint Spark RE-EXECUTES the batch with
    * the SAME batchId — the re-delivered commit must find its writer
    * token in a live manifest and no-op, or the store double-counts.
    * The audit pins: final state equals the input exactly (count /
    * distinct ids / decimal sum — the oracle's statement), version
    * counts are monotone, and the replay published NO new version. */
  def st20StreamRestart(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotStore
    val root = graft.util.TempDirs.scoped("st20-snap")
    val src = graft.util.TempDirs.scoped("st20-src")
    val ckpt = graft.util.TempDirs.scoped("st20-ckpt")
    val t = SyntheticTrades.trades(s, dir)
      .filter(col("trade_id").cast("long") % 67 === 0)
      .select(col("trade_id").cast("long").as("tid"), col("amount"))
    t.repartition(3).write.parquet(s"$src/pages")
    val ss = streamSession(s)
    def runOnce(): Unit = {
      val raw = ss.readStream.schema(t.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$src/pages")
      val q = raw.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], batchId: Long) =>
          if (!batch.isEmpty) {
            SnapshotStore.commitAppend(batch, root, Some(s"st20:$batchId"))
            ()
          }
        }
        .option("checkpointLocation", ckpt)
        .start()
      // stop() alone can leave the query momentarily registered on the
      // checkpoint — the restart then trips Spark's concurrent-use
      // guard; awaitTermination is the deregistration barrier
      try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }
    }
    runOnce()
    val vAfterRun = SnapshotStore.latestVersion(root)
    // reproduce the crash window: sink committed, checkpoint's commit
    // marker for the LAST batch never landed
    val commitDir = new java.io.File(ckpt, "commits")
    val markers = commitDir.listFiles()
      .filter(_.getName.matches("\\d+")).sortBy(_.getName.toInt)
    require(markers.nonEmpty, "stream produced no committed batches")
    require(markers.last.delete(), "could not remove the commit marker")
    // the local ChecksumFileSystem shadows every marker with a .N.crc;
    // a stale one makes the replay's commit-log write throw
    // FileAlreadyExists ("multiple streaming queries"), so the crash
    // simulation must drop both files the way a real crash would
    // (neither would have been written)
    new java.io.File(commitDir, s".${markers.last.getName}.crc").delete()
    runOnce() // Spark re-executes the last batch with the SAME batchId
    val vAfterReplay = SnapshotStore.latestVersion(root)
    val counts = (1 to vAfterReplay).map(v =>
      SnapshotStore.read(s, root, Some(v)).count())
    val monotone = counts.zip(counts.drop(1)).forall { case (a, b) => a <= b }
    SnapshotStore.read(s, root)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("tid")).as("unique_ids"),
        dsum(col("amount")).as("amount_sum"))
      .select(col("n_rows"), col("unique_ids"), col("amount_sum"),
        lit(monotone).as("versions_monotone"),
        lit(vAfterReplay == vAfterRun).as("replay_was_noop"))
  }

  val st20Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte}
       |SELECT count(*) AS n_rows,
       |  count(DISTINCT CAST(trade_id AS BIGINT)) AS unique_ids,
       |  ${duckDsum("amount")} AS amount_sum,
       |  true AS versions_monotone, true AS replay_was_noop
       |FROM trades WHERE CAST(trade_id AS BIGINT) % 67 = 0""".stripMargin

  /** S37: sidecar pruning THROUGH the SQL face — the closing piece of
    * the unified-read story: a pure-SQL `WHERE tid = k` / range scan
    * against the catalog plans the same pruned file set the Scala
    * [[graft.sources.SnapshotRead]] planner produces, because the
    * catalog's scan builder resolves pushed-down predicates against
    * the stats (`#statcol` header) and Bloom sidecars BEFORE the
    * parquet scan exists (`SupportsPushDownCatalystFilters`). The
    * entry asserts the pruning actually happened (`files_skipped`
    * from the PLANNED file count vs the manifest's) and the oracle
    * pins both answers; Round16cSpec pins the exact planned-file
    * counts against the SnapshotRead ledger. */
  def s37SqlPrunedRead(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{BloomIndex, SnapshotStore}
    val root = s"$catalogWarehouse/trades_px"
    val t = SyntheticTrades.trades(s, dir)
      .select(col("trade_id").cast("long").as("tid"), col("amount"))
    // bounded-collect(one row: probe bounds + store sizing)
    val b = t.agg(max(col("tid")).as("mx"), min(col("tid")).as("mn"),
      count(lit(1)).as("n")).collect().head
    if (SnapshotStore.latestVersion(root) == 0) {
      // file count sized with the data so per-file key density stays
      // bounded (a saturated Bloom skips nothing — see s35)
      val nFiles = math.max(8, (b.getLong(2) / 6000L).toInt + 1)
      SnapshotStore.commitAppendWithStats(t, root, "tid", nFiles)
      BloomIndex.build(s, root, "tid")
    }
    s.conf.set("spark.sql.catalog.graft_snap",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap.warehouse", catalogWarehouse)
    val hi = b.getLong(0) / 4
    val key = b.getLong(1)
    val total = SnapshotStore.filesAt(
      root, SnapshotStore.latestVersion(root)).size
    val dsumSql = "CAST(sum(CAST(amount AS DECIMAL(28,6))) AS DOUBLE)"
    def q(pred: String): DataFrame = s.sql(
      s"""SELECT count(*) AS n_rows, $dsumSql AS amount_sum
         |FROM graft_snap.trades_px WHERE $pred""".stripMargin)
    // planned-file count: the file index the V2 scan was BUILT over —
    // pruning is a plan-time fact, not a row-count side effect
    def planned(df: DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case bs: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec => bs.scan
      }.map(graft.sources.SnapshotSource.unwrap).collect {
        case p: org.apache.spark.sql.execution.datasources.v2.parquet
            .ParquetScan => p.fileIndex.inputFiles.length
      }.sum
    val rangeDf = q(s"tid >= 0 AND tid <= $hi")
    val pointDf = q(s"tid = $key")
    def shape(phase: String, df: DataFrame): DataFrame =
      df.select(lit(phase).as("phase"), col("n_rows"), col("amount_sum"),
        lit(planned(df) < total).as("files_skipped"))
    shape("range", rangeDf).unionAll(shape("point", pointDf))
  }

  val s37Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |t AS (
       |  SELECT CAST(trade_id AS BIGINT) AS tid, amount FROM trades),
       |hi AS (SELECT max(tid) // 4 AS h FROM t),
       |k AS (SELECT min(tid) AS key FROM t)
       |SELECT 'range' AS phase, count(*) AS n_rows,
       |  ${duckDsum("amount")} AS amount_sum, true AS files_skipped
       |FROM t, hi WHERE tid >= 0 AND tid <= h
       |UNION ALL
       |SELECT 'point', count(*), ${duckDsum("amount")}, true
       |FROM t, k WHERE tid = key""".stripMargin

  /** S38: per-column TYPED sidecar stats — the reference's headline
    * time-range pruning (docs/adr/2025-12-10-schema-optimization.md:
    * 189-193: 10-100× from seeking the time index) applied to the
    * snapshot path, WITHOUT giving up a second index: one commit
    * records per-file [min,max] for BOTH a timestamp column (bounds
    * as epoch-micros) and a long column, and ONE read prunes on both
    * at once. Probed through BOTH faces: the Scala planner
    * (`SnapshotRead.plan(ranges = ...)`, ledger asserts files were
    * skipped) and pure SQL text (pushed `ts >= timestamp_micros(...)`
    * + `tid <= k` predicates resolve against the same `#statcol`
    * name:kind header inside the catalog's scan builder; the planned
    * V2 file index pins the skip). The oracle re-derives both answers
    * from the raw rows with the same integer-division bounds.
    * Round17bSpec pins exact per-kind ledgers on a controlled store. */
  def s38TypedStats(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{SnapshotRead, SnapshotStore}
    val root = s"$catalogWarehouse/trades_ty"
    val t = SyntheticTrades.trades(s, dir)
      .select(col("timestamp").as("ts"),
        col("trade_id").cast("long").as("tid"), col("amount"))
    // bounded-collect(one row: probe bounds + store sizing)
    val b = t.agg(min(unix_micros(col("ts"))).as("mn"),
      max(unix_micros(col("ts"))).as("mx"),
      max(col("tid")).as("mt"), count(lit(1)).as("n")).collect().head
    val (mn, mx, mt) = (b.getLong(0), b.getLong(1), b.getLong(2))
    if (SnapshotStore.latestVersion(root) == 0) {
      val nFiles = math.max(8, (b.getLong(3) / 6000L).toInt + 1)
      SnapshotStore.commitAppendWithStatsMulti(t, root, Seq("ts", "tid"),
        nFiles)
    }
    val lo = mn + (mx - mn) / 4
    val hi = mn + (mx - mn) / 2
    val tHi = mt / 3
    val p = SnapshotRead.plan(s, root,
      ranges = Seq(("ts", lo, hi), ("tid", 0L, tHi)))
    s.conf.set("spark.sql.catalog.graft_snap",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap.warehouse", catalogWarehouse)
    val dsumSql = "CAST(sum(CAST(amount AS DECIMAL(28,6))) AS DOUBLE)"
    val sqlDf = s.sql(
      s"""SELECT count(*) AS n_rows, $dsumSql AS amount_sum
         |FROM graft_snap.trades_ty
         |WHERE ts >= timestamp_micros(${lo}L)
         |  AND ts <= timestamp_micros(${hi}L)
         |  AND tid >= 0 AND tid <= $tHi""".stripMargin)
    // planned-file count: the file index the V2 scan was BUILT over
    def planned(df: DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case bs: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec => bs.scan
      }.map(graft.sources.SnapshotSource.unwrap).collect {
        case q: org.apache.spark.sql.execution.datasources.v2.parquet
            .ParquetScan => q.fileIndex.inputFiles.length
      }.sum
    val scalaDf = p.df
      .agg(count(lit(1)).as("n_rows"), dsum(col("amount")).as("amount_sum"))
      .select(lit("scala").as("phase"), col("n_rows"), col("amount_sum"),
        lit(p.statsSkipped > 0).as("files_skipped"))
    val sqlShaped = sqlDf
      .select(lit("sql").as("phase"), col("n_rows"), col("amount_sum"),
        lit(planned(sqlDf) < p.filesTotal).as("files_skipped"))
    scalaDf.unionAll(sqlShaped)
  }

  val s38Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |t AS (
       |  SELECT epoch_us("timestamp") AS em,
       |    CAST(trade_id AS BIGINT) AS tid, amount FROM trades),
       |b AS (SELECT min(em) AS mn, max(em) AS mx, max(tid) AS mt FROM t),
       |f AS (
       |  SELECT t.* FROM t, b
       |  WHERE em >= mn + (mx - mn) // 4 AND em <= mn + (mx - mn) // 2
       |    AND tid >= 0 AND tid <= mt // 3)
       |SELECT 'scala' AS phase, count(*) AS n_rows,
       |  ${duckDsum("amount")} AS amount_sum, true AS files_skipped
       |FROM f
       |UNION ALL
       |SELECT 'sql', count(*), ${duckDsum("amount")}, true
       |FROM f""".stripMargin

  /** S39: a PARTITION-EVOLVED table read in PURE SQL — the gap the
    * round-16 catalog punted on (it refused these tables). The store
    * is s35's shape: v1 = even tids, flat tid-ranged files with a tid
    * stats sidecar; v2 = odd tids under a month partition spec; Bloom
    * on tid at the head. The catalog plans it as a per-layout union
    * ([[graft.sources.EvolvedTable]]): each commit's files resolve
    * under ITS spec (month surfaces as a string exactly like
    * `SnapshotStore.read`), sidecar pruning runs once over the union, and
    * each group receives only the predicates it can evaluate — a
    * month filter prunes the v2 group's directories while the flat
    * group's rows drop via the residual NULL test; a tid range prunes
    * v1's stats files while v2's stats-less files are kept. Three SQL
    * probes (full union / month slice / tid range + point), each
    * answer re-derived by the oracle from the raw rows; the entry
    * also pins rows == the Scala `SnapshotStore.read` and that the pruned
    * probes planned fewer files than the manifest lists. Round17cSpec
    * pins the per-shape ledgers and the cross-layout schema rules. */
  def s39SqlEvolvedRead(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{BloomIndex, SnapshotStore}
    val root = s"$catalogWarehouse/trades_ev"
    // the partition column is a synthetic 4-way shard ((tid % 4) as a
    // string) so the spec always has several directories to prune —
    // the driver corpora can span a single calendar month
    val t = SyntheticTrades.trades(s, dir)
      .select(col("trade_id").cast("long").as("tid"), col("amount"),
        (col("trade_id").cast("long") % 4).cast("string").as("shard"))
    // bounded-collect(one row: probe bounds + store sizing)
    val b = t.agg(max(col("tid")).as("mx"),
      count(lit(1)).as("n")).collect().head
    val maxTid = b.getLong(0)
    if (SnapshotStore.latestVersion(root) == 0) {
      val nFiles = math.max(8, (b.getLong(1) / 6000L).toInt + 1)
      SnapshotStore.commitAppendWithStats(
        t.filter(col("tid") % 2 === 0).select(col("tid"), col("amount")),
        root, "tid", nFiles)
      SnapshotStore.commitAppend(
        t.filter(col("tid") % 2 === 1).repartition(4, col("shard")),
        root, spec = Seq("shard"))
      BloomIndex.build(s, root, "tid")
    }
    s.conf.set("spark.sql.catalog.graft_snap",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap.warehouse", catalogWarehouse)
    val hi = maxTid / 4
    val total = SnapshotStore.filesAt(
      root, SnapshotStore.latestVersion(root)).size
    def planned(df: DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case bs: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec => bs.scan
      }.map[Int] {
        case e: graft.sources.EvolvedTable.EvolvedScan => e.plannedFiles
        case _ => Int.MaxValue
      }.sum
    val dsumSql = "CAST(sum(CAST(amount AS DECIMAL(28,6))) AS DOUBLE)"
    val allDf = s.sql(
      s"""SELECT count(*) AS n_rows, $dsumSql AS amount_sum
         |FROM graft_snap.trades_ev""".stripMargin)
    val shardDf = s.sql(
      s"""SELECT count(*) AS n_rows, $dsumSql AS amount_sum
         |FROM graft_snap.trades_ev WHERE shard = '1'""".stripMargin)
    val rangeDf = s.sql(
      s"""SELECT count(*) AS n_rows, $dsumSql AS amount_sum
         |FROM graft_snap.trades_ev WHERE tid >= 0 AND tid <= $hi"""
        .stripMargin)
    // the SQL union must return exactly the Scala evolved read's rows
    val sqlN = s.sql("SELECT count(*) AS n FROM graft_snap.trades_ev")
      .head.getLong(0)
    val scalaN = SnapshotStore.read(s, root).count()
    def shape(phase: String, df: DataFrame, skipped: Boolean): DataFrame =
      df.select(lit(phase).as("phase"), col("n_rows"), col("amount_sum"),
        lit(skipped).as("files_skipped"),
        lit(sqlN == scalaN).as("matches_scala"))
    shape("all", allDf, skipped = false)
      .unionAll(shape("shard", shardDf, planned(shardDf) < total))
      .unionAll(shape("range", rangeDf, planned(rangeDf) < total))
  }

  val s39Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |t AS (
       |  SELECT CAST(trade_id AS BIGINT) AS tid, amount FROM trades),
       |h AS (SELECT max(tid) // 4 AS hi FROM t)
       |SELECT 'all' AS phase, count(*) AS n_rows,
       |  ${duckDsum("amount")} AS amount_sum, false AS files_skipped,
       |  true AS matches_scala
       |FROM t
       |UNION ALL
       |SELECT 'shard', count(*), ${duckDsum("amount")}, true, true
       |FROM t WHERE tid % 2 = 1 AND tid % 4 = 1
       |UNION ALL
       |SELECT 'range', count(*), ${duckDsum("amount")}, true, true
       |FROM t, h WHERE tid >= 0 AND tid <= hi""".stripMargin

  /** S40: the full MAINTENANCE lifecycle in PURE SQL — Spark 4 DSv2
    * stored procedures (`CALL <cat>.system.<proc>`) closing the gap
    * where tagging/compaction/vacuum/MERGE were Scala-only (r16
    * "what's missing" #4). The sequence: append 5 small files → CALL
    * set_tag → append 5 more → CALL compact (merges all 10) → CALL
    * expire (the untagged middle version dies; the TAGGED v1 and the
    * head survive) → CALL merge_rows (a changelog view deleting every
    * tid % 5 == 0 row). The probes re-read through the same SQL face:
    * the tag still returns the PRE-compaction rows byte-identically
    * (tags pin manifests through compaction AND vacuum — s22/s23
    * semantics, now proven through SQL text), and the head reflects
    * the merge. Booleans pin that compaction shrank the file count
    * and the vacuum removed exactly the untagged version. Every
    * procedure routes through the same CAS commit primitives as the
    * Scala API. Round17dSpec covers each procedure in isolation. */
  def s40SqlMaintenance(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotStore
    val root = s"$catalogWarehouse/trades_mx"
    s.conf.set("spark.sql.catalog.graft_snap",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap.warehouse", catalogWarehouse)
    val t = SyntheticTrades.trades(s, dir)
      .filter(col("trade_id").cast("long") % 13 === 0)
      .select(col("trade_id").cast("long").as("tid"), col("amount"))
    if (SnapshotStore.latestVersion(root) == 0) {
      SnapshotStore.commitAppend(
        t.filter(col("tid") % 2 === 0).repartition(5), root)
      s.sql("CALL graft_snap.system.set_tag('trades_mx', 'v1tag')")
      SnapshotStore.commitAppend(
        t.filter(col("tid") % 2 === 1).repartition(5), root)
      s.sql("CALL graft_snap.system.compact('trades_mx', " +
        s"${Long.MaxValue}L, 4)")
      s.sql("CALL graft_snap.system.expire('trades_mx', 1, 0L)")
      t.filter(col("tid") % 5 === 0)
        .select(col("tid"), col("amount"), lit("D").as("op"),
          lit(1L).as("seq"), col("tid").as("id"))
        .createOrReplaceTempView("s40_changes")
      s.sql("CALL graft_snap.system.merge_rows('trades_mx', " +
        "'s40_changes', 'tid', 'op', 'seq', 'id')")
    }
    val compacted = SnapshotStore.filesAt(root, 3).size <= 4
    val vacuumed = !SnapshotStore.versions(root).contains(2)
    val dsumSql = "CAST(sum(CAST(amount AS DECIMAL(28,6))) AS DOUBLE)"
    s.sql(
      s"""SELECT 'tagged' AS phase, count(*) AS n_rows,
         |  $dsumSql AS amount_sum,
         |  $compacted AS compacted, $vacuumed AS vacuumed
         |FROM graft_snap.trades_mx VERSION AS OF 'v1tag'
         |UNION ALL
         |SELECT 'head', count(*), $dsumSql, $compacted, $vacuumed
         |FROM graft_snap.trades_mx""".stripMargin)
  }

  val s40Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |t AS (
       |  SELECT CAST(trade_id AS BIGINT) AS tid, amount FROM trades
       |  WHERE CAST(trade_id AS BIGINT) % 13 = 0)
       |SELECT 'tagged' AS phase, count(*) AS n_rows,
       |  ${duckDsum("amount")} AS amount_sum,
       |  true AS compacted, true AS vacuumed
       |FROM t WHERE tid % 2 = 0
       |UNION ALL
       |SELECT 'head', count(*), ${duckDsum("amount")}, true, true
       |FROM t WHERE tid % 5 <> 0""".stripMargin

  /** S41: the DML lifecycle in PURE SQL — CREATE TABLE, two INSERT
    * INTOs, and a DELETE FROM, every statement routed THROUGH the CAS
    * commit primitives (CREATE publishes an empty pinned-schema
    * manifest; each INSERT is one append commit via the V1Write seam;
    * DELETE is the copy-on-write rewrite — see
    * [[graft.sources.SnapshotDml]]). The probes read back through the
    * same face: `VERSION AS OF 2` returns exactly the FIRST insert's
    * rows (DML never disturbs published versions), the head reflects
    * the delete, and `four_versions` pins that the four statements
    * published versions 1..4 and nothing else. Round17fSpec covers
    * each statement shape in isolation (incl. OVERWRITE, IN/IS NULL
    * deletes, CTAS, and byte-identical committed files across an
    * INSERT). */
  def s41SqlDml(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotStore
    val root = s"$catalogWarehouse/trades_dml"
    s.conf.set("spark.sql.catalog.graft_snap",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap.warehouse", catalogWarehouse)
    val t = SyntheticTrades.trades(s, dir)
      .filter(col("trade_id").cast("long") % 17 === 0)
      .select(col("trade_id").cast("long").as("tid"), col("amount"))
    // bounded-collect(one row: the delete threshold)
    val hi = t.agg(max(col("tid"))).collect().head.getLong(0) / 2
    if (SnapshotStore.latestVersion(root) == 0) {
      t.createOrReplaceTempView("s41_src")
      s.sql(
        "CREATE TABLE graft_snap.trades_dml (tid BIGINT, amount DOUBLE)")
      s.sql("""INSERT INTO graft_snap.trades_dml
              |SELECT tid, amount FROM s41_src WHERE tid % 2 = 0"""
        .stripMargin)
      s.sql("""INSERT INTO graft_snap.trades_dml
              |SELECT tid, amount FROM s41_src WHERE tid % 2 = 1"""
        .stripMargin)
      s.sql(s"DELETE FROM graft_snap.trades_dml WHERE tid > $hi")
    }
    val fourVersions = SnapshotStore.versions(root) == Seq(1, 2, 3, 4)
    val dsumSql = "CAST(sum(CAST(amount AS DECIMAL(28,6))) AS DOUBLE)"
    s.sql(
      s"""SELECT 'v2' AS phase, count(*) AS n_rows,
         |  $dsumSql AS amount_sum, $fourVersions AS four_versions
         |FROM graft_snap.trades_dml VERSION AS OF 2
         |UNION ALL
         |SELECT 'head', count(*), $dsumSql, $fourVersions
         |FROM graft_snap.trades_dml""".stripMargin)
  }

  val s41Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |t AS (
       |  SELECT CAST(trade_id AS BIGINT) AS tid, amount FROM trades
       |  WHERE CAST(trade_id AS BIGINT) % 17 = 0),
       |h AS (SELECT max(tid) // 2 AS hi FROM t)
       |SELECT 'v2' AS phase, count(*) AS n_rows,
       |  ${duckDsum("amount")} AS amount_sum, true AS four_versions
       |FROM t WHERE tid % 2 = 0
       |UNION ALL
       |SELECT 'head', count(*), ${duckDsum("amount")}, true
       |FROM t, h WHERE tid <= hi""".stripMargin

  /** S42: METADATA tables in pure SQL (`<cat>.<t>.history` /
    * `.files` / `.tags` — Iceberg's introspection face): the entry
    * JOINS the history relation against per-version `AS OF`
    * aggregates, so every surfaced metadata fact is cross-checked
    * against DATA the oracle re-derives — the version list and
    * publication instants are deterministic (stamped), the per-commit
    * file counts are pinned by explicit repartitions, and n_rows /
    * amount_sum per version come from the raw trades. All three
    * relations are driver-side manifest reads (KBs at any table
    * size) served through a LocalScan, recomputed at scan time.
    * Round17dSpec pins files/tags content and that a REAL table named
    * like a metadata kind wins resolution. */
  def s42SqlMetadata(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotStore
    val root = s"$catalogWarehouse/trades_md"
    val t0 = 1700000000000L
    val t = SyntheticTrades.trades(s, dir)
      .filter(col("trade_id").cast("long") % 19 === 0)
      .select(col("trade_id").cast("long").as("tid"), col("amount"))
    if (SnapshotStore.latestVersion(root) == 0) {
      SnapshotStore.commitAppend(
        t.filter(col("tid") % 2 === 0).repartition(3), root)
      SnapshotStore.stampManifest(root, 1, t0)
      SnapshotStore.commitAppend(
        t.filter(col("tid") % 2 === 1).repartition(2), root)
      SnapshotStore.stampManifest(root, 2, t0 + 10000L)
      SnapshotStore.tag(root, "evens", Some(1))
    }
    s.conf.set("spark.sql.catalog.graft_snap",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap.warehouse", catalogWarehouse)
    val dsumSql = "CAST(sum(CAST(amount AS DECIMAL(28,6))) AS DOUBLE)"
    s.sql(
      s"""SELECT h.version, h.ts_millis, h.n_files, g.tag,
         |  p.n_rows, p.amount_sum
         |FROM graft_snap.trades_md.history h
         |JOIN (
         |  SELECT 1 AS v, count(*) AS n_rows, $dsumSql AS amount_sum
         |  FROM graft_snap.trades_md VERSION AS OF 1
         |  UNION ALL
         |  SELECT 2, count(*), $dsumSql
         |  FROM graft_snap.trades_md VERSION AS OF 2
         |) p ON p.v = h.version
         |LEFT JOIN graft_snap.trades_md.tags g ON g.version = h.version
         |ORDER BY h.version""".stripMargin)
  }

  val s42Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |t AS (
       |  SELECT CAST(trade_id AS BIGINT) AS tid, amount FROM trades
       |  WHERE CAST(trade_id AS BIGINT) % 19 = 0)
       |SELECT 1 AS version, 1700000000000 AS ts_millis, 3 AS n_files,
       |  'evens' AS tag, count(*) AS n_rows,
       |  ${duckDsum("amount")} AS amount_sum
       |FROM t WHERE tid % 2 = 0
       |UNION ALL
       |SELECT 2, 1700000010000, 5, NULL, count(*), ${duckDsum("amount")}
       |FROM t""".stripMargin

  /** S43: STRING bounds through BOTH pruning faces — the `str`-kind
    * stats sidecar (base64-coded per-file min/max, byte-wise unsigned
    * UTF8String order) pruning a string range on the Scala planner
    * (`SnapshotRead.plan(strRanges = ...)`, new this round — the two
    * faces were asymmetric: str bounds pruned only through SQL) AND
    * through pure SQL text (pushed `tkey >= '...'` predicates resolve
    * in [[graft.sources.SnapshotRead]]'s pruner). The key is a zero-padded
    * decimal render of the trade id, so lexicographic order equals
    * numeric order and the range-partitioned layout gives tight
    * per-file string bounds — both probes must actually skip files
    * (ledger / planned-file count pinned), and the oracle re-derives
    * both answers with DuckDB's binary string collation. Round18Spec
    * pins exact ledgers and the wrong-column guard on a controlled
    * store. */
  def s43StrPrune(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{SnapshotRead, SnapshotStore}
    val root = s"$catalogWarehouse/trades_str"
    val t = SyntheticTrades.trades(s, dir)
      .select(lpad(col("trade_id"), 12, "0").as("tkey"), col("amount"))
    // bounded-collect(one row: probe bounds + store sizing)
    val b = t.agg(max(col("tkey").cast("long")).as("mx"),
      count(lit(1)).as("n")).collect().head
    if (SnapshotStore.latestVersion(root) == 0) {
      val nFiles = math.max(8, (b.getLong(1) / 6000L).toInt + 1)
      SnapshotStore.commitAppendWithStatsMulti(t, root, Seq("tkey"), nFiles)
    }
    def pad(x: Long): String = f"$x%012d"
    val (lo, hi) = (pad(0L), pad(b.getLong(0) / 4))
    val p = SnapshotRead.plan(s, root, strRanges = Seq(("tkey", lo, hi)))
    s.conf.set("spark.sql.catalog.graft_snap",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap.warehouse", catalogWarehouse)
    val dsumSql = "CAST(sum(CAST(amount AS DECIMAL(28,6))) AS DOUBLE)"
    val sqlDf = s.sql(
      s"""SELECT count(*) AS n_rows, $dsumSql AS amount_sum
         |FROM graft_snap.trades_str
         |WHERE tkey >= '$lo' AND tkey <= '$hi'""".stripMargin)
    def planned(df: DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case bs: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec => bs.scan
      }.map(graft.sources.SnapshotSource.unwrap).collect {
        case q: org.apache.spark.sql.execution.datasources.v2.parquet
            .ParquetScan => q.fileIndex.inputFiles.length
      }.sum
    val scalaDf = p.df
      .agg(count(lit(1)).as("n_rows"), dsum(col("amount")).as("amount_sum"))
      .select(lit("scala").as("phase"), col("n_rows"), col("amount_sum"),
        lit(p.statsSkipped > 0).as("files_skipped"))
    val sqlShaped = sqlDf
      .select(lit("sql").as("phase"), col("n_rows"), col("amount_sum"),
        lit(planned(sqlDf) < p.filesTotal).as("files_skipped"))
    scalaDf.unionAll(sqlShaped)
  }

  val s43Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |t AS (
       |  SELECT lpad(trade_id, 12, '0') AS tkey, amount FROM trades),
       |b AS (SELECT max(CAST(tkey AS BIGINT)) // 4 AS h FROM t),
       |f AS (
       |  SELECT t.* FROM t, b
       |  WHERE tkey >= lpad('0', 12, '0')
       |    AND tkey <= lpad(CAST(h AS VARCHAR), 12, '0'))
       |SELECT 'scala' AS phase, count(*) AS n_rows,
       |  ${duckDsum("amount")} AS amount_sum, true AS files_skipped
       |FROM f
       |UNION ALL
       |SELECT 'sql', count(*), ${duckDsum("amount")}, true
       |FROM f""".stripMargin

  /** S44: DML on a PARTITION-EVOLVED table in PURE SQL — the write
    * half round 17 left read-only. The store is s39's shape (v1 =
    * flat tid-ranged evens MINUS the tid%10 slice, with a tid stats
    * sidecar; v2 = odds under a shard partition spec); then pure SQL
    * text INSERTs the held-out slice (one FLAT append commit —
    * correct by the union-read contract, which surfaces mixed layouts
    * by construction) and DELETEs the top half by tid (the
    * evolution-safe copy-on-write rewrite: directory-encoded shard
    * values survive into the rewritten files as data columns). The
    * probes read back through the same face: `VERSION AS OF 3` is
    * exactly ALL rows (insert landed, delete not yet), the head is
    * the tid <= hi half, `matches_scala` pins SQL rows == the Scala
    * `SnapshotStore.read`, and `four_versions` pins the statement-to-commit
    * mapping. Round18Spec pins the byte-identical-committed-files
    * invariant across the evolved INSERT. */
  def s44SqlEvolvedDml(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotStore
    val root = s"$catalogWarehouse/trades_evw"
    val t = SyntheticTrades.trades(s, dir)
      .filter(col("trade_id").cast("long") % 3 === 0)
      .select(col("trade_id").cast("long").as("tid"), col("amount"),
        (col("trade_id").cast("long") % 4).cast("string").as("shard"))
    // bounded-collect(one row: probe bounds + store sizing)
    val b = t.agg(max(col("tid")).as("mx"),
      count(lit(1)).as("n")).collect().head
    val hi = b.getLong(0) / 2
    if (SnapshotStore.latestVersion(root) == 0) {
      val nFiles = math.max(8, (b.getLong(1) / 6000L).toInt + 1)
      SnapshotStore.commitAppendWithStats(
        t.filter(col("tid") % 2 === 0 && col("tid") % 10 =!= 0)
          .select(col("tid"), col("amount")), root, "tid", nFiles)
      SnapshotStore.commitAppend(
        t.filter(col("tid") % 2 === 1).repartition(4, col("shard")),
        root, spec = Seq("shard"))
      s.conf.set("spark.sql.catalog.graft_snap",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_snap.warehouse", catalogWarehouse)
      t.createOrReplaceTempView("s44_src")
      s.sql("""INSERT INTO graft_snap.trades_evw
              |SELECT tid, amount, shard FROM s44_src
              |WHERE tid % 2 = 0 AND tid % 10 = 0""".stripMargin)
      s.sql(s"DELETE FROM graft_snap.trades_evw WHERE tid > $hi")
    }
    s.conf.set("spark.sql.catalog.graft_snap",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap.warehouse", catalogWarehouse)
    val fourVersions = SnapshotStore.versions(root) == Seq(1, 2, 3, 4)
    val sqlN = s.sql("SELECT count(*) AS n FROM graft_snap.trades_evw")
      .head.getLong(0)
    val scalaN = SnapshotStore.read(s, root).count()
    val dsumSql = "CAST(sum(CAST(amount AS DECIMAL(28,6))) AS DOUBLE)"
    s.sql(
      s"""SELECT 'pre_delete' AS phase, count(*) AS n_rows,
         |  $dsumSql AS amount_sum, $fourVersions AS four_versions,
         |  ${sqlN == scalaN} AS matches_scala
         |FROM graft_snap.trades_evw VERSION AS OF 3
         |UNION ALL
         |SELECT 'head', count(*), $dsumSql, $fourVersions,
         |  ${sqlN == scalaN}
         |FROM graft_snap.trades_evw""".stripMargin)
  }

  val s44Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |t AS (
       |  SELECT CAST(trade_id AS BIGINT) AS tid, amount FROM trades
       |  WHERE CAST(trade_id AS BIGINT) % 3 = 0),
       |h AS (SELECT max(tid) // 2 AS hi FROM t)
       |SELECT 'pre_delete' AS phase, count(*) AS n_rows,
       |  ${duckDsum("amount")} AS amount_sum, true AS four_versions,
       |  true AS matches_scala
       |FROM t
       |UNION ALL
       |SELECT 'head', count(*), ${duckDsum("amount")}, true, true
       |FROM t, h WHERE tid <= hi""".stripMargin

  /** S45: `ALTER TABLE ADD COLUMN` as a METADATA-ONLY commit — the
    * additive DDL SQL users expect (r17 "what's missing" #2): the
    * pinned `#schema` header widens through the same
    * [[graft.util.SchemaMerge]] appends use, the new version lists
    * the SAME files (zero data IO at any table size), old files read
    * the column as NULL, and the next INSERT populates it. The
    * lifecycle: CREATE → INSERT evens → ADD COLUMN side → INSERT odds
    * carrying their direction. Probes: `VERSION AS OF 3` (post-ALTER,
    * pre-second-insert) surfaces the column as all-NULL over the old
    * files; the head counts the populated side values and the buys
    * among them; `four_versions` pins statement-to-commit (ALTER
    * itself published exactly one metadata version). Round18Spec pins
    * the refusal shapes (NOT NULL, duplicate, positioned, nested). */
  def s45SqlAddColumn(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotStore
    val root = s"$catalogWarehouse/trades_ac"
    s.conf.set("spark.sql.catalog.graft_snap",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap.warehouse", catalogWarehouse)
    val t = SyntheticTrades.trades(s, dir)
      .filter(col("trade_id").cast("long") % 29 === 0)
      .select(col("trade_id").cast("long").as("tid"), col("amount"),
        col("direction"))
    if (SnapshotStore.latestVersion(root) == 0) {
      t.createOrReplaceTempView("s45_src")
      s.sql("CREATE TABLE graft_snap.trades_ac (tid BIGINT, amount DOUBLE)")
      s.sql("""INSERT INTO graft_snap.trades_ac
              |SELECT tid, amount FROM s45_src WHERE tid % 2 = 0"""
        .stripMargin)
      s.sql("ALTER TABLE graft_snap.trades_ac ADD COLUMN side STRING")
      s.sql("""INSERT INTO graft_snap.trades_ac
              |SELECT tid, amount, direction FROM s45_src WHERE tid % 2 = 1"""
        .stripMargin)
    }
    val fourVersions = SnapshotStore.versions(root) == Seq(1, 2, 3, 4)
    val dsumSql = "CAST(sum(CAST(amount AS DECIMAL(28,6))) AS DOUBLE)"
    s.sql(
      s"""SELECT 'post_alter' AS phase, count(*) AS n_rows,
         |  $dsumSql AS amount_sum, count(side) AS n_side,
         |  count(CASE WHEN side = 'buy' THEN 1 END) AS n_buy,
         |  $fourVersions AS four_versions
         |FROM graft_snap.trades_ac VERSION AS OF 3
         |UNION ALL
         |SELECT 'head', count(*), $dsumSql, count(side),
         |  count(CASE WHEN side = 'buy' THEN 1 END), $fourVersions
         |FROM graft_snap.trades_ac""".stripMargin)
  }

  val s45Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |t AS (
       |  SELECT CAST(trade_id AS BIGINT) AS tid, amount, direction
       |  FROM trades WHERE CAST(trade_id AS BIGINT) % 29 = 0)
       |SELECT 'post_alter' AS phase, count(*) AS n_rows,
       |  ${duckDsum("amount")} AS amount_sum,
       |  CAST(0 AS BIGINT) AS n_side, CAST(0 AS BIGINT) AS n_buy,
       |  true AS four_versions
       |FROM t WHERE tid % 2 = 0
       |UNION ALL
       |SELECT 'head', count(*), ${duckDsum("amount")},
       |  count(CASE WHEN tid % 2 = 1 THEN 1 END),
       |  count(CASE WHEN tid % 2 = 1 AND direction = 'buy' THEN 1 END),
       |  true
       |FROM t""".stripMargin

  /** ST21: exactly-once through crash-replay when the sink is PURE
    * SQL `INSERT INTO` — st20's operational proof, re-run for the DML
    * face (r17 "what's missing" #3: the V1Write seam passed no writer
    * token, so a foreachBatch body writing SQL text double-committed
    * on replay). The body sets the [[graft.sources.SnapshotDml
    * .TokenConf]] session conf to `"st21:<batchId>"` around each
    * INSERT; the commit records the token in the manifest header AND
    * the durable token log. The entry then reproduces the crash
    * window (sink committed, checkpoint commit marker lost) and
    * restarts: Spark re-executes the last batch with the SAME batchId
    * and the replayed INSERT must find its token and NO-OP. All
    * audited facts are durable store state (version list, token log),
    * so a warm re-invocation recomputes them identically. */
  def st21SqlTokenReplay(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{SnapshotDml, SnapshotStore}
    val root = s"$catalogWarehouse/trades_sqlsink"
    val t = SyntheticTrades.trades(s, dir)
      .filter(col("trade_id").cast("long") % 71 === 0)
      .select(col("trade_id").cast("long").as("tid"), col("amount"))
    if (SnapshotStore.latestVersion(root) == 0) {
      val src = graft.util.TempDirs.scoped("st21-src")
      val ckpt = graft.util.TempDirs.scoped("st21-ckpt")
      t.repartition(3).write.parquet(s"$src/pages")
      SnapshotStore.createEmpty(root, t.schema)
      val ss = streamSession(s)
      ss.conf.set("spark.sql.catalog.graft_snap",
        classOf[graft.sources.GraftCatalog].getName)
      ss.conf.set("spark.sql.catalog.graft_snap.warehouse", catalogWarehouse)
      def runOnce(): Unit = {
        val raw = ss.readStream.schema(t.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$src/pages")
        val q = raw.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[
              org.apache.spark.sql.Row], batchId: Long) =>
            if (!batch.isEmpty) {
              val bs = batch.sparkSession
              bs.conf.set("spark.sql.catalog.graft_snap",
                classOf[graft.sources.GraftCatalog].getName)
              bs.conf.set("spark.sql.catalog.graft_snap.warehouse",
                catalogWarehouse)
              batch.createOrReplaceTempView("st21_batch")
              bs.conf.set(SnapshotDml.TokenConf, s"st21:$batchId")
              try bs.sql(
                """INSERT INTO graft_snap.trades_sqlsink
                  |SELECT tid, amount FROM st21_batch""".stripMargin)
              finally bs.conf.unset(SnapshotDml.TokenConf)
              ()
            }
          }
          .option("checkpointLocation", ckpt)
          .start()
        try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }
      }
      runOnce()
      // crash window: sink committed, the LAST batch's checkpoint
      // commit marker (and its ChecksumFileSystem .crc shadow — a
      // real crash writes neither) never landed
      val commitDir = new java.io.File(ckpt, "commits")
      val markers = commitDir.listFiles()
        .filter(_.getName.matches("\\d+")).sortBy(_.getName.toInt)
      require(markers.nonEmpty, "stream produced no committed batches")
      require(markers.last.delete(), "could not remove the commit marker")
      new java.io.File(commitDir, s".${markers.last.getName}.crc").delete()
      runOnce() // re-executes the last batch with the SAME batchId
    }
    s.conf.set("spark.sql.catalog.graft_snap",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap.warehouse", catalogWarehouse)
    // durable audits: v1 createEmpty + exactly one commit per batch
    // (replay published nothing), and the token log knows every batch
    val replayNoop = SnapshotStore.versions(root) == Seq(1, 2, 3, 4)
    val tokenLogged = (0 to 2).forall(b =>
      SnapshotStore.committedVersionFor(root, s"st21:$b").isDefined)
    s.sql(
      s"""SELECT count(*) AS n_rows, count(DISTINCT tid) AS unique_ids,
         |  CAST(sum(CAST(amount AS DECIMAL(28,6))) AS DOUBLE)
         |    AS amount_sum,
         |  $replayNoop AS replay_was_noop, $tokenLogged AS token_logged
         |FROM graft_snap.trades_sqlsink""".stripMargin)
  }

  val st21Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte}
       |SELECT count(*) AS n_rows,
       |  count(DISTINCT CAST(trade_id AS BIGINT)) AS unique_ids,
       |  ${duckDsum("amount")} AS amount_sum,
       |  true AS replay_was_noop, true AS token_logged
       |FROM trades WHERE CAST(trade_id AS BIGINT) % 71 = 0""".stripMargin

  /** S46: append-time INDEX MAINTENANCE — on a `#statcol`-indexed
    * store, every append (each SQL INSERT, each streaming
    * micro-batch, each rewrite's fresh files) records the fresh
    * files' typed bounds IN the same commit; without it the skipping
    * index dilutes with unindexed files and range queries degrade
    * linearly with ingest age (Iceberg writes per-file bounds on
    * every commit for exactly this reason — from footers; here one
    * bounded aggregate per commit). The probe range sits entirely
    * inside the SQL-INSERTED half, so `fresh_indexed` (every original
    * file stats-skipped) can only hold if the INSERT's files carry
    * bounds — pinned through BOTH faces (Scala ledger + SQL
    * planned-file count). Round18bSpec pins exact per-commit sidecar
    * line counts and the conservative path for a file that lacks the
    * indexed column. */
  def s46AppendStats(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{SnapshotRead, SnapshotStore}
    val root = s"$catalogWarehouse/trades_as"
    val t = SyntheticTrades.trades(s, dir)
      .select(col("trade_id").cast("long").as("tid"), col("amount"))
    // bounded-collect(one row: probe bounds + store sizing)
    val b = t.agg(max(col("tid")).as("mx"),
      count(lit(1)).as("n")).collect().head
    val (mx, n) = (b.getLong(0), b.getLong(1))
    val mid = mx / 2
    s.conf.set("spark.sql.catalog.graft_snap",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap.warehouse", catalogWarehouse)
    if (SnapshotStore.latestVersion(root) == 0) {
      val nFiles = math.max(8, (n / 6000L).toInt + 1)
      SnapshotStore.commitAppendWithStats(
        t.filter(col("tid") < mid), root, "tid", nFiles)
      t.createOrReplaceTempView("s46_src")
      s.sql(s"""INSERT INTO graft_snap.trades_as
               |SELECT tid, amount FROM s46_src WHERE tid >= $mid"""
        .stripMargin)
    }
    val v1Files = SnapshotStore.filesAt(root, 1).size
    val lo = mid + (mx - mid) / 2
    val p = SnapshotRead.plan(s, root, range = Some(("tid", lo, mx)))
    // every v1 file holds tids < mid < lo — all must be skipped, which
    // is only possible if the INSERT's fresh files carry their own
    // bounds (otherwise nothing distinguishes them from v1's)
    val freshIndexed = p.statsSkipped >= v1Files
    val dsumSql = "CAST(sum(CAST(amount AS DECIMAL(28,6))) AS DOUBLE)"
    val sqlDf = s.sql(
      s"""SELECT count(*) AS n_rows, $dsumSql AS amount_sum
         |FROM graft_snap.trades_as WHERE tid >= $lo AND tid <= $mx"""
        .stripMargin)
    def planned(df: DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case bs: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec => bs.scan
      }.map(graft.sources.SnapshotSource.unwrap).collect {
        case q: org.apache.spark.sql.execution.datasources.v2.parquet
            .ParquetScan => q.fileIndex.inputFiles.length
      }.sum
    val scalaDf = p.df
      .agg(count(lit(1)).as("n_rows"), dsum(col("amount")).as("amount_sum"))
      .select(lit("scala").as("phase"), col("n_rows"), col("amount_sum"),
        lit(freshIndexed).as("fresh_indexed"))
    val sqlShaped = sqlDf
      .select(lit("sql").as("phase"), col("n_rows"), col("amount_sum"),
        lit(planned(sqlDf) <= p.filesTotal - v1Files).as("fresh_indexed"))
    scalaDf.unionAll(sqlShaped)
  }

  val s46Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |t AS (
       |  SELECT CAST(trade_id AS BIGINT) AS tid, amount FROM trades),
       |m AS (SELECT max(tid) AS mx, max(tid) // 2 AS mid FROM t),
       |f AS (
       |  SELECT t.* FROM t, m
       |  WHERE tid >= mid + (mx - mid) // 2 AND tid <= mx)
       |SELECT 'scala' AS phase, count(*) AS n_rows,
       |  ${duckDsum("amount")} AS amount_sum, true AS fresh_indexed
       |FROM f
       |UNION ALL
       |SELECT 'sql', count(*), ${duckDsum("amount")}, true
       |FROM f""".stripMargin

  /** S47: partition-spec EVOLUTION driven entirely from SQL — the
    * last piece that needed the Scala API: `CREATE TABLE ...
    * PARTITIONED BY (shard)` records a DEFAULT spec in the `#spec`
    * manifest header (identity transforms only; carried across
    * commits), the first INSERT lands Hive-style `shard=` directories
    * under it, `CALL system.set_spec(t, '')` evolves the default in a
    * metadata-only commit (committed layouts never rewrite —
    * Iceberg's spec evolution), and the second INSERT lands flat. The
    * union read resolves each commit against ITS recorded spec: a
    * shard slice prunes the partitioned commit's directories
    * (planned-file ledger), `layout_evolved` pins the physical fact
    * (v2 files under `shard=` directories, v4 files not), and rows ==
    * the Scala `SnapshotStore.read`. Round18bSpec pins INSERT OVERWRITE
    * under a spec and the schema guard on CREATE. */
  def s47SqlPartitionedCreate(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotStore
    val root = s"$catalogWarehouse/trades_pc"
    s.conf.set("spark.sql.catalog.graft_snap",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap.warehouse", catalogWarehouse)
    val t = SyntheticTrades.trades(s, dir)
      .filter(col("trade_id").cast("long") % 3 === 0)
      .select(col("trade_id").cast("long").as("tid"), col("amount"),
        (col("trade_id").cast("long") % 4).cast("string").as("shard"))
    if (SnapshotStore.latestVersion(root) == 0) {
      t.createOrReplaceTempView("s47_src")
      s.sql("""CREATE TABLE graft_snap.trades_pc
              |(tid BIGINT, amount DOUBLE, shard STRING)
              |PARTITIONED BY (shard)""".stripMargin)
      s.sql("""INSERT INTO graft_snap.trades_pc
              |SELECT tid, amount, shard FROM s47_src WHERE tid % 2 = 0"""
        .stripMargin)
      s.sql("CALL graft_snap.system.set_spec('trades_pc', '')")
      s.sql("""INSERT INTO graft_snap.trades_pc
              |SELECT tid, amount, shard FROM s47_src WHERE tid % 2 = 1"""
        .stripMargin)
    }
    val fourVersions = SnapshotStore.versions(root) == Seq(1, 2, 3, 4)
    val v2Files = SnapshotStore.filesAt(root, 2)
    val v4Fresh = SnapshotStore.filesAt(root, 4).toSet --
      SnapshotStore.filesAt(root, 3).toSet
    val layoutEvolved = v2Files.nonEmpty && v4Fresh.nonEmpty &&
      v2Files.forall(_.contains("/shard=")) &&
      v4Fresh.forall(!_.contains("/shard="))
    val sqlN = s.sql("SELECT count(*) AS n FROM graft_snap.trades_pc")
      .head.getLong(0)
    val scalaN = SnapshotStore.read(s, root).count()
    val total = SnapshotStore.filesAt(root, 4).size
    def planned(df: DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case bs: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec => bs.scan
      }.map[Int] {
        case e: graft.sources.EvolvedTable.EvolvedScan => e.plannedFiles
        case _ => Int.MaxValue
      }.sum
    val dsumSql = "CAST(sum(CAST(amount AS DECIMAL(28,6))) AS DOUBLE)"
    val shardDf = s.sql(
      s"""SELECT count(*) AS n_rows, $dsumSql AS amount_sum
         |FROM graft_snap.trades_pc WHERE shard = '2'""".stripMargin)
    val allDf = s.sql(
      s"""SELECT count(*) AS n_rows, $dsumSql AS amount_sum
         |FROM graft_snap.trades_pc""".stripMargin)
    def shape(phase: String, df: DataFrame, skipped: Boolean): DataFrame =
      df.select(lit(phase).as("phase"), col("n_rows"), col("amount_sum"),
        lit(skipped).as("files_skipped"),
        lit(fourVersions).as("four_versions"),
        lit(layoutEvolved).as("layout_evolved"),
        lit(sqlN == scalaN).as("matches_scala"))
    shape("shard2", shardDf, planned(shardDf) < total)
      .unionAll(shape("all", allDf, skipped = false))
  }

  val s47Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |t AS (
       |  SELECT CAST(trade_id AS BIGINT) AS tid, amount FROM trades
       |  WHERE CAST(trade_id AS BIGINT) % 3 = 0)
       |SELECT 'shard2' AS phase, count(*) AS n_rows,
       |  ${duckDsum("amount")} AS amount_sum, true AS files_skipped,
       |  true AS four_versions, true AS layout_evolved,
       |  true AS matches_scala
       |FROM t WHERE tid % 4 = 2
       |UNION ALL
       |SELECT 'all', count(*), ${duckDsum("amount")}, false, true, true,
       |  true
       |FROM t""".stripMargin

  /** ST22: the NATIVE streaming sink — `writeStream.toTable` into the
    * snapshot catalog (DSv2 STREAMING_WRITE,
    * [[graft.sources.SnapshotStreaming]]): tasks stream rows straight
    * into task-attempt-unique staged parquet files (no driver
    * buffering, bytes identical to a batch write's), and the driver
    * publishes ONE CAS manifest commit per epoch stamped with the
    * `toTable:<queryId>:<epochId>` token. Exactly-once is proven the
    * st20/st21 way — the crash window is reproduced (sink committed,
    * checkpoint commit marker lost) and the restarted stream
    * re-executes the last epoch with the same queryId (persisted in
    * checkpoint metadata) and epochId: the replayed commit finds its
    * token and publishes NOTHING. All audited facts are durable store
    * state. Round18cSpec additionally pins complete-mode (per-epoch
    * REPLACE commits) and same-checkpoint restart idempotence. */
  def st22StreamToTable(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotStore
    val root = s"$catalogWarehouse/trades_tsink"
    val t = SyntheticTrades.trades(s, dir)
      .filter(col("trade_id").cast("long") % 73 === 0)
      .select(col("trade_id").cast("long").as("tid"), col("amount"))
    if (SnapshotStore.latestVersion(root) == 0) {
      val src = graft.util.TempDirs.scoped("st22-src")
      val ckpt = graft.util.TempDirs.scoped("st22-ckpt")
      t.repartition(3).write.parquet(s"$src/pages")
      SnapshotStore.createEmpty(root, t.schema)
      val ss = streamSession(s)
      // BOTH sessions: toTable resolves the catalog via the
      // THREAD-ACTIVE session's conf (see SnapshotStreaming scaladoc)
      Seq(s, ss).foreach { x =>
        x.conf.set("spark.sql.catalog.graft_snap",
          classOf[graft.sources.GraftCatalog].getName)
        x.conf.set("spark.sql.catalog.graft_snap.warehouse",
          catalogWarehouse)
      }
      def runOnce(): Unit = {
        val q = ss.readStream.schema(t.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$src/pages")
          .writeStream.option("checkpointLocation", ckpt)
          .toTable("graft_snap.trades_tsink")
        try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }
      }
      runOnce()
      // crash window: sink committed, the LAST epoch's checkpoint
      // commit marker (and its .crc shadow) never landed
      val commitDir = new java.io.File(ckpt, "commits")
      val markers = commitDir.listFiles()
        .filter(_.getName.matches("\\d+")).sortBy(_.getName.toInt)
      require(markers.nonEmpty, "stream produced no committed epochs")
      require(markers.last.delete(), "could not remove the commit marker")
      new java.io.File(commitDir, s".${markers.last.getName}.crc").delete()
      runOnce() // re-executes the last epoch: token must no-op it
    }
    s.conf.set("spark.sql.catalog.graft_snap",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap.warehouse", catalogWarehouse)
    // durable audits: v1 createEmpty + exactly one commit per epoch
    // (the replay published nothing), every commit epoch-tokened
    val replayNoop = SnapshotStore.versions(root) == Seq(1, 2, 3, 4)
    val tokened = (2 to 4).forall(v =>
      SnapshotStore.manifestMeta(root, v).get("writer")
        .exists(_.startsWith("toTable:")))
    s.sql(
      s"""SELECT count(*) AS n_rows, count(DISTINCT tid) AS unique_ids,
         |  CAST(sum(CAST(amount AS DECIMAL(28,6))) AS DOUBLE)
         |    AS amount_sum,
         |  $replayNoop AS replay_was_noop, $tokened AS epoch_tokened
         |FROM graft_snap.trades_tsink""".stripMargin)
  }

  val st22Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte}
       |SELECT count(*) AS n_rows,
       |  count(DISTINCT CAST(trade_id AS BIGINT)) AS unique_ids,
       |  ${duckDsum("amount")} AS amount_sum,
       |  true AS replay_was_noop, true AS epoch_tokened
       |FROM trades WHERE CAST(trade_id AS BIGINT) % 73 = 0""".stripMargin

  /** ST23: the snapshot store as a STREAMING SOURCE —
    * `readStream.table("graft_snap.t")` (DSv2 MICRO_BATCH_READ,
    * [[graft.sources.SnapshotSource]]), Delta's streaming-source /
    * Iceberg's incremental-read face: offsets ARE version numbers and
    * a micro-batch (v1, v2] reads exactly the files v2's manifest
    * lists that v1's does not — the batch plan is driver-side
    * manifest arithmetic, the data path is a stock pruned ParquetScan
    * over the added files. The entry streams an existing table (batch
    * 0 = the initial snapshot), commits MORE rows mid-stream, drains
    * again (batch 1 = only the fresh files), and pins: memory-sink
    * rows == the table's rows exactly (no duplicate, no loss across
    * incremental batches) with the oracle re-deriving the aggregate.
    * Round18dSpec pins per-batch file/row exactness, the non-append
    * refusal (a delete mid-stream fails loudly; ignoreChanges=true
    * streams added files only), checkpoint restart resumption, and
    * startingVersion. */
  def st23TableSource(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotStore
    val root = s"$catalogWarehouse/trades_feed"
    val t = SyntheticTrades.trades(s, dir)
      .filter(col("trade_id").cast("long") % 79 === 0)
      .select(col("trade_id").cast("long").as("tid"), col("amount"))
    val ss = streamSession(s)
    Seq(s, ss).foreach { x =>
      x.conf.set("spark.sql.catalog.graft_snap",
        classOf[graft.sources.GraftCatalog].getName)
      x.conf.set("spark.sql.catalog.graft_snap.warehouse", catalogWarehouse)
    }
    if (SnapshotStore.latestVersion(root) == 0) {
      val ckpt = graft.util.TempDirs.scoped("st23-ckpt")
      SnapshotStore.commitAppend(t.filter(col("tid") % 2 === 0), root)
      val q = ss.readStream.table("graft_snap.trades_feed")
        .writeStream.format("memory").queryName("st23_mem")
        .option("checkpointLocation", ckpt).start()
      try {
        q.processAllAvailable() // batch 0: the initial snapshot (v1)
        SnapshotStore.commitAppend(t.filter(col("tid") % 2 === 1), root)
        q.processAllAvailable() // batch 1: only v2's fresh files
      } finally { q.stop(); q.awaitTermination() }
    }
    val memN = ss.table("st23_mem").count()
    val tableN = SnapshotStore.read(s, root).count()
    org.apache.spark.sql.GraftBridge.bindTo(
      ss.table("st23_mem")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("tid")).as("unique_ids"),
          dsum(col("amount")).as("amount_sum"))
        .select(col("n_rows"), col("unique_ids"), col("amount_sum"),
          lit(memN == tableN).as("matches_table")), s)
  }

  val st23Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte}
       |SELECT count(*) AS n_rows,
       |  count(DISTINCT CAST(trade_id AS BIGINT)) AS unique_ids,
       |  ${duckDsum("amount")} AS amount_sum, true AS matches_table
       |FROM trades WHERE CAST(trade_id AS BIGINT) % 79 = 0""".stripMargin

  /** S48: ROW-LEVEL SQL DML — `UPDATE` and full `MERGE INTO` (three
    * WHEN branches) through Spark's DSv2 SupportsRowLevelOperations in
    * COPY_ON_WRITE group mode ([[graft.sources.SnapshotRowLevel]]):
    * the statement rewrites into a ReplaceData plan, replacement rows
    * stream into staged parquet (distributed, no driver buffering),
    * and the commit is ONE replace-shaped CAS manifest — v1
    * granularity is the whole table (the grammar at full-rewrite
    * cost — as `CALL system.merge_rows` pays too: it replaces the
    * table with base ∪ upserts minus the changed keys; translatable
    * DELETEs keep the targeted copy-on-write path — Round18eSpec
    * pins that routing). The lifecycle: append →
    * UPDATE (conditional amount bump) → MERGE (update-or-delete a
    * changes slice + insert genuinely new keys); the oracle
    * re-derives the final state from the raw trades with the same
    * integer-modulus derivations, and `three_versions` pins the
    * statement-to-commit mapping (each statement exactly one
    * commit). */
  def s48SqlMergeUpdate(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotStore
    val root = s"$catalogWarehouse/trades_rl"
    s.conf.set("spark.sql.catalog.graft_snap",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap.warehouse", catalogWarehouse)
    val t = SyntheticTrades.trades(s, dir)
      .filter(col("trade_id").cast("long") % 5 === 0)
      .select(col("trade_id").cast("long").as("tid"), col("amount"))
    // bounded-collect(one row: the insert keys' base)
    val mx = t.agg(max(col("tid"))).collect().head.getLong(0)
    if (SnapshotStore.latestVersion(root) == 0) {
      SnapshotStore.commitAppend(t, root)
      s.sql("""UPDATE graft_snap.trades_rl SET amount = amount + 1000
              |WHERE tid % 10 = 0""".stripMargin)
      t.filter(col("tid") % 15 === 0)
        .select(col("tid"), (col("amount") * 2).as("amount"),
          when(col("tid") % 30 === 0, "D").otherwise("U").as("op"))
        .unionByName(s.range(1, 3).select(
          (lit(mx) + col("id") * 10).as("tid"),
          (col("id") * 11.0).as("amount"), lit("U").as("op")))
        .createOrReplaceTempView("s48_changes")
      s.sql(
        """MERGE INTO graft_snap.trades_rl t USING s48_changes c
          |ON t.tid = c.tid
          |WHEN MATCHED AND c.op = 'D' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET amount = c.amount
          |WHEN NOT MATCHED THEN INSERT (tid, amount)
          |  VALUES (c.tid, c.amount)""".stripMargin)
    }
    val threeVersions = SnapshotStore.versions(root) == Seq(1, 2, 3)
    val dsumSql = "CAST(sum(CAST(amount AS DECIMAL(28,6))) AS DOUBLE)"
    s.sql(
      s"""SELECT count(*) AS n_rows, count(DISTINCT tid) AS unique_ids,
         |  $dsumSql AS amount_sum, $threeVersions AS three_versions
         |FROM graft_snap.trades_rl""".stripMargin)
  }

  val s48Oracle: String =
    s"""WITH ${SyntheticTrades.tradesCte},
       |t AS (
       |  SELECT CAST(trade_id AS BIGINT) AS tid, amount FROM trades
       |  WHERE CAST(trade_id AS BIGINT) % 5 = 0),
       |m AS (SELECT max(tid) AS mx FROM t),
       |upd AS (
       |  SELECT tid, CASE WHEN tid % 10 = 0 THEN amount + 1000
       |    ELSE amount END AS amount FROM t),
       |merged AS (
       |  SELECT u.tid,
       |    CASE WHEN u.tid % 15 = 0 THEN 2 * t.amount ELSE u.amount END
       |      AS amount
       |  FROM upd u JOIN t USING (tid)
       |  WHERE u.tid % 30 <> 0
       |  UNION ALL
       |  SELECT mx + 10, 11.0 FROM m
       |  UNION ALL
       |  SELECT mx + 20, 22.0 FROM m)
       |SELECT count(*) AS n_rows, count(DISTINCT tid) AS unique_ids,
       |  ${duckDsum("amount")} AS amount_sum, true AS three_versions
       |FROM merged""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "s48_sql_merge_update" -> QueryDef(s48SqlMergeUpdate _, s48Oracle),
    "st23_table_source" -> QueryDef(st23TableSource _, st23Oracle),
    "st22_stream_totable" -> QueryDef(st22StreamToTable _, st22Oracle),
    "s46_append_stats" -> QueryDef(s46AppendStats _, s46Oracle),
    "s47_sql_partitioned_create" ->
      QueryDef(s47SqlPartitionedCreate _, s47Oracle),
    "s43_str_prune" -> QueryDef(s43StrPrune _, s43Oracle),
    "s44_sql_evolved_dml" -> QueryDef(s44SqlEvolvedDml _, s44Oracle),
    "s45_sql_add_column" -> QueryDef(s45SqlAddColumn _, s45Oracle),
    "st21_sql_token_replay" -> QueryDef(st21SqlTokenReplay _, st21Oracle),
    "s42_sql_metadata" -> QueryDef(s42SqlMetadata _, s42Oracle),
    "s41_sql_dml" -> QueryDef(s41SqlDml _, s41Oracle),
    "s40_sql_maintenance" -> QueryDef(s40SqlMaintenance _, s40Oracle),
    "s39_sql_evolved_read" -> QueryDef(s39SqlEvolvedRead _, s39Oracle),
    "s38_typed_stats" -> QueryDef(s38TypedStats _, s38Oracle),
    "st20_stream_restart" -> QueryDef(st20StreamRestart _, st20Oracle),
    "s37_sql_pruned_read" -> QueryDef(s37SqlPrunedRead _, s37Oracle),
    "s35_unified_read" -> QueryDef(s35UnifiedRead _, s35Oracle),
    "s36_sql_time_travel" -> QueryDef(s36SqlTimeTravel _, s36Oracle),
    "s34_time_travel" -> QueryDef(s34TimeTravel _, s34Oracle),
    "st19_stream_mv" -> QueryDef(st19StreamMv _, st19Oracle),
    "s32_partition_evolution" ->
      QueryDef(s32PartitionEvolution _, s32Oracle),
    "s33_incr_mv" -> QueryDef(s33IncrMv _, s33Oracle),
    "s30_merge_trades" -> QueryDef(s30MergeTrades _, s30Oracle),
    "s31_quarantine" -> QueryDef(s31Quarantine _, s31Oracle),
    "st18_stream_vacuum" -> QueryDef(st18StreamVacuum _, st18Oracle),
    "s28_expire_snapshots" -> QueryDef(s28ExpireSnapshots _, s28Oracle),
    "s29_snapshot_merge" -> QueryDef(s29SnapshotMerge _, s29Oracle),
    "s18_dynamic_overwrite" -> QueryDef(s18DynamicOverwrite _, s18Oracle),
    "s20_snapshot_read" -> QueryDef(s20SnapshotRead _, s20Oracle),
    "s21_manifest_prune" -> QueryDef(s21ManifestPrune _, s21Oracle),
    "s22_snapshot_tag" -> QueryDef(s22SnapshotTag _, s22Oracle),
    "s23_compact_small" -> QueryDef(s23CompactSmall _, s23Oracle),
    "st16_stream_funnel" -> QueryDef(st16StreamFunnel _, st16Oracle),
    "st17_stream_asof" -> QueryDef(st17StreamAsof _, st17Oracle),
    "st15_stream_snapshot" -> QueryDef(st15StreamSnapshot _, st15Oracle),
    "s17_merge_upsert" -> QueryDef(s17MergeUpsert _, s17Oracle),
    "st14_stream_cdc" -> QueryDef(st14StreamCdc _, s17Oracle),
    "st13_stream_outer_join" -> QueryDef(st13StreamOuterJoin _, st13Oracle),
    "s15_schema_evolution" -> QueryDef(s15SchemaEvolution _, s15Oracle),
    "s14_jdbc_roundtrip" -> QueryDef(s14JdbcRoundtrip _, s14Oracle),
    "st12_stream_enrich" -> QueryDef(st12StreamEnrich _, st12Oracle),
    "s13_compaction" -> QueryDef(s13Compaction _, s13Oracle),
    "s12_csv_corrupt" -> QueryDef(s12CsvCorrupt _, s12Oracle),
    "st11_stream_merge" -> QueryDef(st11StreamMerge _, st11Oracle),
    "s24_row_delete" -> QueryDef(s24RowDelete _, s24Oracle),
    "s25_snapshot_diff" -> QueryDef(s25SnapshotDiff _, s25Oracle),
    "s26_orc_roundtrip" -> QueryDef(s26OrcRoundtrip _, s26Oracle),
    "s27_expectations" -> QueryDef(s27Expectations _, s27Oracle),
    "s7_backfill_roundtrip" -> QueryDef(s7Backfill _, s7Oracle),
    "st9_stream_vwap" -> QueryDef(st9StreamVwap _, st9Oracle),
    "st10_stream_topk" -> QueryDef(st10StreamTopk _, st10Oracle),
    "s8_fetch_pruned" -> QueryDef(s8FetchPruned _, s8PrunedOracle),
    "s9_schema_system" -> QueryDef(s9Schema _, s9Oracle),
    "st7_stream_docs" -> QueryDef(st7StreamDocs _, st7Oracle),
    "st1_streaming_ingest" -> QueryDef(st1Streaming _, st1Oracle),
    "st2_streaming_bars" -> QueryDef(st2StreamingBars _, st2Oracle),
    "st3_stream_join" -> QueryDef(st3StreamJoin _, st3Oracle),
    "st4_streaming_pcr" -> QueryDef(st4StreamingPcr _, st4Oracle),
    "st5_gap_events" -> QueryDef(st5GapEvents _, st5Oracle),
    "st6_session_bursts" -> QueryDef(st6SessionBursts _, st6Oracle),
    "st8_streaming_flow" -> QueryDef(st8StreamingFlow _, st8Oracle))
}
