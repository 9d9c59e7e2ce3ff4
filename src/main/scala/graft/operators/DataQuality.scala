package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality validation (SURVEY §2.4 A10/A11, §2.5 W1, §2.6 O3) —
  * the reference's `validation/data_quality.py:30-226`.
  *
  * `uniqExact` maps to exact `countDistinct` (the reference insists on
  * exactness over HLL — SURVEY §2.4 note); time spans are integer
  * epoch arithmetic end-to-end.
  *
  * Scale notes: A10 is a single global aggregate — Catalyst plans
  * partial aggregation, and exact countDistinct expands to a two-stage
  * shuffle keyed by trade_id (uniform, no skew). W1's global
  * `Window.orderBy` is a single-reducer sort at 100 TB: the production
  * layout partitions by month and runs per-month lead() with a
  * boundary fix-up union (cheap: one row per month); at test scale the
  * global window is exact and fine.
  */
object DataQuality {

  /** Declarative data-contract checks (the dbt-tests / Deequ
    * "expectations" layer): each check is ONE aggregate (or one
    * anti-join count) over its table, emitted as a uniform
    * (check_name, table_name, n_rows, n_violations, passed) row — the
    * shape a warehouse gate consumes. Referential integrity uses a
    * left-anti join on the key (broadcast-able when the parent's key
    * set fits, shuffle otherwise — Catalyst's choice); everything
    * else is a conditional count inside the table's own scan. Scale:
    * one pass per table + one join; checks over the same table fuse
    * into one aggregate where listed together. */
  def expectations(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    def row(check: Column, table: Column, rows: Column, bad: Column) =
      Seq(check, table, rows, bad, (bad === 0L).as("passed"))
    val liChecks = lineitem.agg(
      count(lit(1)).as("n"),
      count(when(col("l_orderkey").isNull, 1)).as("null_ok"),
      count(when(!col("l_quantity").between(1, 50), 1)).as("range_qty"))
    val liNull = liChecks.select(row(lit("not_null:l_orderkey"),
      lit("lineitem"), col("n"), col("null_ok")): _*)
    val liRange = liChecks.select(row(lit("range:l_quantity[1,50]"),
      lit("lineitem"), col("n"), col("range_qty")): _*)
    val oChecks = orders.agg(
      count(lit(1)).as("n"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dups"),
      count(when(!col("o_orderstatus").isin("O", "F", "P"), 1))
        .as("bad_status"),
      count(when(col("o_totalprice") < 0, 1)).as("neg_price"))
    val oUnique = oChecks.select(row(lit("unique:o_orderkey"),
      lit("orders"), col("n"), col("dups")): _*)
    val oStatus = oChecks.select(row(lit("accepted:o_orderstatus"),
      lit("orders"), col("n"), col("bad_status")): _*)
    val oPrice = oChecks.select(row(lit("non_negative:o_totalprice"),
      lit("orders"), col("n"), col("neg_price")): _*)
    val orphans = lineitem.select(col("l_orderkey"))
      .join(orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orphans"))
      .crossJoin(broadcast(lineitem.agg(count(lit(1)).as("n"))))
      .select(row(lit("ref:l_orderkey->o_orderkey"), lit("lineitem"),
        col("n"), col("orphans")): _*)
    val cols = Seq("check_name", "table_name", "n_rows",
      "n_violations", "passed")
    Seq(liNull, liRange, oUnique, oStatus, oPrice, orphans)
      .map(_.toDF(cols: _*)).reduce(_.unionAll(_))
  }

  /** Expectations quarantine split — dbt's `--store-failures` /
    * Deequ's row-level mode on top of [[expectations]]' report-only
    * checks: ONE pass tags every row with the named checks it
    * violates (an array built by a codegen'd filter over the check
    * columns — no per-check scan), then the frame splits into the
    * clean rows (no violations — safe to publish) and the quarantine
    * rows carrying a deterministic comma-joined `violated_checks`
    * label in check-declaration order. A null check result counts as
    * a violation (a row the contract cannot vouch for must not reach
    * the clean table). At 100 TB this is one scan + two filtered
    * writes; the tag array is bounded by the check count. */
  def quarantineSplit(df: DataFrame, checks: Seq[(String, Column)])
      : (DataFrame, DataFrame) = {
    val viol = filter(
      array(checks.map { case (name, ok) =>
        when(!coalesce(ok, lit(false)), lit(name))
      }: _*),
      c => c.isNotNull)
    val tagged = df.withColumn("__viol", viol)
    val clean = tagged.filter(size(col("__viol")) === 0).drop("__viol")
    // semicolon-joined: check names conventionally carry commas
    // (range:x[1,30]), which a comma join would make unsplittable
    val quarantine = tagged.filter(size(col("__viol")) > 0)
      .withColumn("violated_checks", concat_ws(";", col("__viol")))
      .drop("__viol")
    (clean, quarantine)
  }

  /** A10: one-row table metrics + derived rates. */
  def qualityMetrics(trades: DataFrame): DataFrame = {
    val ep = unix_timestamp(col("timestamp"))
    val agg = trades.agg(
      count(lit(1)).as("total_rows"),
      countDistinct(col("trade_id")).as("unique_trades"),
      min(ep).as("earliest_ep"),
      max(ep).as("latest_ep"),
      datediff(to_date(max(col("timestamp"))), to_date(min(col("timestamp"))))
        .as("date_span_days"),
      count(when(col("iv").isNull || col("iv") === 0.0, lit(1)))
        .as("null_iv_count"),
      count(when(col("index_price").isNull || col("index_price") === 0.0,
        lit(1))).as("null_index_count"))
    val hours = floor((col("latest_ep") - col("earliest_ep")) / 3600L)
    agg
      .withColumn("avg_trades_per_hour",
        when(hours > 0, col("total_rows").cast("double") / hours)
          .otherwise(col("total_rows").cast("double")))
      .withColumn("dedup_rate",
        col("unique_trades").cast("double") / col("total_rows"))
      .withColumn("null_iv_rate",
        col("null_iv_count").cast("double") / col("total_rows"))
      .withColumn("null_index_rate",
        col("null_index_count").cast("double") / col("total_rows"))
  }

  /** W1/O3: inter-trade gaps above `thresholdHours`, worst first,
    * top `limit`.
    *
    * The lead() runs per MONTH partition (the table's partition key),
    * not as one global ordered window — a global Window.orderBy is a
    * single-reducer sort of every trade, broken at 100 TB. Each
    * month's last trade gets its successor from a month-level
    * boundary aggregate instead (one row per month, trivially small),
    * so the result multiset is identical to the global form — the
    * same decomposition ClickHouse's partition-local processing
    * implies. */
  def gapAnalysis(
      trades: DataFrame,
      thresholdHours: Int = 4,
      limit: Int = 100): DataFrame = {
    val ep = unix_timestamp(col("timestamp"))
    val withMonth = trades.select(ep.as("gap_start"),
      date_format(col("timestamp"), "yyyyMM").as("_m"))
    val intra = withMonth
      .withColumn("gap_end", lead(col("gap_start"), 1)
        .over(Window.partitionBy(col("_m")).orderBy(col("gap_start"))))
      .filter(col("gap_end").isNotNull)
      .select("gap_start", "gap_end")
    val monthEdges = withMonth.groupBy(col("_m"))
      .agg(min(col("gap_start")).as("_first"), max(col("gap_start")).as("_last"))
    val boundary = monthEdges
      .withColumn("gap_end",
        // bounded-window(one row per calendar month: the month-edge table)
        lead(col("_first"), 1).over(Window.orderBy(col("_m"))))
      .filter(col("gap_end").isNotNull)
      .select(col("_last").as("gap_start"), col("gap_end"))
    intra.unionAll(boundary)
      .withColumn("gap_hours",
        floor((col("gap_end") - col("gap_start")) / 3600L))
      .filter(col("gap_hours") > thresholdHours)
      .orderBy(desc("gap_hours"), asc("gap_start"))
      .limit(limit)
  }

  /** S16: gap → re-fetch work queue — the "gapless" promise made
    * actionable: each detected gap is sliced into bounded fetch
    * windows (`sliceSec` wide, last slice clipped to the gap end),
    * one row per slice — exactly the (start_ts, end_ts) cursor pairs
    * the backfill driver loop consumes (S7's window protocol). All
    * integer epoch arithmetic; slice count per gap is
    * ceil(gap/sliceSec), so the explode is bounded by gap length,
    * never data volume. */
  def gapRepairPlan(gaps: DataFrame, sliceSec: Long = 6L * 3600L)
      : DataFrame =
    gaps
      .withColumn("slice_idx", explode(expr(
        s"sequence(0L, (gap_end - gap_start - 1) div ${sliceSec}L)")))
      .select(
        col("gap_start"), col("gap_end"), col("gap_hours"),
        col("slice_idx"),
        (col("gap_start") + col("slice_idx") * sliceSec)
          .as("slice_start"),
        least(col("gap_start") + (col("slice_idx") + 1) * sliceSec,
          col("gap_end")).as("slice_end"))

  /** A11: per-underlying coverage stats. */
  def coverageStats(trades: DataFrame): DataFrame = {
    val ep = unix_timestamp(col("timestamp"))
    trades
      .groupBy(col("underlying"))
      .agg(
        count(lit(1)).as("trade_count"),
        countDistinct(col("instrument_name")).as("unique_instruments"),
        min(ep).as("earliest_ep"),
        max(ep).as("latest_ep"),
        (count(when(col("iv").isNull || col("iv") === 0.0, lit(1)))
          .cast("double") / count(lit(1))).as("null_iv_rate"),
        (count(when(col("index_price").isNull || col("index_price") === 0.0,
          lit(1))).cast("double") / count(lit(1))).as("null_index_rate"))
  }
}
