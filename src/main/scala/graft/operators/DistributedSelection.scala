package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed EXACT order-statistic selection — the scale-path
  * replacement for the classic `row_number() OVER (PARTITION BY key
  * ORDER BY value)` selection, whose per-key global sort puts every
  * row of a key into ONE task (a genuine 100×-scale killer when key
  * cardinality is small: two underlyings means two tasks sort the
  * whole table).
  *
  * The rewrite is the textbook two-level distributed selection:
  *
  *  1. collapse rows to a (key, value) FREQUENCY table — one hash
  *     aggregate with map-side partial counts (the only corpus-sized
  *     shuffle; output is bounded by distinct-value cardinality);
  *  2. range-repartition the frequency table by (key, value) so each
  *     task holds a contiguous slice of one-or-more keys' value
  *     ranges — no task ever holds a whole key unless the DISTINCT
  *     table is that small anyway;
  *  3. per-(slice, key) subtotals → a prefix-sum window over the TINY
  *     subtotal table (numPartitions × keys rows) gives each slice
  *     its global rank offset;
  *  4. broadcast the offsets back, window-cumsum WITHIN each slice
  *     (partitioned by (slice, key) — group size is bounded by the
  *     range partitioner's slice width, never by key cardinality),
  *     add the offset → exact global cumulative counts;
  *  5. the q-quantile is the value whose cumulative range
  *     (cum−cnt, cum] contains the integer rank ceil(q·n) — ranks in
  *     pure integer math so both engines select the identical element.
  *
  * The value at rank r under (value, tiebreak) order is independent
  * of the tiebreak column, so the frequency-table rewrite returns
  * exactly what the row_number formulation returned.
  */
object DistributedSelection {

  /** Exact global cumulative counts per (key, value): the frequency
    * table decorated with `_cnt` (multiplicity), `_cum` (inclusive
    * global cumulative count under value order within key) and `_n`
    * (total rows per key). Shared scaffolding for quantile selection
    * and trimmed aggregation. */
  def cumulativeFreq(df: DataFrame, keyCol: String, valCol: String)
      : DataFrame = {
    val spark = df.sparkSession
    // NOTE (r20, measured): the range partitioner's boundary-sampling
    // pass re-executes this aggregate (the corpus pass runs twice —
    // once to sample, once for real). Caching `freq` first was tried
    // and REVERTED: the extra persist+count job cost more than the
    // saved re-aggregation at bench scale (a21/a24/a32 each ~0.5-1 s
    // slower, matched A/B). At much larger inputs the cache wins —
    // a deployment can flip it — but the harness keeps the
    // two-pass shape the measurements favor.
    val freq = df
      .groupBy(col(keyCol), col(valCol))
      .agg(count(lit(1)).as("_cnt"))
    val parts = spark.sessionState.conf.numShufflePartitions
    // explicit partition count: AQE leaves user-specified range
    // repartitions alone, and slice ids must be stable within the job
    val ranged = graft.util.Caches.materialize(
      freq.repartitionByRange(parts, col(keyCol), col(valCol))
        .withColumn("_pid", spark_partition_id()))
    val subtot = ranged
      .groupBy(col("_pid"), col(keyCol))
      .agg(sum(col("_cnt")).as("_ptot"))
    val wOff = Window.partitionBy(col(keyCol)).orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(col(keyCol))
    val offs = subtot
      .withColumn("_off", coalesce(sum(col("_ptot")).over(wOff), lit(0L)))
      .withColumn("_n", sum(col("_ptot")).over(wTot))
      .select(col("_pid"), col(keyCol), col("_off"), col("_n"))
    val wLoc = Window.partitionBy(col("_pid"), col(keyCol))
      .orderBy(col(valCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    ranged
      .join(broadcast(offs), Seq("_pid", keyCol))
      .withColumn("_cum", sum(col("_cnt")).over(wLoc) + col("_off"))
  }

  /** Exact integer-rank quantiles per key: for each (numerator a,
    * denominator b, name), the element at rank ceil(a·n/b) =
    * (a·n + b − 1) div b under value order. One row per key with a
    * column per quantile plus `n_trades` (the per-key row count —
    * named for the a21 contract). */
  def quantiles(df: DataFrame, keyCol: String, valCol: String,
      qs: Seq[(Int, Int, String)]): DataFrame = {
    val cum = cumulativeFreq(df, keyCol, valCol)
    val ranks = qs.map { case (a, b, name) =>
      name -> expr(s"(_n * $a + ${b - 1}) div $b")
    }
    def hits(r: Column): Column =
      col("_cum") - col("_cnt") < r && r <= col("_cum")
    cum
      .filter(ranks.map { case (_, r) => hits(r) }.reduce(_ || _))
      .groupBy(col(keyCol))
      .agg(max(col("_n")).as("n_trades"),
        ranks.map { case (name, r) =>
          max(when(hits(r), col(valCol))).as(name)
        }: _*)
  }

  /** Exact INTERPOLATED quantiles per key (ANSI PERCENTILE_CONT
    * semantics) — the continuous companion to [[quantiles]]'s
    * discrete selection, on the same scale-safe scaffolding. For
    * q = a/b over n rows, the target position is 1 + q·(n−1); in
    * pure integer math: lo = 1 + (a·(n−1)) div b, remainder
    * r = (a·(n−1)) mod b, hi = lo + (1 if r > 0). The result
    * interpolates v(lo) + (r·(v(hi) − v(lo)))/b — rank arithmetic is
    * exact integers and the interpolation runs the identical double
    * ops on identically-selected elements, so any engine reproduces
    * it bit-for-bit. One row per key: `n_trades` + a column per
    * quantile name. */
  def quantilesCont(df: DataFrame, keyCol: String, valCol: String,
      qs: Seq[(Int, Int, String)]): DataFrame = {
    val cum = cumulativeFreq(df, keyCol, valCol)
    def hits(r: Column): Column =
      col("_cum") - col("_cnt") < r && r <= col("_cum")
    val specs = qs.map { case (a, b, name) =>
      val lo = expr(s"1L + (((_n - 1L) * $a) div $b)")
      val rem = expr(s"((_n - 1L) * $a) % $b")
      val hi = lo + when(rem > 0, lit(1L)).otherwise(lit(0L))
      (name, lo, hi, rem, b)
    }
    val aggd = cum
      .filter(specs.map { case (_, lo, hi, _, _) => hits(lo) || hits(hi) }
        .reduce(_ || _))
      .groupBy(col(keyCol))
      .agg(max(col("_n")).as("n_trades"),
        specs.flatMap { case (name, lo, hi, rem, _) =>
          Seq(
            max(when(hits(lo), col(valCol))).as(s"_lo_$name"),
            max(when(hits(hi), col(valCol))).as(s"_hi_$name"),
            max(rem).as(s"_rem_$name"))
        }: _*)
    aggd.select(
      col(keyCol) +: col("n_trades") +:
        specs.map { case (name, _, _, _, b) =>
          (col(s"_lo_$name") +
            (col(s"_rem_$name").cast("double") *
              (col(s"_hi_$name") - col(s"_lo_$name"))) / lit(b.toDouble))
            .as(name)
        }: _*)
  }

  /** Exact symmetric trimmed mean per key: drop the lowest and
    * highest floor(n·trimNum/trimDen) elements, average the rest.
    * Each (key, value) row contributes its rank-range overlap with
    * (lo, hi] — multiplicity-weighted in exact DECIMAL so the sum is
    * order-free — and the division is the identical double division
    * on both engines. Null when the trim swallows the whole key. */
  def trimmedMean(df: DataFrame, keyCol: String, valCol: String,
      trimNum: Int, trimDen: Int): DataFrame = {
    val cum = cumulativeFreq(df, keyCol, valCol)
    val lo = expr(s"(_n * $trimNum) div $trimDen")
    val hi = col("_n") - lo
    val kept = greatest(lit(0L),
      least(col("_cum"), hi) - greatest(col("_cum") - col("_cnt"), lo))
    cum
      .withColumn("_kept", kept)
      .filter(col("_kept") > 0)
      .groupBy(col(keyCol))
      .agg(max(col("_n")).as("n_rows"),
        max(col("_n") - lo * 2).as("n_kept"),
        (sum(col(valCol).cast(DecimalType(28, 6)) * col("_kept"))
          .cast("double") /
          nullif(max(col("_n") - lo * 2).cast("double"), lit(0.0)))
          .as("trimmed_mean"))
  }

  /** Exact global row_number under a TOTAL order (`orderCols` must be
    * collision-free, e.g. end in a unique tiebreak) WITHOUT the
    * single-partition `Window.orderBy(...)` — the two-level rewrite
    * of the classic global-rank window (whose WindowExec moves every
    * row into ONE task):
    *
    *  1. range-repartition on the sort order — each slice holds a
    *     contiguous rank range, sized ~n/parts;
    *  2. per-slice counts → prefix-sum offsets over the PARTS-row
    *     subtotal table (the only unpartitioned window, and it rides
    *     a frame bounded by `spark.sql.shuffle.partitions`, never by
    *     the data);
    *  3. broadcast the offsets back; row_number WITHIN each slice
    *     (partitioned window, slice-bounded) + offset = global rank.
    *
    * Output: `df` plus `rankName` and `_gn` (the total row count,
    * free off the subtotal table). Deterministic: the rank of a row
    * under a total order is independent of where the range
    * partitioner happens to cut. */
  def globalRowNumber(df: DataFrame, rankName: String,
      orderCols: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    // no extra cache of `df` here (contrast cumulativeFreq): every
    // caller already hands this a cheap projection of a materialized
    // frame, so the range partitioner's sampling pass re-reads a
    // cache, not a corpus aggregate
    val ranged = graft.util.Caches.materialize(
      df.repartitionByRange(parts, orderCols: _*)
        .withColumn("_gpid", spark_partition_id()))
    val subtot = ranged.groupBy(col("_gpid"))
      .agg(count(lit(1)).as("_ptot"))
    // bounded-window(one subtotal per range partition)
    val wOff = Window.orderBy(col("_gpid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy(col("_gpid")).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val offs = subtot
      .withColumn("_goff", coalesce(sum(col("_ptot")).over(wOff), lit(0L)))
      .withColumn("_gn", sum(col("_ptot")).over(wAll))
      .select(col("_gpid"), col("_goff"), col("_gn"))
    val wLoc = Window.partitionBy(col("_gpid")).orderBy(orderCols: _*)
    ranged
      .join(broadcast(offs), Seq("_gpid"))
      .withColumn(rankName, row_number().over(wLoc) + col("_goff"))
      .drop("_gpid", "_goff")
  }

  /** Exact distributed NTILE(buckets) under a total order — ANSI
    * semantics (the first `n mod buckets` buckets take one extra
    * row), computed from [[globalRowNumber]]'s rank and total count
    * (`_gn`, carried on the broadcast offsets — never a second pass)
    * as pure integer column math, so the result is bit-identical to
    * the `ntile(b) OVER (ORDER BY ...)` it replaces at any scale.
    * The ELSE branch's `div` never sees a zero divisor: when
    * _gn < buckets the fat-bucket span covers every rank. */
  def distributedNtile(df: DataFrame, outName: String, buckets: Int,
      orderCols: Seq[Column]): DataFrame = {
    val rankName = s"_rank_$outName"
    globalRowNumber(df, rankName, orderCols)
      .withColumn(outName, expr(
        s"""CAST(CASE
           | WHEN $rankName <= (_gn div $buckets + 1) * (_gn % $buckets)
           | THEN ($rankName - 1) div (_gn div $buckets + 1) + 1
           | ELSE _gn % $buckets
           |   + ($rankName - 1 - (_gn div $buckets + 1) * (_gn % $buckets))
           |     div (_gn div $buckets) + 1
           |END AS INT)""".stripMargin))
      .drop(rankName, "_gn")
  }
}
