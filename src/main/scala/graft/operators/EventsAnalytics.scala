package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataTypes.createDecimalType

/** Behavioral-analytics operators over the `events` stream table —
  * the batch twins of the ClickHouse-style windowFunnel / retention /
  * sessionization family (the reference's engine ships these as
  * first-class aggregate combinators; here each is a declarative
  * window/join plan Catalyst can optimize).
  *
  * All time arithmetic is integer epoch-microseconds (`unix_micros`),
  * never interval/double math — bit-exact in any engine and immune to
  * the parquet ns→µs truncation difference between readers.
  *
  * Scale notes (100 TB): every operator shuffles at most by
  * `user_id` — sessionize's window and its follow-up aggregate reuse
  * ONE user-keyed exchange (HashPartitioning(user) satisfies the
  * (user, session) clustered distribution), funnel's per-step
  * aggregates are user-keyed equi-joins over already-minimized
  * per-user rows, and retention joins a per-user cohort row (one row
  * per user) back to per-user-day activity. Nothing collects; skewed
  * power users are one partition's worth of rows, not a hot key
  * explosion, because per-user state is O(events of that user).
  */
object EventsAnalytics {

  /** Gap-based sessionization (islands-and-gaps): a new session opens
    * when the gap to the user's previous event STRICTLY exceeds
    * `gapSec`. Emits one row per session with start/end (epoch µs),
    * event count, distinct-type count and exact value total. Window
    * order is (ts, event_id) so same-microsecond events sessionize
    * deterministically. */
  def sessionize(events: DataFrame, gapSec: Long = 1800,
      userCol: String = "user_id", tsCol: String = "ts",
      idCol: String = "event_id", typeCol: String = "event_type",
      valueCol: String = "value"): DataFrame = {
    val byUser = Window.partitionBy(col(userCol))
      .orderBy(col("_us"), col(idCol))
    events
      .withColumn("_us", unix_micros(col(tsCol)))
      .withColumn("_prev", lag(col("_us"), 1).over(byUser))
      .withColumn("_new",
        when(col("_prev").isNull ||
          col("_us") - col("_prev") > gapSec * 1000000L, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("session_seq"))
      .agg(
        min(col("_us")).as("session_start_us"),
        max(col("_us")).as("session_end_us"),
        count(lit(1)).as("n_events"),
        countDistinct(col(typeCol)).as("n_types"),
        graft.util.Parity.dsum(col(valueCol)).as("total_value"))
  }

  /** Funnel levels (windowFunnel analog, earliest-chain semantics):
    * per user, t1 = first `steps(0)` event; each later step's time is
    * the first matching event STRICTLY after the previous step and at
    * most `windowSec` after t1. `funnel_level` = number of chained
    * steps reached (0 for users who never fired step 1 — they are
    * kept, the drop-off denominator). Greedy earliest-chain is a
    * deterministic, engine-independent rule; a later step-1 anchor
    * can complete a chain the earliest can't — that exists-a-chain
    * semantics is [[funnelAnyChain]], divergence pinned in the spec
    * and EventsProps.
    *
    * Single-pass shape: ONE scan of the events table and ONE
    * user-keyed shuffle. Events stream through the
    * [[graft.functions.WindowFunnelChain]] aggregate in
    * sort-within-partition time order, so per-user state is the
    * O(steps) chain-so-far struct — NOT O(events of that user): a
    * pathological bot user with tens of millions of events costs one
    * task's scan time, never its memory. A k-step join-chain
    * formulation would re-scan the fact table k+1 times; at 100 TB
    * the streaming fold is the only shape that survives. The explicit
    * repartition+sortWithinPartitions IS the aggregation's exchange
    * (the planner inserts nothing further), and the struct buffer
    * forces SortAggregateExec — the order-preserving aggregate the
    * fold's correctness contract needs (see WindowFunnel.scala). */
  def funnel(events: DataFrame, steps: Seq[String], windowSec: Long,
      userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val fields = steps.indices.map(i => s"t${i + 1}_us")
    val level = steps.indices.map(i =>
      when(col(s"t${i + 1}_us").isNotNull, lit(1L)).otherwise(lit(0L)))
      .reduce(_ + _)
    val chain = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WindowFunnelChain(
        org.apache.spark.sql.GraftBridge.expression(col("_us")),
        org.apache.spark.sql.GraftBridge.expression(col("_t")),
        steps, windowSec * 1000000L).toAggregateExpression())
    events
      .select(col(userCol), unix_micros(col(tsCol)).as("_us"),
        col(typeCol).as("_t"))
      .repartition(col(userCol))
      .sortWithinPartitions(col(userCol), col("_us"))
      .groupBy(col(userCol))
      .agg(chain.as("_f"))
      .select(col(userCol) +: fields.map(f => col(s"_f.$f")): _*)
      .withColumn("funnel_level", level)
  }

  /** Any-chain funnel (exists-a-chain semantics, the ClickHouse
    * windowFunnel lineage where a LATER step-1 anchor may complete
    * when the earliest can't): per user, `funnel_level_any` = the
    * maximum chain length over ALL step-1 anchors, where a chain from
    * anchor t1 takes the first steps(i) event strictly after the
    * previous step and at most `windowSec` after t1. For a fixed
    * anchor the greedy earliest continuation is optimal (exchange
    * argument), so max-over-anchors is exactly "does a valid chain of
    * length k exist". Reported times are the chain of the EARLIEST
    * anchor reaching the max level (deterministic tiebreak).
    *
    * Shape: one scan of events into a snapshot carrying, per event,
    * the next-step-(i+1) pointer (a conditional min over ONE
    * user-keyed range window — all pointers share the window, one
    * exchange + sort). Every anchor's chain is then pointer-chased
    * with step-filtered user-keyed self-joins of the snapshot —
    * k-2 joins for k steps, never all-pairs: the join key is
    * (user, exact event time). The snapshot bounds the multi-branch
    * reuse to the one scan ([[graft.util.Caches.snapshot]] upgrades
    * to a fault-tolerant checkpoint when a checkpoint dir exists). */
  /** EV16: step-transition latency — per adjacent funnel step pair,
    * how long converters took (n, min/max/exact-decimal mean, the
    * within-one-hour count). Consumes [[funnel]]'s per-user chain
    * frame: dt(i→i+1) = t(i+1) − t(i) in integer µs, defined exactly
    * for users who reached step i+1. The chain frame is snapshotted
    * once (one row per user — the same user-cardinality bound the
    * funnel itself carries), so the per-pair branches don't re-run
    * the funnel scan; the final aggregate is |steps−1| rows.
    * Snapshot, NOT persist: a persisted chain would register the
    * funnel subtree in the session cache manager, silently rewriting
    * the standalone ev2 query's plan (its audited scan shape) into a
    * cached-relation read. */
  def funnelTransitionStats(funnelFrame: DataFrame, steps: Seq[String])
      : DataFrame = {
    val chain = graft.util.Caches.snapshot(funnelFrame)
    val pairs = steps.indices.dropRight(1).map { i =>
      chain.filter(col(s"t${i + 2}_us").isNotNull)
        .select(
          lit(s"${steps(i)}->${steps(i + 1)}").as("transition"),
          (col(s"t${i + 2}_us") - col(s"t${i + 1}_us")).as("dt_us"))
    }
    pairs.reduce(_ unionAll _)
      .groupBy(col("transition"))
      .agg(
        count(lit(1)).as("n_converted"),
        min(col("dt_us")).as("min_us"),
        max(col("dt_us")).as("max_us"),
        graft.util.Parity.davg(col("dt_us").cast("double") / 1000000.0)
          .as("avg_sec"),
        sum(when(col("dt_us") <= 3600L * 1000000L, 1L).otherwise(0L))
          .as("within_1h"))
  }

  def funnelAnyChain(events: DataFrame, steps: Seq[String], windowSec: Long,
      userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    require(steps.size >= 2, "any-chain funnel needs at least two steps")
    val winUs = windowSec * 1000000L
    // [us+1, inf): strictly-after in integer µs — exact, tie-immune
    val after = Window.partitionBy(col(userCol)).orderBy(col("_us"))
      .rangeBetween(1L, Window.unboundedFollowing)
    val withNext = graft.util.Caches.snapshot(
      (2 to steps.size).foldLeft(
        events.select(col(userCol), unix_micros(col(tsCol)).as("_us"),
          col(typeCol).as("_t"))) { (df, i) =>
        df.withColumn(s"_nxt$i",
          min(when(col("_t") === steps(i - 1), col("_us"))).over(after))
      })
    // anchor rows carry t1 + the chain's step-2 time; later steps are
    // chased through the step-(i-1) rows' next pointers.
    val anchored = withNext
      .withColumn("t1_us", when(col("_t") === steps(0), col("_us")))
      .withColumn("t2_us",
        when(col("_nxt2") <= col("t1_us") + winUs, col("_nxt2")))
    val chased = (3 to steps.size).foldLeft(anchored) { (df, i) =>
      val prev = withNext.filter(col("_t") === steps(i - 2))
        .select(col(userCol).as("_ju"), col("_us").as("_jus"),
          col(s"_nxt$i").as("_jnxt"))
      df.join(prev,
          df(userCol) === col("_ju") && df(s"t${i - 1}_us") === col("_jus"),
          "left")
        .withColumn(s"t${i}_us",
          when(col("_jnxt") <= col("t1_us") + winUs, col("_jnxt")))
        .drop("_ju", "_jus", "_jnxt")
    }
    val fields = steps.indices.map(i => s"t${i + 1}_us")
    val level = fields.map(f =>
      when(col(f).isNotNull, lit(1L)).otherwise(lit(0L))).reduce(_ + _)
    // best anchor per user: max level, then earliest t1. Users with
    // no anchor keep a row at level 0 (max_by ignores null keys).
    chased
      .withColumn("_lvl", when(col("t1_us").isNotNull, level))
      .groupBy(col(userCol))
      .agg(max_by(
        struct(col("_lvl") +: fields.map(col): _*),
        when(col("_lvl").isNotNull,
          struct(col("_lvl"), (-col("t1_us")).as("_negt1")))).as("_b"))
      .select(col(userCol) +:
        fields.map(f => col(s"_b.$f")) :+
        coalesce(col("_b._lvl"), lit(0L)).as("funnel_level_any"): _*)
  }

  /** Semi-structured props extraction (ClickHouse JSONExtract twin):
    * pulls integer key `key` out of the JSON `propsCol` with the
    * codegen'd `get_json_object` path expression and rolls up exact
    * per-type stats. Missing/malformed/non-integer values surface as
    * nulls and are counted separately, never dropped silently — the
    * explicit integer-pattern guard makes the domain total (a bare
    * string→long cast would truncate "1.5" where SQL engines round
    * it, and under ANSI would throw on junk). One hash aggregate —
    * the JSON parse runs map-side inside whole-stage codegen. */
  def propsValueStats(events: DataFrame, key: String,
      propsCol: String = "props", typeCol: String = "event_type")
      : DataFrame = {
    val raw = get_json_object(col(propsCol), s"$$.$key")
    val k = when(raw.rlike("^-?[0-9]+$"), raw.cast("long"))
    events
      .withColumn("_k", k)
      .groupBy(col(typeCol))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("_k")).as("n_with_key"),
        min(col("_k")).as("min_val"),
        max(col("_k")).as("max_val"),
        sum(col("_k")).as("sum_val"))
  }

  /** Multi-key props extraction in ONE parse: where [[propsValueStats]]
    * re-parses the JSON per key (get_json_object is one path per
    * call), this parses `propsCol` once into a typed struct with
    * `from_json` and unpivots the k keys into per-(type, key) stat
    * rows — one JsonToStructs per input row however many keys are
    * pulled (pinned in the plan audit). Keys absent from every row
    * still produce their (type, key) rows with n_with_key = 0: the
    * struct field exists, its value is null — absence is visible,
    * never silently dropped. Long values only (the integer-valued
    * props contract; non-integer JSON numbers surface as null). */
  def propsMultiKeyStats(events: DataFrame, keys: Seq[String],
      propsCol: String = "props", typeCol: String = "event_type")
      : DataFrame = {
    require(keys.nonEmpty, "needs at least one key")
    val schema = org.apache.spark.sql.types.StructType(keys.map(k =>
      org.apache.spark.sql.types.StructField(k,
        org.apache.spark.sql.types.LongType)))
    val stacked = array(keys.map(k =>
      struct(lit(k).as("key_name"), col("_p").getField(k).as("v"))): _*)
    events
      .withColumn("_p", from_json(col(propsCol), schema))
      .select(col(typeCol), explode(stacked).as("_kv"))
      .groupBy(col(typeCol), col("_kv.key_name"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("_kv.v")).as("n_with_key"),
        min(col("_kv.v")).as("min_val"),
        max(col("_kv.v")).as("max_val"),
        sum(col("_kv.v")).as("sum_val"))
  }

  /** Cohort retention: users cohorted by their first event's UTC day;
    * for each day offset in [0, maxOffsetDays], how many cohort
    * members had any event that day. Dates leave as ISO strings and
    * offsets as exact integer day arithmetic on epoch days.
    *
    * Single-pass shape: each user's distinct active-day set is
    * collected in ONE user-keyed aggregate (map-side partial
    * collect_set dedups before the shuffle), the cohort day is the
    * array minimum, and the exploded (day0, offset) rows — one per
    * (user, day), so a plain count IS the distinct-user count — feed
    * the final roll-up. One fact-table scan and two exchanges; the
    * activity-join formulation scanned the events table twice.
    * Per-user state is the active-day set, bounded by the dataset's
    * day span. */
  def retention(events: DataFrame, maxOffsetDays: Int = 7,
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    val epochDay = floor(unix_micros(col(tsCol)) / lit(86400000000L))
    events
      .select(col(userCol), epochDay.as("_day"))
      .groupBy(col(userCol))
      .agg(collect_set(col("_day")).as("_days"))
      .withColumn("_day0", array_min(col("_days")))
      .select(col("_day0"), explode(col("_days")).as("_day"))
      .withColumn("day_offset", col("_day") - col("_day0"))
      .filter(col("day_offset") <= maxOffsetDays)
      .groupBy(col("_day0"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .select(
        date_format(timestamp_seconds(col("_day0") * 86400L), "yyyy-MM-dd")
          .as("cohort_date"),
        col("day_offset"), col("n_users"))
  }

  /** SCD2 (slowly-changing-dimension type 2) history reconstruction
    * from a change log — the standard warehouse merge every dimension
    * pipeline runs: per user, consecutive runs of the same attribute
    * value collapse into one versioned validity interval
    * [valid_from, valid_to), the last version open-ended
    * (`is_current`).
    *
    * Shape: islands-and-gaps over ONE user-keyed exchange — the
    * change-flag window, the per-version aggregate (grouping key ⊇
    * window partitioning, so the exchange is reused) and the
    * valid_to lead all share it. Deterministic ordering by
    * (ts, event_id) so replays reconstruct identical histories. */
  def scd2History(events: DataFrame, userCol: String = "user_id",
      attrCol: String = "event_type", tsCol: String = "ts"): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("_us"), col("event_id"))
    val wv = Window.partitionBy(col(userCol)).orderBy(col("version_n"))
    events
      .select(col(userCol), col("event_id"), col(attrCol).as("attr"),
        unix_micros(col(tsCol)).as("_us"))
      .withColumn("_chg",
        when(lag(col("attr"), 1).over(w).isNull ||
          lag(col("attr"), 1).over(w) =!= col("attr"), 1).otherwise(0))
      .withColumn("version_n",
        sum(col("_chg")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(userCol), col("version_n"))
      .agg(max(col("attr")).as("attr"),
        min(col("_us")).as("valid_from_us"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(wv))
      .withColumn("is_current", col("valid_to_us").isNull)
  }

  /** Rolling active users — exact DAU / trailing-N-day WAU /
    * stickiness per event day (the engagement roll-up every events
    * store ships; ClickHouse spells it uniqExact over a window join).
    *
    * Exact-at-scale shape: collapse to the DISTINCT (user, day) table
    * first (one corpus-sized shuffle with map-side partials — output
    * is users × days, orders of magnitude smaller), then explode each
    * user-day into the N target days it contributes to (day ∈ [t−N+1,
    * t] ⟺ t ∈ [day, day+N−1]) and count distinct users per target
    * day. The N× fan-out happens on the COLLAPSED table, never the
    * fact table, and the distinct count is a plain two-phase hash
    * aggregate — no per-day window over user sets, no bitmap state.
    * The (user, day) table feeds both branches through one
    * materialization barrier. */
  def rollingActive(events: DataFrame, windowDays: Int = 7,
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    val epochDay = floor(unix_micros(col(tsCol)) / lit(86400000000L))
    val ud = graft.util.Caches.materialize(
      events.select(col(userCol).as("u"), epochDay.as("day")).distinct())
    val dau = ud.groupBy(col("day"))
      .agg(countDistinct(col("u")).as("dau"))
    val wau = ud
      .select(col("u"),
        explode(sequence(col("day"), col("day") + (windowDays - 1)))
          .as("t"))
      .groupBy(col("t"))
      .agg(countDistinct(col("u")).as("wau"))
    dau.join(wau, dau("day") === wau("t"))
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double"))
          .as("stickiness"))
  }

  /** Sketch-merge rolling actives — the 100 TB path [[rollingActive]]
    * cannot take: its exact WAU fans the collapsed (user, day) table
    * out windowDays× and re-shuffles every user id per target day.
    * Here the fan-out happens on PRE-AGGREGATED per-day HLL sketches
    * (|days| rows of ~KB state, Datasketches HLL via
    * `hll_sketch_agg`), and the rolling distinct is `hll_union_agg`
    * over the windowDays sketches covering each target day — sketch
    * build is the only pass over the fact data, and it is a
    * fixed-memory mergeable partial aggregate. The exact DAU/WAU are
    * kept alongside as the correctness gate (collapsed-table count +
    * the rollingActive fan-out); a real 100 TB deployment drops the
    * exact-WAU branch and keeps the sketch one. `est_ok` pins the
    * estimate within `tol` of exact (default 5%; lgConfigK 12 gives
    * ~1.6% RSE, so the bound has slack without being vacuous). */
  def sketchRollingActive(events: DataFrame, windowDays: Int = 7,
      tol: Double = 0.05, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val epochDay = floor(unix_micros(col(tsCol)) / lit(86400000000L))
    val ud = graft.util.Caches.materialize(
      events.select(col(userCol).as("u"), epochDay.as("day")).distinct())
    // ud is distinct on (u, day): plain count IS the exact DAU
    val daySk = graft.util.Caches.materialize(
      ud.groupBy(col("day"))
        .agg(count(col("u")).as("dau"), hll_sketch_agg(col("u")).as("sk")))
    val wauEst = daySk
      .select(col("sk"),
        explode(sequence(col("day"), col("day") + (windowDays - 1)))
          .as("t"))
      .groupBy(col("t"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("wau_est"))
    val wauExact = ud
      .select(col("u"),
        explode(sequence(col("day"), col("day") + (windowDays - 1)))
          .as("te"))
      .groupBy(col("te"))
      .agg(countDistinct(col("u")).as("wau"))
    daySk.select(col("day"), col("dau"))
      .join(wauExact, col("te") === col("day"))
      .join(wauEst, col("t") === col("day"))
      .select(col("day"), col("dau"), col("wau"), col("wau_est"),
        (abs(col("wau_est") - col("wau")) <= lit(tol) * col("wau"))
          .as("est_ok"))
  }

  /** First-order path transition matrix (the "what do users do next"
    * Markov roll-up behind sankey/flow dashboards): per user, events
    * ordered by (ts, event_id); each adjacent (event, next event)
    * pair contributes one transition. Emits per (from_type, to_type):
    * the count, the row-conditional probability P(to | from) as an
    * exact integer/integer double division, and the rank of `to`
    * within `from` (count DESC, to_type ASC — deterministic).
    *
    * Shape: ONE user-keyed exchange for the lead() window, then a
    * hash aggregate on (from, to) whose cardinality is |types|² —
    * broadcast-sized however large the fact table — so the two final
    * windows over `from_type` partitions are driver-cheap. */
  def pathTransitions(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", idCol: String = "event_id",
      typeCol: String = "event_type"): DataFrame = {
    val byUser = Window.partitionBy(col(userCol))
      .orderBy(col("_us"), col(idCol))
    val byFrom = Window.partitionBy(col("from_type"))
    events
      .select(col(userCol), unix_micros(col(tsCol)).as("_us"),
        col(idCol), col(typeCol).as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(byUser))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .withColumn("p_transition",
        col("n_transitions").cast("double")
          / sum(col("n_transitions")).over(byFrom).cast("double"))
      .withColumn("transition_rank",
        row_number().over(
          byFrom.orderBy(col("n_transitions").desc, col("to_type"))))
  }

  /** The Welch two-sample algebra over rendered doubles, as SHARED
    * SQL text (the SpotCorr.betaExpr pattern): both engines evaluate
    * the identical IEEE expression on identical decimal-rendered
    * inputs (na/nb counts, ma/mb means, va/vb sample variances), so
    * raw doubles hash-match — sqrt is correctly rounded, no
    * transcendental anywhere. */
  val welchTExpr: String =
    "((ma - mb) / nullif(sqrt(va/na + vb/nb), 0.0))"
  val welchDfExpr: String =
    """(((va/na + vb/nb) * (va/na + vb/nb))
      | / nullif((va/na)*(va/na)/(na - 1.0)
      |          + (vb/nb)*(vb/nb)/(nb - 1.0), 0.0))""".stripMargin
  /** Sample variance from 6-dp-quantized sums, tiny-negative clamped
    * (CASE, not greatest: nulls stay null). */
  def welchVarExpr(q: String, s: String, n: String): String = {
    val v = s"(($q - $s*$s/$n) / nullif($n - 1.0, 0.0))"
    s"(CASE WHEN $v < 0 THEN 0.0 ELSE $v END)"
  }

  /** Mixture variance of the mSPRT normal mixture — exact double. */
  val MsprtTau2Sql = "CAST(1 AS DOUBLE)"

  /** Shared mSPRT texts over per-look columns (delta, bigv): the
    * mixture likelihood ratio Λ = sqrt(V/(V+τ²))·exp(Δ²τ²/(2V(V+τ²)))
    * with the exp argument 6-dp-quantized (exp is the one 1-ulp libm
    * op in the chain) and Λ itself quantized for the running min. */
  def msprtQargSql(round6: String => String): String =
    round6(s"(delta * delta * $MsprtTau2Sql) " +
      s"/ (2.0 * bigv * (bigv + $MsprtTau2Sql))")

  /** Λ text — ONE spelling for Spark `expr` and the DuckDB oracle. */
  def msprtLamSql(round6: String => String): String =
    round6(s"sqrt(bigv / (bigv + $MsprtTau2Sql)) " +
      s"* exp(${msprtQargSql(round6)})")

  /** Cumulative Poisson(1) CDF thresholds for the bootstrap weight
    * inverse-CDF — computed once, embedded as shared literals. */
  val PoissonCdf: Seq[Double] = {
    val e = math.exp(-1.0)
    val pk = Iterator.iterate((e, 0)) { case (p, k) =>
      (p / (k + 1), k + 1) }.map(_._1).take(8).toSeq
    pk.scanLeft(0.0)(_ + _).tail
  }

  /** Deterministic Poisson bootstrap CI for the B−A mean-spend lift
    * (the production bootstrap: Chamandy et al., "Estimating
    * uncertainty for massive data streams", Google 2012): every
    * (user, replicate) draws a Poisson(1) weight from a seeded sha —
    * ALL `nBoot` replicates are computed in ONE pass over the
    * per-user frame (users × B rows, B the documented budget lever;
    * no resampling shuffle of the raw data), each replicate's lift is
    * a weighted-mean difference, and the CI is exact order statistics
    * over the B-row replicate table (a bounded global sort,
    * allowlisted). Deterministic: seeded-sha uniforms + a shared
    * inverse-CDF threshold table, so the oracle replays the exact CI.
    * Emits (n_users, delta_hat, ci_lo, ci_med, ci_hi) with delta_hat
    * the full-sample lift. */
  def bootstrapLift(events: DataFrame, seed: Long = 42L, nBoot: Int = 200,
      userCol: String = "user_id", valueCol: String = "value")
      : DataFrame = {
    val perUser = events
      .groupBy(col(userCol).as("u"))
      .agg(graft.util.Parity.dsum(col(valueCol)).as("mu"))
      .withColumn("variant",
        when(conv(substring(sha2(
          concat(lit(s"ab:$seed:"), col("u").cast("string")), 256),
          1, 8), 16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
    val reps = perUser
      .select(col("u"), col("variant"), col("mu"),
        explode(sequence(lit(0), lit(nBoot - 1))).as("b"))
      .withColumn("hu",
        conv(substring(sha2(concat(lit(s"boot:$seed:"), col("b"),
          lit(":"), col("u").cast("string")), 256), 1, 8), 16, 10)
          .cast("long"))
      .withColumn("uu",
        (col("hu") + lit(1L)).cast("double") / lit(4294967296.0))
      .withColumn("w", PoissonCdf.zipWithIndex.foldRight(
          lit(PoissonCdf.length): Column) { case ((c, k), els) =>
        when(col("uu") < lit(c), lit(k)).otherwise(els)
      })
    def msum(v: String, c: Column) =
      sum(when(col("variant") === v, c).cast(createDecimalType(28, 6)))
        .cast("double")
    val lifts = reps.groupBy(col("b"))
      .agg(
        msum("A", col("w") * col("mu")).as("_swa"),
        msum("B", col("w") * col("mu")).as("_swb"),
        sum(when(col("variant") === "A", col("w"))).as("_na"),
        sum(when(col("variant") === "B", col("w"))).as("_nb"))
      .where(col("_na") > 0 && col("_nb") > 0)
      .select(col("b"),
        (col("_swb") / col("_nb").cast("double")
          - col("_swa") / col("_na").cast("double")).as("delta_b"))
      .withColumn("rk", row_number().over(
        // bounded-window(nBoot rows (≤ 200): one per bootstrap replicate)
        Window.orderBy(col("delta_b"), col("b"))))
      // surviving-replicate count (a replicate whose arm got all-zero
      // weights is filtered above): the CI rank cutoffs must be
      // percentiles of the SURVIVORS, not of the nBoot literal — with
      // fixed cutoffs a single dropped replicate silently nulls ci_hi.
      // The window is bounded by nBoot (≤200 rows), never
      // data-proportional.
      .withColumn("nl", count(lit(1)).over(
        // bounded-window(nBoot rows (≤ 200): one per bootstrap replicate)
        Window.orderBy(col("delta_b"), col("b"))
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
    val fullDelta = perUser.groupBy()
      .agg(
        msum("A", col("mu")).as("_sa"), msum("B", col("mu")).as("_sb"),
        count(when(col("variant") === "A", lit(1))).as("_ca"),
        count(when(col("variant") === "B", lit(1))).as("_cb"),
        count(lit(1)).as("n_users"))
      .select(col("n_users"),
        (col("_sb") / col("_cb").cast("double")
          - col("_sa") / col("_ca").cast("double")).as("delta_hat"))
    // percentile ranks over the SURVIVING replicates (nl): 2.5% /
    // median / 97.5%, 1-indexed — reduces to 5/100/195 when all 200
    // survive, so the common case is unchanged
    val rkLo = greatest(lit(1L), floor(col("nl") / 40))
    val rkMed = greatest(lit(1L), floor(col("nl") / 2))
    val rkHi = col("nl") - floor(col("nl") / 40)
    // one groupless aggregate picks all three order statistics — a
    // single one-row broadcast, not three filtered subplans
    val ci = lifts.agg(
      max(when(col("rk") === rkLo, col("delta_b"))).as("ci_lo"),
      max(when(col("rk") === rkMed, col("delta_b"))).as("ci_med"),
      max(when(col("rk") === rkHi, col("delta_b"))).as("ci_hi"))
    fullDelta.crossJoin(broadcast(ci))
  }

  /** Always-valid sequential A/B test — mSPRT (Johari, Koomen,
    * Pekelis, Walsh 2017, "Peeking at A/B tests"): the fixed-horizon
    * ev22 t-test is only valid at ONE pre-registered look; a metrics
    * dashboard that is refreshed daily needs the always-valid p-value
    * p_t = min(1, min_{k≤t} 1/Λ_k), which survives continuous
    * monitoring. Looks are calendar days; at each look the metric is
    * each ACTIVE user's cumulative spend (users enter at their first
    * event), variants from the same seeded-sha coin as ev22.
    *
    * Shape: per-(user, day) decimal sums, a bounded (users × looks)
    * grid via a broadcast day list (looks are calendar-bounded — 30
    * here; never data-proportional), one decimal cumulative window
    * per user, one aggregate per look, then per-look scalar algebra.
    * Λ's inputs are exact (decimal sums / counts); the exp argument
    * and Λ are 6-dp-quantized so the oracle replays bit-for-bit. */
  def msprt(events: DataFrame, seed: Long = 42L,
      userCol: String = "user_id", valueCol: String = "value",
      tsCol: String = "ts"): DataFrame = {
    val dayEp =
      expr(s"(unix_micros($tsCol) div 86400000000L) * 86400L")
        .as("day_ep")
    val pud = events
      .groupBy(col(userCol).as("u"), dayEp)
      .agg(sum(col(valueCol).cast(createDecimalType(28, 6))).as("dv"))
    val days = pud.select(col("day_ep")).distinct()
    val users = pud.groupBy(col("u"))
      .agg(min(col("day_ep")).as("first_day"))
      .withColumn("variant",
        when(conv(substring(sha2(
          concat(lit(s"ab:$seed:"), col("u").cast("string")), 256),
          1, 8), 16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
    val cum = users.crossJoin(broadcast(days))
      .join(pud, Seq("u", "day_ep"), "left")
      .where(col("day_ep") >= col("first_day"))
      .withColumn("mu",
        sum(coalesce(col("dv"), lit(0).cast(createDecimalType(28, 6))))
          .over(Window.partitionBy(col("u")).orderBy(col("day_ep")))
          .cast("double"))
    def cnt(v: String) = count(when(col("variant") === v, lit(1)))
    def dsumIf(v: String, c: Column) =
      sum(when(col("variant") === v, c).cast(createDecimalType(28, 6)))
        .cast("double")
    val round6 = (t: String) => s"CAST(CAST(($t) AS DECIMAL(28,6)) AS DOUBLE)"
    val looks = cum.groupBy(col("day_ep"))
      .agg(
        cnt("A").as("n_a"), cnt("B").as("n_b"),
        dsumIf("A", col("mu")).as("_sa"),
        dsumIf("B", col("mu")).as("_sb"),
        dsumIf("A", col("mu") * col("mu")).as("_qa"),
        dsumIf("B", col("mu") * col("mu")).as("_qb"))
      .where(col("n_a") >= 2 && col("n_b") >= 2)
      .withColumn("na", col("n_a").cast("double"))
      .withColumn("nb", col("n_b").cast("double"))
      .withColumn("delta", expr("_sb / nb - _sa / na"))
      .withColumn("bigv",
        expr(s"${welchVarExpr("_qa", "_sa", "na")} / na " +
          s"+ ${welchVarExpr("_qb", "_sb", "nb")} / nb"))
      .withColumn("lam", expr(msprtLamSql(round6)))
    looks
      .withColumn("p_always_valid",
        min(expr("least(CAST(1 AS DOUBLE), 1.0 / lam)"))
          // bounded-window(one row per calendar day: the look series)
          .over(Window.orderBy(col("day_ep"))
            .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("day_ep"), col("n_a"), col("n_b"), col("delta"),
        col("lam").as("lambda_mix"), col("p_always_valid"))
  }

  /** EV22: deterministic A/B experiment read-out — the experiment-
    * analysis pass a growth pipeline runs at full scale. Assignment
    * is a pure per-row hash (the split-assign recipe: sha-bucket of
    * the user key under a seed — stable as users arrive, no
    * coordination); the per-user metric is an exact decimal spend
    * sum; the panel is Welch's t on the two variant populations.
    *
    * Shape: ONE user-keyed hash aggregate (map-side partials) to the
    * per-user metric, then ONE groupless aggregate with conditional
    * decimal sums → a single row. No window, no join, two shuffles
    * total (the second over partial one-row states). */
  def abTest(events: DataFrame, seed: Long = 42L,
      userCol: String = "user_id", valueCol: String = "value")
      : DataFrame = {
    val perUser = events
      .groupBy(col(userCol).as("u"))
      .agg(graft.util.Parity.dsum(col(valueCol)).as("mu"))
      .withColumn("variant",
        when(conv(substring(sha2(
          concat(lit(s"ab:$seed:"), col("u").cast("string")), 256),
          1, 8), 16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
    def cnt(v: String) =
      count(when(col("variant") === v, lit(1)))
    def dsumIf(v: String, c: Column) =
      sum(when(col("variant") === v, c).cast(createDecimalType(28, 6)))
        .cast("double")
    perUser
      .agg(
        cnt("A").as("n_a"), cnt("B").as("n_b"),
        dsumIf("A", col("mu")).as("_sa"),
        dsumIf("B", col("mu")).as("_sb"),
        dsumIf("A", col("mu") * col("mu")).as("_qa"),
        dsumIf("B", col("mu") * col("mu")).as("_qb"))
      .withColumn("na", col("n_a").cast("double"))
      .withColumn("nb", col("n_b").cast("double"))
      .withColumn("ma", expr("_sa / na"))
      .withColumn("mb", expr("_sb / nb"))
      .withColumn("va", expr(welchVarExpr("_qa", "_sa", "na")))
      .withColumn("vb", expr(welchVarExpr("_qb", "_sb", "nb")))
      .withColumn("t_stat", expr(welchTExpr))
      .withColumn("df_welch", expr(welchDfExpr))
      .select(col("n_a"), col("n_b"),
        col("ma").as("mean_a"), col("mb").as("mean_b"),
        col("va").as("var_a"), col("vb").as("var_b"),
        col("t_stat"), col("df_welch"),
        (abs(col("t_stat")) > 1.96).as("significant"))
  }

  /** EV24: difference-in-differences read-out — the causal companion
    * to [[abTest]]'s cross-sectional Welch t: treatment is the same
    * deterministic sha-bucket coin (prefix `did:`), the period splits
    * at the tape's temporal midpoint (one-row broadcast bounds, the
    * a18 pattern), the outcome is each user's exact-decimal spend per
    * period, and DiD = (T̄post − T̄pre) − (C̄post − C̄pre) over cell
    * means. Users active in only one period contribute only that cell
    * (standard unbalanced panel — stated, and restated by the
    * oracle). One corpus-sized aggregate to (user, period) totals;
    * everything after is a groupless conditional-decimal-sum
    * aggregate, so the whole panel is two exchanges. */
  def didPanel(events: DataFrame, seed: Long = 42L,
      userCol: String = "user_id", tsCol: String = "ts",
      valueCol: String = "value"): DataFrame = {
    val ev = events.select(col(userCol).as("u"),
      col(valueCol).as("v"), unix_micros(col(tsCol)).as("us"))
    val bounds = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
    val cell = ev
      .crossJoin(broadcast(bounds))
      .withColumn("period",
        when(col("us") < col("mn") + expr("(mx - mn) div 2"), "pre")
          .otherwise("post"))
      .groupBy(col("u"), col("period"))
      .agg(graft.util.Parity.dsum(col("v")).as("uv"))
      .withColumn("grp",
        when(conv(substring(sha2(
          concat(lit(s"did:$seed:"), col("u").cast("string")), 256),
          1, 8), 16, 10).cast("long") % 2 === 0, "T").otherwise("C"))
    def cnt(g: String, p: String) =
      count(when(col("grp") === g && col("period") === p, lit(1)))
    def dsumIf(g: String, p: String) =
      sum(when(col("grp") === g && col("period") === p, col("uv"))
        .cast(createDecimalType(28, 6))).cast("double")
    cell
      .agg(
        cnt("T", "pre").as("n_t_pre"), cnt("T", "post").as("n_t_post"),
        cnt("C", "pre").as("n_c_pre"), cnt("C", "post").as("n_c_post"),
        dsumIf("T", "pre").as("_stp"), dsumIf("T", "post").as("_sto"),
        dsumIf("C", "pre").as("_scp"), dsumIf("C", "post").as("_sco"))
      .withColumn("mean_t_pre", expr("_stp / CAST(n_t_pre AS DOUBLE)"))
      .withColumn("mean_t_post", expr("_sto / CAST(n_t_post AS DOUBLE)"))
      .withColumn("mean_c_pre", expr("_scp / CAST(n_c_pre AS DOUBLE)"))
      .withColumn("mean_c_post", expr("_sco / CAST(n_c_post AS DOUBLE)"))
      .withColumn("did", expr(
        "(mean_t_post - mean_t_pre) - (mean_c_post - mean_c_pre)"))
      .select(col("n_t_pre"), col("n_t_post"), col("n_c_pre"),
        col("n_c_post"), col("mean_t_pre"), col("mean_t_post"),
        col("mean_c_pre"), col("mean_c_post"), col("did"))
  }

  /** EV25: CUPED variance reduction for the [[abTest]] experiment —
    * the standard pre-experiment-covariate adjustment (Deng et al.,
    * WSDM'13): with X = each user's PRE-period spend and Y = the
    * POST-period outcome, θ = cov(X,Y)/var(X) pooled across arms,
    * and the adjusted outcome Ŷ = Y − θ(X − X̄) has variance
    * var(Y)(1 − ρ²) — the experiment reads out with the same point
    * estimate but tighter error bars. Period split is [[didPanel]]'s
    * temporal midpoint; assignment is [[abTest]]'s `ab:` sha coin, so
    * this IS the ev22 experiment re-analyzed. Users missing a period
    * contribute 0 to that period's spend (stated; restated in SQL).
    *
    * Everything reduces to one corpus-sized per-user aggregate and
    * then ONE groupless conditional-decimal-sum aggregate (n, per-arm
    * counts, Σx, Σy, Σxy, Σx², Σy², per-arm Σx/Σy) — two exchanges
    * total, same shape as ev22/ev24. θ, the adjusted means
    * (meanȲ_arm = (Σ_arm y − θ(Σ_arm x − n_arm·X̄))/n_arm), and the
    * variance-reduction ratio ρ² = cov²/(var·var) are driver-free
    * double algebra over the gated sums, spelled once and shared with
    * the oracle. */
  def cuped(events: DataFrame, seed: Long = 42L,
      userCol: String = "user_id", tsCol: String = "ts",
      valueCol: String = "value"): DataFrame = {
    val ev = events.select(col(userCol).as("u"),
      col(valueCol).as("v"), unix_micros(col(tsCol)).as("us"))
    val bounds = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
    def dgate(c: Column) =
      sum(c.cast(createDecimalType(28, 6))).cast("double")
    val perUser = ev
      .crossJoin(broadcast(bounds))
      .withColumn("_pre", col("us") < col("mn") + expr("(mx - mn) div 2"))
      .groupBy(col("u"))
      .agg(
        coalesce(dgate(when(col("_pre"), col("v"))), lit(0.0)).as("x"),
        coalesce(dgate(when(!col("_pre"), col("v"))), lit(0.0)).as("y"))
      .withColumn("variant",
        when(conv(substring(sha2(
          concat(lit(s"ab:$seed:"), col("u").cast("string")), 256),
          1, 8), 16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
    def dsumIf(v: String, c: Column) =
      dgate(when(col("variant") === v, c))
    perUser
      .agg(
        count(lit(1)).as("n_users"),
        count(when(col("variant") === "A", lit(1))).as("n_a"),
        count(when(col("variant") === "B", lit(1))).as("n_b"),
        dgate(col("x")).as("sx"), dgate(col("y")).as("sy"),
        dgate(col("x") * col("y")).as("sxy"),
        dgate(col("x") * col("x")).as("sxx"),
        dgate(col("y") * col("y")).as("syy"),
        dsumIf("A", col("x")).as("sxa"), dsumIf("A", col("y")).as("sya"),
        dsumIf("B", col("x")).as("sxb"), dsumIf("B", col("y")).as("syb"))
      .withColumn("nd", col("n_users").cast("double"))
      .withColumn("na", col("n_a").cast("double"))
      .withColumn("nb", col("n_b").cast("double"))
      .withColumn("vx", expr(cupedVxExpr))
      .withColumn("vy", expr(cupedVyExpr))
      .withColumn("cxy", expr(cupedCxyExpr))
      .withColumn("theta", expr(cupedThetaExpr))
      .withColumn("xbar", expr("sx / nd"))
      .withColumn("mean_adj_a", expr(cupedAdjMeanExpr("sya", "sxa", "na")))
      .withColumn("mean_adj_b", expr(cupedAdjMeanExpr("syb", "sxb", "nb")))
      .withColumn("diff_raw", expr("syb / nb - sya / na"))
      .withColumn("diff_cuped", expr("mean_adj_b - mean_adj_a"))
      .withColumn("var_reduction", expr(cupedRhoSqExpr))
      .select(col("n_a"), col("n_b"), col("theta"),
        col("mean_adj_a"), col("mean_adj_b"), col("diff_raw"),
        col("diff_cuped"), col("var_reduction"))
  }

  /** CUPED algebra over the gated sums — shared verbatim with the
    * DuckDB oracle (nd/na/nb are double casts of the counts). */
  val cupedVxExpr: String = "(nd*sxx - sx*sx)"
  val cupedVyExpr: String = "(nd*syy - sy*sy)"
  val cupedCxyExpr: String = "(nd*sxy - sx*sy)"
  val cupedThetaExpr: String = "cxy / nullif(vx, 0.0)"
  val cupedRhoSqExpr: String = "cxy * cxy / nullif(vx * vy, 0.0)"
  def cupedAdjMeanExpr(sy: String, sx: String, n: String): String =
    s"($sy - theta * ($sx - $n * xbar)) / $n"

  /** χ²(df=1) critical value at p = 0.001 — the SRM alarm level
    * experimentation platforms standardize on (Fabijan et al.,
    * KDD'19: a true 50/50 coin trips it one run in a thousand, while
    * real assignment/logging bugs blow far past it). */
  val SrmChi2Crit: Double = 10.827566170662733

  /** Two-cell χ² goodness-of-fit against the designed 50/50 split:
    * with E = (na+nb)/2, Σ(obs−E)²/E collapses to (na−nb)²/(na+nb).
    * Shared text — pure double algebra on count casts. */
  val srmChi2Expr: String = "((na - nb) * (na - nb)) / (na + nb)"

  /** z_{0.975} and z_{0.80} — the standard 5%-two-sided / 80%-power
    * normal quantiles every experimentation platform bakes into its
    * MDE formula. Spelled as full-precision literals shared with the
    * oracle text. */
  val Z975: Double = 1.959963984540054
  val Z80: Double = 0.8416212335729143

  /** MDE algebra over [[abTest]]'s output columns — shared text. */
  val mdeSeExpr: String =
    "sqrt(var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE))"
  val mdeAbsExpr: String = s"(($Z975 + $Z80) * se_diff)"

  /** EV28: post-hoc minimum-detectable-effect read-out of the
    * [[abTest]] experiment — the "was this experiment even capable of
    * seeing the effect we care about?" check that should accompany
    * every non-significant result: with the realized per-arm sizes
    * and variances, MDE_abs = (z_{1−α/2} + z_{power})·SE is the
    * smallest true lift the test would flag at 5%/80%; `powered`
    * says whether the OBSERVED lift clears it. Pure double algebra
    * over ev22's already-gated Welch sums — no new scan shape. */
  def mdeReadout(events: DataFrame, seed: Long = 42L,
      userCol: String = "user_id", valueCol: String = "value")
      : DataFrame =
    abTest(events, seed, userCol, valueCol)
      .withColumn("se_diff", expr(mdeSeExpr))
      .withColumn("observed_diff", expr("mean_b - mean_a"))
      .withColumn("mde_abs", expr(mdeAbsExpr))
      .withColumn("mde_rel", expr("mde_abs / nullif(mean_a, 0.0)"))
      .withColumn("powered", expr("abs(observed_diff) >= mde_abs"))
      .select(col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
        col("var_a"), col("var_b"), col("se_diff"),
        col("observed_diff"), col("mde_abs"), col("mde_rel"),
        col("powered"))

  /** EV27: quantile treatment effects — the distributional read
    * [[abTest]]'s mean-based Welch t misses: a treatment can move the
    * p90 spender while leaving the mean flat (or vice versa). Per
    * arm, EXACT rank-selected spend quantiles (p25/p50/p75/p90 — the
    * element at ceil(q·n) under value order, so both engines pick the
    * identical element), then per-quantile lifts B − A.
    *
    * Scale shape: the per-user decimal spend aggregate (ev22's), then
    * [[DistributedSelection.quantiles]] — the a21 scale path
    * (frequency table + range-partitioned prefix sums; no per-arm
    * global sort), then ONE groupless conditional aggregate pivots
    * the two-row panel. No join anywhere. */
  def quantileLift(events: DataFrame, seed: Long = 42L,
      userCol: String = "user_id", valueCol: String = "value")
      : DataFrame = {
    val perUser = events
      .groupBy(col(userCol).as("u"))
      .agg(graft.util.Parity.dsum(col(valueCol)).as("mu"))
      .withColumn("variant",
        when(conv(substring(sha2(
          concat(lit(s"ab:$seed:"), col("u").cast("string")), 256),
          1, 8), 16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
    val qs = Seq((1, 4, "p25"), (1, 2, "p50"), (3, 4, "p75"),
      (9, 10, "p90"))
    val panel = DistributedSelection.quantiles(
      perUser.select(col("variant"), col("mu")), "variant", "mu", qs)
    def side(v: String, c: String) =
      max(when(col("variant") === v, col(c)))
    val names = qs.map(_._3)
    panel
      .agg(side("A", "n_trades").as("n_a"),
        side("B", "n_trades").as("n_b") +:
          names.flatMap(n => Seq(side("A", n).as(s"${n}_a"),
            side("B", n).as(s"${n}_b"))): _*)
      .withColumns(names.map(n => s"lift_$n" ->
        (col(s"${n}_b") - col(s"${n}_a"))).toMap)
      .select(col("n_a") +: col("n_b") +:
        names.flatMap(n => Seq(col(s"${n}_a"), col(s"${n}_b"),
          col(s"lift_$n"))): _*)
  }

  /** EV29: per-segment Welch panel with HOLM step-down correction —
    * the companion guardrail to [[srmCheck]]: run the experiment
    * read-out per segment and twenty segments WILL produce a
    * nominally-significant one by chance; Holm (1979) controls the
    * family-wise error exactly without Bonferroni's full
    * conservatism. Per segment: ev22's Welch t over the per-(segment,
    * user) exact decimal spend; the two-sided normal-approximation
    * p = 1 − erf(|t|/√2) uses the SAME A&S erf both engines spell
    * op-for-op (9-dp-quantized before ranking — the transcendental
    * contract); holm_p = running max over the p-ascending rank of
    * min(1, (m−i+1)·p); reject iff holm_p ≤ α.
    *
    * Shape: one (segment, user)-keyed aggregate (corpus-sized
    * equi-shuffle), one segment-keyed aggregate, then rank/running-max
    * windows over the SEGMENT panel — segments-count rows, driver-free
    * (the zipf global-window precedent: tiny, bounded tables may rank
    * globally). */
  def holmPanel(events: DataFrame, seed: Long = 42L,
      alpha: Double = 0.05, userCol: String = "user_id",
      segmentCol: String = "event_type", valueCol: String = "value")
      : DataFrame = {
    val perUser = events
      .groupBy(col(segmentCol).as("segment"), col(userCol).as("u"))
      .agg(graft.util.Parity.dsum(col(valueCol)).as("mu"))
      .withColumn("variant",
        when(conv(substring(sha2(
          concat(lit(s"ab:$seed:"), col("u").cast("string")), 256),
          1, 8), 16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
    def cnt(v: String) = count(when(col("variant") === v, lit(1)))
    def dsumIf(v: String, c: Column) =
      sum(when(col("variant") === v, c).cast(createDecimalType(28, 6)))
        .cast("double")
    // bounded-window(one row per segment: the per-segment test panel)
    val wRank = Window.orderBy(col("p_two"), col("segment"))
    val wRun = wRank.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    perUser
      .groupBy(col("segment"))
      .agg(
        cnt("A").as("n_a"), cnt("B").as("n_b"),
        dsumIf("A", col("mu")).as("_sa"),
        dsumIf("B", col("mu")).as("_sb"),
        dsumIf("A", col("mu") * col("mu")).as("_qa"),
        dsumIf("B", col("mu") * col("mu")).as("_qb"))
      .withColumn("na", col("n_a").cast("double"))
      .withColumn("nb", col("n_b").cast("double"))
      .withColumn("ma", expr("_sa / na"))
      .withColumn("mb", expr("_sb / nb"))
      .withColumn("va", expr(welchVarExpr("_qa", "_sa", "na")))
      .withColumn("vb", expr(welchVarExpr("_qb", "_sb", "nb")))
      .withColumn("t_stat", expr(welchTExpr))
      .withColumn("p_two", graft.util.Parity.roundTo(
        lit(1.0) - graft.functions.GraftColumns.erf(
          abs(col("t_stat")) / sqrt(lit(2.0))), 9))
      // bounded-window(one row per segment: the per-segment test panel)
      .withColumn("m", count(lit(1)).over(Window.partitionBy()))
      .withColumn("rank_p", row_number().over(wRank))
      .withColumn("_raw", least(lit(1.0),
        (col("m") - col("rank_p") + 1).cast("double") * col("p_two")))
      .withColumn("holm_p", max(col("_raw")).over(wRun))
      .withColumn("reject", col("holm_p") <= alpha)
      .select(col("segment"), col("n_a"), col("n_b"), col("t_stat"),
        col("p_two"), col("rank_p"), col("holm_p"), col("reject"))
  }

  /** EV26: sample-ratio-mismatch guardrail for the [[abTest]]
    * experiment — per segment (the event-type dimension), the χ²
    * test of the observed A/B user split against the designed 50/50.
    * SRM is the canonical "your experiment is broken" alarm: the
    * assignment coin is fine by construction, so a tripped segment
    * means users were LOGGED asymmetrically (lost exposures, bot
    * filtering, triggering bugs) and every read-out over that segment
    * is suspect. Per-segment rather than global because that is how
    * the bias is localized in practice. The coin is ev22's exact sha
    * bucket (same prefix and seed), so a user is in one arm across
    * every entry of the family.
    *
    * Shape: one DISTINCT over (segment, user) — corpus-sized
    * equi-shuffle with partial aggregation — then a segment-keyed
    * conditional count. No window, no join. */
  def srmCheck(events: DataFrame, seed: Long = 42L,
      userCol: String = "user_id", segmentCol: String = "event_type")
      : DataFrame = {
    val su = events
      .select(col(segmentCol).as("segment"), col(userCol).as("u"))
      .distinct()
      .withColumn("variant",
        when(conv(substring(sha2(
          concat(lit(s"ab:$seed:"), col("u").cast("string")), 256),
          1, 8), 16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
    su.groupBy(col("segment"))
      .agg(
        count(when(col("variant") === "A", lit(1))).as("n_a"),
        count(when(col("variant") === "B", lit(1))).as("n_b"))
      .withColumn("na", col("n_a").cast("double"))
      .withColumn("nb", col("n_b").cast("double"))
      .withColumn("share_a", expr("na / (na + nb)"))
      .withColumn("chi2_srm", expr(srmChi2Expr))
      .withColumn("srm_flag", col("chi2_srm") > lit(SrmChi2Crit))
      .select(col("segment"), col("n_a"), col("n_b"), col("share_a"),
        col("chi2_srm"), col("srm_flag"))
  }

  /** EV8: RFM segmentation — recency/frequency/monetary quintiles
    * per user, rolled up to segment counts. Scores are rank-based
    * (ntile(5) with a user-id tie-break, so the assignment is a pure
    * function of the data): r=1 ⇔ most recent last-activity day,
    * f=1 ⇔ highest event count, m=1 ⇔ highest exact-decimal spend.
    *
    * Shape: ONE corpus-sized hash aggregate to the per-user table
    * (map-side partials), then three DISTRIBUTED exact ntiles over
    * the USER table ([[DistributedSelection.distributedNtile]]:
    * range-repartition + slice-local row_number + broadcast offsets)
    * — a `ntile(5) OVER (ORDER BY ...)` window would move every user
    * into ONE task, the a21-class scale killer this round removed.
    * The final segment roll-up is ≤125 rows.
    *
    * Exactness: day/count integers; monetary is an exact DECIMAL(28,6)
    * sum (deterministic order key and 2^53-gated double render). */
  def rfmSegments(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    val epochDay = floor(unix_micros(col(tsCol)) / lit(86400000000L))
    val perUser = graft.util.Caches.materialize(events
      .groupBy(col(userCol).as("u"))
      .agg(
        max(epochDay).as("last_day"),
        count(lit(1)).as("freq"),
        sum(col(valueCol).cast(createDecimalType(28, 6))).as("monetary")))
    // three independent 2-column branches off the ONE materialized
    // user table (chaining the ntiles serially drags each range
    // shuffle through the previous scores; branching keeps every
    // shuffle row slim and the three sorts independent), zipped back
    // by an equi-join on the user key
    val scored = Seq(
      ("r_score", "last_day"), ("f_score", "freq"),
      ("m_score", "monetary"))
      .map { case (name, metric) =>
        DistributedSelection.distributedNtile(
          perUser.select(col("u"), col(metric)), name, 5,
          Seq(col(metric).desc, col("u").asc))
          .select(col("u"), col(name))
      }
      .foldLeft(perUser)(_.join(_, Seq("u")))
    scored
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("monetary")).cast(createDecimalType(28, 2)).cast("double")
          .as("segment_monetary"),
        sum(col("freq")).as("segment_events"))
  }

  /** EV10: daily-activity anomaly detection — each day's event count
    * z-scored against the TRAILING week (7 preceding days, current
    * day excluded, full windows only); |z| > threshold flags the day.
    * The ops-monitoring twin of the tape's gap analysis: detects
    * volume collapses/spikes rather than missing intervals.
    *
    * Shape: ONE corpus-sized hash aggregate to the daily-count table;
    * the rolling mean/std windows run over that day-count-sized
    * table. Exactness: integer sums; mean/variance/z are
    * exactly-rounded IEEE chains spelled identically in the oracle
    * (sample variance over integer sums, sqrt exact). */
  def dailyAnomalies(events: DataFrame, threshold: Double = 2.0,
      tsCol: String = "ts"): DataFrame = {
    val epochDay = floor(unix_micros(col(tsCol)) / lit(86400000000L))
    val daily = events.groupBy(epochDay.as("day"))
      .agg(count(lit(1)).as("n_events"))
    // bounded-window(one row per calendar day: the daily-count table)
    val w = Window.orderBy(col("day"))
      .rangeBetween(-7L, -1L)
    daily
      .withColumn("nw", count(lit(1)).over(w))
      .withColumn("s1", sum(col("n_events")).over(w))
      .withColumn("s2", sum(col("n_events") * col("n_events")).over(w))
      .filter(col("nw") === 7)
      .withColumn("mean7",
        col("s1").cast("double") / col("nw").cast("double"))
      .withColumn("var7",
        (col("s2").cast("double")
          - col("s1").cast("double") * col("s1").cast("double")
            / col("nw").cast("double"))
          / (col("nw").cast("double") - 1.0))
      .withColumn("std7",
        sqrt(when(col("var7") < 0, 0.0).otherwise(col("var7"))))
      .withColumn("z",
        (col("n_events").cast("double") - col("mean7"))
          / nullif(col("std7"), lit(0.0)))
      .withColumn("is_anomaly",
        coalesce(abs(col("z")) > threshold, lit(false)))
      .select("day", "n_events", "mean7", "std7", "z", "is_anomaly")
  }

  /** EV14: growth accounting — every active (user, day) classified
    * as NEW (first-ever day), RESURRECTED (gap > `gapDays` since the
    * previous active day) or RETAINED, plus CHURNED-AFTER (no
    * activity within `gapDays` after this day — attributed to the
    * day the user went dark). The DAU decomposition behind every
    * growth dashboard, exact.
    *
    * Shape: distinct (user, day) collapse (one corpus shuffle), lag/
    * lead + running-min windows on ONE user-keyed exchange over the
    * collapsed table, then a day-keyed roll-up. All integers. */
  def growthAccounting(events: DataFrame, gapDays: Int = 7,
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    val epochDay = floor(unix_micros(col(tsCol)) / lit(86400000000L))
    val ud = events
      .select(col(userCol).as("u"), epochDay.as("day")).distinct()
    val w = Window.partitionBy(col("u")).orderBy(col("day"))
    val classified = ud
      .withColumn("first_day", min(col("day")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev_day", lag(col("day"), 1).over(w))
      .withColumn("next_day", lead(col("day"), 1).over(w))
      .withColumn("status",
        when(col("day") === col("first_day"), "new")
          .when(col("day") - col("prev_day") > gapDays, "resurrected")
          .otherwise("retained"))
      .withColumn("churned_after",
        col("next_day").isNull || col("next_day") - col("day") > gapDays)
    classified
      .groupBy(col("day"))
      .agg(
        count(lit(1)).as("n_active"),
        count(when(col("status") === "new", 1)).as("n_new"),
        count(when(col("status") === "retained", 1)).as("n_retained"),
        count(when(col("status") === "resurrected", 1))
          .as("n_resurrected"),
        count(when(col("churned_after"), 1)).as("n_churned_after"))
  }

  /** EV13: top event-type paths — the k most frequent length-3
    * type sequences (the sankey/flow-diagram feed, the 3-step
    * generalization of [[pathTransitions]]). ONE user-keyed exchange
    * carries both lead windows; the path aggregate is |types|³-sized
    * and the final ranking is top-k (TakeOrdered, no global sort). */
  def topPaths(events: DataFrame, k: Int = 20,
      userCol: String = "user_id", tsCol: String = "ts",
      idCol: String = "event_id", typeCol: String = "event_type")
      : DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("_us"), col(idCol))
    events
      .select(col(userCol), unix_micros(col(tsCol)).as("_us"),
        col(idCol), col(typeCol).as("t0"))
      .withColumn("t1", lead(col("t0"), 1).over(w))
      .withColumn("t2", lead(col("t0"), 2).over(w))
      .filter(col("t1").isNotNull && col("t2").isNotNull)
      .select(concat_ws(">", col("t0"), col("t1"), col("t2")).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("path"))
      .limit(k)
  }

  /** EV12 (W6): CUSUM change-point detection on the daily count
    * series. The recursive S⁺_t = max(0, S⁺_{t−1} + z_t) form is not
    * a window function, but its closed form is: with P_t = Σ_{s≤t}
    * z_s, S⁺_t = P_t − min(0, min_{s≤t} P_s) and S⁻_t = max(0,
    * max_{s≤t} P_s) − P_t — a running decimal cumsum plus a running
    * min/max, all order-free decimal window aggregates over the
    * day-count-sized table. z_t = (count − corpus mean) quantized to
    * DECIMAL(18,6); the flag threshold is `thresholdSigmas` × the
    * series' population stddev (exact integer sums, IEEE chain).
    *
    * Shape: one corpus-sized aggregate to daily counts; mean/std via
    * unpartitioned aggregates over that tiny table (windows, no
    * second scan); everything else per-row. */
  def cusumDays(events: DataFrame, thresholdSigmas: Double = 5.0,
      tsCol: String = "ts"): DataFrame = {
    val epochDay = floor(unix_micros(col(tsCol)) / lit(86400000000L))
    val d18 = createDecimalType(18, 6)
    val daily = events.groupBy(epochDay.as("day"))
      .agg(count(lit(1)).as("n_events"))
    // bounded-window(one row per calendar day: the daily-count table)
    val wAll = Window.partitionBy()
    val wRun = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val n = col("n_events").cast("double")
    val stats = daily
      .withColumn("cnt", count(lit(1)).over(wAll).cast("double"))
      .withColumn("s1", sum(col("n_events")).over(wAll).cast("double"))
      .withColumn("s2",
        sum(col("n_events") * col("n_events")).over(wAll).cast("double"))
      .withColumn("mu", col("s1") / col("cnt"))
      .withColumn("sigma", sqrt(greatest(
        col("s2") / col("cnt") - col("mu") * col("mu"), lit(0.0))))
    // two DuckDB decimal traps, both sidestepped so the algebra stays
    // pure decimal end-to-end: (1) sum() OVER widens to (38,6) where
    // any further op overflows to DOUBLE — cap back to (24,6);
    // (2) least()/greatest() promote decimals to DOUBLE — clamp with
    // CASE instead
    val d24 = createDecimalType(24, 6)
    val zero = lit(0).cast(d24)
    stats
      .withColumn("zq", (n - col("mu")).cast(d18))
      .withColumn("p", sum(col("zq")).over(wRun).cast(d24))
      .withColumn("runmin", min(col("p")).over(wRun))
      .withColumn("runmax", max(col("p")).over(wRun))
      .withColumn("cusum_up",
        (col("p") - when(col("runmin") < 0, col("runmin")).otherwise(zero))
          .cast("double"))
      .withColumn("cusum_down",
        (when(col("runmax") > 0, col("runmax")).otherwise(zero) - col("p"))
          .cast("double"))
      .withColumn("is_shift",
        col("cusum_up") > lit(thresholdSigmas) * col("sigma") ||
          col("cusum_down") > lit(thresholdSigmas) * col("sigma"))
      .select("day", "n_events", "cusum_up", "cusum_down", "is_shift")
  }

  /** EV11: first/last-touch attribution — every `conversion` event
    * credits the FIRST and the LAST preceding touch event (strictly
    * earlier in (ts, event_id) order) of the same user; conversions
    * with no preceding touch fall into the (null, null) bucket.
    * Rolled up to (first_touch, last_touch): conversion count and
    * exact-decimal revenue.
    *
    * Shape: ONE user-keyed exchange carries both running windows
    * (first/last non-null over the same ordering); the roll-up is
    * |touch types|²-sized. */
  def touchAttribution(events: DataFrame,
      touchTypes: Seq[String] = Seq("view", "click"),
      conversionType: String = "purchase",
      userCol: String = "user_id", tsCol: String = "ts",
      idCol: String = "event_id", typeCol: String = "event_type",
      valueCol: String = "value"): DataFrame = {
    val touch = when(col(typeCol).isin(touchTypes: _*), col(typeCol))
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("_us"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col(userCol), unix_micros(col(tsCol)).as("_us"),
        col(idCol), col(typeCol), col(valueCol))
      .withColumn("_touch", touch)
      .withColumn("first_touch", first(col("_touch"), ignoreNulls = true).over(w))
      .withColumn("last_touch", last(col("_touch"), ignoreNulls = true).over(w))
      .filter(col(typeCol) === conversionType)
      .groupBy(col("first_touch"), col("last_touch"))
      .agg(
        count(lit(1)).as("n_conversions"),
        sum(col(valueCol).cast(createDecimalType(28, 6)))
          .cast(createDecimalType(28, 2)).cast("double").as("revenue"))
  }

  /** EV9: power-user curve — distribution of users by active-day
    * count with the survival fraction P(active_days ≥ d). Shape: the
    * distinct (user, day) collapse (one corpus shuffle), a per-user
    * count, a histogram aggregate, then windows over the
    * day-count-sized histogram — everything after stage one is tiny.
    * All integers; the survival fraction is one exact division. */
  def powerUserCurve(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val epochDay = floor(unix_micros(col(tsCol)) / lit(86400000000L))
    val activeDays = events
      .select(col(userCol).as("u"), epochDay.as("day")).distinct()
      .groupBy(col("u")).agg(count(lit(1)).as("active_days"))
    val hist = activeDays
      .groupBy(col("active_days")).agg(count(lit(1)).as("n_users"))
    // bounded-window(distinct active-day counts (≤ days in the data))
    val wDesc = Window.orderBy(col("active_days").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    hist
      .withColumn("users_at_least", sum(col("n_users")).over(wDesc))
      .withColumn("frac_at_least",
        col("users_at_least").cast("double")
          / sum(col("n_users")).over(wAll).cast("double"))
      .select("active_days", "n_users", "users_at_least", "frac_at_least")
  }

  /** EV19: cohort LTV curves — per signup cohort (first active day),
    * the cumulative per-user value at each day offset: the
    * lifetime-value panel every growth team reads next to ev3's
    * retention triangle. Shape: one user-keyed exchange pins each
    * user's cohort day; the (cohort, offset) aggregate is
    * calendar-bounded; the cumulative runs as a DECIMAL window over
    * the tiny cohort×offset grid (order-free — a double running sum
    * would diverge between engines).
    *
    * Exactness: day/offset/user counts are integers; value sums ride
    * DECIMAL(28,6) end to end (including the cumulative) and render
    * to double once, 2^53-gated. `cum_value_per_user` divides by the
    * cohort size — the standard per-capita LTV read. */
  def cohortLtv(events: DataFrame, maxOffsetDays: Int = 14,
      userCol: String = "user_id", tsCol: String = "ts",
      valueCol: String = "value"): DataFrame = {
    val dec = createDecimalType(28, 6)
    val epochDay = floor(unix_micros(col(tsCol)) / lit(86400000000L))
    val w0 = Window.partitionBy(col("u"))
    val tagged = events
      .select(col(userCol).as("u"), epochDay.as("day"),
        col(valueCol).as("v"))
      .withColumn("cohort", min(col("day")).over(w0))
      .withColumn("off", col("day") - col("cohort"))
      .filter(col("off") <= maxOffsetDays)
    val cohortSizes = tagged.groupBy(col("cohort"))
      .agg(count_distinct(col("u")).as("cohort_users"))
    val grid = tagged.groupBy(col("cohort"), col("off"))
      .agg(
        count_distinct(col("u")).as("active_users"),
        sum(col("v").cast(dec)).as("_val"))
    val wCum = Window.partitionBy(col("cohort")).orderBy(col("off"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("_cum", sum(col("_val")).over(wCum))
      .join(cohortSizes, "cohort")
      .select(
        date_format(timestamp_seconds(col("cohort") * 86400L),
          "yyyy-MM-dd").as("cohort_date"),
        col("off").as("day_offset"),
        col("cohort_users"), col("active_users"),
        col("_val").cast("double").as("day_value"),
        col("_cum").cast("double").as("cum_value"),
        (col("_cum").cast("double")
          / col("cohort_users").cast("double")).as("cum_value_per_user"))
  }

  /** Kaplan–Meier survival curve over user lifetimes — the
    * product-limit estimator every retention team runs and the
    * reference (a point-in-time collector) cannot express: duration =
    * last−first active day; a user is an observed churn if their last
    * activity precedes the corpus end by more than `censorDays`
    * (otherwise right-censored). At each distinct duration t:
    * n_risk = users with duration ≥ t, and
    * S(t) = Π_{s≤t} (1 − churned_s / n_risk_s).
    *
    * Shape: ONE user-keyed exchange collapses the corpus to (user,
    * d0, d1); the corpus-end scalar is a one-row broadcast; everything
    * after runs on the duration histogram — a day-range-sized table
    * where singleton-partition windows are a deliberate,
    * cardinality-bounded choice (the W1 months-table contract).
    *
    * Exactness: risk/churn counts are integers; the survival product
    * runs as exp(Σ ln(1−d/n)) with each ln term 9-dp-quantized to
    * DECIMAL (order-free window sum — NOT a double cumulative sum,
    * whose association order differs between Spark's running frame
    * and DuckDB's segment tree); a zero factor (everyone at risk
    * churns) forces S = 0 from that row on instead of ln(0). */
  def kaplanMeier(events: DataFrame, censorDays: Int = 7,
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    val epochDay = floor(unix_micros(col(tsCol)) / lit(86400000000L))
    val perUser = events
      .select(col(userCol).as("u"), epochDay.as("day"))
      .groupBy(col("u"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val endRow = perUser.agg(max(col("d1")).as("end_day"))
    val byDur = perUser
      .crossJoin(broadcast(endRow))
      .withColumn("duration", col("d1") - col("d0"))
      .withColumn("churned", col("d1") < col("end_day") - censorDays)
      .groupBy(col("duration"))
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("churned"), 1)).as("n_churned"),
        count(when(!col("churned"), 1)).as("n_censored"))
    // bounded-window(distinct lifetime durations (≤ days in the data))
    val wPrior = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    byDur
      .withColumn("n_risk",
        sum(col("n_total")).over(wAll)
          - coalesce(sum(col("n_total")).over(wPrior), lit(0L)))
      .withColumn("factor",
        lit(1.0) - col("n_churned").cast("double")
          / col("n_risk").cast("double"))
      .withColumn("lnf_dec", when(col("factor") > 0, log(col("factor")))
        .cast(org.apache.spark.sql.types.DataTypes
          .createDecimalType(28, 9)))
      .withColumn("hit_zero",
        max(when(col("factor") === 0, 1).otherwise(0)).over(wCum))
      .withColumn("km_survival",
        when(col("hit_zero") === 1, lit(0.0)).otherwise(
          graft.util.Parity.roundTo(
            exp(sum(col("lnf_dec")).over(wCum).cast("double")), 9)))
      .select("duration", "n_risk", "n_churned", "n_censored",
        "km_survival")
  }
}
