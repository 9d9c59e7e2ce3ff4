package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, lit,
  session_window, unix_micros}
import graft.operators.EventsAnalytics
import graft.util.Parity.{duckDavg, duckDoubleLit, duckDsum, duckRoundTo}
import graft.util.Tables

/** Correctness entries for the behavioral-analytics operators over
  * the `events` table (batch twins of the ClickHouse windowFunnel /
  * retention / sessionization family — SURVEY §2.4's aggregate
  * combinators, re-expressed as window/join plans). All time math is
  * integer epoch-µs so the DuckDB oracles are bit-exact. */
object EventsQueries {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  private val SessionGapSec = 43200L
  private val FunnelSteps = Seq("view", "click", "purchase")
  private val FunnelWindowSec = 2L * 86400L
  private val RetentionDays = 7

  /** Epoch-µs of `ts` in DuckDB: the parquet NANOS column loads as
    * TIMESTAMP (µs, truncated) there, matching Spark's `ts div 1000`
    * load in [[graft.util.Tables.load]]. */
  private val evCte =
    """ev AS (
      |  SELECT user_id, event_id, event_type, value,
      |    epoch_us(ts) AS us
      |  FROM events
      |)""".stripMargin

  def ev1Sessionize(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.sessionize(events(s, dir), gapSec = SessionGapSec)

  val ev1Oracle: String =
    s"""WITH $evCte,
       |seq AS (
       |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
       |      OR us - lag(us) OVER w > ${SessionGapSec}::BIGINT * 1000000
       |    THEN 1 ELSE 0 END AS is_new
       |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       |),
       |ses AS (
       |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
       |      ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |    AS session_seq
       |  FROM seq
       |)
       |SELECT user_id, session_seq,
       |  min(us) AS session_start_us, max(us) AS session_end_us,
       |  count(*) AS n_events,
       |  count(DISTINCT event_type) AS n_types,
       |  ${duckDsum("value")} AS total_value
       |FROM ses GROUP BY 1, 2""".stripMargin

  def ev2Funnel(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.funnel(events(s, dir), FunnelSteps, FunnelWindowSec)

  /** The greedy earliest-chain step times t1/t2/t3 — shared by the
    * ev2 gate and ev16's transition-latency stats. */
  private val funnelStepsCte: String = {
    val winUs = FunnelWindowSec * 1000000L
    s"""t1 AS (
       |  SELECT user_id, min(us) AS t1_us FROM ev
       |  WHERE event_type = '${FunnelSteps(0)}' GROUP BY 1
       |),
       |t2 AS (
       |  SELECT ev.user_id, min(us) AS t2_us
       |  FROM ev JOIN t1 USING (user_id)
       |  WHERE event_type = '${FunnelSteps(1)}'
       |    AND us > t1_us AND us <= t1_us + ${winUs}::BIGINT
       |  GROUP BY 1
       |),
       |t3 AS (
       |  SELECT ev.user_id, min(us) AS t3_us
       |  FROM ev JOIN t2 USING (user_id) JOIN t1 USING (user_id)
       |  WHERE event_type = '${FunnelSteps(2)}'
       |    AND us > t2_us AND us <= t1_us + ${winUs}::BIGINT
       |  GROUP BY 1
       |)""".stripMargin
  }

  val ev2Oracle: String = {
    s"""WITH $evCte,
       |$funnelStepsCte
       |SELECT u.user_id, t1_us, t2_us, t3_us,
       |  (CASE WHEN t1_us IS NULL THEN 0 ELSE 1 END
       |   + CASE WHEN t2_us IS NULL THEN 0 ELSE 1 END
       |   + CASE WHEN t3_us IS NULL THEN 0 ELSE 1 END)::BIGINT
       |    AS funnel_level
       |FROM (SELECT DISTINCT user_id FROM events) u
       |LEFT JOIN t1 USING (user_id)
       |LEFT JOIN t2 USING (user_id)
       |LEFT JOIN t3 USING (user_id)""".stripMargin
  }

  def ev2bFunnelAny(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.funnelAnyChain(events(s, dir), FunnelSteps,
      FunnelWindowSec)

  /** Independent candidate-anchor formulation: every step-1 event is
    * scanned as a potential chain anchor, each anchor's greedy chain
    * is built with correlated min-joins, and the best (max level,
    * then earliest anchor) is kept per user — a completely different
    * plan shape from the Spark side's shared next-pointer window. */
  val ev2bOracle: String = {
    val winUs = FunnelWindowSec * 1000000L
    s"""WITH $evCte,
       |anchors AS (
       |  SELECT DISTINCT user_id, us AS t1 FROM ev
       |  WHERE event_type = '${FunnelSteps(0)}'
       |),
       |c2 AS (
       |  SELECT a.user_id, a.t1, min(e.us) AS t2
       |  FROM anchors a LEFT JOIN ev e
       |    ON e.user_id = a.user_id AND e.event_type = '${FunnelSteps(1)}'
       |    AND e.us > a.t1 AND e.us <= a.t1 + ${winUs}::BIGINT
       |  GROUP BY 1, 2
       |),
       |c3 AS (
       |  SELECT c.user_id, c.t1, c.t2, min(e.us) AS t3
       |  FROM c2 c LEFT JOIN ev e
       |    ON e.user_id = c.user_id AND e.event_type = '${FunnelSteps(2)}'
       |    AND e.us > c.t2 AND e.us <= c.t1 + ${winUs}::BIGINT
       |  GROUP BY 1, 2, 3
       |),
       |lv AS (
       |  SELECT user_id, t1, t2, t3,
       |    (1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
       |       + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END)::BIGINT AS lvl
       |  FROM c3
       |),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY lvl DESC, t1 ASC) AS rn
       |  FROM lv
       |)
       |SELECT u.user_id, r.t1 AS t1_us, r.t2 AS t2_us, r.t3 AS t3_us,
       |  coalesce(r.lvl, 0)::BIGINT AS funnel_level_any
       |FROM (SELECT DISTINCT user_id FROM events) u
       |LEFT JOIN ranked r ON r.user_id = u.user_id AND r.rn = 1""".stripMargin
  }

  def ev3Retention(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.retention(events(s, dir), maxOffsetDays = RetentionDays)

  val ev3Oracle: String =
    s"""WITH $evCte,
       |act AS (
       |  SELECT DISTINCT user_id,
       |    CAST(floor(us / 86400000000) AS BIGINT) AS day
       |  FROM ev
       |),
       |coh AS (SELECT user_id, min(day) AS day0 FROM act GROUP BY 1)
       |SELECT strftime(make_timestamp(day0 * 86400000000), '%Y-%m-%d')
       |    AS cohort_date,
       |  day - day0 AS day_offset,
       |  count(DISTINCT act.user_id) AS n_users
       |FROM act JOIN coh USING (user_id)
       |WHERE day - day0 <= $RetentionDays
       |GROUP BY 1, 2""".stripMargin

  def ev4PropsStats(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.propsValueStats(events(s, dir), key = "k")

  /** Both sides guard extraction with the same integer pattern, so
    * the oracle covers the operator's full input domain (a bare CAST
    * rounds '1.5' in DuckDB where Spark truncates — the guard nulls
    * non-integer values identically on both engines). */
  private def duckIntKey(key: String): String =
    s"""CASE WHEN regexp_matches(
       |    json_extract_string(props, '$$.$key'), '^-?[0-9]+$$')
       |  THEN CAST(json_extract_string(props, '$$.$key') AS BIGINT)
       |  END""".stripMargin

  /** JSON integer extraction + exact per-type stats; nulls from
    * missing/non-integer keys counted, never silently dropped. */
  val ev4Oracle: String = {
    val k = duckIntKey("k")
    s"""SELECT event_type, count(*) AS n_events,
       |  count($k) AS n_with_key,
       |  min($k) AS min_val,
       |  max($k) AS max_val,
       |  CAST(sum($k) AS BIGINT) AS sum_val
       |FROM events GROUP BY 1""".stripMargin
  }

  private val MultiKeys = Seq("k", "k2")

  def ev4bPropsMulti(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.propsMultiKeyStats(events(s, dir), MultiKeys)

  /** One stat block per key; a key absent from every row ("k2") still
    * contributes its (type, key) rows with n_with_key = 0, matching
    * the struct-typed single-parse extraction. The integer-valued
    * contract: props values are JSON integers (both engines null
    * anything else — Spark's from_json long field, the oracle's
    * pattern guard). */
  val ev4bOracle: String =
    MultiKeys.map { key =>
      val k = duckIntKey(key)
      s"""SELECT event_type, '$key' AS key_name, count(*) AS n_events,
         |  count($k) AS n_with_key,
         |  min($k) AS min_val,
         |  max($k) AS max_val,
         |  CAST(sum($k) AS BIGINT) AS sum_val
         |FROM events GROUP BY 1""".stripMargin
    }.mkString("\nUNION ALL\n")

  def ev5Transitions(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.pathTransitions(events(s, dir))

  /** Exact integer counts; the conditional probability is one
    * BIGINT→DOUBLE division on both engines, and rank ties break
    * (count DESC, to_type ASC). */
  val ev5Oracle: String =
    s"""WITH $evCte,
       |seq AS (
       |  SELECT event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY us, event_id) AS to_type
       |  FROM ev
       |),
       |tr AS (
       |  SELECT from_type, to_type, count(*) AS n_transitions
       |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
       |)
       |SELECT from_type, to_type, n_transitions,
       |  CAST(n_transitions AS DOUBLE)
       |    / CAST(sum(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE)
       |    AS p_transition,
       |  CAST(row_number() OVER (PARTITION BY from_type
       |    ORDER BY n_transitions DESC, to_type) AS INT) AS transition_rank
       |FROM tr""".stripMargin

  def ev6RollingActive(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.rollingActive(events(s, dir), windowDays = 7)

  /** Exact rolling actives: the oracle states WAU as the distinct
    * users in the trailing 7-day range via a range join over the
    * collapsed (user, day) table — same multiset as the Spark side's
    * explode-to-target-days rewrite by construction. */
  val ev6Oracle: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id AS u,
      |    epoch_us(ts) // 86400000000 AS day
      |  FROM events
      |),
      |dau AS (SELECT day, count(DISTINCT u) AS dau FROM ud GROUP BY 1),
      |wau AS (
      |  SELECT d.day, count(DISTINCT u.u) AS wau
      |  FROM dau d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
      |  GROUP BY 1
      |)
      |SELECT d.day, d.dau, w.wau,
      |  CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) AS stickiness
      |FROM dau d JOIN wau w ON w.day = d.day""".stripMargin

  def ev7Scd2(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.scd2History(events(s, dir))

  /** Islands-and-gaps restated in SQL over epoch-µs with the same
    * (us, event_id) ordering; valid_to is the next version's
    * valid_from (null-open current row). */
  val ev7Oracle: String =
    s"""WITH $evCte,
       |flagged AS (
       |  SELECT user_id, event_id, event_type AS attr, us,
       |    CASE WHEN lag(event_type) OVER w IS NULL
       |           OR lag(event_type) OVER w <> event_type
       |         THEN 1 ELSE 0 END AS chg
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       |),
       |versioned AS (
       |  SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id
       |    ORDER BY us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS version_n
       |  FROM flagged
       |),
       |agg AS (
       |  SELECT user_id, version_n, max(attr) AS attr,
       |    min(us) AS valid_from_us, count(*) AS n_events
       |  FROM versioned GROUP BY 1, 2
       |)
       |SELECT user_id, version_n, attr, valid_from_us, n_events,
       |  lead(valid_from_us) OVER (PARTITION BY user_id
       |    ORDER BY version_n) AS valid_to_us,
       |  lead(valid_from_us) OVER (PARTITION BY user_id
       |    ORDER BY version_n) IS NULL AS is_current
       |FROM agg""".stripMargin

  def ev8Rfm(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.rfmSegments(events(s, dir))

  /** RFM scores are pure rank functions (ntile with user-id
    * tie-break) of integer/exact-decimal per-user aggregates, so the
    * segment assignment is bit-identical across engines; the rendered
    * monetary total rounds HALF-UP to 2 dp on both sides before the
    * double cast (DuckDB's bare decimal scale-down would truncate). */
  val ev8Oracle: String =
    """WITH pu AS (
      |  SELECT user_id AS u,
      |    max(epoch_us(ts) // 86400000000) AS last_day,
      |    count(*) AS freq,
      |    sum(CAST(value AS DECIMAL(28,6))) AS monetary
      |  FROM events GROUP BY 1
      |),
      |sc AS (
      |  SELECT *,
      |    ntile(5) OVER (ORDER BY last_day DESC, u) AS r_score,
      |    ntile(5) OVER (ORDER BY freq DESC, u) AS f_score,
      |    ntile(5) OVER (ORDER BY monetary DESC, u) AS m_score
      |  FROM pu
      |)
      |SELECT r_score, f_score, m_score, count(*) AS n_users,
      |  CAST(CAST(round(sum(monetary), 2) AS DECIMAL(28,2)) AS DOUBLE)
      |    AS segment_monetary,
      |  CAST(sum(freq) AS BIGINT) AS segment_events
      |FROM sc GROUP BY 1, 2, 3""".stripMargin

  def ev9PowerCurve(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.powerUserCurve(events(s, dir))

  val ev9Oracle: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id AS u,
      |    epoch_us(ts) // 86400000000 AS day
      |  FROM events
      |),
      |ad AS (SELECT u, count(*) AS active_days FROM ud GROUP BY 1),
      |hist AS (
      |  SELECT active_days, count(*) AS n_users FROM ad GROUP BY 1
      |)
      |SELECT active_days, n_users,
      |  CAST(sum(n_users) OVER (ORDER BY active_days DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS users_at_least,
      |  CAST(CAST(sum(n_users) OVER (ORDER BY active_days DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS DOUBLE) / CAST(CAST(sum(n_users) OVER () AS BIGINT) AS DOUBLE)
      |    AS frac_at_least
      |FROM hist""".stripMargin

  def ev10Anomalies(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.dailyAnomalies(events(s, dir))

  val ev10Oracle: String =
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    count(*) AS n_events
      |  FROM events GROUP BY 1
      |),
      |roll AS (
      |  SELECT day, n_events,
      |    count(*) OVER w AS nw,
      |    CAST(sum(n_events) OVER w AS BIGINT) AS s1,
      |    CAST(sum(n_events * n_events) OVER w AS BIGINT) AS s2
      |  FROM daily
      |  WINDOW w AS (ORDER BY day RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
      |),
      |stats AS (
      |  SELECT day, n_events,
      |    CAST(s1 AS DOUBLE) / CAST(nw AS DOUBLE) AS mean7,
      |    (CAST(s2 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(nw AS DOUBLE))
      |      / (CAST(nw AS DOUBLE) - 1.0) AS var7
      |  FROM roll WHERE nw = 7
      |),
      |z AS (
      |  SELECT day, n_events, mean7,
      |    sqrt(CASE WHEN var7 < 0 THEN 0.0 ELSE var7 END) AS std7
      |  FROM stats
      |)
      |SELECT day, n_events, mean7, std7,
      |  (CAST(n_events AS DOUBLE) - mean7) / nullif(std7, 0.0) AS z,
      |  coalesce(abs((CAST(n_events AS DOUBLE) - mean7)
      |    / nullif(std7, 0.0)) > 2.0, false) AS is_anomaly
      |FROM z""".stripMargin

  def ev11Attribution(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.touchAttribution(events(s, dir))

  val ev11Oracle: String =
    s"""WITH $evCte,
       |t AS (
       |  SELECT *, CASE WHEN event_type IN ('view', 'click')
       |    THEN event_type END AS tch
       |  FROM ev
       |),
       |w AS (
       |  SELECT *,
       |    first_value(tch IGNORE NULLS) OVER (
       |      PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS first_touch,
       |    last_value(tch IGNORE NULLS) OVER (
       |      PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS last_touch
       |  FROM t
       |)
       |SELECT first_touch, last_touch, count(*) AS n_conversions,
       |  CAST(CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2)
       |    AS DECIMAL(28,2)) AS DOUBLE) AS revenue
       |FROM w WHERE event_type = 'purchase'
       |GROUP BY 1, 2""".stripMargin

  def ev12Cusum(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.cusumDays(events(s, dir))

  val ev12Oracle: String =
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    count(*) AS n_events
      |  FROM events GROUP BY 1
      |),
      |stats AS (
      |  SELECT *,
      |    CAST(count(*) OVER () AS DOUBLE) AS cnt,
      |    CAST(CAST(sum(n_events) OVER () AS BIGINT) AS DOUBLE) AS s1,
      |    CAST(CAST(sum(n_events * n_events) OVER () AS BIGINT) AS DOUBLE)
      |      AS s2
      |  FROM daily
      |),
      |m1 AS (SELECT *, s1 / cnt AS mu FROM stats),
      |m2 AS (
      |  SELECT *, sqrt(greatest(s2 / cnt - mu * mu, 0.0)) AS sigma
      |  FROM m1
      |),
      |run AS (
      |  SELECT *,
      |    CAST(sum(zq) OVER w AS DECIMAL(24,6)) AS p
      |  FROM (SELECT *, CAST(CAST(n_events AS DOUBLE) - mu
      |        AS DECIMAL(18,6)) AS zq FROM m2)
      |  WINDOW w AS (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |),
      |ext AS (
      |  SELECT *,
      |    min(p) OVER w AS runmin,
      |    max(p) OVER w AS runmax
      |  FROM run
      |  WINDOW w AS (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |),
      |cus AS (
      |  SELECT day, n_events, sigma,
      |    CAST(p - (CASE WHEN runmin < 0 THEN runmin
      |      ELSE CAST(0 AS DECIMAL(24,6)) END) AS DOUBLE) AS cusum_up,
      |    CAST((CASE WHEN runmax > 0 THEN runmax
      |      ELSE CAST(0 AS DECIMAL(24,6)) END) - p AS DOUBLE)
      |      AS cusum_down
      |  FROM ext
      |)
      |SELECT day, n_events, cusum_up, cusum_down,
      |  cusum_up > 5.0 * sigma OR cusum_down > 5.0 * sigma AS is_shift
      |FROM cus""".stripMargin

  def ev13TopPaths(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.topPaths(events(s, dir))

  val ev13Oracle: String =
    s"""WITH $evCte,
       |seq AS (
       |  SELECT event_type AS t0,
       |    lead(event_type, 1) OVER w AS t1,
       |    lead(event_type, 2) OVER w AS t2
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       |)
       |SELECT t0 || '>' || t1 || '>' || t2 AS path,
       |  count(*) AS n_paths
       |FROM seq WHERE t1 IS NOT NULL AND t2 IS NOT NULL
       |GROUP BY 1
       |ORDER BY n_paths DESC, path LIMIT 20""".stripMargin

  def ev14Growth(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.growthAccounting(events(s, dir))

  val ev14Oracle: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id AS u,
      |    epoch_us(ts) // 86400000000 AS day
      |  FROM events
      |),
      |cl AS (
      |  SELECT u, day,
      |    lag(day) OVER w AS prev_day,
      |    lead(day) OVER w AS next_day,
      |    min(day) OVER (PARTITION BY u) AS first_day
      |  FROM ud WINDOW w AS (PARTITION BY u ORDER BY day)
      |),
      |st AS (
      |  SELECT day,
      |    CASE WHEN day = first_day THEN 'new'
      |         WHEN day - prev_day > 7 THEN 'resurrected'
      |         ELSE 'retained' END AS status,
      |    (next_day IS NULL OR next_day - day > 7) AS churned
      |  FROM cl
      |)
      |SELECT day, count(*) AS n_active,
      |  count(CASE WHEN status = 'new' THEN 1 END) AS n_new,
      |  count(CASE WHEN status = 'retained' THEN 1 END) AS n_retained,
      |  count(CASE WHEN status = 'resurrected' THEN 1 END)
      |    AS n_resurrected,
      |  count(CASE WHEN churned THEN 1 END) AS n_churned_after
      |FROM st GROUP BY 1""".stripMargin

  /** EV15: exact per-type value quantiles through the distributed
    * selection machinery (the a21 plan — frequency table,
    * range-repartitioned prefix sums, integer-rank containment — on
    * the events domain; no per-key sort anywhere). */
  def ev15ValueQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.DistributedSelection.quantiles(
      events(s, dir).select(org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("value")),
      "event_type", "value",
      Seq((1, 2, "p50"), (9, 10, "p90"), (99, 100, "p99")))

  val ev15Oracle: String =
    """WITH ranked AS (
      |  SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY value, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events
      |)
      |SELECT event_type, max(n) AS n_trades,
      |  max(CASE WHEN rn = (n * 1 + 1) // 2 THEN value END) AS p50,
      |  max(CASE WHEN rn = (n * 9 + 9) // 10 THEN value END) AS p90,
      |  max(CASE WHEN rn = (n * 99 + 99) // 100 THEN value END) AS p99
      |FROM ranked
      |WHERE rn = (n * 1 + 1) // 2 OR rn = (n * 9 + 9) // 10
      |   OR rn = (n * 99 + 99) // 100
      |GROUP BY event_type""".stripMargin

  // ---- EV16: funnel transition latency ----

  def ev16TimeToConvert(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.funnelTransitionStats(
      EventsAnalytics.funnel(events(s, dir), FunnelSteps, FunnelWindowSec),
      FunnelSteps)

  /** Transition latencies re-derived from the same greedy-chain CTEs
    * the ev2 gate uses — dt in exact integer µs, mean over exact
    * decimal sums of µs→sec doubles. */
  val ev16Oracle: String =
    s"""WITH $evCte,
       |$funnelStepsCte,
       |d AS (
       |  SELECT '${FunnelSteps(0)}->${FunnelSteps(1)}' AS transition,
       |    t2_us - t1_us AS dt_us
       |  FROM t2 JOIN t1 USING (user_id)
       |  UNION ALL
       |  SELECT '${FunnelSteps(1)}->${FunnelSteps(2)}' AS transition,
       |    t3_us - t2_us AS dt_us
       |  FROM t3 JOIN t2 USING (user_id)
       |)
       |SELECT transition, count(*) AS n_converted,
       |  min(dt_us) AS min_us, max(dt_us) AS max_us,
       |  ${duckDavg("CAST(dt_us AS DOUBLE) / 1000000.0")} AS avg_sec,
       |  CAST(sum(CASE WHEN dt_us <= 3600000000 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS within_1h
       |FROM d GROUP BY 1""".stripMargin

  // ---- EV17: Kaplan–Meier user-lifetime survival ----

  def ev17Survival(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.kaplanMeier(events(s, dir))

  /** Product-limit chain re-derived end to end: risk sets from the
    * windowed counts, the survival product as exp over the 9-dp
    * DECIMAL ln terms (order-free sum — a raw double cumulative sum
    * would differ between Spark's running frame and DuckDB's segment
    * tree), zero factors forcing S = 0 downstream. */
  val ev17Oracle: String =
    s"""WITH pu AS (
       |  SELECT user_id AS u,
       |    min(epoch_us(ts) // 86400000000) AS d0,
       |    max(epoch_us(ts) // 86400000000) AS d1
       |  FROM events GROUP BY 1
       |),
       |e AS (SELECT max(d1) AS end_day FROM pu),
       |ud AS (
       |  SELECT d1 - d0 AS duration, (d1 < end_day - 7) AS churned
       |  FROM pu, e
       |),
       |bd AS (
       |  SELECT duration, count(*) AS n_total,
       |    count(CASE WHEN churned THEN 1 END) AS n_churned,
       |    count(CASE WHEN NOT churned THEN 1 END) AS n_censored
       |  FROM ud GROUP BY 1
       |),
       |r AS (
       |  SELECT *,
       |    CAST(sum(n_total) OVER () AS BIGINT)
       |      - coalesce(CAST(sum(n_total) OVER (ORDER BY duration
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |          AS BIGINT), 0) AS n_risk
       |  FROM bd
       |),
       |f AS (
       |  SELECT *, 1.0 - CAST(n_churned AS DOUBLE)
       |    / CAST(n_risk AS DOUBLE) AS factor
       |  FROM r
       |),
       |g AS (
       |  SELECT *,
       |    CAST(CASE WHEN factor > 0 THEN ln(factor) END
       |      AS DECIMAL(28,9)) AS lnf,
       |    max(CASE WHEN factor = 0 THEN 1 ELSE 0 END) OVER cum
       |      AS hit_zero
       |  FROM f
       |  WINDOW cum AS (ORDER BY duration
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |)
       |SELECT duration, n_risk, n_churned, n_censored,
       |  CASE WHEN hit_zero = 1 THEN 0.0
       |       ELSE ${duckRoundTo(
                "exp(CAST(sum(lnf) OVER (ORDER BY duration " +
                  "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
                  "AS DOUBLE))", 9)} END AS km_survival
       |FROM g""".stripMargin

  // ---- EV18: Markov removal-effect attribution (echo+verify) ----

  /** SQL re-derivation of the transition-count matrix — journeys
    * truncate at the first conversion, START prefixes, non-converting
    * journeys terminate in NULL. Integer counts, total (us, event_id)
    * ordering: bit-deterministic. */
  private val markovTcCte: String = {
    import graft.operators.MarkovAttribution.{Channels, Conversion}
    val inList = (Channels :+ Conversion).map(c => s"'$c'").mkString(", ")
    s"""evs AS (
       |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type
       |  FROM events WHERE event_type IN ($inList)
       |),
       |pc AS (
       |  SELECT *, count(CASE WHEN event_type = '$Conversion' THEN 1 END)
       |    OVER (PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |    AS prior_conv
       |  FROM evs
       |),
       |kept AS (SELECT * FROM pc WHERE prior_conv = 0),
       |lagd AS (
       |  SELECT *, lag(event_type) OVER (
       |    PARTITION BY user_id ORDER BY us, event_id) AS prev
       |  FROM kept
       |),
       |steps AS (
       |  SELECT coalesce(prev, 'START') AS src,
       |    CASE WHEN event_type = '$Conversion' THEN 'CONV'
       |         ELSE event_type END AS dst
       |  FROM lagd
       |),
       |term AS (
       |  SELECT user_id, event_type AS last_type
       |  FROM (
       |    SELECT user_id, event_type,
       |      row_number() OVER (PARTITION BY user_id
       |        ORDER BY us DESC, event_id DESC) AS rn,
       |      max(CASE WHEN event_type = '$Conversion' THEN 1 ELSE 0 END)
       |        OVER (PARTITION BY user_id) AS has_conv
       |    FROM kept
       |  ) WHERE rn = 1 AND has_conv = 0
       |),
       |tr AS (
       |  SELECT src, dst FROM steps
       |  UNION ALL
       |  SELECT last_type AS src, 'NULL' AS dst FROM term
       |),
       |tc AS (SELECT src, dst, count(*) AS c FROM tr GROUP BY 1, 2)"""
      .stripMargin
  }

  /** Pinned-absorption gate: every scenario's absorption vector is
    * echoed as literals and the oracle checks each transient state's
    * linear-system residual against the SQL-derived counts, plus the
    * echoed effects/shares for internal consistency. */
  private def ev18Oracle(baseCvr: Double,
      scens: Seq[(String, Map[String, Double])],
      rows: Seq[(String, Double, Double, Double)]): String = {
    val baseL = duckDoubleLit(baseCvr)
    val pvRows = scens.flatMap { case (scen, p) =>
      p.map { case (st, v) => s"('$scen', '$st', ${duckDoubleLit(v)})" }
    }.mkString(",\n    ")
    val valRows = rows.map { case (ch, cvr, eff, share) =>
      s"('$ch', ${duckDoubleLit(cvr)}, ${duckDoubleLit(eff)}, " +
        s"${duckDoubleLit(share)})"
    }.mkString(",\n    ")
    s"""WITH $markovTcCte,
       |pv(scen, state, p) AS (VALUES
       |    $pvRows),
       |res AS (
       |  SELECT pv.scen, pv.state, pv.p,
       |    coalesce(sum(CASE WHEN tc.dst = 'CONV'
       |                      THEN CAST(tc.c AS DOUBLE)
       |                      ELSE CAST(tc.c AS DOUBLE)
       |                           * coalesce(pt.p, 0.0) END), 0.0) AS lhs,
       |    coalesce(CAST(sum(tc.c) AS DOUBLE), 0.0) AS row_sum
       |  FROM pv
       |  LEFT JOIN tc ON tc.src = pv.state
       |  LEFT JOIN pv pt ON pt.scen = pv.scen AND pt.state = tc.dst
       |  GROUP BY 1, 2, 3
       |),
       |okt AS (
       |  SELECT scen, bool_and(abs(lhs - p * row_sum)
       |    <= 1.0E-6 * greatest(row_sum, 1.0)) AS ok
       |  FROM res GROUP BY 1
       |),
       |allok AS (SELECT bool_and(ok) AS rok FROM okt),
       |vals(channel, removal_cvr, removal_effect, attribution_share)
       |  AS (VALUES
       |    $valRows),
       |ss AS (
       |  SELECT CAST(sum(CAST(attribution_share AS DECIMAL(28,9)))
       |    AS DOUBLE) AS sh
       |  FROM vals
       |)
       |SELECT v.channel, v.removal_cvr, v.removal_effect,
       |  v.attribution_share, $baseL AS base_cvr,
       |  (a.rok AND abs(s.sh - 1.0) < 1.0E-6
       |    AND abs(v.removal_effect
       |      - ($baseL - v.removal_cvr) / $baseL) < 1.0E-12) AS gate_ok
       |FROM vals v, allok a, ss s""".stripMargin
  }

  def ev18Markov(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.MarkovAttribution
    val channels = MarkovAttribution.Channels
    // bounded-collect((channels+2)^2: the transition matrix has one
    // row per ordered channel/absorbing-state pair, independent of
    // corpus size)
    val counts = MarkovAttribution.transitionCounts(events(s, dir))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val base = MarkovAttribution.absorption(counts, channels, None)
    val baseCvr = base("START")
    val scens = ("base", base) +: channels.map(ch =>
      s"rm_$ch" -> MarkovAttribution.absorption(counts, channels, Some(ch)))
    // driver-side mirror of the oracle's residual gate
    def residOk(p: Map[String, Double]): Boolean =
      p.keys.forall { st =>
        val out = counts.collect { case ((`st`, d), c) => (d, c) }.toSeq
        val rowSum = out.map(_._2).sum.toDouble
        val lhs = out.map { case (d, c) =>
          c.toDouble * (if (d == "CONV") 1.0 else p.getOrElse(d, 0.0))
        }.sum
        math.abs(lhs - p(st) * rowSum) <= 1e-6 * math.max(rowSum, 1.0)
      }
    val effects = channels.map { ch =>
      val pr = scens.collectFirst { case (n, p) if n == s"rm_$ch" => p }
        .get("START")
      (ch, pr, if (baseCvr > 0) (baseCvr - pr) / baseCvr else 0.0)
    }
    val effSum = effects.map(_._3).sum
    val rows = effects.map { case (ch, pr, eff) =>
      (ch, pr, eff, if (effSum != 0) eff / effSum else 0.0)
    }
    val shareOk = math.abs(rows.map(r =>
      BigDecimal(r._4).setScale(9, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble - 1.0) < 1e-6
    val gateOk = scens.forall(s => residOk(s._2)) && shareOk
    DynamicOracles.put("ev18_markov_attribution",
      ev18Oracle(baseCvr, scens, rows))
    rows.map { case (ch, pr, eff, share) =>
      (ch, pr, eff, share, baseCvr, gateOk)
    }.toDF("channel", "removal_cvr", "removal_effect",
      "attribution_share", "base_cvr", "gate_ok")
  }

  // ---- EV19: cohort LTV curves ----

  def ev19CohortLtv(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.cohortLtv(events(s, dir))

  /** Whole chain re-derived: per-user cohort pin, offset grid,
    * DECIMAL value sums AND cumulative (segment-tree-safe), per-capita
    * division on the rendered doubles. */
  val ev19Oracle: String =
    s"""WITH t AS (
       |  SELECT user_id AS u, epoch_us(ts) // 86400000000 AS day,
       |    value AS v
       |  FROM events
       |),
       |c AS (SELECT *, min(day) OVER (PARTITION BY u) AS cohort FROM t),
       |f AS (
       |  SELECT *, day - cohort AS off FROM c
       |  WHERE day - cohort <= 14
       |),
       |cs AS (
       |  SELECT cohort, count(DISTINCT u) AS cohort_users
       |  FROM f GROUP BY 1
       |),
       |g AS (
       |  SELECT cohort, off, count(DISTINCT u) AS active_users,
       |    sum(CAST(v AS DECIMAL(28,6))) AS val
       |  FROM f GROUP BY 1, 2
       |),
       |cum AS (
       |  SELECT *, sum(val) OVER (PARTITION BY cohort ORDER BY off
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumv
       |  FROM g
       |)
       |SELECT strftime(make_timestamp(cohort * 86400000000), '%Y-%m-%d')
       |    AS cohort_date,
       |  off AS day_offset, cohort_users, active_users,
       |  CAST(val AS DOUBLE) AS day_value,
       |  CAST(cumv AS DOUBLE) AS cum_value,
       |  CAST(cumv AS DOUBLE) / CAST(cohort_users AS DOUBLE)
       |    AS cum_value_per_user
       |FROM cum JOIN cs USING (cohort)""".stripMargin

  /** EV21: NATIVE `session_window` batch aggregation — the
    * Spark-first idiom next to ev1's manual islands-and-gaps
    * sessionization (one hash-shuffle on user_id + the built-in
    * merging-session aggregate; no lag window, no running sum, and
    * the same operator works unchanged under `readStream`, see st6).
    * Boundary semantics: per-event windows [ts, ts + gap) merge when
    * they overlap OR exactly touch (merge condition start <= prev
    * end, pinned in Round11bSpec), so a new session opens only when
    * the gap STRICTLY exceeds gapDuration — identical to ev1's
    * manual islands. The observable differences from ev1 are the
    * window end (last_event + gap, not the last event) and the
    * session key (window, not a per-user ordinal). */
  def ev21SessionWindow(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$SessionGapSec seconds"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        graft.util.Parity.dsum(col("value")).as("total_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"), col("n_types"), col("total_value"))

  val ev21Oracle: String =
    s"""WITH $evCte,
       |seq AS (
       |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
       |      OR us - lag(us) OVER w > ${SessionGapSec}::BIGINT * 1000000
       |    THEN 1 ELSE 0 END AS is_new
       |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       |),
       |ses AS (
       |  SELECT *, sum(is_new) OVER (PARTITION BY user_id
       |      ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM seq
       |)
       |SELECT user_id, min(us) AS session_start_us,
       |  max(us) + ${SessionGapSec}::BIGINT * 1000000 AS session_end_us,
       |  count(*) AS n_events,
       |  count(DISTINCT event_type) AS n_types,
       |  ${duckDsum("value")} AS total_value
       |FROM ses GROUP BY user_id, grp""".stripMargin

  private val AbSeed = 42L

  /** EV22: deterministic-assignment A/B read-out
    * ([[EventsAnalytics.abTest]]). The whole chain — sha-bucket
    * assignment, exact per-user metric, conditional decimal sums,
    * Welch t and df — re-derives in SQL; the Welch algebra is SHARED
    * expression text so the raw doubles hash-match. */
  def ev22AbTest(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.abTest(events(s, dir), AbSeed)

  val ev22Oracle: String = {
    import graft.util.Parity.duckHex32
    import graft.operators.EventsAnalytics.{welchDfExpr, welchTExpr, welchVarExpr}
    s"""WITH pu AS (
       |  SELECT user_id AS u, ${duckDsum("value")} AS mu
       |  FROM events GROUP BY 1
       |),
       |v AS (
       |  SELECT mu,
       |    CASE WHEN ${duckHex32("sha")} % 2 = 0 THEN 'A' ELSE 'B' END
       |      AS variant
       |  FROM (SELECT mu,
       |    sha256('ab:$AbSeed:' || CAST(u AS VARCHAR)) AS sha FROM pu)
       |),
       |aggd AS (
       |  SELECT
       |    count(CASE WHEN variant = 'A' THEN 1 END) AS n_a,
       |    count(CASE WHEN variant = 'B' THEN 1 END) AS n_b,
       |    ${duckDsum("CASE WHEN variant = 'A' THEN mu END")} AS _sa,
       |    ${duckDsum("CASE WHEN variant = 'B' THEN mu END")} AS _sb,
       |    ${duckDsum("CASE WHEN variant = 'A' THEN mu*mu END")} AS _qa,
       |    ${duckDsum("CASE WHEN variant = 'B' THEN mu*mu END")} AS _qb
       |  FROM v
       |),
       |w AS (SELECT *, CAST(n_a AS DOUBLE) AS na,
       |  CAST(n_b AS DOUBLE) AS nb FROM aggd),
       |x AS (SELECT *, _sa / na AS ma, _sb / nb AS mb,
       |  ${welchVarExpr("_qa", "_sa", "na")} AS va,
       |  ${welchVarExpr("_qb", "_sb", "nb")} AS vb FROM w),
       |y AS (SELECT *, $welchTExpr AS t_stat,
       |  $welchDfExpr AS df_welch FROM x)
       |SELECT n_a, n_b, ma AS mean_a, mb AS mean_b,
       |  va AS var_a, vb AS var_b, t_stat, df_welch,
       |  abs(t_stat) > 1.96 AS significant
       |FROM y""".stripMargin
  }

  /** EV30: always-valid sequential test (mSPRT,
    * [[EventsAnalytics.msprt]]) — the daily-peeking companion to
    * ev22's fixed-horizon t-test: per calendar-day look, cumulative
    * per-active-user spend by variant, the mixture likelihood ratio
    * Λ, and the running always-valid p. The oracle replays the full
    * chain with the Λ text shared verbatim. */
  def ev30Msprt(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.msprt(events(s, dir), AbSeed)

  val ev30Oracle: String = {
    import graft.util.Parity.duckHex32
    import graft.operators.EventsAnalytics.{msprtLamSql, welchVarExpr}
    val r6 = (t: String) => s"CAST(CAST(($t) AS DECIMAL(28,6)) AS DOUBLE)"
    s"""WITH pud AS (
       |  SELECT user_id AS u,
       |    (epoch_us(ts) // 86400000000) * 86400 AS day_ep,
       |    sum(CAST(value AS DECIMAL(28,6))) AS dv
       |  FROM events GROUP BY 1, 2
       |),
       |dys AS (SELECT DISTINCT day_ep FROM pud),
       |usr0 AS (SELECT u, min(day_ep) AS first_day FROM pud GROUP BY 1),
       |usr AS (
       |  SELECT u, first_day,
       |    CASE WHEN ${duckHex32("sha")} % 2 = 0 THEN 'A' ELSE 'B' END
       |      AS variant
       |  FROM (SELECT u, first_day,
       |    sha256('ab:$AbSeed:' || CAST(u AS VARCHAR)) AS sha FROM usr0)
       |),
       |cum0 AS (
       |  SELECT g.u, g.variant, g.day_ep,
       |    CAST(sum(coalesce(p.dv, 0::DECIMAL(28,6))) OVER (
       |      PARTITION BY g.u ORDER BY g.day_ep) AS DOUBLE) AS mu
       |  FROM (SELECT u, first_day, variant, day_ep
       |        FROM usr CROSS JOIN dys) g
       |  LEFT JOIN pud p ON p.u = g.u AND p.day_ep = g.day_ep
       |  WHERE g.day_ep >= g.first_day
       |),
       |looks AS (
       |  SELECT day_ep,
       |    count(CASE WHEN variant = 'A' THEN 1 END) AS n_a,
       |    count(CASE WHEN variant = 'B' THEN 1 END) AS n_b,
       |    ${duckDsum("CASE WHEN variant = 'A' THEN mu END")} AS _sa,
       |    ${duckDsum("CASE WHEN variant = 'B' THEN mu END")} AS _sb,
       |    ${duckDsum("CASE WHEN variant = 'A' THEN mu*mu END")} AS _qa,
       |    ${duckDsum("CASE WHEN variant = 'B' THEN mu*mu END")} AS _qb
       |  FROM cum0 GROUP BY 1
       |),
       |st1 AS (
       |  SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb
       |  FROM looks WHERE n_a >= 2 AND n_b >= 2
       |),
       |st2 AS (
       |  SELECT *, _sb / nb - _sa / na AS delta,
       |    ${welchVarExpr("_qa", "_sa", "na")} / na
       |      + ${welchVarExpr("_qb", "_sb", "nb")} / nb AS bigv
       |  FROM st1
       |),
       |st3 AS (SELECT *, ${msprtLamSql(r6)} AS lam FROM st2)
       |SELECT day_ep, n_a, n_b, delta, lam AS lambda_mix,
       |  min(least(CAST(1 AS DOUBLE), 1.0 / lam)) OVER (
       |    ORDER BY day_ep ROWS UNBOUNDED PRECEDING) AS p_always_valid
       |FROM st3""".stripMargin
  }

  /** EV31: deterministic Poisson-bootstrap CI for the B−A lift
    * ([[EventsAnalytics.bootstrapLift]]) — all 200 replicates in one
    * pass, weights from seeded-sha uniforms through a shared
    * Poisson(1) inverse-CDF table, CI = exact order statistics of the
    * replicate table. */
  def ev31Bootstrap(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.bootstrapLift(events(s, dir), AbSeed)

  val ev31Oracle: String = {
    import graft.util.Parity.{duckDoubleLit, duckHex32}
    import graft.operators.EventsAnalytics.PoissonCdf
    val nBoot = 200
    val wCase = PoissonCdf.zipWithIndex
      .map { case (c, k) => s"WHEN uu < ${duckDoubleLit(c)} THEN $k" }
      .mkString("CASE ", " ", s" ELSE ${PoissonCdf.length} END")
    s"""WITH pu AS (
       |  SELECT user_id AS u, ${duckDsum("value")} AS mu
       |  FROM events GROUP BY 1
       |),
       |v AS (
       |  SELECT u, mu,
       |    CASE WHEN ${duckHex32("sha")} % 2 = 0 THEN 'A' ELSE 'B' END
       |      AS variant
       |  FROM (SELECT u, mu,
       |    sha256('ab:$AbSeed:' || CAST(u AS VARCHAR)) AS sha FROM pu)
       |),
       |reps AS (
       |  SELECT u, variant, mu, bb.b AS b,
       |    sha256('boot:$AbSeed:' || CAST(bb.b AS VARCHAR) || ':'
       |      || CAST(u AS VARCHAR)) AS sha
       |  FROM v CROSS JOIN (SELECT unnest(range(0, $nBoot)) AS b) bb
       |),
       |ww AS (
       |  SELECT u, variant, mu, b, $wCase AS w
       |  FROM (SELECT *, (${duckHex32("sha")} + 1) / 4294967296.0 AS uu
       |        FROM reps)
       |),
       |lifts AS (
       |  SELECT b,
       |    ${duckDsum("CASE WHEN variant = 'A' THEN w * mu END")} AS _swa,
       |    ${duckDsum("CASE WHEN variant = 'B' THEN w * mu END")} AS _swb,
       |    CAST(sum(CASE WHEN variant = 'A' THEN w END) AS DOUBLE) AS _na,
       |    CAST(sum(CASE WHEN variant = 'B' THEN w END) AS DOUBLE) AS _nb
       |  FROM ww GROUP BY 1
       |  HAVING sum(CASE WHEN variant = 'A' THEN w END) > 0
       |     AND sum(CASE WHEN variant = 'B' THEN w END) > 0
       |),
       |dl AS (
       |  SELECT b, _swb / _nb - _swa / _na AS delta_b FROM lifts
       |),
       |rk AS (
       |  SELECT *, row_number() OVER (ORDER BY delta_b, b) AS rk,
       |    count(*) OVER () AS nl FROM dl
       |),
       |fd AS (
       |  SELECT count(*) AS n_users,
       |    ${duckDsum("CASE WHEN variant = 'B' THEN mu END")}
       |      / count(CASE WHEN variant = 'B' THEN 1 END)
       |    - ${duckDsum("CASE WHEN variant = 'A' THEN mu END")}
       |      / count(CASE WHEN variant = 'A' THEN 1 END) AS delta_hat
       |  FROM v
       |),
       |ci AS (
       |  SELECT
       |    max(CASE WHEN rk = greatest(1, nl // 40) THEN delta_b END)
       |      AS ci_lo,
       |    max(CASE WHEN rk = greatest(1, nl // 2) THEN delta_b END)
       |      AS ci_med,
       |    max(CASE WHEN rk = nl - nl // 40 THEN delta_b END) AS ci_hi
       |  FROM rk
       |)
       |SELECT n_users, delta_hat, ci_lo, ci_med, ci_hi
       |FROM fd CROSS JOIN ci""".stripMargin
  }

  /** EV24: difference-in-differences panel
    * ([[EventsAnalytics.didPanel]]) — the full chain (midpoint split,
    * sha-bucket treatment coin, per-(user, period) decimal spend,
    * four conditional cell sums, the DiD algebra) restated in SQL. */
  def ev24Did(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.didPanel(events(s, dir), AbSeed)

  val ev24Oracle: String = {
    import graft.util.Parity.duckHex32
    s"""WITH $evCte,
       |b AS (SELECT min(us) AS mn, max(us) AS mx FROM ev),
       |cell AS (
       |  SELECT user_id AS u,
       |    CASE WHEN us < mn + (mx - mn) // 2 THEN 'pre'
       |      ELSE 'post' END AS period,
       |    ${duckDsum("value")} AS uv
       |  FROM ev, b GROUP BY 1, 2
       |),
       |g AS (
       |  SELECT uv, period,
       |    CASE WHEN ${duckHex32("sha")} % 2 = 0 THEN 'T' ELSE 'C' END
       |      AS grp
       |  FROM (SELECT *,
       |    sha256('did:$AbSeed:' || CAST(u AS VARCHAR)) AS sha FROM cell)
       |),
       |aggd AS (
       |  SELECT
       |    count(CASE WHEN grp = 'T' AND period = 'pre' THEN 1 END)
       |      AS n_t_pre,
       |    count(CASE WHEN grp = 'T' AND period = 'post' THEN 1 END)
       |      AS n_t_post,
       |    count(CASE WHEN grp = 'C' AND period = 'pre' THEN 1 END)
       |      AS n_c_pre,
       |    count(CASE WHEN grp = 'C' AND period = 'post' THEN 1 END)
       |      AS n_c_post,
       |    ${duckDsum("CASE WHEN grp = 'T' AND period = 'pre' THEN uv END")}
       |      AS _stp,
       |    ${duckDsum("CASE WHEN grp = 'T' AND period = 'post' THEN uv END")}
       |      AS _sto,
       |    ${duckDsum("CASE WHEN grp = 'C' AND period = 'pre' THEN uv END")}
       |      AS _scp,
       |    ${duckDsum("CASE WHEN grp = 'C' AND period = 'post' THEN uv END")}
       |      AS _sco
       |  FROM g
       |),
       |m AS (
       |  SELECT *,
       |    _stp / CAST(n_t_pre AS DOUBLE) AS mean_t_pre,
       |    _sto / CAST(n_t_post AS DOUBLE) AS mean_t_post,
       |    _scp / CAST(n_c_pre AS DOUBLE) AS mean_c_pre,
       |    _sco / CAST(n_c_post AS DOUBLE) AS mean_c_post
       |  FROM aggd
       |)
       |SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
       |  mean_t_pre, mean_t_post, mean_c_pre, mean_c_post,
       |  (mean_t_post - mean_t_pre) - (mean_c_post - mean_c_pre) AS did
       |FROM m""".stripMargin
  }

  /** EV25: CUPED variance-reduced read-out of the ev22 experiment
    * ([[EventsAnalytics.cuped]]) — pre/post midpoint split, pooled
    * θ = cov/var, per-arm adjusted means, ρ² variance reduction; the
    * gated sums and the whole double algebra re-derive in SQL from
    * the SAME shared expression strings. */
  def ev25Cuped(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.cuped(events(s, dir), AbSeed)

  val ev25Oracle: String = {
    import graft.util.Parity.duckHex32
    import graft.operators.EventsAnalytics._
    s"""WITH $evCte,
       |b AS (SELECT min(us) AS mn, max(us) AS mx FROM ev),
       |pu AS (
       |  SELECT user_id AS u,
       |    coalesce(${duckDsum(
             "CASE WHEN us < mn + (mx - mn) // 2 THEN value END")},
       |      0.0::DOUBLE) AS x,
       |    coalesce(${duckDsum(
             "CASE WHEN NOT (us < mn + (mx - mn) // 2) THEN value END")},
       |      0.0::DOUBLE) AS y
       |  FROM ev, b GROUP BY 1
       |),
       |v AS (
       |  SELECT x, y,
       |    CASE WHEN ${duckHex32("sha")} % 2 = 0 THEN 'A' ELSE 'B' END
       |      AS variant
       |  FROM (SELECT x, y,
       |    sha256('ab:$AbSeed:' || CAST(u AS VARCHAR)) AS sha FROM pu)
       |),
       |aggd AS (
       |  SELECT count(*) AS n_users,
       |    count(CASE WHEN variant = 'A' THEN 1 END) AS n_a,
       |    count(CASE WHEN variant = 'B' THEN 1 END) AS n_b,
       |    ${duckDsum("x")} AS sx, ${duckDsum("y")} AS sy,
       |    ${duckDsum("x * y")} AS sxy,
       |    ${duckDsum("x * x")} AS sxx,
       |    ${duckDsum("y * y")} AS syy,
       |    ${duckDsum("CASE WHEN variant = 'A' THEN x END")} AS sxa,
       |    ${duckDsum("CASE WHEN variant = 'A' THEN y END")} AS sya,
       |    ${duckDsum("CASE WHEN variant = 'B' THEN x END")} AS sxb,
       |    ${duckDsum("CASE WHEN variant = 'B' THEN y END")} AS syb
       |  FROM v
       |),
       |w AS (SELECT *, CAST(n_users AS DOUBLE) AS nd,
       |  CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb FROM aggd),
       |w2 AS (SELECT *, $cupedVxExpr AS vx, $cupedVyExpr AS vy,
       |  $cupedCxyExpr AS cxy FROM w),
       |w3 AS (SELECT *, $cupedThetaExpr AS theta, sx / nd AS xbar
       |  FROM w2)
       |SELECT n_a, n_b, theta,
       |  ${cupedAdjMeanExpr("sya", "sxa", "na")} AS mean_adj_a,
       |  ${cupedAdjMeanExpr("syb", "sxb", "nb")} AS mean_adj_b,
       |  syb / nb - sya / na AS diff_raw,
       |  (${cupedAdjMeanExpr("syb", "sxb", "nb")})
       |    - (${cupedAdjMeanExpr("sya", "sxa", "na")}) AS diff_cuped,
       |  $cupedRhoSqExpr AS var_reduction
       |FROM w3""".stripMargin
  }

  /** EV26: sample-ratio-mismatch guardrail
    * ([[EventsAnalytics.srmCheck]]) — per-segment χ² of the A/B user
    * split against the designed 50/50, flagged at the p = 0.001
    * platform-standard level; the χ² algebra and the critical value
    * are SHARED text so the raw doubles hash-match. */
  def ev26Srm(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.srmCheck(events(s, dir), AbSeed)

  val ev26Oracle: String = {
    import graft.util.Parity.duckHex32
    import graft.operators.EventsAnalytics.{srmChi2Expr, SrmChi2Crit}
    s"""WITH su AS (
       |  SELECT DISTINCT event_type AS segment, user_id AS u
       |  FROM events
       |),
       |v AS (
       |  SELECT segment,
       |    CASE WHEN ${duckHex32("sha")} % 2 = 0 THEN 'A' ELSE 'B' END
       |      AS variant
       |  FROM (SELECT segment,
       |    sha256('ab:$AbSeed:' || CAST(u AS VARCHAR)) AS sha FROM su)
       |),
       |a AS (
       |  SELECT segment,
       |    count(CASE WHEN variant = 'A' THEN 1 END) AS n_a,
       |    count(CASE WHEN variant = 'B' THEN 1 END) AS n_b
       |  FROM v GROUP BY 1
       |),
       |b AS (SELECT *, CAST(n_a AS DOUBLE) AS na,
       |  CAST(n_b AS DOUBLE) AS nb FROM a)
       |SELECT segment, n_a, n_b, na / (na + nb) AS share_a,
       |  $srmChi2Expr AS chi2_srm,
       |  ($srmChi2Expr) > ${duckDoubleLit(SrmChi2Crit)} AS srm_flag
       |FROM b""".stripMargin
  }

  /** EV27: quantile treatment effects
    * ([[EventsAnalytics.quantileLift]]) — per-arm exact rank-selected
    * spend quantiles plus B−A lifts; the oracle restates the
    * ceil-rank element picks over a per-variant rank window (the a21
    * spelling) and the same conditional pivot. */
  def ev27QuantileLift(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.quantileLift(events(s, dir), AbSeed)

  val ev27Oracle: String = {
    import graft.util.Parity.duckHex32
    val picks = Seq(("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4),
      ("p90", 9, 10))
    def rank(a: Int, b: Int) = s"(n * $a + ${b - 1}) // $b"
    val sel = picks.map { case (nm, a, b) =>
      s"max(CASE WHEN rn = ${rank(a, b)} THEN mu END) AS $nm"
    }.mkString(",\n    ")
    val hitAny = picks.map { case (_, a, b) => s"rn = ${rank(a, b)}" }
      .mkString(" OR ")
    def sideCols(nm: String) =
      s"""max(CASE WHEN variant = 'A' THEN $nm END) AS ${nm}_a,
         |  max(CASE WHEN variant = 'B' THEN $nm END) AS ${nm}_b""".stripMargin
    val lifts = picks.map { case (nm, _, _) =>
      s"${nm}_b - ${nm}_a AS lift_$nm" }.mkString(",\n  ")
    val outCols = picks.map { case (nm, _, _) =>
      s"${nm}_a, ${nm}_b, lift_$nm" }.mkString(", ")
    s"""WITH pu AS (
       |  SELECT user_id AS u, ${duckDsum("value")} AS mu
       |  FROM events GROUP BY 1
       |),
       |v AS (
       |  SELECT mu,
       |    CASE WHEN ${duckHex32("sha")} % 2 = 0 THEN 'A' ELSE 'B' END
       |      AS variant
       |  FROM (SELECT mu,
       |    sha256('ab:$AbSeed:' || CAST(u AS VARCHAR)) AS sha FROM pu)
       |),
       |ranked AS (
       |  SELECT variant, mu,
       |    row_number() OVER (PARTITION BY variant ORDER BY mu) AS rn,
       |    count(*) OVER (PARTITION BY variant) AS n
       |  FROM v
       |),
       |sel AS (
       |  SELECT variant, max(n) AS nn,
       |    $sel
       |  FROM ranked WHERE $hitAny GROUP BY 1
       |),
       |piv AS (
       |  SELECT
       |    max(CASE WHEN variant = 'A' THEN nn END) AS n_a,
       |    max(CASE WHEN variant = 'B' THEN nn END) AS n_b,
       |    ${picks.map { case (nm, _, _) => sideCols(nm) }
               .mkString(",\n  ")}
       |  FROM sel
       |)
       |SELECT n_a, n_b, $outCols FROM (SELECT *, $lifts FROM piv)"""
      .stripMargin
  }

  /** EV28: post-hoc MDE read-out ([[EventsAnalytics.mdeReadout]]) —
    * the oracle wraps the full ev22 derivation as a subquery and
    * applies the SAME shared MDE algebra text. */
  def ev28Mde(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.mdeReadout(events(s, dir), AbSeed)

  val ev28Oracle: String = {
    import graft.operators.EventsAnalytics.{mdeAbsExpr, mdeSeExpr}
    s"""SELECT n_a, n_b, mean_a, mean_b, var_a, var_b, se_diff,
       |  mean_b - mean_a AS observed_diff, mde_abs,
       |  mde_abs / nullif(mean_a, 0.0) AS mde_rel,
       |  abs(mean_b - mean_a) >= mde_abs AS powered
       |FROM (
       |  SELECT *, $mdeAbsExpr AS mde_abs FROM (
       |    SELECT *, $mdeSeExpr AS se_diff FROM (
       |      $ev22Oracle
       |    )
       |  )
       |)""".stripMargin
  }

  /** EV29: per-segment Welch panel with Holm step-down
    * ([[EventsAnalytics.holmPanel]]) — the multiple-testing guardrail;
    * the oracle re-derives the per-segment Welch chain, the shared
    * A&S erf p-values, and the rank/running-max Holm arithmetic. */
  def ev29Holm(s: SparkSession, dir: String): DataFrame =
    EventsAnalytics.holmPanel(events(s, dir), AbSeed)

  val ev29Oracle: String = {
    import graft.util.Parity.{duckHex32, duckRoundTo}
    import graft.operators.EventsAnalytics.{welchTExpr, welchVarExpr}
    import graft.functions.GraftMath.duckErf
    s"""WITH pu AS (
       |  SELECT event_type AS segment, user_id AS u,
       |    ${duckDsum("value")} AS mu
       |  FROM events GROUP BY 1, 2
       |),
       |v AS (
       |  SELECT segment, mu,
       |    CASE WHEN ${duckHex32("sha")} % 2 = 0 THEN 'A' ELSE 'B' END
       |      AS variant
       |  FROM (SELECT segment, mu,
       |    sha256('ab:$AbSeed:' || CAST(u AS VARCHAR)) AS sha FROM pu)
       |),
       |aggd AS (
       |  SELECT segment,
       |    count(CASE WHEN variant = 'A' THEN 1 END) AS n_a,
       |    count(CASE WHEN variant = 'B' THEN 1 END) AS n_b,
       |    ${duckDsum("CASE WHEN variant = 'A' THEN mu END")} AS _sa,
       |    ${duckDsum("CASE WHEN variant = 'B' THEN mu END")} AS _sb,
       |    ${duckDsum("CASE WHEN variant = 'A' THEN mu*mu END")} AS _qa,
       |    ${duckDsum("CASE WHEN variant = 'B' THEN mu*mu END")} AS _qb
       |  FROM v GROUP BY 1
       |),
       |w AS (SELECT *, CAST(n_a AS DOUBLE) AS na,
       |  CAST(n_b AS DOUBLE) AS nb FROM aggd),
       |x AS (SELECT *, _sa / na AS ma, _sb / nb AS mb,
       |  ${welchVarExpr("_qa", "_sa", "na")} AS va,
       |  ${welchVarExpr("_qb", "_sb", "nb")} AS vb FROM w),
       |y AS (SELECT *, $welchTExpr AS t_stat FROM x),
       |z AS (SELECT *, abs(t_stat) / sqrt(2.0) AS zarg FROM y),
       |p AS (SELECT *,
       |  ${duckRoundTo(s"1.0 - ${duckErf("zarg")}", 9)} AS p_two
       |  FROM z),
       |r AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY p_two, segment)
       |    AS INT) AS rank_p, count(*) OVER () AS m
       |  FROM p
       |),
       |h AS (
       |  SELECT *, max(least(1.0,
       |      CAST(m - rank_p + 1 AS DOUBLE) * p_two))
       |    OVER (ORDER BY p_two, segment
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS holm_p
       |  FROM r
       |)
       |SELECT segment, n_a, n_b, t_stat, p_two, rank_p, holm_p,
       |  holm_p <= 0.05 AS reject
       |FROM h""".stripMargin
  }

  /** EV20: rolling actives by HLL sketch merge
    * ([[EventsAnalytics.sketchRollingActive]]) — the sketch-partial
    * scale path next to ev6's exact fan-out. Oracle: day/dau/wau are
    * fully SQL-re-derived (same statement as ev6); the HLL estimate
    * is implementation-specific by nature (Datasketches HLL_4,
    * lgConfigK 12), so it is pinned as a VALUES literal the way a18
    * pins its sketch scalars — but `est_ok` is RECOMPUTED in SQL from
    * the pinned estimate and the independently-derived exact WAU, so
    * the ±5% accuracy claim itself is oracle-verified, not echoed. */
  def ev20SketchWau(s: SparkSession, dir: String): DataFrame = {
    // bounded-collect(calendar days: one (day, estimate) row per
    // distinct day in the window — time-bounded, not corpus-bounded)
    val out = graft.util.Caches.local(
      EventsAnalytics.sketchRollingActive(events(s, dir)))
    val est = out.select(col("day"), col("wau_est"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    DynamicOracles.put("ev20_sketch_wau", ev20Oracle(est))
    out
  }

  private def ev20Oracle(est: Seq[(Long, Long)]): String = {
    val values = est.map { case (d, e) => s"($d, $e)" }.mkString(", ")
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id AS u,
       |    epoch_us(ts) // 86400000000 AS day
       |  FROM events
       |),
       |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
       |wau AS (
       |  SELECT d.day, count(DISTINCT u.u) AS wau
       |  FROM dau d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
       |  GROUP BY 1
       |),
       |est(day, wau_est) AS (VALUES $values)
       |SELECT d.day, d.dau, w.wau, e.wau_est,
       |  abs(e.wau_est - w.wau) <= 0.05 * w.wau AS est_ok
       |FROM dau d JOIN wau w ON w.day = d.day
       |JOIN est e ON e.day = d.day""".stripMargin
  }

  /** EV32: feature-store point-in-time training-set assembly — the
    * leakage-safe join every ML platform's offline store runs: each
    * label row (purchase) picks up, PER FEATURE TABLE, the latest
    * value at-or-before ITS OWN timestamp via the as-of machinery
    * (never a plain latest-value join, which leaks future data into
    * training). Two chained as-of joins on the user key; the oracle
    * is DuckDB's native chained ASOF LEFT JOIN. */
  def ev32PitFeatures(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.unix_timestamp
    val ev = events(s, dir)
    val labels = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("value").as("label"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("value"))
    val f1 = graft.operators.AsOfJoin.asOf(labels, views,
      key = "user_id", leftTime = "ts", rightTime = "ts",
      rightVal = "value", asofCol = "f_view")
    val f2 = graft.operators.AsOfJoin.asOf(f1, clicks,
      key = "user_id", leftTime = "ts", rightTime = "ts",
      rightVal = "value", asofCol = "f_click")
    f2.select(col("event_id"), col("user_id"),
      unix_timestamp(col("ts")).as("label_ep"), col("label"),
      col("f_view"), col("f_click"))
  }

  val ev32Oracle: String = {
    import graft.util.Parity.duckEpochS
    s"""WITH lb AS (
       |  SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts,
       |    ${duckEpochS("ts")} AS label_ep, value AS label
       |  FROM events WHERE event_type = 'purchase'),
       |vw AS (
       |  SELECT user_id, date_trunc('microseconds', ts) AS ts,
       |    max(value) AS v
       |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
       |ck AS (
       |  SELECT user_id, date_trunc('microseconds', ts) AS ts,
       |    max(value) AS v
       |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
       |SELECT lb.event_id, lb.user_id, lb.label_ep, lb.label,
       |  vw.v AS f_view, ck.v AS f_click
       |FROM lb
       |ASOF LEFT JOIN vw ON lb.user_id = vw.user_id AND vw.ts <= lb.ts
       |ASOF LEFT JOIN ck ON lb.user_id = ck.user_id AND ck.ts <= lb.ts"""
      .stripMargin
  }

  /** EV33: leakage-safe feature scaling — the standardizer is FIT on
    * the train split only (exact decimal moment sums -> the shared
    * spelled-out stddev) and APPLIED to both splits; fitting on the
    * full table is the classic train/serve leak this entry pins
    * against. One grouped aggregate + one broadcast of the two-row
    * stats frame; the one-hot columns are plain projections. */
  def ev33TrainScale(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, when}
    import graft.util.Parity
    val ev = events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"),
        when(col("user_id") % 10 < 8, "train").otherwise("val").as("split"))
    val stats = ev.filter(col("split") === "train")
      .agg(Parity.davg(col("value")).as("mu"),
        Parity.dstddevSamp(col("value")).as("sd"))
    ev.crossJoin(broadcast(stats))
      .select(col("event_id"), col("split"),
        ((col("value") - col("mu")) / col("sd")).as("z"),
        when(col("event_type") === "view", 1L).otherwise(0L).as("oh_view"),
        when(col("event_type") === "click", 1L).otherwise(0L)
          .as("oh_click"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("oh_purchase"))
  }

  val ev33Oracle: String = {
    import graft.util.Parity.{duckDavg, duckStddevSamp}
    s"""WITH sp AS (
       |  SELECT event_id, event_type, value,
       |    CASE WHEN user_id % 10 < 8 THEN 'train' ELSE 'val' END AS split
       |  FROM events),
       |st AS (
       |  SELECT ${duckDavg("value")} AS mu,
       |    ${duckStddevSamp("value")} AS sd
       |  FROM sp WHERE split = 'train')
       |SELECT event_id, split, (value - mu) / sd AS z,
       |  CAST(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS BIGINT)
       |    AS oh_view,
       |  CAST(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS BIGINT)
       |    AS oh_click,
       |  CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
       |    AS BIGINT) AS oh_purchase
       |FROM sp CROSS JOIN st""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(
    "ev32_pit_features" -> QueryDef(ev32PitFeatures _, ev32Oracle),
    "ev33_train_scale" -> QueryDef(ev33TrainScale _, ev33Oracle),
    "ev20_sketch_wau" -> QueryDef(ev20SketchWau _, None),
    "ev21_session_window" -> QueryDef(ev21SessionWindow _, ev21Oracle),
    "ev22_ab_test" -> QueryDef(ev22AbTest _, ev22Oracle),
    "ev24_did" -> QueryDef(ev24Did _, ev24Oracle),
    "ev25_cuped" -> QueryDef(ev25Cuped _, ev25Oracle),
    "ev26_srm" -> QueryDef(ev26Srm _, ev26Oracle),
    "ev27_quantile_lift" -> QueryDef(ev27QuantileLift _, ev27Oracle),
    "ev28_mde" -> QueryDef(ev28Mde _, ev28Oracle),
    "ev29_holm" -> QueryDef(ev29Holm _, ev29Oracle),
    "ev30_msprt" -> QueryDef(ev30Msprt _, ev30Oracle),
    "ev31_bootstrap_ci" -> QueryDef(ev31Bootstrap _, ev31Oracle),
    "ev19_cohort_ltv" -> QueryDef(ev19CohortLtv _, ev19Oracle),
    "ev18_markov_attribution" -> QueryDef(ev18Markov _, None),
    "ev17_survival" -> QueryDef(ev17Survival _, ev17Oracle),
    "ev16_time_to_convert" -> QueryDef(ev16TimeToConvert _, ev16Oracle),
    "ev15_value_quantiles" -> QueryDef(ev15ValueQuantiles _, ev15Oracle),
    "ev14_growth" -> QueryDef(ev14Growth _, ev14Oracle),
    "ev13_top_paths" -> QueryDef(ev13TopPaths _, ev13Oracle),
    "ev12_cusum_days" -> QueryDef(ev12Cusum _, ev12Oracle),
    "ev10_anomaly_days" -> QueryDef(ev10Anomalies _, ev10Oracle),
    "ev11_attribution" -> QueryDef(ev11Attribution _, ev11Oracle),
    "ev8_rfm" -> QueryDef(ev8Rfm _, ev8Oracle),
    "ev9_power_curve" -> QueryDef(ev9PowerCurve _, ev9Oracle),
    "ev6_rolling_active" -> QueryDef(ev6RollingActive _, ev6Oracle),
    "ev7_scd2_history" -> QueryDef(ev7Scd2 _, ev7Oracle),
    "ev5_transitions" -> QueryDef(ev5Transitions _, ev5Oracle),
    "ev1_sessionize" -> QueryDef(ev1Sessionize _, ev1Oracle),
    "ev2_funnel" -> QueryDef(ev2Funnel _, ev2Oracle),
    "ev2b_funnel_any" -> QueryDef(ev2bFunnelAny _, ev2bOracle),
    "ev3_retention" -> QueryDef(ev3Retention _, ev3Oracle),
    "ev4_props_stats" -> QueryDef(ev4PropsStats _, ev4Oracle),
    "ev4b_props_multikey" -> QueryDef(ev4bPropsMulti _, ev4bOracle))
}
