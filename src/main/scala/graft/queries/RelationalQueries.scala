package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.MarketBasket
import graft.util.{Parity, Tables}

/** Relational operators over the TPC-H-ish tables: scans, filters,
  * aggregations, joins, top-k (SURVEY §2.1 S8, §2.2 F1, §2.3, §2.6 O1).
  */
object RelationalQueries {

  private def li(s: SparkSession, dir: String) = Tables.load(s, dir, "lineitem")

  /** Flagship aggregation (TPC-H Q1 shape): exercises map-side partial
    * aggregation + exact decimal sums. */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    li(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Parity.dsum(col("l_quantity")).as("sum_qty"),
        Parity.dsum(col("l_extendedprice")).as("sum_base_price"),
        Parity.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        Parity.davg(col("l_quantity")).as("avg_qty"),
        Parity.davg(col("l_extendedprice")).as("avg_price"),
        Parity.davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))

  val q1AggOracle: String = {
    import Parity._
    s"""SELECT l_returnflag, l_linestatus,
       |  ${duckDsum("l_quantity")} AS sum_qty,
       |  ${duckDsum("l_extendedprice")} AS sum_base_price,
       |  ${duckDsum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       |  ${duckDavg("l_quantity")} AS avg_qty,
       |  ${duckDavg("l_extendedprice")} AS avg_price,
       |  ${duckDavg("l_discount")} AS avg_disc,
       |  count(*) AS count_order
       |FROM lineitem
       |GROUP BY l_returnflag, l_linestatus""".stripMargin
  }

  /** F1: parametrized conjunctive filter + projection (the reference's
    * fetch WHERE clause, api.py:136-163) — predicates and the 4-column
    * projection both push to the parquet scan. */
  def f1Filter(s: SparkSession, dir: String): DataFrame =
    li(s, dir)
      .filter(
        col("l_shipdate") >= lit("1996-01-05").cast("timestamp") &&
        col("l_shipdate") < lit("1996-03-20").cast("timestamp") &&
        col("l_returnflag") === "R" &&
        col("l_quantity") > 25.0)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"),
        unix_timestamp(col("l_shipdate")).as("ship_epoch"))

  val f1FilterOracle: String =
    s"""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
       |  ${Parity.duckEpochS("l_shipdate")} AS ship_epoch
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-05 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1996-03-20 00:00:00'
       |  AND l_returnflag = 'R' AND l_quantity > 25.0""".stripMargin

  /** O1: ORDER BY ... DESC LIMIT n — Catalyst plans TakeOrderedAndProject
    * (per-partition top-k + merge, no global sort). Unique tiebreakers
    * make the row set deterministic across engines. */
  def o1TopK(s: SparkSession, dir: String): DataFrame =
    li(s, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        unix_timestamp(col("l_shipdate")).as("ship_epoch"))
      .orderBy(desc("ship_epoch"), asc("l_orderkey"), asc("l_linenumber"))
      .limit(100)

  val o1TopKOracle: String =
    s"""SELECT l_orderkey, l_linenumber, l_extendedprice,
       |  ${Parity.duckEpochS("l_shipdate")} AS ship_epoch
       |FROM lineitem
       |ORDER BY ship_epoch DESC, l_orderkey, l_linenumber
       |LIMIT 100""".stripMargin

  /** J2-shape broadcast join: fact x small dimension, aggregated.
    * `broadcast()` pins the hash join — at 100 TB the part side of a
    * real TPC-H is still MBs per brand-level dim, so no shuffle of the
    * fact table. */
  def j2BroadcastJoin(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.load(s, dir, "part")
    li(s, dir)
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        Parity.dsum(col("l_extendedprice")).as("revenue"),
        Parity.dsum(col("l_quantity")).as("qty"),
        count(lit(1)).as("n"))
  }

  val j2BroadcastJoinOracle: String = {
    import Parity._
    s"""SELECT p_brand,
       |  ${duckDsum("l_extendedprice")} AS revenue,
       |  ${duckDsum("l_quantity")} AS qty,
       |  count(*) AS n
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand""".stripMargin
  }

  /** Multi-way join through the star schema (region->nation->customer->
    * orders->lineitem), dims broadcast, fact streamed once. */
  def q5MultiJoin(s: SparkSession, dir: String): DataFrame = {
    val region = Tables.load(s, dir, "region")
    val nation = Tables.load(s, dir, "nation")
    val cust = Tables.load(s, dir, "customer")
    val orders = Tables.load(s, dir, "orders")
    li(s, dir)
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      // customer grows with the fact tables (NOT a bounded dim): no
      // broadcast hint — AQE picks shuffle vs broadcast by actual size.
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        Parity.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"))
  }

  val q5MultiJoinOracle: String = {
    import Parity._
    s"""SELECT r_name, n_name,
       |  ${duckDsum("l_extendedprice * (1 - l_discount)")} AS revenue,
       |  count(DISTINCT o_orderkey) AS n_orders
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name, n_name""".stripMargin
  }

  /** ROLLUP hierarchy totals (SQL grouping-sets surface): per-(flag,
    * status) → per-flag subtotal → grand total in ONE pass — Spark's
    * Expand operator replicates each input row once per grouping set
    * ahead of a single hash aggregate, so the hierarchy costs one
    * shuffle, not three scans. `gid` composes GROUPING bits
    * (first column = MSB, Spark's grouping_id numbering) and group
    * keys surface as explicit strings ('ALL' for rolled-up levels)
    * so neither engine's NULL-vs-rolled-up ambiguity reaches the
    * comparator. */
  def q6Rollup(s: SparkSession, dir: String): DataFrame =
    li(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Parity.dsum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        grouping_id().cast("int").as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n_rows"), col("gid"))

  val q6RollupOracle: String = {
    import Parity._
    s"""SELECT
       |  coalesce(l_returnflag, 'ALL') AS returnflag,
       |  coalesce(l_linestatus, 'ALL') AS linestatus,
       |  ${duckDsum("l_quantity")} AS sum_qty,
       |  count(*) AS n_rows,
       |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT)
       |    AS gid
       |FROM lineitem
       |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin
  }

  /** CUBE over the same pair (q6's lattice completion): all four
    * grouping sets in ONE Expand + hash-aggregate pass — the
    * cross-dimension totals ROLLUP's hierarchy omits (here the
    * per-linestatus-across-flags marginals, gid=2). Same
    * 'ALL'-for-subtotal and composed-GROUPING-bit contract as q6. */
  def q7Cube(s: SparkSession, dir: String): DataFrame =
    li(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Parity.dsum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        grouping_id().cast("int").as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n_rows"), col("gid"))

  val q7CubeOracle: String = {
    import Parity._
    s"""SELECT
       |  coalesce(l_returnflag, 'ALL') AS returnflag,
       |  coalesce(l_linestatus, 'ALL') AS linestatus,
       |  ${duckDsum("l_quantity")} AS sum_qty,
       |  count(*) AS n_rows,
       |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT)
       |    AS gid
       |FROM lineitem
       |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin
  }

  /** Q8: GROUPING SETS that neither ROLLUP nor CUBE can express — the
    * two single-dimension marginals plus the grand total, WITHOUT the
    * pair-level rows, in ONE Expand + hash-aggregate pass. Same
    * 'ALL'/composed-GROUPING-bit contract as q6/q7. */
  def q8GroupingSets(s: SparkSession, dir: String): DataFrame =
    li(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        Parity.dsum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        grouping_id().cast("int").as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n_rows"), col("gid"))

  val q8GroupingSetsOracle: String = {
    import Parity._
    s"""SELECT
       |  coalesce(l_returnflag, 'ALL') AS returnflag,
       |  coalesce(l_linestatus, 'ALL') AS linestatus,
       |  ${duckDsum("l_quantity")} AS sum_qty,
       |  count(*) AS n_rows,
       |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT)
       |    AS gid
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""
      .stripMargin
  }

  /** Q9: semi/anti-join audit — per market segment, how many
    * customers have at least one order (LEFT SEMI) and how many have
    * none (LEFT ANTI). Both probe sides shuffle on the join key; the
    * per-segment rollup runs on the customers-sized results. */
  def q9SemiAnti(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val o = Tables.load(s, dir, "orders")
    val base = c.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
    val withOrders = c
      .join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_with_orders"))
    base.join(withOrders, Seq("c_mktsegment"), "left")
      .select(
        col("c_mktsegment").as("mktsegment"),
        col("n_customers"),
        coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
        (col("n_customers") - coalesce(col("n_with_orders"), lit(0L)))
          .as("n_without_orders"))
  }

  val q9SemiAntiOracle: String =
    """SELECT c_mktsegment AS mktsegment,
      |  count(*) AS n_customers,
      |  count(CASE WHEN c_custkey IN (SELECT o_custkey FROM orders)
      |        THEN 1 END) AS n_with_orders,
      |  count(*) - count(CASE WHEN c_custkey IN
      |        (SELECT o_custkey FROM orders) THEN 1 END)
      |    AS n_without_orders
      |FROM customer
      |GROUP BY 1""".stripMargin

  private val UnpivotMeasures =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Q10: UNPIVOT/melt — the wide→long inverse of a4's pivot, via the
    * native `Dataset.unpivot` (planned as ONE Expand pass over a
    * single scan: the 4× row fan-out happens in the operator, never
    * as a 4-branch UNION re-reading the table, which is exactly what
    * the oracle has to spell because ANSI SQL lacks the operator). */
  def q10Unpivot(s: SparkSession, dir: String): DataFrame =
    li(s, dir)
      .select(col("l_returnflag") +:
        UnpivotMeasures.map(m => col(m).cast("double").as(m)): _*)
      .unpivot(Array(col("l_returnflag")),
        UnpivotMeasures.map(col).toArray, "measure", "value")
      .groupBy(col("l_returnflag"), col("measure"))
      .agg(count(lit(1)).as("n"), Parity.dsum(col("value")).as("value_sum"))

  val q10UnpivotOracle: String = {
    val branches = UnpivotMeasures.map { m =>
      s"""SELECT l_returnflag, '$m' AS measure,
         |    CAST($m AS DOUBLE) AS value FROM lineitem"""
        .stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH u AS (
       |  $branches
       |)
       |SELECT l_returnflag, measure, count(*) AS n,
       |  ${Parity.duckDsum("value")} AS value_sum
       |FROM u GROUP BY 1, 2""".stripMargin
  }

  /** Q11: set operators — INTERSECT / EXCEPT / UNION over the
    * customer populations active in two adjacent order years.
    * `Dataset.intersect`/`except` plan as aggregate-dedup +
    * left-semi/anti equi-joins (shuffle-keyed, no sort), which is the
    * shape the SQL operators compile to in any engine; the entry
    * pins the Spark surface against the ANSI set semantics DuckDB
    * states directly. */
  def q11SetOps(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    // materialized: each population feeds four set-op branches — the
    // plain plan re-scans orders 8x (caught by the scan audit)
    def custsIn(y: Int): DataFrame = graft.util.Caches.materialize(o
      .filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey")))
    val a = custsIn(1995)
    val b = custsIn(1996)
    a.intersect(b).agg(count(lit(1)).as("n_both"))
      .crossJoin(broadcast(
        a.except(b).agg(count(lit(1)).as("n_only_1995"))))
      .crossJoin(broadcast(
        b.except(a).agg(count(lit(1)).as("n_only_1996"))))
      .crossJoin(broadcast(
        a.union(b).distinct().agg(count(lit(1)).as("n_either"))))
  }

  val q11SetOpsOracle: String =
    """WITH a AS (SELECT o_custkey FROM orders
      |           WHERE extract(year FROM o_orderdate) = 1995),
      |b AS (SELECT o_custkey FROM orders
      |      WHERE extract(year FROM o_orderdate) = 1996)
      |SELECT
      |  (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
      |    AS n_both,
      |  (SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b))
      |    AS n_only_1995,
      |  (SELECT count(*) FROM (SELECT * FROM b EXCEPT SELECT * FROM a))
      |    AS n_only_1996,
      |  (SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b))
      |    AS n_either""".stripMargin

  /** Correlated scalar subquery, decorrelated (TPC-H Q17 shape): per
    * brand, revenue from lines whose quantity falls below a fifth of
    * that PART's average quantity. The oracle keeps the textbook
    * correlated spelling; the Spark plan is the decorrelation Catalyst
    * would have to find anyway, written explicitly — ONE grouped
    * aggregate over the fact builds the per-part cut, then an
    * equi-join feeds the outer filter. At 100 TB this is the only
    * shape that scales: the correlated form re-scans lineitem per
    * outer row; the decorrelated form scans it exactly twice, and the
    * per-part cut table is fact-key-grained so it shuffles, never
    * broadcasts (part count grows with SF). */
  def q12CorrSubquery(s: SparkSession, dir: String): DataFrame = {
    val l = li(s, dir)
    val part = Tables.load(s, dir, "part")
    val cuts = l.groupBy(col("l_partkey").as("c_partkey"))
      .agg((Parity.davg(col("l_quantity")) / lit(5.0)).as("qty_cut"))
    l.join(cuts, col("l_partkey") === col("c_partkey"))
      .where(col("l_quantity") < col("qty_cut"))
      .join(part, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        Parity.dsum(col("l_extendedprice")).as("sum_below"),
        count(lit(1)).as("n_below"))
  }

  val q12CorrSubqueryOracle: String = {
    import Parity._
    s"""SELECT p_brand,
       |  ${duckDsum("l_extendedprice")} AS sum_below,
       |  count(*) AS n_below
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE l_quantity < (
       |  SELECT ${duckDavg("l2.l_quantity")} / 5.0
       |  FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
       |GROUP BY p_brand""".stripMargin
  }

  /** EXISTS + NOT EXISTS chain (TPC-H Q21 shape): suppliers whose
    * line shipped late (>45 days after the order date) on multi-
    * supplier orders where NO OTHER supplier was late. The oracle
    * keeps the two correlated (NOT) EXISTS; the Spark plan replaces
    * both with per-order grouped counts — `n_supp >= 2` IS the
    * EXISTS(other supplier), `n_late == 1` IS the NOT EXISTS(other
    * late supplier) given this line is late — so the whole chain
    * costs two aggregates and two equi-joins on o_orderkey instead
    * of two fact×fact correlated semi-joins. All four frames shuffle
    * on the same key, so AQE coalesces them into one exchange reuse. */
  def q13ExistsChain(s: SparkSession, dir: String): DataFrame = {
    val l = li(s, dir)
    val orders = Tables.load(s, dir, "orders")
    val supp = Tables.load(s, dir, "supplier")
    val late = l
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .where(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 45 DAYS"))
      .select(col("l_orderkey"), col("l_suppkey"))
    val nSupp = l.groupBy(col("l_orderkey").as("ns_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"))
    val nLate = late.groupBy(col("l_orderkey").as("nl_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("n_late"))
    late
      .join(nSupp, col("l_orderkey") === col("ns_orderkey"))
      .where(col("n_supp") >= 2)
      .join(nLate, col("l_orderkey") === col("nl_orderkey"))
      .where(col("n_late") === 1)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
  }

  val q13ExistsChainOracle: String =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier, lineitem l1, orders
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 45 DAY
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_shipdate > o_orderdate + INTERVAL 45 DAY)
      |GROUP BY s_name""".stripMargin

  /** Frequent item pairs + association rules (support / confidence /
    * lift) over order baskets — see [[graft.operators.MarketBasket]]
    * for the scale analysis (basket-width cap, data-derived min
    * support, co-partitioned self-join). */
  def q14FreqItemsets(s: SparkSession, dir: String): DataFrame =
    MarketBasket.rules(li(s, dir))

  val q14FreqItemsetsOracle: String =
    """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
      |           FROM lineitem),
      |w AS (SELECT basket FROM b GROUP BY basket HAVING count(*) <= 1000),
      |k AS (SELECT b.basket, b.item FROM b JOIN w USING (basket)),
      |nb AS (SELECT count(DISTINCT basket) AS n_baskets FROM b),
      |s AS (SELECT item, count(*) AS item_supp FROM b GROUP BY item),
      |p AS (SELECT a.item AS item_a, c.item AS item_b, count(*) AS pair_supp
      |      FROM k a JOIN k c ON a.basket = c.basket AND a.item < c.item
      |      GROUP BY 1, 2)
      |SELECT item_a, item_b, pair_supp,
      |  sa.item_supp AS supp_a, sb.item_supp AS supp_b,
      |  CAST(pair_supp AS DOUBLE) / CAST(sa.item_supp AS DOUBLE) AS conf_ab,
      |  CAST(pair_supp AS DOUBLE) / CAST(sb.item_supp AS DOUBLE) AS conf_ba,
      |  (CAST(pair_supp AS DOUBLE) * CAST(n_baskets AS DOUBLE)) /
      |    (CAST(sa.item_supp AS DOUBLE) * CAST(sb.item_supp AS DOUBLE))
      |    AS lift
      |FROM p CROSS JOIN nb
      |JOIN s sa ON p.item_a = sa.item
      |JOIN s sb ON p.item_b = sb.item
      |WHERE pair_supp >=
      |  greatest(3, CAST(ceil(n_baskets / 5000.0) AS BIGINT))""".stripMargin

  /** Item-item co-occurrence cosine top-k (item-based recommender
    * neighborhood, Sarwar et al. 2001) — global top 200 via
    * TakeOrderedAndProject. */
  def q15ItemSimilarity(s: SparkSession, dir: String): DataFrame =
    MarketBasket.similarity(li(s, dir), k = 200)

  val q15ItemSimilarityOracle: String =
    """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
      |           FROM lineitem),
      |w AS (SELECT basket FROM b GROUP BY basket HAVING count(*) <= 1000),
      |k AS (SELECT b.basket, b.item FROM b JOIN w USING (basket)),
      |s AS (SELECT item, count(*) AS item_supp FROM b GROUP BY item),
      |p AS (SELECT a.item AS item_a, c.item AS item_b, count(*) AS pair_supp
      |      FROM k a JOIN k c ON a.basket = c.basket AND a.item < c.item
      |      GROUP BY 1, 2)
      |SELECT item_a, item_b, pair_supp,
      |  CAST(pair_supp AS DOUBLE) /
      |    sqrt(CAST(sa.item_supp * sb.item_supp AS DOUBLE)) AS cosine
      |FROM p
      |JOIN s sa ON p.item_a = sa.item
      |JOIN s sb ON p.item_b = sb.item
      |ORDER BY cosine DESC, item_a, item_b
      |LIMIT 200""".stripMargin

  /** Max-over-aggregate with ties (TPC-H Q15 shape): suppliers whose
    * quarterly revenue equals the maximum. The oracle keeps the
    * scalar-subquery spelling; the Spark plan computes the revenue
    * view ONCE (snapshot barrier — both the max and the filter branch
    * read it) and joins the one-row max back — revenue is an exact
    * decimal-gated sum, so the cross-engine equality compare is safe
    * where a float sum would tie-break differently per run. */
  def q16ViewMax(s: SparkSession, dir: String): DataFrame = {
    // snapshot: the max and the filter branch both read the view
    val rev = graft.util.Caches.snapshot(
      li(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(Parity.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("total_revenue")))
    val top = rev.agg(max(col("total_revenue")).as("max_revenue"))
    rev.join(broadcast(top),
        col("total_revenue") === col("max_revenue"))
      .join(broadcast(Tables.load(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  val q16ViewMaxOracle: String = {
    import Parity._
    s"""WITH r AS (
       |  SELECT l_suppkey,
       |    ${duckDsum("l_extendedprice * (1 - l_discount)")}
       |      AS total_revenue
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM r JOIN supplier ON l_suppkey = s_suppkey
       |WHERE total_revenue = (SELECT max(total_revenue) FROM r)"""
      .stripMargin
  }

  /** Global-average scalar subquery + anti join (TPC-H Q22 shape):
    * positive-balance customers above the average positive balance
    * who have never ordered, grouped by a derived segment key. The
    * oracle keeps the scalar subquery + NOT EXISTS; the Spark plan
    * broadcasts the one-row average (exact decimal, so the threshold
    * compare is engine-identical) and anti-joins orders on the
    * customer key — at scale the anti join shuffles both sides once
    * on c_custkey, and the average costs one map-side-combined pass. */
  def q17AntiAvg(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"), col("c_nationkey"))
    val pos = cust.filter(col("c_acctbal") > 0.0)
    val avgBal = pos.agg(Parity.davg(col("c_acctbal")).as("avg_bal"))
    // "never ordered" is vacuous on this corpus (10 orders/customer);
    // the Q22 anti-join pattern runs against a year window instead
    val orders = Tables.load(s, dir, "orders")
      .filter(year(col("o_orderdate")) === 1995)
      .select(col("o_custkey"))
    pos.crossJoin(broadcast(avgBal))
      .where(col("c_acctbal") > col("avg_bal"))
      .join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy((col("c_nationkey") % 5).as("cntry_grp"))
      .agg(count(lit(1)).as("numcust"),
        Parity.dsum(col("c_acctbal")).as("totacctbal"))
  }

  val q17AntiAvgOracle: String = {
    import Parity._
    s"""SELECT c_nationkey % 5 AS cntry_grp,
       |  count(*) AS numcust,
       |  ${duckDsum("c_acctbal")} AS totacctbal
       |FROM customer
       |WHERE c_acctbal > 0.0
       |  AND c_acctbal > (
       |    SELECT ${duckDavg("c_acctbal")} FROM customer
       |    WHERE c_acctbal > 0.0)
       |  AND NOT EXISTS (
       |    SELECT 1 FROM orders WHERE o_custkey = c_custkey
       |      AND extract(year FROM o_orderdate) = 1995)
       |GROUP BY 1""".stripMargin
  }

  /** Correlated MIN over a dimension (TPC-H Q2 shape): the cheapest
    * regional supplier per part. The testdata has no partsupp table,
    * so the part-supplier offer list derives from lineitem (min unit
    * price per (part, supplier) — min is order-free, so the double
    * compare is engine-exact, unlike a float SUM). The oracle keeps
    * the textbook correlated scalar-min subquery (re-correlating
    * region+supplier INSIDE the subquery, Q2's signature); the Spark
    * plan decorrelates to one per-part min aggregate joined back on
    * (partkey, unit_cost = min_cost). The regional offer list feeds
    * BOTH the min and the join-back — snapshot-barriered so the
    * lineitem aggregate runs once. Dims broadcast; both big frames
    * shuffle once on l_partkey. */
  def q18MinCost(s: SparkSession, dir: String): DataFrame = {
    val region = Tables.load(s, dir, "region").filter(col("r_name") === "ASIA")
    val nation = Tables.load(s, dir, "nation")
    val supp = Tables.load(s, dir, "supplier")
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"))
    // snapshot: the per-part min and the join-back both read it
    val offers = graft.util.Caches.snapshot(
      li(s, dir)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey")))
    val minCost = offers.groupBy(col("l_partkey").as("mc_partkey"))
      .agg(min(col("unit_cost")).as("min_cost"))
    offers
      .join(minCost, col("l_partkey") === col("mc_partkey") &&
        col("unit_cost") === col("min_cost"))
      .join(broadcast(Tables.load(s, dir, "part")
          .filter(col("p_size") < 25)),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_brand"), col("s_name"),
        col("unit_cost"))
      .orderBy(asc("unit_cost"), asc("p_partkey"), asc("s_name"))
      .limit(100)
  }

  val q18MinCostOracle: String =
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey,
      |    min(l_extendedprice / l_quantity) AS unit_cost
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT p_partkey, p_brand, s_name, ps.unit_cost
      |FROM part, supplier, ps, nation, region
      |WHERE p_partkey = ps.l_partkey AND s_suppkey = ps.l_suppkey
      |  AND p_size < 25
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND ps.unit_cost = (
      |    SELECT min(ps2.unit_cost)
      |    FROM ps ps2, supplier s2, nation n2, region r2
      |    WHERE ps2.l_partkey = p_partkey AND s2.s_suppkey = ps2.l_suppkey
      |      AND s2.s_nationkey = n2.n_nationkey
      |      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'ASIA')
      |ORDER BY unit_cost, p_partkey, s_name
      |LIMIT 100""".stripMargin

  /** Group share vs a global scalar (TPC-H Q11 shape): parts whose
    * discounted revenue exceeds 0.1% of the corpus total. The oracle
    * keeps the scalar HAVING subquery; the Spark plan broadcasts the
    * one-row global total and filters — the fact table is read twice
    * but shuffles only once per branch (per-part agg + groupless agg,
    * both map-side combined). Both sums are decimal-gated, so the
    * rendered doubles are identical and the > compare can only flip
    * on a group landing within 1 ulp of the threshold — impossible
    * for cent-grained money against an irrational-ish fraction. */
  def q19GroupShare(s: SparkSession, dir: String): DataFrame = {
    val px = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val perPart = li(s, dir).groupBy(col("l_partkey"))
      .agg(Parity.dsum(px).as("value"))
    val cut = li(s, dir)
      .agg((Parity.dsum(px) * lit(0.001)).as("cut"))
    perPart.crossJoin(broadcast(cut))
      .where(col("value") > col("cut"))
      .select(col("l_partkey"), col("value"))
  }

  val q19GroupShareOracle: String = {
    import Parity._
    s"""SELECT l_partkey, ${duckDsum("l_extendedprice * (1 - l_discount)")}
       |    AS value
       |FROM lineitem
       |GROUP BY l_partkey
       |HAVING ${duckDsum("l_extendedprice * (1 - l_discount)")} > (
       |  SELECT ${duckDsum("l_extendedprice * (1 - l_discount)")} * 0.001
       |  FROM lineitem)""".stripMargin
  }

  /** IN over a HAVING subquery (TPC-H Q18 shape, "large volume
    * customers"): orders whose total quantity exceeds 200, with their
    * customer. The oracle keeps the textbook `o_orderkey IN (SELECT
    * ... GROUP BY ... HAVING sum > 200)`; the Spark plan computes the
    * per-order quantity aggregate ONCE and inner-joins it (the join
    * IS the IN, and it also carries sum_qty into the output — the
    * semi-join a naive rewrite would plan throws that column away and
    * forces a second aggregate). The HAVING sum is decimal-gated:
    * a float sum's partial-aggregation order varies per run, and a
    * group within 1 ulp of 200 would flip membership between
    * engines. customer joins on the shuffled key; orders arrive
    * pre-filtered by the membership join so the customer join's
    * probe side is tiny. */
  def q20HavingIn(s: SparkSession, dir: String): DataFrame = {
    val bigOrders = li(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(Parity.dsum(col("l_quantity")).as("sum_qty"))
      .where(col("sum_qty") > 200.0)
    Tables.load(s, dir, "orders")
      .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.load(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(100)
  }

  val q20HavingInOracle: String = {
    import Parity._
    s"""SELECT c_name, c_custkey, o_orderkey, o_totalprice,
       |  (SELECT ${duckDsum("l_quantity")} FROM lineitem
       |   WHERE l_orderkey = o_orderkey) AS sum_qty
       |FROM customer, orders
       |WHERE o_orderkey IN (
       |    SELECT l_orderkey FROM lineitem
       |    GROUP BY l_orderkey
       |    HAVING ${duckDsum("l_quantity")} > 200.0)
       |  AND c_custkey = o_custkey
       |ORDER BY o_totalprice DESC, o_orderkey
       |LIMIT 100""".stripMargin
  }

  /** Nested IN + correlated aggregate (TPC-H Q20 shape): suppliers
    * who shipped more than 50 units of some widget part, with how
    * many such parts qualified. The oracle keeps the textbook nested
    * chain — `s_suppkey IN (SELECT ... WHERE l_partkey IN (SELECT
    * p_partkey ...) GROUP BY supp, part HAVING sum > 50)`; the Spark
    * plan decorrelates inside-out: the part filter broadcasts into
    * the lineitem scan (a semi-join the optimizer folds into the
    * probe), ONE (suppkey, partkey) hash aggregate applies the
    * HAVING, and the supplier join is a broadcast. The HAVING sum is
    * decimal-gated against the knife-edge. Output is per-supplier
    * qualifying-part counts (richer than the bare IN, same
    * membership). */
  def q21NestedExists(s: SparkSession, dir: String): DataFrame = {
    val widgetParts = Tables.load(s, dir, "part")
      .filter(col("p_name").like("%widget%"))
      .select(col("p_partkey"))
    val qual = li(s, dir)
      .join(broadcast(widgetParts), col("l_partkey") === col("p_partkey"),
        "left_semi")
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(Parity.dsum(col("l_quantity")).as("qty"))
      .where(col("qty") > 50.0)
    qual
      .join(broadcast(Tables.load(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("n_qual_parts"),
        Parity.dsum(col("qty")).as("total_qty"))
  }

  val q21NestedExistsOracle: String = {
    import Parity._
    s"""WITH q AS (
       |  SELECT l_suppkey, l_partkey, ${duckDsum("l_quantity")} AS qty
       |  FROM lineitem
       |  WHERE l_partkey IN (
       |    SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
       |  GROUP BY l_suppkey, l_partkey
       |  HAVING ${duckDsum("l_quantity")} > 50.0)
       |SELECT s_suppkey, s_name, count(*) AS n_qual_parts,
       |  ${duckDsum("qty")} AS total_qty
       |FROM supplier JOIN q ON s_suppkey = l_suppkey
       |GROUP BY 1, 2""".stripMargin
  }

  /** Outer-join count distribution (TPC-H Q13 shape, "customer
    * distribution"): how many customers placed 0, 1, 2, ... qualifying
    * orders — the double-aggregation shape where the FIRST aggregate's
    * key is the join key and the SECOND groups on the first's VALUE.
    * Q13's signature detail: the order filter lives in the JOIN
    * condition, so customers whose every order is filtered out still
    * appear with count 0 (a WHERE would drop them) — the Spark side
    * pre-filters the right side of the left join, which is the same
    * semantics. `count(o_orderkey)` counts non-null matches only.
    * Scale shape: one shuffle on the join key, one tiny shuffle on the
    * count value (cardinality = max orders per customer). */
  def q22CustDist(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer").select(col("c_custkey"))
    val ord = Tables.load(s, dir, "orders")
      .filter(!col("o_orderpriority").like("%URGENT%"))
      .select(col("o_custkey"), col("o_orderkey"))
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  val q22CustDistOracle: String =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey
      |    AND o_orderpriority NOT LIKE '%URGENT%'
      |  GROUP BY c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "q22_custdist" -> QueryDef(q22CustDist _, q22CustDistOracle),
    "q18_min_cost" -> QueryDef(q18MinCost _, q18MinCostOracle),
    "q19_group_share" -> QueryDef(q19GroupShare _, q19GroupShareOracle),
    "q20_having_in" -> QueryDef(q20HavingIn _, q20HavingInOracle),
    "q21_nested_exists" -> QueryDef(q21NestedExists _, q21NestedExistsOracle),
    "q17_anti_avg" -> QueryDef(q17AntiAvg _, q17AntiAvgOracle),
    "q16_view_max" -> QueryDef(q16ViewMax _, q16ViewMaxOracle),
    "q14_freq_itemsets" -> QueryDef(q14FreqItemsets _, q14FreqItemsetsOracle),
    "q15_item_similarity" ->
      QueryDef(q15ItemSimilarity _, q15ItemSimilarityOracle),
    "q12_corr_subquery" -> QueryDef(q12CorrSubquery _, q12CorrSubqueryOracle),
    "q13_exists_chain" -> QueryDef(q13ExistsChain _, q13ExistsChainOracle),
    "q11_set_ops" -> QueryDef(q11SetOps _, q11SetOpsOracle),
    "q10_unpivot" -> QueryDef(q10Unpivot _, q10UnpivotOracle),
    "q8_grouping_sets" -> QueryDef(q8GroupingSets _, q8GroupingSetsOracle),
    "q9_semi_anti" -> QueryDef(q9SemiAnti _, q9SemiAntiOracle),
    "q1_agg" -> QueryDef(q1Agg _, q1AggOracle),
    "q6_rollup" -> QueryDef(q6Rollup _, q6RollupOracle),
    "q7_cube" -> QueryDef(q7Cube _, q7CubeOracle),
    "f1_filter_project" -> QueryDef(f1Filter _, f1FilterOracle),
    "o1_topk" -> QueryDef(o1TopK _, o1TopKOracle),
    "j2_broadcast_join" -> QueryDef(j2BroadcastJoin _, j2BroadcastJoinOracle),
    "q5_multi_join" -> QueryDef(q5MultiJoin _, q5MultiJoinOracle))
}
