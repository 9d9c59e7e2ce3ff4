package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.{FileSourceScanExec, TakeOrderedAndProjectExec}

/** Physical-plan audits over EVERY registered query at sf0.001 — the
  * enforced version of ".explain until it's the plan you'd want":
  *
  *  - no CartesianProduct anywhere (all-pairs never survives 100 TB)
  *  - BroadcastNestedLoopJoin only where it IS the design (the
  *    brute-force ANN scores a broadcast query set with a non-equi
  *    self-exclusion — the small side is bounded by construction)
  *  - predicate pushdown reaches the parquet scan where filters exist
  *  - top-k queries use TakeOrderedAndProject (per-partition top-k +
  *    merge), never a global sort
  *  - dimension joins are broadcast hash joins
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Collect the whole executed-plan tree incl. AQE-hidden subtrees. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val aqe = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case _ => Nil
    }
    Seq(p) ++ (p.children ++ p.subqueries).flatMap(nodes) ++ aqe
  }

  /** Memoized: several registry-wide audits below iterate EVERY
    * query, and building a query is not free — many builders run
    * eager work (materialize counts, model training, store builds)
    * at construction time. One build per query for the whole suite
    * keeps the suite inside the driver's test budget; the audits are
    * plan-shape assertions, so sharing one built plan across tests
    * checks exactly what three rebuilds checked. This holds only while
    * no test in this spec mutates session conf: a conf-dependent audit
    * would silently assert against the plan built under the first
    * test's conf (key the cache on that conf if one ever needs to). */
  private val planCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[SparkPlan]]

  private def planOf(name: String): Seq[SparkPlan] =
    planCache.getOrElseUpdate(name, {
      val df = SparkEntry.queries(name)(spark, dir)
      nodes(df.queryExecution.executedPlan)
    })

  /** [[nodes]] THROUGH materialization barriers: Caches.materialize
    * hides upstream stages behind InMemoryTableScan, and an operator
    * buried under a cache still runs. */
  private def deepNodes(p: SparkPlan): Seq[SparkPlan] = {
    val more = p match {
      case a: AdaptiveSparkPlanExec => deepNodes(a.executedPlan)
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        deepNodes(m.relation.cachedPlan)
      case _ => Nil
    }
    Seq(p) ++ (p.children ++ p.subqueries).flatMap(deepNodes) ++ more
  }

  /** Queries whose plan is driver-side work over a tiny materialized
    * result (system roundtrips) — no distributed plan to audit. */
  private val driverSide = Set(
    "s7_backfill_roundtrip", "s9_schema_system", "st1_streaming_ingest",
    "st2_streaming_bars", "st3_stream_join", "st4_streaming_pcr",
    "st5_gap_events", "st7_stream_docs",
    // harness entries whose returned DataFrame is a post-hoc read of
    // what the harness wrote (memory table / temp parquet) — planOf
    // would EXECUTE the whole stream/write just to audit a trivial
    // scan
    "st11_stream_merge", "s12_csv_corrupt", "s13_compaction",
    "s14_jdbc_roundtrip", "st13_stream_outer_join", "s15_schema_evolution",
    "st14_stream_cdc")

  test("no registered query plans a cartesian product") {
    for (name <- SparkEntry.queries.keys if !driverSide(name)) {
      val bad = planOf(name).collect { case c: CartesianProductExec => c }
      assert(bad.isEmpty, s"$name plans a CartesianProduct")
    }
  }

  test("registry-wide scan audit: no query scans one table more than 4x") {
    // The permanent form of the round-7 scan audit (it caught
    // double-computed subtrees in pack-bins and lang-balance).
    // Legitimate multi-scans are joins of two projections of the same
    // table (trades x spot bars from the synthetic source, ANN corpus
    // x query subset, DPP dim + its filter subquery, the two
    // verify-fetch sides of a candidate pair join) — all <= 4 today.
    // A regression past that means a materialization barrier was lost
    // and a subtree is being recomputed per branch.
    for ((name, _) <- SparkEntry.queries if !driverSide(name)) {
      val perTable = planOf(name)
        .collect { case s: FileSourceScanExec =>
          s.relation.location.rootPaths.headOption
            .map(_.getName).getOrElse("?")
        }
        .groupBy(identity).view.mapValues(_.size)
      perTable.foreach { case (table, n) =>
        assert(n <= 4, s"$name scans $table $n times")
      }
    }
  }

  test("broadcast nested-loop joins appear only by design, bounded build side") {
    // bounded-broadcast by design, and the bound is ASSERTED on the
    // build side's plan shape (not just the query name), so a future
    // genuinely-unbounded BNLJ in one of these queries still fails:
    //  - `oneRowBuild`: corpus-stats crossJoins — the broadcast side
    //    must contain a GROUPLESS global aggregate (one row by
    //    construction);
    //  - `boundedPickBuild` (ANN family): the broadcast query set is
    //    a literal-bounded subset — the build side must carry an
    //    explicit limit/top-k or a literal `<` bound (in a Filter or
    //    pushed to the scan).
    import org.apache.spark.sql.catalyst.expressions.{LessThan, Literal}
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.{FilterExec, GlobalLimitExec}
    val oneRowBuild = Set("llm_unigram_logprob", "llm_bigram_logprob",
      "llm_perplexity_cut", "a18_quality_sketch", "llm_lang_balance",
      "llm_tfidf_topterms", "llm_mix_weights", "llm_dataset_card",
      "llm_bm25_topk", "llm_dsir_select", "llm_retrieval_eval",
      "llm_kn_bigram", "llm_heaps_fit", "llm_bpe_encode",
      "m21_rn_density", "m22_calendar_arb", "llm_heavy_hitters",
      "x7_zorder_layout", "x8_hilbert_layout", "llm_tfidf_cosine",
      "ev17_survival", "ev31_bootstrap_ci",
      "llm_colloc_pmi", "s17_merge_upsert",
      // one-row count-aggregate cross joins (whether Spark plans them
      // as BNLJ varies with cache/AQE state across runs — the build
      // side is still asserted to be a groupless aggregate below)
      "llm_minhash_recall", "q11_set_ops", "ev22_ab_test",
      "llm_band_plan", "ev24_did", "ev25_cuped", "llm_dedup_report",
      "llm_kl_drift", "llm_rank_fusion",
      // referential-integrity denominator: crossJoin(broadcast(
      // lineitem.agg(count))) — one groupless row by construction
      "s27_expectations",
      // basket-count denominator for the data-derived min support:
      // crossJoin(broadcast(baskets.agg(countDistinct))) — one row
      "q14_freq_itemsets",
      // Q11-shape global threshold: crossJoin(broadcast(
      // lineitem.agg(dsum × 0.001))) — one groupless row
      "q19_group_share",
      // tokenizer audit: each family row crossJoins the one-row
      // whitespace-total and corpus-chars groupless aggregates
      "llm_tok_compare",
      // unigram train/encode: top-words crossJoin the one-row
      // corpus-token / likelihood totals (groupless sums over the
      // segmented word table)
      "llm_unigram_encode", "llm_unigram_train",
      // train-split scaler: crossJoin(broadcast(one-row mu/sd
      // aggregate)) — the leakage-safe fit-on-train frame
      "ev33_train_scale",
      // Q22 shape: crossJoin(broadcast(one-row average-balance
      // aggregate)) ahead of the anti join
      "q17_anti_avg")
    val boundedPickBuild = Set("llm_ann_topk", "llm_ann_pq",
      "llm_ann_recall", "llm_ann_recall_curve", "llm_mrl_recall",
      "llm_knn_label", "llm_intrinsic_dim",
      // filtered ANN: the same literal-bounded broadcast query set,
      // scored twice (label-constrained + unfiltered for post_hits)
      "llm_ann_filtered")
    // calendar-keyed DISTINCT builds (the mSPRT look grid): the
    // broadcast side is an aggregate keyed by a day bucket — bounded
    // by the calendar span, never by data volume
    val calendarDistinctBuild = Set("ev30_msprt")
    for (name <- SparkEntry.queries.keys if !driverSide(name)) {
      val bnl = planOf(name).collect { case j: BroadcastNestedLoopJoinExec => j }
      assert(bnl.isEmpty || oneRowBuild(name) || boundedPickBuild(name)
          || calendarDistinctBuild(name),
        s"$name plans an unexpected BroadcastNestedLoopJoin")
      bnl.foreach { j =>
        val build = j.buildSide match {
          case BuildLeft => j.left
          case BuildRight => j.right
        }
        val sub = nodes(build)
        val hasGlobalAgg = sub.exists {
          case a: BaseAggregateExec => a.groupingExpressions.isEmpty
          case _ => false
        }
        def boundedPick(ps: Seq[SparkPlan]): Boolean = ps.exists {
          case _: GlobalLimitExec | _: TakeOrderedAndProjectExec => true
          case f: FilterExec => f.condition.exists {
            case LessThan(_, _: Literal) => true
            case LessThan(_: Literal, _) => true
            case _ => false
          }
          case s: FileSourceScanExec =>
            s.metadata.get("PushedFilters").exists(_.contains("LessThan"))
          // a cached bounded subset hides its filter in the cached plan
          case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            boundedPick(nodes(m.relation.cachedPlan))
          // a driver-materialized literal relation (e.g. the 3-row
          // nprobe sweep table) is bounded at plan time by definition
          case _: org.apache.spark.sql.execution.LocalTableScanExec => true
          case _ => false
        }
        val hasBoundedPick = boundedPick(sub)
        if (calendarDistinctBuild(name))
          assert(sub.exists {
            case a: BaseAggregateExec => a.groupingExpressions.nonEmpty
            case _ => false
          }, s"$name BNLJ build side is not a keyed DISTINCT")
        else if (oneRowBuild(name))
          assert(hasGlobalAgg,
            s"$name BNLJ build side is not a one-row global aggregate")
        else
          assert(hasBoundedPick,
            s"$name BNLJ build side is not a literal-bounded query subset")
      }
    }
  }

  test("a21/a22 exact selection is distributed — no per-key global sort") {
    // DistributedSelection: the corpus-scale windows must be
    // partitioned by (slice, key) — the range-partitioner slice id
    // bounds window-group size, so no task ever sorts a whole key.
    // The only key-partitioned windows allowed are the prefix-sum
    // windows over the tiny per-slice subtotal table, recognizable
    // by their `_pid` ordering.
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    for (name <- Seq("a21_size_quantiles", "a22_trimmed_mean")) {
      val plan = planOf(name)
      val winds = plan
        .collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(winds.nonEmpty, s"$name has no window")
      // subtotal-table windows aggregate the per-slice `_ptot` column
      val (subtotal, sliced) = winds.partition(
        _.expressions.exists(_.exists(_.toString.contains("_ptot"))))
      assert(sliced.nonEmpty && sliced.forall(_.partitionSpec.size >= 2),
        s"$name windows a whole key (per-key global sort)")
      assert(subtotal.forall(_.partitionSpec.nonEmpty),
        s"$name runs an unpartitioned subtotal window")
      // the range exchange sits inside the materialized (cached)
      // frequency table — recurse through InMemoryTableScan leaves
      def hasRange(ps: Seq[SparkPlan]): Boolean = ps.exists {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.outputPartitioning.isInstanceOf[RangePartitioning]
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          hasRange(nodes(m.relation.cachedPlan))
        // materialized AQE stages are leaves wrapping their exchange
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          hasRange(nodes(q.plan))
        case _ => false
      }
      assert(hasRange(plan), s"$name lacks the (key, value) range repartition")
    }
  }

  test("f1 filter reaches the parquet scan as a pushed filter") {
    val scans = planOf("f1_filter_project")
      .collect { case s: FileSourceScanExec => s }
    assert(scans.exists(_.metadata.get("PushedFilters")
      .exists(_ != "[]")), "no PushedFilters on the f1 scan")
  }

  test("column pruning: f1 scan reads a subset of lineitem columns") {
    val scans = planOf("f1_filter_project")
      .collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    assert(scans.forall(_.schema.fields.length <= 6),
      s"f1 scan reads ${scans.map(_.schema.fields.length).max} columns")
  }

  test("top-k queries use TakeOrderedAndProject, not a global sort") {
    for (name <- Seq("o1_topk", "s8_fetch_final", "w1_gap_analysis",
        "llm_weighted_sample")) {
      val topk = planOf(name)
        .collect { case t: TakeOrderedAndProjectExec => t }
      assert(topk.nonEmpty, s"$name lacks TakeOrderedAndProject")
    }
  }

  test("spot enrichment and dimension joins broadcast the small side") {
    for (name <- Seq("j2_spot_enrich", "j2_broadcast_join")) {
      val bhj = planOf(name).collect { case b: BroadcastHashJoinExec => b }
      assert(bhj.nonEmpty, s"$name has no BroadcastHashJoin")
    }
  }

  test("decontamination broadcasts the benchmark hash set") {
    val bhj = planOf("llm_decontaminate")
      .collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty,
      "llm_decontaminate does not broadcast the benchmark hashes")
  }

  test("s8_fetch_pruned prunes date partitions at the scan") {
    val scans = planOf("s8_fetch_pruned")
      .collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    assert(scans.exists(_.metadata.get("PartitionFilters")
      .exists(f => f != "[]" && f.contains("date"))),
      s"no partition filters: ${scans.map(_.metadata.get("PartitionFilters"))}")
  }

  test("x3 join prunes store partitions dynamically") {
    val scans = planOf("x3_dpp_join")
      .collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    assert(scans.exists(_.metadata.get("PartitionFilters")
      .exists(_.contains("dynamicpruning"))),
      s"no dynamic pruning: ${scans.map(_.metadata.get("PartitionFilters"))}")
  }

  test("x6 join plants a runtime bloom filter on the fact side") {
    val hasBloom = planOf("x6_bloom_join").exists(_.expressions.exists(_.exists {
      case _: org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain => true
      case _ => false
    }))
    assert(hasBloom, "x6 plan carries no might_contain runtime filter")
  }

  test("x2 bucketed join runs with no shuffle exchange at all") {
    val ex = planOf("x2_bucketed_join").collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(ex.isEmpty,
      s"bucketed co-located join still shuffles: ${ex.map(_.nodeName)}")
  }

  test("pii1 scrub is a pure shuffle-free projection") {
    val ex = planOf("pii1_scrub").collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(ex.isEmpty, "PII scrub must not shuffle — it is per-row work")
  }

  test("incremental dedup probes the index with a shuffled hash join") {
    val shj = planOf("llm_incr_dedup").collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(shj.nonEmpty,
      "llm_incr_dedup lost its SHUFFLE_HASH probe join (sort-merge " +
        "would sort the full batch side to probe a lookup table)")
  }

  test("corpus shuffle plans exactly one exchange (no global sort)") {
    val plan = planOf("llm_corpus_shuffle")
    val ex = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(ex.length == 1,
      s"corpus shuffle should shuffle once (by shard), saw ${ex.length}")
    val globalSort = plan.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }
    assert(globalSort.isEmpty, "corpus shuffle must not sort globally")
  }

  test("x1 salted agg is a genuine two-stage aggregate") {
    val aggs = planOf("x1_salted_agg").collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    // partial+final per stage = at least 4 aggregate operators
    assert(aggs.length >= 4,
      s"expected two aggregation stages, saw ${aggs.length} HashAggregates")
  }

  test("as-of join windows are all partitioned (no global sort)") {
    val winds = planOf("j5_asof_spot")
      .collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(winds.nonEmpty)
    assert(winds.forall(_.partitionSpec.nonEmpty),
      "j5 runs an unpartitioned window")
  }

  test("rolling windows are partitioned (no global sort in w2/w3)") {
    for (name <- Seq("w2_iv_percentile", "w3_iv_rank")) {
      val winds = planOf(name)
        .collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(winds.nonEmpty, s"$name has no window")
      assert(winds.forall(_.partitionSpec.nonEmpty),
        s"$name runs an unpartitioned window")
    }
  }

  test("ev1 sessionize: window + session aggregate share ONE exchange") {
    // HashPartitioning(user_id) satisfies the (user_id, session_seq)
    // clustered distribution, so the groupBy must reuse the window's
    // user-keyed exchange instead of reshuffling on both keys.
    val ex = planOf("ev1_sessionize").collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(ex.size <= 1, s"ev1 plans ${ex.size} exchanges, expected at most 1")
  }

  test("ev2 funnel: single-pass — one scan of events, one exchange") {
    val plan = planOf("ev2_funnel")
    val ex = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(ex.size <= 1, s"ev2 plans ${ex.size} exchanges, expected at most 1")
    assert(scans.size == 1,
      s"ev2 scans the events table ${scans.size} times, expected 1")
  }

  test("ev2 funnel: O(steps) buffer via SortAggregate, no per-user array") {
    // The struct-buffered WindowFunnelChain must plan as
    // SortAggregateExec (the order-preserving aggregate its streaming
    // fold contract requires) and nothing in the plan may materialize
    // a per-user event array (the old collect_list shape).
    val plan = planOf("ev2_funnel")
    val sortAggs = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
    }
    assert(sortAggs.exists(_.aggregateExpressions.exists(
      _.aggregateFunction.isInstanceOf[graft.functions.WindowFunnelChain])),
      "ev2 does not aggregate through WindowFunnelChain in a SortAggregate")
    val hasCollect = plan.exists(_.expressions.exists(_.exists {
      case _: org.apache.spark.sql.catalyst.expressions.aggregate.CollectList => true
      case _ => false
    }))
    assert(!hasCollect, "ev2 still materializes a per-user collect_list")
  }

  test("ev2b any-chain funnel: branches reuse the one events snapshot") {
    // funnelAnyChain snapshots the next-pointer frame once; the
    // anchor/chase/all-user branches must read that snapshot, never
    // re-scan the events parquet.
    val scans = planOf("ev2b_funnel_any")
      .collect { case s: FileSourceScanExec => s }
    assert(scans.isEmpty,
      s"ev2b re-scans the events table ${scans.size} times past its snapshot")
  }

  test("ev4b multi-key props: exactly ONE JsonToStructs per row") {
    val parses = planOf("ev4b_props_multikey").map(_.expressions.map(_.collect {
      case j: org.apache.spark.sql.catalyst.expressions.JsonToStructs => j
    }.size).sum).sum
    assert(parses == 1,
      s"ev4b plans $parses JsonToStructs, expected exactly 1")
  }

  test("ev3 retention: single-pass — one scan of events") {
    val scans = planOf("ev3_retention")
      .collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1,
      s"ev3 scans the events table ${scans.size} times, expected 1")
  }

  test("corpus top-k n-grams use TakeOrderedAndProject, never a global sort") {
    val tops = planOf("llm_topk_ngrams")
      .collect { case t: TakeOrderedAndProjectExec => t }
    assert(tops.nonEmpty, "llm_topk_ngrams does not TakeOrderedAndProject")
  }

  test("ranking windows are partitioned (tfidf by doc, quality cut by source)") {
    for (name <- Seq("llm_tfidf_topterms", "llm_quality_cut")) {
      val winds = planOf(name)
        .collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(winds.nonEmpty, s"$name has no window")
      assert(winds.forall(_.partitionSpec.nonEmpty),
        s"$name runs an unpartitioned window")
    }
  }

  test("gopher rules are a pure shuffle-free projection") {
    val ex = planOf("llm_gopher_rules").collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(ex.isEmpty, "gopher rules must not shuffle — per-row work")
  }

  test("m7 realized vol: exactly two exchanges (bar key, then day key)") {
    // trades -> (underlying, bucket) hash agg -> (underlying, day)
    // window + final agg share the second exchange
    val ex = planOf("m7_realized_vol").collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(ex.size <= 2,
      s"m7 plans ${ex.size} exchanges, expected at most 2 (bar, day)")
    val winds = planOf("m7_realized_vol")
      .collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(winds.forall(_.partitionSpec.nonEmpty),
      "m7 runs an unpartitioned window")
  }

  test("m8 ewma / a19 flow: bar-keyed aggregates, no extra exchanges") {
    // m8: bar agg exchange + day-keyed window exchange = 2
    val m8 = planOf("m8_ewma_vol").collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(m8.size == 2, s"m8 plans ${m8.size} exchanges, expected 2")
    // a19: single hash aggregate = 1 exchange
    val a19 = planOf("a19_flow_imbalance").collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(a19.size == 1, s"a19 plans ${a19.size} exchanges, expected 1")
  }

  test("ev5 transitions: user-keyed lead window, partitioned rank windows") {
    val winds = planOf("ev5_transitions")
      .collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(winds.nonEmpty, "ev5 has no window")
    assert(winds.forall(_.partitionSpec.nonEmpty),
      "ev5 runs an unpartitioned window")
    // events scanned once; everything after the (from, to) aggregate
    // is |types|^2-sized
    val scans = planOf("ev5_transitions")
      .collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, s"ev5 scans events ${scans.size} times")
  }

  test("a25 wings / a27 hhi: argmin-by-aggregate, no Window on the tape") {
    // both are designed as pure hash-aggregate pipelines — a Window
    // appearing means the min-of-struct/no-window rewrite regressed
    // to a per-key sort
    for (name <- Seq("a25_wing_quotes", "a27_volume_hhi")) {
      val winds = planOf(name)
        .collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(winds.isEmpty, s"$name plans a Window: ${winds.map(_.nodeName)}")
    }
  }

  test("j7 nearest / m12 var swap: every window is key-partitioned") {
    for (name <- Seq("j7_nearest_spot", "m12_var_swap")) {
      val winds = planOf(name)
        .collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(winds.nonEmpty, s"$name has no window")
      assert(winds.forall(_.partitionSpec.nonEmpty),
        s"$name runs an unpartitioned window")
    }
  }

  test("ev9 / zipf windows run on collapsed tables, tape scanned once") {
    // the unpartitioned cumsum/rank windows are by design — they run
    // over histogram/vocab-sized aggregates; the pin is that the FACT
    // scan happens at most once (ev6's persisted (user, day) subtree
    // can be cache-substituted into ev9's identical prefix, dropping
    // the file scan to zero — also fine: still no double scan)
    for (name <- Seq("ev9_power_curve", "llm_zipf_fit")) {
      val scans = planOf(name).collect { case s: FileSourceScanExec => s }
      assert(scans.size <= 1, s"$name scans the fact table ${scans.size}x")
    }
  }

  test("m28 triple barrier pairs via a hash/merge EQUI-join, tape scanned once") {
    // the entry x future pairing must stay an exploded equi-join on
    // (symbol, day) — a range self-join would plan BNLJ/cartesian and
    // die at scale; the daily-close subtree is materialized so the
    // events tape itself is read at most once
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val plan = planOf("m28_triple_barrier")
    val equi = plan.collect {
      case j: SortMergeJoinExec => j.leftKeys.size
      case j: ShuffledHashJoinExec => j.leftKeys.size
      case j: BroadcastHashJoinExec => j.leftKeys.size
    }
    assert(equi.exists(_ >= 2), "m28 lost its (symbol, day) equi-join")
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size <= 1, s"m28 scans the tape ${scans.size}x")
  }

  test("m25/m26/m27 microstructure windows are all symbol-partitioned") {
    for (name <- Seq("m25_roll_spread", "m26_cs_spread",
        "m27_variance_ratio")) {
      val winds = planOf(name)
        .collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(winds.nonEmpty, s"$name has no window")
      assert(winds.forall(_.partitionSpec.nonEmpty),
        s"$name runs an unpartitioned window")
    }
  }

  test("j9 overlap join is a (key, bucket) equi-join, never a theta join") {
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val plan = planOf("j9_overlap_join")
    val equi = plan.collect {
      case j: SortMergeJoinExec => j.leftKeys.size
      case j: ShuffledHashJoinExec => j.leftKeys.size
      case j: BroadcastHashJoinExec => j.leftKeys.size
    }
    assert(equi.exists(_ >= 2),
      "j9 lost its (symbol, bucket) equi-join")
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty
      && plan.collect { case b: BroadcastNestedLoopJoinExec => b }.isEmpty,
      "j9 planned an all-pairs join")
  }

  test("s17 latest-wins collapse is a hash aggregate, not a window sort") {
    // CdcMerge.latestState must stay max_by (mergeable partial agg);
    // a row_number window would re-sort the whole changelog per key
    val winds = planOf("s17_merge_upsert")
      .collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(winds.isEmpty, "s17 plans a window sort")
  }

  test("unpartitioned windows ride only BOUNDED frames (allowlist)") {
    // A WindowExec with an empty partitionSpec moves its whole input
    // into ONE task. That is fine when the input is bounded by
    // something other than the data volume — a calendar-day series, a
    // top-k limit, an alphabet, the shuffle-partition count — and a
    // genuine 100× scale killer otherwise (the a21/ev8 class this
    // audit exists to keep extinct). Each allowlisted query names the
    // bound its global window rides; anything else fails.
    import org.apache.spark.sql.execution.window.WindowExec
    val bounded = Map(
      "ev10_anomaly_days" -> "calendar-day series",
      "ev12_cusum_days" -> "calendar-day series",
      "ev17_survival" -> "distinct lifetime durations (≤ days)",
      "ev8_rfm" -> "P-row slice-subtotal table (distributedNtile)",
      "ev9_power_curve" -> "distinct active-day counts (≤ days)",
      "llm_char_coverage" -> "distinct codepoints (alphabet)",
      "llm_heaps_fit" -> "nBuckets-row bucket table",
      "llm_heavy_hitters" -> "candidate table (≤ k·P rows)",
      "llm_zipf_fit" -> "top-k vocabulary",
      "ev29_holm" -> "segment panel (one row per event_type)",
      "m15_rolling_beta" -> "aligned calendar-day pair series",
      "s16_backfill_plan" -> "15-min coverage buckets (calendar)",
      "s2_page_continuity" -> "15-min page buckets (calendar)",
      "w1_gap_analysis" -> "month-boundary stitch rows",
      "w4_freq_inference" -> "15-min bar starts (calendar)",
      "ev30_msprt" -> "calendar-day look series (running p-min)",
      "ev31_bootstrap_ci" -> "B-row bootstrap replicate table")
    for ((name, fn) <- SparkEntry.queries if !driverSide(name)) {
      val df = fn(spark, dir)
      val global = deepNodes(df.queryExecution.executedPlan)
        .collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      assert(global.isEmpty || bounded.contains(name),
        s"$name plans an unpartitioned window over an undocumented frame")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
  }

  test("band-join entries plan no aggregate over candidate pairs") {
    // first band wins: the LSH band join emits each candidate pair once,
    // so nothing may group by both ids of a pair (a pair `distinct`)
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.functions.{col, size}
    val pairIds = Seq(Set("id_a", "id_b"), Set("id_new", "id_old"),
      Set("doc_a", "doc_b"))
    val corpus = graft.util.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), graft.functions.TextHashColumns
        .ngramHashes(col("text"), 2).as("hs"))
      .filter(size(col("hs")) > 0)
    val plans = Seq("llm_incr_neardup", "llm_simhash_pairs",
      "mm5_phash_neardup", "llm_embed_neardup", "llm_embed_clusters",
      "llm_ann_bucketed").map(n => n -> planOf(n).head) :+
      ("minhashNearDups" -> graft.operators.TextDedup.minhashNearDups(corpus)
        .queryExecution.executedPlan)
    for ((name, plan) <- plans) {
      val byPair = deepNodes(plan).collect { case a: BaseAggregateExec
        if pairIds.exists(_.subsetOf(a.groupingExpressions.map(_.name).toSet)) => a }
      assert(byPair.isEmpty, s"$name aggregates over candidate pairs: $byPair")
    }
  }

  /** Source-level twin of the plan audits above: each line of a file
    * in `layer` that `sites` picks must carry a `<note>(<bound>)`
    * annotation within the 8 preceding lines naming WHY what it gathers
    * is O(1)-in-corpus (a literal limit, a calendar bound, a per-group
    * row, a fixture harness). A new unannotated site — bounded or not —
    * fails here until its bound is written down next to it. */
  private def auditSites(layer: String, note: String, what: String)
      (sites: Vector[String] => Seq[Int]): Unit = {
    val dir = new java.io.File(s"src/main/scala/graft/$layer")
    assert(dir.isDirectory, s"missing ${dir.getAbsolutePath}")
    for (f <- dir.listFiles().toSeq if f.getName.endsWith(".scala")) {
      val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
      for (i <- sites(lines)) {
        val window = lines.slice(math.max(0, i - 8), i + 1)
        assert(window.exists(_.contains(s"$note(")),
          s"$layer/${f.getName}:${i + 1} has $what without a " +
            s"$note(<bound>) annotation in the preceding 8 lines")
      }
    }
  }

  /** A corpus-proportional `.collect()` is a driver OOM at 100 TB no
    * matter what the executed plan looks like (round 12's LSH pair-set
    * memo was exactly that — it is now a parquet side-table).
    * `.collect()` exactly: the zero-arg Dataset materializer.
    * (`Backfill.collect(pager, ...)` is the ingest driver loop, a
    * different method that never holds a Dataset.) `Caches.local`
    * collects its frame, so it carries the same annotation. */
  private def auditCollects(layer: String): Unit =
    auditSites(layer, "bounded-collect", "a .collect()")(lines =>
      lines.indices.filter(i => lines(i).contains(".collect()") ||
        lines(i).contains("Caches.local(")))

  test("driver-side audit: every .collect() in queries/ documents a bound") {
    auditCollects("queries")
  }

  test("driver-side audit: every .collect() in operators/ documents a bound") {
    auditCollects("operators")
  }

  test("source audit: every unpartitioned window in operators/ and queries/ documents a bound") {
    // a window spec with no partition key moves its whole input into
    // ONE task: fine over a calendar series or a top-k table, a 100 TB
    // killer over a corpus-sized one (the plan-level twin above only
    // sees the entries the registry builds at sf0.001). Matched over
    // the whole file, so a spec split as `Window` / `.orderBy(` across
    // lines counts too; the site is the line the match ends on.
    val global = ("""Window\s*\.\s*(orderBy|rowsBetween|rangeBetween)\(|""" +
      """Window\s*\.\s*partitionBy\(\s*\)|\.over\(\s*\)""").r
    val comment = (l: String) => Seq("*", "//", "/*").exists(l.trim.startsWith)
    for (layer <- Seq("operators", "queries"))
      auditSites(layer, "bounded-window", "an unpartitioned window") { lines =>
        val code = lines.map(l => if (comment(l)) "" else l).mkString("\n")
        global.findAllMatchIn(code).map(m =>
          code.take(m.end).count(_ == '\n')).toSeq
      }
  }

  test("source audit: only SnapshotRead reads parquet in graft.sources") {
    // Source-level twin of the snapshot store's one read planner: a
    // reader that plans its own parquet read sees neither the store's
    // layout nor its read schema, so it drops partition-directory and
    // added columns. Only the planner may read parquet, build a
    // ParquetTable or infer a schema from a footer.
    val allowed = Map(
      "SnapshotRead.scala" -> "the snapshot store's one read planner",
      "TradesStore.scala" ->
        "the day-partitioned trades table, not the snapshot store")
    val forbidden =
      """spark\.read\b|\.read\.parquet|\.read\.schema|ParquetTable\(""".r
    val sdir = new java.io.File("src/main/scala/graft/sources")
    assert(sdir.isDirectory, s"missing ${sdir.getAbsolutePath}")
    val hits = for {
      f <- sdir.listFiles().toSeq.sortBy(_.getName)
      if f.getName.endsWith(".scala") && !allowed.contains(f.getName)
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines()
        .zipWithIndex.toSeq
      m <- forbidden.findFirstIn(line)
    } yield s"${f.getName}:${i + 1} contains $m"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
