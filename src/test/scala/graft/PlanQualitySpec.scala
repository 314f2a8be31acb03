package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions (SURVEY.md §5 "golden explain"): the operators must
  * not only return correct rows — their physical plans must keep the
  * properties that make them scale (pushdown, pruning, broadcast, codegen).
  * These tests fail if a refactor silently de-optimizes a plan. */
class PlanQualitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def plan(key: String): String =
    SparkEntry.queries(key)(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString

  /** AQE only shows WholeStageCodegen spans in the FINAL plan — execute
    * first, then render. */
  private def finalPlan(key: String): String = {
    val df = SparkEntry.queries(key)(spark, TestSpark.sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("CBO stats flip a join order that size estimates alone get wrong") {
    // 3-way join written WORST-first: lineitem ⋈ orders (fact ⋈ fact),
    // then the filtered customer dim. File-size estimation cannot see that
    // c_custkey < 10 leaves ~9 customers, so without stats the written
    // order stands; with ANALYZE stats + CBO join reorder, Catalyst must
    // join orders ⋈ customer first and save the fact-fact shuffle width.
    val l = TableStats.analyzed(spark, TestSpark.sf, "lineitem")
    val o = TableStats.analyzed(spark, TestSpark.sf, "orders")
    val c = TableStats.analyzed(spark, TestSpark.sf, "customer")
    def leafOrder(cbo: Boolean): Seq[String] = {
      spark.conf.set("spark.sql.cbo.enabled", cbo)
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", cbo)
      try {
        val df = spark.sql(s"""SELECT l.l_orderkey FROM $l l
          JOIN $o o ON o.o_orderkey = l.l_orderkey
          JOIN $c c ON c.c_custkey = o.o_custkey
          WHERE c.c_custkey < 10""")
        df.queryExecution.optimizedPlan.collectLeaves()
          .map(_.toString).map { s =>
            Seq("lineitem", "orders", "customer").find(s.contains).getOrElse("?")
          }.toSeq
      } finally {
        spark.conf.set("spark.sql.cbo.enabled", false)
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", false)
      }
    }
    val without = leafOrder(cbo = false)
    val withCbo = leafOrder(cbo = true)
    assert(without == Seq("lineitem", "orders", "customer"),
      s"baseline plan unexpectedly reordered: $without")
    assert(withCbo != without, "CBO stats did not change the join order")
    // the selective dim must join before the second fact table
    assert(withCbo.indexOf("customer") < withCbo.indexOf("lineitem"),
      s"customer still joins last under CBO: $withCbo")
  }

  test("scan_pruned pushes the shipdate filter into the parquet scan") {
    val p = plan("scan_pruned")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_shipdate"), p)
  }

  test("scan_pruned reads only the projected columns") {
    val p = plan("scan_pruned")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_quantity"), readSchema)
    assert(readSchema.contains("l_extendedprice"), readSchema)
  }

  test("source_orc pushes the quantity filter into the ORC scan and prunes") {
    val p = plan("source_orc")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_quantity"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_partkey"), readSchema)
    assert(readSchema.contains("l_orderkey"), readSchema)
  }

  test("join_broadcast actually broadcasts the dimension tables") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("join_semi and join_anti plan as semi/anti hash joins, not cartesian") {
    assert(plan("join_semi").contains("LeftSemi"), "semi")
    assert(plan("join_anti").contains("LeftAnti"), "anti")
    assert(!plan("join_semi").contains("CartesianProduct"))
  }

  test("join_theta_range keeps its customer-key equi anchor (no nested loop)") {
    val p = plan("join_theta_range")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("agg_group stays inside whole-stage codegen with partial aggregation") {
    val p = finalPlan("agg_group")
    assert(p.contains("*("), p) // '*(n)' prefixes = whole-stage codegen spans
    assert(p.contains("partial_"), p) // map-side combine before the shuffle
  }

  test("sort_limit plans as TakeOrderedAndProject (no global sort of all rows)") {
    assert(plan("sort_limit").contains("TakeOrderedAndProject"))
  }

  test("win_rank never window-sorts the fact table inside 3 flag partitions") {
    val p = plan("win_rank")
    // phase 1: bounded top-k aggregate, map-side combined — the shuffle
    // carries ≤ 10·p tuples per flag, not the fact table
    assert(p.contains("partial_topk_rows"), p)
    // phase 2: the only Window sits ABOVE the aggregate (top-down plan text:
    // Window before ObjectHashAggregate), ranking the ≤30 survivors
    val iWin = p.indexOf("Window")
    val iAgg = p.indexOf("ObjectHashAggregate")
    assert(iWin >= 0 && iAgg >= 0 && iWin < iAgg, p)
    // and nothing below the aggregate sorts the raw fact: no Sort between
    // the aggregate and the scan
    assert(!p.substring(iAgg).contains("Sort ["), p.substring(iAgg))
  }

  test("udf_expr_hash participates in whole-stage codegen (doGenCode works)") {
    val p = finalPlan("udf_expr_hash")
    assert(p.contains("*("), p)
    assert(p.contains("stable_hash64"), p)
  }

  test("join_asof_exec plans through the injected custom strategy") {
    val p = plan("join_asof_exec")
    assert(p.contains("AsOfJoin"), p) // custom SparkPlan, not a rewrite
    // children arrive sorted by (key, time) via EnsureRequirements
    assert(p.contains("Sort ["), p)
  }

  test("bucketed fact-fact join runs with ZERO shuffle exchanges") {
    import org.apache.spark.sql.functions.col
    Tables(spark, TestSpark.sf, "orders").write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("orders_b")
    Tables(spark, TestSpark.sf, "lineitem").write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("lineitem_b")
    val j = spark.table("lineitem_b")
      .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "o_custkey")
    j.collect()
    val p = j.queryExecution.executedPlan.toString
    // co-located bucketed layout ⇒ neither fact table shuffles — this is
    // the 100 TB fact-fact join strategy (SURVEY.md §4 partitioning row)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("sink_partitioned read-back prunes to the selected partition") {
    import org.apache.spark.sql.functions.col
    val tmp = graft.Staging.fresh("plansink")
    Tables(spark, TestSpark.sf, "orders").write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(s"$tmp/orders_by_status")
    val df = spark.read.parquet(s"$tmp/orders_by_status")
      .filter(col("o_orderstatus") === "F")
    val p = df.queryExecution.executedPlan.toString
    // the status predicate must land in PartitionFilters (directory-level
    // pruning at file listing), not as a post-scan Filter over all rows
    assert(p.contains("PartitionFilters: [") &&
      p.replaceAll("\\s", "").contains("PartitionFilters:[isnotnull(o_orderstatus"), p)
  }

  test("vis_check participates in whole-stage codegen") {
    graft.functions.GraftFunctions.register(spark)
    // over a real scan — a literal-only frame constant-folds to a
    // LocalTableScan before codegen ever runs
    val df = Tables(spark, TestSpark.sf, "region").selectExpr(
      "vis_check(CASE WHEN r_regionkey % 2 = 0 THEN 'public' ELSE 'pii&admin' END, 'public') AS ok")
    assert(df.filter("ok").count() >= 2)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // '*(n)' is the whole-stage-codegen span marker in compact rendering
    assert(p.contains("*(1)") || p.contains("WholeStageCodegen"), p)
    assert(!p.contains("CodegenFallback"), p)
  }

  test("stream_stream_join: time-bound interval join keeps its user_id equi anchor") {
    val p = finalPlan("stream_stream_join")
    // equi join on user_id with the interval as a post-join condition —
    // NOT a nested-loop/cartesian over the time predicate
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("join_bucketed: the registered key joins with no fact-table shuffle") {
    val df = SparkEntry.queries("join_bucketed")(spark, TestSpark.sf)
    df.collect()
    // AQE's toString renders the final plan AND the initial plan; count
    // exchanges in the final section only.
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the only hash exchange allowed is the (tiny) aggregation's — the
    // fact-fact join itself must ride the bucketed layout shuffle-free
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges <= 1, p)
  }

  test("sim_range_join generates candidates via a bucket equi-join, not all pairs") {
    val p = plan("sim_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("olap_min_cost_supplier: decorrelated min join-back, broadcast dims, top-100 without a global sort") {
    val p = finalPlan("olap_min_cost_supplier")
    // the per-part min must be an aggregate joined back — never a
    // correlated per-row re-scan (which would surface as a nested loop)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    // dims attach by broadcast (part/supplier/nation/region are all tiny
    // next to the fact aggregate)
    assert(p.contains("BroadcastHashJoin"), p)
    // LIMIT 100 under ORDER BY = TakeOrderedAndProject, not a full sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("olap_part_promotion: semi-join probe, no correlated re-scan") {
    val p = finalPlan("olap_part_promotion")
    // the IN (SELECT ...) must compile to a LEFT SEMI hash join
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    // both correlated aggregates decorrelate into ONE fact scan (the
    // part total is a window over the grouped relation, so nothing
    // reads lineitem twice — AQE's toString also renders the initial
    // plan, count the final section only)
    val finalSection = p.split("== Initial Plan ==")(0)
    val lineitemScans = finalSection.split('\n').count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(lineitemScans == 1, s"$lineitemScans lineitem scans\n$p")
  }

  test("split_train_test aggregates with map-side combine (pure scan + agg)") {
    val p = finalPlan("split_train_test")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Join"), p) // no join anywhere — per-row hash + agg
  }

  test("text_curation_funnel composes on equi-joins with map-side combine") {
    // the end-to-end curation chain (exact window → cluster-canonical
    // filter → strip windows → per-source funnel) must never degrade to a
    // nested loop or cartesian anywhere in its composed plan, and its
    // per-source aggregates must partial-aggregate before the exchange
    val p = finalPlan("text_curation_funnel")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("graph_bipartite projects per-supplier (equi-join) and pre-aggregates") {
    val p = finalPlan("graph_bipartite")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p) // histogram agg map-side combines
  }

  test("graph_kcore semi-joins stay on the broadcast path") {
    // the survivor set is vertex-sized and explicitly hinted — the edge
    // set must never re-shuffle during peeling. Assert on the REAL round
    // function kCore's loop uses (kCoreRound), fed a checkpointed survivor
    // set exactly as in the loop.
    val g = graph.GraphFixture(spark, TestSpark.sf)
    val round = g.kCoreRound(g.kCore(2, 1), 2)
    round.collect()
    val p = round.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("graph_ktruss support rounds are equi-join wedge enumerations") {
    // the per-round triangle enumeration must stay two equi-joins over the
    // oriented edge list with a map-side-combined support count — never a
    // nested loop, and the 3-corner credit is ONE Generate (explode), not
    // three re-executions of the wedge join.
    val g = graph.GraphFixture(spark, TestSpark.sf)
    val sup = g.trussSupport(g.undirectedEdges.select("a", "b"))
    sup.collect()
    val p = sup.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
    assert(p.contains("Generate"), p)
  }

  test("unpivot_melt executes as a single Expand, no extra shuffle") {
    val p = finalPlan("unpivot_melt")
    assert(p.contains("Expand"), p)
    // shuffles: the feeding aggregate's exchange + the final orderBy only
    assert("Exchange".r.findAllIn(p.split("== Initial Plan ==")(0)).size <= 3, p)
  }

  test("agg_grouping_id plans the rollup through one Expand with partial agg") {
    val p = finalPlan("agg_grouping_id")
    assert(p.contains("Expand"), p)
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p)
  }

  test("win_islands shares one user-hash shuffle across both window passes") {
    val p = finalPlan("win_islands").split("== Initial Plan ==")(0)
    // two Window operators, but hashpartitioning(user_id...) exchanges
    // must not multiply per pass: scan→exchange(user)→windows→agg
    val winCount = "Window".r.findAllIn(p).size
    assert(winCount >= 2, p)
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size <= 2, p)
  }

  test("graph_jaccard candidates come from an equi-join on the shared part") {
    val p = finalPlan("graph_jaccard")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sort_zorder computes the Morton key inside codegen and top-ks") {
    val p = finalPlan("sort_zorder")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), p) // per-partition heaps, driver merge
  }

  test("agg_checksum is one partial-agg pass (1-row shuffle)") {
    val p = finalPlan("agg_checksum").split("== Initial Plan ==")(0)
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(p.contains("HashAggregate"), p)
  }

  test("join_salted joins on the (key, salt) pair — equi, never nested-loop") {
    val p = finalPlan("join_salted")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("salt"), p)
  }

  test("join_interval_banded is equi-join/aggregate shaped (no theta executor)") {
    val p = finalPlan("join_interval_banded")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Generate") || p.contains("explode"), p) // the banding
  }

  test("sample_stratified ranks inside one stratum-hash shuffle") {
    val p = finalPlan("sample_stratified").split("== Initial Plan ==")(0)
    assert("hashpartitioning\\(event_type".r.findAllIn(p).size <= 1, p)
  }

  test("olap_star_rollup broadcasts every dimension") {
    val p = finalPlan("olap_star_rollup")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p) // cust/nation/region
    assert(!p.contains("CartesianProduct"), p)
  }

  test("olap_topk_revenue pushes the segment filter and top-ks") {
    val p = finalPlan("olap_topk_revenue")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)]")
      || p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
  }

  test("olap_mkt_share broadcasts the snowflake dims; share window runs post-aggregate") {
    val p = finalPlan("olap_mkt_share")
    // supplier/nation/region all broadcast; only the fact-fact join shuffles
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(!p.contains("CartesianProduct"), p)
    // the window must sit ABOVE the aggregate (years×regions-sized input),
    // never over the fact: in the rendered tree the Window node appears
    // before (= downstream of) the HashAggregate nodes.
    val wi = p.indexOf("Window"); val ai = p.indexOf("HashAggregate")
    assert(wi >= 0 && ai >= 0 && wi < ai, "share window not post-aggregate:\n" + p)
  }

  test("dq_referential probes every FK as a broadcast of the parent side") {
    val p = finalPlan("dq_referential")
    // 8 checks; each parent (dimension/unique-key side) must broadcast —
    // a child-sized shuffle would make the audit cost a full fact sort.
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 8, p)
    assert(!p.contains("SortMergeJoin"), "audit shuffled a child table:\n" + p)
  }

  test("join_bloom_prefilter probes the filter BELOW the join, on the scan side") {
    val p = finalPlan("join_bloom_prefilter")
    // the mightContain probe (the one UDF in the suite) must sit between
    // the orders scan and the join — pre-shedding fact rows is the whole
    // point; above the join it would be dead weight
    val ji = p.indexOf("Join"); val fi = p.indexOf("UDF(")
    assert(fi >= 0, "bloom probe filter missing:\n" + p)
    assert(ji >= 0 && ji < fi,
      "bloom probe not below the join in the rendered tree:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("olap_local_supplier broadcasts the dim chains; range filter reaches orders scan") {
    val p = finalPlan("olap_local_supplier")
    // region/nation/customer/supplier all broadcast; lineitem⋈orders is
    // the only shuffle-scale join
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(p.contains("o_orderdate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("olap_nation_volume broadcasts both nation aliases; pair agg combines map-side") {
    val p = finalPlan("olap_nation_volume")
    // customer/supplier/nation×2 broadcast; lineitem⋈orders is the only
    // shuffle-scale join; the nations²-bounded GROUP BY partial-aggregates
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("graph_traversal_groupcount runs BULKED — sums counts, never walk rows") {
    val p = finalPlan("graph_traversal_groupcount")
    // the TinkerPop-style bulk fold: per-level aggregation of (head, cnt)
    // — the plan must sum the maintained counts; a count(1) over the
    // materialized walk matrix means bulking regressed
    assert(p.contains("sum(cnt"), "no bulk count-sum in plan:\n" + p)
    assert(!p.contains("count(1)"), "walk-matrix fold leaked back:\n" + p)
  }

  test("graph_katz aggregates messages map-side (partial agg under the shuffle)") {
    val p = finalPlan("graph_katz")
    // the per-destination decimal sum must plan as partial+final
    // HashAggregate pairs, not a single post-shuffle aggregate over raw
    // messages
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("corpus_mix: class-count side broadcasts; no corpus-scale shuffle joins") {
    val p = finalPlan("corpus_mix")
    // the 5-row class-count frame must reach the kept-filter as a
    // broadcast; the corpus side never sort-merge-joins
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("graph_traversal_union keeps the bulk fold and per-branch broadcasts") {
    val p = finalPlan("graph_traversal_union")
    // branch merge is a Union of broadcast-joined branches, and the
    // groupCount fold reads summed bulk counts, not walk rows
    assert(p.contains("Union"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("sum(cnt"), "bulk fold lost through union():\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("graph_mutation_api: edge cascade is semi-joins, never a product") {
    val p = finalPlan("graph_mutation_api")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("olap_ship_priority: top-10 is TakeOrdered; both date ranges push to scans") {
    val p = finalPlan("olap_ship_priority")
    assert(p.contains("TakeOrderedAndProject"), "global sort for a LIMIT 10:\n" + p)
    // segment predicate reaches the customer scan, ship-date range the
    // lineitem scan — at 100 TB these pushed ranges ARE the query
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
    assert(p.contains("GreaterThan(l_shipdate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("olap_product_profit: part LIKE-prunes before the fact; dims broadcast") {
    val p = finalPlan("olap_product_profit")
    // the LIKE filter must reach the part scan (contains-pushdown), and
    // part/supplier/nation attach by broadcast — lineitem⋈orders is the
    // only shuffle-scale join
    assert(p.contains("StringContains(p_name,red)"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("olap_customer_dist keeps the LEFT join (zero bucket) and double-aggregates") {
    val p = finalPlan("olap_customer_dist")
    assert(p.contains("LeftOuter"), "left join degraded to inner:\n" + p)
    // custkey-grouped count, then the k-bounded distribution aggregate
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("olap_large_orders aggregates lineitem FIRST; survivors join under broadcast") {
    val p = finalPlan("olap_large_orders")
    // the HAVING aggregate's tiny survivor set must broadcast into
    // orders/customer — a shuffle join would mean the plan joined first
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("olap_late_suppliers: one fact shuffle; supplier attaches broadcast") {
    val p = finalPlan("olap_late_suppliers")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("olap_idle_value_customers: NOT EXISTS compiles to an anti join; avg is one scalar") {
    val p = finalPlan("olap_idle_value_customers")
    assert(p.contains("LeftAnti"), "NOT EXISTS did not plan as anti join:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("olap_order_priority: EXISTS plans as a semi join; quarter range pushes") {
    val p = finalPlan("olap_order_priority")
    assert(p.contains("LeftSemi"), "EXISTS did not plan as semi join:\n" + p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("olap_forecast_revenue: every predicate reaches the lineitem scan") {
    val p = finalPlan("olap_forecast_revenue")
    // the PushedFilters render truncates; assert the leading pushed entry
    // plus the full predicate set on the scan-side Filter node
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert(p.contains(">= 0.05)") && p.contains("<= 0.07)"), p)
    assert(p.contains("< 24.0)"), p)
    // one scan, no join at all
    assert(!p.contains("Join"), "the scalar grew a join:\n" + p)
  }

  test("olap_bracket_revenue: OR brackets keep a hash join; superset filters push") {
    val p = finalPlan("olap_bracket_revenue")
    // the disjunction must not degrade the partkey equi-join to a
    // nested loop, and the derivable brand superset must reach the part
    // scan as a pushed filter
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    // the derived per-table disjunction reaches the part scan pushed
    assert(p.contains("Or(Or(And(EqualTo(p_brand"), p)
  }

  test("olap_small_qty_revenue: decorrelated per-part average joins hash-side") {
    val p = finalPlan("olap_small_qty_revenue")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("PairCC's edge cut is streamed, never shuffled for the hook join") {
    // a path 0-1-...-399: many hook+jump rounds over one eager edge cut
    // (a, b), which carries its measured size: the label side is the
    // broadcast one and the edges stream (they used to be shuffled by
    // the stats-less sort-merge plan before AQE broadcast the labels)
    import org.apache.spark.sql.functions.col
    val pairs = spark.range(0, 399, 1, 4)
      .select(col("id").as("da"), (col("id") + 1).as("db"))
    val plans = CutStatsSpec.executions(spark) {
      graph.PairCC.labelsConverged(pairs).count()
    }.filter { case (f, p) =>
      f == "localCheckpoint" && p.analyzed.output.map(_.name) == Seq("id", "lbl")
    }
    assert(plans.size >= 2, plans.size)
    plans.foreach { case (_, p) =>
      assert(CutStatsSpec.shuffledScans(p.executedPlan, Seq("a", "b")) == 0, p.executedPlan)
    }
  }

  test("the lp3 build plans no SortMergeJoin") {
    // lp3 is labelPropagation(3): every round joins the label state from
    // its |V| bound, and a vertex no edge reaches is carried, not joined
    // back (the carry-over left join used to plan a vertex-sized
    // sort-merge join per round)
    val g = graph.GraphFixture(spark, TestSpark.sf)
    val ops = CutStatsSpec.executions(spark) { g.labelPropagation(3).count() }
      .flatMap { case (_, qe) => Probe.opsOf(qe.executedPlan) }
    assert(ops.count(_ == "bhj") >= 3, ops)
    assert(!ops.contains("smj"), ops)
  }

  test("katz's analyzed plan does not grow with iters") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val g = graph.GraphFixture(spark, TestSpark.sf)
    def joins(iters: Int): Int = g.katz(iters).queryExecution.analyzed
      .collect { case j: Join => j }.size
    assert(joins(2) == joins(5), s"${joins(2)} vs ${joins(5)} joins")
  }

  test("the fixture graph is a columnar cache over staged Parquet: small task binaries, no pinned broadcast, recompute from files") {
    import org.apache.spark.SparkEnv
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val g = graph.GraphFixture(spark, TestSpark.sf)
    val edgeCount = g.edges.count()
    g.vertices.count()
    // the RDD each task of a scan ships and deserializes. When the graph
    // was a cache over the 8-way build itself, it carried the whole build
    // lineage: 139,535 bytes (edges) and 100,093 (vertices) here.
    def taskBytes(df: DataFrame): Int = SparkEnv.get.closureSerializer
      .newInstance().serialize(df.queryExecution.toRdd).limit()
    val bytes = Seq(g.edges.select("src", "dst"), g.vertices.select("id"))
      .map(taskBytes)
    assert(bytes.forall(_ < 64 * 1024), s"edges, vertices task RDD bytes: $bytes")
    def cached(df: DataFrame): InMemoryRelation =
      df.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r
      }.getOrElse(fail(s"not cached: ${df.queryExecution.withCachedData}"))
    def broadcasts(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => broadcasts(a.executedPlan)
      case q: QueryStageExec => broadcasts(q.plan)
      case b: BroadcastExchangeExec => Seq(b)
      case _ => (p.children ++ p.subqueries).flatMap(broadcasts)
    }
    for (df <- Seq(g.edges, g.vertices)) {
      val plan = cached(df).cacheBuilder.cachedPlan
      assert(broadcasts(plan).isEmpty, plan)
    }
    // a lost cache block recomputes from the stored graph
    val id = cached(g.edges).cacheBuilder.cachedColumnBuffers.id
    SparkEnv.get.blockManager.master.removeRdd(id, blocking = true)
    assert(g.edges.count() == edgeCount)
  }
}
