package graft

/** Plan-shape regression guards for the parity queries: the physical
  * plans the 100 TB design depends on (pruning, pushdown, broadcast,
  * partial aggregation, top-k) must survive refactors. Assertions are
  * on executedPlan strings — coarse but stable. */
class PlansSpec extends SparkSuite
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString

  test("q158 MoR delete merges as one broadcast hash ANTI join, no extra exchange") {
    val p = plan("q158_iceberg_pos_delete")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"position deletes must apply as a broadcast anti join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "the delete side is broadcast — a sort-merge join would shuffle " +
        "the whole data scan")
  }

  test("q145 partitioned reconstruction is one scan + one broadcast join") {
    val p = plan("q145_delta_pruned_read")
    assert(p.contains("BroadcastHashJoin"),
      s"partitionValues reconstruction must broadcast the file map:\n$p")
    // one parquet scan of the kept files — not a per-partition union
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"expected exactly one data scan:\n$p")
  }

  test("q176 pushdown re-applies the predicate INTO the parquet scan") {
    // file pruning happens driver-side; the exact predicate must then
    // still reach the surviving files' scan as parquet PushedFilters
    // — both layers, not either
    val p = plan("q176_delta_pushdown")
    assert(p.contains("PushedFilters: [") &&
      p.contains("LessThanOrEqual(o_custkey,750)"),
      s"the custkey bound must reach the parquet reader:\n$p")
  }

  test("q177 hidden-bucket pushdown stays a single plain scan") {
    // bucket pruning is metadata; the data files carry the full
    // schema, so the plan is one parquet scan with the key predicate
    // pushed — no join, no reconstruction
    val p = plan("q177_iceberg_pushdown")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"one scan:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"hidden-partition reads need no reconstruction join:\n$p")
    assert(p.contains("EqualTo(o_custkey,42)"),
      s"the key predicate must reach the parquet reader:\n$p")
  }

  test("q03 daily summary prunes the orders scan to the 3 needed columns") {
    val p = plan("q03_daily_sales_summary")
    assert(p.contains("ReadSchema: struct<o_custkey"))
    assert(!p.contains("o_orderpriority"), "scan reads unneeded columns")
  }

  test("q03 daily summary aggregates partially before the exchange") {
    val p = plan("q03_daily_sales_summary")
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("q06 enrichment broadcasts dims and shuffle-joins the big sides") {
    val p = plan("q06_orders_enriched")
    assert(p.contains("BroadcastHashJoin"), "nation/region should broadcast")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "orders⋈customer should be a shuffle join (both sides big at scale)")
  }

  test("q08 fact build honors the broadcast hint with no probe-side shuffle") {
    val p = plan("q08_fact_order_lines")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Exchange hashpartitioning(l_orderkey"),
      "lineitem must stream through the broadcast join unshuffled")
  }

  test("q21 top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("q21_top_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("hive-partitioned write prunes non-matching partitions at the scan") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("prune").toString
    Tables.load(spark, sfDir, "events")
      .withColumn("event_date",
        date_format(col("ts"), "yyyy-MM-dd"))
      .write.partitionBy("event_date").mode("overwrite").parquet(tmp)
    val dates = spark.read.parquet(tmp)
      .select(col("event_date").cast("string"))
      .distinct().collect().map(_.getString(0)).sorted
    assert(dates.length > 1, "need >1 partition for a pruning test")
    val one = spark.read.parquet(tmp)
      .filter(col("event_date").cast("string") === dates.head)
    val p = one.queryExecution.executedPlan.toString
    // the partition predicate must be resolved against the directory
    // layout (PartitionFilters), not evaluated per row after the scan
    assert(p.contains("PartitionFilters: [") &&
      p.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)].*", "$1")
        .contains("event_date"), s"no partition pruning in:\n$p")
    val scanned = one.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }
    assert(scanned.contains(1),
      s"expected exactly 1 of ${dates.length} partitions scanned, got $scanned")
  }

  test("join-strategy hints are honored: shuffle_hash beats sort-merge on demand") {
    import org.apache.spark.sql.functions.col
    val o = Tables.load(spark, sfDir, "orders")
    val c = Tables.load(spark, sfDir, "customer").hint("shuffle_hash")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = o.join(c, col("o_custkey") === col("c_custkey"))
        .queryExecution.executedPlan.toString
      assert(p.contains("ShuffledHashJoin"), p)
      assert(!p.contains("SortMergeJoin"),
        "hint ignored — sort-merge chosen over shuffled hash")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q70 window suite computes all eight functions in one exchange") {
    val p = plan("q70_window_suite")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$p")
  }

  test("q24 bucket filter pushes down to the parquet scan") {
    val p = plan("q24_part_buckets")
    assert(p.contains("PushedFilters: [") &&
      (p.contains("PushedFilters: [IsNotNull") ||
        p.contains("GreaterThan") || p.contains("LessThan")),
      s"no pushed filters in:\n$p")
  }

  test("q53 as-of join costs exactly one hash exchange on the key") {
    val p = plan("q53_asof_snapshots")
    val exchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(p).length
    assert(exchanges <= 2, // union sides may each show one pre-AQE
      s"as-of join shuffles more than the union+window design:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "as-of must not fall back to a range join")
  }

  test("q36 exact near-dup runs as equi-joins — no nested-loop node") {
    val p = plan("q36_embedding_near_dup")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"q36 fell back to an all-pairs loop join:\n$p")
  }

  test("q37 exact knn broadcasts the query side, not the corpus") {
    val p = plan("q37_knn_brute_force")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("q39 ivf assign is a Window-free partial-aggregated argmin") {
    val p = plan("q39_ivf_assign")
    assert(!p.contains("Window"),
      s"argmin fell back to a row_number window (N×k sort):\n$p")
    assert(p.contains("partial_min"),
      s"argmin must map-side combine before the exchange:\n$p")
  }

  test("q56 refined assign keeps both assignment passes Window-free") {
    val p = plan("q56_ivf_refined_assign")
    assert(!p.contains("Window"),
      s"argmin fell back to a row_number window (N×k sort):\n$p")
  }

  test("q90/q95 hard negatives rank via the k-bounded aggregate, not a Window") {
    // the q39/q56 precedent generalized to top-k: the scored N_q×N
    // rows must never pass through a row_number sort — each partition
    // emits at most k candidates per query via top_k_min
    Seq("q90_hard_negatives", "q95_hard_negatives_ann",
        "q99_top_per_customer").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q fell back to a row_number window (N_q×N sort):\n$p")
      assert(p.contains("top_k_min"),
        s"$q must rank through the BoundedTopK aggregate:\n$p")
    }
  }

  test("q94 minhash chain reads its cached labels, never the shingle explode") {
    // the chain's plan must source the localCheckpoint'd label table
    // (Scan ExistingRDD); a plan that re-runs the signature build
    // would double the dominant cost on every invocation
    val p = plan("q94_minhash_clusters")
    assert(p.contains("ExistingRDD"),
      s"q94 does not read the checkpointed chain labels:\n$p")
    assert(!p.contains("Generate"),
      s"q94 must never re-run the shingle explode:\n$p")
  }

  test("q96/q87 reuse the session-cached IVF assignment") {
    Seq("q96_semdedup_cells", "q87_ivf_diversity").foreach { q =>
      val p = plan(q)
      assert(p.contains("InMemoryTableScan"),
        s"$q recomputes the cell assignment instead of reading the cache:\n$p")
    }
  }

  test("q100 z-layout sorts range-partitioned — no single-reducer funnel") {
    // the only SinglePartition allowed is the 1-row min/max bounds
    // aggregate; the DATA path must be a distributed range sort with
    // no global rank window
    val p = plan("q100_zorder_layout")
    assert(p.contains("rangepartitioning"),
      s"z-order rewrite must be a distributed range sort:\n$p")
    assert(!p.contains("Window"), s"no global rank window:\n$p")
  }

  test("q102 quantile contract is Window-free with partial aggregation") {
    val p = plan("q102_approx_quantiles")
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_"),
      s"quantile aggregates must map-side combine:\n$p")
  }

  test("q88/q89 reuse their cached sketch tables instead of recomputing") {
    // the signature/sketch aggregates must come from InMemoryRelation
    // (the materialize-once cache) — a plan that re-runs the shingle
    // or token explode would double the dominant cost
    Seq("q88_minhash_jaccard", "q89_simhash_neardup").foreach { q =>
      val p = plan(q)
      assert(p.contains("InMemoryTableScan"),
        s"$q does not read the persisted sketch cache:\n$p")
    }
  }

  test("q89 band join is an equi-join, never a nested loop") {
    val p = plan("q89_simhash_neardup")
    assert(!p.contains("NestedLoop"), s"q89 planned a nested loop:\n$p")
  }

  test("q91 chunking is a pure generator — no exchange before the sort") {
    val p = plan("q91_doc_chunks")
    assert(!p.contains("hashpartitioning"),
      s"chunking flatMap must not shuffle:\n$p")
    assert(p.contains("Generate"), s"expected a generator node:\n$p")
  }

  test("q105/q107 analytics stay equi-join only, keyed on user_id") {
    Seq("q105_retention_cohorts", "q107_funnel_stages").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q fell back to a non-equi join:\n$p")
    }
    // the funnel must never window over the raw event stream
    assert(!plan("q107_funnel_stages").contains("Window"))
    // the cohort-size read-back is a window over the tiny cohort×offset
    // table — q105 needs NO join at all (and so no second events pass)
    val p105 = plan("q105_retention_cohorts")
    assert(p105.contains("Window") && !p105.contains("Join"), p105)
  }

  test("q112 ADC search is Window-free and reads the cached code table") {
    val p = plan("q112_knn_pq")
    assert(!p.contains("Window"),
      s"shortlist fell back to a row_number window:\n$p")
    assert(p.contains("top_k_min"),
      s"shortlist must rank through the BoundedTopK aggregate:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"q112 recomputes the PQ code table instead of reading the cache:\n$p")
  }

  test("q108 repeated spans: generator + hash joins, nothing quadratic") {
    val p = plan("q108_repeated_spans")
    assert(p.contains("Generate"), s"expected the window explode:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q108 planned an all-pairs join:\n$p")
  }

  test("q97/q108 windows come from the native kernel: no lambda, no distinct count") {
    for (q <- Seq("q97_bigram_familiarity", "q108_repeated_spans")) {
      val p = plan(q)
      assert(!p.toLowerCase.contains("lambdafunction"),
        s"$q builds its windows through a per-element lambda:\n$p")
    }
    val p = plan("q108_repeated_spans")
    assert(!p.toLowerCase.contains("count(distinct"),
      s"q108 repeated-span test plans a distinct count:\n$p")
  }

  test("q113/q114/q115 plan as the canonical TPC-H shapes") {
    // Q1: one scan, date filter pushed to parquet, map-side partials
    val p1 = plan("q113_pricing_summary")
    assert(p1.contains("PushedFilters: [") && p1.contains("l_shipdate"),
      s"Q1 ship-date filter not pushed:\n$p1")
    assert(p1.contains("partial_"), s"Q1 must map-side combine:\n$p1")
    // Q3: top-10 via TakeOrderedAndProject, never a global sort
    val p3 = plan("q114_shipping_priority")
    assert(p3.contains("TakeOrderedAndProject"), p3)
    // Q5: dimensions broadcast; no cartesian fallback anywhere
    val p5 = plan("q115_local_volume")
    assert(p5.contains("BroadcastHashJoin"), p5)
    assert(!p5.contains("CartesianProduct") &&
      !p5.contains("BroadcastNestedLoopJoin"), p5)
    // Q18: aggregate-subquery join plans as equi-joins + top-100 via
    // TakeOrderedAndProject, with the lineitem rollup map-side combined
    val p18 = plan("q118_large_volume")
    assert(p18.contains("TakeOrderedAndProject"), p18)
    assert(p18.contains("partial_"), p18)
    assert(!p18.contains("CartesianProduct") &&
      !p18.contains("BroadcastNestedLoopJoin"), p18)
  }

  test("q116 correlated subquery decorrelates into joins (no per-row subquery)") {
    val p = plan("q116_sql_correlated")
    assert(!p.toLowerCase.contains("scalarsubquery"),
      s"correlated subquery not decorrelated:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q119/q120/q121 EXISTS tiers decorrelate into semi/anti joins") {
    // Q4 shape: the EXISTS (with its extra non-equi correlated
    // predicate) must become ONE left-semi join; both date filters on
    // orders push to the parquet scan; no per-row subquery remains
    val p19 = plan("q119_late_exists")
    assert(p19.contains("LeftSemi"), s"Q4 EXISTS not a semi join:\n$p19")
    assert(p19.contains("PushedFilters: [") && p19.contains("o_orderdate"),
      s"Q4 date filters not pushed:\n$p19")
    assert(!p19.toLowerCase.contains("subquery"),
      s"Q4 kept a per-row subquery:\n$p19")
    // Q21 shape: EXISTS -> left-semi AND NOT EXISTS -> left-anti over
    // the same table, the supplier/nation dims broadcast, and nothing
    // degenerates into a nested-loop or cartesian fallback
    val p20 = plan("q120_waiting_supplier")
    assert(p20.contains("LeftSemi") && p20.contains("LeftAnti"),
      s"Q21 EXISTS/NOT EXISTS not semi+anti joins:\n$p20")
    assert(!p20.toLowerCase.contains("subquery"),
      s"Q21 kept a per-row subquery:\n$p20")
    assert(!p20.contains("CartesianProduct") &&
      !p20.contains("BroadcastNestedLoopJoin"), p20)
    // Q22 shape: the NOT EXISTS decorrelates into a left-anti join;
    // the scalar subquery is UNcorrelated so it may remain as a
    // once-evaluated scalar (that IS the efficient plan) — what must
    // not appear is any join-shaped fallback scanning per row
    val p21 = plan("q121_dormant_customers")
    assert(p21.contains("LeftAnti"), s"Q22 NOT EXISTS not an anti join:\n$p21")
    assert(!p21.contains("CartesianProduct") &&
      !p21.contains("BroadcastNestedLoopJoin"), p21)
  }

  test("q122 Q13 plans the filtered outer join + stacked aggregates") {
    val p = plan("q122_order_distribution")
    assert(p.contains("LeftOuter"), s"Q13 lost the outer join:\n$p")
    // the priority filter sits in the join, pushed to the orders scan
    // as a plain predicate (it only removes right-side rows)
    assert(p.contains("partial_count"), s"Q13 must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q125/q126 Q17-correlated-aggregate and Q19-disjunction shapes") {
    // Q17: the per-part average must decorrelate into ONE aggregate of
    // lineitem joined back — no scalar-subquery node, no re-scan per row
    val p25 = plan("q125_small_qty_revenue")
    assert(!p25.toLowerCase.contains("scalarsubquery"),
      s"Q17 correlated aggregate not decorrelated:\n$p25")
    assert(p25.contains("partial_"), s"Q17 must map-side combine:\n$p25")
    assert(!p25.contains("CartesianProduct") &&
      !p25.contains("BroadcastNestedLoopJoin"), p25)
    // Q19: the OR-of-conjunctions stays a FILTER over one equi-join —
    // the classic failure is planning it as a nested-loop join
    val p26 = plan("q126_brand_ranges")
    assert(p26.contains("BroadcastHashJoin") ||
      p26.contains("SortMergeJoin") || p26.contains("ShuffledHashJoin"),
      s"Q19 lost the equi-join:\n$p26")
    assert(!p26.contains("CartesianProduct") &&
      !p26.contains("BroadcastNestedLoopJoin"), p26)
    // Q14: one lineitem scan with the ship-date window pushed to
    // parquet; both conditional sums ride the same partial aggregate
    val p27 = plan("q127_promo_revenue")
    assert(p27.contains("PushedFilters: [") && p27.contains("l_shipdate"),
      s"Q14 date window not pushed:\n$p27")
    assert(p27.contains("partial_"), s"Q14 must map-side combine:\n$p27")
  }

  test("q130/q131 Q2-min-cost and Q20-IN-chain decorrelate to joins") {
    // Q2: the correlated min over the region-joined ps CTE must become
    // an aggregate joined back on ps_partkey — no per-row subquery, no
    // nested-loop fallback, and the min itself partial-aggregates
    val p30 = plan("q130_min_cost_supplier")
    assert(!p30.toLowerCase.contains("scalarsubquery"),
      s"Q2 correlated min not decorrelated:\n$p30")
    assert(p30.contains("partial_min"), s"Q2 min must map-side combine:\n$p30")
    assert(!p30.contains("CartesianProduct") &&
      !p30.contains("BroadcastNestedLoopJoin"), p30)
    // Q20: both IN levels become left-semi joins and the correlated
    // availqty sum becomes one (partkey, suppkey) aggregate — nothing
    // re-scans lineitem per supplier
    val p31 = plan("q131_excess_stock")
    assert(p31.contains("LeftSemi"), s"Q20 IN-chain not semi joins:\n$p31")
    assert(!p31.toLowerCase.contains("scalarsubquery"),
      s"Q20 correlated sum not decorrelated:\n$p31")
    assert(!p31.contains("CartesianProduct") &&
      !p31.contains("BroadcastNestedLoopJoin"), p31)
  }

  test("q135-q141 second decision-support tranche plans clean") {
    // Q6: pure pushdown — all three filters reach the parquet scan,
    // 4-column read schema, map-side partial aggregate
    val p35 = plan("q135_forecast_revenue")
    assert(p35.contains("PushedFilters: [") && p35.contains("l_shipdate") &&
      p35.contains("l_discount") && p35.contains("l_quantity"),
      s"Q6 filters not pushed:\n$p35")
    assert(p35.contains("partial_"), s"Q6 must map-side combine:\n$p35")
    // Q7/Q8: the deep snowflake joins keep every dim broadcast and
    // never degenerate
    Seq("q136_volume_shipping", "q137_market_share").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost broadcast dims:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
    }
    // Q9: the two-key cost join is an equi-join over ONE aggregate of
    // lineitem — no per-row anything
    val p38 = plan("q138_product_profit")
    assert(!p38.toLowerCase.contains("scalarsubquery"), p38)
    assert(!p38.contains("CartesianProduct") &&
      !p38.contains("BroadcastNestedLoopJoin"), p38)
    // Q10: ordered top-20 must plan as TakeOrderedAndProject, not a
    // global sort
    val p39 = plan("q139_returned_items")
    assert(p39.contains("TakeOrderedAndProject"),
      s"Q10 top-k lost TakeOrderedAndProject:\n$p39")
    // Q15: the uncorrelated max() evaluates once as a scalar (that IS
    // the efficient plan); what must not appear is a join-shaped
    // per-row fallback
    val p40 = plan("q140_top_supplier")
    assert(!p40.contains("CartesianProduct") &&
      !p40.contains("BroadcastNestedLoopJoin"), p40)
    // Q16: the NOT IN exclusion becomes an anti join
    val p41 = plan("q141_part_supplier_counts")
    assert(p41.contains("LeftAnti"), s"Q16 NOT IN not an anti join:\n$p41")
    assert(!p41.contains("CartesianProduct") &&
      !p41.contains("BroadcastNestedLoopJoin"), p41)
    // Q11: the HAVING's uncorrelated total evaluates once as a scalar;
    // no join-shaped per-row fallback
    val p42 = plan("q142_important_stock")
    assert(!p42.contains("CartesianProduct") &&
      !p42.contains("BroadcastNestedLoopJoin"), p42)
    // Q12: the conditional counts ride ONE join + one partial-agg pass
    val p43 = plan("q143_priority_crosstab")
    assert(p43.contains("partial_"), s"Q12 must map-side combine:\n$p43")
    assert(!p43.contains("CartesianProduct") &&
      !p43.contains("BroadcastNestedLoopJoin"), p43)
  }

  test("q105 retention shuffles the event stream exactly once") {
    // the per-user aggregation is the only exchange keyed on user_id;
    // everything downstream works on user- or day-sized tables
    val p = plan("q105_retention_cohorts")
    val userExchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(p).length
    assert(userExchanges <= 1,
      s"events shuffled more than once on user_id:\n$p")
  }

  test("q92 corpus report is one scan + one aggregation exchange") {
    val p = plan("q92_corpus_report")
    // two-phase distinct-aggregate planning keys every exchange on
    // source (or source+fp for the distinct): no other shuffle keys
    val exchanges = "hashpartitioning\\(([a-z_#0-9, ]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty)
    exchanges.foreach(k => assert(k.contains("source"),
      s"q92 exchange keyed off-source ($k):\n$p"))
  }

  /** The aggregate functions of every aggregate operator of `p`, and
    * the buffers among them wider than a long-backed decimal(18). */
  private def aggFunctions(p: org.apache.spark.sql.execution.SparkPlan) = {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.types.DecimalType
    val fns = collect(p) { case a: BaseAggregateExec => a }
      .flatMap(_.aggregateExpressions.map(_.aggregateFunction))
    val wide = fns.flatMap(_.aggBufferAttributes).filter(_.dataType match {
      case d: DecimalType => d.precision > 18
      case _ => false
    })
    (fns, wide)
  }

  test("q113/q03 money sums keep fixed-width hash-aggregate buffers") {
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    Seq("q113_pricing_summary", "q03_daily_sales_summary").foreach { q =>
      val p = SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan
      val aggs = collect(p) { case h: HashAggregateExec => h }
      assert(aggs.nonEmpty, s"$q has no hash aggregate:\n$p")
      // Cols.dsum/davg run on the money kernel: long buffers, no
      // decimal(28,s) sum and no double-typed decimal first() carry
      val (fns, wide) = aggFunctions(p)
      assert(fns.exists(_.isInstanceOf[graft.functions.MoneySum]), s"$q:\n$p")
      assert(wide.isEmpty, s"$q holds variable-width decimal buffers $wide:\n$p")
      val fallback = collect(p) {
        case a: SortAggregateExec => a
        case a: ObjectHashAggregateExec => a
      }
      assert(fallback.isEmpty, s"$q left the hash-aggregate path:\n$p")
    }
  }

  test("q01 distinct counts run on the set kernel: no Expand, fixed-width money buffers") {
    import org.apache.spark.sql.execution.ExpandExec
    import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
    val p = SparkEntry.queries("q01_order_items_rollup")(spark, sfDir)
      .queryExecution.executedPlan
    val (fns, wide) = aggFunctions(p)
    assert(fns.exists(_.isInstanceOf[graft.functions.MoneySum]), p)
    assert(wide.isEmpty, s"variable-width decimal buffers $wide:\n$p")
    assert(collect(p) { case e: ExpandExec => e }.isEmpty,
      s"the distinct counts went through Spark's Expand rewrite:\n$p")
    assert(collect(p) { case a: SortAggregateExec => a }.isEmpty, p)
    assert("Exchange hashpartitioning".r.findAllIn(p.toString).size == 1,
      s"one hash exchange, on l_orderkey:\n$p")
    val objAggs = collect(p) { case a: ObjectHashAggregateExec => a }
    assert(objAggs.nonEmpty, p)
    objAggs.foreach(a => assert(a.aggregateExpressions.exists(
      _.aggregateFunction.isInstanceOf[graft.functions.SmallDistinct]),
      s"an object aggregate without the set kernel:\n$a"))
  }

  test("q03 and mvDailyRevenue keep Spark's distinct planning (unbounded groups)") {
    import org.apache.spark.sql.execution.ExpandExec
    // a day's fan-in is not bounded: its distinct counts must stay on
    // Spark's spillable aggregation, never the per-group heap set
    Seq("q03_daily_sales_summary" -> false, "q14_mv_daily_revenue" -> true)
      .foreach { case (q, expand) =>
        val p = SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan
        val (fns, _) = aggFunctions(p)
        assert(!fns.exists(_.isInstanceOf[graft.functions.SmallDistinct]), s"$q:\n$p")
        // one distinct column plans as a distinct aggregate, two through
        // RewriteDistinctAggregates' Expand
        if (expand) assert(collect(p) { case e: ExpandExec => e }.nonEmpty, s"$q:\n$p")
        else assert(collect(p) {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }.exists(_.aggregateExpressions.exists(_.isDistinct)), s"$q:\n$p")
      }
  }
}
