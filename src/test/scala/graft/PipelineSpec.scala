package graft

import java.nio.file.Files

/** The composed pipeline writes every layer, with the layouts the
  * scale design promises (bronze partitioned by source table, fact
  * clustered monthly in a Delta table). */
class PipelineSpec extends SparkSuite {

  test("pipeline writes all layers with expected layouts and rows") {
    val out = Files.createTempDirectory("pipeline_out").toString
    Pipeline.run(spark, sfDir, out)

    val tables = Seq(
      "bronze/events", "silver/events_state",
      "warehouse/dim_customer", "warehouse/dim_order_status",
      "warehouse/dim_time",
      "warehouse/mv_daily_revenue", "warehouse/mv_monthly_revenue",
      "warehouse/mv_nation_revenue", "warehouse/mv_hourly_pattern",
      "warehouse/mv_recent_revenue")
    tables.foreach { t =>
      assert(spark.read.parquet(s"$out/$t").count() > 0, s"$t is empty")
    }
    // gold publishes as versioned snapshot tables
    val goldTables = Seq("gold/orders_enriched", "gold/daily_sales_summary",
      "gold/customer_segments", "gold/product_performance")
    goldTables.foreach { t =>
      assert(sources.Snapshots.read(spark, s"$out/$t").count() > 0,
        s"$t is empty")
    }

    // layout contracts
    assert(new java.io.File(s"$out/bronze/events/_source_table=events")
      .isDirectory, "bronze not partitioned by source table")
    // the fact is a Delta table clustered on (month_key, l_orderkey):
    // per-file month spans in add.stats must be narrow (the range
    // layout), and the in-DAG recent-revenue branch must have scanned
    // a strict subset of its files through those stats
    val factDir = s"$out/warehouse/fact_order_lines"
    val factState = sources.DeltaLog.replay(factDir,
      sources.DeltaLog.versions(factDir).last)
    assert(factState.adds.size > 1, "fact should land as multiple files")
    // month_key is an INT column: its bounds ride add.stats as INT32
    // footer stats, recorded for every file
    val monthBounds = factState.adds.values.toSeq
      .map(_.longBounds.get("month_key"))
    assert(monthBounds.forall(_.isDefined),
      "every fact file must record month_key bounds")
    // span comparisons stay in yyyymm KEY units (a year boundary is a
    // jump of ~89, not 1) — per-file spans vs the global key span
    val fileSpan = monthBounds.flatten.map(b => b._2 - b._1).max
    val globalSpan =
      monthBounds.flatten.map(_._2).max - monthBounds.flatten.map(_._1).min
    assert(fileSpan < globalSpan / 4,
      s"a fact file spans $fileSpan of $globalSpan key units — not clustered")
    val metrics0 = Pipeline.lastRunMetrics
    assert(metrics0("fact_files_scanned") < metrics0("fact_files_total"),
      s"recent branch scanned ${metrics0("fact_files_scanned")}/" +
        s"${metrics0("fact_files_total")} files — pruning did nothing")
    // the fact commit's phases ride the per-layer metrics
    assert(Seq("fact_commit_ms", "fact_sidecars_ms", "fact_footer_ms",
      "fact_data_write_ms").forall(metrics0.contains),
      s"fact commit phases missing from ${metrics0.keys.toSeq.sorted}")
    // the pruned rollup equals the same rollup over the FULL fact
    val fullFact = sources.DeltaLog.read(spark, factDir)
    val maxMonth = fullFact
      .agg(org.apache.spark.sql.functions.max("month_key")).head().getInt(0)
    // the window lower bound re-derived INDEPENDENTLY (java.time), so
    // a year-boundary arithmetic bug in the product code cannot hide
    // behind an identical bug here
    val loYm = java.time.YearMonth.of(maxMonth / 100, maxMonth % 100)
      .minusMonths(Pipeline.RecentMonths - 1)
    val recompute = fullFact
      .filter(org.apache.spark.sql.functions.col("month_key")
        .between(loYm.getYear * 100 + loYm.getMonthValue, maxMonth))
      .groupBy("month_key")
      .agg(util.Cols.dsum(org.apache.spark.sql.functions.col("net_amount"), 4)
        .as("net_revenue"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_lines"))
    val recent = spark.read.parquet(s"$out/warehouse/mv_recent_revenue")
    assert(recent.exceptAll(recompute).isEmpty &&
      recompute.exceptAll(recent).isEmpty,
      "pruned recent-revenue branch diverges from the full-fact rollup")
    // year-boundary month arithmetic: 4 months back from 1999-02 is
    // 1998-11, never the nonexistent key 199899
    assert(Pipeline.monthsBack(199902L, Pipeline.RecentMonths - 1) == 199811L)
    assert(Pipeline.monthsBack(200101L, 1) == 200012L)
    assert(Pipeline.monthsBack(200108L, 3) == 200105L)

    // lineage: the bronze-sourced silver state must equal compacting
    // the raw log directly (stream→bronze→silver ≡ batch path)
    val viaBronze = spark.read.parquet(s"$out/silver/events_state")
    val direct = cdc.Cdc.silverCompaction(spark, sfDir)
    assert(viaBronze.exceptAll(direct).isEmpty &&
      direct.exceptAll(viaBronze).isEmpty,
      "bronze-sourced silver diverges from direct compaction")

    // the fact's l_orderkey bloom serves point lookups the month-major
    // layout cannot: a single order's lines read from a strict subset
    // of files, with exact parity against the full-table filter
    val someOrder = sources.DeltaLog.read(spark, factDir)
      .select("l_orderkey").head().getLong(0)
    val viaBloom = sources.DeltaLog.readWherePoint(
        spark, factDir, "l_orderkey", Seq(someOrder))
      .filter(org.apache.spark.sql.functions.col("l_orderkey") === someOrder)
    val bloomKept = sources.DeltaLog.lastFilesScanned
    assert(bloomKept < factState.adds.size,
      s"order-key bloom pruned nothing: $bloomKept/${factState.adds.size}")
    val viaFull = sources.DeltaLog.read(spark, factDir)
      .filter(org.apache.spark.sql.functions.col("l_orderkey") === someOrder)
    assert(viaBloom.count() == viaFull.count() && viaFull.count() > 0)

    // referential sanity: every fact row's order exists in gold
    val fact = sources.DeltaLog.read(spark, factDir)
    val gold = sources.Snapshots.read(spark, s"$out/gold/orders_enriched")
    assert(fact.join(gold, fact("l_orderkey") === gold("o_orderkey"),
      "left_anti").count() == 0, "fact rows reference missing orders")

    // rerun: the checkpointed bronze ingest must not re-append; gold
    // gains a version whose LATEST content is unchanged (and v0 stays
    // readable — time travel)
    val bronzeRows = spark.read.parquet(s"$out/bronze/events").count()
    Pipeline.run(spark, sfDir, out)
    assert(spark.read.parquet(s"$out/bronze/events").count() == bronzeRows,
      "pipeline rerun duplicated bronze rows")
    val goldDir = s"$out/gold/orders_enriched"
    assert(sources.Snapshots.versions(goldDir) == Seq(0, 1))
    val v0 = sources.Snapshots.readVersion(spark, goldDir, 0)
    val v1 = sources.Snapshots.read(spark, goldDir)
    assert(v0.exceptAll(v1).isEmpty && v1.exceptAll(v0).isEmpty,
      "gold rerun changed content")

    // observe-based write metrics rode the write jobs (no extra scans)
    val metrics = Pipeline.lastRunMetrics
    assert(metrics("events_state") ==
      spark.read.parquet(s"$out/silver/events_state").count())
    assert(metrics.get("mv_daily_revenue").exists(_ > 0))
  }
}
