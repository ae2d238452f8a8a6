package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed medallion pipeline — the reference's four jobs
  * (streaming_bronze → batch_silver → batch_gold → load_warehouse) as
  * one runnable DAG over the testdata, persisting every layer:
  *
  *   bronze/   streamed CDC envelope, partitioned by source table
  *   silver/   compacted latest-per-key state
  *   gold/     4 business tables (reference: batch_gold.py:266-280)
  *   warehouse/ star schema (dims + fact) + 4 MV rollups
  *
  * Layout decisions carry the reference's scale posture: bronze is
  * Hive-partitioned by `_source_table` (streaming_bronze.py:102), the
  * fact publishes as a Delta table range-clustered on
  * (month_key, l_orderkey) (≡ ClickHouse `PARTITION BY toYYYYMM` +
  * `ORDER BY`, 03_fact_tables.sql:53-55) so month- or order-bounded
  * readers skip files through `add.stats` and the `_bloom` sidecar,
  * and every write is an idempotent overwrite (the reference's
  * TRUNCATE-then-load, S7).
  *
  * `main` runs it end-to-end: `runMain graft.Pipeline <sfDir> <outDir>`.
  */
object Pipeline {

  /** All layer outputs, in dependency order. Each stage logs its wall
    * time into [[lastRunMetrics]] (`<stage>_ms`) — the per-layer
    * duration a production scheduler alerts on, and the profiling
    * surface for the q84 end-to-end gate. */
  def run(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    lastRunMetrics.clear()
    // FOUR independent branches run as concurrent Spark job groups:
    // (bronze → silver) is the only intra-branch dependency; gold,
    // warehouse and MV source the typed lake tables directly (see the
    // gold note below), so end-to-end wall time is max(branch), not
    // sum — the shape the reference gets from running its batch
    // scripts as separate applications against one cluster.
    inParallel(spark,
      () => {
        // ---- bronze (streaming; its own checkpoint under outDir)
        timed("bronze") {
          streaming.Bronze.ingest(spark,
            stageEventsDir(sfDir, outDir), s"$outDir/bronze/events",
            s"$outDir/_checkpoints/bronze_events")
        }
        // ---- silver: compacted current state, read FROM THE BRONZE
        // SINK (the reference's layer chaining: batch_silver.py reads
        // the bronze Delta written by streaming_bronze.py)
        timed("silver") {
          write(cdc.Cdc.silverFromBronze(spark, s"$outDir/bronze/events"),
            s"$outDir/silver/events_state")
        }
      },
      () => goldLayer(spark, sfDir, outDir),
      () => warehouseLayer(spark, sfDir, outDir),
      () => mvLayer(spark, sfDir, outDir))
  }

  private def goldLayer(spark: SparkSession, sfDir: String,
                        outDir: String): Unit = {

    // ---- gold: the reference's four business tables. These source
    // the typed lake tables directly BY DESIGN: the reference's
    // silver zone is "cleaned, typed copies of the 8 OLTP tables"
    // (batch_silver.py), and the driver's TPC-H-ish substrate IS that
    // zone already — only the events CDC log has a raw form, and its
    // bronze→silver lineage is exercised above.
    //
    // Gold publishes as VERSIONED SNAPSHOTS (sources.Snapshots): the
    // reference's TRUNCATE-then-load (S7) leaves dashboards a visible
    // empty window between truncate and load-complete; a snapshot
    // commit swaps atomically (readers see the old version until
    // _SUCCESS lands) and keeps history for time travel.
    // Every commit builds the SINK layout (graft.Layout): no
    // presentation sort, and key-fanned scans where q84 measured them
    // to pay; the declared queries keep their sorts and plain scans.
    timed("gold") {
      inParallel(spark,
        () => snapshotCommit(
          gold.Enrich.ordersEnriched(spark, sfDir, Layout.Sink), s"$outDir/gold/orders_enriched"),
        () => snapshotCommit(
          gold.Summaries.dailySalesSummary(spark, sfDir, Layout.Sink), s"$outDir/gold/daily_sales_summary"),
        () => snapshotCommit(
          gold.Summaries.customerSegments(spark, sfDir, Layout.Sink), s"$outDir/gold/customer_segments"),
        () => snapshotCommit(
          gold.Summaries.productPerformance(spark, sfDir, Layout.Sink), s"$outDir/gold/product_performance"))
    }
  }

  /** Range partitions of the fact table — each output file is a
    * contiguous (month, order) block, so `add.stats` prunes
    * month-range scans to a few files. 32 matches the suite's shuffle
    * parallelism; at 100 TB raise it until files sit near the 128 MB
    * parquet sweet spot (the layout logic is volume-independent). */
  val FactRangeFiles = 32

  /** Months of fact history the recent-revenue branch reads. */
  val RecentMonths = 4

  /** The yyyymm key `n` months before `yyyymm` — IN MONTHS, not key
    * units: plain subtraction on yyyymm keys jumps ~89 at every year
    * boundary (199902 − 3 = 199899, a key no month has), silently
    * shrinking any "last N months" window that crosses a year.
    * Round-trip through linear months instead; yyyymm ordering is
    * monotonic with real months, so a BETWEEN over the converted
    * bounds is exact. */
  private[graft] def monthsBack(yyyymm: Long, n: Int): Long = {
    val linear = (yyyymm / 100) * 12 + (yyyymm % 100 - 1) - n
    (linear / 12) * 100 + (linear % 12 + 1)
  }

  /** Warehouse: star schema; the fact publishes as a Delta table
    * CLUSTERED on (month_key, l_orderkey) — the liquid-clustering
    * spelling of the reference's monthly partitioning (ClickHouse
    * PARTITION BY toYYYYMM + ORDER BY, 03_fact_tables.sql:53-55): a
    * range repartition writes contiguous (month, order) blocks, the
    * commit records per-file min/max in `add.stats`, and month- or
    * order-bounded readers skip files through the log instead of
    * directory names. Directory partitioning prunes exactly one
    * column; the stats prune BOTH dimensions of the clustering key.
    *
    * The recent-revenue branch is the in-DAG consumer of that layout:
    * it resolves the newest [[RecentMonths]] months FROM THE REPLAYED
    * `add.stats` (metadata, no data scan), reads only intersecting
    * files, and publishes the monthly rollup. File counts land
    * in [[lastRunMetrics]] (`fact_files_scanned`/`fact_files_total`)
    * so the spec — and a production freshness dashboard — can assert
    * the branch actually skipped. */
  private def warehouseLayer(spark: SparkSession, sfDir: String,
                             outDir: String): Unit = {
    timed("warehouse") {
      inParallel(spark,
        () => write(warehouse.Star.dimCustomer(spark, sfDir, Layout.Sink), s"$outDir/warehouse/dim_customer"),
        () => write(warehouse.Star.dimOrderStatus(spark, sfDir, Layout.Sink), s"$outDir/warehouse/dim_order_status"),
        () => write(warehouse.DateDim.dimTime(spark, sfDir, Layout.Sink), s"$outDir/warehouse/dim_time"),
        () => {
          val factDir = s"$outDir/warehouse/fact_order_lines"
          // persist the joined fact for THIS commit only:
          // repartitionByRange's range-boundary sampling job would
          // otherwise execute the whole dim-join child a second time
          // before the shuffle does (guide §2.4: don't recompute what
          // one pass already produced). Unpersisted in the finally —
          // nothing outlives the run.
          val factSrc = warehouse.Star.factOrderLines(spark, sfDir, Layout.Sink)
            .withColumn("month_key",
              col("date_key").cast("int").divide(100).cast("int"))
            .persist()
          try {
          def recentRollup(df: DataFrame): DataFrame = Layout.Sink.present(
            df.groupBy(col("month_key"))
              .agg(util.Cols.dsum(col("net_amount"), 4).as("net_revenue"),
                count(lit(1)).as("n_lines")),
            col("month_key"))
          // empty-in/empty-out (the JDBC round trip's contract): an
          // empty fact has no month bounds to prune on, so land an
          // empty MV with the rollup's own schema and skip the commit.
          // limit-1 existence probe, not a full scan.
          if (factSrc.isEmpty) {
            lastRunMetrics.put("fact_files_scanned", 0L)
            lastRunMetrics.put("fact_files_total", 0L)
            write(recentRollup(factSrc.limit(0)),
              s"$outDir/warehouse/mv_recent_revenue")
          } else {
          val fact = factSrc
            .repartitionByRange(FactRangeFiles,
              col("month_key"), col("l_orderkey"))
            .sortWithinPartitions("month_key", "l_orderkey")
          // add.stats min/max serve the month-range branch below; the
          // l_orderkey BLOOM serves point lookups ("all lines of
          // order X") that the month-major sort leaves unprunable —
          // per-file orderkey spans are wide inside each month block
          timed("fact_commit") {
            observed(fact, "fact_order_lines") { df =>
              if (sources.DeltaLog.versions(factDir).isEmpty)
                sources.DeltaLog.createTable(factDir, df.schema, Seq.empty,
                  Map(sources.DeltaLog.BloomColsProp -> "l_orderkey"))
              sources.DeltaLog.commitOverwrite(df, factDir)
            }
          }
          // commit-phase attribution rides the metrics dump (dev seam)
          sources.DeltaLog.lastCommitPhases.foreach { case (k, v) =>
            lastRunMetrics.put(s"fact_$k", v) }
          timed("fact_recent") {
          // recent slice: the max bound, the pruning decision and the
          // pruned file list all derive from ONE replayed state
          val st = sources.DeltaLog.replay(factDir,
            sources.DeltaLog.versions(factDir).last)
          val monthMaxes = st.adds.values
            .flatMap(_.longBounds.get("month_key")).map(_._2)
          require(monthMaxes.nonEmpty,
            s"$factDir recorded no month_key bounds in add.stats")
          val maxMonth = monthMaxes.max
          val loMonth = monthsBack(maxMonth, RecentMonths - 1)
          val kept = sources.DeltaLog.statsPruned(st,
            Seq(("month_key", loMonth, maxMonth)))
          lastRunMetrics.put("fact_files_scanned", kept.adds.size.toLong)
          lastRunMetrics.put("fact_files_total", st.adds.size.toLong)
          write(recentRollup(sources.DeltaLog.scanState(spark, factDir, kept)
            .filter(col("month_key").between(loMonth, maxMonth))),
            s"$outDir/warehouse/mv_recent_revenue")
          }
          }
          } finally { factSrc.unpersist(); () }
        })
    }
  }

  /** MV layer: rollups over the fact/base tables. */
  private def mvLayer(spark: SparkSession, sfDir: String,
                      outDir: String): Unit = {
    // the sink layout, as in the gold layer
    timed("mv") {
      inParallel(spark,
        () => write(warehouse.Views.mvDailyRevenue(spark, sfDir, Layout.Sink), s"$outDir/warehouse/mv_daily_revenue"),
        () => write(warehouse.Views.mvMonthlyRevenue(spark, sfDir, Layout.Sink), s"$outDir/warehouse/mv_monthly_revenue"),
        () => write(warehouse.Views.mvNationRevenue(spark, sfDir, Layout.Sink), s"$outDir/warehouse/mv_nation_revenue"),
        () => write(warehouse.Views.mvHourlyPattern(spark, sfDir, Layout.Sink), s"$outDir/warehouse/mv_hourly_pattern"))
    }
  }

  private def timed(stage: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    lastRunMetrics.put(s"${stage}_ms", (System.nanoTime() - t0) / 1000000)
    ()
  }

  /** Submit independent table builds as concurrent Spark jobs and
    * barrier on all of them (failures propagate). A dedicated
    * one-thread-per-task pool — NOT the shared global EC — because the
    * tasks block on Spark actions and calls nest (branch → per-table):
    * blocking a bounded shared pool from nested levels can starve it
    * into deadlock, while pool-per-call keeps every blocked level
    * progressing. Driver-side threads are cheap at this fan-out (≤12);
    * the real parallelism lives in the Spark scheduler, which
    * fair-shares executor slots among the submitted jobs.
    *
    * Each task runs under its own Spark JOB GROUP (thread-local, set
    * inside the worker thread, `interruptOnCancel = true`), so a
    * barrier failure or the 30-minute timeout doesn't leave orphaned
    * jobs running: every group is cancelled and the pool is
    * `shutdownNow()`-interrupted before the error propagates. */
  private def inParallel(spark: SparkSession, tasks: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val sc = spark.sparkContext
    val stamp = java.util.UUID.randomUUID.toString.take(8)
    val groups = tasks.indices.map(i => s"graft-par-$stamp-$i")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    val all = Future.sequence(tasks.zip(groups).map { case (t, g) =>
      Future {
        sc.setJobGroup(g, s"Pipeline branch $g", interruptOnCancel = true)
        // each branch is its own scheduler pool: under FAIR mode the
        // pools split executor slots evenly, so a long-chain branch
        // (mv_daily's 4-stage aggregate) is never starved behind an
        // earlier branch's wide stages (guide §2.6). Thread-local and
        // inherited by nested inParallel threads; a FIFO-mode context
        // ignores the property entirely, so this is inert unless the
        // deployment opts into FAIR.
        sc.setLocalProperty("spark.scheduler.pool", g)
        try t() finally {
          sc.setLocalProperty("spark.scheduler.pool", null)
          sc.clearJobGroup()
        }
      }
    })
    try Await.result(all, 30.minutes)
    catch { case e: Throwable =>
      groups.foreach(sc.cancelJobGroup) // stop in-flight Spark jobs
      pool.shutdownNow()                // interrupt blocked task threads
      throw e
    }
    finally pool.shutdown()
    ()
  }

  /** Per-layer write metrics collected via `Dataset.observe` — row
    * counts ride the write job itself (an accumulator fed during the
    * action) instead of a second count() scan per table, plus
    * per-stage wall times (`<stage>_ms`); a production pipeline ships
    * these to its metrics sink for freshness/volume alerting.
    * Thread-safe (concurrent branch writers), cleared at the start of
    * each [[run]]. */
  val lastRunMetrics: collection.mutable.Map[String, Long] =
    scala.collection.concurrent.TrieMap.empty

  private def observed(df: DataFrame, name: String)
      (action: DataFrame => Unit): Unit = {
    val obs = new org.apache.spark.sql.Observation(
      s"write_${name}_${System.nanoTime()}")
    val t0 = System.nanoTime()
    action(df.observe(obs, org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("n_rows")))
    lastRunMetrics.put(s"${name}_ms", (System.nanoTime() - t0) / 1000000)
    lastRunMetrics.put(name, obs.get("n_rows").asInstanceOf[Long])
    ()
  }

  private def write(df: DataFrame, path: String,
                    partitionCols: Seq[String] = Seq.empty): Unit =
    observed(df, path.replaceAll(".*/", ""))(
      _.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path))

  /** Gold-layer commits ride the same observe-backed metrics as plain
    * writes — the snapshot path must not bypass volume alerting (the
    * observation attaches to the commit's own write job). */
  private def snapshotCommit(df: DataFrame, tableDir: String): Unit =
    observed(df, tableDir.replaceAll(".*/", ""))(
      sources.Snapshots.commit(_, tableDir))

  /** q84 — the composed DAG as a gated query: run the FULL medallion
    * pipeline (streaming bronze → silver compaction → gold snapshot
    * commits → warehouse star + MVs) into a fresh directory, then read
    * one gold table back FROM ITS COMMITTED SNAPSHOT. The DuckDB
    * oracle is q03's SQL, so the gate proves the end-to-end DAG —
    * including the stream ingest, every layer write, and the
    * Snapshots commit/read round trip — reproduces the direct
    * batch-query result bit-for-bit. Always cold (fresh out dir +
    * checkpoint per call); Bench exempts it from re-measurement. */
  def pipelineGold(spark: SparkSession, dir: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft_q84").toString
    run(spark, dir, out)
    // the read-back is small (one gold rollup): pin it into the block
    // manager so the multi-MB pipeline output dir can be deleted
    // before returning — repeated q84 invocations (bench, verify,
    // explain) no longer accumulate temp dirs under /tmp
    val result = sources.Snapshots.read(spark, s"$out/gold/daily_sales_summary")
      .orderBy(col("order_date"))
      .localCheckpoint()
    graft.util.Fs.deleteRecursively(new java.io.File(out))
    result
  }

  val pipelineGoldSql: String = gold.Summaries.dailySalesSummarySql

  /** Stage the events file for the file-stream source at a STABLE
    * path under outDir: the checkpoint's seen-files log keys on the
    * absolute path, so a fresh temp dir per run would re-ingest (and
    * append-duplicate) the same file on every rerun. */
  private def stageEventsDir(sfDir: String, outDir: String): String = {
    import java.nio.file.{Files, Paths}
    val src = Files.createDirectories(Paths.get(s"$outDir/_staging/events"))
    val link = src.resolve("events.parquet")
    if (!Files.exists(link))
      Files.createSymbolicLink(link, Paths.get(Tables.path(sfDir, "events")))
    src.toString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_pipeline"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, sfDir, outDir)
    println(s"[pipeline] all layers written to $outDir; metrics: " +
      lastRunMetrics.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
        .mkString(", "))
    spark.stop()
  }
}
