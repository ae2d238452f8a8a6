package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}

/** Each gold/MV/dimension table has one builder and two layouts: the pipeline's
  * [[Layout.Sink]] frame must hold exactly the rows of the gated
  * [[Layout.Declared]] query, without its presentation sort. */
class LayoutSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  /** (table, builder, whether the Sink layout fans its scan out). */
  private val builders: Seq[(String, (SparkSession, String, Layout) => DataFrame, Boolean)] = Seq(
    ("orders_enriched", gold.Enrich.ordersEnriched _, true),
    ("daily_sales_summary", gold.Summaries.dailySalesSummary _, true),
    ("customer_segments", gold.Summaries.customerSegments _, false),
    ("product_performance", gold.Summaries.productPerformance _, true),
    ("fact_order_lines", warehouse.Star.factOrderLines _, true),
    ("mv_daily_revenue", warehouse.Views.mvDailyRevenue _, true),
    ("mv_monthly_revenue", warehouse.Views.mvMonthlyRevenue _, false),
    ("mv_nation_revenue", warehouse.Views.mvNationRevenue _, false),
    ("mv_hourly_pattern", warehouse.Views.mvHourlyPattern _, false))

  /** Runs `df` and returns its final (post-AQE) executed plan. */
  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    stripAQEPlan(df.queryExecution.executedPlan)
  }

  private def globalSorts(p: SparkPlan): Seq[SortExec] =
    collect(p) { case s: SortExec if s.global => s }

  private def fanOuts(p: SparkPlan): Seq[ShuffleExchangeExec] =
    collect(p) { case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e }

  /** The table-driven check: per builder, sink rows ≡ declared rows;
    * only the declared plan sorts (once, at its root); the sink fans
    * its scan out exactly when `fanned`. */
  private def checkLayouts(cases: Seq[(String,
      (SparkSession, String, Layout) => DataFrame, Boolean)]): Unit =
    for ((name, build, fanned) <- cases) {
      val declared = build(spark, sfDir, Layout.Declared)
      val sink = build(spark, sfDir, Layout.Sink)
      assert(declared.schema == sink.schema, s"$name: schemas differ")
      assert(declared.count() > 0, s"$name: declared is empty")
      assert(declared.exceptAll(sink).isEmpty && sink.exceptAll(declared).isEmpty,
        s"$name: sink rows differ from declared rows")

      val dPlan = executed(declared)
      val root = dPlan match {
        case w: WholeStageCodegenExec => w.child
        case p => p
      }
      assert(root.isInstanceOf[SortExec] && root.asInstanceOf[SortExec].global,
        s"$name: declared plan does not end in a global sort:\n$dPlan")
      assert(globalSorts(dPlan).size == 1, s"$name: declared sorts twice:\n$dPlan")
      assert(fanOuts(dPlan).isEmpty, s"$name: declared plan fans out:\n$dPlan")

      val sPlan = executed(sink)
      assert(globalSorts(sPlan).isEmpty, s"$name: sink plan sorts globally:\n$sPlan")
      assert(fanOuts(sPlan).size == (if (fanned) 1 else 0),
        s"$name: sink fan-out expected=$fanned:\n$sPlan")
    }

  test("sink layout ≡ declared rows for all nine builders; only declared sorts") {
    // the fan-out cases below assume a narrow scan: the testdata's
    // single-file tables plan fewer tasks than half the session's cores
    assert(Tables.scanParallelism(spark, sfDir, "lineitem") <
      spark.sparkContext.defaultParallelism / 2)
    checkLayouts(builders)
  }

  test("sink layout ≡ declared rows for the three dimensions; only declared sorts") {
    checkLayouts(Seq(
      ("dim_customer", warehouse.Star.dimCustomer _, false),
      ("dim_order_status", warehouse.Star.dimOrderStatus _, false),
      ("dim_time", warehouse.DateDim.dimTime _, false)))
  }
}
