package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Layout, Tables}
import graft.util.Cols._

/** The reference's 7 ClickHouse materialized views re-expressed as
  * batch aggregates (reference: clickhouse_init/04_materialized_views.sql;
  * SURVEY A9-A12: semantics = the GROUP BY result, incremental
  * SummingMergeTree maintenance is an engine detail we don't replicate).
  *
  * Scale design: each MV is one partial+final hash aggregate; group-by
  * keys are low-cardinality (dates, nations, hours) so the final
  * exchange carries only the group count — the 100 TB cost is the scan,
  * which prunes to the grouped/aggregated columns only (check
  * ReadSchema in the explain output).
  */
object Views {

  /** A9: daily rollup (04_materialized_views.sql:11-25). The
    * [[Layout]] scan feeds the two-countDistinct expand, which triples
    * the row count before the partial aggregate (~1M groups). */
  def mvDailyRevenue(spark: SparkSession, dir: String,
                     layout: Layout = Layout.Declared): DataFrame =
    layout.present(
      layout.scan(spark, dir, "lineitem", col("l_shipdate"))
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
        .agg(
          count(lit(1)).as("line_count"),
          countDistinct(col("l_orderkey")).as("unique_orders"),
          countDistinct(col("l_partkey")).as("unique_parts"),
          dsum(col("l_extendedprice")).as("revenue"),
          davg(col("l_quantity")).as("avg_qty")),
      col("ship_date"))

  val mvDailyRevenueSql: String =
    s"""SELECT strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
       |  CAST(count(*) AS BIGINT) AS line_count,
       |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS unique_orders,
       |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS unique_parts,
       |  ${dsumSql("l_extendedprice")} AS revenue,
       |  ${davgSql("l_quantity")} AS avg_qty
       |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** A10: monthly rollup (04_materialized_views.sql:30-42). */
  def mvMonthlyRevenue(spark: SparkSession, dir: String,
                       layout: Layout = Layout.Declared): DataFrame =
    layout.present(
      Tables.load(spark, dir, "lineitem")
        .groupBy(year(col("l_shipdate")).as("ship_year"),
          month(col("l_shipdate")).as("ship_month"))
        .agg(
          count(lit(1)).as("line_count"),
          dsum(col("l_extendedprice")).as("revenue"),
          davg(col("l_extendedprice")).as("avg_price")),
      col("ship_year"), col("ship_month"))

  val mvMonthlyRevenueSql: String =
    s"""SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
       |  CAST(month(l_shipdate) AS INT) AS ship_month,
       |  CAST(count(*) AS BIGINT) AS line_count,
       |  ${dsumSql("l_extendedprice")} AS revenue,
       |  ${davgSql("l_extendedprice")} AS avg_price
       |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** A11 + J5: join-then-group rollup by a dimension attribute —
    * revenue by supplier nation (04_materialized_views.sql:64-76
    * sales-by-state analog). supplier and nation broadcast. */
  def mvNationRevenue(spark: SparkSession, dir: String,
                      layout: Layout = Layout.Declared): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val supplier = Tables.load(spark, dir, "supplier")
    val nation = Tables.load(spark, dir, "nation")
    layout.present(
      li.join(broadcast(supplier), li("l_suppkey") === supplier("s_suppkey"), "left")
        .join(broadcast(nation), supplier("s_nationkey") === nation("n_nationkey"), "left")
        .groupBy(coalesce(col("n_name"), lit("UNKNOWN")).as("nation_name"))
        .agg(
          count(lit(1)).as("line_count"),
          countDistinct(col("l_suppkey")).as("unique_suppliers"),
          dsum(col("l_extendedprice")).as("revenue"),
          davg(col("l_discount"), 4).as("avg_discount")),
      col("nation_name"))
  }

  val mvNationRevenueSql: String =
    s"""SELECT coalesce(n_name, 'UNKNOWN') AS nation_name,
       |  CAST(count(*) AS BIGINT) AS line_count,
       |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS unique_suppliers,
       |  ${dsumSql("l_extendedprice")} AS revenue,
       |  ${davgSql("l_discount", 4)} AS avg_discount
       |FROM lineitem
       |LEFT JOIN supplier ON l_suppkey = s_suppkey
       |LEFT JOIN nation ON s_nationkey = n_nationkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** A12 + F18/F19: hourly pattern by (hour, day-of-week) with weekend
    * flag (04_materialized_views.sql:117-126). Spark dayofweek is Sun=1;
    * the oracle normalizes DuckDB's Sun=0 (SURVEY §7.4). */
  def mvHourlyPattern(spark: SparkSession, dir: String,
                      layout: Layout = Layout.Declared): DataFrame =
    layout.present(
      Tables.load(spark, dir, "events")
        .groupBy(hour(col("ts")).as("event_hour"),
          dayofweek(col("ts")).as("event_dow"))
        .agg(
          count(lit(1)).as("event_count"),
          dsum(col("value")).as("total_value"))
        .withColumn("is_weekend", col("event_dow").isin(1, 7))
        .select(col("event_hour"), col("event_dow"), col("is_weekend"),
          col("event_count"), col("total_value")),
      col("event_hour"), col("event_dow"))

  val mvHourlyPatternSql: String =
    s"""SELECT CAST(hour(ts) AS INT) AS event_hour,
       |  CAST(dayofweek(ts) + 1 AS INT) AS event_dow,
       |  (dayofweek(ts) + 1) IN (1, 7) AS is_weekend,
       |  CAST(count(*) AS BIGINT) AS event_count,
       |  ${dsumSql("value")} AS total_value
       |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q71

  /** The "already materialized" horizon for the incremental-MV demo:
    * months strictly before this cut sit in the stored MV state; rows
    * from the cut onward arrive as the delta batch. */
  val IncrementalCutMonth = "1997-01"

  /** q71 — INCREMENTAL materialized-view maintenance, made explicit
    * (A13 is otherwise recompute≡maintain "by design"): the monthly
    * revenue MV is produced by MERGING a pre-aggregated state (months
    * before [[IncrementalCutMonth]]) with a delta batch aggregate —
    * never re-scanning the old fact rows — and the oracle is the full
    * recompute, so the gate itself proves merge ≡ recompute.
    *
    * The algebra that makes it correct: count and sum are
    * commutative-monoid aggregates, and the partial sums stay EXACT
    * DECIMAL until the final surface cast — a double partial would
    * make merge order observable. The partials are [[decSum]], the
    * decimal(28,2) of the same money kernel `dsum` surfaces as double.
    * At 100 TB this is the only viable MV strategy (the delta is a
    * day, the state is years), exactly
    * the reference's refresh loop
    * (clickhouse_init/04_materialized_views.sql's MVs are
    * incremental by engine design). */
  def incrementalMvMonthly(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .withColumn("order_month", date_format(col("o_orderdate"), "yyyy-MM"))
    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("order_month"))
        .agg(count(lit(1)).as("n_orders"),
          decSum(col("o_totalprice")).as("rev_dec"))
    val state = partial(o.filter(col("order_month") < IncrementalCutMonth))
    val delta = partial(o.filter(col("order_month") >= IncrementalCutMonth))
    state.unionByName(delta)
      .groupBy(col("order_month"))
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("rev_dec")).as("rev_merged"))
      .select(col("order_month"), col("n_orders"),
        col("rev_merged").cast("double").as("revenue"))
      .orderBy(col("order_month"))
  }

  val incrementalMvMonthlySql: String =
    s"""SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
       |  CAST(count(*) AS BIGINT) AS n_orders,
       |  ${dsumSql("o_totalprice")} AS revenue
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
}
