package graft.gold

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Layout, Tables}
import graft.util.Cols._

/** Gold-layer summary tables — Spark-native rebuilds of the reference's
  * `create_daily_sales_summary`, `create_customer_segments` and
  * `create_product_performance` (reference: spark/batch_gold.py:162-254).
  *
  * Scale design: each is a single hash-aggregate over one shuffle key —
  * Catalyst plans partial (map-side) + final HashAggregateExec, so the
  * shuffle carries pre-aggregated rows, not raw 100 TB. The RFM query's
  * global-max driver round-trip (reference: spark/batch_gold.py:195) is
  * one scalar, not a collect of data.
  */
object Summaries {

  /** A2: per-order payment-style rollup with a deterministic "first"
    * (reference: spark/batch_gold.py:90-94 uses nondeterministic
    * first(); we pin the tie-break — SURVEY §7.4). (l_orderkey,
    * l_linenumber) is NOT unique in the testdata, so the min_by key is
    * a composite string (zero-padded line number + the value itself),
    * total and engine-portable. */
  def paymentRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(
        dsum(col("l_extendedprice")).as("total_payment"),
        min_by(col("l_returnflag"),
          concat(lpad(col("l_linenumber").cast("string"), 3, "0"),
            col("l_returnflag"))).as("first_flag"),
        max(col("l_discount")).as("max_discount"),
        max(col("l_tax")).as("max_tax"))
      .orderBy(col("l_orderkey"))

  val paymentRollupSql: String =
    s"""SELECT l_orderkey,
       |  ${dsumSql("l_extendedprice")} AS total_payment,
       |  min_by(l_returnflag,
       |         lpad(CAST(l_linenumber AS VARCHAR), 3, '0') || l_returnflag)
       |    AS first_flag,
       |  max(l_discount) AS max_discount,
       |  max(l_tax) AS max_tax
       |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** A3 + O1: daily sales summary grouped on a derived date string,
    * globally sorted (reference: spark/batch_gold.py:168-180). */
  def dailySalesSummary(spark: SparkSession, dir: String,
                        layout: Layout = Layout.Declared): DataFrame =
    layout.present(
      layout.scan(spark, dir, "orders", col("o_orderdate"))
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
        .agg(
          count(lit(1)).as("total_orders"),
          countDistinct(col("o_custkey")).as("unique_customers"),
          dsum(col("o_totalprice")).as("total_revenue"),
          davg(col("o_totalprice")).as("avg_order_value")),
      col("order_date"))

  val dailySalesSummarySql: String =
    s"""SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       |  CAST(count(*) AS BIGINT) AS total_orders,
       |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS unique_customers,
       |  ${dsumSql("o_totalprice")} AS total_revenue,
       |  ${davgSql("o_totalprice")} AS avg_order_value
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** A4 + A5 + P9 + F3: RFM customer segmentation. The dataset-wide
    * max(o_orderdate) crosses the driver boundary as a scalar literal,
    * exactly like the reference (spark/batch_gold.py:195), then feeds
    * datediff inside the per-customer aggregate (:197-216). */
  def customerSegments(spark: SparkSession, dir: String,
                       layout: Layout = Layout.Declared): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    // string-typed scalar round-trip: o_orderdate is TIMESTAMP_NTZ in
    // Spark 4 (parquet isAdjustedToUTC=false), so head() yields a
    // LocalDateTime; the ISO date string is max-monotonic and avoids
    // any java.time/java.sql literal friction.
    val maxDateStr = orders
      .agg(max(date_format(col("o_orderdate"), "yyyy-MM-dd")))
      .head().getString(0)
    layout.present(orders.groupBy(col("o_custkey"))
      .agg(
        datediff(to_date(lit(maxDateStr)), max(col("o_orderdate")))
          .as("recency_days"),
        count(lit(1)).as("frequency"),
        dsum(col("o_totalprice")).as("monetary"),
        date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("first_order_date"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("last_order_date"))
      .withColumn("segment",
        when(col("recency_days") <= 365 && col("frequency") >= 10 &&
             col("monetary") >= 3000000.0, "VIP")
          .when(col("recency_days") <= 730 && col("frequency") >= 5, "Regular")
          .when(col("recency_days") <= 1460, "At Risk")
          .otherwise("Lost")),
      col("o_custkey"))
  }

  val customerSegmentsSql: String =
    s"""WITH mx AS (SELECT max(o_orderdate) AS m FROM orders)
       |SELECT o_custkey,
       |  CAST(date_diff('day', max(o_orderdate), (SELECT m FROM mx)) AS INT) AS recency_days,
       |  CAST(count(*) AS BIGINT) AS frequency,
       |  ${dsumSql("o_totalprice")} AS monetary,
       |  strftime(min(o_orderdate), '%Y-%m-%d') AS first_order_date,
       |  strftime(max(o_orderdate), '%Y-%m-%d') AS last_order_date,
       |  CASE WHEN date_diff('day', max(o_orderdate), (SELECT m FROM mx)) <= 365
       |            AND count(*) >= 10
       |            AND ${dsumSql("o_totalprice")} >= 3000000.0 THEN 'VIP'
       |       WHEN date_diff('day', max(o_orderdate), (SELECT m FROM mx)) <= 730
       |            AND count(*) >= 5 THEN 'Regular'
       |       WHEN date_diff('day', max(o_orderdate), (SELECT m FROM mx)) <= 1460 THEN 'At Risk'
       |       ELSE 'Lost' END AS segment
       |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** A6 + J2: product performance — aggregate lineitem per part, then
    * enrich with the part dimension (reference: spark/batch_gold.py:233-250).
    * part is the small side: Catalyst/AQE broadcasts it under the default
    * threshold; at 100 TB it stays orders of magnitude below lineitem. */
  def productPerformance(spark: SparkSession, dir: String,
                         layout: Layout = Layout.Declared): DataFrame = {
    val part = Tables.load(spark, dir, "part")
    val agg = layout.scan(spark, dir, "lineitem", col("l_partkey"))
      .groupBy(col("l_partkey"))
      .agg(
        count(lit(1)).as("times_sold"),
        countDistinct(col("l_orderkey")).as("order_count"),
        dsum(col("l_extendedprice")).as("total_revenue"),
        davg(col("l_extendedprice")).as("avg_price"),
        dsum(col("l_quantity")).as("total_qty"))
    layout.present(agg.join(part, agg("l_partkey") === part("p_partkey"), "left")
      .select(
        col("l_partkey").as("product_id"),
        coalesce(col("p_name"), lit("UNKNOWN")).as("product_name"),
        coalesce(col("p_brand"), lit("UNKNOWN")).as("product_brand"),
        col("times_sold"), col("order_count"),
        col("total_revenue"), col("avg_price"), col("total_qty")),
      col("product_id"))
  }

  val productPerformanceSql: String =
    s"""SELECT l_partkey AS product_id,
       |  coalesce(p_name, 'UNKNOWN') AS product_name,
       |  coalesce(p_brand, 'UNKNOWN') AS product_brand,
       |  CAST(count(*) AS BIGINT) AS times_sold,
       |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS order_count,
       |  ${dsumSql("l_extendedprice")} AS total_revenue,
       |  ${davgSql("l_extendedprice")} AS avg_price,
       |  ${dsumSql("l_quantity")} AS total_qty
       |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
       |GROUP BY l_partkey, p_name, p_brand ORDER BY product_id""".stripMargin
}
