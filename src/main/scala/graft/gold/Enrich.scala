package graft.gold

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Layout, Tables}
import graft.util.Cols._

/** Gold-layer enrichment — the Spark-native rebuild of the reference's
  * `create_orders_enriched` job (reference: spark/batch_gold.py:42-158):
  * per-order item rollup (A1), chained left joins (J1), wide projection
  * with derived columns (P2, F4, F9, F10), CASE banding (F3).
  *
  * Substrate mapping (repo:FIXTURES.md §B): orders/lineitem play Olist
  * orders/order_items; customer plays customers; nation/region play the
  * geo dimensions.
  *
  * Scale design: the rollup and the orders⋈rollup join both hash on
  * l_orderkey/o_orderkey, so AQE reuses one exchange; nation (25 rows)
  * and region (5) broadcast; customer⋈orders shuffles on custkey — at
  * 100 TB both sides are large, a shuffle join is the right plan and
  * bucketing both tables by custkey would eliminate it entirely.
  */
object Enrich {

  /** A1: per-order lineitem rollup — count / sum / exact distinct
    * counts (reference: spark/batch_gold.py:81-87), over the
    * [[Layout]]'s lineitem scan. One order's lines are few, so the two
    * distinct counts run on [[distinctPerOrder]]; [[ordersEnriched]]
    * reads the same rollup and Catalyst prunes what it leaves unread. */
  private def itemsRollup(spark: SparkSession, dir: String,
                          layout: Layout): DataFrame =
    layout.scan(spark, dir, "lineitem", col("l_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("total_items"),
        dsum(col("l_quantity")).as("total_qty"),
        dsum(col("l_extendedprice")).as("total_price"),
        distinctPerOrder(col("l_partkey")).as("unique_parts"),
        distinctPerOrder(col("l_suppkey")).as("unique_suppliers"))

  /** q01: the A1 rollup, presented in order-key order. */
  def orderItemsRollup(spark: SparkSession, dir: String): DataFrame =
    Layout.Declared.present(itemsRollup(spark, dir, Layout.Declared),
      col("l_orderkey"))

  val orderItemsRollupSql: String =
    s"""SELECT l_orderkey,
       |  CAST(count(*) AS BIGINT) AS total_items,
       |  ${dsumSql("l_quantity")} AS total_qty,
       |  ${dsumSql("l_extendedprice")} AS total_price,
       |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS unique_parts,
       |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS unique_suppliers
       |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** Flagship: orders enriched with customer geo + item rollup
    * (reference: spark/batch_gold.py:104-153 — 4-way left-join chain
    * then a wide typed projection with date parts, coalesce defaults
    * and a CASE band). The [[Layout]] scan is the lineitem rollup's
    * input: its partial aggregate (one group per order) is the widest
    * map-side work here. */
  def ordersEnriched(spark: SparkSession, dir: String,
                     layout: Layout = Layout.Declared): DataFrame = {
    val orders   = Tables.load(spark, dir, "orders")
    val customer = Tables.load(spark, dir, "customer")
    val nation   = Tables.load(spark, dir, "nation")
    val region   = Tables.load(spark, dir, "region")

    val items = itemsRollup(spark, dir, layout)

    // geo dims are tiny — broadcast explicitly, mirroring the reference's
    // one explicit hint (reference: spark/load_warehouse.py:200).
    val geo = customer
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"), "left")
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"), "left")
      .select(
        col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"),
        col("n_name").as("nation_name"), col("r_name").as("region_name"))

    layout.present(orders
      .join(geo, orders("o_custkey") === geo("c_custkey"), "left")
      .join(items, orders("o_orderkey") === items("l_orderkey"), "left")
      .select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        year(col("o_orderdate")).as("order_year"),
        month(col("o_orderdate")).as("order_month"),
        dayofweek(col("o_orderdate")).as("order_dow"),
        col("c_name"), col("c_mktsegment"),
        coalesce(col("nation_name"), lit("UNKNOWN")).as("nation_name"),
        coalesce(col("region_name"), lit("UNKNOWN")).as("region_name"),
        coalesce(col("total_items"), lit(0L)).as("total_items"),
        coalesce(col("total_qty"), lit(0.0)).as("total_qty"),
        coalesce(col("total_price"), lit(0.0)).as("items_price"),
        coalesce(col("unique_parts"), lit(0L)).as("unique_parts"),
        when(col("o_totalprice") < 50000, "low")
          .when(col("o_totalprice") < 150000, "mid")
          .otherwise("high").as("price_band")),
      col("o_orderkey"))
  }

  val ordersEnrichedSql: String =
    s"""WITH items AS (
       |  SELECT l_orderkey,
       |    CAST(count(*) AS BIGINT) AS total_items,
       |    ${dsumSql("l_quantity")} AS total_qty,
       |    ${dsumSql("l_extendedprice")} AS items_price,
       |    CAST(count(DISTINCT l_partkey) AS BIGINT) AS unique_parts
       |  FROM lineitem GROUP BY l_orderkey),
       |geo AS (
       |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
       |    n.n_name AS nation_name, r.r_name AS region_name
       |  FROM customer c
       |  LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
       |  LEFT JOIN region r ON n.n_regionkey = r.r_regionkey)
       |SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus,
       |  o.o_orderpriority, o.o_totalprice,
       |  strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
       |  CAST(year(o.o_orderdate) AS INT) AS order_year,
       |  CAST(month(o.o_orderdate) AS INT) AS order_month,
       |  CAST(dayofweek(o.o_orderdate) + 1 AS INT) AS order_dow,
       |  g.c_name, g.c_mktsegment,
       |  coalesce(g.nation_name, 'UNKNOWN') AS nation_name,
       |  coalesce(g.region_name, 'UNKNOWN') AS region_name,
       |  coalesce(i.total_items, 0) AS total_items,
       |  coalesce(i.total_qty, 0.0) AS total_qty,
       |  coalesce(i.items_price, 0.0) AS items_price,
       |  coalesce(i.unique_parts, 0) AS unique_parts,
       |  CASE WHEN o.o_totalprice < 50000 THEN 'low'
       |       WHEN o.o_totalprice < 150000 THEN 'mid'
       |       ELSE 'high' END AS price_band
       |FROM orders o
       |LEFT JOIN geo g ON o.o_custkey = g.c_custkey
       |LEFT JOIN items i ON o.o_orderkey = i.l_orderkey
       |ORDER BY o.o_orderkey""".stripMargin
}
