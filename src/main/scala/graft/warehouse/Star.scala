package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Layout, Tables}

/** Warehouse star schema — the Spark-native rebuild of the reference's
  * `load_warehouse.py`: xxhash64 surrogate keys (F14), literal-map dict
  * lookups with defaults (F15), yyyymmdd date keys (F11), static
  * dimension seeding (S11), and the broadcast fact build (J3).
  *
  * xxhash64 keys are not reproducible in the DuckDB oracle (SURVEY
  * §7.4), so hash correctness is asserted via a join-consistency query:
  * fact⋈dim on the hash must equal the natural-key join.
  */
object Star {

  /** F15: the reference's dict→create_map lookup with coalesce default
    * (spark/load_warehouse.py:32-39,106,192-197). 'P' is deliberately
    * unmapped to exercise the default path. */
  private val statusKeyMap: Column =
    map(lit("O"), lit(1), lit("F"), lit(2))

  private val eventTypeKeyMap: Column =
    map(lit("click"), lit(1), lit("view"), lit(2),
      lit("purchase"), lit(3), lit("signup"), lit(4))

  /** F14: surrogate key — xxhash64 over the stringified natural key,
    * exactly the reference's pattern (spark/load_warehouse.py:109). */
  def surrogate(c: Column): Column = xxhash64(c.cast("string"))

  /** F11 + F15 + J3: fact_orders grain = order line. The explicit
    * broadcast hint mirrors the reference's one hint
    * (spark/load_warehouse.py:200). Note: at 100 TB the orders side is
    * NOT broadcastable — the production shape is a shuffle join on
    * l_orderkey (or bucketed co-location); the hint here reproduces the
    * reference's stated plan at its own scale. The [[Layout]] scan is
    * the probe side of that broadcast join. */
  def factOrderLines(spark: SparkSession, dir: String,
                     layout: Layout = Layout.Declared): DataFrame = {
    val li = layout.scan(spark, dir, "lineitem", col("l_orderkey"))
    val orders = Tables.load(spark, dir, "orders")
    layout.present(
      li.join(broadcast(orders), li("l_orderkey") === orders("o_orderkey"), "left")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          date_format(col("o_orderdate"), "yyyyMMdd").cast("int").as("date_key"),
          coalesce(element_at(statusKeyMap, col("o_orderstatus")), lit(0))
            .as("status_key"),
          col("l_extendedprice").as("unit_price"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("net_amount"),
          (col("l_quantity") * col("l_tax")).as("tax_units")),
      col("l_orderkey"), col("l_linenumber"))
  }

  val factOrderLinesSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS date_key,
      |  CAST(CASE o_orderstatus WHEN 'O' THEN 1 WHEN 'F' THEN 2
      |       ELSE 0 END AS INT) AS status_key,
      |  l_extendedprice AS unit_price,
      |  l_extendedprice * (1.0 - l_discount) AS net_amount,
      |  l_quantity * l_tax AS tax_units
      |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** F15: map-literal lookup with default on the event stream. */
  def eventTypeKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_id"), col("event_type"),
        coalesce(element_at(eventTypeKeyMap, col("event_type")), lit(0))
          .as("type_key"))
      .orderBy(col("event_id"))

  val eventTypeKeysSql: String =
    """SELECT event_id, event_type,
      |  CAST(CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
      |       WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4
      |       ELSE 0 END AS INT) AS type_key
      |FROM events ORDER BY event_id""".stripMargin

  /** S11: static dimension seeded from literals (reference:
    * clickhouse_init/02_dim_tables.sql:146-153 order-status dim). */
  def dimOrderStatus(spark: SparkSession, dir: String,
                     layout: Layout = Layout.Declared): DataFrame = {
    import spark.implicits._
    layout.present(Seq(
      (1, "O", "Open"),
      (2, "F", "Finished"),
      (3, "P", "Pending"),
      (0, "?", "Unknown"))
      .toDF("status_key", "status_code", "status_name"),
      col("status_key"))
  }

  val dimOrderStatusSql: String =
    """SELECT * FROM (VALUES
      |  (CAST(1 AS INT), 'O', 'Open'), (CAST(2 AS INT), 'F', 'Finished'),
      |  (CAST(3 AS INT), 'P', 'Pending'), (CAST(0 AS INT), '?', 'Unknown'))
      |AS t(status_key, status_code, status_name)
      |ORDER BY status_key""".stripMargin

  /** F14 consistency gate: joining fact to dim on the xxhash64
    * surrogate must reproduce the natural-key join (SURVEY §7.4:
    * "verify keys via join-consistency instead of hash equality").
    * A collision or a nondeterministic hash would change the output. */
  def surrogateJoinConsistency(spark: SparkSession, dir: String): DataFrame = {
    val dimCustomer = Tables.load(spark, dir, "customer")
      .select(surrogate(col("c_custkey")).as("customer_key"),
        col("c_name"), col("c_mktsegment"))
    val fact = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"),
        surrogate(col("o_custkey")).as("customer_key"),
        col("o_totalprice"))
    fact.join(broadcast(dimCustomer), Seq("customer_key"), "inner")
      .select(col("o_orderkey"), col("c_name"), col("c_mktsegment"),
        col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val surrogateJoinConsistencySql: String =
    """SELECT o_orderkey, c_name, c_mktsegment, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin

  /** Rows-only: the customer dimension with its surrogate key — the
    * raw xxhash64 value has no DuckDB equivalent, so this query is
    * covered by the join-consistency gate above plus a ScalaTest
    * pinning known xxhash64 values. */
  def dimCustomer(spark: SparkSession, dir: String,
                  layout: Layout = Layout.Declared): DataFrame =
    layout.present(Tables.load(spark, dir, "customer")
      .select(
        surrogate(col("c_custkey")).as("customer_key"),
        col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("c_acctbal")),
      col("c_custkey"))

  // ---------------------------------------------------------------- q80

  /** q80 — q27's dimension build with a CROSS-ENGINE surrogate key:
    * the 60-bit md5 bridge ([[graft.ext.HashBridge]]) instead of
    * xxhash64, which DuckDB cannot reproduce. q27 stays as the
    * reference-fidelity spelling (spark/load_warehouse.py:109 uses
    * xxhash64, rows-only + XxHashSpec); this twin makes the surrogate
    * PATTERN itself fully oracle-hash-checked — same salt/collision
    * properties, one digest per row, pick per deployment. */
  def dimCustomerMd5(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer")
      .select(
        graft.ext.HashBridge.md5Bits60(
          md5(concat(lit("dim:"), col("c_custkey").cast("string"))))
          .as("customer_key"),
        col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("c_acctbal"))
      .orderBy(col("c_custkey"))

  val dimCustomerMd5Sql: String =
    s"""SELECT
       |  ${graft.ext.HashBridge.md5Bits60Sql(
            "md5('dim:' || CAST(c_custkey AS VARCHAR))")} AS customer_key,
       |  c_custkey, c_name, c_mktsegment, c_acctbal
       |FROM customer ORDER BY c_custkey""".stripMargin
}
