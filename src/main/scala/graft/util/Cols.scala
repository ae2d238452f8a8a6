package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.{MoneyExprs, SmallDistinct}

/** Shared column helpers.
  *
  * Money-like aggregation follows the reference's decimal discipline
  * (reference: spark/load_warehouse.py:218-221 casts measures to
  * decimal(10,2) at the warehouse boundary): we sum in exact decimal —
  * order-independent, so partial/final aggregation and DuckDB's oracle
  * produce bit-identical results — then surface a double. A plain
  * sum(double) would drift with partition count, which both breaks
  * oracle hashing and makes results nondeterministic on a real cluster.
  *
  * Semantics: [[dsum]] is `sum(CAST(c AS DECIMAL(18,s))).cast(double)`
  * and [[davg]] is `dsum / count(c)`, row for row, in the session's
  * eval mode — the same nulls, values and error classes as Spark's own
  * cast and `Sum` (ColsSpec holds the equality). They run on the money
  * kernel [[graft.functions.MoneySum]]: a buffer of three longs instead
  * of a decimal(28,s), and a double→decimal conversion that skips
  * `Double.toString` wherever a 4-ulp margin proves it rounds the same.
  *
  * One documented difference: Spark nulls (legacy) or raises (ANSI)
  * when any intermediate prefix of the sum overflows decimal(28,s),
  * even if the final sum fits; the kernel judges the final sum only.
  * Every input is below 10^18 in unscaled magnitude, so no group below
  * about 10^10 maximal-magnitude rows can reach this.
  */
object Cols {

  /** Exact `sum(CAST(c AS DECIMAL(18, scale)))` as decimal(28, scale) —
    * for partial state that is merged before its double surface. */
  def decSum(c: Column, scale: Int = 2): Column =
    MoneyExprs.sum(c, scale, asDouble = false)

  /** Exact decimal sum of a double column, surfaced as double. */
  def dsum(c: Column, scale: Int = 2): Column =
    MoneyExprs.sum(c, scale, asDouble = true)

  /** Order-independent average: exact decimal sum / non-null count. */
  def davg(c: Column, scale: Int = 2): Column =
    dsum(c, scale) / count(c)

  /** Exact `countDistinct(c)` of an integral or date column for a
    * group whose fan-in the data model bounds — one order's lines —
    * on the [[graft.functions.SmallDistinct]] kernel: the dedup runs
    * inside the group's own aggregate buffer, with no `Expand` and no
    * extra aggregate layers.
    *
    * Heap contract: each group holds its distinct values in an
    * on-heap set of an `ObjectHashAggregate`, whose map keeps at most
    * 65,536 groups per task (the `sortBased.fallbackThreshold` that
    * [[graft.Tables.load]] sets); past that, Spark's sort-based
    * fallback aggregates one group at a time. A task's heap is thus
    * bounded only when each group's distinct values are. The fan-in of
    * a day, a nation or a product is not bounded: those rollups stay
    * on Spark's spillable `countDistinct`. */
  def distinctPerOrder(c: Column): Column =
    Bridge.column(SmallDistinct(Bridge.expression(c)).toAggregateExpression())

  /** SQL fragments for the DuckDB oracle matching dsum/davg. */
  def dsumSql(c: String, scale: Int = 2): String =
    s"CAST(sum(CAST($c AS DECIMAL(18,$scale))) AS DOUBLE)"

  def davgSql(c: String, scale: Int = 2): String =
    s"(${dsumSql(c, scale)} / count($c))"
}
