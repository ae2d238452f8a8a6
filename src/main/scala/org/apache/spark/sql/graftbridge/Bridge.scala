package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made the converters
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`), so
  * libraries adding native Catalyst expressions re-export them from
  * inside the sql namespace — the standard pattern across public Spark
  * extension libraries. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER ColumnNode → Catalyst conversion ([[expression]] returns a
    * lazy `ColumnNodeExpression` wrapper in Spark 4, opaque to tree
    * matching). Function applications come back as UNRESOLVED
    * functions (`=`, `<=`, `and`, ...) — resolution normally happens
    * in the analyzer — so structural consumers match on
    * `UnresolvedFunction(name, args)` rather than the resolved
    * operator classes. */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** DSv2 `Predicate` → V1 `Filter` (literal values converted to
    * external Scala types) — `PredicateUtils` is `private[sql]`, so
    * the SQL catalog's SupportsDeleteV2 translation re-exports it
    * here, the same pattern as the Column converters above. */
  def predicateToV1(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)

  /** Count a DSv2 data writer's files in its task's output metrics,
    * as Spark's own file writer does (the DSv2 write task leaves them
    * at zero); `OutputMetrics`' setters are `private[spark]`. */
  def addTaskOutput(bytes: Long, records: Long): Unit =
    Option(org.apache.spark.TaskContext.get()).foreach { tc =>
      val om = tc.taskMetrics().outputMetrics
      om.setBytesWritten(om.bytesWritten + bytes)
      om.setRecordsWritten(om.recordsWritten + records)
    }

  /** Append `df` into the DSv2 `table` as ONE command over the
    * caller's plan — what `df.write.format(...).save()` runs, minus
    * the provider lookup: the library Delta writers hand their own
    * in-memory table (whose BatchWrite keeps the task commit
    * messages) straight to the planner. Query listeners and
    * `Observation`s see the write like any other Dataset action. */
  def appendV2(df: org.apache.spark.sql.DataFrame,
      table: org.apache.spark.sql.connector.catalog.Table): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.AppendData
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    new QueryExecution(ds.sparkSession,
      AppendData.byPosition(DataSourceV2Relation.create(table, None, None),
        ds.logicalPlan),
      ds.queryExecution.tracker).assertCommandExecuted()
  }
}
