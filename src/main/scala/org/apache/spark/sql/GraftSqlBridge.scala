package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the sql-private Column constructor so graft's native
  * Catalyst expressions are usable as Columns without going through the
  * session function registry (the standard Spark-library pattern). */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `e` with -0.0 and NaN normalized, as the planner does to grouping
    * and join keys. */
  def normalizeFloats(e: Expression): Expression = NormalizeFloatingNumbers.normalize(e)

  /** A DataFrame over an already optimized logical plan, such as the
    * `LocalRelation` a fold produced, so later plans start from it. */
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Split a (possibly sort-ordered) Column into its value column plus
    * (ascending?, nullsFirst?) — a Column built with .asc/.desc wraps an
    * internal SortOrder node that cannot be projected as a value. Plain
    * columns default to (asc, nulls first), matching Column.asc. */
  def unwrapSortOrder(c: Column): (Column, Boolean, Boolean) = c.node match {
    case so: internal.SortOrder =>
      (new Column(so.child),
        so.sortDirection == internal.SortOrder.Ascending,
        so.nullOrdering == internal.SortOrder.NullsFirst)
    case _ => (c, true, true)
  }
}
