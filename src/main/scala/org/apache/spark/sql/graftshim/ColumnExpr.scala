package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed `Column.expr` from the public API (Connect-compatible
  * Column built on `ColumnNode`s). This shim lives in the spark.sql package
  * tree purely to reach the `private[sql]` internals needed for plan
  * introspection (tenant relation substitution, plan assertions in
  * tests). No Spark internals are modified.
  */
object ColumnExpr {
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Build a DataFrame from a (possibly partially-unresolved) logical plan
    * — the internal hook temp-view resolution itself uses. Lets the tenant
    * frontend substitute table references statement-locally instead of
    * mutating shared session state. */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The unanalyzed logical plan behind a DataFrame. */
  def logical(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.logical
}
