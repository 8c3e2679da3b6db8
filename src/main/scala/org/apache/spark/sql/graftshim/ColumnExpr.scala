package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal
import org.apache.spark.sql.types.LongType

/** Spark 4 removed `Column.expr` from the public API (Connect-compatible
  * Column built on `ColumnNode`s). This shim lives in the spark.sql package
  * tree purely to reach the `private[sql]` internals needed for plan
  * introspection (time-range extraction, plan assertions in tests). No
  * Spark internals are modified.
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

  /** Minimal predicate-tree view of a Column, for pre-analysis predicate
    * inspection (the Column is unresolved at assembly time, so the
    * catalyst Expression conversion is lazy and opaque — we walk the
    * ColumnNode tree instead). */
  sealed trait P
  case class Fn(name: String, args: Seq[P]) extends P
  case class Attr(name: String) extends P
  case class Lit(value: Any) extends P
  case object Opaque extends P

  def predTree(c: Column): P = conv(c.node)

  private def conv(n: internal.ColumnNode): P = n match {
    case f: internal.UnresolvedFunction =>
      Fn(f.functionName.toLowerCase, f.arguments.map(conv))
    case a: internal.UnresolvedAttribute => Attr(a.nameParts.mkString(".").toLowerCase)
    case l: internal.Literal => Lit(l.value)
    // only a BIGINT cast is transparent: a narrower one can wrap a value
    case c: internal.Cast if c.dataType == LongType => conv(c.child)
    case _ => Opaque
  }
}
