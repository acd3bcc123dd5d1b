package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** `Column` ⇄ Catalyst `Expression` for the library's custom expressions
  * ([[graft.expr.Functions]]). Converts eagerly: `ExpressionUtils.expression`
  * defers conversion to analysis, which would hide an integer-literal
  * argument from the expression builder. Lives under `org.apache.spark.sql`
  * because both converters are `private[sql]` (same seam as
  * [[FreshCheckpoint]]). */
object ColumnExpr {
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
  def column(e: Expression): Column = ExpressionUtils.column(e)
}
