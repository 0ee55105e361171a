package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The one path between a Catalyst [[Expression]] and a [[Column]].
  * Spark 4's public Column API hides Catalyst; the classic bridge is
  * `private[sql]`, so it is re-exported from this package. graft's
  * native expressions and aggregates build their Columns here, with no
  * session function registry in between.
  */
object ExpressionBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
