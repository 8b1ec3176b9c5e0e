package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4's `Column` is ColumnNode-backed and no longer exposes `.expr` or a
  * public `new Column(Expression)`; the conversion lives in the
  * `private[sql]` `org.apache.spark.sql.classic.ExpressionUtils`. This bridge
  * re-exports the two conversions for graft's native Catalyst expressions —
  * the standard extension-library pattern (a file in the `org.apache.spark.sql`
  * namespace), no reflection, no copied code.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
