package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column ↔ Catalyst-Expression conversions
  * (Spark 4 wraps Columns in ColumnNodes; `ExpressionUtils` is the
  * sanctioned internal converter). Living under `org.apache.spark.sql` is
  * the standard pattern for libraries that ship custom Catalyst
  * expressions; graft's other bridges here follow it. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
