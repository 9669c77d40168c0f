package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge for graft's custom Catalyst
  * expressions. Spark 4 routes Column construction through
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * private[sql]; this shim (inside the sql package tree — the
  * standard extension-point pattern for Spark-native libraries)
  * re-exports the two conversions graft needs. No Spark internals are
  * modified or copied. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
