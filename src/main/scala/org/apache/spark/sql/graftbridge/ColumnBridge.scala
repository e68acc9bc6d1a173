package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst Expression converters for graft's native
  * expressions: every `graft.functions` Column API builds its Expression
  * through these, so operators work on any session without function
  * registration.
  *
  * Spark 4 moved these to `org.apache.spark.sql.classic.ExpressionUtils`
  * and scoped them `private[sql]`, so library code that wants a Column
  * API for a custom expression needs this one-file subpackage bridge —
  * the established pattern for Spark extension libraries.
  * Nothing else may live in this package.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
