package org.apache.spark.sql.classic

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the classic `Column` ⇄ catalyst `Expression` converters, which
  * are `private[sql]` in Spark 4. Declared inside the Spark package purely
  * to satisfy the access qualifier — the standard technique Spark extension
  * libraries use to surface custom catalyst expressions as `Column`s.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
