package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` helpers for building Columns from custom
  * Catalyst Expressions (the supported path in Spark 4 classic mode).
  * Lives in the org.apache.spark.sql package solely for access; contains
  * no Spark-internal logic of its own.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** [[org.apache.spark.sql.types.AbstractDataType]] is `private[sql]`,
    * but graft expressions need it to declare `inputTypes` (the
    * ExpectsInputTypes contract: analysis-time type errors + the same
    * implicit casts the built-ins get). An alias here re-exports the
    * type; it is identical to Spark's, so overrides match.
    */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** Block until every listener event posted so far has been delivered
    * (`listenerBus` is `private[spark]`), so a listener's counts cover
    * every job that has already returned.
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
