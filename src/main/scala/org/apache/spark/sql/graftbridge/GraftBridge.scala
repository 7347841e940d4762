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

  /** Non-blocking read of an [[org.apache.spark.sql.Observation]]
    * (`getOrEmpty` minus its `private[sql]` wait): empty map until the
    * first action on the observed frame completes. AQE's empty-relation
    * propagation can prune a CollectMetrics node out of the executed
    * plan entirely, in which case Spark delivers the schema-less
    * `Row.empty` — surfaced here as the empty map, not an NPE.
    */
  def observationOrEmpty(
      o: org.apache.spark.sql.Observation): Map[String, Any] =
    o.getRowOrEmpty match {
      case Some(r) if r.schema != null =>
        r.schema.fieldNames.zip(r.toSeq).toMap
      case _ => Map.empty
    }
}
