package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access to two `private[spark]` / `private[sql]` members the trace
  * collector needs. Lives in Spark's package for access only.
  */
object Bridge {

  /** Block until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Analysis + optimization + planning time (ms) of a finished SQL
    * execution, from its QueryPlanningTracker; 0 when the event carries
    * no QueryExecution.
    */
  def planningMs(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map { qe =>
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum
    }.getOrElse(0L)
}
