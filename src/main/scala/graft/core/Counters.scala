package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.graftbridge.GraftBridge

/** `observe()` counters on a frame, the one reader of an [[Observation]]
  * in the library: build on [[on]], and the counters fill in on the first
  * action over it at no extra job. Spark completes an observation from a
  * listener event, behind every listener on the bus, so a read first
  * delivers the events already posted and then takes the completed result:
  * it sees an action that has returned however slow the other listeners
  * are. (`Observation.getRowOrEmpty` instead waits at most 100 ms and then
  * reads as empty.) Before any action a read throws, and it never waits
  * for one. When AQE prunes the node (a stage above it came out empty),
  * Spark completes it with `Row.empty`, and the read recounts with one
  * job: over the observed frame, or over the pin for [[Counters.pinned]].
  */
private[graft] final class Counters private (o: Observation, val on: DataFrame,
    counted: DataFrame, metrics: Seq[Column]) {
  private lazy val recount = counted.agg(metrics.head, metrics.tail: _*).head()
  def apply(name: String): Long = {
    GraftBridge.drainListeners(on.sparkSession.sparkContext)
    val row = o.future.value.getOrElse(throw new IllegalStateException(
      "the audit counters fill in on the first action over the audited " +
        "frame: run one (write/collect/count) before reading them")).get
    if (row.schema == null) recount.getAs[Long](name) else row.getAs[Long](name)
  }
}

private[graft] object Counters {
  def apply(frame: DataFrame, metrics: Column*): Counters = {
    val o = Observation()
    new Counters(o, frame.observe(o, metrics.head, metrics.tail: _*), frame,
      metrics)
  }

  /** Counters that ride an eager `localCheckpoint` of `frame`: [[on]] is
    * the pin, so they are readable at once, and a recount reads the pinned
    * rows instead of re-running the plan above them.
    */
  def pinned(frame: DataFrame, metrics: Column*): Counters = {
    val o = Observation()
    val pin = frame.observe(o, metrics.head, metrics.tail: _*).localCheckpoint(true)
    new Counters(o, pin, pin, metrics)
  }
}
