package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

import graft.ops.Dedup

/** `observe()` results reach the driver through the listener bus, behind
  * every listener on the shared queue. A listener that is slow on each
  * query's end must delay those reads, never change what they say:
  * [[Dedup.clusterNearDups]] counts its edge pin and signs each
  * contraction round with them, and a missed count would fail the driver
  * path or stop the star loop early with wrong labels.
  */
class SlowListenerSpec extends SparkSpec {
  import spark.implicits._

  private object Slow extends SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionEnd => Thread.sleep(300)
      case _ =>
    }
  }

  /** Three finished queries, so the next reports queue behind ~0.9 s of
    * the slow listener.
    */
  private def backlog(): Unit = (1 to 3).foreach(_ => spark.range(1).collect())

  test("a slow listener cannot change clusterNearDups' labels") {
    val sc = spark.sparkContext
    sc.addSparkListener(Slow)
    try {
      // driver path: an integral 8-chain under the broadcast threshold
      backlog()
      val driver = Dedup.clusterNearDups((0L to 7L).toDF("id"),
        (0L until 7L).map(i => (i, i + 1)).toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(driver == (0L to 7L).map(_ -> 0L).toMap)
      // star loop: a permuted 400-chain with the threshold off
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "-1")
      val loop = try {
        backlog()
        val perm = new scala.util.Random(7).shuffle((0L until 400L).toVector)
        Dedup.clusterNearDups((0L until 400L).toDF("id"),
          perm.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("id_a", "id_b"),
          maxIters = 15)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      } finally spark.conf.set(key, prev)
      assert(loop == (0L until 400L).map(_ -> 0L).toMap)
    } finally sc.removeSparkListener(Slow)
  }
}
