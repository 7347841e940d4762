package graft.core

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.GraftBridge

/** The one Spark job counter. */
object Jobs {
  /** The local property that tags the jobs of each open [[during]] call. */
  private val Tag = "graft.jobs.during"
  private val ids = new AtomicLong(0)

  /** `body`'s result and the Spark jobs it started, counted after the
    * listener bus has delivered every event posted so far. The jobs are
    * tagged with a local property of this counter's own, appended to the
    * caller's value and restored after, so the count nests in another
    * [[during]] and leaves the caller's job group alone.
    */
  def during[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val id = ids.incrementAndGet().toString
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty(Tag)))
            .exists(_.split(',').contains(id)))
          n.incrementAndGet(): Unit
    }
    val prev = sc.getLocalProperty(Tag)
    sc.addSparkListener(l)
    sc.setLocalProperty(Tag, Option(prev).fold(id)(p => s"$p,$id"))
    val a = try body finally {
      sc.setLocalProperty(Tag, prev)
      GraftBridge.drainListeners(sc)
      sc.removeSparkListener(l)
    }
    (a, n.get)
  }
}
