package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Counters attributed to one span by the listener (executor side) and by
  * the span itself (driver side).
  */
final class Counters {
  var jobs, pinJobs, tasks = 0L
  var cpuNs, shuffleBytes, spillBytes, inputBytes, planMs = 0L
  var gcMs, pinBytes, rowsOut = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; pinJobs += o.pinJobs; tasks += o.tasks
    cpuNs += o.cpuNs; shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; planMs += o.planMs; gcMs += o.gcMs
    pinBytes += o.pinBytes; rowsOut += o.rowsOut
  }
}

/** One span: a call into a layer (or the operation around such calls). */
final class Span(val id: Int, val name: String, val parent: Int,
    val op: Int, val startNs: Long) {
  var endNs = 0L
  val c = new Counters
  def durS: Double = (endNs - startNs) / 1e9
}

/** Benchmark-side tracer. When enabled, every call the workloads make
  * into a graft layer runs inside [[call]] or [[lazyCall]]: the span's id
  * is set as the Spark job group (so every job, stage and task the call
  * triggers, on any
  * thread that inherits the caller's local properties, is attributed to
  * it) and a local property marks whether the call is still building its
  * DataFrame (jobs run then are eager pins) or is materializing it. Spans
  * stay in memory and are written as JSON at exit.
  */
final class Tracer(sc: SparkContext, listen: Boolean) extends SparkListener {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val execSpan = new java.util.concurrent.ConcurrentHashMap[Long, Span]()
  private var stack: List[Span] = Nil
  private var op = -1

  if (listen) sc.addSparkListener(this)

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb")).flatMap(g => Option(byId.get(g.drop(2).toInt)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { s =>
      s.c.synchronized {
        s.c.jobs += 1
        if (e.properties.getProperty("perfbench.phase") == "build") s.c.pinJobs += 1
      }
      e.stageIds.foreach(id => stageSpan.put(id, s))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) s.c.synchronized {
      s.c.tasks += 1
      s.c.cpuNs += m.executorCpuTime
      s.c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.c.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case st: SparkListenerSQLExecutionStart =>
      st.jobGroupId.filter(_.startsWith("pb"))
        .flatMap(g => Option(byId.get(g.drop(2).toInt)))
        .foreach(s => execSpan.put(st.executionId, s))
    case en: SparkListenerSQLExecutionEnd =>
      val s = execSpan.remove(en.executionId)
      if (s != null) {
        val ms = org.apache.spark.sql.perfbench.Bridge.planningMs(en)
        s.c.synchronized { s.c.planMs += ms }
      }
    case _ =>
  }

  private def open(name: String): Span = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = new Span(spans.size, name, parent, op, System.nanoTime())
    spans += s
    byId.put(s.id, s)
    stack ::= s
    sc.setJobGroup(s"pb${s.id}", name, interruptOnCancel = false)
    s
  }

  private def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    stack = stack.tail
    stack.headOption match {
      case Some(p) => sc.setJobGroup(s"pb${p.id}", p.name, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }

  private def storedBytes: Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** The span around one timed operation (a job or a request). */
  def operation[T](opId: Int, name: String)(body: => T): T =
    if (!enabled) body
    else {
      op = opId
      val s = open(name)
      val gc0 = Clock.gcMs
      try body finally { s.c.gcMs += Clock.gcMs - gc0; close(s) }
    }

  /** A call into a layer whose result is run now (an action, a write, a
    * config read). Untraced, only `body` runs.
    */
  def call[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = open(name)
      val gc0 = Clock.gcMs
      try {
        sc.setLocalProperty("perfbench.phase", "run")
        body
      } finally {
        sc.setLocalProperty("perfbench.phase", null)
        s.c.gcMs += Clock.gcMs - gc0
        close(s)
      }
    }

  /** A call into a layer that returns a lazy result. `build` is the public
    * call; jobs it runs before returning are eager pins. Traced, `pin`
    * then forces the result at the layer boundary, so the layer's work is
    * not folded into a later layer's action, and returns what downstream
    * consumes. Untraced, only `build` runs and the fused plan is kept.
    */
  def lazyCall[T](name: String)(build: => T)(pin: T => T): T =
    if (!enabled) build
    else {
      val s = open(name)
      val gc0 = Clock.gcMs
      try {
        sc.setLocalProperty("perfbench.phase", "build")
        val before = storedBytes
        val v = build
        s.c.pinBytes += math.max(0L, storedBytes - before)
        sc.setLocalProperty("perfbench.phase", "run")
        pin(v)
      } finally {
        sc.setLocalProperty("perfbench.phase", null)
        s.c.gcMs += Clock.gcMs - gc0
        close(s)
      }
    }

  /** Record a row count on the innermost open span. */
  def rows(n: Long): Unit = stack.headOption.foreach(_.c.rowsOut += n)

  /** Eagerly pin a frame at a layer boundary and record its row count. */
  def pin(df: DataFrame): DataFrame = {
    val m = df.localCheckpoint(eager = true)
    rows(m.count())
    m
  }

  def drain(): Unit = org.apache.spark.sql.perfbench.Bridge.drainListeners(sc)

  /** Spans of one operation: the operation span and its layer spans. */
  def spansOf(opId: Int): Seq[Span] = spans.filter(_.op == opId).toSeq

  def allSpans: Seq[Span] = spans.toSeq

}

object Tracer {
  /** Self time: duration minus the part covered by direct children. */
  def selfS(s: Span, all: Seq[Span]): Double =
    s.durS - all.filter(_.parent == s.id).map(_.durS).sum

  def spansJson(all: Seq[Span]): String = Main.json.writeValueAsString(all.map { s =>
    val c = s.c
    Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_s" -> selfS(s, all), "jobs" -> c.jobs, "pin_jobs" -> c.pinJobs,
      "tasks" -> c.tasks, "cpu_s" -> c.cpuNs / 1e9, "gc_s" -> c.gcMs / 1e3,
      "plan_s" -> c.planMs / 1e3, "shuffle_bytes" -> c.shuffleBytes,
      "spill_bytes" -> c.spillBytes, "input_bytes" -> c.inputBytes,
      "pin_bytes" -> c.pinBytes, "rows_out" -> c.rowsOut)
  })
}
