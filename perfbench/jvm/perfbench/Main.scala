package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What one timed operation returns: its kind, the timed interval (wall,
  * process CPU, GC) and the fields its output check produced. The check
  * itself runs after the interval closes and is never timed.
  */
final case class Op(kind: String, wallNs: Long, cpuNs: Long, gcMs: Long,
    ok: Boolean, fields: Map[String, Any] = Map.empty)

/** A workload: `setup` builds resident state and runs the warm-up pass;
  * `run` performs one timed operation (a whole job, or one request).
  */
trait Workload {
  def setup(spark: SparkSession, t: Tracer): Unit
  /** Runs one operation; tracing (when on) covers only its timed part. */
  def run(spark: SparkSession, t: Tracer, op: Int): Op
  /** Whether a run holds enough operations, however long they took. */
  def enough(ops: Seq[Op], traced: Boolean): Boolean
  /** Per-run measurements taken once, untimed, after the traced ops. */
  def traceExtras(spark: SparkSession, t: Tracer): Map[String, Any] = Map.empty
  /** Per-run facts recorded once (sizes, final output). */
  def summary(spark: SparkSession): Map[String, Any] = Map.empty
}

object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = { var t = 0L; gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime)); t }

  /** Run `body`, returning its value and (wall ns, process CPU ns, GC ms). */
  def timed[T](body: => T): (T, Long, Long, Long) = {
    val g0 = gcMs; val c0 = cpuNs; val w0 = System.nanoTime()
    val v = body
    val w1 = System.nanoTime(); val c1 = cpuNs; val g1 = gcMs
    (v, w1 - w0, c1 - c0, g1 - g0)
  }
}

/** Benchmark harness: one JVM, one local[nproc] session.
  *
  * Set-up (session, Graft.tune, the workload's warm-up pass and resident
  * state) is timed from process launch. Then operations run until their
  * timed intervals sum to `seconds` (and at least `minOps` ran). In a
  * traced run, operations alternate untraced/traced so the trace overhead
  * is measured on the same inputs. Results go to `<out>/ops.jsonl`,
  * `<out>/run.json` and, when traced, `<out>/spans.json`.
  */
object Main {
  /** Writes the harness's records (ops, run summary, spans) as JSON. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    if (a.contains("train")) train(a("train"), a("nproc").toInt) else bench(a)
  }

  /** The workload `name` over `data`; batch workloads run `warmups` jobs
    * in set-up.
    */
  def workload(name: String, data: String, out: String, warmups: Int): Workload = name match {
    case "etl_reference" => new EtlReference(data, s"$out/job", warmups)
    case "text_curation" => new TextCuration(data, s"$out/job", warmups)
    case "serve_mixed" => new ServeMixed(data, s"$out/serve")
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Runs every workload's set-up once over `<root>/<name>/data`, so the
    * class-data archive the build writes at this JVM's exit holds the
    * classes a run loads.
    */
  def train(root: String, nproc: Int): Unit = {
    val spark = newSession(nproc, s"$root/spark-local")
    val tracer = new Tracer(spark.sparkContext, listen = false)
    Seq("etl_reference", "text_curation", "serve_mixed").foreach { name =>
      workload(name, s"$root/$name/data", s"$root/$name/out", warmups = 1).setup(spark, tracer)
      releasePins(spark)
    }
    spark.stop()
  }

  def bench(a: Map[String, String]): Unit = {
    val workloadName = a("workload")
    val data = a("data")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val nproc = a("nproc").toInt
    val launchMs = a("launch-ms").toLong
    val localDir = a("local-dir")
    new File(out).mkdirs()

    // A job's wall and CPU time keep falling for several jobs after the
    // first, while the JIT compiles the planner and the generated code.
    // The text job's slope is the longer and steeper one, so it gets three
    // more warm-up jobs; within the run budget etl gets none.
    val w = workload(workloadName, data, out,
      warmups = if (workloadName == "text_curation") 4 else 1)

    val spark = newSession(nproc, localDir)
    println(f"[perfbench] session: ${(System.currentTimeMillis() - launchMs) / 1e3}%.3f s")
    val tracer = new Tracer(spark.sparkContext, listen = traced)
    w.setup(spark, tracer)
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3
    println(f"[perfbench] setup: $setupS%.3f s")

    val ops = mutable.ArrayBuffer.empty[(Int, Boolean, Op)]
    var measured = 0.0
    var i = 0
    while (measured < seconds || !w.enough(ops.map(_._3).toSeq, traced)) {
      val on = traced && i % 2 == 1
      tracer.enabled = on
      val r = w.run(spark, tracer, i)
      tracer.enabled = false
      ops += ((i, on, r))
      println(f"[perfbench] op $i ${r.kind} ${r.fields.getOrElse("request", "")} " +
        f"traced=$on ${r.wallNs / 1e6}%.1f ms cpu ${r.cpuNs / 1e6}%.0f ms gc ${r.gcMs} ms ok=${r.ok}")
      measured += r.wallNs / 1e9
      i += 1
    }

    val extras = if (traced) w.traceExtras(spark, tracer) else Map.empty[String, Any]
    if (traced) tracer.drain()
    val summary = w.summary(spark)
    val storageMem = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum

    val pw = new PrintWriter(s"$out/ops.jsonl")
    ops.foreach { case (id, on, r) =>
      val layers: Map[String, Any] =
        if (!on) Map.empty
        else {
          val ss = tracer.spansOf(id)
          val all = tracer.allSpans
          ss.groupBy(_.name).map { case (name, group) =>
            val c = new Counters
            group.foreach(s => c.add(s.c))
            name -> Map(
              "self_s" -> group.map(Tracer.selfS(_, all)).sum,
              "wall_s" -> group.map(_.durS).sum,
              "calls" -> group.size, "jobs" -> c.jobs, "pin_jobs" -> c.pinJobs,
              "tasks" -> c.tasks, "cpu_s" -> c.cpuNs / 1e9, "gc_s" -> c.gcMs / 1e3,
              "plan_s" -> c.planMs / 1e3, "shuffle_bytes" -> c.shuffleBytes,
              "spill_bytes" -> c.spillBytes, "input_bytes" -> c.inputBytes,
              "pin_bytes" -> c.pinBytes, "rows_out" -> c.rowsOut)
          }
        }
      pw.println(json.writeValueAsString(Map("op" -> id, "kind" -> r.kind,
        "traced" -> on, "wall_s" -> r.wallNs / 1e9, "cpu_s" -> r.cpuNs / 1e9,
        "gc_s" -> r.gcMs / 1e3, "ok" -> r.ok, "fields" -> r.fields,
        "layers" -> layers)))
    }
    pw.close()
    if (traced) {
      val sp = new PrintWriter(s"$out/spans.json")
      sp.print(Tracer.spansJson(tracer.allSpans))
      sp.close()
    }
    spark.stop()
    val rw = new PrintWriter(s"$out/run.json")
    rw.println(json.writeValueAsString(Map("setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb, "storage_memory_bytes" -> storageMem,
      "nproc" -> nproc, "spark_version" -> org.apache.spark.SPARK_VERSION,
      "java_version" -> System.getProperty("java.version"),
      "trace_extras" -> extras, "summary" -> summary)))
    rw.close()
  }

  def newSession(nproc: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.Graft.tune(spark)
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Remove every persisted block and cached plan: batch jobs start cold. */
  def releasePins(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def dataFiles(f: File): Seq[File] =
    if (f.isFile) {
      if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil else Seq(f)
    } else Option(f.listFiles()).map(_.toSeq.flatMap(dataFiles)).getOrElse(Nil)
}
