package graft.tools

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.core.{Graft, Jobs}

/** The dev timing harness: times corpus queries and fused bench forms side
  * by side in one session, splits every pass into build, plan and execute
  * time next to process CPU time, counts the shuffles of the final adaptive
  * plan, and checks exact output parity between targets that share a
  * schema.
  *
  * Targets: `<query>` is `SparkEntry.queries(query)`; `fused:<name>` is
  * `Bench.fused(name, …, r)` with r from `Bench.headline`, its figures
  * divided by r (per instance). Each target is warmed by one untimed pass
  * on the warm dir (`Bench.warmDir` when run as a main), so no figure is a
  * cold-JVM figure. Then
  * `passes` rounds run on the measured dir; round i starts at target i
  * (A B, then B A, …) and every pass builds a fresh plan and runs Bench's
  * action, `queryExecution.toRdd.count()`. `build_s` is the builder call,
  * eager-pin jobs included; `plan_s` is `executedPlan`; `cpu_s` is the
  * process CPU delta, which in local mode covers the executors.
  * [[graft.core.Jobs.during]] counts the Spark jobs of each pass (not
  * divided by the instance count):
  * `build_jobs` ran inside the builder call (parquet schema reads, eager
  * pins), `jobs` ran from planning to the end of the action (one per AQE
  * stage, sampling jobs included), so `jobs` is what the query's plan
  * costs in dispatch.
  *
  * Usage (the dir is required): SPARK_GRAFT_SF_DIR=<dir> [SPARK_GRAFT_CPUS=<n>]
  * [GRAFT_PROBE_PASSES=<n>, default 3] runMain graft.tools.Probe <target...>
  * Prints one `[probe]` line per target, one `[probe] parity=` line and one
  * JSON line; exits non-zero on a parity mismatch.
  */
object Probe {
  final class UnknownTarget(name: String) extends IllegalArgumentException(
    s"unknown probe target: $name (want a SparkEntry query or " +
      "fused:<Bench.headline name>)")

  /** One timed pass in seconds, per instance for fused targets, and the
    * Spark jobs its build and its run started.
    */
  final case class Pass(buildS: Double, planS: Double, execS: Double,
      wallS: Double, cpuS: Double, buildJobs: Int, jobs: Int) {
    def fields: Seq[(String, Double)] = Seq("build_s" -> buildS,
      "plan_s" -> planS, "exec_s" -> execS, "wall_s" -> wallS, "cpu_s" -> cpuS)
  }

  final case class Result(target: String, instances: Int, shuffles: Int,
      passes: Seq[Pass]) {
    private def stat(f: Seq[Double] => Double): Seq[(String, Double)] =
      passes.map(_.fields).transpose.map(c => c.head._1 -> f(c.map(_._2)))
    def min: Seq[(String, Double)] = stat(_.min)
    def median: Seq[(String, Double)] = stat { xs =>
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
    private def lowerMedian(xs: Seq[Int]): Int = xs.sorted.apply((xs.size - 1) / 2)
    def buildJobs: Int = lowerMedian(passes.map(_.buildJobs))
    def jobs: Int = lowerMedian(passes.map(_.jobs))
  }

  /** `parity` is "ok", "mismatch", or "not comparable" when no two targets
    * share a schema; `pairs` holds each compared (earlier, later, equal).
    */
  final case class Report(dir: String, loadAvg: Double, results: Seq[Result],
      parity: String, pairs: Seq[(String, String, Boolean)])

  private[tools] final case class Target(name: String, instances: Int,
      build: (SparkSession, String) => DataFrame)

  /** A target name to the query it builds; shared with [[Explain]]. */
  private[tools] def resolve(name: String): Target =
    if (name.startsWith("fused:")) {
      val q = name.stripPrefix("fused:")
      val r = graft.Bench.headline.toMap.getOrElse(q, throw new UnknownTarget(name))
      Target(name, r, (s, d) => graft.Bench.fused(q, s, d, r))
    } else Target(name, 1,
      graft.SparkEntry.queries.getOrElse(name, throw new UnknownTarget(name)))

  /** The session every dev tool but ExtensionsDemo runs in. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Graft.tune(spark)
    spark
  }

  private object Walk extends AdaptiveSparkPlanHelper

  /** Shuffle exchanges in the (final, once executed) adaptive plan and its
    * subqueries. A reused shuffle counts once; broadcasts do not count.
    */
  def shuffles(df: DataFrame): Int =
    Walk.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeLike => s
    }.size

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def timed(spark: SparkSession, dir: String,
      t: Target): (Pass, DataFrame) = {
    val ((df, c0, build), buildJobs) = Jobs.during(spark) {
      val c0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val d = t.build(spark, dir)
      (d, c0, System.nanoTime() - t0)
    }
    val ((plan, exec, cpu), jobs) = Jobs.during(spark) {
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      df.queryExecution.toRdd.count()
      (t2 - t1, System.nanoTime() - t2, os.getProcessCpuTime - c0)
    }
    def s(ns: Long): Double = ns / 1e9 / t.instances
    (Pass(s(build), s(plan), s(exec), s(build + plan + exec), s(cpu),
      buildJobs, jobs), df)
  }

  def measure(spark: SparkSession, dir: String, warmDir: String,
      targets: Seq[String], passes: Int): Report = {
    require(targets.nonEmpty && passes >= 1, "need a target and a pass")
    val ts = targets.map(resolve)
    ts.foreach(_.build(spark, warmDir).queryExecution.toRdd.count())
    val load = os.getSystemLoadAverage
    val runs = (0 until passes).flatMap { i =>
      val order = ts.indices.drop(i % ts.size) ++ ts.indices.take(i % ts.size)
      order.map(j => j -> timed(spark, dir, ts(j)))
    }
    val byTarget = ts.indices.map(j => runs.filter(_._1 == j).map(_._2))
    val lastDf = byTarget.map(_.last._2)
    val results = ts.indices.map(j => Result(ts(j).name, ts(j).instances,
      shuffles(lastDf(j)), byTarget(j).map(_._1)))
    // catalogString ignores nullability, which exceptAll tolerates
    val schema = lastDf.map(_.schema.catalogString)
    val pairs = for {
      j <- ts.indices
      i <- ts.indices.take(j).find(schema(_) == schema(j)).toSeq
    } yield {
      val (a, b) = (ts(i).build(spark, dir), ts(j).build(spark, dir))
      (ts(i).name, ts(j).name, a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
    val parity = if (pairs.isEmpty) "not comparable"
      else if (pairs.forall(_._3)) "ok" else "mismatch"
    Report(dir, load, results, parity, pairs)
  }

  private def json(kv: Seq[(String, Double)], counts: (String, Int)*): String =
    (kv.map { case (k, v) => f""""$k":$v%.4f""" } ++
      counts.map { case (k, n) => s""""$k":$n""" }).mkString("{", ",", "}")

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", throw
      new IllegalArgumentException("set SPARK_GRAFT_SF_DIR to the dir to time"))
    val passes = sys.env.getOrElse("GRAFT_PROBE_PASSES", "3").toInt
    val spark = session()
    val report = try measure(spark, dir, graft.Bench.warmDir, args.toSeq, passes)
      finally spark.stop()
    report.results.foreach { r =>
      val (mn, med) = (r.min.toMap, r.median.toMap)
      println(f"[probe] ${r.target}%-30s x${r.instances}%-5d wall min " +
        f"${mn("wall_s")}%.4f med ${med("wall_s")}%.4f s | median " +
        f"build ${med("build_s")}%.4f plan ${med("plan_s")}%.4f " +
        f"exec ${med("exec_s")}%.4f cpu ${med("cpu_s")}%.4f s | " +
        f"shuffles ${r.shuffles} | jobs ${r.jobs} build_jobs ${r.buildJobs}")
    }
    println(s"[probe] parity=${report.parity}" + report.pairs.map {
      case (a, b, ok) => s" $a=$b:${if (ok) "ok" else "MISMATCH"}"
    }.mkString)
    val targets = report.results.map { r =>
      s"""{"target":${quote(r.target)},"instances":${r.instances},""" +
        s""""shuffles":${r.shuffles},"jobs":${r.jobs},""" +
        s""""build_jobs":${r.buildJobs},"min":${json(r.min)},""" +
        s""""median":${json(r.median)},"passes":""" + r.passes.map(p =>
          json(p.fields, "jobs" -> p.jobs, "build_jobs" -> p.buildJobs))
          .mkString("[", ",", "]") + "}"
    }
    val pairs = report.pairs.map { case (a, b, ok) =>
      s"""{"a":${quote(a)},"b":${quote(b)},"ok":$ok}"""
    }
    println(s"""{"probe":"graft","dir":${quote(dir)},""" +
      f""""load_avg":${report.loadAvg}%.2f,"passes":$passes,""" +
      s""""targets":${targets.mkString("[", ",", "]")},""" +
      s""""parity":${quote(report.parity)},""" +
      s""""parity_pairs":${pairs.mkString("[", ",", "]")}}""")
    if (report.parity == "mismatch") sys.exit(1)
  }
}
