package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import graft.config.DatasetConfig
import graft.curate.Penalties
import graft.ingest.CsvIngest
import graft.metrics.StaffingMetrics
import graft.quality.DataQuality

/** The reference's `build.py` + `calculate_metrics.py` as one job, from
  * generated CMS-shaped CSVs to written, checked output: config load ->
  * staged datasets -> duplicate audit + completeness -> curated fact and
  * state view -> staffing fold-join metrics -> published metrics CSV.
  */
final class EtlReference(data: String, out: String, warmups: Int) extends Workload {
  /** job_s is the median of three jobs; a traced run times one untraced and one traced job. */
  def enough(ops: Seq[Op], traced: Boolean): Boolean = ops.size >= (if (traced) 2 else 3)

  private def job(spark: SparkSession, t: Tracer, dir: String, dst: String): Map[String, Any] = {
    val specs = t.call("config.load")(DatasetConfig.load(s"$dir/datasets.yml"))
    val staged = specs.map { spec =>
      spec -> t.lazyCall("ingest.stage")(CsvIngest.stage(spark, s"$dir/csv", spec)) { df =>
        val m = t.pin(df)
        m.createOrReplaceTempView(spec.stagingTable)
        m
      }
    }
    val dupGroups = staged.map { case (spec, df) =>
      val (audit, _) = t.lazyCall("quality.dup_audit")(
        DataQuality.duplicateAudit(spark, df, spec.stagingTable, spec.naturalKey))(identity)
      spec.name -> t.call("quality.dup_audit")(
        audit.collect().head.getAs[Long]("duplicate_groups"))
    }.toMap
    val penalties = staged.collectFirst { case (s, df) if s.name == "penalties" => df }.get
    val compl = t.lazyCall("quality.completeness")(
      DataQuality.completeness(penalties, "staging_penalties"))(t.pin)
    val nonNull = t.call("quality.completeness")(compl.collect())
      .map(r => r.getAs[String]("column_name") -> r.getAs[Long]("non_null_count")).toMap
    val fact = t.lazyCall("curate.fact_penalty")(
      Penalties.factPenalty(spark, "staging_penalties")) { df =>
      val m = t.pin(df)
      m.createOrReplaceTempView("fact_penalty")
      m
    }
    t.call("curate.fact_penalty")(fact.write.mode("overwrite").parquet(s"$dst/fact_penalty"))
    val byState = t.lazyCall("curate.by_state")(Penalties.penaltiesByState(spark))(t.pin)
    t.call("curate.by_state")(byState.write.mode("overwrite")
      .option("header", "true").csv(s"$dst/by_state"))
    // calculate_metrics.py discovery: every CSV is read with its header;
    // runWithAudit keeps the frames that carry the join keys
    val pbj = new File(s"$dir/pbj").listFiles().filter(_.getName.endsWith(".csv"))
      .map(_.getAbsolutePath).sorted.toSeq
    val (metrics, audit, _) = t.lazyCall("metrics.fold_join") {
      val frames = pbj.map(p => spark.read.option("header", "true").csv(p))
      StaffingMetrics.runWithAudit(frames)
    } { case (m, au, d) => (t.pin(m), au, d) }
    val emptyMerges = t.call("metrics.publish") {
      metrics.coalesce(1).write.mode("overwrite").option("header", "true")
        .csv(s"$dst/metrics")
      audit.emptyAfterStep
    }
    Map("dup_groups" -> dupGroups, "non_null" -> nonNull,
      "empty_merges" -> emptyMerges.size)
  }

  private var lastOut = ""

  def setup(spark: SparkSession, t: Tracer): Unit = {
    (0 until warmups).foreach { i =>
      job(spark, t, data, s"$out/warmup-$i")
      Main.releasePins(spark)
    }
  }

  /** Each job writes its own directory; run.py checks every one against
    * the DuckDB twin after the run.
    */
  def run(spark: SparkSession, t: Tracer, op: Int): Op = {
    lastOut = s"$out/job-$op"
    val (fields, wall, cpu, gc) = Clock.timed(
      t.operation(op, "job")(job(spark, t, data, lastOut)))
    t.enabled = false
    Main.releasePins(spark)
    Op("job", wall, cpu, gc, ok = true, fields + ("out_dir" -> lastOut))
  }

  override def traceExtras(spark: SparkSession, t: Tracer): Map[String, Any] = {
    val base = spark.read.option("header", "true")
      .csv(s"$data/pbj/PBJ_Daily_Nurse_Staffing_base.csv").count()
    val published = spark.read.option("header", "true").csv(s"$lastOut/metrics").count()
    Map("metrics.join_keep_frac" -> published.toDouble / base,
      "metrics.publish.bytes" -> Main.dataFiles(new File(s"$lastOut/metrics")).map(_.length).sum)
  }

  override def summary(spark: SparkSession): Map[String, Any] = {
    val in = Main.dataFiles(new File(s"$data/csv")).map(_.length).sum +
      Main.dataFiles(new File(s"$data/pbj")).map(_.length).sum
    Map("in_bytes" -> in,
      "out_bytes" -> Main.dataFiles(new File(lastOut)).map(_.length).sum)
  }
}
