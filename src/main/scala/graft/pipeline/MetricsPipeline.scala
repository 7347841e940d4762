package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import graft.core.Counters
import graft.metrics.StaffingMetrics
import graft.metrics.StaffingMetrics.{DropAudit, JoinAudit}

/** Typed row for the published metrics (calculate_metrics.py:155-162). */
final case class MetricsRow(
    PROVNUM: String,
    STATE: String,
    CY_Qtr: String,
    total_nurse_hours: Double,
    nurse_to_patient_ratio: Double,
    contract_vs_employed_ratio: Double)

/** The metrics pipeline CLI (`python calculate_metrics.py`, SURVEY §3.2):
  * discover qualifying CSVs -> fold-join -> clean -> aggregate -> publish.
  *
  * Usage: MetricsPipeline <csvDir> <outCsvDir>
  */
object MetricsPipeline {

  /** The published metrics with their join and drop audits. All three are
    * lazy: the audits fill in on the first action over the Dataset.
    */
  def run(spark: SparkSession, csvDir: String): (Dataset[MetricsRow], JoinAudit, DropAudit) = {
    import spark.implicits._
    graft.core.Graft.tune(spark)
    val files = Option(new java.io.File(csvDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.toLowerCase.endsWith(".csv"))
    require(files.nonEmpty, s"no CSV files under $csvDir") // :51-54
    val frames = files.toSeq.map(f => spark.read
      .option("header", "true").csv(f.getAbsolutePath))
    val (metrics, audit, drops) = StaffingMetrics.runWithAudit(frames)
    (metrics.as[MetricsRow], audit, drops)
  }

  def main(args: Array[String]): Unit = {
    val Array(csvDir, outDir) = args.take(2)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (out, audit, drops) = run(spark, csvDir)
    // K5 publish (calculate_metrics.py:172); the row count rides the write
    val written = Counters(out.toDF, count(lit(1)).as("rows"))
    written.on.coalesce(1).write.mode("overwrite").option("header", "true").csv(outDir)
    // the audits fill in on the write: the reference's empty-merge
    // (calculate_metrics.py:167-169) and per-stage drop warnings (:93-153)
    audit.emptyAfterStep.foreach(i =>
      System.err.println(s"[metrics] warning: empty merge at step $i"))
    if (drops.zeroNulledRows > 0) System.err.println(
      s"[metrics] warning: zero-nulled critical columns on ${drops.zeroNulledRows} rows")
    if (drops.droppedCriticalRows > 0) System.err.println(
      s"[metrics] warning: dropped ${drops.droppedCriticalRows} rows for missing critical values")
    if (drops.zeroDenomRows > 0) System.err.println(
      s"[metrics] warning: zeroed denominators on ${drops.zeroDenomRows} aggregated rows")
    if (drops.droppedRatioRows > 0) System.err.println(
      s"[metrics] warning: dropped ${drops.droppedRatioRows} aggregated rows for null ratios")
    println(s"[metrics] wrote ${written("rows")} rows to $outDir")
    spark.stop()
  }
}
