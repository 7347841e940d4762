package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import graft.core.Counters
import graft.functions.{Cleaning, Norm}

/** The staffing-metrics pipeline (reference calculate_metrics.py): discover
  * qualifying inputs -> N-way inner fold-join -> clean -> aggregate ->
  * ratios. The semantic traps (SURVEY.md §7.4) are reproduced explicitly:
  * merge-collision renaming, row-wise zero-sentinel nulling over the
  * critical set, null-skipping horizontal sums, denominator zero->NULL.
  */
object StaffingMetrics {

  val joinKeys = Seq("PROVNUM", "CY_Qtr")

  /** calculate_metrics.py:11-25 REQUIRED_COLS. */
  val requiredCols = Seq(
    "PROVNUM", "STATE", "CY_Qtr", "MDScensus",
    "Hrs_RN", "Hrs_LPN", "Hrs_CNA",
    "Hrs_RN_ctr", "Hrs_LPN_ctr", "Hrs_CNA_ctr",
    "Hrs_RN_emp", "Hrs_LPN_emp", "Hrs_CNA_emp")

  val criticalCols = Seq("MDScensus", "Hrs_RN", "Hrs_LPN", "Hrs_CNA")

  /** Join audit. `steps` is eager. `emptyAfterStep` (the reference's
    * `empty_merges`) is populated by the FIRST action on the joined frame:
    * the per-step row counts ride that job as `observe()` metrics, so the
    * audit costs zero extra jobs. Reading it before any action throws.
    */
  final class JoinAudit private[metrics] (val steps: Int, rows: Seq[(Int, Counters)]) {
    def emptyAfterStep: Seq[Int] = rows.collect { case (i, c) if c("rows") == 0L => i }
  }

  /** Row-drop accounting, mirroring the reference's per-stage warnings
    * (calculate_metrics.py:93-97 zero-sentinel count, :100-113 critical
    * dropna count, :134-140 zero-denominator count, :145-153 ratio dropna
    * count). Like [[JoinAudit]], the counters are `observe()` metrics on the
    * published frame's own chain and cost no extra job. Two conditions hold:
    *  - they are exact after the first full action on the published frame
    *    (a write, `collect`, `count` or `localCheckpoint`); reading them
    *    before any action throws;
    *  - a `limit`/`head` first action can stop the post-aggregate scan
    *    early, so it can leave `zeroDenomRows` and `droppedRatioRows`
    *    partial.
    */
  final class DropAudit private[metrics] (zeroed: Counters, critical: Counters,
      ratios: Counters) {
    def zeroNulledRows: Long = zeroed("n")          // rows whose critical set was zero-nulled
    def droppedCriticalRows: Long = critical("n")   // rows dropped for a NULL/NaN critical value
    def zeroDenomRows: Long = ratios("zero_denom")  // aggregated rows with a zeroed denominator
    def droppedRatioRows: Long = ratios("dropped")  // aggregated rows dropped for NULL/NaN ratios
  }

  /** Iterative N-way inner equi-join on (PROVNUM, CY_Qtr)
    * (reference calculate_metrics.py:56-62). Overlapping non-key columns are
    * deterministically renamed `<col>_fN` by source position — the Spark
    * replacement for pandas' `_x`/`_y` suffixing (SURVEY.md §7.4.1).
    * `audit = true` reproduces the reference's per-step empty-merge check
    * (calculate_metrics.py:57-62) as free-riding `observe()` counters: one
    * `CollectMetrics` per step inside the single lazy plan, read back from
    * [[JoinAudit.emptyAfterStep]] after the caller's first action. Scale-
    * safe at any N; `audit = false` skips even the plan nodes.
    */
  def foldJoin(frames: Seq[DataFrame], keys: Seq[String] = joinKeys,
      audit: Boolean = true): (DataFrame, JoinAudit) = {
    require(frames.nonEmpty, "no qualifying input frames") // :51-54
    var merged = frames.head
    var rows = List.empty[(Int, Counters)]
    frames.zipWithIndex.drop(1).foreach { case (f, i) =>
      val clash = merged.columns.toSet
        .intersect(f.columns.toSet) -- keys
      val renamed = clash.foldLeft(f)((d, c) => d.withColumnRenamed(c, s"${c}_f$i"))
      merged = merged.join(renamed, keys, "inner")
      if (audit) { // :57-62 empty-merge audit
        val c = Counters(merged, count(lit(1)).as("rows"))
        merged = c.on
        rows ::= (i, c)
      }
    }
    (merged, new JoinAudit(frames.size - 1, rows.reverse))
  }

  /** Post-merge contract check (reference calculate_metrics.py:64-67). */
  def requireCols(df: DataFrame): DataFrame = {
    val missing = requiredCols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"missing required columns: ${missing.mkString(",")}")
    df
  }

  /** Cleaning (reference calculate_metrics.py:71-114): quarter
    * normalization, numeric coercion, row-wise zero-sentinel nulling of the
    * critical set, then drop rows with any critical NULL or NaN. The two
    * cleaning counters of [[DropAudit]] are observed just before the
    * nulling and just before the drop.
    *
    * The drop set is the reference's dropna subset (critical cols + STATE +
    * CY_Qtr, calculate_metrics.py:101-108) PLUS PROVNUM: the reference
    * never lists PROVNUM there, but pandas `groupby` silently drops
    * NaN-keyed rows at the aggregation (calculate_metrics.py:124) while
    * Spark groupBy KEEPS null keys — dropping null PROVNUM here reproduces
    * the reference's net row set.
    */
  private val dropSubset = criticalCols ++ Seq("STATE", "CY_Qtr", "PROVNUM")

  /** The rows `df.na.drop(cols)` removes: a NULL in any of `cols`, or a
    * NaN in a floating-point one (`coerceNumeric` turns the text "NaN"
    * into NaN, and pandas `dropna` drops it too).
    */
  private def dropped(df: DataFrame, cols: Seq[String]): Column =
    cols.map { c =>
      df.schema(c).dataType match {
        case DoubleType | FloatType => col(c).isNull || isnan(col(c))
        case _ => col(c).isNull
      }
    }.reduce(_ || _)

  private def clean(df: DataFrame): (DataFrame, Counters, Counters) = {
    val numericCols = requiredCols.filterNot(Seq("PROVNUM", "STATE", "CY_Qtr").contains)
    val coerced = numericCols.foldLeft(
      df.withColumn("CY_Qtr", Norm.normalizeQuarter(col("CY_Qtr")))  // :74
    )((d, c) => d.withColumn(c, Cleaning.coerceNumeric(col(c))))     // :88-90
    val anyZero = criticalCols.map(col(_) === 0).reduce(_ || _)
    val nZeroed = Counters(coerced, count(when(anyZero, 1)).as("n"))
    val zeroed = Cleaning.zeroSentinelNull(nZeroed.on, criticalCols) // :92-98
    val nDropped = Counters(zeroed,
      count(when(dropped(zeroed, dropSubset), 1)).as("n"))
    (nDropped.on.na.drop(dropSubset), nZeroed, nDropped)             // :101-108
  }

  /** Aggregation + ratios (reference calculate_metrics.py:117-162):
    * horizontal hour sums, group totals, denominator zero->NULL, ratio
    * columns, drop NULL-ratio rows, final projection.
    *
    * `zero_denom` counts rows whose census OR employed denominator is NULL
    * post-zeroing; the reference counts rows where either WAS zero
    * (calculate_metrics.py:132-135) — identical unless a denominator was
    * already NULL, impossible here (sum over the cleaned, null-dropped set).
    */
  private def metrics(df: DataFrame): (DataFrame, Counters) = {
    val withSums = df
      .withColumn("total_hours", Cleaning.horizontalSum(
        Seq(col("Hrs_RN"), col("Hrs_LPN"), col("Hrs_CNA"))))          // :119
      .withColumn("total_hours_ctr", Cleaning.horizontalSum(
        Seq(col("Hrs_RN_ctr"), col("Hrs_LPN_ctr"), col("Hrs_CNA_ctr"))))
      .withColumn("total_hours_emp", Cleaning.horizontalSum(
        Seq(col("Hrs_RN_emp"), col("Hrs_LPN_emp"), col("Hrs_CNA_emp"))))
    val agg = withSums.groupBy("STATE", "PROVNUM", "CY_Qtr").agg(     // :123-131
      sum("total_hours").as("total_nurse_hours"),
      sum("MDScensus").as("total_census"),
      sum("total_hours_ctr").as("total_contract"),
      sum("total_hours_emp").as("total_employed"))
    val ratioed = agg
      .withColumn("total_census", Cleaning.zeroToNull(col("total_census")))     // :132-140
      .withColumn("total_employed", Cleaning.zeroToNull(col("total_employed")))
      .withColumn("nurse_to_patient_ratio",
        col("total_nurse_hours") / col("total_census"))               // :142
      .withColumn("contract_vs_employed_ratio",
        col("total_contract") / col("total_employed"))                // :143
    val ratioCols = Seq("nurse_to_patient_ratio", "contract_vs_employed_ratio")
    val nRatio = Counters(ratioed,
      count(when(col("total_census").isNull || col("total_employed").isNull, 1))
        .as("zero_denom"),
      count(when(dropped(ratioed, ratioCols), 1)).as("dropped"))
    (nRatio.on
      .na.drop(ratioCols)                                             // :145-148
      .select("PROVNUM", "STATE", "CY_Qtr",                           // :155-162
        "nurse_to_patient_ratio", "contract_vs_employed_ratio", "total_nurse_hours"),
      nRatio)
  }

  /** Full pipeline over pre-loaded frames (discovery/schema-predicate F1 is
    * the caller's: keep frames whose columns ⊇ join keys,
    * calculate_metrics.py:48-49), with the join audit and the reference's
    * four row-drop counters. Building the frame runs no Spark job: both
    * audits fill in on the caller's first action over it.
    */
  def runWithAudit(frames: Seq[DataFrame]): (DataFrame, JoinAudit, DropAudit) = {
    val qualifying = frames.filter(f => joinKeys.forall(f.columns.contains))
    val (merged, joinAudit) = foldJoin(qualifying)
    val (cleaned, nZeroed, nDropped) = clean(requireCols(merged))
    val (out, nRatio) = metrics(cleaned)
    (out, joinAudit, new DropAudit(nZeroed, nDropped, nRatio))
  }
}
