package graft.service

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

import graft.core.Graft

/** The interactive query surface (reference dashboards, SURVEY.md §3.3):
  * catalog ops, previews, numeric means, cascading filters, grouped means,
  * pivots. The parity target is the QUERIES, not the UI.
  *
  * The aggregating reads (`options`, `numericMeans`, `groupedMean`,
  * `pivotSum`) first [[Graft.gather]] their input: at or under
  * `spark.sql.files.openCostInBytes` (4 MB by default) it is one
  * partition, so the aggregate and the sort plan no exchange and a read
  * runs as one Spark job instead of one per exchange plus the range-sample
  * job of `orderBy`. Dispatch, not data, is what a small dashboard read
  * costs. A larger input keeps the distributed plan unchanged.
  */
object MetricsService {

  /** Catalog scan (reference streamlit_app.py:9-12; filters internal
    * tables — the `NOT LIKE 'sqlite_%'` analogue).
    */
  def listTables(spark: SparkSession): Seq[String] =
    spark.catalog.listTables().collect()
      .map(_.name).filterNot(_.startsWith("_")).sorted.toSeq

  /** Preview (streamlit_app.py:32). */
  def preview(df: DataFrame, n: Int = 5): DataFrame = df.limit(n)

  /** Numeric-column means (streamlit_app.py:34-37): avg over every numeric
    * column in one aggregate (null-skipping, matching pandas mean).
    */
  def numericMeans(df: DataFrame): DataFrame = {
    val numCols = df.schema.fields.toIndexedSeq
      .filter(_.dataType.isInstanceOf[NumericType]).map(_.name)
    require(numCols.nonEmpty, "no numeric columns")
    val aggs = numCols.map(c => avg(col(c)).as(s"avg_$c"))
    Graft.gather(df).agg(aggs.head, aggs.tail: _*)
  }

  /** Distinct non-null values of a column, sorted
    * (metrics_dashboard.py:20-23 cascade options).
    */
  def options(df: DataFrame, column: String): DataFrame =
    Graft.gather(df).select(column).na.drop().distinct().orderBy(column)

  /** Cascading filter (metrics_dashboard.py:25):
    * STATE equality + PROVNUM in-list.
    */
  def filterFacilities(df: DataFrame, state: String, provnums: Seq[String]): DataFrame =
    df.where(col("STATE") === state && col("PROVNUM").isInCollection(provnums))

  /** Grouped mean of a metric (metrics_dashboard.py:28-31, 43-46). */
  def groupedMean(df: DataFrame, groupCol: String, metricCol: String): DataFrame =
    Graft.gather(df).groupBy(groupCol)
      .agg(avg(metricCol).as(s"avg_$metricCol"))
      .orderBy(groupCol)

  /** Pivot (metrics_dashboard.py:34-39): index x columns sum. Pass
    * `pivotValues` when known for a deterministic, single-pass plan
    * (otherwise Spark runs a distinct-collect first — fine interactively,
    * wrong at scale).
    */
  def pivotSum(df: DataFrame, indexCol: String, pivotCol: String,
      valueCol: String, pivotValues: Seq[String] = Nil): DataFrame = {
    val g = Graft.gather(df).groupBy(indexCol)
    val p = if (pivotValues.nonEmpty) g.pivot(pivotCol, pivotValues) else g.pivot(pivotCol)
    p.sum(valueCol).orderBy(indexCol)
  }
}
