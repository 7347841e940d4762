package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.Graft
import graft.service.MetricsService

/** Dashboard query surface (M4) + table/CSV sinks (K1/K2/K5). */
class ServiceAndSinksSpec extends SparkSpec {
  import spark.implicits._

  private lazy val metrics = Seq(
    ("P1", "TX", "2024-Q1", 100.0, 1.2, 0.3),
    ("P2", "TX", "2024-Q1", 200.0, 1.5, 0.4),
    ("P1", "TX", "2024-Q2", 150.0, 1.3, 0.5),
    ("P3", "CA", "2024-Q1", 300.0, 2.0, 0.6)
  ).toDF("PROVNUM", "STATE", "CY_Qtr",
    "total_nurse_hours", "nurse_to_patient_ratio", "contract_vs_employed_ratio")

  test("options: sorted distinct non-null values (cascade source)") {
    val states = MetricsService.options(metrics, "STATE").as[String].collect()
    assert(states.toSeq == Seq("CA", "TX"))
  }

  test("filterFacilities: state equality + PROVNUM in-list") {
    val out = MetricsService.filterFacilities(metrics, "TX", Seq("P1"))
    assert(out.count() == 2)
    assert(out.select("PROVNUM").distinct().as[String].collect().toSeq == Seq("P1"))
  }

  test("groupedMean: null-skipping avg per group, sorted") {
    val out = MetricsService.groupedMean(
      MetricsService.filterFacilities(metrics, "TX", Seq("P1", "P2")),
      "PROVNUM", "nurse_to_patient_ratio").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("P1", "P2"))
    assert(out(0).getDouble(1) == 1.25) // (1.2 + 1.3) / 2
  }

  test("pivotSum with explicit and discovered pivot values") {
    val explicitCols = MetricsService.pivotSum(metrics, "CY_Qtr", "PROVNUM",
      "total_nurse_hours", Seq("P1", "P2", "P3"))
    val r = explicitCols.orderBy("CY_Qtr").collect()
    assert(explicitCols.columns.toSeq == Seq("CY_Qtr", "P1", "P2", "P3"))
    assert(r(0).getDouble(1) == 100.0 && r(0).getDouble(3) == 300.0)
    assert(r(1).isNullAt(2)) // P2 has no Q2 rows -> null cell
    val discovered = MetricsService.pivotSum(metrics, "CY_Qtr", "PROVNUM",
      "total_nurse_hours")
    assert(discovered.columns.sorted.toSeq == explicitCols.columns.sorted.toSeq)
  }

  test("numericMeans averages every numeric column (null-skipping)") {
    val out = MetricsService.numericMeans(metrics).collect().head
    assert(out.getDouble(out.fieldIndex("avg_total_nurse_hours")) == 187.5)
  }

  /** Runs `body` with the gather bound lowered to `bytes`, then restores it. */
  private def withOpenCost[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.files.openCostInBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The four aggregating reads, each over the given input. */
  private val reads: Seq[(String, DataFrame => DataFrame)] = Seq(
    "options" -> (MetricsService.options(_, "STATE")),
    "groupedMean" -> (df => MetricsService.groupedMean(
      MetricsService.filterFacilities(df, "TX", Seq("P1", "P2")),
      "PROVNUM", "nurse_to_patient_ratio")),
    "pivotSum" -> (MetricsService.pivotSum(_, "CY_Qtr", "PROVNUM",
      "total_nurse_hours", Seq("P1", "P2", "P3"))),
    "numericMeans" -> MetricsService.numericMeans)

  /** Same rows in the same order; doubles to 1e-9 relative (partial sums
    * merge in a different order on a different partitioning).
    */
  private def assertClose(a: Seq[Row], b: Seq[Row], what: String): Unit = {
    assert(a.size == b.size, what)
    a.zip(b).foreach { case (x, y) =>
      assert(x.length == y.length, what)
      x.toSeq.zip(y.toSeq).foreach {
        case (u: Double, v: Double) =>
          assert(math.abs(u - v) <= 1e-9 * math.max(math.abs(u), math.abs(v)),
            s"$what: $x vs $y")
        case (u, v) => assert(u == v, s"$what: $x vs $y")
      }
    }
  }

  test("a read of an input under openCostInBytes runs one job; over it, the distributed plan") {
    reads.foreach { case (name, read) =>
      var small, large = Seq.empty[Row]
      assert(jobsDuring { small = read(metrics).collect().toSeq } == 1, name)
      val distributed = withOpenCost(1) {
        assert(Graft.gather(metrics) eq metrics)
        jobsDuring { large = read(metrics).collect().toSeq }
      }
      assert(distributed > 1, name)
      assertClose(small, large, name)
    }
  }

  test("a 3-partition input gathers to the distributed path's rows (1e-9 relative)") {
    val spread = metrics.repartition(3)
    reads.foreach { case (name, read) =>
      val gathered = read(spread).collect().toSeq
      val distributed = withOpenCost(1)(read(spread).collect().toSeq)
      assertClose(gathered, distributed, name)
    }
  }

  test("gather returns a streaming frame unchanged") {
    val stream = spark.readStream.format("rate").load()
    assert(Graft.gather(stream) eq stream)
  }

  test("preview limits rows (O2)") {
    assert(MetricsService.preview(metrics, 2).count() == 2)
  }

  test("listTables surfaces registered views (S5)") {
    metrics.createOrReplaceTempView("svc_metrics_view")
    assert(MetricsService.listTables(spark).contains("svc_metrics_view"))
  }

  test("table sinks: overwrite replaces, append accumulates (K1/K2)") {
    val wh = Files.createTempDirectory("graft_sink").toString
    val p = s"$wh/t1"
    metrics.write.mode("overwrite").parquet(p)
    metrics.write.mode("overwrite").parquet(p) // replace, not double
    assert(spark.read.parquet(p).count() == 4)
    metrics.limit(1).write.mode("append").parquet(p)
    assert(spark.read.parquet(p).count() == 5)
  }

  test("partitioned write prunes partitions on filtered read (scale path)") {
    val dir = Files.createTempDirectory("graft_part").toString + "/t"
    metrics.write.partitionBy("STATE").mode("overwrite").parquet(dir)
    val pruned = spark.read.parquet(dir).where(col("STATE") === "CA")
    assert(pruned.count() == 1)
    // the physical scan carries a partition filter (directory pruning)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("STATE"))
  }

  test("bucketed tables co-locate the join: no shuffle exchange (scale path)") {
    import spark.implicits._
    val left = (1 to 5000).map(i => (i.toLong, s"L$i")).toDF("k", "lv")
    val right = (1 to 5000).map(i => (i.toLong, i * 2.0)).toDF("k", "rv")
    left.write.mode("overwrite").bucketBy(8, "k").saveAsTable("bkt_left")
    right.write.mode("overwrite").bucketBy(8, "k").saveAsTable("bkt_right")
    // force a non-broadcast join so the bucket/shuffle behavior is visible
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
      assert(joined.count() == 5000)
      val plan = joined.queryExecution.executedPlan.toString
      // bucket-aligned scans feed the join directly — no Exchange either side
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected bucket join without shuffle, got:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
      (64L << 20).toString)
  }

  test("approx_count_distinct sketch lands within 5% of exact (scale path)") {
    import spark.implicits._
    val df = (1 to 50000).map(i => i % 7919).toDF("v")
    val r = df.agg(
      countDistinct($"v").as("exact"),
      approx_count_distinct($"v", 0.02).as("approx")).collect().head
    val exact = r.getLong(0).toDouble
    assert(math.abs(r.getLong(1) - exact) / exact < 0.05)
  }

  test("CSV sink round-trips with header (K5, metrics publish)") {
    val out = Files.createTempDirectory("graft_csvout").toString + "/metrics"
    metrics.coalesce(1).write.option("header", "true").csv(out)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(out)
    assert(back.count() == 4)
    assert(back.columns.toSeq == metrics.columns.toSeq)
  }
}
