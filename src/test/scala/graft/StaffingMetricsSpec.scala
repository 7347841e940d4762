package graft

import graft.metrics.StaffingMetrics

/** The metrics pipeline against hand-computed goldens on synthetic PBJ
  * frames (FIXTURES.md B3 shapes).
  */
class StaffingMetricsSpec extends SparkSpec {
  import spark.implicits._

  private def staffing = Seq(
    // PROVNUM, STATE, CY_Qtr, census, rn, lpn, cna
    ("P1", "TX", "2024Q1", "10", "8.0", "4.0", "12.0"),
    ("P1", "TX", "2024Q1", "20", "6.0", "2.0", "4.0"),
    ("P2", "TX", "2024Q1", "0", "1.0", "1.0", "1.0"),  // zero census -> row dropped
    ("P3", "CA", "garbage", "5", "1.0", "1.0", "1.0")  // bad quarter -> dropped
  ).toDF("PROVNUM", "STATE", "CY_Qtr", "MDScensus", "Hrs_RN", "Hrs_LPN", "Hrs_CNA")

  private def contract = Seq(
    ("P1", "2024Q1", "1.0", "1.0", "1.0", "5.0", "5.0", "5.0"),
    ("P1", "2024Q1", "2.0", "2.0", "2.0", "3.0", "3.0", "3.0"),
    ("P2", "2024Q1", "1.0", "1.0", "1.0", "1.0", "1.0", "1.0"),
    ("P3", "garbage", "1.0", "1.0", "1.0", "1.0", "1.0", "1.0")
  ).toDF("PROVNUM", "CY_Qtr", "Hrs_RN_ctr", "Hrs_LPN_ctr", "Hrs_CNA_ctr",
    "Hrs_RN_emp", "Hrs_LPN_emp", "Hrs_CNA_emp")

  test("foldJoin renames colliding non-key columns deterministically (_fN)") {
    val a = Seq(("k1", 1), ("k2", 2)).toDF("PROVNUM", "x")
      .withColumn("CY_Qtr", org.apache.spark.sql.functions.lit("2024Q1"))
    val b = Seq(("k1", 10), ("k3", 30)).toDF("PROVNUM", "x")
      .withColumn("CY_Qtr", org.apache.spark.sql.functions.lit("2024Q1"))
    val (merged, audit) = StaffingMetrics.foldJoin(Seq(a, b))
    assert(merged.columns.toSet == Set("PROVNUM", "CY_Qtr", "x", "x_f1"))
    assert(merged.count() == 1)
    assert(audit.steps == 1 && audit.emptyAfterStep.isEmpty)
  }

  test("foldJoin records empty intermediate joins (empty_merges audit) in ONE job") {
    val a = Seq(("k1", "2024Q1")).toDF("PROVNUM", "CY_Qtr")
    val b = Seq(("zzz", "2024Q1")).toDF("PROVNUM", "CY_Qtr")
    val (merged, audit) = StaffingMetrics.foldJoin(Seq(a, b))
    // unread audit must throw, not block or return garbage
    intercept[IllegalStateException] { audit.emptyAfterStep }
    // the audit counters ride the caller's own action as observe() metrics
    // — the audited count must launch EXACTLY as many jobs as the
    // unaudited one (AQE splits one action into several jobs; the audit
    // may not add any)
    val (plain, _) = StaffingMetrics.foldJoin(Seq(a, b), audit = false)
    val baseline = jobsDuring(assert(plain.count() == 0))
    val audited = jobsDuring(assert(merged.count() == 0))
    assert(audited == baseline,
      s"audit must ride the caller's action: $audited jobs vs $baseline plain")
    assert(audit.emptyAfterStep == Seq(1))
  }

  test("full pipeline: hand-computed metrics (clean -> agg -> ratios)") {
    val (out, audit, _) = StaffingMetrics.runWithAudit(Seq(staffing, contract))
    val rows = out.collect() // first action populates the join audit
    assert(audit.emptyAfterStep.isEmpty)
    // P2 dropped (zero-sentinel nulls census -> na.drop), P3 dropped (bad
    // quarter -> null CY_Qtr -> na.drop). P1 survives with TWO merged rows
    // (2 staffing x 2 contract rows on the same key = 4 joined rows).
    assert(rows.map(_.getString(0)).toSeq == Seq("P1"))
    // column order matches the reference's final projection
    // (calculate_metrics.py:155-162)
    assert(out.columns.toSeq == Seq("PROVNUM", "STATE", "CY_Qtr",
      "nurse_to_patient_ratio", "contract_vs_employed_ratio", "total_nurse_hours"))
    val r = rows.head
    assert(r.getString(1) == "TX" && r.getString(2) == "2024-Q1")
    // joined rows (staffing x contract): hours repeat per contract row:
    // total_nurse_hours = (24 + 12) * 2 = 72; census = (10+20)*2 = 60
    assert(r.getDouble(5) == 72.0)
    assert(r.getDouble(3) == 72.0 / 60.0)   // nurse_to_patient_ratio
    // contract totals: (3 + 6) * 2 = 18; employed: (15 + 9) * 2 = 48
    assert(r.getDouble(4) == 18.0 / 48.0)   // contract_vs_employed_ratio
  }

  test("runWithAudit counts every drop stage exactly (calculate_metrics.py:93-153)") {
    // staffing + a null-STATE provider: reference dropna includes STATE
    // (calculate_metrics.py:101-108) even though no other stage touches it
    val s = staffing.unionByName(Seq(
      (Option("P5"), Option.empty[String], Option("2024Q1"),
        Option("5"), Option("1.0"), Option("1.0"), Option("1.0")))
      .toDF("PROVNUM", "STATE", "CY_Qtr", "MDScensus", "Hrs_RN", "Hrs_LPN", "Hrs_CNA"))
    val c = contract.unionByName(Seq(
      ("P5", "2024Q1", "1.0", "1.0", "1.0", "1.0", "1.0", "1.0"))
      .toDF("PROVNUM", "CY_Qtr", "Hrs_RN_ctr", "Hrs_LPN_ctr", "Hrs_CNA_ctr",
        "Hrs_RN_emp", "Hrs_LPN_emp", "Hrs_CNA_emp"))
    val (out, joinAudit, drops) = StaffingMetrics.runWithAudit(Seq(s, c))
    // the counters fill in on the first action
    assert(out.collect().map(_.getString(0)).toSeq == Seq("P1"))
    assert(joinAudit.emptyAfterStep.isEmpty)
    assert(drops.zeroNulledRows == 1)       // P2: zero census
    // P2 (zero-nulled criticals), P3 (garbage quarter), P5 (null STATE)
    assert(drops.droppedCriticalRows == 3)
    assert(drops.zeroDenomRows == 0 && drops.droppedRatioRows == 0)
  }

  test("runWithAudit counts zero denominators and ratio drops") {
    val s = Seq(("P4", "TX", "2024Q1", "10", "1.0", "1.0", "1.0"))
      .toDF("PROVNUM", "STATE", "CY_Qtr", "MDScensus", "Hrs_RN", "Hrs_LPN", "Hrs_CNA")
    val c = Seq(("P4", "2024Q1", "1.0", "1.0", "1.0", "0.0", "0.0", "0.0"))
      .toDF("PROVNUM", "CY_Qtr", "Hrs_RN_ctr", "Hrs_LPN_ctr", "Hrs_CNA_ctr",
        "Hrs_RN_emp", "Hrs_LPN_emp", "Hrs_CNA_emp")
    val (out, _, drops) = StaffingMetrics.runWithAudit(Seq(s, c))
    assert(out.collect().isEmpty)
    assert(drops.zeroNulledRows == 0 && drops.droppedCriticalRows == 0)
    assert(drops.zeroDenomRows == 1)    // total_employed sums to 0
    assert(drops.droppedRatioRows == 1) // its ratio is NULL -> dropped
  }

  private def pbj(staff: Seq[(String, String, String, String, String, String, String)],
      contr: Seq[(String, String, String, String, String, String, String, String)]) =
    Seq(staff.toDF("PROVNUM", "STATE", "CY_Qtr", "MDScensus", "Hrs_RN", "Hrs_LPN", "Hrs_CNA"),
      contr.toDF("PROVNUM", "CY_Qtr", "Hrs_RN_ctr", "Hrs_LPN_ctr", "Hrs_CNA_ctr",
        "Hrs_RN_emp", "Hrs_LPN_emp", "Hrs_CNA_emp"))

  test("droppedCriticalRows counts a NaN critical value, as na.drop drops it") {
    // coerceNumeric turns the text "NaN" into a NaN double, which na.drop
    // (like pandas dropna, calculate_metrics.py:100-113) removes
    val (out, _, drops) = StaffingMetrics.runWithAudit(pbj(
      Seq(("P1", "TX", "2024Q1", "10", "1.0", "1.0", "1.0"),
        ("P2", "TX", "2024Q1", "NaN", "1.0", "1.0", "1.0")),
      Seq(("P1", "2024Q1", "1.0", "1.0", "1.0", "2.0", "2.0", "2.0"),
        ("P2", "2024Q1", "1.0", "1.0", "1.0", "2.0", "2.0", "2.0"))))
    assert(out.collect().map(_.getString(0)).toSeq == Seq("P1"))
    assert(drops.zeroNulledRows == 0)
    assert(drops.droppedCriticalRows == 1)
    assert(drops.zeroDenomRows == 0 && drops.droppedRatioRows == 0)
  }

  test("droppedRatioRows counts a NaN ratio, as na.drop drops it") {
    // a NaN contract hour survives cleaning (not a critical column), sums
    // to a NaN total_contract and so a NaN contract_vs_employed_ratio
    val (out, _, drops) = StaffingMetrics.runWithAudit(pbj(
      Seq(("P1", "TX", "2024Q1", "10", "1.0", "1.0", "1.0"),
        ("P2", "TX", "2024Q1", "10", "1.0", "1.0", "1.0")),
      Seq(("P1", "2024Q1", "1.0", "1.0", "1.0", "2.0", "2.0", "2.0"),
        ("P2", "2024Q1", "NaN", "1.0", "1.0", "2.0", "2.0", "2.0"))))
    assert(out.collect().map(_.getString(0)).toSeq == Seq("P1"))
    assert(drops.droppedCriticalRows == 0 && drops.zeroDenomRows == 0)
    assert(drops.droppedRatioRows == 1)
  }

  test("building runWithAudit runs no Spark job; its audits throw until an action") {
    var built: (org.apache.spark.sql.DataFrame, StaffingMetrics.JoinAudit,
      StaffingMetrics.DropAudit) = null
    assert(jobsDuring { built = StaffingMetrics.runWithAudit(Seq(staffing, contract)) } == 0)
    val (out, joinAudit, drops) = built
    intercept[IllegalStateException] { drops.zeroNulledRows }
    intercept[IllegalStateException] { drops.droppedCriticalRows }
    intercept[IllegalStateException] { drops.zeroDenomRows }
    intercept[IllegalStateException] { drops.droppedRatioRows }
    intercept[IllegalStateException] { joinAudit.emptyAfterStep }
    assert(out.count() == 1)
    // after the action the counters are read back, with no job of their own
    assert(jobsDuring {
      assert(joinAudit.emptyAfterStep.isEmpty)
      assert(drops.zeroNulledRows == 1 && drops.droppedCriticalRows == 2)
      assert(drops.zeroDenomRows == 0 && drops.droppedRatioRows == 0)
    } == 0)
  }

  test("the audits of two runs in one plan do not clash, and fill in on a write") {
    val (a, joinA, dropsA) = StaffingMetrics.runWithAudit(Seq(staffing, contract))
    val (b, joinB, dropsB) = StaffingMetrics.runWithAudit(Seq(staffing, contract))
    val dir = java.nio.file.Files.createTempDirectory("graft_metrics_audit").toString
    a.unionByName(b).write.mode("overwrite").parquet(dir)
    assert(spark.read.parquet(dir).count() == 2)
    assert(joinA.emptyAfterStep.isEmpty && joinB.emptyAfterStep.isEmpty)
    assert(dropsA.droppedCriticalRows == 2 && dropsB.droppedCriticalRows == 2)
  }

  test("the audits fill in when every joined row is dropped") {
    // P3's garbage quarter drops its one joined row: the aggregate's input
    // is empty
    val (out, joinAudit, drops) = StaffingMetrics.runWithAudit(
      Seq(staffing.where($"PROVNUM" === "P3"), contract))
    assert(out.collect().isEmpty)
    // AQE prunes the empty aggregate with the stage below it, so Spark
    // reports no value for the pre-aggregate counters: the read recounts
    var dropped = -1L
    assert(jobsDuring { dropped = drops.droppedCriticalRows } > 0)
    assert(dropped == 1)
    assert(joinAudit.emptyAfterStep.isEmpty)
    assert(drops.zeroNulledRows == 0 && drops.droppedCriticalRows == 1)
    assert(drops.zeroDenomRows == 0 && drops.droppedRatioRows == 0)
  }

  test("post-aggregation zero denominator drops the row (F3 on A1 output)") {
    // P4's employed hours are all zero -> total_employed = 0 after the
    // group sum -> zeroToNull -> ratio null -> na.drop
    // (calculate_metrics.py:132-148)
    val s = Seq(("P4", "TX", "2024Q1", "10", "1.0", "1.0", "1.0"))
      .toDF("PROVNUM", "STATE", "CY_Qtr", "MDScensus", "Hrs_RN", "Hrs_LPN", "Hrs_CNA")
    val c = Seq(("P4", "2024Q1", "1.0", "1.0", "1.0", "0.0", "0.0", "0.0"))
      .toDF("PROVNUM", "CY_Qtr", "Hrs_RN_ctr", "Hrs_LPN_ctr", "Hrs_CNA_ctr",
        "Hrs_RN_emp", "Hrs_LPN_emp", "Hrs_CNA_emp")
    val (out, _, _) = StaffingMetrics.runWithAudit(Seq(s, c))
    assert(out.isEmpty)
  }

  test("requireCols raises on missing contract columns (calculate_metrics.py:64-67)") {
    val bad = Seq(("P1", "2024Q1")).toDF("PROVNUM", "CY_Qtr")
    val e = intercept[IllegalArgumentException](StaffingMetrics.requireCols(bad))
    assert(e.getMessage.contains("STATE"))
  }
}
