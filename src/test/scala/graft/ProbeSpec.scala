package graft

import graft.tools.Probe

/** The dev timing harness at the smoke scale, one pass: its shuffle count
  * walks the final adaptive plan, its job count covers the pass, its
  * parity check compares only targets that share a schema, and a bad
  * target name fails before any job. Also the job counter it uses and
  * Explain's normalized plan text.
  */
class ProbeSpec extends SparkSpec {

  private def measure(targets: String*): Probe.Report =
    Probe.measure(spark, Bench.warmDir, Bench.warmDir, targets, passes = 1)

  test("shuffle count: 0 for a map-only query, > 0 for q1_agg") {
    // o2_topk is a scan under TakeOrderedAndProject, whose top-k merge
    // runs inside the operator: no exchange node in the plan
    val r = measure("o2_topk", "q1_agg")
    val byName = r.results.map(x => x.target -> x).toMap
    assert(byName("o2_topk").shuffles == 0)
    assert(byName("q1_agg").shuffles > 0)
    assert(r.results.forall(x => x.passes.size == 1 && x.passes.head.wallS > 0))
    assert(r.parity == "not comparable")
  }

  test("job count: 1 for f6_distinct (a gathered read), > 1 for q1_agg") {
    val byName = measure("f6_distinct", "q1_agg").results
      .map(x => x.target -> x).toMap
    assert(byName("f6_distinct").passes.map(_.jobs) == Seq(1))
    assert(byName("q1_agg").jobs > 1)
    // the builder's own job: spark.read.parquet infers the schema with one
    assert(byName("f6_distinct").buildJobs == 1)
  }

  test("Jobs.during nests, and the jobs keep the caller's job group") {
    val sc = spark.sparkContext
    sc.setJobGroup("graft-outer", "outer")
    try {
      val ((inner, group), outer) = graft.core.Jobs.during(spark) {
        spark.range(3).collect()
        val (_, n) = graft.core.Jobs.during(spark)(spark.range(3).collect())
        (n, sc.getLocalProperty("spark.jobGroup.id"))
      }
      assert(inner > 0 && outer == 2 * inner && group == "graft-outer")
    } finally sc.clearJobGroup()
  }

  test("a target against itself reports parity ok") {
    val r = measure("q1_agg", "q1_agg")
    assert(r.parity == "ok")
    assert(r.pairs == Seq(("q1_agg", "q1_agg", true)))
  }

  test("a query and its fused form are not comparable (__rep column)") {
    val r = measure("q1_agg", "fused:q1_agg")
    assert(r.parity == "not comparable")
    assert(r.results.map(_.instances) ==
      Seq(1, Bench.headline.toMap.apply("q1_agg")))
  }

  test("Explain's opt: text of one plan built twice is identical, observe() included") {
    import org.apache.spark.sql.functions.{count, lit}
    def opt(): String = {
      val c = graft.core.Counters(spark.range(10).toDF("id").where("id > 3"),
        count(lit(1)).as("n"))
      graft.tools.Explain.normalize(
        c.on.groupBy("id").count().queryExecution.optimizedPlan.toString)
    }
    val (a, b) = (opt(), opt())
    assert(a.contains("CollectMetrics <uuid>"), a)
    assert(a == b)
  }

  test("an unknown target fails with the named error and runs no Spark job") {
    assert(jobsDuring {
      val e = intercept[Probe.UnknownTarget](
        measure("q1_agg", "fused:no_such_query"))
      assert(e.getMessage.contains("fused:no_such_query"))
      intercept[Probe.UnknownTarget](measure("no_such_query"))
    } == 0)
  }
}
