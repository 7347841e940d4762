package graft.tools

/** Dev-only: dump plans for the named targets (plan audit). A target is
  * what [[Probe]] takes: a corpus query or `fused:<Bench.headline name>`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Probe.session()
    // "exec:<target>" materializes the query first and prints the FINAL
    // adaptive plan (AQE exchange reuse only appears at runtime stage
    // creation — the static formatted plan shows duplicated subtrees
    // even when execution dedups them). "opt:<target>" prints the
    // optimized logical plan, the form a plan-identity diff compares.
    val names = if (args.nonEmpty) args.toSeq else Seq("q1_agg")
    names.foreach { n =>
      println(s"==================== $n ====================")
      def build(target: String) = Probe.resolve(target).build(spark, sfDir)
      if (n.startsWith("exec:")) {
        val df = build(n.stripPrefix("exec:"))
        df.queryExecution.toRdd.count()
        println(df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head)
      } else if (n.startsWith("opt:")) {
        println(build(n.stripPrefix("opt:")).queryExecution.optimizedPlan)
      } else {
        build(n).explain("formatted")
      }
    }
    spark.stop()
  }
}
