package graft.tools

/** Dev-only: dump formatted plans for the named queries (plan audit). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Probe.session()
    // "exec:<name>" materializes the query first and prints the FINAL
    // adaptive plan (AQE exchange reuse only appears at runtime stage
    // creation — the static formatted plan shows duplicated subtrees
    // even when execution dedups them).
    val names = if (args.nonEmpty) args.toSeq else Seq("q1_agg")
    names.foreach { n =>
      println(s"==================== $n ====================")
      if (n.startsWith("exec:")) {
        val q = n.stripPrefix("exec:")
        val df = graft.SparkEntry.queries(q)(spark, sfDir)
        df.queryExecution.toRdd.count()
        println(df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head)
      } else {
        graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
