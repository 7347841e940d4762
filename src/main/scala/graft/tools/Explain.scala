package graft.tools

/** Dev-only: dump plans for the named targets (plan audit). A target is
  * what [[Probe]] takes: a corpus query or `fused:<Bench.headline name>`;
  * `all` stands for every corpus query, then every fused form.
  *
  * Plain `<target>` prints the formatted physical plan. `exec:<target>`
  * materializes the query first and prints the FINAL adaptive plan (AQE
  * exchange reuse only appears at runtime stage creation — the static
  * formatted plan shows duplicated subtrees even when execution dedups
  * them). `opt:<target>` prints the optimized logical plan with every
  * run-specific token made fixed ([[normalize]]) and expression ids
  * aligned per target ([[alignExprIds]]), so the output of two
  * checkouts diffs clean unless a plan moved: the plan-identity check of a
  * refactor is `opt:all` on both, then `diff`.
  *
  * Usage: [SPARK_GRAFT_SF_DIR=<dir>, default sf0.01] runMain
  * graft.tools.Explain [exec:|opt:]<target|all>...
  */
object Explain {
  /** The run-specific tokens of a printed plan and their fixed text:
    * expression ids, object hashes, lambda class names, Observation (and
    * other) UUIDs and the Dataset ids CollectMetrics prints. An optimized
    * plan prints no file locations, so no temp path needs a rule.
    */
  private val runSpecific = Seq(
    """#\d+""".r -> "#N",
    """\$\$Lambda\$?\d*/0x[0-9a-f]+""".r -> "\\$\\$Lambda",
    """@[0-9a-f]+""".r -> "@H",
    """[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}""".r -> "<uuid>",
    """(CollectMetrics <uuid>, \[.*\], )\d+""".r -> "$1N")

  private[graft] def normalize(plan: String): String =
    runSpecific.foldLeft(plan) { case (p, (re, to)) => re.replaceAllIn(p, to) }

  /** Moves the expression-id counter to the next multiple of 2^20. Some
    * optimizer rules order by id hash (the Expand of a multi-distinct
    * aggregate), so without this a target's `opt:` plan would depend on
    * how many ids the targets before it took, which a refactor can change
    * without moving any plan.
    */
  private def alignExprIds(): Unit = {
    import org.apache.spark.sql.catalyst.expressions.NamedExpression
    while (NamedExpression.newExprId.id % (1L << 20) != 0) {}
  }

  private def targets(name: String): Seq[String] =
    if (name != "all") Seq(name)
    else graft.SparkEntry.queries.keys.toSeq.sorted ++
      graft.Bench.headline.map("fused:" + _._1)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Probe.session()
    val names = (if (args.nonEmpty) args.toSeq else Seq("q1_agg")).flatMap { n =>
      Seq("exec:", "opt:").find(n.startsWith) match {
        case Some(mode) => targets(n.stripPrefix(mode)).map(mode + _)
        case None => targets(n)
      }
    }
    names.foreach { n =>
      println(s"==================== $n ====================")
      def build(target: String) = Probe.resolve(target).build(spark, sfDir)
      if (n.startsWith("exec:")) {
        val df = build(n.stripPrefix("exec:"))
        df.queryExecution.toRdd.count()
        println(df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head)
      } else if (n.startsWith("opt:")) {
        alignExprIds()
        println(normalize(build(n.stripPrefix("opt:")).queryExecution
          .optimizedPlan.toString))
      } else {
        build(n).explain("formatted")
      }
    }
    spark.stop()
  }
}
