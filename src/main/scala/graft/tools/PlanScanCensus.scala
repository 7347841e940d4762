package graft.tools

/** Dev-only: census of duplicated-subtree pressure across the whole
  * corpus — for every query, count `Scan parquet` and `Generate` nodes
  * in the STATIC physical plan (AQE stage reuse may dedup some at
  * runtime, but every duplicated subtree is still planned/codegen'd,
  * and reuse only fires when subtrees canonicalize identically — the
  * r14 text_pmi_pairs lesson is that they often do not). Queries whose
  * static plan scans the same table many times are restructure
  * candidates. Prints the queries with 3 or more scans. Usage:
  * SPARK_GRAFT_SF_DIR=<dir> runMain graft.tools.PlanScanCensus
  */
object PlanScanCensus {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val minScans = 3
    val spark = Probe.session()
    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, b) =>
        try {
          val p = b(spark, sfDir).queryExecution.executedPlan.toString
          val scans = "Scan parquet".r.findAllIn(p).size
          val gens = "Generate".r.findAllIn(p).size
          val wins = "Window".r.findAllIn(p).size
          Some((name, scans, gens, wins))
        } catch {
          case e: Throwable =>
            println(s"[census] $name FAILED: ${e.getClass.getSimpleName}")
            None
        }
    }
    rows.filter(_._2 >= minScans).sortBy(-_._2).foreach { case (n, s, g, w) =>
      println(f"[census] $n%-36s scans=$s%-3d generates=$g%-3d windows=$w")
    }
    spark.stop()
  }
}
