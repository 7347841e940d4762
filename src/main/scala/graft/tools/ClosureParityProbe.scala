package graft.tools

import org.apache.spark.sql.functions._

/** sf-agnostic self-verification for [[graft.ops.Dedup.clusterNearDups]]
  * at scales where the DuckDB recursive-reach oracle is infeasible (it
  * materializes Σ|component|·|reachable| rows — ~25 min PER QUERY at
  * sf1): the alternating-star labeling must satisfy invariants that are
  * each cheap to check engine-side and that together pin the closure
  * trio (dedup_components / dedup_representatives / dedup_cluster_stats,
  * which are all derived from the same labeling):
  *
  *  1. '''No cross-cluster pair''' — every input pair's endpoints carry
  *     the same label. By induction along any path, this proves
  *     connected ⇒ same label (no under-merge).
  *  2. '''Label = min member''' — each label is the minimum id of its
  *     cluster and a member of it (the canonical-representative
  *     contract the keep-one step relies on).
  *  3. '''Spanning bound''' — each cluster of n members contains at
  *     least n-1 distinct intra-cluster edges (necessary for
  *     connectivity; a cheap whole-corpus screen against over-merge).
  *  4. '''Sampled exact connectivity''' — for the 5 largest clusters
  *     plus a deterministic 1-in-13 sample, the cluster's own edges are
  *     collected and union-find must re-derive one connected group whose
  *     min is the label: same label ⇒ connected, exactly, on the sample
  *     (over-merge check with teeth). Collects are BUDGETED
  *     (GRAFT_PROBE_SAMPLE_BUDGET members+edges, default 2e6): a
  *     pathological giant component is skipped-and-reported rather than
  *     OOMing the probe's driver — it stays screened by 1-3, which are
  *     fully distributed.
  *  5. '''Idempotent re-run''' — a second clusterNearDups over the same
  *     pairs reproduces the labeling bit-for-bit (the convergence
  *     detection is deterministic, not round-count-lucky).
  *
  * clusterNearDups labels edge sets under `spark.sql.autoBroadcastJoinThreshold`
  * with a driver union-find and larger ones with the star loop, so
  * invariants 1-5 run twice: under the session default and at threshold
  * −1 (the loop — otherwise a small sample would check union-find against
  * union-find). The two labelings must also be bit-identical.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.tools.ClosureParityProbe
  * Prints one `[closure-parity] path=<default|loop> ... ok=<bool>` line
  * per path and one `[closure-parity] pathDiff=<n> ok=<bool>` line; exits
  * non-zero on any violated invariant.
  */
object ClosureParityProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Probe.session()

    val docs = graft.core.Graft.table(spark, dir, "documents")
    // The closure trio's exact inputs (QueriesDedup: SNM pairs over
    // source blocks, 16-char prefix sort, window 3).
    def pairs = graft.ops.Dedup.sortedNeighborhood(docs, "doc_id",
      coalesce(substring(col("text"), 1, 16), lit("")), col("source"),
      window = 3).select("id_a", "id_b")
    val ids = docs.select(col("doc_id").as("id"))
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val defaultThreshold = spark.conf.get(thresholdKey)

    // Labels under one threshold and checks invariants 1-5 on them.
    def check(path: String, threshold: String)
        : (org.apache.spark.sql.DataFrame, Boolean) = {
      spark.conf.set(thresholdKey, threshold)
      try {
        val t0 = System.nanoTime()
        val comp = graft.ops.Dedup.clusterNearDups(ids, pairs, "id",
          maxIters = 25).localCheckpoint(true)
        val tCluster = (System.nanoTime() - t0) / 1e9

        // 1. no cross-cluster pair
        val lab = comp.select(col("id"), col("component"))
        val crossPairs = pairs
          .join(lab.select(col("id").as("id_a"), col("component").as("ca")), Seq("id_a"))
          .join(lab.select(col("id").as("id_b"), col("component").as("cb")), Seq("id_b"))
          .where(col("ca") =!= col("cb")).count()

        // 2. label = min member (and member: min==component implies the label
        // id belongs to the group it labels, since component is drawn from ids)
        val badMins = comp.groupBy("component")
          .agg(min(col("id")).as("m"), count(lit(1)).as("n"))
          .where(col("m") =!= col("component")).count()

        // 3. spanning bound: distinct intra edges >= n - 1 per cluster
        val canon = pairs.where(col("id_a") =!= col("id_b"))
          .select(least(col("id_a"), col("id_b")).as("a"),
            greatest(col("id_a"), col("id_b")).as("b")).distinct()
        val edgesPer = canon
          .join(lab.select(col("id").as("a"), col("component")), Seq("a"))
          .groupBy("component").agg(count(lit(1)).as("n_edges"))
        val sizes = comp.groupBy("component").agg(count(lit(1)).as("n"))
        val underTreed = sizes.join(edgesPer, Seq("component"), "left")
          .where(coalesce(col("n_edges"), lit(0L)) < col("n") - 1).count()

        // 4. sampled exact connectivity (largest 5 + deterministic 1-in-13).
        // Driver budget: a pathological giant component would otherwise OOM
        // the probe's own collect — clusters above the member/edge budget are
        // SKIPPED HERE (reported, still screened by invariants 1-3, which are
        // fully distributed) instead of collected.
        val sampleBudget = sys.env.getOrElse("GRAFT_PROBE_SAMPLE_BUDGET",
          "2000000").toLong
        val top = sizes.orderBy(col("n").desc, col("component"))
          .limit(5).select("component")
        val wanted = sizes.where(pmod(col("component"), lit(13L)) === 0)
          .select("component").unionByName(top).distinct()
        val withLoad = wanted
          .join(sizes, Seq("component"))
          .join(edgesPer, Seq("component"), "left")
          .withColumn("load", col("n") + coalesce(col("n_edges"), lit(0L)))
        val oversized = withLoad.where(col("load") > sampleBudget).count()
        val sampled = withLoad.where(col("load") <= sampleBudget)
          .select("component")
        val sampleEdges = canon
          .join(lab.select(col("id").as("a"), col("component")), Seq("a"))
          .join(sampled, Seq("component"))
          .select("component", "a", "b").collect()
          .groupBy(_.getLong(0))
        val sampleMembers = comp.join(sampled, Seq("component"))
          .select("component", "id").collect()
          .groupBy(_.getLong(0)).map { case (c, rs) => c -> rs.map(_.getLong(1)) }
        var sampledBad = 0L
        sampleMembers.foreach { case (c, members) =>
          val parent = scala.collection.mutable.Map(members.map(m => m -> m): _*)
          def find(x: Long): Long = {
            var r = x
            while (parent(r) != r) r = parent(r)
            var y = x
            while (parent(y) != y) { val nx = parent(y); parent(y) = r; y = nx }
            r
          }
          sampleEdges.getOrElse(c, Array.empty).foreach { e =>
            val (a, b) = (e.getLong(1), e.getLong(2))
            if (parent.contains(a) && parent.contains(b)) parent(find(a)) = find(b)
          }
          val roots = members.map(find).distinct
          if (roots.length != 1 || members.min != c) sampledBad += 1
        }

        // 5. idempotent re-run
        val again = graft.ops.Dedup.clusterNearDups(ids, pairs, "id",
          maxIters = 25)
        val diff = comp.unionByName(again)
          .groupBy("id", "component").agg(count(lit(1)).as("c"))
          .where(col("c") =!= 2).count()

        val nComp = sizes.count()
        val ok = crossPairs == 0 && badMins == 0 && underTreed == 0 &&
          sampledBad == 0 && diff == 0
        println(f"[closure-parity] path=$path dir=$dir n_components=$nComp " +
          f"cluster=$tCluster%.1f s crossPairs=$crossPairs badMins=$badMins " +
          f"underTreed=$underTreed sampledBadComponents=$sampledBad " +
          f"(sampled=${sampleMembers.size}, oversizedSkipped=$oversized) " +
          f"idempotentDiff=$diff ok=$ok")
        (comp, ok)
      } finally spark.conf.set(thresholdKey, defaultThreshold)
    }

    val (byDefault, okDefault) = check("default", defaultThreshold)
    val (byLoop, okLoop) = check("loop", "-1")
    val pathDiff = byDefault.unionByName(byLoop)
      .groupBy("id", "component").agg(count(lit(1)).as("c"))
      .where(col("c") =!= 2).count()
    val ok = okDefault && okLoop && pathDiff == 0
    println(s"[closure-parity] pathDiff=$pathDiff ok=$ok")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
