package graft

/** Plan-shape regression guards: the physical properties that make the
  * corpus scale (broadcasts, pushdown, pruning) asserted against the real
  * optimized plans — a plan regression fails CI before it costs a shuffle
  * at 100 TB.
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  /** Post-execution adaptive plan — the joins AQE actually ran with.
    * (toString appends the pre-adaptive "Initial Plan" section; cut it.)
    */
  private def finalPlan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf)
    df.queryExecution.toRdd.count() // materialize AQE stages
    val s = df.queryExecution.executedPlan.toString
    s.split("== Initial Plan ==").head
  }

  test("j1_multiway_join runs fully broadcast at this scale (AQE final plan)") {
    val p = finalPlan("j1_multiway_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("filter queries push predicates into the parquet scan") {
    val p = plan("f2_null_drop")
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_orderkey,3000)"))
  }

  test("q1_agg scan is pruned to the referenced columns") {
    val p = plan("q1_agg")
    // 11-column table; only the 4 referenced columns may be read
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_shipdate") && !p.contains("l_partkey"))
  }

  test("o2_topk compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan("o2_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
  }

  test("j5_range_join broadcasts the exploded interval side") {
    val p = plan("j5_range_join")
    assert(p.contains("BroadcastHashJoin") && p.contains("Generate"))
  }

  test("o3_zorder compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan("o3_zorder")
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
  }

  test("map-side text queries stay single-stage (no join, no aggregate)") {
    // repetition/chunking/PII/coverage scoring are per-doc map passes; a
    // HashAggregate or Join in the plan would mean a corpus-wide shuffle
    // crept into what must stay embarrassingly parallel at 100 TB.
    // (text_vocab_coverage's vocab pass runs eagerly at build time — the
    // SCORING plan asserted here has the vocab folded in as literals.)
    for (q <- Seq("text_repetition", "text_chunks", "text_pii_redact",
        "text_vocab_coverage", "text_strip_accents", "text_char_diversity",
        "text_readability")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q plan contains a join: ${p.take(400)}")
      assert(!p.contains("HashAggregate"),
        s"$q plan contains an aggregate: ${p.take(400)}")
    }
  }

  test("text_kneser_ney attaches marginals by broadcast; top-k is bounded") {
    // The bigram table pins once (localCheckpoint); the three marginal
    // re-attaches must be broadcast joins (vocab-sized sides) and the
    // top-200 selection a TakeOrderedAndProject — a SortMergeJoin or a
    // global Sort here would shuffle the corpus-sized bigram table per
    // marginal at 100 TB.
    val p = finalPlan("text_kneser_ney")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("text_pmi_pairs derives everything from the one checkpointed aggregate") {
    // The (w_a, w_b) aggregate (unigrams ride as (w, NULL) rows) is the
    // single corpus pass, pinned by eager localCheckpoint; the final
    // query must read ONLY that pinned frame (no parquet re-scan — the
    // pre-r14 form evaluated the per-doc HOF pair chain 4x) and attach
    // the vocab-sized marginals by broadcast, never a corpus shuffle.
    val p = finalPlan("text_pmi_pairs")
    assert(!p.contains("Scan parquet"), p.take(800))
    assert(p.contains("Scan ExistingRDD"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(800))
  }

  test("f14_robust_scale broadcasts the per-group cut table; scoring is map-side") {
    val p = finalPlan("f14_robust_scale")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(!p.contains("Window"), p.take(800))
  }

  test("dq_ks_drift broadcasts totals; the only window partitions by type") {
    // the running-count window must be per-type (never a global sort)
    // and the totals re-attach must broadcast — a SortMergeJoin would
    // shuffle the grid per marginal at scale.
    val p = finalPlan("dq_ks_drift")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert("Window \\[".r.findAllIn(p).size <= 1, p.take(800))
    assert(p.contains("partitionBy=[event_type]") ||
      p.contains("hashpartitioning(event_type"), p.take(1200))
  }

  test("sketch_kmv_distinct folds through one bounded aggregate, no window") {
    // the KMV buffers are k-bounded partial aggregates — only
    // 64-long buffers cross the shuffle, and no window/sort ranks the
    // hash column corpus-wide.
    val p = plan("sketch_kmv_distinct")
    assert(!p.contains("Window"), p.take(800))
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      p.take(800))
  }

  test("similarity top-k is a bounded partial aggregate, not a window sort") {
    // The scale contract: no corpus-sized shuffle+sort into Q hot reducer
    // partitions. The finisher must be a partial+final ObjectHashAggregate
    // (TopKAgg) — only partitions x Q x k buffer rows cross the shuffle.
    for (q <- Seq("sim_brute_topk", "sim_lsh_topk", "sim_ivf_topk")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q still uses a window finisher: ${p.take(600)}")
      assert(p.contains("ObjectHashAggregate") && p.contains("topkagg"),
        s"$q lacks the bounded TopKAgg aggregate: ${p.take(600)}")
    }
  }

  test("sim_knn_join never collects a side: zero jobs at build, lazy cogroup plan") {
    // The structural contract that distinguishes knnJoin from the
    // broadcast-matrix entry points: BOTH sides stay DataFrames. Building
    // the plan must launch no Spark job (bruteForceTopK fires its
    // query-side collect right here), and the physical plan must carry
    // the block cogroup over two lazy parquet scans plus the bounded
    // TopKAggMerge finisher — no Window, no corpus sort.
    // Table reads stay OUTSIDE the window: a cold spark.read.parquet can
    // fire a driver schema-read job that has nothing to do with the
    // operator under test.
    val emb = graft.core.Graft.table(spark, sf, "embeddings")
    val jobs = jobsDuring {
      val d = graft.ops.Similarity.knnJoin(emb, emb, k = 3, nBlocks = 4)
      d.queryExecution.executedPlan // force full planning
    }
    assert(jobs == 0,
      s"planning knnJoin launched $jobs job(s) — a side was collected")
    val p = SparkEntry.queries("sim_knn_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("CoGroup"), p.take(600))
    assert("Scan parquet ".r.findAllIn(p).size >= 2,
      s"expected both sides as lazy parquet scans: ${p.take(600)}")
    assert(!p.contains("Window"), p.take(600))
    assert(p.contains("topkaggmerge"), p.take(600))
  }

  test("sim_knn_join_ivf: zero jobs at build, candidates meet via a cell-partitioned cogroup kernel") {
    // The IVF join's structural contract: both sides stay DataFrames
    // (zero jobs at plan time — the prefix-centroid limit is lazy), and
    // the two sides co-partition on the cell id into the primitive
    // scoring kernel (the knnJoin tail) — no broadcast of a data-sized
    // side, no per-candidate row join, no Window. Only the bounded
    // centroid frame broadcasts.
    val emb = graft.core.Graft.table(spark, sf, "embeddings")
    val jobs = jobsDuring {
      val d = graft.ops.Similarity.knnJoinIvf(emb, emb, k = 3,
        nCells = 16, nProbe = 2)
      d.queryExecution.executedPlan // force full planning
    }
    assert(jobs == 0,
      s"planning knnJoinIvf launched $jobs job(s) — a side was collected")
    val p = SparkEntry.queries("sim_knn_join_ivf")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("CoGroup"), p.take(800))
    assert(p.contains("topkaggmerge"), p.take(800))
    assert(!p.contains("Window"), p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("w2_sessionize shares one exchange across both window functions") {
    val p = plan("w2_sessionize")
    // two Window operators, but user_id is exchanged once
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p.take(800))
  }

  test("w5_frames computes all five frame functions over one sorted window") {
    val p = plan("w5_frames")
    assert("\\bWindow\\b".r.findAllIn(p).size == 1,
      s"expected a single Window operator: ${p.take(800)}")
    assert("Exchange hashpartitioning\\(o_custkey".r.findAllIn(p).size == 1, p.take(800))
  }

  test("w8_ewma evaluates all 19 lags over one sorted window pass") {
    // the 20-term weighted sum must not multiply exchanges or sorts: one
    // hash exchange on user_id, one Window operator carrying every lag
    val p = plan("w8_ewma")
    assert("\\bWindow\\b".r.findAllIn(p).size == 1,
      s"expected a single Window operator: ${p.take(800)}")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      p.take(800))
  }

  test("a16_cube is one Expand + one aggregate exchange (no per-set scans)") {
    val p = plan("a16_cube")
    assert(p.contains("Expand"), p.take(600))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(800))
  }

  test("dedup_sorted_neighborhood is one exchange + one sort, no self-join") {
    val p = plan("dedup_sorted_neighborhood")
    assert(!p.contains("Join"), p.take(800))
    assert("Exchange hashpartitioning\\(block".r.findAllIn(p).size == 1, p.take(800))
  }

  test("a17_unpivot is a map-side Expand — no join, no aggregate exchange") {
    val p = plan("a17_unpivot")
    assert(p.contains("Expand"), p.take(600))
    assert(!p.contains("Join") && !p.contains("hashpartitioning"), p.take(800))
  }

  test("sample_uniform_k compiles to TakeOrderedAndProject (bounded, no global sort)") {
    val p = plan("sample_uniform_k")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("bloom_new_docs probes map-side off ONE reused bloom subquery") {
    val p = finalPlan("bloom_new_docs")
    // the probe must sit in scan-level filters (map-side row routing),
    // never appear as a join
    assert(p.contains("might_contain"), p.take(800))
    assert("DataFilters: \\[[^\\]]*might_contain".r.findFirstIn(p).isDefined,
      s"probe not pushed to the scan: ${p.take(1200)}")
    // both branches + the inferred seen-side filter reuse one subquery
    assert(p.contains("ReusedSubquery"), p.take(800))
    // the exact verify is an anti join over the pruned slice
    assert(p.contains("LeftAnti"), p.take(800))
  }

  test("persisted bloom shards probe with zero jobs over the seen corpus at plan time") {
    // Cross-run incremental dedup contract: once batch sketches are
    // persisted, building today's probe plan must not re-aggregate the
    // seen corpus into a filter (that rebuild is what persistence
    // eliminates). sketchColumns' own driver action reads only the
    // KB-sized sketch table and runs OUTSIDE the listener window.
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bloom_persist_").toString
    val seen = docs
      .where(org.apache.spark.sql.functions.col("doc_id") < 250)
      .select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("text")).as("digest"))
    graft.ops.BloomDedup.saveSketch(seen, "digest", 1L << 16, dir, "b0")
    val sketches = graft.ops.BloomDedup.sketchColumns(spark, dir)
    val incoming = docs
      .where(org.apache.spark.sql.functions.col("doc_id") >= 250)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("text")).as("digest"))
    val jobs = jobsDuring {
      val d = graft.ops.BloomDedup.newRowsWithSketches(
        incoming, seen, "digest", sketches)
      d.queryExecution.executedPlan // force full planning
    }
    assert(jobs == 0,
      s"planning the persisted-sketch probe launched $jobs job(s) — " +
        "the resume path must not rebuild the filter from the corpus")
    // and the persisted route is exact: equals the plain anti-join
    val got = graft.ops.BloomDedup.newRowsWithSketches(
        incoming, seen, "digest", sketches)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val exact = incoming.join(seen, Seq("digest"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == exact)
  }

  test("funnel_user_steps reuses a single user_id exchange across all steps") {
    val p = finalPlan("funnel_user_steps")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"funnel should shuffle user_id exactly once: ${p.take(1200)}")
  }

  test("upsert_merge anti join broadcasts the delta; snapshot never shuffles") {
    val p = finalPlan("upsert_merge")
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).isDefined, p.take(1200))
  }

  test("sim_sq8_topk ranks through bounded TopKAgg — no Window, no corpus sort") {
    val p = finalPlan("sim_sq8_topk")
    assert(!p.contains("Window"), p.take(800))
    assert("partial_topkagg".r.findAllIn(p).size >= 2, // approx + rerank stages
      s"expected bounded partial top-k in both stages: ${p.take(1200)}")
  }

  test("s8_partitioned_scan prunes to the one matching partition directory") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = SparkEntry.queries("s8_partitioned_scan")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters"), p.take(800))
    assert("PartitionFilters: \\[[^\\]]*source".r.findFirstIn(p).isDefined,
      s"source filter must prune partitions, not scan rows: ${p.take(1200)}")
    // Dataset.inputFiles lists the UNpruned file index, so it can't verify
    // pruning; read the physical scan's post-pruning metrics instead.
    df.queryExecution.toRdd.count() // materialize so driver metrics populate
    // AdaptiveSparkPlanExec and (post-execution) QueryStageExec are leaf
    // nodes that hide their subtrees from collect — recurse through both.
    def scans(plan: SparkPlan): Seq[FileSourceScanExec] = plan.collect {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
    }.flatten
    val fs = scans(df.queryExecution.executedPlan)
    assert(fs.nonEmpty, s"no FileSourceScanExec in plan: ${p.take(800)}")
    val partsRead = fs.map(_.metrics("numPartitions").value).sum
    assert(partsRead == 1,
      s"scan must read exactly 1 of the 20 source= directories, read $partsRead")
  }

  test("dedup_snm_multipass is two sort passes + one merge agg — no self-join") {
    val p = plan("dedup_snm_multipass")
    assert("Window".r.findAllIn(p).size == 2,
      s"one window pass per sort key expected: ${p.take(800)}")
    assert(!p.contains("Join"), s"SNM must never self-join: ${p.take(800)}")
  }

  test("sim_pq_topk scores ADC through the partition kernel, no Window") {
    val p = finalPlan("sim_pq_topk")
    assert(!p.contains("Window"), p.take(800))
    assert(p.contains("MapPartitions"),
      s"ADC must run in the primitive kernel: ${p.take(1200)}")
    assert(p.contains("TopKAgg"), p.take(1200))
  }

  test("text_bm25_topk ranks through bounded TopKAgg with broadcast query terms") {
    val p = finalPlan("text_bm25_topk")
    assert(!p.contains("Window"), p.take(800))
    assert(p.contains("TopKAgg"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("ts_interp evaluates both window frames on ONE per-key sort") {
    // running-last (prev) and reversed-first (next) share the same
    // (key, date) partitioning+ordering: Spark must plan them as Window
    // nodes over a single exchange — a second Exchange would mean the
    // spine shuffles twice per fill at 100 TB
    val df = SparkEntry.queries("ts_interp")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val windows = "Window".r.findAllIn(p).size
    assert(windows >= 2, s"expected both fill frames as Window ops: ${p.take(600)}")
    // the printed tree is outermost-first: every Window sits between the
    // first and last "Window" occurrence; an Exchange in that span would
    // mean the frames re-shuffled between passes
    val span = p.substring(p.indexOf("Window"), p.lastIndexOf("Window"))
    assert(!span.contains("Exchange"),
      s"window frames must share one sort, found an Exchange between them: ${p.take(1200)}")
  }

  test("dedup_prefix_jaccard joins only on prefix tokens — no cartesian, filter pushed") {
    val p = plan("dedup_prefix_jaccard")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("PushedFilters") && p.contains("LessThan(doc_id,300)"),
      s"doc_id filter must reach the scan: ${p.take(800)}")
  }

  test("dedup_semantic: assignment is map-side; the only exchange keys on the cell") {
    // the corpus must never shuffle for assignment — centroids are
    // driver-resident and nearest-cell is a narrow per-row argmin
    // (MapPartitions), so no join of any kind appears before the one
    // cell-keyed exchange that feeds the per-cell prune kernel. A
    // cartesian/nested-loop here is the n² failure mode the clustering
    // exists to prevent; a second corpus exchange is the re-shuffle the
    // argmin rewrite removed.
    val p = finalPlan("dedup_semantic")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      p.take(800))
    assert(p.contains("MapPartitions"), s"narrow argmin expected: ${p.take(800)}")
    val corpusExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(corpusExchanges == 1,
      s"exactly one cell-keyed exchange expected, got $corpusExchanges: ${p.take(800)}")
  }

  test("sample_temperature and ppl buckets broadcast their scalar sides") {
    // rate table / tercile cuts are one-to-few rows: the corpus side must
    // join them via broadcast, never an exchange on the stratum key
    val pt = finalPlan("sample_temperature")
    assert(pt.contains("BroadcastHashJoin") || pt.contains("BroadcastNestedLoopJoin"),
      pt.take(800))
    val pb = finalPlan("text_ppl_buckets")
    assert(pb.contains("BroadcastNestedLoopJoin") || pb.contains("BroadcastHashJoin"),
      pb.take(800))
  }

  test("dedup_passages: one tokenize pass, occ-count windows on the hash, no join") {
    // the span-dedup 100 TB contract, r14 form: the corpus tokenizes
    // ONCE (a single Generate/posexplode — the r13 semi-join form
    // planned the tokenize+zip_with+hash chain twice, once per
    // consumer), grams leave the map stage as 8-byte hash60 keys only,
    // and the occ-in-[2,cap] filter is count(*) OVER (PARTITION BY g)
    // on the one shuffled stream — no join exists at all. The window
    // sort here is over the 8-byte hash (long radix, clean sf10
    // scaling per OPTIMIZATION_r14.md §3); the guard keeps out BOTH superlinear
    // regressions: a windowspecdefinition on the k-token STRING gram
    // (the r10 33x-at-sf10 plan) and a SortMergeJoin of the raw stream.
    val p = finalPlan("dedup_passages")
    assert("Generate posexplode".r.findAllIn(p).size == 1, p.take(800))
    assert(!p.contains("Join"), p.take(800))
    assert(!p.toLowerCase.contains("windowspecdefinition(gram"), p.take(800))
  }

  test("vocabulary rankings are bounded top-k selections, not global-window ranks") {
    // r14: a corpus-wide vocabulary ranked through an unpartitioned
    // row_number window funnels every distinct word through ONE task at
    // 100 TB. The top-V selections in the nb-classifier vocabulary and
    // the js-divergence vocabulary are explicit orderBy().limit(V) —
    // TakeOrderedAndProject, V rows per partition merged — and no
    // Window node survives anywhere in either plan. text_zipf_fit DOES
    // keep a window (the fit consumes the rank VALUE), but it ranks the
    // output of a TakeOrderedAndProject — a provably-100-row frame.
    for (q <- Seq("text_nb_classifier", "text_js_divergence")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q: ${p.take(600)}")
      assert(!p.contains("Window"), s"$q: ${p.take(600)}")
    }
    val z = plan("text_zipf_fit")
    assert(z.contains("TakeOrderedAndProject"), z.take(600))
    assert("Window \\[".r.findAllIn(z).size <= 1, z.take(600))
  }

  test("text_js_divergence derives every input from one (source, word) aggregate") {
    // r14 guide §2.4: the vocabulary, the source list and the projected
    // counts all reference the same (source, w) count aggregate, whose
    // exchange subtree canonicalizes identically under every reference
    // (source and w are group keys — pruning cannot diverge below the
    // exchange), so AQE stage reuse materializes the corpus tokenize
    // once. Asserted on the FINAL adaptive plan: at least one
    // ReusedExchange, and at most two parquet scans reach execution
    // (the r13 form re-planned the corpus tokenize per consumer).
    val p = finalPlan("text_js_divergence")
    assert(p.contains("ReusedExchange"), p.take(1000))
    assert("Scan parquet".r.findAllIn(p).size <= 2, p.take(1000))
  }

  test("minhash buckets collect through the cap-bounded aggregate") {
    // the hot-bucket rail is structural, not a post-filter: the member
    // collect is BoundedIdListAgg (per-group state stops at cap+1), so a
    // degenerate bucket cannot OOM the aggregation hash map. Asserted by
    // the udaf's class-name stem, the TopKAgg discipline.
    val df = graft.ops.Dedup.minhashBuckets(
      graft.core.Graft.table(spark, sf, "documents"), "text", "doc_id")
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("boundedidlistagg"), p.take(600))
    assert(!p.toLowerCase.contains("collect_list"), p.take(600))
  }

  test("dq_psi_drift broadcasts bounds/totals; corpus aggregates map-side") {
    // the drift monitor's 100 TB contract: the corpus crosses the wire
    // only through the (key, bucket) hash aggregate with a map-side
    // partial; the decile bounds and the per-key totals join back as
    // broadcasts, never a key-shuffled sort-merge
    val p = finalPlan("dq_psi_drift")
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(800))
    assert(p.contains("partial_sum"), p.take(800))
  }

  test("emb_covariance reduces products map-side before the (i,j) exchange") {
    // dim^2/2 running sums combine inside each scan partition
    // (partial_sum precedes the hash exchange), and the moment joins are
    // broadcasts — the corpus itself never shuffles
    val p = finalPlan("emb_covariance")
    assert(p.contains("partial_sum"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("sim_mmr_select attaches candidate vectors by broadcast, no SMJ") {
    // the MMR 100 TB contract: the corpus is touched only by the
    // brute-force kernel and one broadcast join pulling the Q*poolK
    // candidate vectors — the greedy stage never sees a corpus-sized
    // shuffle, and no join may degrade to sort-merge
    val p = finalPlan("sim_mmr_select")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("dedup_segments: segment-keyed shuffles only — no window, no nested loop") {
    // the 100 TB contract: the df count and mark join key on the trimmed
    // segment; reassembly is a doc-keyed hash aggregate whose per-group
    // state is the doc's own segment list. Nothing may plan a Window
    // (ordered reassembly is array_sort inside the aggregate) and no
    // join may degrade to a nested loop / cartesian.
    val p = finalPlan("dedup_segments")
    assert(!p.contains("Window"), p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
    assert(p.contains("partial_count") || p.contains("partial_finalmerge") ||
      p.contains("HashAggregate"), p.take(800))
  }

  test("text_nb_classifier: weight table broadcasts; no corpus sort-merge") {
    // training reduces to word-keyed aggregates; the <=vocabSize weight
    // table and the 1-row prior must come back as broadcasts — the
    // token-side inference join may never degrade to sort-merge. (The
    // one Window ranks the WORD aggregate output — bounded by distinct
    // words, the text_js_divergence discipline. The doc-keyed score
    // reattach is allowed to shuffle at corpus scale; at guard scale
    // everything joins broadcast, which is what this pins.)
    val p = finalPlan("text_nb_classifier")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("sample_match_dist: accept rule runs map-side off broadcast counts") {
    // distribution matching at 100 TB: per-bucket counts and the one-row
    // binding fraction broadcast to the corpus filter; the corpus itself
    // never shuffles through a sort-merge join
    val p = finalPlan("sample_match_dist")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("rangeSearch is one shuffle-free broadcast pass over the corpus") {
    // the radius query's 100 TB contract: queries broadcast, scoring and
    // threshold run inside the scan stage, nothing leaves but matches —
    // the only exchange in the corpus entry is the final presentation sort
    import org.apache.spark.sql.functions.col
    val emb = graft.core.Graft.table(spark, sf, "embeddings")
    val df = graft.ops.Similarity.rangeSearch(
      emb, emb.where(col("vec_id") < 5), tau = 0.1)
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("ShuffleExchange"), p.take(800))
  }

  test("binary-Hamming ANN: broadcast query index, bounded TopK, no Window") {
    // the 1-bit tier's 100 TB contract: the tiny packed query index
    // broadcasts against the code scan; ranking is the bounded TopKAgg,
    // never a per-query window sort over the corpus
    val p = finalPlan("sim_binary_hamming_topk")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(800))
    assert("partial_topkagg".r.findFirstIn(p).isDefined, p.take(1200))
    assert(!p.contains("Window"), p.take(800))
  }

  test("attr_time_decay pairs touches via day buckets — never a cartesian") {
    // the range-join contract: (user_id, bucket) equi keys carry the
    // pairing; a per-user cross product would be the 100 TB killer
    val p = finalPlan("attr_time_decay")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("rank_fusion_rrf: both rankers finish through bounded TopK") {
    val p = finalPlan("rank_fusion_rrf")
    assert("partial_topkagg".r.findAllIn(p).size >= 2,
      s"both ranked lists must use the bounded finisher: ${p.take(1200)}")
  }

  test("persisted IVF probe runs zero training jobs at plan time") {
    // The train-once/serve-many contract (AnnIndex): once centroids are
    // persisted, building the probe plan must launch NO job — no Lloyd
    // rounds, no corpus pass, no collect. ivfTopKTrained, by contrast,
    // fires its training jobs right here. Index train+save and the
    // parquet loads stay OUTSIDE the listener window (a cold
    // spark.read.parquet can fire a driver schema-read job).
    val emb = graft.core.Graft.table(spark, sf, "embeddings")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_persist_").toString
    graft.ops.AnnIndex.trainAndSaveIvf(emb, nCells = 16, iters = 2,
      s"$dir/centroids")
    val cents = graft.ops.AnnIndex.loadIvfCentroids(spark, s"$dir/centroids")
    cents.queryExecution.executedPlan // absorb the one-off schema read
    val jobs = jobsDuring {
      val d = graft.ops.Similarity.ivfTopKWithCentroids(emb,
        emb.where(org.apache.spark.sql.functions.col("vec_id") < 5),
        cents, k = 10, nProbe = 2)
      d.queryExecution.executedPlan // force full planning
    }
    assert(jobs == 0,
      s"planning the persisted-IVF probe launched $jobs job(s) — " +
        "the serve path must not retrain or collect")
    // and the probe result matches the inline-trained run bit-for-bit
    val served = graft.ops.Similarity.ivfTopKWithCentroids(emb,
      emb.where(org.apache.spark.sql.functions.col("vec_id") < 5),
      cents, k = 10, nProbe = 2).collect().map(_.toSeq).toSeq
    val inline = graft.ops.Similarity.ivfTopKTrained(emb,
      emb.where(org.apache.spark.sql.functions.col("vec_id") < 5),
      k = 10, nCells = 16, nProbe = 2, iters = 2)
      .collect().map(_.toSeq).toSeq
    assert(served == inline)
  }

  test("persisted IVF kNN JOIN runs zero training jobs at plan time") {
    // The join-shaped serve path (knnJoinIvfWithCentroids): once the
    // centroid index is persisted, building the join plan must launch NO
    // job — no Lloyd rounds, no corpus pass, no collect on either side.
    // knnJoinIvfTrained, by contrast, fires its training jobs right here.
    val emb = graft.core.Graft.table(spark, sf, "embeddings")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_join_persist_").toString
    graft.ops.AnnIndex.trainAndSaveIvf(emb, nCells = 16, iters = 2,
      s"$dir/centroids")
    val cents = graft.ops.AnnIndex.loadIvfCentroids(spark, s"$dir/centroids")
    cents.queryExecution.executedPlan // absorb the one-off schema read
    val jobs = jobsDuring {
      val d = graft.ops.Similarity.knnJoinIvfWithCentroids(emb, emb,
        cents, k = 3, nProbe = 2)
      d.queryExecution.executedPlan // force full planning
    }
    assert(jobs == 0,
      s"planning the persisted-IVF kNN join launched $jobs job(s) — " +
        "the serve path must not retrain or collect")
    // and the served join matches the inline-trained join bit-for-bit
    val served = graft.ops.Similarity.knnJoinIvfWithCentroids(emb, emb,
      cents, k = 3, nProbe = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val inline = graft.ops.Similarity.knnJoinIvfTrained(emb, emb, k = 3,
      nCells = 16, nProbe = 2, iters = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(served == inline)
  }

  test("sketch_kmv_setops: partial sketch aggregate map-side, pair join is a " +
    "broadcast nested loop over the sketch frame — never a data-sized join") {
    val p = plan("sketch_kmv_setops")
    // map-side partial KMV: only k-bounded sketch buffers cross the one
    // source-keyed exchange, never shingle rows
    assert(p.contains("partial_kmvagg"), p.take(1200))
    // the sources^2 pair frame builds from the tiny aggregated sketches
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(1200))
  }

  test("ts_sessionize kernel: one user exchange, in-partition sort, fold — " +
    "no Window operator, filters pushed to the scan") {
    val p = plan("ts_sessionize")
    assert(p.contains("MapPartitions"), p.take(1200))
    assert(!p.contains("Window"), p.take(1200)) // the 3-walk plan it replaced
    // exactly one hash exchange feeds the kernel (the only other exchange
    // is the final rangepartitioning for the output ORDER BY). Loose
    // regexes on operator presence, not exact plan formatting — the
    // rendering of partitioning specs shifts across Spark versions.
    assert("""Exchange\s+hashpartitioning""".r.findAllIn(p).size == 1,
      p.take(1600))
    // assert each pushed filter independently inside the PushedFilters
    // list — a single alternation regex would accept the same column
    // twice and stop proving BOTH filters reached the scan
    val pushed = """PushedFilters: \[[^\]]*\]""".r.findFirstIn(p)
    assert(pushed.exists(_.contains("IsNotNull(ts)")), p.take(1600))
    assert(pushed.exists(_.contains("IsNotNull(user_id)")), p.take(1600))
    // the sort that feeds the fold is in-partition (global=false), not a
    // second shuffle: a non-global Sort exists, and no second hash/range
    // exchange appears beyond the two accounted for above
    assert("""Sort \[[^\]]*\], false""".r.findFirstIn(p).isDefined, p.take(1600))
    assert("""Exchange\s+(hash|range)partitioning""".r.findAllIn(p).size <= 2,
      p.take(1600))
  }

  test("fuzzy composite: one pinned shingle pass feeds every stage") {
    // r14: fuzzyDedup / fuzzyDedupReport derive signatures, both
    // verify-join sides and the component id set from ONE pinned
    // (id, shingles) frame (eager localCheckpoint after exact dedup).
    // Composed lazily they re-planned the scan/tokenize/digest chain per
    // consumer — 90 / 150 static parquet scans at sf0.1 in the corpus
    // entries, collapsed to 12 / 6 (the survivors: the exact-dedup
    // union branches + the final keep semi-join, which must re-read the
    // raw input by contract). The pin shows up as Scan ExistingRDD.
    for ((q, cap) <- Seq("dedup_fuzzy" -> 12, "dedup_fuzzy_audit" -> 6)) {
      val p = plan(q)
      assert(p.contains("Scan ExistingRDD"), s"$q: ${p.take(600)}")
      val scans = "Scan parquet".r.findAllIn(p).size
      assert(scans <= cap, s"$q: $scans parquet scans (cap $cap)")
    }
  }

  test("dedup_winnow pairs: codegen cross-explode of the capped doc lists, " +
    "no interpreted lambda expansion, no join") {
    // r14: pair generation is TWO chained explodes of each surviving
    // fingerprint's doc list plus an id_a < id_b filter — all codegen.
    // The guard keeps out BOTH regressions: the interpreted
    // transform/slice lambda expansion it replaced (its signature was a
    // single Generate explode over flatten(transform(...)) — here both
    // pair Generates must explode the bare list column), and any
    // self-join that would re-plan the text pipeline per side (the plan
    // stays linear: one parquet scan, no Join node). The gram-building
    // zip_with lambda inside the posexplode is pre-existing per-doc
    // work, not pair expansion, and is allowed.
    val p = finalPlan("dedup_winnow")
    assert("""Generate explode\(lst""".r.findAllIn(p).size == 2, p.take(1200))
    assert(!p.contains("Generate explode(flatten("), p.take(1200))
    assert(!p.contains("Join"), p.take(1200))
    assert("Scan parquet".r.findAllIn(p).size == 1, p.take(1200))
  }
}
