package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Graft
import graft.functions.{Cleaning, Norm, StableHash, Text, Urls, Vectors}
import graft.metrics.StaffingMetrics
import graft.ops.{Dedup, Multimodal, Regression, Similarity, Sketches, TextAnalysis}
import graft.quality.DataQuality

/** Pipeline slice of the SparkEntry corpus (see SparkEntry's scaladoc for the cross-engine
  * determinism rules every entry follows). Bodies moved verbatim from the
  * round-6 SparkEntry map literals; shared helpers live on SparkEntry
  * (private[graft]).
  */
private[graft] trait QueriesPipeline { this: SparkEntry.type =>

  /** sketch_kmv_distinct over an events frame holding at least
    * (event_type, user_id); `by` goes in front of the dedup, group and
    * sort keys (the headline-body convention of [[QueriesRelational]]).
    */
  private[graft] def sketchKmvDistinct(events: DataFrame,
      by: Seq[String]): DataFrame = {
    val keys = (by :+ "event_type").map(col)
    // Pre-dedup (event_type, user_id) BEFORE hashing and sketching
    // (r14, guide §2.3 two-level aggregate): the previous form ran
    // countDistinct(user_id) NEXT TO the KMV object aggregate, which
    // Spark plans as a 3-exchange mixed distinct+object-agg (partial
    // KMV buffers built over every RAW event row, md5 per event). Now
    // one plain (event_type, user_id) aggregate dedups first — map-side
    // partial combine collapses repeat visitors before the wire — and
    // the KMV insert + md5 run once per DISTINCT user; n_exact is a
    // plain count of the deduped rows (== countDistinct by
    // construction). Measured (OPTIMIZATION_r14.md §2, fused r=8, sf0.1):
    // 0.1445 -> 0.1213 s/inst (84%). Output byte-identical (KMV keeps
    // the k smallest DISTINCT hashes — duplicate insertion was already
    // a no-op; the estimator and kept set cannot move).
    val du = events
      .where(col("user_id").isNotNull)
      .select(keys :+ col("user_id"): _*).distinct()
      .select(keys :+ StableHash.hash60(col("user_id").cast("string")).as("h"): _*)
    du.groupBy(keys: _*)
      .agg(Sketches.kmvMins(64)(col("h")).as("mins"),
        count(lit(1)).as("n_exact"))
      .select(keys ++ Seq(
        size(col("mins")).cast("long").as("n_kept"),
        element_at(col("mins"), -1).as("kth_min"),
        when(size(col("mins")) < 64, size(col("mins")).cast("long"))
          .otherwise(expr(
            "CAST(63 AS DECIMAL(38,0)) * 1152921504606846976" +
              " DIV NULLIF(element_at(mins, -1), 0)"))
          .as("est_users"),
        col("n_exact")): _*)
      .orderBy(keys: _*)
  }

  protected def pipelineQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Declarative DQ constraint suite (Deequ-style): four checks over
    // events evaluated in ONE aggregate pass; exact-count ratios replay
    // bit-for-bit in the oracle.
    "dq_constraints" -> ((s, d) => {
      import graft.quality.Constraints._
      check(t(s, d, "events"), Seq(
        NotNull("value", 0.9),
        InSet("event_type",
          Seq("click", "error", "purchase", "signup", "view"), 1.0),
        Between("value", 0.0, 500.0, 0.5),
        UniqueRatio("event_id", 1.0)))
    }),

    // Distribution drift monitor: PSI of `value` per event_type between
    // the first and second half of the stream (split at the exact median
    // event_id — small integers, so the R-7 interpolation is exact on
    // both engines). Reference-slice deciles bucket both slices; see
    // DataQuality.psiDrift for the replay discipline.
    // Exact two-sample Kolmogorov-Smirnov drift per event type (the
    // all-thresholds complement of dq_psi_drift's fixed deciles):
    // ref/cur split by user parity, values snapped to integer nanos (so
    // the distinct-value ECDF grid is float-trap-free — no -0.0/tie
    // hazards), running counts on ONE per-type window, and
    // D = max|i*m - j*n| emitted as the exact integer numerator plus a
    // DECIMAL(38)/HUGEINT nano quotient. The window partitions by type,
    // never a global sort.
    "dq_ks_drift" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, d, "events")
        .where(col("value").isNotNull && col("user_id").isNotNull)
        .select(col("event_type"),
          expr("CAST(round(value * 1e9) AS BIGINT)").as("vn"),
          (col("user_id") % 2 === 0).as("is_ref"))
      val cnt = ev.groupBy("event_type", "vn").agg(
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("cr"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cc"))
      val w = Window.partitionBy("event_type").orderBy("vn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val run = cnt
        .withColumn("i", sum("cr").over(w))
        .withColumn("j", sum("cc").over(w))
      val tot = ev.groupBy("event_type").agg(
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
      run.join(broadcast(tot), Seq("event_type"))
        .groupBy("event_type", "n_ref", "n_cur")
        .agg(max(abs(col("i") * col("n_cur") - col("j") * col("n_ref")))
          .as("ks_num"))
        .select(col("event_type"), col("n_ref"), col("n_cur"), col("ks_num"),
          expr("CAST(ks_num AS DECIMAL(38,0)) * 1000000000" +
            " DIV NULLIF(CAST(n_ref AS DECIMAL(38,0)) * n_cur, 0)")
            .as("ks_nano"))
        .orderBy("event_type")
    }),

    "dq_psi_drift" -> ((s, d) => {
      val ev = t(s, d, "events")
        .where(col("event_id").isNotNull && col("value").isNotNull)
      val med = ev.agg(
        expr("percentile(cast(event_id as double), 0.5)").as("med"))
      val tagged = ev.crossJoin(broadcast(med))
        .select(col("event_type"), col("value"),
          (col("event_id").cast("double") <= col("med")).as("is_ref"))
      DataQuality.psiDrift(tagged, "event_type", "value", "is_ref")
        .orderBy("event_type")
    }),

    // Label-agreement audit: Cohen's kappa between each doc's DECLARED
    // language tag and the engine's stopword-based language prediction —
    // the metadata-vs-content consistency check run before trusting
    // either label source. Observed/expected agreement from exact
    // integer counts and marginal products; the three mirrored double
    // divisions happen last.
    "dq_label_agreement" -> ((s, d) => {
      // Single-computation form: (true, predicted) both come from ONE
      // pass over documents (lang is a column of the same table — the
      // earlier doc-keyed join re-planned lang-ID per consumer, ~3× the
      // corpus pass and 14 s of the entry's sf1 cost), reduced
      // immediately to the ≤|langs|²-row contingency table and PINNED by
      // an eager localCheckpoint (the Graph/Hierarchy discipline for
      // multiply-consumed bounded frames — alias-renumbered subtrees
      // defeat ReuseExchange here). The corpus is scanned and lang-ID'd
      // exactly once; everything after is constant-sized.
      val ct = Graft.spread(t(s, d, "documents"))
        .select(coalesce(col("lang"), lit("~")).as("a"),
          graft.functions.Text.tokens(col("text")).as("__toks"))
        .select(col("a"),
          graft.functions.Text.languageIdFromTokens(col("__toks")).as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val tot = ct.agg(
        coalesce(sum("n"), lit(0L)).as("n_total"),
        coalesce(sum(when(col("a") === col("b"), col("n"))), lit(0L))
          .as("n_agree"))
      val ra = ct.groupBy("a").agg(sum("n").as("na"))
      val cb = ct.groupBy("b").agg(sum("n").as("nb"))
      val num = ra.join(cb, col("a") === col("b"))
        .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("pe_num"))
      tot.crossJoin(num)
        .withColumn("po", col("n_agree").cast("double") / col("n_total"))
        .withColumn("pe", col("pe_num").cast("double") /
          col("n_total") / col("n_total"))
        .select(col("n_total"), col("n_agree"), col("po"), col("pe"),
          ((col("po") - col("pe")) / (lit(1.0) - col("pe"))).as("kappa"))
    }),

    // Per-column cardinality profile: exact distinct count and distinct
    // ratio for every events column in ONE aggregate pass (the
    // key-candidate / join-planning profile next to a5_completeness).
    "dq_cardinality_profile" -> ((s, d) => {
      val ev = t(s, d, "events")
      val cols = Seq("event_id", "ts", "user_id", "event_type", "value",
        "props")
      val aggs = count(lit(1)).as("__n") +:
        cols.map(c => count_distinct(col(c)).as(s"__d_$c"))
      val wide = ev.agg(aggs.head, aggs.tail: _*)
      val stacked = cols.map { c =>
        struct(lit(c).as("column_name"), col("__n").as("n_rows"),
          col(s"__d_$c").as("n_distinct"))
      }
      wide.select(explode(array(stacked: _*)).as("s"))
        .select(col("s.column_name"), col("s.n_rows"), col("s.n_distinct"),
          expr("s.n_distinct * 1000000000L DIV s.n_rows")
            .as("distinct_ratio_nano"))
        .orderBy("column_name")
    }),

    // Data-freshness monitor: per event type, row count, last-seen
    // microsecond, and the lag behind the freshest type — the staleness
    // report a pipeline checks before trusting an input. Exact integers.
    "dq_freshness" -> ((s, d) => {
      val ev = t(s, d, "events")
        .where(col("ts").isNotNull && col("event_type").isNotNull)
        .select(col("event_type"), expr("ts DIV 1000").as("us"))
      val per = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), max("us").as("max_us"))
      per.crossJoin(broadcast(per.agg(max("max_us").as("g_max"))))
        .select(col("event_type"), col("n"), col("max_us"),
          (col("g_max") - col("max_us")).as("lag_us"))
        .orderBy("event_type")
    }),

    // Malformed-ROW ingest audit: nation round-trips to CSV, then a
    // second file in the same glob carries one deterministic torn line
    // (single token, unparsable key) per nationkey % 5 == 0 row. The
    // PERMISSIVE scan surfaces them through _corrupt_record and ONE
    // aggregate reports counts + the lexicographic-min raw payload. The
    // tiny collect builds the FIXTURE (5 keys of a 25-row dim), not the
    // audit path.
    "dq_corrupt_rows" -> ((s, d) => {
      Graft.tune(s)
      val tmp = scratch("torn_csv", d) { out =>
        val n = t(s, d, "nation")
        n.coalesce(1).write.mode("overwrite").option("header", "true")
          .csv(s"$out/clean")
        val keys = n.where(col("n_nationkey") % 5 === 0)
          .select(col("n_nationkey").cast("long")).orderBy("n_nationkey")
          .collect().map(_.getLong(0))
        val pw = new java.io.PrintWriter(s"$out/clean/torn.csv")
        pw.println("n_nationkey,n_name,n_regionkey")
        keys.foreach(k => pw.println(s"BAD$k"))
        pw.close()
      }
      DataQuality.corruptRecordAudit(s, s"$tmp/clean/*.csv",
        "n_nationkey INT, n_name STRING, n_regionkey INT")
    }),

    // Referential-integrity audit over three FK edges, two deliberately
    // corrupted (every 97th order's custkey pushed out of range; a
    // deterministic slice of lineitem suppkeys negated) and one left
    // clean as the passing control. One report row per FK.
    "dq_ref_integrity" -> ((s, d) => {
      val ordFk = t(s, d, "orders").select(
        when(col("o_orderkey") % 97 === 0, col("o_custkey") + 10000000L)
          .otherwise(col("o_custkey")).as("fk"))
      val partFk = t(s, d, "lineitem").select(col("l_partkey").as("fk"))
      val suppFk = t(s, d, "lineitem").select(
        when((col("l_orderkey") * 7 + col("l_linenumber")) % 89 === 0,
          -(col("l_suppkey") + 1)).otherwise(col("l_suppkey")).as("fk"))
      DataQuality.fkOrphans(ordFk, "fk",
          t(s, d, "customer"), "c_custkey", "orders.custkey->customer")
        .unionByName(DataQuality.fkOrphans(partFk, "fk",
          t(s, d, "part"), "p_partkey", "lineitem.partkey->part"))
        .unionByName(DataQuality.fkOrphans(suppFk, "fk",
          t(s, d, "supplier"), "s_suppkey", "lineitem.suppkey->supplier"))
        .orderBy("fk_name")
    }),

    // Benford first-significant-digit profile of order totals: exact cents
    // snap, digit from the integer's decimal string, truncating nano
    // shares against hardcoded log10(1+1/d) expectations (the synthetic
    // uniform-ish prices will NOT be Benford — the dev_nano column is the
    // point of the report).
    "dq_benford" -> ((s, d) =>
      DataQuality.benfordDigits(t(s, d, "orders"), "o_totalprice")
        .orderBy("digit")),

    // Functional-dependency audit: customers whose orders carry more than
    // one distinct priority — i.e. violations of the (false) FD
    // o_custkey -> o_orderpriority. Single hash aggregate.
    "dq_fd_check" -> ((s, d) =>
      DataQuality.fdViolations(t(s, d, "orders"),
          Seq("o_custkey"), Seq("o_orderpriority"))
        .where(col("o_custkey").isNotNull)
        .orderBy("o_custkey")),

    // Multimodal frame sampling: the mapPartitions decode stub feeding a
    // generator — every 7th frame index per media item.
    "mm_frame_sample" -> ((s, d) => {
      val media = Multimodal.syntheticMediaFromDocs(t(s, d, "documents"))
      val decoded = Multimodal.decodeImage(s, media)
      Multimodal.sampleFrames(decoded, stride = 7)
        .orderBy("media_id", "frame_idx")
    }),

    // Incremental aggregate maintenance: the lineitem "history" arrives as
    // three disjoint deltas (orderkey ranges); each delta aggregates to
    // per-flag (sum,count) state, states merge, metrics finish. The oracle
    // is the FROM-SCRATCH aggregate over the whole table — exact integer
    // cents make the merge provably order-free.
    "incr_agg_merge" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"),
          cents(col("l_quantity")).as("qty_cents"))
      val deltas = Seq(
        li.where(col("l_orderkey") % 3 === 0),
        li.where(col("l_orderkey") % 3 === 1),
        li.where(col("l_orderkey") % 3 === 2))
        .map(dta => graft.ops.IncrementalAgg.partials(
          dta, Seq("l_returnflag"), "qty_cents"))
      val merged = graft.ops.IncrementalAgg.merge(deltas, Seq("l_returnflag"))
      graft.ops.IncrementalAgg.finish(merged, Seq("l_returnflag"), scale = 100L)
        .orderBy("l_returnflag")
    }),

    // Row-level snapshot diff (CDC change feed from plain tables): two
    // deterministic versions of orders — rows only-in-old (removed),
    // only-in-new (added), and value-edited rows with their per-column
    // change mask. Single double-add keeps the edited price
    // bit-deterministic (Upsert.snapshotDiff).
    "dq_snapshot_diff" -> ((s, d) => {
      val base = t(s, d, "orders").where(col("o_orderkey") <= 6000)
      val oldSnap = base.where(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val newSnap = base.where(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 11 === 0, lit("X"))
            .otherwise(col("o_orderstatus")).as("o_orderstatus"),
          when(col("o_orderkey") % 13 === 0, col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      graft.ops.Upsert.snapshotDiff(oldSnap, newSnap,
        Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // Batch CDC merge (SCD-1 upsert): every 10th order gets two conflicting
    // update versions (seq 1 and 2); the argmax dedup must pick seq 2, the
    // anti-join keeps everything else. Single double-add keeps the updated
    // price bit-deterministic across engines.
    "upsert_merge" -> ((s, d) => {
      val cur = t(s, d, "orders").where(col("o_orderkey") <= 5000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          lit(0L).as("seq"))
      val base = cur.where(col("o_orderkey") % 10 === 0)
      def version(bump: Double, seq: Long) = base.select(
        col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + bump).as("o_totalprice"), lit(seq).as("seq"))
      graft.ops.Upsert.merge(
        cur, version(1.0, 1L).unionByName(version(2.0, 2L)),
        Seq("o_orderkey"), "seq")
        .orderBy("o_orderkey")
    }),

    // SCD type 2 dimension history (vs upsert_merge's SCD-1 overwrite):
    // each user's event_type stream collapses to versioned runs with
    // valid_from/valid_to/version_no/is_current. seq = event_id (unique),
    // so run boundaries are deterministic cross-engine.
    "upsert_scd2" -> ((s, d) =>
      graft.ops.Upsert.scd2History(
        t(s, d, "events").where(col("user_id") <= 100)
          .select("user_id", "event_id", "event_type"),
        keyCols = Seq("user_id"), seqCol = "event_id",
        valueCols = Seq("event_type"))
        .orderBy("user_id", "version_no")),

    // Deterministic train/val/test split by stable content-independent
    // hash of the id — reproducible across engines and runs (the property
    // that keeps splits leak-free at corpus scale).
    "split_train_val" -> ((s, d) => {
      val bucket = pmod(StableHash.hash60(col("doc_id").cast("string")), lit(100L))
      val split = when(bucket < 80, "train").when(bucket < 90, "val")
        .otherwise("test")
      t(s, d, "documents")
        .select(col("doc_id"), split.as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_id"),
          max("doc_id").as("max_id"))
        .orderBy("split")
    }),

    // Group-aware holdout split (leakage control): the split is decided
    // by a stable hash of the GROUP key (the user), so ALL of an
    // entity's events land in one split — correlated rows never
    // straddle train/val, which per-row hashing cannot guarantee.
    // Output: per-split user/event counts plus the structural leakage
    // audit (max distinct splits any user touches — 1 by construction,
    // and the audit PROVES it rather than assuming it).
    "split_group_holdout" -> ((s, d) => {
      val bucket = pmod(StableHash.hash60(col("user_id").cast("string")),
        lit(100L))
      val tagged = t(s, d, "events").where(col("user_id").isNotNull)
        .select(col("user_id"), col("event_id"),
          when(bucket < 80, "train").otherwise("val").as("split"))
      val mx = tagged.groupBy("user_id")
        .agg(countDistinct(col("split")).as("nsp"))
        .agg(max(col("nsp")).as("max_splits_per_user"))
      tagged.groupBy("split")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .crossJoin(broadcast(mx))
        .orderBy("split")
    }),

    // K-fold cross-validation assignment: deterministic hash folds (the
    // split_train_val discipline generalized), each doc in exactly one
    // fold; per-fold val/train sizes via one global window over k rows.
    "split_kfold" -> ((s, d) => {
      val fold = pmod(StableHash.hash60(col("doc_id").cast("string")), lit(5L))
      t(s, d, "documents")
        .select(col("doc_id"), fold.as("fold"))
        .groupBy("fold").agg(count(lit(1)).as("n_val"))
        .withColumn("n_train",
          sum(col("n_val")).over(org.apache.spark.sql.expressions.Window
            .partitionBy()) - col("n_val"))
        .orderBy("fold")
    }),

    // HyperLogLog distinct-user estimate per event type next to the exact
    // count (graft.ops.Sketches.HllAgg: mergeable partial+final aggregate —
    // 4 KiB of registers per group cross the shuffle, never the user ids).
    // The estimate is deterministic (integer registers, fixed-order float
    // finish), so the oracle replays it bit-exactly.
    "sketch_hll_distinct" -> ((s, d) => {
      val ev = Graft.spread(t(s, d, "events")).where(col("user_id").isNotNull)
        .select(col("event_type"), col("user_id"),
          StableHash.hash60(col("user_id").cast("string")).as("h"))
      ev.groupBy("event_type")
        .agg(Sketches.hllDistinct(12)(col("h")).as("est_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .orderBy("event_type")
    }),

    // KMV (k-minimum-values) distinct sketch next to the exact count:
    // unlike HLL the KEPT SET is exactly deterministic (k smallest
    // distinct hashes), so sketch state AND estimate both replay in SQL.
    // k-bounded mergeable aggregate — 64 longs per group cross the
    // shuffle, never the user ids; estimator (k-1)·2^60 DIV kth_min in
    // DECIMAL(38)/HUGEINT (63·2^60 overflows BIGINT).
    "sketch_kmv_distinct" -> ((s, d) =>
      sketchKmvDistinct(Graft.spread(t(s, d, "events")), Nil)),

    // Cross-RUN incremental twin of sketch_kmv_distinct: run 1 ingested
    // batch 1 (event_id % 3 != 0) and PERSISTED its per-type KMV kept
    // sets; run 2 (here) resumes that state — explode the persisted mins,
    // union batch 2's hashes, re-aggregate — and equals the joint
    // recompute over all events exactly: any hash in the joint k-min set
    // that came from batch 1 is necessarily in batch 1's k-min set, so no
    // information is lost by keeping only the sketch. The oracle IS the
    // joint recompute.
    "sketch_kmv_incremental" -> ((s, d) => {
      def hashes(df: DataFrame) =
        Graft.spread(df).where(col("user_id").isNotNull)
          .select(col("event_type"),
            StableHash.hash60(col("user_id").cast("string")).as("h"))
      val path = scratch("kmvstate", d) { out =>
        hashes(t(s, d, "events").where(col("event_id") % 3 =!= 0))
          .groupBy("event_type")
          .agg(Sketches.kmvMins(64)(col("h")).as("mins"))
          .write.mode("overwrite").parquet(out)
      }
      val prior = s.read.parquet(path)
        .select(col("event_type"), explode(col("mins")).as("h"))
      val batch2 = hashes(t(s, d, "events").where(col("event_id") % 3 === 0))
      prior.unionByName(batch2)
        .groupBy("event_type")
        .agg(Sketches.kmvMins(64)(col("h")).as("mins"))
        .select(col("event_type"),
          size(col("mins")).cast("long").as("n_kept"),
          element_at(col("mins"), -1).as("kth_min"),
          when(size(col("mins")) < 64, size(col("mins")).cast("long"))
            .otherwise(expr(
              "CAST(63 AS DECIMAL(38,0)) * 1152921504606846976" +
                " DIV NULLIF(element_at(mins, -1), 0)"))
            .as("est_users"))
        .orderBy("event_type")
    }),

    // KMV set algebra (Beyer et al. 2007): per-source 3-shingle content
    // sketches (k=256 minimum hash values) -> every pairwise union /
    // intersection / Jaccard estimated FROM THE SKETCHES ALONE — the
    // cross-shard overlap probe a 100 TB corpus runs BEFORE paying for a
    // full dedup pass. The shuffle carries 2 KiB per source, never the
    // shingles; the pair frame is sources² rows of constants (broadcast
    // nested loop over a 20-row frame). The kept sets are pure functions
    // of the data, so sketch AND estimates replay bit-exactly in SQL
    // (integer/HUGEINT arithmetic throughout; Jaccard as ppm).
    "sketch_kmv_setops" -> ((s, d) => {
      val sh = Graft.spread(t(s, d, "documents"))
        .where(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("source"),
          explode(Text.wordShingles(col("text"), 3)).as("sh"))
        .select(col("source"), StableHash.hash60(col("sh")).as("h"))
      val sk = sh.groupBy("source")
        .agg(Sketches.kmvMins(256)(col("h")).as("mins"))
      Sketches.kmvSetOps(sk, "source", "mins", 256)
        .withColumnRenamed("key_a", "source_a")
        .withColumnRenamed("key_b", "source_b")
        .orderBy("source_a", "source_b")
    }),

    // Sequence-gap audit (per-order line numbers must run 1..n): the
    // min/max/count identity finds every hole in ONE hash aggregate —
    // no window, no sort, no per-key densify. Gaps are PLANTED (line 3
    // dropped from every 7th order) so the report exercises both the
    // missing-line and the bad-start branches.
    "dq_seq_gaps" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .where(!(col("l_orderkey") % 7 === 0 && col("l_linenumber") === 3))
      li.groupBy("l_orderkey").agg(
          count(lit(1)).as("n_lines"),
          min("l_linenumber").as("min_line"),
          max("l_linenumber").as("max_line"))
        .withColumn("n_missing",
          col("max_line") - col("min_line") + 1 - col("n_lines"))
        .where(col("n_missing") > 0 || col("min_line") =!= 1)
        .orderBy("l_orderkey")
    }),

    // Deterministic stratified sampling: per-source keep rates decided by
    // a stable id hash — reproducible across engines/partitionings, and
    // consistent (the same doc samples in everywhere).
    "sample_stratified" -> ((s, d) =>
      graft.ops.Sampling.stratified(
        t(s, d, "documents"), "source",
        Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.1),
        idCol = "doc_id", default = 0.05)
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // Domain-mixture resampling: per-source acceptance rates that realize
    // a target mixture at maximum retention (binding stratum keeps 100%);
    // membership is the stable hash bucket vs the floor'd ppm threshold.
    // Output: per-source original count, rate, and post-sample count.
    "sample_mixture" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val targets = Map("src0" -> 0.3, "src1" -> 0.3, "src2" -> 0.4)
      val rates = graft.ops.Sampling.mixtureRates(docs, "source", targets)
      val kept = graft.ops.Sampling.mixture(docs, "source", targets, "doc_id")
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
      rates.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_orig"), col("rate_ppm"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("source")
    }),

    // Temperature-reweighted language balancing (α = 1/2): target share
    // ∝ n^α; at max retention the rate is sqrt(n_min/n_s) — every step
    // IEEE exactly-rounded, so the ppm thresholds replay bit-for-bit.
    "sample_temperature" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val rates = graft.ops.Sampling.temperatureRates(docs, "lang", alpha = 0.5)
      val kept = graft.ops.Sampling
        .temperatureSample(docs, "lang", "doc_id", alpha = 0.5)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      rates.join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n_orig"), col("rate_ppm"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("lang")
    }),

    // Distribution matching against a REFERENCE dataset (the data-driven
    // twin of sample_mixture's explicit target map): resample the whole
    // corpus so its length-bucket profile matches the English docs'
    // profile. Membership is exact rational arithmetic — accept iff
    // hash(id) mod (m*·n_b) < n*·m_b with (n*, m*) the binding bucket —
    // so kept counts replay bit-for-bit.
    "sample_match_dist" -> ((s, d) => {
      val docs = t(s, d, "documents").where(col("n_chars").isNotNull)
        .withColumn("bucket", expr("n_chars DIV 100"))
      val ref = docs.where(col("lang") === "en")
      val kept = graft.ops.Sampling
        .matchDistribution(docs, ref, "bucket", "doc_id")
        .groupBy("bucket").agg(count(lit(1)).as("n_after"))
      val src = docs.groupBy("bucket").agg(count(lit(1)).as("n_src"))
      val rf = ref.groupBy("bucket").agg(count(lit(1)).as("n_ref"))
      src.join(rf, Seq("bucket"), "left").join(kept, Seq("bucket"), "left")
        .select(col("bucket"), col("n_src"),
          coalesce(col("n_ref"), lit(0L)).as("n_ref"),
          coalesce(col("n_after"), lit(0L)).as("n_after"))
        .orderBy("bucket")
    }),

    // Exactly-k uniform sample as the k smallest id hashes: a bounded
    // top-k (TakeOrderedAndProject), never a global sort.
    "sample_uniform_k" -> ((s, d) =>
      graft.ops.Sampling.uniformK(t(s, d, "events"), "event_id", k = 100)
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")),

    // Class-balanced subsampling: exactly k docs per language, smallest
    // stable hashes win (deterministic, layout-independent); bounded
    // k-slot buffers, no per-group sort. The hash folds mod 2^53 so the
    // aggregate's double score channel is exact.
    "sample_group_k" -> ((s, d) =>
      graft.ops.Sampling.groupK(t(s, d, "documents"), "lang", "doc_id",
        k = 20)
        .orderBy("lang", "rank")),

    // Largest-remainder (Hamilton) apportionment of a fixed sample
    // budget across strata: quota = floor share + one extra for the
    // largest remainders until the budget is exact. Pure integer
    // arithmetic — the deterministic stratified-allocation planner.
    "sample_apportion" -> ((s, d) => {
      val sizes = t(s, d, "documents").where(col("lang").isNotNull)
        .groupBy("lang").agg(count(lit(1)).as("n_s"))
      val tot = sizes.agg(sum("n_s").as("total"))
      val base = sizes.crossJoin(broadcast(tot))
        .withColumn("q0", expr("n_s * 100L DIV total"))
        .withColumn("rem", expr("(n_s * 100L) % total"))
      val deficit = base.agg((lit(100L) - sum("q0")).as("deficit"))
      base
        // unpartitioned window, provably tiny: `base` is one row per
        // language (post-aggregation, schema-bounded cardinality), so
        // the single-task rank never sees more than |langs| rows.
        .withColumn("rr", row_number().over(
          Window.orderBy(col("rem").desc, col("lang").asc)).cast("long"))
        .crossJoin(broadcast(deficit))
        .select(col("lang"), col("n_s"),
          (col("q0") + when(col("rr") <= col("deficit"), 1L).otherwise(0L))
            .as("quota"))
        .orderBy("lang")
    }),

    // Class rebalancing: every source downsampled to the smallest
    // source's size; smallest stable hashes win, data-derived cut rides
    // a broadcast one-row min (Sampling.balanceClasses).
    "sample_balance_classes" -> ((s, d) =>
      graft.ops.Sampling.balanceClasses(t(s, d, "documents"),
        "source", "doc_id")
        .orderBy("source", "rank")),

    // Per-source char-budget quota: greedy in stable-hash order, a doc
    // survives iff the running char total including it stays within the
    // budget. Exact BIGINT cumsum (never a double) so the oracle replays
    // the cut point bit-for-bit.
    "sample_quota_budget" -> ((s, d) =>
      graft.ops.Sampling.quotaBudget(t(s, d, "documents"),
        "source", "doc_id", "n_chars", budget = 4000L)
        .select(col("source"), col("doc_id"),
          col("n_chars").cast("long").as("cost"), col("cum_cost"))
        .orderBy("source", "cum_cost")),

    // Weighted without-replacement sample (Efraimidis-Spirakis keys over
    // a stable hash + the portable software ln, so selection, rank and
    // key VALUES all replay bit-exactly in the oracle).
    "sample_weighted" -> ((s, d) =>
      graft.ops.Sampling.weightedK(
        t(s, d, "documents"), "doc_id", "n_chars", k = 50)
        .orderBy("rank")),

    // Count-min sketch token-frequency estimates for probe words, next to
    // exact counts. The sketch is one partial+final aggregate (3x512 exact
    // counters cross the shuffle); probe lookups read the collected sketch
    // (bounded driver work, same class as the catalog read).
    "sketch_cms_freq" -> ((s, d) => {
      import s.implicits._
      val toks = Graft.spread(t(s, d, "documents"))
        .select(explode(Text.tokens(col("text"))).as("w"))
        .where(col("w") =!= "")
      val skRow = toks
        .select(pmod(StableHash.hash60(col("w")), lit(Dedup.MinhashP)).as("h"))
        .agg(Sketches.cmsSketch(3, 512)(col("h"))).head
      // empty corpus (edge dataset): treat a null sketch as all-zero cells
      val sk: Seq[Long] =
        if (skRow.isNullAt(0)) Seq.fill(3 * 512)(0L) else skRow.getSeq[Long](0)
      val est = CmsProbeWords.map { wd =>
        val h = graft.plans.Hash60.hashUTF8(
          org.apache.spark.unsafe.types.UTF8String.fromString(wd)) %
          Dedup.MinhashP
        (wd, Sketches.cmsEstimate(sk, 3, 512, h))
      }.toDF("word", "est_count")
      val exact = toks.groupBy(col("w").as("word"))
        .agg(count(lit(1)).as("exact_count"))
      est.join(exact, Seq("word"), "left")
        .select(col("word"), col("est_count"),
          coalesce(col("exact_count"), lit(0L)).as("exact_count"))
        .orderBy("word")
    }),

    // Deterministic 16-way shard assignment + balance audit (map-side
    // hash, k-row aggregate) — the reproducible global shuffle of a
    // training-data export.
    "shard_stats" -> ((s, d) =>
      graft.ops.Sharding.stats(
        t(s, d, "documents"), "doc_id", "n_chars", nShards = 16)
        .orderBy("shard")),

    // Sequence packing: global token offsets via the two-phase distributed
    // prefix sum (range partitions -> P-row driver scan -> partition-local
    // windows; NO single-partition global window), then 512-token sequence
    // spans.
    "pack_sequences" -> ((s, d) => {
      val withN = t(s, d, "documents").select(col("doc_id"),
        when(trim(coalesce(col("text"), lit(""))) === "", lit(0L))
          .otherwise(size(Text.tokens(col("text"))).cast("long"))
          .as("n_tokens"))
      graft.ops.Packing.packSequences(withN, "doc_id", "n_tokens", seqLen = 512)
        .orderBy("doc_id")
    }),

    // Multimodal: synthetic media + metadata extraction (decode stays
    // stubbed; plumbing is real — see graft.ops.Multimodal).
    "mm_media_meta" -> ((s, d) => {
      val m = Multimodal.withMeta(
        Multimodal.syntheticMediaFromDocs(t(s, d, "documents")))
      m.select(col("media_id"), col("kind"),
        col("meta.n_bytes").as("n_bytes"),
        col("meta.digest").as("digest"),
        col("meta.format").as("format"))
        .orderBy("media_id")
    }),

    // Multimodal audio: REAL WAV decode (javax.sound.sampled) over
    // deterministic synthesized 16-bit PCM — the engine parses actual RIFF
    // bytes in mapPartitions while the oracle recomputes every decoded
    // feature from the synthesis formula (exact integer sample stats, one
    // IEEE divide+sqrt for RMS). The audio mirror of mm_media_meta's
    // image path.
    "mm_audio_meta" -> ((s, d) => {
      val wav = Multimodal.synthesizeWav(t(s, d, "documents"))
      Multimodal.decodeAudio(s, wav)
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("bits"), col("n_frames"), col("duration_ms"), col("sum_sq"),
          col("peak"), round(col("rms"), 6).as("rms"))
        .orderBy("media_id")
    }),

    // G.711 telephony decode: REAL mu-law AND a-law RIFF clips expanded
    // to 16-bit PCM through the JDK codec (javax.sound.sampled, zero new
    // deps); the oracle recomputes every decoded sample from the G.711
    // expansion formulas, pinned table-exact against the JDK by OpsSpec.
    // a-law clips sit at media_id + 1_000_000 so one frame carries both.
    "mm_audio_law" -> ((s, d) => {
      val base = t(s, d, "documents").select(col("doc_id"))
      val ulaw = Multimodal.synthesizeLawWav(base, alaw = false)
      val alaw = Multimodal.synthesizeLawWav(
        base.select((col("doc_id") + 1000000L).as("doc_id")), alaw = true)
      Multimodal.decodeAudio(s, ulaw.unionByName(alaw))
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("bits"), col("n_frames"), col("duration_ms"), col("sum_sq"),
          col("peak"), round(col("rms"), 6).as("rms"))
        .orderBy("media_id")
    }),

    // Headers-only video container probe over synthesized MP4 / EBML /
    // junk payloads: the engine parses real big-endian ISO-BMFF boxes
    // (ftyp brand, mvhd timescale+duration, trak count, tkhd 16.16 dims)
    // and EBML DocTypes back out of the bytes; the oracle replays the
    // synthesis FORMULAS (mm_audio_law's discipline). Junk rows coerce
    // to NULL metadata, never error.
    "mm_video_meta" -> ((s, d) =>
      Multimodal.probeVideoMeta(s,
        Multimodal.synthesizeVideo(t(s, d, "documents").select(col("doc_id"))))
        .orderBy("media_id"))
  )

  protected def pipelineOracles: Map[String, String] = Map(

    // Recomputes what the engine DECODES from the RIFF bytes, straight
    // from the synthesis formula: per (frame, channel) sample =
    // ((id*31 + i*17 + c*7919) % 65536) - 32768, summed exactly
    // (HUGEINT -> BIGINT), RMS as one double divide + sqrt on both sides.
    "mm_audio_meta" ->
      """WITH d AS (
        | SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  8000 + (doc_id % 3) * 4000 AS sr,
        |  CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END AS ch,
        |  400 + (doc_id % 256) AS nf
        | FROM documents),
        |fr AS (SELECT media_id, sr, ch, nf, unnest(range(nf)) AS i FROM d),
        |fc AS (SELECT media_id, sr, ch, nf, i, unnest(range(ch)) AS c FROM fr),
        |s AS (
        | SELECT media_id, sr, ch, nf,
        |  CAST(SUM(
        |   (((media_id * 31 + i * 17 + c * 7919) % 65536) - 32768)
        |   * (((media_id * 31 + i * 17 + c * 7919) % 65536) - 32768)
        |  ) AS BIGINT) AS sum_sq,
        |  CAST(MAX(ABS(
        |   ((media_id * 31 + i * 17 + c * 7919) % 65536) - 32768
        |  )) AS BIGINT) AS peak
        | FROM fc
        | GROUP BY media_id, sr, ch, nf)
        |SELECT media_id, CAST(sr AS BIGINT) AS sample_rate,
        | CAST(ch AS BIGINT) AS channels, CAST(16 AS BIGINT) AS bits,
        | CAST(nf AS BIGINT) AS n_frames,
        | CAST((nf * 1000) // sr AS BIGINT) AS duration_ms,
        | sum_sq, peak,
        | ROUND(SQRT(CAST(sum_sq AS DOUBLE) / (nf * ch)), 6) AS rms
        |FROM s ORDER BY media_id""".stripMargin,

    // Replays the JDK's G.711 expansion from the synthesis formula.
    // mu-law (code byte b): u = 255-b (8-bit NOT); magnitude
    // ((mant*8+132) << exp) - 132, negative when the sign bit of u is
    // set. a-law: x = b XOR 85; magnitude mant*16+8 at exp 0 else
    // (mant*16+264) << (exp-1), POSITIVE when x's sign bit is set.
    // Both verified code-point-exact against javax.sound.sampled for
    // all 256 bytes (OpsSpec "G.711 expansion formulas match the JDK").
    "mm_audio_law" ->
      """WITH ids AS (
        | SELECT CAST(doc_id AS BIGINT) AS media_id FROM documents
        | UNION ALL
        | SELECT CAST(doc_id AS BIGINT) + 1000000 FROM documents),
        |d AS (
        | SELECT media_id, media_id >= 1000000 AS alaw,
        |  CASE WHEN media_id % 3 = 0 THEN 2 ELSE 1 END AS ch,
        |  300 + (media_id % 200) AS nf
        | FROM ids),
        |fr AS (SELECT media_id, alaw, ch, nf, unnest(range(nf)) AS i FROM d),
        |fc AS (SELECT media_id, alaw, ch, nf, i, unnest(range(ch)) AS c FROM fr),
        |cw AS (
        | SELECT media_id, alaw, ch, nf,
        |  CASE WHEN alaw THEN xor((media_id * 131 + i * 29 + c * 97) % 256, 85)
        |       ELSE 255 - ((media_id * 131 + i * 29 + c * 97) % 256) END AS u
        | FROM fc),
        |sm AS (
        | SELECT media_id, ch, nf,
        |  CASE WHEN alaw THEN
        |   (CASE WHEN u // 128 = 1 THEN 1 ELSE -1 END) *
        |   (CASE WHEN (u // 16) % 8 = 0 THEN (u % 16) * 16 + 8
        |         ELSE ((u % 16) * 16 + 264) * (1 << ((u // 16) % 8 - 1)) END)
        |  ELSE
        |   (CASE WHEN u // 128 = 1 THEN -1 ELSE 1 END) *
        |   (((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) - 132)
        |  END AS s
        | FROM cw),
        |agg AS (
        | SELECT media_id, ch, nf,
        |  CAST(SUM(s * s) AS BIGINT) AS sum_sq,
        |  CAST(MAX(ABS(s)) AS BIGINT) AS peak
        | FROM sm GROUP BY media_id, ch, nf)
        |SELECT media_id, CAST(8000 AS BIGINT) AS sample_rate,
        | CAST(ch AS BIGINT) AS channels, CAST(16 AS BIGINT) AS bits,
        | CAST(nf AS BIGINT) AS n_frames,
        | CAST((nf * 1000) // 8000 AS BIGINT) AS duration_ms,
        | sum_sq, peak,
        | ROUND(SQRT(CAST(sum_sq AS DOUBLE) / (nf * ch)), 6) AS rms
        |FROM agg ORDER BY media_id""".stripMargin,

    // Replays synthesizeVideo's closed-form parameters (junk every 97th
    // id, EBML every remaining 3rd, MP4 otherwise); the engine must
    // parse the same values back out of the real container bytes.
    "mm_video_meta" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        | CASE WHEN doc_id % 97 = 0 THEN NULL
        |      WHEN doc_id % 3 = 0 THEN 'mkv' ELSE 'mp4' END AS container,
        | CASE WHEN doc_id % 97 = 0 THEN NULL
        |      WHEN doc_id % 3 = 0 THEN
        |        CASE WHEN doc_id % 2 = 0 THEN 'matroska' ELSE 'webm' END
        |      ELSE CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END
        | END AS format,
        | CASE WHEN doc_id % 97 <> 0 AND doc_id % 3 <> 0
        |      THEN CAST(600 + (doc_id % 5) * 100 AS BIGINT) END AS timescale,
        | CASE WHEN doc_id % 97 <> 0 AND doc_id % 3 <> 0
        |      THEN CAST(((doc_id % 1000) + 1) * 60 AS BIGINT) END AS duration,
        | CASE WHEN doc_id % 97 <> 0 AND doc_id % 3 <> 0
        |      THEN CAST((((doc_id % 1000) + 1) * 60 * 1000)
        |           // (600 + (doc_id % 5) * 100) AS BIGINT) END AS duration_ms,
        | CASE WHEN doc_id % 97 <> 0 AND doc_id % 3 <> 0
        |      THEN CAST(1 + doc_id % 3 AS BIGINT) END AS n_tracks,
        | CASE WHEN doc_id % 97 <> 0 AND doc_id % 3 <> 0
        |      THEN CAST(160 + (doc_id % 8) * 80 AS BIGINT) END AS width,
        | CASE WHEN doc_id % 97 <> 0 AND doc_id % 3 <> 0
        |      THEN CAST(120 + (doc_id % 6) * 60 AS BIGINT) END AS height
        |FROM documents ORDER BY media_id""".stripMargin,

    "mm_frame_sample" ->
      """WITH decoded AS (
        | SELECT doc_id AS media_id,
        |  1 + CAST(COALESCE(octet_length(encode(text)), 0) % 30 AS INT) AS n_frames
        | FROM documents)
        |SELECT media_id, CAST(f.f AS INT) AS frame_idx
        |FROM decoded, (SELECT unnest(range(0, 30, 7)) AS f) f
        |WHERE f.f < n_frames
        |ORDER BY media_id, frame_idx""".stripMargin,

    "incr_agg_merge" -> {
      val q = centsSql("l_quantity")
      s"""SELECT l_returnflag,
         | CAST(SUM($q) AS DOUBLE) / 100 AS total,
         | CAST(SUM($q) AS DOUBLE) / 100 / CAST(COUNT(l_quantity) AS DOUBLE) AS mean,
         | COUNT(l_quantity) AS n
         |FROM lineitem GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin
    },

    // Replays snapshotDiff: same version derivations, FULL OUTER JOIN on
    // the key, IS DISTINCT FROM per value column, name-sorted change mask.
    "dq_snapshot_diff" ->
      """WITH o AS (
        | SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS tp
        | FROM orders WHERE o_orderkey <= 6000 AND o_orderkey % 7 <> 0),
        |n AS (
        | SELECT o_orderkey AS k,
        |  CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END AS st,
        |  CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
        |       ELSE o_totalprice END AS tp
        | FROM orders WHERE o_orderkey <= 6000 AND o_orderkey % 5 <> 0),
        |j AS (
        | SELECT COALESCE(o.k, n.k) AS o_orderkey,
        |  o.k IS NOT NULL AS in_old, n.k IS NOT NULL AS in_new,
        |  o.st IS DISTINCT FROM n.st AS d_st,
        |  o.tp IS DISTINCT FROM n.tp AS d_tp
        | FROM o FULL OUTER JOIN n ON n.k = o.k)
        |SELECT o_orderkey,
        | CASE WHEN NOT in_old THEN 'added'
        |      WHEN NOT in_new THEN 'removed'
        |      ELSE 'changed' END AS change,
        | CASE WHEN in_old AND in_new
        |      THEN CAST(d_st AS BIGINT) + CAST(d_tp AS BIGINT)
        |      ELSE 0 END AS n_cols_changed,
        | CASE WHEN in_old AND in_new THEN
        |   ltrim(CASE WHEN d_st THEN ',o_orderstatus' ELSE '' END ||
        |         CASE WHEN d_tp THEN ',o_totalprice' ELSE '' END, ',')
        |  ELSE '' END AS changed_cols
        |FROM j
        |WHERE NOT (in_old AND in_new) OR d_st OR d_tp
        |ORDER BY o_orderkey""".stripMargin,

    "upsert_merge" -> upsertMergeSql,
    "upsert_scd2" ->
      """WITH src AS (
        | SELECT user_id, event_id, event_type FROM events WHERE user_id <= 100),
        |chg AS (
        | SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev,
        |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        | FROM src),
        |keep AS (
        | SELECT user_id, event_id, event_type FROM chg
        | -- rn = 1 keeps a NULL-valued first version: the Spark side lags a
        | -- STRUCT (never null-equal to its first-row NULL), so the scalar
        | -- IS DISTINCT FROM alone would diverge on NULL-leading keys
        | WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
        |v AS (
        | SELECT user_id, event_type, event_id AS valid_from,
        |  lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS valid_to,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS version_no
        | FROM keep)
        |SELECT user_id, event_type, valid_from, valid_to, version_no,
        | (valid_to IS NULL) AS is_current
        |FROM v ORDER BY user_id, version_no""".stripMargin,
    "pack_sequences" ->
      """WITH n AS (
        | SELECT doc_id,
        |  CAST(CASE WHEN trim(COALESCE(text,'')) = '' THEN 0
        |   ELSE len(string_split_regex(trim(lower(text)), '\s+')) END
        |   AS BIGINT) AS n_tokens
        | FROM documents),
        |o AS (
        | SELECT doc_id, n_tokens,
        |  CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   - n_tokens AS tok_offset
        | FROM n)
        |SELECT doc_id, n_tokens, tok_offset,
        | tok_offset // 512 AS seq_first,
        | CASE WHEN n_tokens > 0
        |  THEN (tok_offset + n_tokens - 1) // 512 END AS seq_last
        |FROM o ORDER BY doc_id""".stripMargin,

    "dq_cardinality_profile" -> {
      val cols = Seq("event_id", "ts", "user_id", "event_type", "value",
        "props")
      val ds = cols.map(c =>
        s"CAST(COUNT(DISTINCT $c) AS BIGINT) AS d_$c").mkString(",\n ")
      val rows = cols.map(c =>
        s"""SELECT '$c' AS column_name, n AS n_rows, d_$c AS n_distinct,
           | CAST(d_$c * 1000000000 // n AS BIGINT) AS distinct_ratio_nano
           |FROM w""".stripMargin).mkString("\nUNION ALL\n")
      s"""WITH w AS (
         | SELECT CAST(COUNT(*) AS BIGINT) AS n,
         | $ds
         | FROM events)
         |$rows
         |ORDER BY column_name""".stripMargin
    },

    "split_kfold" -> {
      val h = hash60Sql("CAST(doc_id AS VARCHAR)")
      s"""WITH a AS (SELECT doc_id, $h % 5 AS fold FROM documents),
         |c AS (SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_val
         |      FROM a GROUP BY 1)
         |SELECT fold, n_val,
         | CAST(SUM(n_val) OVER () - n_val AS BIGINT) AS n_train
         |FROM c ORDER BY fold""".stripMargin
    },

    "split_group_holdout" -> {
      val h = hash60Sql("CAST(user_id AS VARCHAR)")
      s"""WITH ev AS (
         | SELECT user_id, event_id,
         |  CASE WHEN ($h % 100) < 80 THEN 'train' ELSE 'val' END AS split
         | FROM events WHERE user_id IS NOT NULL),
         |per AS (
         | SELECT split, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         |  CAST(COUNT(*) AS BIGINT) AS n_events
         | FROM ev GROUP BY split),
         |aud AS (
         | SELECT CAST(MAX(nsp) AS BIGINT) AS max_splits_per_user FROM
         |  (SELECT user_id, COUNT(DISTINCT split) AS nsp
         |   FROM ev GROUP BY user_id))
         |SELECT p.split, p.n_users, p.n_events, a.max_splits_per_user
         |FROM per p CROSS JOIN aud a ORDER BY split""".stripMargin
    },

    "split_train_val" -> {
      val h = hash60Sql("CAST(doc_id AS VARCHAR)")
      s"""WITH assigned AS (
         | SELECT doc_id,
         |  CASE WHEN $h % 100 < 80 THEN 'train'
         |       WHEN $h % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         | FROM documents)
         |SELECT split, COUNT(*) AS n_docs,
         | MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
         |FROM assigned GROUP BY split ORDER BY split""".stripMargin
    },
    "dq_label_agreement" -> labelAgreementOracle,
    "dq_ref_integrity" -> {
      def fk(name: String, childSql: String, parentSql: String): String =
        s"""SELECT '$name' AS fk_name,
           | CAST(COUNT(*) AS BIGINT) AS child_rows,
           | CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |   AS orphan_rows,
           | CAST(COUNT(DISTINCT CASE WHEN p.k IS NULL THEN c.fk END) AS BIGINT)
           |   AS orphan_keys,
           | CAST(MIN(CASE WHEN p.k IS NULL THEN c.fk END) AS VARCHAR)
           |   AS min_orphan_key
           |FROM (SELECT fk FROM ($childSql) WHERE fk IS NOT NULL) c
           |LEFT JOIN (SELECT DISTINCT k FROM ($parentSql)
           |           WHERE k IS NOT NULL) p ON p.k = c.fk""".stripMargin
      (fk("orders.custkey->customer",
        """SELECT CASE WHEN o_orderkey % 97 = 0 THEN o_custkey + 10000000
          | ELSE o_custkey END AS fk FROM orders""".stripMargin,
        "SELECT c_custkey AS k FROM customer") +
        "\nUNION ALL\n" +
        fk("lineitem.partkey->part",
          "SELECT l_partkey AS fk FROM lineitem",
          "SELECT p_partkey AS k FROM part") +
        "\nUNION ALL\n" +
        fk("lineitem.suppkey->supplier",
          """SELECT CASE WHEN (l_orderkey * 7 + l_linenumber) % 89 = 0
            | THEN -(l_suppkey + 1) ELSE l_suppkey END AS fk
            |FROM lineitem""".stripMargin,
          "SELECT s_suppkey AS k FROM supplier") +
        "\nORDER BY fk_name")
    },

    "dq_benford" ->
      """WITH v AS (
        | SELECT CAST(round(abs(o_totalprice) * 100) AS BIGINT) AS u
        | FROM orders),
        |c AS (
        | SELECT CAST(substr(CAST(u AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |  CAST(COUNT(*) AS BIGINT) AS n
        | FROM v WHERE u >= 1 GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
        |spine AS (SELECT * FROM (VALUES
        | (CAST(1 AS BIGINT), CAST(301029996 AS BIGINT)), (2, 176091259),
        | (3, 124938737), (4, 96910013), (5, 79181246), (6, 66946790),
        | (7, 57991947), (8, 51152522), (9, 45757491))
        | AS t(digit, expected_nano))
        |SELECT s.digit, COALESCE(c.n, 0) AS n,
        | CAST(COALESCE(c.n, 0) * 1000000000 // tot.total AS BIGINT)
        |   AS share_nano,
        | s.expected_nano,
        | CAST(abs(COALESCE(c.n, 0) * 1000000000 // tot.total
        |   - s.expected_nano) AS BIGINT) AS dev_nano
        |FROM spine s LEFT JOIN c ON c.digit = s.digit CROSS JOIN tot
        |ORDER BY s.digit""".stripMargin,

    "dq_fd_check" ->
      """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_rows,
        | CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_variants
        |FROM orders WHERE o_custkey IS NOT NULL
        |GROUP BY 1 HAVING COUNT(DISTINCT o_orderpriority) > 1
        |ORDER BY o_custkey""".stripMargin,

    "dq_freshness" ->
      """WITH ev AS (
        | SELECT event_type, epoch_us(ts) AS us FROM events
        | WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |per AS (
        | SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MAX(us) AS BIGINT) AS max_us
        | FROM ev GROUP BY 1),
        |g AS (SELECT CAST(MAX(max_us) AS BIGINT) AS g_max FROM per)
        |SELECT event_type, n, max_us, g.g_max - max_us AS lag_us
        |FROM per CROSS JOIN g ORDER BY event_type""".stripMargin,

    // The torn fixture is derived from nation (one line per key % 5 == 0),
    // so the parquet source predicts every audit counter; first_corrupt is
    // the lexicographic string min, computed as such on both sides.
    "dq_corrupt_rows" ->
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_clean,
        |            CAST(COUNT(n_nationkey) AS BIGINT) AS p_key,
        |            CAST(COUNT(n_name) AS BIGINT) AS p_name,
        |            CAST(COUNT(n_regionkey) AS BIGINT) AS p_rk FROM nation),
        | b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corrupt,
        |            MIN('BAD' || CAST(n_nationkey AS VARCHAR)) AS first_corrupt
        |       FROM nation WHERE n_nationkey % 5 = 0)
        |SELECT c.n_clean + b.n_corrupt AS n_rows, c.n_clean, b.n_corrupt,
        | c.p_key AS n_parsed_n_nationkey, c.p_name AS n_parsed_n_name,
        | c.p_rk AS n_parsed_n_regionkey, b.first_corrupt
        |FROM c CROSS JOIN b""".stripMargin,

    "dq_constraints" ->
      """WITH s AS (
        | SELECT COUNT(*) AS n,
        |  COUNT(value) AS nn_value,
        |  COUNT(event_type) AS nn_et,
        |  COUNT(CASE WHEN event_type IN
        |    ('click','error','purchase','signup','view') THEN 1 END) AS c_set,
        |  COUNT(CASE WHEN value >= 0.0 AND value <= 500.0 THEN 1 END) AS c_btw,
        |  COUNT(DISTINCT event_id)
        |   + MAX(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS c_uni
        | FROM events)
        |SELECT * FROM (
        | SELECT 'between' AS check_name, 'value' AS target,
        |  CASE WHEN nn_value > 0 THEN CAST(c_btw AS DOUBLE) / nn_value
        |   ELSE 0.0 END AS observed,
        |  CAST(0.5 AS DOUBLE) AS threshold,
        |  (CASE WHEN nn_value > 0 THEN CAST(c_btw AS DOUBLE) / nn_value
        |   ELSE 0.0 END) >= 0.5 AS pass FROM s
        | UNION ALL
        | SELECT 'in_set', 'event_type',
        |  CASE WHEN nn_et > 0 THEN CAST(c_set AS DOUBLE) / nn_et ELSE 0.0 END,
        |  CAST(1.0 AS DOUBLE),
        |  (CASE WHEN nn_et > 0 THEN CAST(c_set AS DOUBLE) / nn_et
        |   ELSE 0.0 END) >= 1.0 FROM s
        | UNION ALL
        | SELECT 'not_null', 'value',
        |  CASE WHEN n > 0 THEN CAST(nn_value AS DOUBLE) / n ELSE 0.0 END,
        |  CAST(0.9 AS DOUBLE),
        |  (CASE WHEN n > 0 THEN CAST(nn_value AS DOUBLE) / n
        |   ELSE 0.0 END) >= 0.9 FROM s
        | UNION ALL
        | SELECT 'unique_ratio', 'event_id',
        |  CASE WHEN n > 0 THEN CAST(c_uni AS DOUBLE) / n ELSE 0.0 END,
        |  CAST(1.0 AS DOUBLE),
        |  (CASE WHEN n > 0 THEN CAST(c_uni AS DOUBLE) / n
        |   ELSE 0.0 END) >= 1.0 FROM s)
        |ORDER BY check_name, target""".stripMargin,

    // Mirrors DataQuality.psiDrift: same median split, same reference
    // deciles (quantile_cont == Spark percentile, both R-7), same
    // count(bounds < value) bucket, eps-floored shares, ln on identical
    // doubles, and the bucket-ordered list fold for the final sum. A key
    // with no current rows divides by zero inside the masked branch
    // (NULL here, NaN in Spark) — the CASE masks both to a NULL psi.
    "dq_psi_drift" ->
      """WITH ev AS (
        | SELECT event_type, value, event_id FROM events
        | WHERE event_id IS NOT NULL AND value IS NOT NULL),
        |med AS (
        | SELECT quantile_cont(CAST(event_id AS DOUBLE), 0.5) AS med FROM ev),
        |tagged AS (
        | SELECT event_type, value,
        |  CAST(event_id AS DOUBLE) <= med.med AS is_ref
        | FROM ev, med),
        |bounds AS (
        | SELECT event_type,
        |  quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
        |                        0.6, 0.7, 0.8, 0.9]) AS bounds
        | FROM tagged WHERE is_ref GROUP BY event_type),
        |bucketed AS (
        | SELECT t.event_type, t.is_ref,
        |  len(list_filter(b.bounds, x -> t.value > x)) AS bucket
        | FROM tagged t JOIN bounds b USING (event_type)),
        |counts AS (
        | SELECT event_type, bucket,
        |  CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cr,
        |  CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cc
        | FROM bucketed GROUP BY 1, 2),
        |totals AS (
        | SELECT event_type, CAST(SUM(cr) AS BIGINT) AS nr,
        |  CAST(SUM(cc) AS BIGINT) AS nc
        | FROM counts GROUP BY 1),
        |terms AS (
        | SELECT c.event_type, c.bucket, t.nr, t.nc,
        |  (GREATEST(CAST(c.cr AS DOUBLE) / CAST(t.nr AS DOUBLE), 1e-6)
        |   - GREATEST(CAST(c.cc AS DOUBLE) / CAST(t.nc AS DOUBLE), 1e-6))
        |  * ln(GREATEST(CAST(c.cr AS DOUBLE) / CAST(t.nr AS DOUBLE), 1e-6)
        |     / GREATEST(CAST(c.cc AS DOUBLE) / CAST(t.nc AS DOUBLE), 1e-6))
        |  AS term
        | FROM counts c JOIN totals t USING (event_type))
        |SELECT event_type,
        | CAST(MAX(nr) AS BIGINT) AS n_ref, CAST(MAX(nc) AS BIGINT) AS n_cur,
        | CASE WHEN MAX(nc) > 0
        |      THEN list_sum(list(term ORDER BY bucket)) END AS psi
        |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin,

    "dq_ks_drift" ->
      """WITH ev AS (
        | SELECT event_type, CAST(round(value * 1e9) AS BIGINT) AS vn,
        |  (user_id % 2 = 0) AS is_ref
        | FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |cnt AS (
        | SELECT event_type, vn,
        |  CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cr,
        |  CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS cc
        | FROM ev GROUP BY 1, 2),
        |run AS (
        | SELECT event_type,
        |  CAST(SUM(cr) OVER w AS BIGINT) AS i,
        |  CAST(SUM(cc) OVER w AS BIGINT) AS j
        | FROM cnt
        | WINDOW w AS (PARTITION BY event_type ORDER BY vn
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |tot AS (
        | SELECT event_type,
        |  CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |  CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
        | FROM ev GROUP BY 1)
        |SELECT r.event_type, t.n_ref, t.n_cur,
        | CAST(MAX(abs(r.i * t.n_cur - r.j * t.n_ref)) AS BIGINT) AS ks_num,
        | CAST(CAST(MAX(abs(r.i * t.n_cur - r.j * t.n_ref)) AS HUGEINT)
        |   * 1000000000
        |   // NULLIF(CAST(t.n_ref AS HUGEINT) * t.n_cur, 0) AS BIGINT)
        |   AS ks_nano
        |FROM run r JOIN tot t USING (event_type)
        |GROUP BY 1, 2, 3
        |ORDER BY event_type""".stripMargin,

    "mm_media_meta" ->
      """SELECT doc_id AS media_id,
        | CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | md5(text) AS digest,
        | upper(substr(to_base64(encode(text)), 1, 4)) AS format
        |FROM documents ORDER BY media_id""".stripMargin,

    "sketch_hll_distinct" -> hllDistinctOracle,
    "sketch_cms_freq" -> cmsFreqOracle,

    // Incremental resume == joint recompute by KMV's split independence,
    // so the oracle is simply the joint ranked distinct scan.
    "sketch_kmv_incremental" -> {
      val h = hash60Sql("CAST(user_id AS VARCHAR)")
      s"""WITH hd AS (
         | SELECT DISTINCT event_type, $h AS h
         | FROM events WHERE user_id IS NOT NULL),
         |r AS (
         | SELECT event_type, h,
         |  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         | FROM hd),
         |kept AS (
         | SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |  CAST(MAX(h) AS BIGINT) AS kth_min
         | FROM r WHERE rn <= 64 GROUP BY 1)
         |SELECT event_type, n_kept, kth_min,
         | CASE WHEN n_kept < 64 THEN n_kept
         |      ELSE CAST(CAST(63 AS HUGEINT) * 1152921504606846976
         |             // NULLIF(kth_min, 0) AS BIGINT) END AS est_users
         |FROM kept
         |ORDER BY event_type""".stripMargin
    },

    // The KMV kept set is a pure function of the data (k smallest
    // distinct hashes), so the oracle re-derives it with a ranked
    // distinct scan; HUGEINT mirrors the DECIMAL(38,0) estimator.
    "sketch_kmv_distinct" -> {
      val h = hash60Sql("CAST(user_id AS VARCHAR)")
      s"""WITH hs AS (
         | SELECT DISTINCT event_type, user_id, $h AS h
         | FROM events WHERE user_id IS NOT NULL),
         |hd AS (SELECT DISTINCT event_type, h FROM hs),
         |r AS (
         | SELECT event_type, h,
         |  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         | FROM hd),
         |kept AS (
         | SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |  CAST(MAX(h) AS BIGINT) AS kth_min
         | FROM r WHERE rn <= 64 GROUP BY 1),
         |ex AS (
         | SELECT event_type,
         |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
         | FROM hs GROUP BY 1)
         |SELECT k.event_type, k.n_kept, k.kth_min,
         | CASE WHEN k.n_kept < 64 THEN k.n_kept
         |      ELSE CAST(CAST(63 AS HUGEINT) * 1152921504606846976
         |             // NULLIF(k.kth_min, 0) AS BIGINT) END AS est_users,
         | ex.n_exact
         |FROM kept k JOIN ex USING (event_type)
         |ORDER BY event_type""".stripMargin
    },

    // KMV set algebra replay (shared with the streaming twin
    // stream_kmv_setops — SparkEntry.kmvSetopsOracle): per-source kept
    // sets re-derived with a ranked distinct scan, union-k by re-ranking
    // the merged kept sets, then the Beyer estimators in HUGEINT —
    // mirroring the engine's DECIMAL(38,0) DIV.
    "sketch_kmv_setops" -> kmvSetopsOracle,

    "dq_seq_gaps" ->
      """WITH li AS (
        | SELECT l_orderkey, l_linenumber FROM lineitem
        | WHERE NOT (l_orderkey % 7 = 0 AND l_linenumber = 3)),
        |g AS (
        | SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  MIN(l_linenumber) AS min_line, MAX(l_linenumber) AS max_line
        | FROM li GROUP BY 1)
        |SELECT l_orderkey, n_lines, min_line, max_line,
        | max_line - min_line + 1 - n_lines AS n_missing
        |FROM g
        |WHERE max_line - min_line + 1 - n_lines > 0 OR min_line <> 1
        |ORDER BY l_orderkey""".stripMargin,

    // Per-type terms k*ln(c/N) are elementwise bit-deterministic (DuckDB
    // ln == the engine's MathLn); the per-doc sum replays the engine's
    // ordered fold as list_sum(list(term ORDER BY w)).
    // Thresholds are the INTEGER buckets Spark's truncating double->long
    // cast produces (DuckDB's double->BIGINT cast ROUNDS, so replaying the
    // float arithmetic would be engine-dependent at the margin).
    "sample_mixture" -> {
      val h = hash60Sql("CAST(doc_id AS VARCHAR)", 0)
      s"""WITH tgt AS (
         | SELECT source, CAST(tshare AS DOUBLE) AS tshare
         | FROM (VALUES ('src0', 0.3), ('src1', 0.3), ('src2', 0.4)) t(source, tshare)),
         |cnt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_orig
         |        FROM documents GROUP BY source),
         |j AS (SELECT c.source, c.n_orig, t.tshare FROM cnt c JOIN tgt t USING (source)),
         |m AS (SELECT MIN(CAST(n_orig AS DOUBLE) / tshare) AS mm FROM j),
         |rates AS (
         | SELECT source, n_orig,
         |  CAST(floor(tshare * mm / CAST(n_orig AS DOUBLE) * 1000000.0) AS BIGINT) AS rate_ppm
         | FROM j CROSS JOIN m),
         |kept AS (
         | SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept
         | FROM documents d JOIN rates r USING (source)
         | WHERE ($h % 1000000) < r.rate_ppm
         | GROUP BY d.source)
         |SELECT source, n_orig, rate_ppm, COALESCE(n_kept, 0) AS n_kept
         |FROM rates LEFT JOIN kept USING (source)
         |ORDER BY source""".stripMargin
    },

    "sample_temperature" -> {
      val h = hash60Sql("CAST(doc_id AS VARCHAR)", 0)
      s"""WITH cnt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_orig
         |            FROM documents GROUP BY lang),
         |wd AS (SELECT lang, n_orig, sqrt(CAST(n_orig AS DOUBLE)) AS dd FROM cnt),
         |m AS (SELECT MIN(dd) AS mm FROM wd),
         |rates AS (
         | SELECT lang, n_orig,
         |  CAST(floor(mm / dd * 1000000.0) AS BIGINT) AS rate_ppm
         | FROM wd CROSS JOIN m),
         |kept AS (
         | SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept
         | FROM documents d JOIN rates r USING (lang)
         | WHERE ($h % 1000000) < r.rate_ppm
         | GROUP BY d.lang)
         |SELECT lang, n_orig, rate_ppm, COALESCE(n_kept, 0) AS n_kept
         |FROM rates LEFT JOIN kept USING (lang)
         |ORDER BY lang""".stripMargin
    },

    "sample_match_dist" -> {
      val h = hash60Sql("CAST(doc_id AS VARCHAR)", 0)
      s"""WITH src AS (
         | SELECT doc_id, lang, n_chars // 100 AS bucket FROM documents
         | WHERE n_chars IS NOT NULL),
         |cnt AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_src
         |        FROM src GROUP BY 1),
         |ref AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_ref
         |        FROM src WHERE lang = 'en' GROUP BY 1),
         |j AS (SELECT c.bucket, c.n_src, r.n_ref
         |      FROM cnt c JOIN ref r USING (bucket)),
         |binding AS (
         | SELECT n_src AS c_num, n_ref AS c_den FROM j
         | ORDER BY CAST(n_src AS DOUBLE) / n_ref ASC, bucket ASC LIMIT 1),
         |kept AS (
         | SELECT s.bucket FROM src s JOIN j USING (bucket)
         |  CROSS JOIN binding b
         | WHERE ($h) % (b.c_den * j.n_src) < b.c_num * j.n_ref),
         |ka AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_after
         |       FROM kept GROUP BY 1)
         |SELECT c.bucket, c.n_src, COALESCE(r.n_ref, 0) AS n_ref,
         | COALESCE(ka.n_after, 0) AS n_after
         |FROM cnt c LEFT JOIN ref r USING (bucket)
         | LEFT JOIN ka USING (bucket)
         |ORDER BY bucket""".stripMargin
    },

    "sample_stratified" -> {
      val h = hash60Sql("CAST(doc_id AS VARCHAR)", 0)
      s"""SELECT doc_id, source FROM documents
         |WHERE $h % 1000000 <
         | (CASE source WHEN 'src0' THEN 500000 WHEN 'src1' THEN 250000
         |   WHEN 'src2' THEN 100000 ELSE 50000 END)
         |ORDER BY doc_id""".stripMargin
    },

    "sample_uniform_k" -> {
      val h = hash60Sql("CAST(event_id AS VARCHAR)", 0)
      s"""SELECT event_id, user_id, event_type FROM (
         | SELECT event_id, user_id, event_type
         | FROM events ORDER BY $h, event_id LIMIT 100)
         |ORDER BY event_id""".stripMargin
    },

    "sample_weighted" -> sampleWeightedOracle,
    "shard_stats" -> {
      val h = hash60Sql("CAST(doc_id AS VARCHAR)", 0)
      s"""SELECT CAST($h % 16 AS BIGINT) AS shard,
         | COUNT(*) AS n_rows,
         | CAST(SUM(n_chars) AS BIGINT) AS total_size,
         | MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
         |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin
    },

    "sample_group_k" ->
      s"""WITH h AS (
         | SELECT lang, doc_id,
         |  (${hash60Sql("CAST(doc_id AS VARCHAR)", 0)}
         |    % 9007199254740992) AS hh
         | FROM documents),
         |r AS (
         | SELECT lang, doc_id, CAST(ROW_NUMBER() OVER (
         |   PARTITION BY lang ORDER BY hh ASC, doc_id ASC) AS BIGINT) AS rank
         | FROM h)
         |SELECT lang, doc_id, rank FROM r
         |WHERE rank <= 20 ORDER BY lang, rank""".stripMargin,

    "sample_apportion" ->
      """WITH sizes AS (
        | SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_s
        | FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS total FROM sizes),
        |base AS (
        | SELECT lang, n_s,
        |  CAST(n_s * 100 // tot.total AS BIGINT) AS q0,
        |  CAST((n_s * 100) % tot.total AS BIGINT) AS rem
        | FROM sizes CROSS JOIN tot),
        |d AS (SELECT CAST(100 - SUM(q0) AS BIGINT) AS deficit FROM base),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (
        |   ORDER BY rem DESC, lang ASC) AS BIGINT) AS rr FROM base)
        |SELECT lang, n_s,
        | q0 + CASE WHEN rr <= d.deficit THEN 1 ELSE 0 END AS quota
        |FROM r CROSS JOIN d ORDER BY lang""".stripMargin,

    "sample_balance_classes" ->
      s"""WITH sizes AS (
         | SELECT source, CAST(COUNT(*) AS BIGINT) AS class_size
         | FROM documents GROUP BY 1),
         |kk AS (SELECT CAST(MIN(class_size) AS BIGINT) AS k_kept FROM sizes),
         |h AS (
         | SELECT source, doc_id,
         |  (${hash60Sql("CAST(doc_id AS VARCHAR)", 0)}
         |    % 9007199254740992) AS hh
         | FROM documents),
         |r AS (
         | SELECT source, doc_id, CAST(ROW_NUMBER() OVER (
         |   PARTITION BY source ORDER BY hh ASC, doc_id ASC) AS BIGINT)
         |   AS rank
         | FROM h)
         |SELECT r.source, r.doc_id, r.rank, s.class_size, kk.k_kept
         |FROM r JOIN sizes s ON s.source = r.source CROSS JOIN kk
         |WHERE r.rank <= kk.k_kept
         |ORDER BY r.source, r.rank""".stripMargin,

    "sample_quota_budget" ->
      s"""WITH h AS (
         | SELECT source, doc_id, CAST(n_chars AS BIGINT) AS cost,
         |  ${hash60Sql("CAST(doc_id AS VARCHAR)", 0)} AS hh
         | FROM documents),
         |c AS (
         | SELECT source, doc_id, cost,
         |  CAST(SUM(cost) OVER (PARTITION BY source
         |    ORDER BY hh ASC, doc_id ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |   AS BIGINT) AS cum_cost
         | FROM h)
         |SELECT source, doc_id, cost, cum_cost FROM c
         |WHERE cum_cost <= 4000 ORDER BY source, cum_cost""".stripMargin
  )
}
