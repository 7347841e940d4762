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

/** Relational slice of the SparkEntry corpus (see SparkEntry's scaladoc for the cross-engine
  * determinism rules every entry follows). Bodies moved verbatim from the
  * round-6 SparkEntry map literals; shared helpers live on SparkEntry
  * (private[graft]).
  */
private[graft] trait QueriesRelational { this: SparkEntry.type =>

  // Headline bodies. Each takes its prepared input and `by`, the columns
  // put in front of every group, partition and sort key: the corpus entry
  // passes Nil, and Bench.fused passes its replica tag over a replicated
  // input, so the headline times the corpus plan itself.

  /** q1_agg over lineitem. */
  private[graft] def q1Agg(li: DataFrame, by: Seq[String]): DataFrame = {
    val keys = (by ++ Seq("l_returnflag", "l_linestatus")).map(col)
    li.groupBy(keys: _*)
      .agg(
        (sum(cents(col("l_quantity"))).cast("double") / 100).as("sum_qty"),
        (sum(cents(col("l_extendedprice"))).cast("double") / 100).as("sum_base_price"),
        revenue(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        (sum(cents(col("l_quantity"))).cast("double") / 100 /
          count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(keys: _*)
  }

  /** j1_multiway_join over the (l_orderkey, l_extendedprice, l_discount)
    * fact frame `li`; the dims are read from `d`.
    */
  private[graft] def j1MultiwayJoin(s: SparkSession, d: String,
      li: DataFrame, by: Seq[String]): DataFrame = {
    val keys = (by ++ Seq("r_name", "n_name")).map(col)
    val o = t(s, d, "orders").select("o_orderkey", "o_custkey")
    // Dims join the fact SEQUENTIALLY (r14, guide §3.1): each dim side
    // is a base parquet scan with a real size statistic, so every join
    // statically plans as a broadcast hash join and the fact side never
    // shuffles. The previous form pre-collapsed customer->nation->region
    // into one dim ("probe 2 hash tables, not 4") — but a JOIN OUTPUT
    // has no usable size estimate, the 10 MB threshold could not prove
    // the collapsed dim small, and the fact->cdim join fell back to a
    // SortMergeJoin that exchanged the whole fact side by o_custkey
    // (plans/r14/j1_multiway_join_before.txt, operators 23-25).
    // Measured (OPTIMIZATION_r14.md §1, fused r=8, sf0.1): 0.2288 -> 0.1901
    // s/inst (83%); after-plan has ZERO SortMergeJoins.
    // No broadcast() hints: at 100 TB AQE picks shuffle joins instead
    // of a forced OOM.
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(t(s, d, "customer").select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(t(s, d, "nation")
        .select("n_nationkey", "n_name", "n_regionkey"),
        col("c_nationkey") === col("n_nationkey"))
      .join(t(s, d, "region").select("r_regionkey", "r_name"),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_items"),
        revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy(keys: _*)
  }

  /** a8_pivot over events. */
  private[graft] def a8Pivot(events: DataFrame, by: Seq[String]): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val keys = (by :+ "day").map(col)
    val ev = events
      .select(by.map(col) ++ Seq(
        date_trunc("day", Graft.nanosToTimestamp("ts")).cast("date")
          .cast("string").as("day"),
        col("event_type"), col("value").cast(DecimalType(28, 10)).as("dval")): _*)
    val piv = ev.groupBy(keys: _*).pivot("event_type", types).sum("dval")
    piv.select(keys ++ types.map(ty => col(ty).cast("double").as(ty)): _*)
      .orderBy(keys: _*)
  }

  protected def relationalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S1/S3 glob multi-file CSV scan with declared casts: nation split into
    // two CSV files, glob-read back (one spark.read covers both files; the
    // union is the source's own). Lossless round-trip, so the parquet table
    // is its own oracle.
    "s1_csv_glob_scan" -> ((s, d) => {
      val tmp = scratch("csv_glob", d) { out =>
        val n = t(s, d, "nation")
        n.where(col("n_regionkey") < 2).coalesce(1).write.mode("overwrite")
          .option("header", "true").csv(s"$out/NATION_part_a")
        n.where(col("n_regionkey") >= 2).coalesce(1).write.mode("overwrite")
          .option("header", "true").csv(s"$out/NATION_part_b")
      }
      s.read.option("header", "true")
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .csv(s"$tmp/NATION_part_*/*.csv")
        .orderBy("n_nationkey")
    }),

    // JSON-lines source round-trip (schema-on-read; lossless for these
    // types, so the parquet table is its own oracle).
    "s2_json_roundtrip" -> ((s, d) => {
      val tmp = scratch("json_rt", d) { out =>
        t(s, d, "supplier").coalesce(1).write.mode("overwrite").json(out)
      }
      s.read.schema("s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
        .json(tmp)
        .orderBy("s_suppkey")
    }),

    // ORC source round-trip (columnar alternative to parquet).
    "s3_orc_roundtrip" -> ((s, d) => {
      val tmp = scratch("orc_rt", d) { out =>
        t(s, d, "part").write.mode("overwrite").orc(out)
      }
      s.read.orc(tmp).orderBy("p_partkey")
    }),

    // Schema evolution across file generations: v1 files lack a column
    // that v2 files carry; a mergeSchema read unions the schemas and fills
    // v1 rows with NULL — the append-a-column migration every long-lived
    // table goes through (P5's missing-declared-column rule at the
    // file-generation level).
    "s7_schema_evolution" -> ((s, d) => {
      val tmp = scratch("evolve", d) { out =>
        val o = t(s, d, "orders")
        o.where(col("o_orderkey") <= 1000).select("o_orderkey", "o_custkey")
          .write.mode("overwrite").parquet(s"$out/v1")
        o.where(col("o_orderkey") > 1000)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .write.mode("overwrite").parquet(s"$out/v2")
      }
      s.read.option("mergeSchema", "true").parquet(s"$tmp/v1", s"$tmp/v2")
        .orderBy("o_orderkey")
    }),

    // A1 group-by multi-agg (reference calculate_metrics.py:123-131 shape).
    "q1_agg" -> ((s, d) => q1Agg(t(s, d, "lineitem"), Nil)),

    // Salted two-stage aggregation (skew-safe agg). The oracle computes
    // the PLAIN group-by: the salting must be result-invisible — exact
    // integer-cents sums make the merge order irrelevant.
    "a15_salted_agg" -> ((s, d) => {
      val li = Graft.spread(t(s, d, "lineitem"))
        .select(col("l_returnflag"), cents(col("l_quantity")).as("qty_cents"))
      graft.ops.SkewJoin.saltedSumCount(li, Seq("l_returnflag"), "qty_cents",
        saltBuckets = 8)
        .select(col("l_returnflag"),
          (col("sum_qty_cents").cast("double") / 100).as("sum_qty"),
          col("n_rows"))
        .orderBy("l_returnflag")
    }),

    // Z-order (Morton) layout key: interleave two dimensions into one
    // sort order — written in this order, parquet min/max stats prune on
    // EITHER dimension. Top-200 by z compiles to TakeOrderedAndProject
    // (no global sort), like o2.
    "o3_zorder" -> ((s, d) => t(s, d, "part")
      .select(col("p_partkey"), col("p_size"),
        graft.functions.Layout.zValue(col("p_size"), col("p_partkey"), 16)
          .as("z"))
      .orderBy(col("z").asc, col("p_partkey").asc)
      .limit(200)),

    // S4 full table scan.
    "s4_scan" -> ((s, d) => t(s, d, "region").orderBy("r_regionkey")),

    // S6 parametrized filtered scan (streamlit_app.py:40-44 shape).
    "s6_filtered_scan" -> ((s, d) => t(s, d, "nation")
      .where(col("n_regionkey") === 2)
      .select("n_nationkey", "n_name")
      .orderBy("n_nationkey")),

    // P2 projection w/ rename + cast + coalesce (build.py:88-96 shape).
    "p2_project_cast" -> ((s, d) => t(s, d, "orders")
      .where(col("o_orderkey") <= 3000)
      .select(
        col("o_orderkey").as("order_id"),
        // ISO string, not DATE: oracle comparisons canonicalize temporal
        // types as strings (SURVEY §7.4.7)
        col("o_orderdate").cast("date").cast("string").as("order_date"),
        coalesce(col("o_totalprice"), lit(0.0)).as("total_price"),
        col("o_orderpriority").as("priority"))
      .orderBy("order_id")),

    // P3 null-skipping horizontal sum (calculate_metrics.py:119-121).
    "p3_horizontal_sum" -> ((s, d) => t(s, d, "lineitem")
      .where(col("l_orderkey") <= 2000)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        Cleaning.horizontalSum(Seq(col("l_quantity"), col("l_discount"), col("l_tax")))
          .as("h_sum"))
      .orderBy("l_orderkey", "l_linenumber")),

    // F2 null-based row filter (calculate_metrics.py:101-108).
    "f2_null_drop" -> ((s, d) => t(s, d, "lineitem")
      .where(col("l_orderkey") <= 3000)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        nullif(col("l_discount"), lit(0.0)).as("disc_nz"),
        nullif(col("l_tax"), lit(0.0)).as("tax_nz"))
      .na.drop(Seq("disc_nz", "tax_nz"))
      .orderBy("l_orderkey", "l_linenumber")),

    // F3 row-wise zero-sentinel nulling over the critical set
    // (calculate_metrics.py:92-98: ANY zero -> ALL nulled).
    "f3_zero_sentinel" -> ((s, d) => {
      val base = t(s, d, "lineitem")
        .where(col("l_orderkey") <= 2000)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
      Cleaning.zeroSentinelNull(base, Seq("l_quantity", "l_discount", "l_tax"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // F4 equality + IN-list filter (metrics_dashboard.py:25).
    "f4_in_filter" -> ((s, d) => t(s, d, "customer")
      .where(col("c_mktsegment") === "BUILDING" &&
        col("c_nationkey").isin(1, 3, 5))
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")),

    // F6 distinct non-null values (metrics_dashboard.py:20).
    "f6_distinct" -> ((s, d) =>
      graft.service.MetricsService.options(t(s, d, "customer"), "c_mktsegment")),

    // J1 multi-way inner equi-join + agg; dims broadcast (SURVEY §2.3).
    "j1_multiway_join" -> ((s, d) => {
      // spread: the single-row-group fact file scans as ONE partition;
      // without it the whole broadcast-probe chain runs on one core
      j1MultiwayJoin(s, d, Graft.spread(t(s, d, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")), Nil)
    }),

    // J1 iterative fold-join with deterministic collision renaming
    // (calculate_metrics.py:56-62; SURVEY §7.4.1 `_fN` scheme).
    "j1_fold_join" -> ((s, d) => {
      val a = t(s, d, "orders").select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("val"))
      val b = t(s, d, "lineitem").groupBy(col("l_orderkey").as("k"))
        .agg(count(lit(1)).as("n_items"), dsum2(col("l_quantity")).as("val"))
      val (merged, _) = StaffingMetrics.foldJoin(Seq(a, b), Seq("k"), audit = false)
      merged.select("k", "status", "val", "n_items", "val_f1").orderBy("k")
    }),

    // Left-semi join (EXISTS) — engine surface beyond the reference.
    "j2_semi_join" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").where(col("o_totalprice") > 300000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    // Left-anti join (NOT EXISTS).
    "j3_anti_join" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").where(col("o_totalprice") > 400000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    // As-of (point-in-time) join: each view matched to the user's latest
    // purchase at-or-before it (composed from built-ins; Spark lacks the
    // operator natively — see graft.ops.AsOfJoin).
    "j4_asof_join" -> ((s, d) => {
      val ev = t(s, d, "events").withColumn("ts_us", expr("ts DIV 1000"))
      val views = ev.where(col("event_type") === "view" && col("user_id") <= 300)
        .select("user_id", "ts_us", "event_id")
      val purchases = ev.where(col("event_type") === "purchase" && col("user_id") <= 300)
        .groupBy("user_id", "ts_us").agg(max("value").as("pval"))
      graft.ops.AsOfJoin.asOf(views, purchases, Seq("user_id"), "ts_us", Seq("pval"))
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // Bucketed range join: views falling inside the 1-hour window after
    // each purchase by the same user (bucketize-explode, never per-key
    // cross product — see graft.ops.RangeJoin).
    "j5_range_join" -> ((s, d) => {
      val hourUs = 3600L * 1000000L
      val ev = t(s, d, "events").withColumn("ts_us", expr("ts DIV 1000"))
      val views = ev.where(col("event_type") === "view" && col("user_id") <= 300)
        .select(col("user_id"), col("ts_us"), col("event_id").as("view_id"))
      val windows = ev.where(col("event_type") === "purchase" && col("user_id") <= 300)
        .select(col("user_id"), col("ts_us").as("start_us"),
          (col("ts_us") + hourUs).as("end_us"),
          col("event_id").as("purchase_id"))
      graft.ops.RangeJoin.bucketedRangeJoin(views, windows,
        Seq("user_id"), "ts_us", "start_us", "end_us", bucket = hourUs)
        .select("user_id", "view_id", "purchase_id", "ts_us", "start_us")
        .orderBy("user_id", "view_id", "purchase_id")
    }),

    // Interval-overlap join: per user, purchase windows [t, t+1h]
    // overlapping view windows [t, t+30m] — each overlapping pair kept
    // exactly once via the overlap-start bucket rule
    // (RangeJoin.intervalOverlapJoin); exact integer overlap length.
    // NEAREST-neighbor time join (both directions — the bidirectional
    // complement of j4's backward-only as-of): each purchase pairs with
    // its temporally closest click by the same user, ties to the
    // earlier click. One tagged union + TWO frames over ONE per-user
    // sort (last-ignore-nulls carry backward, first-ignore-nulls
    // forward), then a map-side pick — no self-join, no per-key cross
    // product, the per-key-sorted shape that scales like any window.
    // Users with no clicks keep NULL pair columns; signed gap_us < 0
    // means the click preceded the purchase.
    "j8_nearest_join" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, d, "events")
        .where(col("ts").isNotNull && col("event_id").isNotNull &&
          col("user_id").isNotNull)
        .select(col("user_id"), col("event_id"),
          expr("ts DIV 1000").as("us"), col("event_type"))
        .where(col("event_type").isin("click", "purchase"))
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      val cStruct = when(col("event_type") === "click",
        struct(col("us").as("c_us"), col("event_id").as("c_id")))
      val g = ev
        .withColumn("prev_c", last(cStruct, ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("next_c", first(cStruct, ignoreNulls = true)
          .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
        .where(col("event_type") === "purchase")
      val pick = when(col("next_c").isNull, col("prev_c"))
        .when(col("prev_c").isNull, col("next_c"))
        .when(col("us") - col("prev_c.c_us") <=
          col("next_c.c_us") - col("us"), col("prev_c"))
        .otherwise(col("next_c"))
      g.select(col("event_id").as("p_id"), col("user_id"),
          col("us").as("p_us"), pick.as("c"))
        .select(col("p_id"), col("user_id"), col("p_us"),
          col("c.c_id").as("c_id"),
          (col("c.c_us") - col("p_us")).as("gap_us"))
        .orderBy("p_id")
    }),

    "j7_interval_overlap" -> ((s, d) => {
      val hourUs = 3600L * 1000000L
      val ev = t(s, d, "events").withColumn("ts_us", expr("ts DIV 1000"))
      val purch = ev.where(col("event_type") === "purchase" &&
          col("user_id") <= 300)
        .select(col("user_id"), col("ts_us").as("p_start"),
          (col("ts_us") + hourUs).as("p_end"),
          col("event_id").as("purchase_id"))
      val views = ev.where(col("event_type") === "view" &&
          col("user_id") <= 300)
        .select(col("user_id"), col("ts_us").as("v_start"),
          (col("ts_us") + hourUs / 2).as("v_end"),
          col("event_id").as("view_id"))
      graft.ops.RangeJoin.intervalOverlapJoin(purch, views, Seq("user_id"),
          "p_start", "p_end", "v_start", "v_end", bucket = hourUs)
        .select(col("user_id"), col("purchase_id"), col("view_id"),
          (least(col("p_end"), col("v_end")) -
            greatest(col("p_start"), col("v_start"))).as("overlap_us"))
        .orderBy("user_id", "purchase_id", "view_id")
    }),

    // Null-safe equality join (<=>): NULL keys match each other, unlike
    // plain equi-join semantics.
    "j6_null_safe_join" -> ((s, d) => {
      val n = t(s, d, "nation")
        .select(col("n_nationkey"), nullif(col("n_regionkey"), lit(2)).as("rk"))
      n.as("a").join(n.as("b"), col("a.rk") <=> col("b.rk"))
        .select(col("a.n_nationkey").as("k_a"), col("b.n_nationkey").as("k_b"),
          col("a.rk").as("rk"))
        .orderBy("k_a", "k_b")
    }),

    // Array-function battery, serialized to strings (sort/distinct/slice/
    // join) so no list types cross the oracle boundary.
    "x7_array_funcs" -> ((s, d) => t(s, d, "lineitem")
      .where(col("l_orderkey") <= 500)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("l_linenumber"))).as("lines"))
      .select(
        col("l_orderkey"),
        size(col("lines")).cast("long").as("n_lines"),
        array_join(transform(col("lines"), _.cast("string")), ",").as("line_csv"),
        col("lines")(0).as("first_line"),
        element_at(col("lines"), -1).as("last_line"))
      .orderBy("l_orderkey")),

    // A2 post-agg derived ratios w/ zero->NULL denominators
    // (calculate_metrics.py:132-143).
    "a2_ratio" -> ((s, d) => t(s, d, "orders")
      .groupBy("o_orderpriority")
      .agg(
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total_price"),
        count(lit(1)).as("n_orders"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_finished"))
      .withColumn("avg_price", col("total_price") / col("n_orders"))
      .withColumn("price_per_finished",
        col("total_price") / Cleaning.zeroToNull(col("n_finished")))
      .orderBy("o_orderpriority")),

    // A3 SQL group-agg w/ CASE-without-ELSE conditional count
    // (build.py:99-107, v_penalties_by_state shape).
    "a3_conditional_agg" -> ((s, d) => t(s, d, "customer")
      .groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n_customers"),
        dsum2(col("c_acctbal")).as("total_bal"),
        sum(when(col("c_acctbal") > 0, 1)).as("n_positive"), // X9: no ELSE
        (dsum2(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
      .orderBy("c_nationkey")),

    // Correlated scalar subquery, run as the VERBATIM oracle SQL text
    // through Spark SQL (dialect parity; Catalyst decorrelates to a join).
    "q_correlated_subquery" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer")
      s.sql(correlatedSubquerySql)
    }),

    // Top-N per group through the verbatim shared SQL (CTE + window).
    "q_topn_per_group" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      s.sql(topnPerGroupSql)
    }),

    // A4 duplicate-key audit agg (build.py:39-53): the audit's group frame.
    "a4_dup_audit" -> ((s, d) => DataQuality.duplicateAudit(
      s, t(s, d, "events"), "events", Seq("user_id", "event_type"))._2
      .orderBy("user_id", "event_type")),

    // A5 per-column completeness profile (load_nursing_home_data.py:20-36).
    "a5_completeness" -> ((s, d) => {
      val ev = t(s, d, "events").select(
        col("event_id"), col("user_id"),
        nullif(col("event_type"), lit("click")).as("event_type_nc"),
        col("value"))
      DataQuality.completeness(ev, "events").orderBy("column_name")
    }),

    // A6 numeric-column means (streamlit_app.py:34-37), decimal-exact.
    "a6_numeric_means" -> ((s, d) => t(s, d, "lineitem")
      .agg(
        (sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double") /
          count(col("l_quantity"))).as("avg_quantity"),
        (sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double") /
          count(col("l_extendedprice"))).as("avg_extendedprice"),
        (sum(col("l_discount").cast(DecimalType(18, 2))).cast("double") /
          count(col("l_discount"))).as("avg_discount"),
        (sum(col("l_tax").cast(DecimalType(18, 2))).cast("double") /
          count(col("l_tax"))).as("avg_tax"))),

    // A7 grouped mean (metrics_dashboard.py:28-31).
    "a7_grouped_mean" -> ((s, d) => t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg((sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double") /
        count(col("l_quantity"))).as("avg_qty"))
      .orderBy("l_returnflag")),

    // Distinct aggregation (engine surface beyond the reference).
    "a9_count_distinct" -> ((s, d) => t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")),

    // Rollup w/ grouping id (subtotal hierarchy — engine surface).
    "a10_rollup" -> ((s, d) => t(s, d, "customer")
      .rollup("c_mktsegment", "c_nationkey")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        dsum2(col("c_acctbal")).as("total_bal"))
      .select("gid", "c_mktsegment", "c_nationkey", "n", "total_bal")
      .orderBy(col("gid"), col("c_mktsegment"), col("c_nationkey"))),

    // Exact percentiles (linear interpolation; same estimator both engines).
    "a11_percentiles" -> ((s, d) => t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_extendedprice, 0.9)").as("p90_price"),
        expr("percentile(l_discount, 0.25)").as("p25_disc"))
      .orderBy("l_returnflag")),

    // Argmax / conditional-aggregate battery. max_by keyed on a composite
    // (bal scaled + custkey) so ties cannot make the pick nondeterministic.
    "a13_argmax" -> ((s, d) => t(s, d, "customer")
      .groupBy("c_nationkey")
      .agg(
        expr("count_if(c_acctbal > 0)").cast("long").as("n_positive"),
        expr("bool_and(c_acctbal > -1000)").as("all_above_floor"),
        expr("bool_or(c_acctbal > 9000)").as("any_rich"),
        expr("max_by(c_name, c_acctbal * 1000000 + c_custkey)").as("richest"),
        expr("min_by(c_name, c_acctbal * 1000000 + c_custkey)").as("poorest"))
      .orderBy("c_nationkey")),

    // Variance / correlation from exact decimal moment sums: the built-in
    // accumulators are order-dependent in float, but moments over 2-dp
    // values are exact decimals, making the derived statistics
    // bit-deterministic cross-engine (both sides compute this formula).
    "a14_stats" -> ((s, d) => {
      val q = col("l_quantity").cast(DecimalType(18, 2))
      val p = col("l_extendedprice").cast(DecimalType(18, 2))
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(q).cast("double").as("sq"),
          sum(p).cast("double").as("sp"),
          sum(q * q).cast("double").as("sqq"),
          sum(p * p).cast("double").as("spp"),
          sum(q * p).cast("double").as("sqp"))
        .select(
          col("l_returnflag"),
          col("n"),
          // rounded: DECIMAL(38,4)->double conversion can differ by 1 ULP
          // between engines once sums pass 2^53; rounding 10 orders above
          // ULP noise keeps the hash stable without losing the statistic
          round((col("sqq") - col("sq") * col("sq") / col("n")) / (col("n") - 1), 6)
            .as("var_qty"),
          round((col("n") * col("sqp") - col("sq") * col("sp")) /
            sqrt((col("n") * col("sqq") - col("sq") * col("sq")) *
              (col("n") * col("spp") - col("sp") * col("sp"))), 9)
            .as("corr_qty_price"))
        .orderBy("l_returnflag")
    }),

    // Closed-form per-group OLS (y = a + b*x): slope/intercept/r2 from ONE
    // pass of exact decimal sufficient statistics (ops.Regression) — a
    // single partial+final hash aggregate, q1-shaped at any scale.
    "a18_regression" -> ((s, d) =>
      Regression.groupedOls(t(s, d, "lineitem"), Seq("l_returnflag"),
        xCol = "l_quantity", yCol = "l_extendedprice")
        .orderBy("l_returnflag")),

    // Cube w/ grouping id: the full subtotal lattice (complements a10's
    // rollup hierarchy). One Expand + one aggregate — a single shuffle
    // regardless of how many grouping sets the lattice expands to.
    "a16_cube" -> ((s, d) => t(s, d, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        dsum2(col("l_quantity")).as("sum_qty"))
      .select("gid", "l_returnflag", "l_linestatus", "n", "sum_qty")
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))),

    // Arbitrary GROUPING SETS (the general form cube/rollup specialize):
    // per-type totals, per-cohort totals and the grand total in ONE
    // Expand + aggregate pass — through the spark.sql surface, since
    // grouping sets are a SQL-level construct.
    "a19_grouping_sets" -> ((s, d) => {
      t(s, d, "events")
        .select(col("event_type"),
          (col("user_id") % 3).cast("long").as("cohort"))
        .createOrReplaceTempView("gs_events")
      s.sql(
        """SELECT grouping_id() AS gid, event_type, cohort,
          | count(1) AS n
          |FROM gs_events
          |GROUP BY GROUPING SETS ((event_type), (cohort), ())
          |ORDER BY gid, event_type, cohort""".stripMargin)
    }),

    // Unpivot (wide->long melt) — the inverse of a8's pivot. Compiles to a
    // map-side Expand (each input row fans out to 4 output rows, no join,
    // no shuffle before the final sort). Values are copied verbatim, so
    // the compare is bit-exact with no decimal staging.
    "a17_unpivot" -> ((s, d) => t(s, d, "lineitem")
      .where(col("l_orderkey") <= 500)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "metric", "value")
      .orderBy("l_orderkey", "l_linenumber", "metric")),

    // A8 pivot aggregation (metrics_dashboard.py:34-39), explicit values
    // for a deterministic single-pass plan (SURVEY §7.4.9).
    "a8_pivot" -> ((s, d) => a8Pivot(t(s, d, "events"), Nil)),

    // DYNAMIC pivot: spine columns discovered from the data (one bounded
    // distinct-collect — the two-pass shape every dynamic-pivot engine
    // uses; the collect is |distinct values|, never data-sized). Output is
    // identical to the explicit-values pivot, which is what the oracle
    // states.
    "a18_dynamic_pivot" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(date_trunc("day", Graft.nanosToTimestamp("ts")).cast("date")
          .cast("string").as("day"),
          col("event_type"), col("value").cast(DecimalType(28, 10)).as("dval"))
      val types = ev.select("event_type").distinct()
        .orderBy("event_type").collect().map(_.getString(0)).toSeq
      val piv = ev.groupBy("day").pivot("event_type", types).sum("dval")
      piv.select(col("day") +: types.map(ty => col(ty).cast("double").as(ty)): _*)
        .orderBy("day")
    }),

    // O1 sort on a non-key column (metrics_dashboard.py sort_index analogue).
    "o1_sort" -> ((s, d) => t(s, d, "nation")
      .select("n_nationkey", "n_name").orderBy("n_name")),

    // O2 top-k (limit) — compiles to TakeOrderedAndProject.
    "o2_topk" -> ((s, d) => t(s, d, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select("o_orderkey", "o_totalprice")
      .limit(10)),

    // U1 union-by-name w/ missing-column NULL fill (build.py:78 analogue).
    "u1_union" -> ((s, d) => {
      val c = t(s, d, "customer").where(col("c_nationkey") === 1)
        .select(lit("c").as("src"), col("c_custkey").as("id"),
          col("c_name").as("name"), col("c_acctbal").as("bal"))
      val sup = t(s, d, "supplier").where(col("s_nationkey") === 1)
        .select(lit("s").as("src"), col("s_suppkey").as("id"),
          col("s_name").as("name"))
      c.unionByName(sup, allowMissingColumns = true).orderBy("src", "id")
    }),

    // U2 set ops (engine surface; none in reference): customers in
    // BUILDING that also/never placed urgent orders.
    "u2_intersect_except" -> ((s, d) => {
      val building = t(s, d, "customer")
        .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val urgent = t(s, d, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey"))
      building.intersect(urgent).withColumn("src", lit("both"))
        .unionByName(building.except(urgent).withColumn("src", lit("building_only")))
        .orderBy("src", "c_custkey")
    }),

    // Scalar string-function battery (X6/X13 family breadth).
    "x6_string_funcs" -> ((s, d) => t(s, d, "part")
      .where(col("p_partkey") <= 2000)
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("u"),
        lower(col("p_type")).as("l"),
        length(col("p_name")).cast("long").as("len"),
        substring(col("p_name"), 1, 8).as("pre"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        lpad(col("p_brand"), 12, ".").as("padded"),
        col("p_type").like("%BRASS%").as("is_brass"))
      .orderBy("p_partkey")),

    // Scalar date-function battery (X5/X8 family breadth).
    "x8_date_funcs" -> ((s, d) => t(s, d, "orders")
      .where(col("o_orderkey") <= 2000)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        date_add(col("o_orderdate").cast("date"), 30).cast("string").as("plus30"),
        datediff(lit("2002-01-01").cast("date"),
          col("o_orderdate").cast("date")).cast("long").as("days_to_2002"))
      .orderBy("o_orderkey")),

    // X1 identifier normalization as data transform (build.py:7-8).
    "x1_norm_identifier" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        Norm.normIdentifierCol(
          concat(col("source"), lit(" ("), upper(col("lang")), lit(")")))
          .as("norm_name"))
      .orderBy("doc_id")),

    // X3 quarter normalization (calculate_metrics.py:28-36): regex
    // `(20\d{2}).*?(\d)`; no match -> NULL (1995-1999 dates exercise that).
    // X4/X5/X6 coercion battery: crafted good/bad strings (selected
    // deterministically per row from literal case tables) through
    // coerce-to-null numeric cast, flexible date parse, and trim-cast
    // (reference build.py:29-37 errors='coerce' semantics). Single-digit
    // date forms (e.g. 7/4/2021) are deliberately absent: Spark's strict
    // MM requires two digits while strptime's %m does not — a documented
    // parser divergence, not a coercion behavior.
    "x4_coerce" -> ((s, d) => {
      val numCases = Seq(" 42 ", "3.14", "-7.5", "1e3", "abc", "", "  ",
        "12abc", "0042", "+5")
      val dateCases = Seq("04/05/2021", "2021-03-04", "not-a-date",
        "13/01/2021", "12/31/1999", "02/29/2020", "02/30/2021", "")
      val strCases = Seq(" spaced ", "nospaces", "  double  ", "", " mixed Case ")
      def pick(cases: Seq[String]) = element_at(
        array(cases.map(lit): _*),
        (pmod(col("p_partkey"), lit(cases.size)) + 1).cast("int"))
      t(s, d, "part").where(col("p_partkey") <= 2000)
        .select(col("p_partkey").as("id"), pick(numCases).as("raw_num"),
          pick(dateCases).as("raw_date"), pick(strCases).as("raw_str"),
          col("p_size"))
        .select(
          col("id"),
          col("raw_num"), Cleaning.coerceNumeric(col("raw_num")).as("num"),
          col("raw_date"),
          // ISO string, not DATE (temporal canonicalization, SURVEY §7.4.7)
          Cleaning.coerceDate(col("raw_date")).cast("string").as("dt"),
          col("raw_str"), Cleaning.toTrimmedString(col("raw_str")).as("trimmed"),
          Cleaning.toTrimmedString(col("p_size")).as("size_str"))
        .orderBy("id")
    }),

    "x3_quarter_norm" -> ((s, d) => {
      val o = t(s, d, "orders").where(col("o_orderkey") <= 3000)
      val y = year(col("o_orderdate")).cast("string")
      val q = quarter(col("o_orderdate")).cast("string")
      val raw = when(pmod(col("o_orderkey"), lit(3)) === 0, concat(y, lit("Q"), q))
        .when(pmod(col("o_orderkey"), lit(3)) === 1,
          concat(lit("Quarter "), q, lit(" of "), y))
        .otherwise(concat(y, lit(" Q"), q))
      o.select(col("o_orderkey"), raw.as("raw_quarter"),
        Norm.normalizeQuarter(raw).as("norm_quarter"))
        .orderBy("o_orderkey")
    }),

    // JSON field extraction over the events props column.
    "x5_json_extract" -> ((s, d) => t(s, d, "events")
      .where(col("event_id") <= 2000)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy("event_id")),

    // Partitioned table layout: write partitioned by source, read back
    // with a partition filter — the scan must prune to ONE directory
    // (partition pruning is the file-level analogue of predicate
    // pushdown; plan-asserted in PlanShapeSpec).
    "s8_partitioned_scan" -> ((s, d) => {
      val tmp = scratch("part_scan", d) { out =>
        t(s, d, "documents").write.mode("overwrite")
          .partitionBy("source").parquet(out)
      }
      s.read.parquet(tmp)
        .where(col("source") === "src3")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // Winsorization: clip value at the per-type [p05, p95] band (the
    // standard outlier clamp before feature scaling). Cuts are a k-row
    // aggregate broadcast back; the clamp is map-side. Fences and clamp
    // run in integer NANOS: raw-double percentile interpolation drifted
    // 1 ULP between engines at sf1 (Spark `lower+(upper-lower)*frac` vs
    // DuckDB's blend — every row clamped at that fence surfaced the
    // differing constant), so the fence quantizes to a nano and the
    // arithmetic is exact on both sides.
    "f12_winsorize" -> ((s, d) => {
      val ev = t(s, d, "events")
        .where(col("value").isNotNull && col("event_id").isNotNull)
        .withColumn("vn", expr("CAST(round(value * 1e9) AS BIGINT)"))
      val cuts = ev.groupBy("event_type")
        .agg(expr("CAST(round(percentile(vn, 0.05)) AS BIGINT)").as("lo"),
          expr("CAST(round(percentile(vn, 0.95)) AS BIGINT)").as("hi"))
      ev.join(broadcast(cuts), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("value"),
          (least(greatest(col("vn"), col("lo")), col("hi")).cast("double")
            / 1e9).as("value_wins"))
        .orderBy("event_id")
    }),

    // Robust (median/IQR) scaling — the outlier-insensitive twin of
    // f10's z-score, on f12's ULP-stable integer-nano fences: quantiles
    // interpolate over exact BIGINT nanos (R-7 == quantile_cont) and
    // round back to BIGINT, so the scoring pass is ONE mirrored double
    // division of exact integers. Zero-IQR groups emit NULL. Same shape
    // as f10: tiny per-group cut table broadcast back, map-side scoring.
    "f14_robust_scale" -> ((s, d) => {
      val ev = t(s, d, "events")
        .where(col("value").isNotNull && col("event_id").isNotNull)
        .select(col("event_id"), col("event_type"), col("value"),
          expr("CAST(round(value * 1e9) AS BIGINT)").as("vn"))
      val cuts = ev.groupBy("event_type").agg(
        expr("CAST(round(percentile(vn, 0.5)) AS BIGINT)").as("med"),
        (expr("CAST(round(percentile(vn, 0.75)) AS BIGINT)") -
          expr("CAST(round(percentile(vn, 0.25)) AS BIGINT)")).as("iqr"))
      ev.join(broadcast(cuts), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("value"),
          when(col("iqr") =!= 0,
            (col("vn") - col("med")).cast("double") /
              col("iqr").cast("double")).as("robust_z"))
        .orderBy("event_id")
    }),

    // Deterministic mode per group (most frequent unit-snapped value,
    // smallest-value tie-break): two hash aggregates and one struct-min
    // argmax — no window, no sort, q1-shaped at any scale.
    "a22_mode" -> ((s, d) => {
      val cnt = t(s, d, "lineitem")
        .select(col("l_returnflag"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("q"))
        .groupBy("l_returnflag", "q").agg(count(lit(1)).as("cnt"))
      cnt.groupBy("l_returnflag")
        .agg(min(struct((-col("cnt")).as("nc"), col("q").as("v"))).as("m"),
          sum(col("cnt")).as("n_rows"))
        .select(col("l_returnflag"), col("m.v").as("mode_qty"),
          (-col("m.nc")).as("mode_n"), col("n_rows"))
        .orderBy("l_returnflag")
    }),

    // Per-group z-score normalization (feature standardization): exact
    // decimal moment sums broadcast back; the scoring pass is map-side.
    "f10_zscore" -> ((s, d) => {
      val q = col("l_quantity").cast(DecimalType(18, 2))
      val stats = t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(q).cast("double").as("sx"),
          sum(q * q).cast("double").as("sxx"))
      val nd = col("n").cast("double")
      val mean = col("sx") / nd
      val sd = sqrt((col("sxx") - col("sx") * col("sx") / nd) / (nd - 1.0))
      t(s, d, "lineitem").where(col("l_orderkey") <= 2000)
        .join(broadcast(stats), Seq("l_returnflag"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round((col("l_quantity") - mean) / sd, 9).as("z"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Order-independent table content checksum (replication / migration
    // verification): bit_xor of stable row hashes + row count per table.
    // XOR is commutative-associative, so any partitioning agrees; doubles
    // enter the digest as exact cents, never as formatted strings.
    "q_table_checksum" -> ((s, d) => {
      def ck(name: String, df: DataFrame, key: Column) =
        df.select(StableHash.hash60(key).as("h"))
          .agg(expr("bit_xor(h)").as("xor_sig"), count(lit(1)).as("n_rows"))
          .select(lit(name).as("table_name"), col("xor_sig"), col("n_rows"))
      ck("nation", t(s, d, "nation"),
        concat_ws("|", col("n_nationkey"), col("n_name"), col("n_regionkey")))
        .unionByName(ck("region", t(s, d, "region"),
          concat_ws("|", col("r_regionkey"), col("r_name"))))
        .unionByName(ck("supplier", t(s, d, "supplier"),
          concat_ws("|", col("s_suppkey"), col("s_name"), col("s_nationkey"),
            cents(col("s_acctbal")))))
        .orderBy("table_name")
    }),

    // Exact weighted median per group: sort by value, running weight
    // cumsum over a deterministic total order, first row where
    // 2·cumsum >= total weight — the lower weighted median, a pure
    // integer rule over quantity-unit weights and price cents (no
    // interpolation, no float comparison anywhere).
    "a21_weighted_median" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val li = t(s, d, "lineitem")
        .where(col("l_extendedprice").isNotNull && col("l_quantity").isNotNull)
        .select(col("l_returnflag"),
          cents(col("l_extendedprice")).as("pc"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("wu"),
          col("l_orderkey"), col("l_linenumber"))
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("pc"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = li.groupBy("l_returnflag")
        .agg(sum("wu").as("tw"), count(lit(1)).as("n_rows"))
      li.withColumn("cw", sum(col("wu")).over(w))
        .join(broadcast(tot), Seq("l_returnflag"))
        .where(col("cw") * 2 >= col("tw"))
        .groupBy("l_returnflag")
        .agg(max("tw").as("total_weight"), max("n_rows").as("n_rows"),
          min(struct(col("cw").as("c"), col("pc").as("p"))).as("m"))
        .select(col("l_returnflag"), col("n_rows"), col("total_weight"),
          col("m.p").as("wmedian_cents"))
        .orderBy("l_returnflag")
    }),

    // Trimmed mean per group: keep values inside the group's [p5, p95]
    // (R-7 percentile == DuckDB quantile_cont, the f9 discipline), then
    // an exact integer-cents mean over the kept rows — the robust
    // central-tendency report that ignores tail garbage.
    "a20_trimmed_mean" -> ((s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_orderpriority"), col("o_totalprice"))
      val qs = o.groupBy("o_orderpriority")
        .agg(expr("percentile(o_totalprice, 0.05)").as("p05"),
          expr("percentile(o_totalprice, 0.95)").as("p95"))
      o.join(broadcast(qs), Seq("o_orderpriority"))
        .where(col("o_totalprice") >= col("p05") &&
          col("o_totalprice") <= col("p95"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_kept"),
          expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) DIV count(1)")
            .as("trimmed_mean_cents"))
        .orderBy("o_orderpriority")
    }),

    // Per-group min-max normalization to exact [0, 1e9] nano units:
    // group extremes from one aggregate broadcast back, scaled =
    // (v − min)·1e9 DIV (max − min), NULL for constant groups — the
    // feature-scaling prep step, integer end to end.
    "f13_minmax_scale" -> ((s, d) => {
      // cents, not nanos: (v - vmin) * 1e9 must stay inside BIGINT
      val ev = t(s, d, "events")
        .where(col("value").isNotNull && col("event_type").isNotNull &&
          col("event_id").isNotNull)
        .select(col("event_type"), col("event_id"), cents(col("value")).as("v"))
      val ext = ev.groupBy("event_type")
        .agg(min("v").as("vmin"), max("v").as("vmax"))
      ev.join(broadcast(ext), Seq("event_type"))
        .select(col("event_type"), col("event_id"),
          when(col("vmax") > col("vmin"),
            expr("(v - vmin) * 1000000000L DIV (vmax - vmin)"))
            .as("scaled_nano"))
        .orderBy("event_type", "event_id")
    }),

    // 2-D skyline (Pareto frontier, minimize both): parts not dominated
    // on (p_size, price-cents). Scale form: ONE hash aggregate folds the
    // table to per-size minima (map-side partials), the prefix-min window
    // runs over that |distinct sz| frame only (never the full table — an
    // unpartitioned RANGE window over the data would funnel everything
    // through one task), and the frontier broadcasts back for a map-side
    // membership filter. No quadratic dominance join (the oracle replays
    // it as NOT EXISTS). Equal pairs don't dominate (strict-in-one rule);
    // exact integers.
    "q_skyline" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val p = t(s, d, "part")
        .where(col("p_size").isNotNull && col("p_retailprice").isNotNull)
        .select(col("p_partkey"), col("p_size").cast("long").as("sz"),
          cents(col("p_retailprice")).as("pc"))
      val mins = p.groupBy("sz").agg(min(col("pc")).as("m_eq"))
      val wLt = Window.orderBy(col("sz"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val frontier = mins.withColumn("m_lt", min(col("m_eq")).over(wLt))
      p.join(broadcast(frontier), Seq("sz"))
        .where((col("m_lt").isNull || col("m_lt") > col("pc")) &&
          col("m_eq") === col("pc"))
        .select(col("p_partkey"), col("sz").as("p_size"),
          col("pc").as("price_cents"))
        .orderBy("p_size", "price_cents", "p_partkey")
    }),

    // IQR outlier filter (Tukey-fence shape, k=0.5 because the synthetic
    // totalprice distribution is short-tailed — k=1.5 selects nothing):
    // quartiles via one aggregate, broadcast back, map-side filter. Spark
    // `percentile` and DuckDB `quantile_cont` share R-7 interpolation, and
    // the fence arithmetic is the same double expression tree on both
    // engines, so the selected row set matches exactly.
    "f9_iqr_outliers" -> ((s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      val qs = o.groupBy("o_orderpriority")
        .agg(expr("percentile(o_totalprice, 0.25)").as("q1"),
          expr("percentile(o_totalprice, 0.75)").as("q3"))
      o.join(broadcast(qs), Seq("o_orderpriority"))
        .where(col("o_totalprice") < col("q1") - (col("q3") - col("q1")) * 0.5 ||
          col("o_totalprice") > col("q3") + (col("q3") - col("q1")) * 0.5)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "o_orderkey")
    }),

    // Quantile binning (feature discretization): per-event-type quartile
    // boundaries (interpolated, R-7 — identical in both engines), each
    // event assigned its quartile bin, counts per (type, bin).
    "f11_quantile_bins" -> ((s, d) => {
      val ev = t(s, d, "events").where(col("value").isNotNull)
      val q = ev.groupBy("event_type").agg(
        expr("percentile(value, 0.25)").as("q1"),
        expr("percentile(value, 0.5)").as("q2"),
        expr("percentile(value, 0.75)").as("q3"))
      ev.join(broadcast(q), "event_type")
        .withColumn("bin",
          when(col("value") <= col("q1"), 1L)
            .when(col("value") <= col("q2"), 2L)
            .when(col("value") <= col("q3"), 3L)
            .otherwise(4L))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bin")
    }),

    // S5 catalog scan: register views, list user tables filtered by the
    // engine-prefix pattern (F8). The expected listing is a fixed constant,
    // so even the catalog query gets an exact oracle.
    "s5_catalog" -> ((s, d) => {
      import s.implicits._
      Graft.tune(s)
      Seq("region", "nation", "customer").foreach { n =>
        t(s, d, n).createOrReplaceTempView(s"graft_$n")
      }
      graft.service.MetricsService.listTables(s)
        .filter(_.startsWith("graft_")).toDF("table_name")
        .orderBy("table_name")
    }),

    // S2 bulk per-file loader (reference load_nursing_home_data.py:50-53):
    // three provider-style CSV files staged in one directory, one table
    // per file via CsvIngest.loadDirectory (filename -> normalized table
    // name, X2). Reported as the loader's catalog audit — (table, rows,
    // cols) — which the parquet sources oracle exactly because the CSV
    // round-trip preserves both counts. The per-table count() loop is the
    // loader's own contract (one job per registered file, bounded by file
    // count — catalog work, not a data path).
    "s2_dir_scan" -> ((s, d) => {
      import s.implicits._
      Graft.tune(s)
      val tmp = scratch("dir_scan", d) { out =>
        Seq("region", "nation", "supplier").foreach { n =>
          val stage = new java.io.File(out, s"__stage_$n")
          t(s, d, n).coalesce(1).write.mode("overwrite")
            .option("header", "true").csv(stage.getAbsolutePath)
          val part = stage.listFiles().find(_.getName.endsWith(".csv")).get
          java.nio.file.Files.move(part.toPath,
            new java.io.File(out, s"NH_${n.capitalize}_Oct2024.csv").toPath)
        }
      }
      graft.ingest.CsvIngest.loadDirectory(s, tmp).toSeq
        .map { case (name, df) => (name, df.count(), df.columns.length.toLong) }
        .toDF("table_name", "n_rows", "n_cols")
        .orderBy("table_name")
    })
  )

  protected def relationalOracles: Map[String, String] = Map(

    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         | CAST(SUM(${centsSql("l_quantity")}) AS DOUBLE) / 100 AS sum_qty,
         | CAST(SUM(${centsSql("l_extendedprice")}) AS DOUBLE) / 100 AS sum_base_price,
         | $revSql AS sum_disc_price,
         | CAST(SUM(${centsSql("l_quantity")}) AS DOUBLE) / 100 / COUNT(*) AS avg_qty,
         | COUNT(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "o3_zorder" -> {
      def zSql(a: String, b: String, bits: Int): String =
        (0 until bits).flatMap(i => Seq(
          s"(((CAST($a AS BIGINT) >> $i) & 1) << ${2 * i})",
          s"(((CAST($b AS BIGINT) >> $i) & 1) << ${2 * i + 1})"))
          .mkString("(", " | ", ")")
      s"""SELECT p_partkey, p_size, ${zSql("p_size", "p_partkey", 16)} AS z
         |FROM part ORDER BY z ASC, p_partkey ASC LIMIT 200""".stripMargin
    },

    "a15_salted_agg" ->
      s"""SELECT l_returnflag,
         | CAST(SUM(${centsSql("l_quantity")}) AS DOUBLE) / 100 AS sum_qty,
         | COUNT(*) AS n_rows
         |FROM lineitem GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,

    "s2_json_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
        |ORDER BY s_suppkey""".stripMargin,

    "s3_orc_roundtrip" ->
      "SELECT * FROM part ORDER BY p_partkey",

    "s4_scan" -> "SELECT * FROM region ORDER BY r_regionkey",

    "s5_catalog" ->
      """SELECT * FROM (VALUES ('graft_customer'), ('graft_nation'),
        | ('graft_region')) t(table_name)
        |ORDER BY table_name""".stripMargin,

    // The CSV round-trip preserves row and column counts, so the parquet
    // sources oracle the loader's catalog audit; table names are the X2
    // normalization of the fixed staged filenames.
    "s2_dir_scan" ->
      """SELECT * FROM (
        | SELECT 'nh_region_oct2024' AS table_name,
        |  (SELECT COUNT(*) FROM region) AS n_rows, CAST(2 AS BIGINT) AS n_cols
        | UNION ALL SELECT 'nh_nation_oct2024',
        |  (SELECT COUNT(*) FROM nation), 3
        | UNION ALL SELECT 'nh_supplier_oct2024',
        |  (SELECT COUNT(*) FROM supplier), 4)
        |ORDER BY table_name""".stripMargin,

    "s6_filtered_scan" ->
      """SELECT n_nationkey, n_name FROM nation
        |WHERE n_regionkey = 2 ORDER BY n_nationkey""".stripMargin,

    "p2_project_cast" ->
      """SELECT o_orderkey AS order_id, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
        | COALESCE(o_totalprice, 0.0) AS total_price, o_orderpriority AS priority
        |FROM orders WHERE o_orderkey <= 3000 ORDER BY order_id""".stripMargin,

    "p3_horizontal_sum" ->
      """SELECT l_orderkey, l_linenumber,
        | COALESCE(l_quantity, 0.0) + COALESCE(l_discount, 0.0) + COALESCE(l_tax, 0.0) AS h_sum
        |FROM lineitem WHERE l_orderkey <= 2000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "f2_null_drop" ->
      """SELECT l_orderkey, l_linenumber,
        | NULLIF(l_discount, 0.0) AS disc_nz, NULLIF(l_tax, 0.0) AS tax_nz
        |FROM lineitem
        |WHERE l_orderkey <= 3000
        | AND NULLIF(l_discount, 0.0) IS NOT NULL AND NULLIF(l_tax, 0.0) IS NOT NULL
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "f3_zero_sentinel" ->
      """SELECT l_orderkey, l_linenumber,
        | CASE WHEN l_quantity = 0 OR l_discount = 0 OR l_tax = 0 THEN NULL ELSE l_quantity END AS l_quantity,
        | CASE WHEN l_quantity = 0 OR l_discount = 0 OR l_tax = 0 THEN NULL ELSE l_discount END AS l_discount,
        | CASE WHEN l_quantity = 0 OR l_discount = 0 OR l_tax = 0 THEN NULL ELSE l_tax END AS l_tax
        |FROM lineitem WHERE l_orderkey <= 2000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "f4_in_filter" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND c_nationkey IN (1, 3, 5)
        |ORDER BY c_custkey""".stripMargin,

    "f6_distinct" ->
      """SELECT DISTINCT c_mktsegment FROM customer
        |WHERE c_mktsegment IS NOT NULL ORDER BY c_mktsegment""".stripMargin,

    "j1_multiway_join" ->
      s"""SELECT r_name, n_name, COUNT(*) AS n_items, $revSql AS revenue
         |FROM lineitem
         | JOIN orders   ON l_orderkey = o_orderkey
         | JOIN customer ON o_custkey = c_custkey
         | JOIN nation   ON c_nationkey = n_nationkey
         | JOIN region   ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "j1_fold_join" ->
      """SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS val,
        | b.n_items, b.val_f1
        |FROM orders
        |JOIN (SELECT l_orderkey AS k, COUNT(*) AS n_items,
        |        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS val_f1
        |      FROM lineitem GROUP BY l_orderkey) b
        | ON o_orderkey = b.k
        |ORDER BY k""".stripMargin,

    "j2_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,

    "j3_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "j4_asof_join" ->
      """WITH v AS (
        | SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
        | WHERE event_type = 'view' AND user_id <= 300),
        |p AS (
        | SELECT user_id, epoch_us(ts) AS ts_us, MAX(value) AS pval FROM events
        | WHERE event_type = 'purchase' AND user_id <= 300 GROUP BY 1, 2)
        |SELECT v.user_id, v.ts_us, v.event_id, p.pval AS asof_pval
        |FROM v ASOF LEFT JOIN p
        |  ON v.user_id = p.user_id AND v.ts_us >= p.ts_us
        |ORDER BY v.user_id, v.ts_us, v.event_id""".stripMargin,

    "j5_range_join" ->
      """WITH v AS (
        | SELECT user_id, epoch_us(ts) AS ts_us, event_id AS view_id FROM events
        | WHERE event_type = 'view' AND user_id <= 300),
        |w AS (
        | SELECT user_id, epoch_us(ts) AS start_us,
        |  epoch_us(ts) + 3600000000 AS end_us, event_id AS purchase_id
        | FROM events WHERE event_type = 'purchase' AND user_id <= 300)
        |SELECT v.user_id, v.view_id, w.purchase_id, v.ts_us, w.start_us
        |FROM v JOIN w ON v.user_id = w.user_id
        | AND v.ts_us >= w.start_us AND v.ts_us <= w.end_us
        |ORDER BY v.user_id, v.view_id, w.purchase_id""".stripMargin,

    // The us/id carries are consistent (both CASEs null on exactly the
    // same rows, so IGNORE NULLS lands on one source row — the struct
    // the engine carries).
    "j8_nearest_join" ->
      """WITH ev AS (
        | SELECT user_id, event_id, epoch_us(ts) AS us, event_type
        | FROM events
        | WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |  AND user_id IS NOT NULL
        |  AND event_type IN ('click', 'purchase')),
        |g AS (
        | SELECT user_id, event_id, us, event_type,
        |  last_value(CASE WHEN event_type = 'click' THEN us END
        |    IGNORE NULLS) OVER wp AS prev_us,
        |  last_value(CASE WHEN event_type = 'click' THEN event_id END
        |    IGNORE NULLS) OVER wp AS prev_id,
        |  first_value(CASE WHEN event_type = 'click' THEN us END
        |    IGNORE NULLS) OVER wn AS next_us,
        |  first_value(CASE WHEN event_type = 'click' THEN event_id END
        |    IGNORE NULLS) OVER wn AS next_id
        | FROM ev
        | WINDOW wp AS (PARTITION BY user_id ORDER BY us, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wn AS (PARTITION BY user_id ORDER BY us, event_id
        |   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_id AS p_id, user_id, us AS p_us,
        | CASE WHEN next_us IS NULL THEN prev_id
        |      WHEN prev_us IS NULL THEN next_id
        |      WHEN us - prev_us <= next_us - us THEN prev_id
        |      ELSE next_id END AS c_id,
        | CASE WHEN next_us IS NULL THEN prev_us
        |      WHEN prev_us IS NULL THEN next_us
        |      WHEN us - prev_us <= next_us - us THEN prev_us
        |      ELSE next_us END - us AS gap_us
        |FROM g WHERE event_type = 'purchase'
        |ORDER BY p_id""".stripMargin,

    "j7_interval_overlap" ->
      """WITH p AS (
        | SELECT user_id, epoch_us(ts) AS p_start,
        |  epoch_us(ts) + 3600000000 AS p_end, event_id AS purchase_id
        | FROM events WHERE event_type = 'purchase' AND user_id <= 300),
        |v AS (
        | SELECT user_id, epoch_us(ts) AS v_start,
        |  epoch_us(ts) + 1800000000 AS v_end, event_id AS view_id
        | FROM events WHERE event_type = 'view' AND user_id <= 300)
        |SELECT p.user_id, p.purchase_id, v.view_id,
        | least(p.p_end, v.v_end) - greatest(p.p_start, v.v_start)
        |   AS overlap_us
        |FROM p JOIN v ON v.user_id = p.user_id
        | AND p.p_start <= v.v_end AND v.v_start <= p.p_end
        |ORDER BY p.user_id, p.purchase_id, v.view_id""".stripMargin,

    "j6_null_safe_join" ->
      """WITH n AS (
        | SELECT n_nationkey, NULLIF(n_regionkey, 2) AS rk FROM nation)
        |SELECT a.n_nationkey AS k_a, b.n_nationkey AS k_b, a.rk
        |FROM n a JOIN n b ON a.rk IS NOT DISTINCT FROM b.rk
        |ORDER BY k_a, k_b""".stripMargin,

    "x7_array_funcs" ->
      """SELECT l_orderkey,
        | CAST(len(ls) AS BIGINT) AS n_lines,
        | array_to_string(list_transform(ls, x -> CAST(x AS VARCHAR)), ',') AS line_csv,
        | ls[1] AS first_line,
        | ls[-1] AS last_line
        |FROM (
        | SELECT l_orderkey, list_sort(list(l_linenumber)) AS ls
        | FROM lineitem WHERE l_orderkey <= 500 GROUP BY l_orderkey)
        |ORDER BY l_orderkey""".stripMargin,

    "a2_ratio" ->
      """SELECT o_orderpriority,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        | COUNT(*) AS n_orders,
        | CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   / NULLIF(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END), 0) AS price_per_finished
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "a3_conditional_agg" ->
      """SELECT c_nationkey,
        | COUNT(*) AS n_customers,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
        | CAST(SUM(CASE WHEN c_acctbal > 0 THEN 1 END) AS BIGINT) AS n_positive,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q_correlated_subquery" -> correlatedSubquerySql,
    "q_topn_per_group" -> topnPerGroupSql,
    "a4_dup_audit" ->
      """SELECT user_id, event_type, COUNT(*) AS n FROM events
        |GROUP BY user_id, event_type HAVING COUNT(*) > 1
        |ORDER BY user_id, event_type""".stripMargin,

    "a5_completeness" -> {
      val cols = Seq("event_id", "user_id", "event_type_nc", "value")
      cols.map { c =>
        s"""SELECT 'events' AS table_name, '$c' AS column_name,
           | COUNT(*) AS row_count, COUNT($c) AS non_null_count,
           | CASE WHEN COUNT(*) = 0 THEN 0.0
           |      ELSE CAST((COUNT($c) * 10000 + COUNT(*) // 2) // COUNT(*) AS DOUBLE) / 100
           | END AS pct_not_null
           |FROM (SELECT event_id, user_id,
           |        NULLIF(event_type, 'click') AS event_type_nc, value
           |      FROM events)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },

    "a6_numeric_means" ->
      """SELECT
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_quantity,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_extendedprice,
        | CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_discount,
        | CAST(SUM(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_tax) AS avg_tax
        |FROM lineitem""".stripMargin,

    "a7_grouped_mean" ->
      """SELECT l_returnflag,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "a9_count_distinct" ->
      """SELECT l_returnflag,
        | COUNT(DISTINCT l_suppkey) AS n_supp,
        | COUNT(DISTINCT l_partkey) AS n_part,
        | COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "a10_rollup" ->
      """SELECT GROUPING(c_mktsegment) * 2 + GROUPING(c_nationkey) AS gid,
        | c_mktsegment, c_nationkey, COUNT(*) AS n,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer GROUP BY ROLLUP(c_mktsegment, c_nationkey)
        |ORDER BY gid, c_mktsegment, c_nationkey""".stripMargin,

    "a11_percentiles" ->
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.5) AS median_qty,
        | quantile_cont(l_extendedprice, 0.9) AS p90_price,
        | quantile_cont(l_discount, 0.25) AS p25_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "a13_argmax" ->
      """SELECT c_nationkey,
        | CAST(count_if(c_acctbal > 0) AS BIGINT) AS n_positive,
        | bool_and(c_acctbal > -1000) AS all_above_floor,
        | bool_or(c_acctbal > 9000) AS any_rich,
        | max_by(c_name, c_acctbal * 1000000 + c_custkey) AS richest,
        | min_by(c_name, c_acctbal * 1000000 + c_custkey) AS poorest
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "a14_stats" ->
      """WITH m AS (
        | SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sp,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sqq,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS spp,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sqp
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        | ROUND((sqq - sq * sq / n) / (n - 1), 6) AS var_qty,
        | ROUND((n * sqp - sq * sp) /
        |  sqrt((n * sqq - sq * sq) * (n * spp - sp * sp)), 9) AS corr_qty_price
        |FROM m ORDER BY l_returnflag""".stripMargin,

    "a18_regression" ->
      """WITH m AS (
        | SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        | FROM lineitem GROUP BY l_returnflag),
        |f AS (
        | SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd, sx, sy, sxx, sxy, syy,
        |  CAST(n AS DOUBLE) * sxy - sx * sy AS covn,
        |  CAST(n AS DOUBLE) * sxx - sx * sx AS varxn,
        |  CAST(n AS DOUBLE) * syy - sy * sy AS varyn
        | FROM m)
        |SELECT l_returnflag, n,
        | ROUND(covn / NULLIF(varxn, 0.0), 9) AS slope,
        | ROUND((sy - (covn / NULLIF(varxn, 0.0)) * sx) / nd, 9) AS intercept,
        | ROUND(covn * covn / NULLIF(varxn * varyn, 0.0), 9) AS r2
        |FROM f ORDER BY l_returnflag""".stripMargin,

    "a16_cube" ->
      """SELECT GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
        | l_returnflag, l_linestatus, COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,

    "a19_grouping_sets" ->
      """WITH b AS (
        | SELECT event_type, CAST(user_id % 3 AS BIGINT) AS cohort
        | FROM events)
        |SELECT GROUPING(event_type) * 2 + GROUPING(cohort) AS gid,
        | event_type, cohort, COUNT(*) AS n
        |FROM b GROUP BY GROUPING SETS ((event_type), (cohort), ())
        |ORDER BY gid, event_type, cohort""".stripMargin,

    "a17_unpivot" ->
      """WITH src AS (SELECT * FROM lineitem WHERE l_orderkey <= 500)
        |SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM src
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM src
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM src
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

    // The dynamic pivot discovers the same spine from the data, so its
    // oracle is the explicit-values statement.
    "a18_dynamic_pivot" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cases = types.map(ty =>
        s"CAST(SUM(CASE WHEN event_type = '$ty' THEN CAST(value AS DECIMAL(28,10)) END) AS DOUBLE) AS $ty")
        .mkString(",\n ")
      s"""SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
         | $cases
         |FROM events GROUP BY 1 ORDER BY day""".stripMargin
    },

    "a8_pivot" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cases = types.map(ty =>
        s"CAST(SUM(CASE WHEN event_type = '$ty' THEN CAST(value AS DECIMAL(28,10)) END) AS DOUBLE) AS $ty")
        .mkString(",\n ")
      s"""SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
         | $cases
         |FROM events GROUP BY 1 ORDER BY day""".stripMargin
    },

    "o1_sort" -> "SELECT n_nationkey, n_name FROM nation ORDER BY n_name",

    "o2_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "u1_union" ->
      """SELECT * FROM (
        | SELECT 'c' AS src, c_custkey AS id, c_name AS name, c_acctbal AS bal
        | FROM customer WHERE c_nationkey = 1
        | UNION ALL
        | SELECT 's' AS src, s_suppkey AS id, s_name AS name, NULL AS bal
        | FROM supplier WHERE s_nationkey = 1)
        |ORDER BY src, id""".stripMargin,

    "u2_intersect_except" ->
      """WITH b AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        | u AS (SELECT o_custkey AS c_custkey FROM orders
        |       WHERE o_orderpriority = '1-URGENT')
        |SELECT * FROM (
        | SELECT c_custkey, 'both' AS src FROM (SELECT * FROM b INTERSECT SELECT * FROM u)
        | UNION ALL
        | SELECT c_custkey, 'building_only' AS src FROM (SELECT * FROM b EXCEPT SELECT * FROM u))
        |ORDER BY src, c_custkey""".stripMargin,

    "x6_string_funcs" ->
      """SELECT p_partkey,
        | upper(p_brand) AS u, lower(p_type) AS l,
        | length(p_name) AS len, substr(p_name, 1, 8) AS pre,
        | regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
        | lpad(p_brand, 12, '.') AS padded,
        | (p_type LIKE '%BRASS%') AS is_brass
        |FROM part WHERE p_partkey <= 2000 ORDER BY p_partkey""".stripMargin,

    "x8_date_funcs" ->
      """SELECT o_orderkey,
        | year(o_orderdate) AS y, quarter(o_orderdate) AS q,
        | month(o_orderdate) AS m, day(o_orderdate) AS dom,
        | CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS plus30,
        | date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002
        |FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin,

    "x1_norm_identifier" ->
      """SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(
        |   regexp_replace(lower(source || ' (' || upper(lang) || ')'),
        |     '[^0-9a-z]+', '_', 'g'),
        |   '_+', '_', 'g'), '^_', ''), '_$', '') AS norm_name
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x4_coerce" ->
      """WITH base AS (
        | SELECT p_partkey AS id,
        |  list_extract([' 42 ','3.14','-7.5','1e3','abc','','  ','12abc','0042','+5'],
        |   CAST(p_partkey % 10 AS INT) + 1) AS raw_num,
        |  list_extract(['04/05/2021','2021-03-04','not-a-date','13/01/2021',
        |   '12/31/1999','02/29/2020','02/30/2021',''],
        |   CAST(p_partkey % 8 AS INT) + 1) AS raw_date,
        |  list_extract([' spaced ','nospaces','  double  ','',' mixed Case '],
        |   CAST(p_partkey % 5 AS INT) + 1) AS raw_str,
        |  p_size
        | FROM part WHERE p_partkey <= 2000)
        |SELECT id,
        | raw_num, TRY_CAST(raw_num AS DOUBLE) AS num,
        | raw_date,
        | CAST(COALESCE(CAST(try_strptime(raw_date, '%m/%d/%Y') AS DATE),
        |               TRY_CAST(raw_date AS DATE)) AS VARCHAR) AS dt,
        | raw_str, trim(raw_str) AS trimmed,
        | trim(CAST(p_size AS VARCHAR)) AS size_str
        |FROM base ORDER BY id""".stripMargin,

    "x3_quarter_norm" ->
      """WITH raws AS (
        | SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 3 = 0
        |       THEN CAST(year(o_orderdate) AS VARCHAR) || 'Q' || CAST(quarter(o_orderdate) AS VARCHAR)
        |       WHEN o_orderkey % 3 = 1
        |       THEN 'Quarter ' || CAST(quarter(o_orderdate) AS VARCHAR) || ' of ' || CAST(year(o_orderdate) AS VARCHAR)
        |       ELSE CAST(year(o_orderdate) AS VARCHAR) || ' Q' || CAST(quarter(o_orderdate) AS VARCHAR)
        |  END AS raw_quarter
        | FROM orders WHERE o_orderkey <= 3000)
        |SELECT o_orderkey, raw_quarter,
        | CASE WHEN regexp_extract(raw_quarter, '(20\d{2}).*?(\d)', 1) = ''
        |        OR regexp_extract(raw_quarter, '(20\d{2}).*?(\d)', 2) = ''
        |      THEN NULL
        |      ELSE regexp_extract(raw_quarter, '(20\d{2}).*?(\d)', 1) || '-Q'
        |           || regexp_extract(raw_quarter, '(20\d{2}).*?(\d)', 2)
        | END AS norm_quarter
        |FROM raws ORDER BY o_orderkey""".stripMargin,

    "x5_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events WHERE event_id <= 2000 ORDER BY event_id""".stripMargin,

    "f9_iqr_outliers" ->
      """WITH qs AS (
        | SELECT o_orderpriority,
        |  quantile_cont(o_totalprice, 0.25) AS q1,
        |  quantile_cont(o_totalprice, 0.75) AS q3
        | FROM orders GROUP BY 1)
        |SELECT o.o_orderpriority, o.o_orderkey, o.o_totalprice
        |FROM orders o JOIN qs USING (o_orderpriority)
        |WHERE o.o_totalprice < qs.q1 - (qs.q3 - qs.q1) * 0.5
        |   OR o.o_totalprice > qs.q3 + (qs.q3 - qs.q1) * 0.5
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    "s7_schema_evolution" ->
      """SELECT o_orderkey, o_custkey,
        | CASE WHEN o_orderkey <= 1000 THEN NULL ELSE o_totalprice END AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "f12_winsorize" ->
      """WITH ev AS (
        | SELECT event_id, event_type, value,
        |  CAST(round(value * 1e9) AS BIGINT) AS vn FROM events
        | WHERE value IS NOT NULL AND event_id IS NOT NULL),
        |cuts AS (
        | SELECT event_type,
        |  CAST(round(quantile_cont(vn, 0.05)) AS BIGINT) AS lo,
        |  CAST(round(quantile_cont(vn, 0.95)) AS BIGINT) AS hi
        | FROM ev GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        | CAST(LEAST(GREATEST(e.vn, c.lo), c.hi) AS DOUBLE) / 1e9 AS value_wins
        |FROM ev e JOIN cuts c USING (event_type)
        |ORDER BY event_id""".stripMargin,

    "f14_robust_scale" ->
      """WITH ev AS (
        | SELECT event_id, event_type, value,
        |  CAST(round(value * 1e9) AS BIGINT) AS vn FROM events
        | WHERE value IS NOT NULL AND event_id IS NOT NULL),
        |cuts AS (
        | SELECT event_type,
        |  CAST(round(quantile_cont(vn, 0.5)) AS BIGINT) AS med,
        |  CAST(round(quantile_cont(vn, 0.75)) AS BIGINT) -
        |  CAST(round(quantile_cont(vn, 0.25)) AS BIGINT) AS iqr
        | FROM ev GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        | CASE WHEN c.iqr <> 0 THEN
        |  CAST(e.vn - c.med AS DOUBLE) / CAST(c.iqr AS DOUBLE) END AS robust_z
        |FROM ev e JOIN cuts c USING (event_type)
        |ORDER BY event_id""".stripMargin,

    "a22_mode" ->
      """WITH c AS (
        | SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS q,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        | FROM lineitem GROUP BY 1, 2),
        |r AS (
        | SELECT l_returnflag, q, cnt,
        |  row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY cnt DESC, q ASC) AS rn,
        |  SUM(cnt) OVER (PARTITION BY l_returnflag) AS nr
        | FROM c)
        |SELECT l_returnflag, q AS mode_qty, cnt AS mode_n,
        | CAST(nr AS BIGINT) AS n_rows
        |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,

    "f10_zscore" ->
      """WITH st AS (
        | SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
        | ROUND((l.l_quantity - sx / CAST(n AS DOUBLE)) /
        |  sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)), 9) AS z
        |FROM lineitem l JOIN st USING (l_returnflag)
        |WHERE l.l_orderkey <= 2000
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin,

    "q_table_checksum" -> {
      def ckSql(name: String, table: String, key: String) =
        s"""SELECT '$name' AS table_name,
           | bit_xor(${hash60Sql(key)}) AS xor_sig,
           | CAST(COUNT(*) AS BIGINT) AS n_rows FROM $table"""
      s"""${ckSql("nation", "nation",
        "concat_ws('|', n_nationkey, n_name, n_regionkey)")}
         |UNION ALL
         |${ckSql("region", "region", "concat_ws('|', r_regionkey, r_name)")}
         |UNION ALL
         |${ckSql("supplier", "supplier",
        "concat_ws('|', s_suppkey, s_name, s_nationkey, CAST(round(s_acctbal * 100) AS BIGINT))")}
         |ORDER BY table_name""".stripMargin
    },

    "s8_partitioned_scan" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE source = 'src3' ORDER BY doc_id""".stripMargin,

    "f11_quantile_bins" ->
      """WITH ev AS (
        | SELECT event_type, value FROM events WHERE value IS NOT NULL),
        |q AS (
        | SELECT event_type,
        |  quantile_cont(value, 0.25) AS q1,
        |  quantile_cont(value, 0.5) AS q2,
        |  quantile_cont(value, 0.75) AS q3
        | FROM ev GROUP BY 1)
        |SELECT ev.event_type,
        | CAST(CASE WHEN value <= q1 THEN 1 WHEN value <= q2 THEN 2
        |  WHEN value <= q3 THEN 3 ELSE 4 END AS BIGINT) AS bin,
        | CAST(COUNT(*) AS BIGINT) AS n
        |FROM ev JOIN q USING (event_type)
        |GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin,

    "f13_minmax_scale" ->
      """WITH ev AS (
        | SELECT event_type, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS v
        | FROM events
        | WHERE value IS NOT NULL AND event_type IS NOT NULL
        |   AND event_id IS NOT NULL),
        |ext AS (
        | SELECT event_type, CAST(MIN(v) AS BIGINT) AS vmin,
        |  CAST(MAX(v) AS BIGINT) AS vmax
        | FROM ev GROUP BY 1)
        |SELECT e.event_type, e.event_id,
        | CASE WHEN x.vmax > x.vmin
        |  THEN CAST((e.v - x.vmin) * 1000000000 // (x.vmax - x.vmin)
        |       AS BIGINT) END AS scaled_nano
        |FROM ev e JOIN ext x USING (event_type)
        |ORDER BY e.event_type, e.event_id""".stripMargin,

    "q_skyline" ->
      """WITH p AS (
        | SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
        |  CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
        | FROM part
        | WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL)
        |SELECT p_partkey, p_size, price_cents FROM p x
        |WHERE NOT EXISTS (
        | SELECT 1 FROM p y
        | WHERE y.p_size <= x.p_size AND y.price_cents <= x.price_cents
        |  AND (y.p_size < x.p_size OR y.price_cents < x.price_cents))
        |ORDER BY p_size, price_cents, p_partkey""".stripMargin,

    "a21_weighted_median" ->
      """WITH li AS (
        | SELECT l_returnflag,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
        |  CAST(round(l_quantity) AS BIGINT) AS wu,
        |  l_orderkey, l_linenumber
        | FROM lineitem
        | WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
        |c AS (
        | SELECT l_returnflag, pc,
        |  CAST(SUM(wu) OVER (PARTITION BY l_returnflag
        |   ORDER BY pc, l_orderkey, l_linenumber
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS cw
        | FROM li),
        |tot AS (SELECT l_returnflag, CAST(SUM(wu) AS BIGINT) AS tw,
        |        CAST(COUNT(*) AS BIGINT) AS n_rows FROM li GROUP BY 1),
        |x AS (
        | SELECT c.l_returnflag, t.n_rows, t.tw AS total_weight, c.pc, c.cw
        | FROM c JOIN tot t USING (l_returnflag) WHERE c.cw * 2 >= t.tw),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |  ORDER BY cw, pc) AS rn FROM x)
        |SELECT l_returnflag, n_rows, total_weight, pc AS wmedian_cents
        |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,

    "a20_trimmed_mean" ->
      """WITH qs AS (
        | SELECT o_orderpriority,
        |  quantile_cont(o_totalprice, 0.05) AS p05,
        |  quantile_cont(o_totalprice, 0.95) AS p95
        | FROM orders GROUP BY 1)
        |SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_kept,
        | CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
        |   // COUNT(*) AS BIGINT) AS trimmed_mean_cents
        |FROM orders o JOIN qs ON qs.o_orderpriority = o.o_orderpriority
        |WHERE o.o_totalprice >= qs.p05 AND o.o_totalprice <= qs.p95
        |GROUP BY 1 ORDER BY o.o_orderpriority""".stripMargin,

    "s1_csv_glob_scan" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin
  )
}
