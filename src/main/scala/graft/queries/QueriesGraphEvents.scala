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

/** GraphEvents slice of the SparkEntry corpus (see SparkEntry's scaladoc for the cross-engine
  * determinism rules every entry follows). Bodies moved verbatim from the
  * round-6 SparkEntry map literals; shared helpers live on SparkEntry
  * (private[graft]).
  */
private[graft] trait QueriesGraphEvents { this: SparkEntry.type =>

  /** w1_window over the filtered orders frame `o`; `by` goes in front of
    * the window partition and the sort (the headline-body convention of
    * [[QueriesRelational]]).
    */
  private[graft] def w1Window(o: DataFrame, by: Seq[String]): DataFrame = {
    val w = Window.partitionBy((by :+ "o_custkey").map(col): _*)
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    o.select(by.map(col) ++ Seq(
      col("o_custkey"), col("o_orderkey"),
      row_number().over(w).cast("long").as("rn"),
      sum(col("o_totalprice").cast(DecimalType(18, 2)))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double").as("running_total")): _*)
      .orderBy((by ++ Seq("o_custkey", "rn")).map(col): _*)
  }

  protected def graphEventsQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Frame-clause window battery: cume_dist, first/last/nth over running
    // frames, 3-row moving sum (decimal-exact). Complements w4's ranking
    // battery; all functions share ONE partition ordering so the physical
    // plan is a single Window over a single sort (asserted in PlanShapeSpec).
    "w5_frames" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders").where(col("o_custkey") <= 100)
        .select(
          col("o_custkey"), col("o_orderkey"),
          cume_dist().over(w).as("cd"),
          first(col("o_orderkey")).over(run).as("first_ok"),
          last(col("o_orderkey"))
            .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
            .as("last_ok"),
          nth_value(col("o_orderkey"), 2).over(run).as("second_ok"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .over(w.rowsBetween(-2, Window.currentRow))
            .cast("double").as("moving_sum3"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Window functions (engine surface beyond the reference; SURVEY §2.5).
    "w1_window" -> ((s, d) =>
      w1Window(t(s, d, "orders").where(col("o_custkey") <= 100), Nil)),

    // Sessionization (window-function tier): 30-minute inactivity gap over
    // the raw epoch-nanos column — exact integer math, oracle-reproducible.
    "w2_sessionize" -> ((s, d) => {
      val gapUs = 30L * 60 * 1000000L
      // microseconds, not nanos: DuckDB truncates parquet ns-timestamps to
      // micro precision on read, so the oracle can only see µs
      val ev = t(s, d, "events").where(col("user_id") <= 200)
        .withColumn("ts_us", expr("ts DIV 1000"))
      graft.ops.Sessionize.batchSessionStats(ev, "user_id", "ts_us", "event_id", gapUs)
        .withColumnRenamed("start_ts", "start_us")
        .withColumnRenamed("end_ts", "end_us")
        .orderBy("user_id", "session_seq")
    }),

    // Built-in session_window aggregation (batch mode) — cross-checked by
    // the oracle's relational lag/cumsum formulation. session_window's
    // merge boundary is INCLUSIVE (an exactly-gap-later event still
    // extends the session — same `<=` rule as w2_sessionize), measured in
    // both batch and streaming mode and pinned by the StreamingSpec
    // boundary test.
    "w3_session_window" -> ((s, d) => {
      val ev = t(s, d, "events").where(col("user_id") <= 200)
        .withColumn("ts_ts", Graft.nanosToTimestamp("ts"))
      ev.groupBy(col("user_id"), session_window(col("ts_ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"))
        .orderBy("user_id", "start_us")
    }),

    // Ranking-function battery over a deterministic total order.
    "w4_rank_funcs" -> ((s, d) => {
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      t(s, d, "customer").where(col("c_nationkey") <= 5)
        .select(
          col("c_nationkey"), col("c_custkey"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          ntile(4).over(w).cast("long").as("quartile"),
          lag(col("c_custkey"), 1).over(w).as("prev_cust"),
          lead(col("c_custkey"), 1, -1L).over(w).as("next_cust"),
          percent_rank().over(w).as("pct_rank"))
        .orderBy("c_nationkey", "rnk", "c_custkey")
    }),

    // Frequent co-occurring event-type pairs per user (market-basket /
    // itemset mining): per-entity distinct items self-joined — bounded by
    // items-per-entity (5 types here), never corpus x corpus.
    "mine_pairs" -> ((s, d) => {
      val it = t(s, d, "events").where(col("user_id") <= 500)
        .select(col("user_id"), col("event_type")).distinct()
      it.as("a").join(it.as("b"), Seq("user_id"))
        .where(col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("item_a"),
          col("b.event_type").as("item_b"))
        .agg(count(lit(1)).as("support"))
        .where(col("support") >= 10)
        .orderBy("item_a", "item_b")
    }),

    // Association rules over the same user->event-type baskets as
    // mine_pairs: every directed rule a=>b with support >= 10, confidence
    // and lift as truncating integer nanos (support*1e9 DIV n_a and
    // support*n_baskets*1e9 DIV (n_a*n_b)) — exact, totally ordered, and
    // bit-replayable without a float anywhere. Item counts and the basket
    // total ride in on broadcast joins; the pair support is the one real
    // shuffle.
    "mine_assoc_rules" -> ((s, d) => {
      val it = t(s, d, "events").where(col("user_id") <= 500)
        .select(col("user_id"), col("event_type")).distinct()
      val items = it.groupBy(col("event_type")).agg(count(lit(1)).as("n_item"))
      val nb = it.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("n_baskets"))
      val pairs = it.as("a").join(it.as("b"), Seq("user_id"))
        .where(col("a.event_type") =!= col("b.event_type"))
        .groupBy(col("a.event_type").as("antecedent"),
          col("b.event_type").as("consequent"))
        .agg(count(lit(1)).as("support"))
        .where(col("support") >= 10)
      pairs
        .join(broadcast(items.select(col("event_type").as("antecedent"),
          col("n_item").as("n_a"))), Seq("antecedent"))
        .join(broadcast(items.select(col("event_type").as("consequent"),
          col("n_item").as("n_c"))), Seq("consequent"))
        .crossJoin(broadcast(nb))
        .select(col("antecedent"), col("consequent"), col("support"),
          col("n_a"), col("n_c"),
          expr("support * 1000000000L DIV n_a").as("conf_nano"),
          expr("support * n_baskets * 1000000000L DIV (n_a * n_c)")
            .as("lift_nano"))
        .orderBy("antecedent", "consequent")
    }),

    // Frequent length-3 event sequences: consecutive per-user trigrams
    // over the (ts, event_id, event_type) total order, with occurrence
    // and distinct-user support — the sequence-mining step past
    // mine_transitions' bigrams. Output bounded by |event types|^3.
    "mine_trigrams" -> ((s, d) => {
      val ev = t(s, d, "events").where(col("user_id").isNotNull &&
        col("ts").isNotNull && col("event_type").isNotNull &&
        col("event_id").isNotNull)
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"), col("event_type"))
      ev.withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .where(col("e2").isNotNull && col("e3").isNotNull)
        .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
        .agg(count(lit(1)).as("n_occ"),
          count_distinct(col("user_id")).as("n_users"))
        .orderBy("e1", "e2", "e3")
    }),

    // First-order Markov transition matrix over per-user event
    // sequences: P(next = dst | cur = src) with exact n/n_src division.
    // One window pass on the (user_id) exchange (lead over the fully
    // deterministic (ts, event_id, event_type) order), one (src, dst)
    // hash aggregate, row totals joined back by broadcast — the
    // sequence-model counterpart of mine_pairs' co-occurrence support.
    "mine_transitions" -> ((s, d) => {
      val ev = t(s, d, "events").where(col("user_id").isNotNull &&
        col("ts").isNotNull && col("event_type").isNotNull &&
        col("event_id").isNotNull)
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"), col("event_type"))
      val trans = ev
        .withColumn("dst", lead(col("event_type"), 1).over(w))
        .where(col("dst").isNotNull)
        .groupBy(col("event_type").as("src"), col("dst"))
        .agg(count(lit(1)).as("n"))
      val tot = trans.groupBy("src").agg(sum(col("n")).as("n_src"))
      trans.join(broadcast(tot), Seq("src"))
        .select(col("src"), col("dst"), col("n"),
          (col("n").cast("double") / col("n_src").cast("double")).as("p"))
        .orderBy("src", "dst")
    }),

    // Time-series gap fill: per-user daily totals densified onto each
    // user's own [min, max] day spine; gap days get n = 0 and carry the
    // last observed total forward (one window pass; IGNORE NULLS
    // last_value on both engines).
    "ts_gapfill" -> ((s, d) => {
      val daily = t(s, d, "events").where(col("user_id") <= 20)
        .select(col("user_id"),
          date_trunc("day", Graft.nanosToTimestamp("ts")).cast("date").as("day"),
          cents(col("value")).as("vc"))
        .groupBy("user_id", "day")
        .agg(count(lit(1)).as("n"),
          (sum(col("vc")).cast("double") / 100).as("v"))
      graft.ops.GapFill.dailyGapFill(daily, "user_id", "day", "v")
        .select(col("user_id"), col("day").cast("string").as("day"),
          coalesce(col("n"), lit(0L)).as("n"), col("v_ffill"))
        .orderBy("user_id", "day")
    }),

    // Sessionization at full population via the single-pass KERNEL form
    // (Sessionize.sessionStatsKernel: one user-hash exchange, one
    // in-partition sort, one streaming fold — measured 24% faster than
    // the lag/cumsum window form it is parity-spec'd against, which
    // w2_sessionize keeps as the window-function-tier demonstration).
    // 8-hour inactivity gap, chosen to sit inside the corpus gap
    // distribution (avg ~2 events/session, max 15 at sf0.01). The
    // boundary is INCLUSIVE-merge (diff == gap stays one session),
    // Spark's native session_window rule — pinned by the StreamingSpec
    // boundary test — and the output shape is session_window's (end =
    // last event + gap), so this entry is the exact relational twin of
    // stream_session_windows: same rule, same population, one oracle
    // shape cross-checking the native operator against the kernel form.
    // Bounds as epoch micros (no ts-to-string formatting in the strict
    // compare).
    "ts_sessionize" -> ((s, d) => {
      val gapUs = 8L * 3600 * 1000000L
      val ev = t(s, d, "events")
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .withColumn("ts_us", expr("ts DIV 1000"))
      graft.ops.Sessionize
        .sessionStatsKernel(ev, "user_id", "ts_us", "event_id", gapUs)
        .select(col("user_id"),
          col("start_ts").as("session_start_us"),
          (col("end_ts") + gapUs).as("session_end_us"),
          col("n_events"))
        .orderBy("user_id", "session_start_us")
    }),

    // Calendar-correct rolling 7-day totals: ROWS frames only mean
    // "trailing week" on a DENSE spine (on raw observations, 6 PRECEDING
    // is 7 observations, not 7 days) — so densify first, then one window
    // pass. Cents stay integer through the rolling sum (order-free).
    // Rolling 7-observation median per user (robust smoothing — the
    // outlier-proof twin of ts_rolling's trailing sum): exact R-7
    // percentile over a ROWS frame on the deterministic (ts, event_id)
    // order. One window pass on the user exchange.
    "ts_rolling_median" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"), col("value")).rowsBetween(-6, 0)
      t(s, d, "events")
        .where(col("user_id") <= 50 && col("ts").isNotNull &&
          col("event_id").isNotNull)
        .select(col("user_id"), col("event_id"),
          expr("percentile(value, 0.5)")
            .over(w).as("roll_median"))
        .orderBy("user_id", "event_id")
    }),

    "ts_rolling" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, d, "events").where(col("user_id") <= 20)
        .select(col("user_id"),
          date_trunc("day", Graft.nanosToTimestamp("ts")).cast("date").as("day"),
          cents(col("value")).as("vc"))
        .groupBy("user_id", "day")
        .agg(sum(col("vc")).as("vc"))
      val filled = graft.ops.GapFill.dailySpine(daily, "user_id", "day")
        .join(daily, Seq("user_id", "day"), "left")
      val w7 = Window.partitionBy("user_id").orderBy("day").rowsBetween(-6, 0)
      filled.select(col("user_id"), col("day").cast("string").as("day"),
          (sum(coalesce(col("vc"), lit(0L))).over(w7).cast("double") / 100)
            .as("roll_sum"),
          count(col("vc")).over(w7).as("roll_days"))
        .orderBy("user_id", "day")
    }),

    // Linear interpolation across spine gaps (vs ts_gapfill's carry-
    // forward): gap days get the straight line between the surrounding
    // observations; the leading/trailing edges stay NULL.
    "ts_interp" -> ((s, d) => {
      val daily = t(s, d, "events").where(col("user_id") <= 20)
        .select(col("user_id"),
          date_trunc("day", Graft.nanosToTimestamp("ts")).cast("date").as("day"),
          cents(col("value")).as("vc"))
        .groupBy("user_id", "day")
        .agg((sum(col("vc")).cast("double") / 100).as("v"))
      graft.ops.GapFill.dailyInterp(daily, "user_id", "day", "v")
        .select(col("user_id"), col("day").cast("string").as("day"),
          col("v_interp"))
        .orderBy("user_id", "day")
    }),

    // Last-touch attribution: each purchase credits the user's most
    // recent non-purchase event within a 7-day lookback — one per-user
    // window pass over the event stream (two IGNORE NULLS lasts on the
    // same total (us, event_id) order pick fields off the same row), no
    // conversions x touchpoints self-join.
    "attr_last_touch" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, d, "events")
        .where(col("ts").isNotNull && col("event_id").isNotNull)
        .select(col("user_id"), col("event_id"),
          expr("ts DIV 1000").as("us"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      ev
        .withColumn("attr_us",
          last(when(col("event_type") =!= "purchase", col("us")),
            ignoreNulls = true).over(w))
        .withColumn("attr_type",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .withColumn("channel",
          when(col("attr_us").isNotNull &&
            col("us") - col("attr_us") <= lit(604800000000L), col("attr_type"))
            .otherwise(lit("none")))
        .groupBy("channel").agg(count(lit(1)).as("n_conversions"))
        .orderBy("channel")
    }),

    // First-touch attribution: each purchase credits the EARLIEST
    // non-purchase event inside the 7-day lookback. The lookback is a
    // RANGE frame (value bounds — identical peer handling on both
    // engines); "earliest" is a lexicographic MIN over a zero-padded
    // (us, event_id, type) encoding, because first_value over a RANGE
    // frame is tie-ambiguous where two touches share a microsecond.
    "attr_first_touch" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, d, "events")
        .where(col("ts").isNotNull && col("event_id").isNotNull)
        .select(col("user_id"), col("event_id"),
          expr("ts DIV 1000").as("us"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy(col("us"))
        .rangeBetween(-604800000000L, -1)
      ev
        .withColumn("first_touch",
          min(when(col("event_type") =!= "purchase",
            concat(lpad(col("us").cast("string"), 20, "0"), lit("|"),
              lpad(col("event_id").cast("string"), 12, "0"), lit("|"),
              col("event_type")))).over(w))
        .where(col("event_type") === "purchase")
        .withColumn("channel",
          coalesce(element_at(split(col("first_touch"), "\\|"), 3),
            lit("none")))
        .groupBy("channel").agg(count(lit(1)).as("n_conversions"))
        .orderBy("channel")
    }),

    // Cumulative distinct users per day WITHOUT a windowed
    // COUNT(DISTINCT) (Spark has none, and the naive day x user
    // re-aggregation is O(days x users)): each user collapses to their
    // FIRST day (one hash agg), daily new-user counts densify onto the
    // event-day spine, and one running sum finishes it.
    "w7_running_distinct" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val days = t(s, d, "events")
        .select(date_trunc("day", Graft.nanosToTimestamp("ts"))
          .cast("date").as("day"))
        .distinct()
      val firstSeen = t(s, d, "events")
        .groupBy("user_id")
        .agg(min(date_trunc("day", Graft.nanosToTimestamp("ts")).cast("date"))
          .as("day"))
        .groupBy("day").agg(count(lit(1)).as("n_new"))
      // unpartitioned window, provably tiny: the frame is one row per
      // DAY (post-aggregation calendar spine, ~365 rows/year even at
      // 100 TB of events) and a running total is inherently sequential.
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      days.join(firstSeen, Seq("day"), "left")
        .select(col("day").cast("string").as("day"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          sum(coalesce(col("n_new"), lit(0L))).over(w).as("n_cum"))
        .orderBy("day")
    }),

    // Time-decay multi-touch attribution: every purchase credits ALL
    // non-purchase touches in its 7-day lookback, weighted 2^-(full days
    // back) — weight_nano = 1e9 >> d is exact, the per-conversion
    // normalization is truncating integer division, and channel credit is
    // a SUM of those integers (order-free, bit-replayable). The
    // touch-to-conversion pairing reuses the bucketed range join (one
    // day-bucket explode instead of a per-user cross product), so hot
    // users never quadratically explode at scale. Conversions with no
    // touch in window credit 'none' with their full 1e9.
    // Markov removal-effect attribution over the user event journeys
    // ('purchase' converts, a conversion reopens the journey at start):
    // 8 exact nano mass rounds with per-edge truncation over the
    // schema-bounded transition matrix, one scenario per channel with
    // edges into it cut to 'null' — see ops.MarkovAttribution. The
    // oracle replays journey segmentation, the matrix, and all 8 rounds
    // of every scenario as chained aggregate CTEs.
    "attr_markov" -> ((s, d) => {
      val ev = t(s, d, "events")
        .where(col("ts").isNotNull && col("event_id").isNotNull &&
          col("user_id").isNotNull && col("event_type").isNotNull)
        .select(col("user_id"), expr("ts DIV 1000").as("ord"),
          col("event_id").as("tie"), col("event_type"))
      graft.ops.MarkovAttribution.removalEffects(
          ev, "user_id", "ord", "tie", "event_type",
          convType = "purchase")
        .orderBy("channel")
    }),

    "attr_time_decay" -> ((s, d) => {
      val ev = t(s, d, "events")
        .where(col("ts").isNotNull && col("event_id").isNotNull)
        .select(col("user_id"), col("event_id"),
          expr("ts DIV 1000").as("us"), col("event_type"))
      val touches = ev.where(col("event_type") =!= "purchase")
        .select(col("user_id"), col("us").as("t_us"),
          col("event_type").as("t_type"))
      val purch = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_eid"),
          col("us").as("p_us"),
          (col("us") - 604800000000L).as("start_us"),
          (col("us") - 1).as("end_us"))
      val pairs = graft.ops.RangeJoin.bucketedRangeJoin(
          touches, purch, Seq("user_id"), "t_us", "start_us", "end_us",
          bucket = 86400000000L)
        .withColumn("d", expr("(p_us - t_us) DIV 86400000000L"))
        .withColumn("w_nano",
          expr("1000000000L DIV shiftleft(1L, CAST(d AS INT))"))
      val tot = pairs.groupBy("user_id", "p_eid")
        .agg(sum("w_nano").as("tw"))
      val credited = pairs.join(tot, Seq("user_id", "p_eid"))
        .select(col("t_type").as("channel"),
          expr("w_nano * 1000000000L DIV tw").as("credit"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_touches"), sum("credit").as("credit_nano"))
      val none = purch
        .join(pairs.select("user_id", "p_eid").distinct(),
          Seq("user_id", "p_eid"), "left_anti")
        .agg(count(lit(1)).as("n"))
        .select(lit("none").as("channel"), lit(0L).as("n_touches"),
          (col("n") * 1000000000L).as("credit_nano"))
      credited.unionByName(none).orderBy("channel")
    }),

    // Per-key exponential time-decay feature (EWMA, alpha = 1/2) as an
    // integer-exact weighted sum: lag j carries weight 2^-(j+1), so the
    // cents value times 2^(19-j) accumulates in plain BIGINT arithmetic
    // both engines replay exactly, and ONE mirrored IEEE division
    // (by 2^20 * 100) descales at the end — no running float product, no
    // transcendentals. The tail beyond 20 lags weighs < 2^-21 and is
    // truncated by design: state is one window pass with 20 lags over
    // the (us, event_id) total order — O(1) per row, partition-local per
    // user, so the plan is a single per-key sort at any scale.
    "w8_ewma" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, d, "events")
        .where(col("ts").isNotNull && col("event_id").isNotNull &&
          col("user_id") <= 30)
        .select(col("user_id"), col("event_id"),
          expr("ts DIV 1000").as("us"), cents(col("value")).as("vc"))
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      val weighted = (coalesce(col("vc"), lit(0L)) * lit(1L << 19)) +:
        (1 until 20).map { j =>
          coalesce(lag(col("vc"), j).over(w), lit(0L)) * lit(1L << (19 - j))
        }
      ev.select(col("user_id"), col("event_id"),
          (weighted.reduce(_ + _).cast("double") / 104857600.0).as("ewma"))
        .orderBy("user_id", "event_id")
    }),

    // Time-RANGE window frame (vs w5's ROWS frames): per-user trailing
    // 1-day sum/count over the microsecond event timeline. RANGE peers
    // (ts ties) share a frame, so the result is layout-independent.
    "w6_time_range" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
        .rangeBetween(-86400000000L, 0L)
      t(s, d, "events").where(col("user_id") <= 100)
        .select(col("event_id"), col("user_id"),
          expr("ts DIV 1000").as("ts_us"), col("value"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          (sum(cents(col("value"))).over(w).cast("double") / 100).as("trail_sum"),
          count(lit(1)).over(w).cast("long").as("trail_n"))
        .orderBy("event_id")
    }),

    // Robust (median/MAD) anomaly detection per event type: the
    // heavy-tail-safe twin of f10_zscore. percentile + the same double
    // expression tree both engines; MAD=0 groups and NULL values never
    // flag.
    "ts_anomaly_mad" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      graft.ops.Anomaly.madOutliers(ev, Seq("event_type"), "value",
        cutoff = 3.0)
        .select("event_id", "event_type", "value", "med", "mad", "robust_z")
        .orderBy("event_type", "event_id")
    }),

    // Weekly seasonal profile of event values per type: period position =
    // (epoch-day) % 7, seasonal mean / global deviation / mean absolute
    // residual all as truncating integer nanos (Seasonal.profile). The
    // dense synthetic stream gives every (type, dow) cell mass.
    "ts_seasonal" -> ((s, d) => {
      val ev = t(s, d, "events")
        .where(col("ts").isNotNull && col("value").isNotNull)
        .select(col("event_type"),
          expr("(ts DIV 86400000000000L) % 7").as("dow"),
          expr("CAST(round(value * 1e9) AS BIGINT)").as("v_nano"))
      graft.ops.Seasonal.profile(ev, "event_type", "dow", "v_nano")
        .orderBy("event_type", "dow")
    }),

    // CUSUM change-point report per event type: running sum of
    // (value - series mean) in exact integer nanos over the (us,
    // event_id) total order; the change point is the row maximizing
    // |cusum| (ties to the smaller event_id via a struct-min argmax, not
    // a window sort). Integer mean division truncates identically on
    // both engines (Spark DIV == DuckDB //), so signs agree.
    "ts_cusum" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, d, "events")
        .where(col("ts").isNotNull && col("event_id").isNotNull &&
          col("value").isNotNull && col("event_type").isNotNull)
        .select(col("event_type"), col("event_id"),
          expr("ts DIV 1000").as("us"),
          expr("CAST(round(value * 1e9) AS BIGINT)").as("v"))
      val mean = ev.groupBy("event_type")
        .agg(expr("sum(v) DIV count(1)").as("mean_nano"),
          count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.join(broadcast(mean), Seq("event_type"))
        .withColumn("cusum", sum(col("v") - col("mean_nano")).over(w))
        .groupBy("event_type")
        .agg(max("n").as("n_rows"),
          min(struct((-abs(col("cusum"))).as("na"),
            col("event_id").as("eid"), col("cusum").as("cv"))).as("m"))
        .select(col("event_type"), col("n_rows"),
          col("m.eid").as("cp_event_id"), col("m.cv").as("cp_cusum_nano"))
        .orderBy("event_type")
    }),

    // Peak concurrency via the sweep line: each event opens a 30-minute
    // session; +1/-1 deltas ordered by (t, delta, event_id) — ends sort
    // before starts at the same instant, so touching sessions never
    // overcount — and the peak is the max running sum with its earliest
    // time (struct-min argmax). Exact integers end to end.
    "ts_concurrency" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, d, "events")
        .where(col("ts").isNotNull && col("event_id").isNotNull &&
          col("event_type").isNotNull)
        .select(col("event_type"), expr("ts DIV 1000").as("s_us"),
          col("event_id"))
      val deltas = ev.select(col("event_type"), col("s_us").as("t"),
          lit(1L).as("d"), col("event_id"))
        .unionByName(ev.select(col("event_type"),
          (col("s_us") + 1800000000L).as("t"), lit(-1L).as("d"),
          col("event_id")))
      val w = Window.partitionBy("event_type")
        .orderBy(col("t"), col("d"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deltas.withColumn("run", sum(col("d")).over(w))
        .groupBy("event_type")
        .agg(min(struct((-col("run")).as("nr"), col("t").as("pt"),
          col("event_id").as("pe"))).as("m"))
        .select(col("event_type"), (-col("m.nr")).as("peak_concurrency"),
          col("m.pt").as("peak_t_us"))
        .orderBy("event_type")
    }),

    // Holt linear-trend smoothing per event type (first 500 points in
    // the (us, event_id) total order — the cap bounds BOTH the task
    // buffer and the oracle's recursion depth at any SF): level, trend
    // and one-step forecast in exact integer nanos with alpha = beta =
    // 1/2, each update one truncating halving, replayed point-by-point
    // by a recursive CTE. See ops.Holt for the sequential-per-key scale
    // contract.
    "ts_holt" -> ((s, d) => {
      val ev = t(s, d, "events")
        .where(col("ts").isNotNull && col("event_id").isNotNull &&
          col("value").isNotNull && col("event_type").isNotNull)
        .select(col("event_type").as("k"),
          expr("ts DIV 1000").as("ord"), col("event_id").as("tie"),
          expr("CAST(round(value * 1e9) AS BIGINT)").as("y_nano"))
      graft.ops.Holt.holtNano(ev, maxPoints = 500).orderBy("k", "rn")
    }),

    // Integer autocorrelation at lags 1..3 per event type: values snap to
    // whole units, residuals center on the floor mean, and
    // acf_nano = sum(r_t * r_{t+l}) * 1e9 DIV sum(r_t^2) is exact
    // integer end to end (both engines truncate integer division toward
    // zero, so negative ACF agrees). Width is automatic, not a hand
    // switch: the Spark sums accumulate in DECIMAL(38,0) and DuckDB's
    // SUM(BIGINT) is natively HUGEINT, so n*R^2*1e9 never overflows at
    // any SF; only the quotient — |acf_nano| <= ~1e9 by Cauchy-Schwarz —
    // returns to BIGINT. Constant series (den = 0) report NULL.
    "ts_acf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, d, "events")
        .where(col("ts").isNotNull && col("event_id").isNotNull &&
          col("value").isNotNull && col("event_type").isNotNull)
        .select(col("event_type"), col("event_id"),
          expr("ts DIV 1000").as("us"),
          expr("CAST(round(value) AS BIGINT)").as("vu"))
      val mean = ev.groupBy("event_type")
        .agg(expr("sum(vu) DIV count(1)").as("mu"))
      val w = Window.partitionBy("event_type").orderBy(col("us"), col("event_id"))
      val r = ev.join(broadcast(mean), Seq("event_type"))
        .withColumn("r", col("vu") - col("mu"))
        .withColumn("r1", lead(col("r"), 1).over(w))
        .withColumn("r2", lead(col("r"), 2).over(w))
        .withColumn("r3", lead(col("r"), 3).over(w))
      def dec(c: Column) = c.cast(DecimalType(38, 0))
      r.groupBy("event_type").agg(
          sum(dec(col("r")) * dec(col("r"))).as("den"),
          sum(dec(col("r")) * dec(col("r1"))).as("num1"), count(col("r1")).as("c1"),
          sum(dec(col("r")) * dec(col("r2"))).as("num2"), count(col("r2")).as("c2"),
          sum(dec(col("r")) * dec(col("r3"))).as("num3"), count(col("r3")).as("c3"))
        .select(col("event_type"), col("den"), explode(array(
          struct(lit(1L).as("lag"), col("num1").as("num"),
            col("c1").as("n_pairs")),
          struct(lit(2L).as("lag"), col("num2").as("num"),
            col("c2").as("n_pairs")),
          struct(lit(3L).as("lag"), col("num3").as("num"),
            col("c3").as("n_pairs")))).as("s"))
        .select(col("event_type"), col("s.lag").as("lag"),
          col("s.n_pairs").as("n_pairs"),
          when(col("den") > 0, expr("s.num * 1000000000L DIV den"))
            .as("acf_nano"))
        .orderBy("event_type", "lag")
    }),

    // PageRank, two exact-integer iterations over a derived 1000-node
    // graph (out-degree 2 per source). Integer nano-arithmetic end to end
    // -> the oracle replays BOTH iterations in plain SQL, bit-exact.
    "graph_pagerank" -> ((s, d) => {
      val base = t(s, d, "part").where(col("p_partkey") <= 1000)
      val edges = base.select(col("p_partkey").as("src"),
        expr("(p_partkey * 31 + 7) % 1000").as("dst"))
        .unionByName(base.select(col("p_partkey").as("src"),
          expr("(p_partkey * 17 + 3) % 1000").as("dst")))
      graft.ops.Graph.pageRank(edges, iterations = 2).orderBy("id")
    }),

    // Per-node triangle counts on the same deterministic graph — the
    // clustering-coefficient numerator (see Graph.triangleCounts).
    "graph_triangles" -> ((s, d) => {
      val base = t(s, d, "part").where(col("p_partkey") <= 1000)
      val edges = base.select(col("p_partkey").as("src"),
        expr("(p_partkey * 31 + 7) % 1000").as("dst"))
        .unionByName(base.select(col("p_partkey").as("src"),
          expr("(p_partkey * 17 + 3) % 1000").as("dst")))
      graft.ops.Graph.triangleCounts(edges).orderBy("id")
    }),

    // Local clustering coefficient per node: 2·triangles/(deg·(deg−1))
    // as truncating integer nanos over the exact triangle counts and
    // degrees (NULL below degree 2) — the node-level community-density
    // signal composing triangleCounts with one degree aggregate.
    "graph_clustering_coeff" -> ((s, d) => {
      val base = t(s, d, "part").where(col("p_partkey") <= 1000)
      val edges = base.select(col("p_partkey").as("src"),
        expr("(p_partkey * 31 + 7) % 1000").as("dst"))
        .unionByName(base.select(col("p_partkey").as("src"),
          expr("(p_partkey * 17 + 3) % 1000").as("dst")))
      val tri = graft.ops.Graph.triangleCounts(edges)
      val e = edges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .where(col("a").isNotNull && col("b").isNotNull &&
          col("a") =!= col("b")).distinct()
      val deg = e.select(col("a").as("id"))
        .unionByName(e.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      tri.join(deg, Seq("id"))
        .select(col("id"), col("deg"), col("n_triangles"),
          when(col("deg") >= 2,
            expr("n_triangles * 2000000000L DIV (deg * (deg - 1))"))
            .as("coeff_nano"))
        .orderBy("id")
    }),

    // Personalized PageRank on the same graph: teleport restricted to
    // the seed nodes (ids < 10), two exact nano-integer iterations —
    // graph-proximity-to-a-trusted-subset scoring, replayed in SQL.
    "graph_ppr" -> ((s, d) => {
      val base = t(s, d, "part").where(col("p_partkey") <= 1000)
      val edges = base.select(col("p_partkey").as("src"),
        expr("(p_partkey * 31 + 7) % 1000").as("dst"))
        .unionByName(base.select(col("p_partkey").as("src"),
          expr("(p_partkey * 17 + 3) % 1000").as("dst")))
      val seeds = base.where(col("p_partkey") < 10)
        .select(col("p_partkey").as("id"))
      graft.ops.Graph.personalizedPageRank(edges, seeds, iterations = 2)
        .orderBy("id")
    }),

    // Link prediction on the same graph: neighbor-Jaccard over
    // non-adjacent distance-2 pairs, top-50 by exact integer-nano
    // coefficient (ties by pair id) — see Graph.jaccardLinks.
    "graph_jaccard_links" -> ((s, d) => {
      val base = t(s, d, "part").where(col("p_partkey") <= 1000)
      val edges = base.select(col("p_partkey").as("src"),
        expr("(p_partkey * 31 + 7) % 1000").as("dst"))
        .unionByName(base.select(col("p_partkey").as("src"),
          expr("(p_partkey * 17 + 3) % 1000").as("dst")))
      graft.ops.Graph.jaccardLinks(edges)
        .orderBy(col("jacc_nano").desc, col("id_a"), col("id_b")).limit(50)
        .orderBy("id_a", "id_b")
    }),

    // Community detection on the same graph: 3 synchronous rounds of
    // deterministic (min-tie-break) label propagation — finer-grained
    // than connected components; the oracle replays round-by-round.
    "graph_label_prop" -> ((s, d) => {
      val base = t(s, d, "part").where(col("p_partkey") <= 1000)
      val edges = base.select(col("p_partkey").as("src"),
        expr("(p_partkey * 31 + 7) % 1000").as("dst"))
        .unionByName(base.select(col("p_partkey").as("src"),
          expr("(p_partkey * 17 + 3) % 1000").as("dst")))
      graft.ops.Graph.labelPropagation(edges, rounds = 3).orderBy("id")
    }),

    // Three synchronous 2-core peel rounds over the same derived graph:
    // per node, surviving-subgraph degree and the non-null in_core
    // verdict. Fixed round count is part of the contract (the oracle
    // chains exactly three peel CTE stages).
    "graph_kcore" -> ((s, d) => {
      val base = t(s, d, "part").where(col("p_partkey") <= 1000)
      val edges = base.select(col("p_partkey").as("src"),
        expr("(p_partkey * 31 + 7) % 1000").as("dst"))
        .unionByName(base.select(col("p_partkey").as("src"),
          expr("(p_partkey * 17 + 3) % 1000").as("dst")))
      graft.ops.Graph.kCore(edges, k = 2, rounds = 3).orderBy("id")
    }),

    // Katz centrality on the same graph: three exact nano rounds with
    // attenuation 1/2 (one truncating halving per round — path mass
    // discounted 2^-k), no out-degree normalization. The oracle unrolls
    // all three rounds.
    "graph_katz" -> ((s, d) => {
      val base = t(s, d, "part").where(col("p_partkey") <= 1000)
      val edges = base.select(col("p_partkey").as("src"),
        expr("(p_partkey * 31 + 7) % 1000").as("dst"))
        .unionByName(base.select(col("p_partkey").as("src"),
          expr("(p_partkey * 17 + 3) % 1000").as("dst")))
      graft.ops.Graph.katzNano(edges, iterations = 3).orderBy("id")
    }),

    // CUPED variance-reduced A/B readout (Deng et al. 2013, WSDM):
    // per-user pre-metric x = view spend, outcome y = purchase spend
    // (exact cents), arms by the ab_assign hash rule; theta and the
    // variance stats come from exact DECIMAL(38)/HUGEINT sufficient
    // sums cast to double ONCE, then every reported number is the same
    // mirrored double expression tree rounded at 9 dp (the
    // a18_regression discipline). The group-mean identity
    // mean(y - theta*(x - x_all)) = y_arm - theta*(x_arm - x_all)
    // keeps the adjustment one expression — no per-user float pass.
    "ab_cuped" -> ((s, d) => {
      val ev = t(s, d, "events")
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"), col("event_type"), cents(col("value")).as("vc"))
      val per = ev.groupBy("user_id").agg(
          sum(when(col("event_type") === "view", col("vc")).otherwise(0L))
            .as("x"),
          sum(when(col("event_type") === "purchase", col("vc")).otherwise(0L))
            .as("y"))
        .withColumn("variant",
          when(pmod(StableHash.hash60(col("user_id").cast("string")),
            lit(100L)) < 50, "A").otherwise("B"))
      def dec(c: Column) = c.cast(DecimalType(38, 0))
      val g = per.agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).cast("double").as("sx"),
        sum(dec(col("y"))).cast("double").as("sy"),
        sum(dec(col("x")) * dec(col("x"))).cast("double").as("sxx"),
        sum(dec(col("x")) * dec(col("y"))).cast("double").as("sxy"),
        sum(dec(col("y")) * dec(col("y"))).cast("double").as("syy"))
      val arm = per.groupBy("variant").agg(count(lit(1)).as("n_users"),
        sum(dec(col("x"))).cast("double").as("sxa"),
        sum(dec(col("y"))).cast("double").as("sya"))
      arm.crossJoin(broadcast(g))
        .select(col("variant"), col("n_users"),
          expr("ROUND(sya / CAST(n_users AS DOUBLE), 9)").as("mean_y"),
          expr("ROUND(sxa / CAST(n_users AS DOUBLE), 9)").as("mean_x"),
          expr("ROUND(sya / CAST(n_users AS DOUBLE)" +
            " - (CAST(n AS DOUBLE) * sxy - sx * sy)" +
            " / NULLIF(CAST(n AS DOUBLE) * sxx - sx * sx, 0.0)" +
            " * (sxa / CAST(n_users AS DOUBLE) - sx / CAST(n AS DOUBLE)), 9)")
            .as("mean_y_adj"),
          expr("ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)" +
            " / NULLIF(CAST(n AS DOUBLE) * sxx - sx * sx, 0.0), 9)")
            .as("theta"),
          expr("ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)" +
            " * (CAST(n AS DOUBLE) * sxy - sx * sy)" +
            " / NULLIF((CAST(n AS DOUBLE) * sxx - sx * sx)" +
            " * (CAST(n AS DOUBLE) * syy - sy * sy), 0.0), 9)").as("r2"))
        .orderBy("variant")
    }),

    // HITS hubs/authorities on the same graph: two exact nano-integer
    // rounds with L1 renormalization (auth from in-edge hub mass, hub
    // from out-edge auth mass; DECIMAL(38)/HUGEINT raw sums, truncating
    // renorm division) — the oracle unrolls all four half-steps.
    "graph_hits" -> ((s, d) => {
      val base = t(s, d, "part").where(col("p_partkey") <= 1000)
      val edges = base.select(col("p_partkey").as("src"),
        expr("(p_partkey * 31 + 7) % 1000").as("dst"))
        .unionByName(base.select(col("p_partkey").as("src"),
          expr("(p_partkey * 17 + 3) % 1000").as("dst")))
      graft.ops.Graph.hitsNano(edges, iterations = 2).orderBy("id")
    }),

    // Community-quality report: Newman modularity of the label-prop
    // communities over the same graph, per community — contribution
    // computed EXACTLY as integer nanos ((4m*e_c - deg_c^2)*1e9 DIV
    // 4m^2, one truncating division per community over pure-integer
    // counts). Total Q = sum of contributions.
    "graph_modularity" -> ((s, d) => {
      val base = t(s, d, "part").where(col("p_partkey") <= 1000)
      val edges = base.select(col("p_partkey").as("src"),
        expr("(p_partkey * 31 + 7) % 1000").as("dst"))
        .unionByName(base.select(col("p_partkey").as("src"),
          expr("(p_partkey * 17 + 3) % 1000").as("dst")))
      // Both bounded frames pin once (the Graph/Hierarchy discipline):
      // labels is |V| rows consumed twice (la/lb) and tagged is |E| rows
      // consumed three times (e_in + both degc branches) — unpinned, the
      // whole 3-round label-prop join chain re-plans and re-executes per
      // consumer (32 parquet scans in the r14 census; alias-renumbered
      // subtrees defeat ReuseExchange).
      val labels = graft.ops.Graph.labelPropagation(edges, rounds = 3)
        .localCheckpoint(true)
      val e = edges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .where(col("a").isNotNull && col("b").isNotNull &&
          col("a") =!= col("b")).distinct()
      val m = e.agg(count(lit(1)).as("m"))
      val la = labels.select(col("id").as("a"), col("label").as("la"))
      val lb = labels.select(col("id").as("b"), col("label").as("lb"))
      val tagged = e.join(la, Seq("a")).join(lb, Seq("b"))
        .localCheckpoint(true)
      val ein = tagged.where(col("la") === col("lb"))
        .groupBy(col("la").as("community"))
        .agg(count(lit(1)).as("e_in"))
      val degc = tagged.select(col("la").as("community"))
        .unionByName(tagged.select(col("lb").as("community")))
        .groupBy("community").agg(count(lit(1)).as("deg_sum"))
      degc.join(ein, Seq("community"), "left")
        .crossJoin(broadcast(m))
        .select(col("community"),
          coalesce(col("e_in"), lit(0L)).as("e_in"), col("deg_sum"),
          // negative contributions are safe: Spark DIV and DuckDB //
          // both truncate toward zero (verified on negative operands)
          expr("(4 * m * coalesce(e_in, 0L) - deg_sum * deg_sum)" +
            " * 1000000000L DIV (4 * m * m)").as("contrib_nano"))
        .orderBy("community")
    }),

    // Degree assortativity over a 300-node slice of the derived graph:
    // with symmetrized directed pairs the Pearson denominator's two
    // sqrt factors coincide, so r is the EXACT integer rational
    // (M·Sxy − Sx²)/(M·Sxx − Sx²) — surfaced as truncating nanos, no
    // float anywhere. The slice keeps num·1e9 inside BIGINT.
    "graph_assortativity" -> ((s, d) => {
      val base = t(s, d, "part").where(col("p_partkey") <= 300)
      val edges = base.select(col("p_partkey").as("src"),
        expr("(p_partkey * 31 + 7) % 300").as("dst"))
        .unionByName(base.select(col("p_partkey").as("src"),
          expr("(p_partkey * 17 + 3) % 300").as("dst")))
      val e = edges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .where(col("a").isNotNull && col("b").isNotNull &&
          col("a") =!= col("b")).distinct()
      val adj = e.select(col("a").as("id"), col("b").as("nb"))
        .unionByName(e.select(col("b").as("id"), col("a").as("nb")))
      val deg = adj.groupBy("id").agg(count(lit(1)).as("deg"))
      val pairs = adj
        .join(deg.select(col("id"), col("deg").as("dx")), Seq("id"))
        .join(deg.select(col("id").as("nb"), col("deg").as("dy")), Seq("nb"))
      pairs.agg(count(lit(1)).as("m2"),
          sum("dx").as("sx"), sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dx") * col("dy")).as("sxy"))
        .select(col("m2"), col("sx"), col("sxx"), col("sxy"),
          expr("(m2 * sxy - sx * sx) * 1000000000L" +
            " DIV (m2 * sxx - sx * sx)").as("r_nano"))
    }),

    // Multi-source BFS over the same derived graph: hop distance from the
    // seed set {id < 10} within 4 synchronous rounds, -1 = unreached.
    // The oracle replays it as a depth-bounded recursive walk with a min
    // aggregate (identical by induction on rounds).
    "graph_bfs" -> ((s, d) => {
      val base = t(s, d, "part").where(col("p_partkey") <= 1000)
      val edges = base.select(col("p_partkey").as("src"),
        expr("(p_partkey * 31 + 7) % 1000").as("dst"))
        .unionByName(base.select(col("p_partkey").as("src"),
          expr("(p_partkey * 17 + 3) % 1000").as("dst")))
      val seeds = base.where(col("p_partkey") < 10)
        .select(col("p_partkey").as("id"))
      graft.ops.Graph.bfsDistances(edges, seeds, rounds = 4).orderBy("id")
    }),

    // Hierarchy closure (recursive-CTE semantics via iterative joins with
    // checkpointed lineage): a deterministic 4-ary forest derived from
    // part keys (parent = id DIV 4), flattened to root/depth/path per
    // node. The oracle replays it as a genuine WITH RECURSIVE.
    "hier_closure" -> ((s, d) => {
      val edges = t(s, d, "part").where(col("p_partkey") <= 2000)
        .select(col("p_partkey").as("id"),
          when(col("p_partkey") > 0, expr("p_partkey DIV 4")).as("parent"))
      graft.ops.Hierarchy.rootPaths(edges).orderBy("id")
    }),

    // Hierarchy rollup: aggregate a fact value up the closure — per root
    // of the 4-ary forest (roots = ids < 4 here), subtree size, max
    // depth, and total retail cents of every descendant. The closure
    // comes from the same iterative rootPaths walk; the rollup is one
    // root-keyed hash aggregate over it.
    "hier_rollup" -> ((s, d) => {
      val parts = t(s, d, "part").where(col("p_partkey") <= 2000)
      val edges = parts.select(col("p_partkey").as("id"),
        when(col("p_partkey") >= 4, expr("p_partkey DIV 4")).as("parent"))
      graft.ops.Hierarchy.rootPaths(edges)
        .join(parts.select(col("p_partkey").as("id"),
          cents(col("p_retailprice")).as("vc")), Seq("id"))
        .groupBy("root")
        .agg(count(lit(1)).as("n_nodes"), max("depth").as("max_depth"),
          sum("vc").as("total_cents"))
        .orderBy("root")
    }),

    // Deterministic A/B assignment + sample-ratio-mismatch check: variant
    // by stable hash (50/50), per-variant user counts and mean order
    // value in exact cents, plus the SRM deviation |n_a − n_b| in nanos
    // of the total — the experimentation-platform admission audit.
    "ab_assign_srm" -> ((s, d) => {
      val o = t(s, d, "orders").where(col("o_custkey").isNotNull)
        .select(col("o_custkey"), cents(col("o_totalprice")).as("pc"))
        .withColumn("variant",
          when(pmod(StableHash.hash60(col("o_custkey").cast("string")),
            lit(100L)) < 50, "A").otherwise("B"))
      val per = o.groupBy("variant")
        .agg(count_distinct(col("o_custkey")).as("n_users"),
          count(lit(1)).as("n_orders"),
          expr("sum(pc) DIV count(1)").as("mean_cents"))
      val tot = per.agg(sum("n_users").as("nt"),
        max(when(col("variant") === "A", col("n_users"))).as("na"),
        max(when(col("variant") === "B", col("n_users"))).as("nb"))
      per.crossJoin(broadcast(tot))
        .select(col("variant"), col("n_users"), col("n_orders"),
          col("mean_cents"),
          expr("abs(na - nb) * 1000000000L DIV nt").as("srm_dev_nano"))
        .orderBy("variant")
    }),

    // Ordered funnel (view -> click -> purchase): per-user first completion
    // time of each step, each strictly after the previous step. All joins
    // and aggregates key on user_id, so one exchange is reused end-to-end.
    "funnel_user_steps" -> ((s, d) => {
      val ev = t(s, d, "events").where(col("user_id") <= 200)
        .select(col("user_id"), expr("ts DIV 1000").as("ts_us"), col("event_type"))
      graft.ops.Funnel.stepTimes(ev, "user_id", "ts_us", "event_type",
        Seq("view", "click", "purchase"))
        .orderBy("user_id")
    }),

    // Funnel summary over ALL users: entities reaching each step.
    "funnel_counts" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), expr("ts DIV 1000").as("ts_us"), col("event_type"))
      val st = graft.ops.Funnel.stepTimes(ev, "user_id", "ts_us", "event_type",
        Seq("view", "click", "purchase"))
      graft.ops.Funnel.counts(st, "user_id").orderBy("step_no")
    }),

    // Daily cohort retention matrix on the sparse purchase slice (the
    // dense all-events log collapses to one cohort): cohort = exact
    // 1-day epoch-nano period of first purchase; cells = distinct users
    // purchasing again N days later, share as truncating integer nanos.
    "cohort_retention" -> ((s, d) =>
      graft.ops.Cohort.retention(
        t(s, d, "events").where(col("event_type") === "purchase"),
        "user_id", "ts", periodNanos = 86400L * 1000000000L)
        .orderBy("cohort_period", "period_offset"))
  )

  protected def graphEventsOracles: Map[String, String] = Map(

    "w5_frames" ->
      """SELECT o_custkey, o_orderkey,
        | cume_dist() OVER w AS cd,
        | first_value(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_ok,
        | last_value(o_orderkey) OVER (w ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS last_ok,
        | nth_value(o_orderkey, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_ok,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |   OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum3
        |FROM orders WHERE o_custkey <= 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "w1_window" ->
      """SELECT o_custkey, o_orderkey,
        | ROW_NUMBER() OVER w AS rn,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders WHERE o_custkey <= 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin,

    "w2_sessionize" ->
      """WITH flagged AS (
        | SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |       THEN 1 ELSE 0 END AS new_session
        | FROM events WHERE user_id <= 200
        | WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |sessions AS (
        | SELECT user_id, event_id, ts_us,
        |  SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        | FROM flagged)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        | COUNT(*) AS n_events,
        | CAST(MIN(ts_us) AS BIGINT) AS start_us, CAST(MAX(ts_us) AS BIGINT) AS end_us
        |FROM sessions GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,

    // NOTE: the split is STRICT `> gap` (inclusive merge) — session_window
    // extends a session for an event landing exactly ON its end; a `>=`
    // here only survives compare while the data has no exactly-gap pair.
    "w3_session_window" ->
      """WITH flagged AS (
        | SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |       THEN 1 ELSE 0 END AS new_session
        | FROM events WHERE user_id <= 200
        | WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |sessions AS (
        | SELECT user_id, event_id, ts_us,
        |  SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        | FROM flagged)
        |SELECT user_id,
        | CAST(MIN(ts_us) AS BIGINT) AS start_us,
        | CAST(MAX(ts_us) + 1800000000 AS BIGINT) AS end_us,
        | COUNT(*) AS n_events
        |FROM sessions GROUP BY user_id, session_seq
        |ORDER BY user_id, start_us""".stripMargin,

    "w4_rank_funcs" ->
      """SELECT c_nationkey, c_custkey,
        | CAST(RANK() OVER w AS BIGINT) AS rnk,
        | CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
        | CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        | LAG(c_custkey, 1) OVER w AS prev_cust,
        | LEAD(c_custkey, 1, -1) OVER w AS next_cust,
        | PERCENT_RANK() OVER w AS pct_rank
        |FROM customer WHERE c_nationkey <= 5
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
        |ORDER BY c_nationkey, rnk, c_custkey""".stripMargin,

    "funnel_user_steps" -> funnelUserStepsSql,

    // identical semantics, streaming execution path on the Spark side,
    "funnel_counts" ->
      """WITH ev AS (
        | SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |s1 AS (
        | SELECT user_id, MIN(ts_us) AS t FROM ev
        | WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        | SELECT e.user_id, MIN(e.ts_us) AS t
        | FROM ev e JOIN s1 ON e.user_id = s1.user_id
        | WHERE e.event_type = 'click' AND e.ts_us > s1.t GROUP BY 1),
        |s3 AS (
        | SELECT e.user_id, MIN(e.ts_us) AS t
        | FROM ev e JOIN s2 ON e.user_id = s2.user_id
        | WHERE e.event_type = 'purchase' AND e.ts_us > s2.t GROUP BY 1)
        |SELECT CAST(1 AS INTEGER) AS step_no, 'step1_view' AS step,
        |       (SELECT COUNT(*) FROM s1) AS n_entities
        |UNION ALL SELECT CAST(2 AS INTEGER), 'step2_click', (SELECT COUNT(*) FROM s2)
        |UNION ALL SELECT CAST(3 AS INTEGER), 'step3_purchase', (SELECT COUNT(*) FROM s3)
        |ORDER BY step_no""".stripMargin,

    // All-integer replay of Cohort.retention: epoch_us*1000 == the
    // engine's nano ts, truncating // == Spark DIV (all values positive).
    "cohort_retention" ->
      """WITH act AS (
        | SELECT DISTINCT user_id AS e,
        |  (epoch_us(ts) * 1000) // 86400000000000 AS pd
        | FROM events WHERE event_type = 'purchase'
        |   AND user_id IS NOT NULL AND ts IS NOT NULL),
        |coh AS (SELECT e, MIN(pd) AS c0 FROM act GROUP BY e),
        |sizes AS (SELECT c0, CAST(COUNT(*) AS BIGINT) AS cohort_size
        |          FROM coh GROUP BY c0),
        |m AS (SELECT c.c0 AS cohort_period, a.pd - c.c0 AS period_offset,
        |        CAST(COUNT(*) AS BIGINT) AS n_active
        |      FROM act a JOIN coh c ON c.e = a.e GROUP BY 1, 2)
        |SELECT m.cohort_period, m.period_offset, m.n_active, s.cohort_size,
        | CAST((m.n_active * 1000000000) // s.cohort_size AS BIGINT)
        |   AS retention_nano
        |FROM m JOIN sizes s ON s.c0 = m.cohort_period
        |ORDER BY cohort_period, period_offset""".stripMargin,

    "attr_last_touch" ->
      """WITH ev AS (
        | SELECT user_id, event_id, epoch_us(ts) AS us, event_type
        | FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL),
        |a AS (
        | SELECT user_id, event_id, us, event_type,
        |  last_value(CASE WHEN event_type <> 'purchase' THEN us END
        |    IGNORE NULLS) OVER w AS attr_us,
        |  last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |    IGNORE NULLS) OVER w AS attr_type
        | FROM ev
        | WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT CASE WHEN attr_us IS NOT NULL
        |   AND us - attr_us <= 604800000000 THEN attr_type
        |  ELSE 'none' END AS channel,
        | CAST(COUNT(*) AS BIGINT) AS n_conversions
        |FROM a WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY channel""".stripMargin,

    "attr_first_touch" ->
      """WITH ev AS (
        | SELECT user_id, event_id, epoch_us(ts) AS us, event_type
        | FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL),
        |a AS (
        | SELECT user_id, event_id, us, event_type,
        |  MIN(CASE WHEN event_type <> 'purchase' THEN
        |    lpad(CAST(us AS VARCHAR), 20, '0') || '|' ||
        |    lpad(CAST(event_id AS VARCHAR), 12, '0') || '|' || event_type
        |   END) OVER (PARTITION BY user_id ORDER BY us
        |     RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)
        |   AS first_touch
        | FROM ev)
        |SELECT CASE WHEN first_touch IS NULL THEN 'none'
        |  ELSE split_part(first_touch, '|', 3) END AS channel,
        | CAST(COUNT(*) AS BIGINT) AS n_conversions
        |FROM a WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY channel""".stripMargin,

    // Full replay of the Markov removal sweep: journey windowing, the
    // nano transition matrix (+ absorbing self-loops), one scenario per
    // channel with edges into it redirected to 'null', and 8 chained
    // per-edge-truncating aggregate rounds. sedges is MATERIALIZED — 8
    // consumers would otherwise re-derive the whole upstream per round.
    "attr_markov" -> {
      val rounds = (1 to 8).map { i =>
        s"""v$i AS (
           | SELECT e.sc, e.t2 AS state,
           |  CAST(SUM(v.m * e.p // 1000000000) AS BIGINT) AS m
           | FROM v${i - 1} v JOIN sedges e ON e.sc = v.sc AND e.f = v.state
           | GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH ev AS (
         | SELECT user_id, epoch_us(ts) AS ord, event_id AS tie,
         |  event_type AS ty
         | FROM events
         | WHERE ts IS NOT NULL AND event_id IS NOT NULL
         |  AND user_id IS NOT NULL AND event_type IS NOT NULL),
         |st AS MATERIALIZED (
         | SELECT ty, lag(ty) OVER w AS prev, lead(ty) OVER w AS next
         | FROM ev
         | WINDOW w AS (PARTITION BY user_id ORDER BY ord, tie)),
         |steps AS (
         | SELECT CASE WHEN prev IS NULL OR prev = 'purchase'
         |             THEN 'start' ELSE prev END AS f,
         |  CASE WHEN ty = 'purchase' THEN 'conv' ELSE ty END AS t
         | FROM st
         | UNION ALL
         | SELECT ty, 'null' FROM st WHERE next IS NULL AND ty <> 'purchase'),
         |cnt AS MATERIALIZED (
         | SELECT f, t, CAST(COUNT(*) AS BIGINT) AS cnt
         | FROM steps GROUP BY 1, 2),
         |tr AS MATERIALIZED (
         | SELECT f, t, cnt * 1000000000 // tot AS p
         | FROM cnt JOIN (SELECT f, CAST(SUM(cnt) AS BIGINT) AS tot
         |                FROM cnt GROUP BY 1) USING (f)
         | UNION ALL SELECT 'conv', 'conv', 1000000000
         | UNION ALL SELECT 'null', 'null', 1000000000),
         |chan AS MATERIALIZED (
         | SELECT DISTINCT f AS c FROM tr
         | WHERE f NOT IN ('start', 'conv', 'null')),
         |scen AS (SELECT 'base' AS sc UNION ALL SELECT c FROM chan),
         |sedges AS MATERIALIZED (
         | SELECT s.sc, t.f,
         |  CASE WHEN t.t = s.sc THEN 'null' ELSE t.t END AS t2, t.p
         | FROM scen s CROSS JOIN tr t),
         |v0 AS (
         | SELECT sc, 'start' AS state, CAST(1000000000 AS BIGINT) AS m
         | FROM scen),
         |$rounds,
         |pc AS MATERIALIZED (
         | SELECT s.sc, COALESCE(v.m, 0) AS p_conv
         | FROM scen s LEFT JOIN v8 v ON v.sc = s.sc AND v.state = 'conv'),
         |base AS (SELECT p_conv AS pb FROM pc WHERE sc = 'base')
         |SELECT c.c AS channel,
         | base.pb AS p_base_nano,
         | pc.p_conv AS p_removed_nano,
         | CASE WHEN base.pb > 0
         |      THEN 1000000000 - pc.p_conv * 1000000000 // base.pb
         | END AS removal_nano
         |FROM chan c
         |JOIN pc ON pc.sc = c.c
         |CROSS JOIN base
         |ORDER BY channel""".stripMargin
    },

    "attr_time_decay" ->
      """WITH ev AS (
        | SELECT user_id, event_id, epoch_us(ts) AS us, event_type
        | FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL),
        |touches AS (
        | SELECT user_id, us AS t_us, event_type AS t_type
        | FROM ev WHERE event_type <> 'purchase'),
        |purch AS (
        | SELECT user_id, event_id AS p_eid, us AS p_us FROM ev
        | WHERE event_type = 'purchase'),
        |pairs AS (
        | SELECT p.user_id, p.p_eid, t.t_type,
        |  (p.p_us - t.t_us) // 86400000000 AS d
        | FROM purch p JOIN touches t ON t.user_id = p.user_id
        |  AND t.t_us BETWEEN p.p_us - 604800000000 AND p.p_us - 1),
        |w AS (
        | SELECT user_id, p_eid, t_type,
        |  1000000000 // (CAST(1 AS BIGINT) << CAST(d AS INT)) AS w_nano
        | FROM pairs),
        |tot AS (
        | SELECT user_id, p_eid, CAST(SUM(w_nano) AS BIGINT) AS tw
        | FROM w GROUP BY 1, 2),
        |cr AS (
        | SELECT w.t_type AS channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
        |  CAST(SUM(w.w_nano * 1000000000 // t.tw) AS BIGINT) AS credit_nano
        | FROM w JOIN tot t ON t.user_id = w.user_id AND t.p_eid = w.p_eid
        | GROUP BY 1),
        |noatt AS (
        | SELECT 'none' AS channel, CAST(0 AS BIGINT) AS n_touches,
        |  CAST(COUNT(*) * 1000000000 AS BIGINT) AS credit_nano
        | FROM purch p WHERE NOT EXISTS (
        |  SELECT 1 FROM pairs x
        |  WHERE x.user_id = p.user_id AND x.p_eid = p.p_eid))
        |SELECT * FROM cr
        |UNION ALL SELECT * FROM noatt
        |ORDER BY channel""".stripMargin,

    "w7_running_distinct" ->
      """WITH days AS (
        | SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day
        | FROM events),
        |fs AS (
        | SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS day
        | FROM events GROUP BY 1),
        |nn AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_new
        |       FROM fs GROUP BY 1)
        |SELECT CAST(d.day AS VARCHAR) AS day,
        | COALESCE(n.n_new, 0) AS n_new,
        | CAST(SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY d.day
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS n_cum
        |FROM days d LEFT JOIN nn n USING (day)
        |ORDER BY day""".stripMargin,

    "w8_ewma" -> {
      // Same 20-term BIGINT weighted sum the engine builds: lag j in
      // cents times 2^(19-j), descaled once by 2^20 * 100.
      val terms = (s"COALESCE(vc, 0) * ${1L << 19}" +:
        (1 until 20).map(j =>
          s"COALESCE(lag(vc, $j) OVER w, 0) * ${1L << (19 - j)}"))
        .mkString(" + ")
      s"""WITH ev AS (
         | SELECT user_id, event_id, epoch_us(ts) AS us,
         |  ${centsSql("value")} AS vc
         | FROM events
         | WHERE ts IS NOT NULL AND event_id IS NOT NULL AND user_id <= 30)
         |SELECT user_id, event_id,
         | CAST($terms AS DOUBLE) / 104857600.0 AS ewma
         |FROM ev
         |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
         |ORDER BY user_id, event_id""".stripMargin
    },

    "ts_rolling_median" ->
      """SELECT user_id, event_id,
        | quantile_cont(value, 0.5) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id, value
        |   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS roll_median
        |FROM events
        |WHERE user_id <= 50 AND ts IS NOT NULL AND event_id IS NOT NULL
        |ORDER BY user_id, event_id""".stripMargin,

    "ts_rolling" ->
      """WITH daily AS (
        | SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS vc
        | FROM events WHERE user_id <= 20 GROUP BY 1, 2),
        |spine AS (
        | SELECT user_id,
        |  unnest(generate_series(mn, mx, INTERVAL 1 DAY))::DATE AS day
        | FROM (SELECT user_id, MIN(day) AS mn, MAX(day) AS mx
        |       FROM daily GROUP BY 1)),
        |j AS (
        | SELECT s.user_id, s.day, d.vc
        | FROM spine s LEFT JOIN daily d USING (user_id, day))
        |SELECT user_id, CAST(day AS VARCHAR) AS day,
        | CAST(SUM(COALESCE(vc, 0)) OVER w AS DOUBLE) / 100 AS roll_sum,
        | CAST(COUNT(vc) OVER w AS BIGINT) AS roll_days
        |FROM j
        |WINDOW w AS (PARTITION BY user_id ORDER BY day
        |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, day""".stripMargin,

    "ts_interp" ->
      """WITH daily AS (
        | SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS v
        | FROM events WHERE user_id <= 20 GROUP BY 1, 2),
        |spine AS (
        | SELECT user_id,
        |  unnest(generate_series(mn, mx, INTERVAL 1 DAY))::DATE AS day
        | FROM (SELECT user_id, MIN(day) AS mn, MAX(day) AS mx
        |       FROM daily GROUP BY 1)),
        |j AS (
        | SELECT s.user_id, s.day, d.v
        | FROM spine s LEFT JOIN daily d USING (user_id, day)),
        |f AS (
        | SELECT user_id, day, v,
        |  last_value(v IGNORE NULLS) OVER wp AS pv,
        |  last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |   OVER wp AS pd,
        |  first_value(v IGNORE NULLS) OVER wn AS nv,
        |  first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |   OVER wn AS nd
        | FROM j
        | WINDOW wp AS (PARTITION BY user_id ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wn AS (PARTITION BY user_id ORDER BY day
        |   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, CAST(day AS VARCHAR) AS day,
        | CASE WHEN v IS NOT NULL THEN v
        |  WHEN pv IS NOT NULL AND nv IS NOT NULL
        |  THEN pv + (nv - pv) *
        |   (CAST(day - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))
        | END AS v_interp
        |FROM f ORDER BY user_id, day""".stripMargin,

    // Gaps-and-islands replay: break where the micros gap EXCEEDS 8h
    // (inclusive merge at == gap, Spark session_window's boundary; NULL
    // lag -> NULL <= g -> ELSE 1, mirroring the engine's when/otherwise),
    // running-sum island ids, session end = last event + gap.
    "ts_sessionize" ->
      """WITH e AS (
        | SELECT user_id, epoch_us(ts) AS us FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |x AS (
        | SELECT user_id, us,
        |  CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
        |        <= 28800000000 THEN 0 ELSE 1 END AS brk
        | FROM e),
        |g AS (
        | SELECT user_id, us,
        |  SUM(brk) OVER (PARTITION BY user_id ORDER BY us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        | FROM x)
        |SELECT user_id,
        | CAST(MIN(us) AS BIGINT) AS session_start_us,
        | CAST(MAX(us) + 28800000000 AS BIGINT) AS session_end_us,
        | CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,

    "ts_gapfill" ->
      """WITH daily AS (
        | SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS v
        | FROM events WHERE user_id <= 20 GROUP BY 1, 2),
        |spine AS (
        | SELECT user_id,
        |  unnest(generate_series(mn, mx, INTERVAL 1 DAY))::DATE AS day
        | FROM (SELECT user_id, MIN(day) AS mn, MAX(day) AS mx
        |       FROM daily GROUP BY 1)),
        |j AS (
        | SELECT s.user_id, s.day, d.n, d.v
        | FROM spine s LEFT JOIN daily d USING (user_id, day))
        |SELECT user_id, CAST(day AS VARCHAR) AS day,
        | COALESCE(n, 0) AS n,
        | last_value(v IGNORE NULLS) OVER (
        |   PARTITION BY user_id ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
        |FROM j ORDER BY user_id, day""".stripMargin,

    "w6_time_range" ->
      """WITH ev AS (
        | SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        | FROM events WHERE user_id <= 100)
        |SELECT event_id, user_id, ts_us,
        | CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE) / 100 AS trail_sum,
        | CAST(COUNT(*) OVER w AS BIGINT) AS trail_n
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "ts_anomaly_mad" ->
      """WITH meds AS (
        | SELECT event_type, quantile_cont(value, 0.5) AS med
        | FROM events GROUP BY 1),
        |d AS (
        | SELECT e.event_id, e.event_type, e.value, m.med
        | FROM events e JOIN meds m USING (event_type)),
        |mads AS (
        | SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
        | FROM d GROUP BY 1)
        |SELECT d.event_id, d.event_type, d.value, d.med, s.mad,
        | (d.value - d.med) / (1.4826 * s.mad) AS robust_z
        |FROM d JOIN mads s USING (event_type)
        |WHERE s.mad > 0
        |  AND abs((d.value - d.med) / (1.4826 * s.mad)) > 3.0
        |ORDER BY event_type, event_id""".stripMargin,

    // Integer division on both sides truncates toward zero (Spark DIV ==
    // DuckDB //, verified on negative operands), so signs agree too.
    "ts_seasonal" ->
      """WITH base AS (
        | SELECT event_type,
        |  ((epoch_us(ts) * 1000) // 86400000000000) % 7 AS dow,
        |  CAST(round(value * 1e9) AS BIGINT) AS v_nano
        | FROM events
        | WHERE ts IS NOT NULL AND value IS NOT NULL
        |   AND event_type IS NOT NULL),
        |seas AS (
        | SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(v_nano) AS sv
        | FROM base GROUP BY 1, 2),
        |gl AS (
        | SELECT event_type, SUM(v_nano) // COUNT(*) AS global_nano
        | FROM base GROUP BY 1),
        |resid AS (
        | SELECT b.event_type, b.dow,
        |  SUM(abs(b.v_nano - s.sv // s.n)) // COUNT(*) AS mad_resid_nano
        | FROM base b JOIN seas s
        |  ON s.event_type = b.event_type AND s.dow = b.dow
        | GROUP BY 1, 2)
        |SELECT s.event_type, s.dow, s.n,
        | CAST(s.sv // s.n AS BIGINT) AS seasonal_nano,
        | CAST(s.sv // s.n - g.global_nano AS BIGINT) AS dev_global_nano,
        | CAST(r.mad_resid_nano AS BIGINT) AS mad_resid_nano
        |FROM seas s
        |JOIN gl g ON g.event_type = s.event_type
        |JOIN resid r ON r.event_type = s.event_type AND r.dow = s.dow
        |ORDER BY s.event_type, s.dow""".stripMargin,

    "ts_cusum" ->
      """WITH ev AS (
        | SELECT event_type, event_id, epoch_us(ts) AS us,
        |  CAST(round(value * 1e9) AS BIGINT) AS v
        | FROM events
        | WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |   AND value IS NOT NULL AND event_type IS NOT NULL),
        |m AS (
        | SELECT event_type, SUM(v) // COUNT(*) AS mean_nano,
        |  CAST(COUNT(*) AS BIGINT) AS n
        | FROM ev GROUP BY 1),
        |cs AS (
        | SELECT e.event_type, e.event_id, m.n,
        |  CAST(SUM(e.v - m.mean_nano) OVER (
        |   PARTITION BY e.event_type ORDER BY e.us, e.event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS cusum
        | FROM ev e JOIN m USING (event_type)),
        |r AS (
        | SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |   ORDER BY abs(cusum) DESC, event_id) AS rn FROM cs)
        |SELECT event_type, n AS n_rows, event_id AS cp_event_id,
        | cusum AS cp_cusum_nano
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "ts_concurrency" ->
      """WITH ev AS (
        | SELECT event_type, epoch_us(ts) AS s_us, event_id FROM events
        | WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |   AND event_type IS NOT NULL),
        |del AS (
        | SELECT event_type, s_us AS t, CAST(1 AS BIGINT) AS d, event_id
        | FROM ev
        | UNION ALL
        | SELECT event_type, s_us + 1800000000, CAST(-1 AS BIGINT), event_id
        | FROM ev),
        |r AS (
        | SELECT event_type, t, event_id,
        |  CAST(SUM(d) OVER (PARTITION BY event_type
        |   ORDER BY t, d, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS run
        | FROM del),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |  ORDER BY run DESC, t, event_id) AS rn FROM r)
        |SELECT event_type, run AS peak_concurrency, t AS peak_t_us
        |FROM rk WHERE rn = 1 ORDER BY event_type""".stripMargin,

    // Shared recursive-CTE replay (see SparkEntry.holtOracleSql).
    "ts_holt" -> holtOracleSql,

    "ts_acf" ->
      """WITH ev AS (
        | SELECT event_type, event_id, epoch_us(ts) AS us,
        |  CAST(round(value) AS BIGINT) AS vu
        | FROM events
        | WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |   AND value IS NOT NULL AND event_type IS NOT NULL),
        |m AS (
        | SELECT event_type, SUM(vu) // COUNT(*) AS mu FROM ev GROUP BY 1),
        |r AS (
        | SELECT e.event_type, (e.vu - m.mu) AS r,
        |  lead(e.vu - m.mu, 1) OVER w AS r1,
        |  lead(e.vu - m.mu, 2) OVER w AS r2,
        |  lead(e.vu - m.mu, 3) OVER w AS r3
        | FROM ev e JOIN m USING (event_type)
        | WINDOW w AS (PARTITION BY e.event_type ORDER BY e.us, e.event_id)),
        |a AS (
        | SELECT event_type, SUM(r*r) AS den,
        |  SUM(r*r1) AS num1, CAST(COUNT(r1) AS BIGINT) AS c1,
        |  SUM(r*r2) AS num2, CAST(COUNT(r2) AS BIGINT) AS c2,
        |  SUM(r*r3) AS num3, CAST(COUNT(r3) AS BIGINT) AS c3
        | FROM r GROUP BY 1),
        |l AS (
        | SELECT event_type, CAST(1 AS BIGINT) AS lag, num1 AS num,
        |  c1 AS n_pairs, den FROM a
        | UNION ALL SELECT event_type, 2, num2, c2, den FROM a
        | UNION ALL SELECT event_type, 3, num3, c3, den FROM a)
        |SELECT event_type, lag, n_pairs,
        | CASE WHEN den > 0
        |      THEN CAST(num * 1000000000 // den AS BIGINT) END AS acf_nano
        |FROM l ORDER BY event_type, lag""".stripMargin,

    "graph_triangles" ->
      """WITH raw AS (
        | SELECT p_partkey AS src, (p_partkey * 31 + 7) % 1000 AS dst
        | FROM part WHERE p_partkey <= 1000
        | UNION ALL
        | SELECT p_partkey, (p_partkey * 17 + 3) % 1000
        | FROM part WHERE p_partkey <= 1000),
        |e AS (
        | SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        | FROM raw WHERE src <> dst AND src IS NOT NULL AND dst IS NOT NULL),
        |tri AS (
        | SELECT ab.a AS x, ab.b AS y, bc.b AS z
        | FROM e ab JOIN e bc ON bc.a = ab.b
        |  JOIN e ac ON ac.a = ab.a AND ac.b = bc.b),
        |pern AS (
        | SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |  SELECT x AS id FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri) GROUP BY 1),
        |nodes AS (
        | SELECT DISTINCT src AS id FROM raw WHERE src IS NOT NULL
        | UNION SELECT dst FROM raw WHERE dst IS NOT NULL)
        |SELECT n.id, COALESCE(p.n, 0) AS n_triangles
        |FROM nodes n LEFT JOIN pern p USING (id)
        |ORDER BY id""".stripMargin,

    "graph_clustering_coeff" ->
      """WITH raw AS (
        | SELECT p_partkey AS src, (p_partkey * 31 + 7) % 1000 AS dst
        | FROM part WHERE p_partkey <= 1000
        | UNION ALL
        | SELECT p_partkey, (p_partkey * 17 + 3) % 1000
        | FROM part WHERE p_partkey <= 1000),
        |e AS (
        | SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        | FROM raw WHERE src <> dst AND src IS NOT NULL AND dst IS NOT NULL),
        |tri AS (
        | SELECT ab.a AS x, ab.b AS y, bc.b AS z
        | FROM e ab JOIN e bc ON bc.a = ab.b
        |  JOIN e ac ON ac.a = ab.a AND ac.b = bc.b),
        |pern AS (
        | SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |  SELECT x AS id FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri) GROUP BY 1),
        |nodes AS (
        | SELECT DISTINCT src AS id FROM raw WHERE src IS NOT NULL
        | UNION SELECT dst FROM raw WHERE dst IS NOT NULL),
        |ntri AS (
        | SELECT n.id, COALESCE(p.n, 0) AS n_triangles
        | FROM nodes n LEFT JOIN pern p USING (id)),
        |deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM
        |         (SELECT a AS id FROM e UNION ALL SELECT b FROM e)
        |        GROUP BY 1)
        |SELECT t.id, d.deg, t.n_triangles,
        | CASE WHEN d.deg >= 2 THEN CAST(t.n_triangles * 2000000000
        |   // (d.deg * (d.deg - 1)) AS BIGINT) END AS coeff_nano
        |FROM ntri t JOIN deg d ON d.id = t.id
        |ORDER BY t.id""".stripMargin,

    "graph_pagerank" ->
      """WITH e AS (
        | SELECT p_partkey AS src, (p_partkey * 31 + 7) % 1000 AS dst
        | FROM part WHERE p_partkey <= 1000
        | UNION ALL
        | SELECT p_partkey, (p_partkey * 17 + 3) % 1000
        | FROM part WHERE p_partkey <= 1000),
        |nodes AS (SELECT DISTINCT id FROM
        | (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
        |r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS r FROM nodes),
        |s1 AS (SELECT e.dst AS id, CAST(SUM(r0.r // o.outdeg) AS BIGINT) AS s
        |       FROM e JOIN r0 ON r0.id = e.src JOIN outdeg o ON o.src = e.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT n.id, 150000000 + (85 * COALESCE(s1.s, 0)) // 100 AS r
        |       FROM nodes n LEFT JOIN s1 USING (id)),
        |s2 AS (SELECT e.dst AS id, CAST(SUM(r1.r // o.outdeg) AS BIGINT) AS s
        |       FROM e JOIN r1 ON r1.id = e.src JOIN outdeg o ON o.src = e.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT n.id, 150000000 + (85 * COALESCE(s2.s, 0)) // 100 AS r
        |       FROM nodes n LEFT JOIN s2 USING (id))
        |SELECT id, CAST(r AS DOUBLE) / 1000000000.0 AS pagerank
        |FROM r2 ORDER BY id""".stripMargin,

    "graph_katz" ->
      """WITH e AS (
        | SELECT p_partkey AS src, (p_partkey * 31 + 7) % 1000 AS dst
        | FROM part WHERE p_partkey <= 1000
        | UNION ALL
        | SELECT p_partkey, (p_partkey * 17 + 3) % 1000
        | FROM part WHERE p_partkey <= 1000),
        |nodes AS (SELECT DISTINCT id FROM
        | (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |x0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS x FROM nodes),
        |s1 AS (SELECT e.dst AS id, CAST(SUM(x0.x) AS BIGINT) AS s
        |       FROM e JOIN x0 ON x0.id = e.src GROUP BY e.dst),
        |x1 AS (SELECT n.id, 1000000000 + COALESCE(s1.s, 0) // 2 AS x
        |       FROM nodes n LEFT JOIN s1 USING (id)),
        |s2 AS (SELECT e.dst AS id, CAST(SUM(x1.x) AS BIGINT) AS s
        |       FROM e JOIN x1 ON x1.id = e.src GROUP BY e.dst),
        |x2 AS (SELECT n.id, 1000000000 + COALESCE(s2.s, 0) // 2 AS x
        |       FROM nodes n LEFT JOIN s2 USING (id)),
        |s3 AS (SELECT e.dst AS id, CAST(SUM(x2.x) AS BIGINT) AS s
        |       FROM e JOIN x2 ON x2.id = e.src GROUP BY e.dst),
        |x3 AS (SELECT n.id, 1000000000 + COALESCE(s3.s, 0) // 2 AS x
        |       FROM nodes n LEFT JOIN s3 USING (id))
        |SELECT id, CAST(x AS BIGINT) AS x_nano FROM x3 ORDER BY id""".stripMargin,

    // Mirrored double expression trees over exact HUGEINT sufficient
    // sums cast to double once (the a18_regression discipline).
    "ab_cuped" ->
      s"""WITH per AS (
        | SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'view'
        |    THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |    AS x,
        |  CAST(SUM(CASE WHEN event_type = 'purchase'
        |    THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |    AS y
        | FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        | GROUP BY user_id),
        |pv AS (
        | SELECT x, y,
        |  CASE WHEN ${hash60Sql("CAST(user_id AS VARCHAR)")} % 100 < 50
        |       THEN 'A' ELSE 'B' END AS variant
        | FROM per),
        |g AS (
        | SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS DOUBLE) AS sxx,
        |  CAST(SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS DOUBLE) AS sxy,
        |  CAST(SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS DOUBLE) AS syy
        | FROM pv),
        |arm AS (
        | SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sxa,
        |  CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sya
        | FROM pv GROUP BY 1)
        |SELECT a.variant, a.n_users,
        | ROUND(sya / CAST(n_users AS DOUBLE), 9) AS mean_y,
        | ROUND(sxa / CAST(n_users AS DOUBLE), 9) AS mean_x,
        | ROUND(sya / CAST(n_users AS DOUBLE)
        |   - (CAST(n AS DOUBLE) * sxy - sx * sy)
        |   / NULLIF(CAST(n AS DOUBLE) * sxx - sx * sx, 0.0)
        |   * (sxa / CAST(n_users AS DOUBLE) - sx / CAST(n AS DOUBLE)), 9)
        |   AS mean_y_adj,
        | ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
        |   / NULLIF(CAST(n AS DOUBLE) * sxx - sx * sx, 0.0), 9) AS theta,
        | ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
        |   * (CAST(n AS DOUBLE) * sxy - sx * sy)
        |   / NULLIF((CAST(n AS DOUBLE) * sxx - sx * sx)
        |   * (CAST(n AS DOUBLE) * syy - sy * sy), 0.0), 9) AS r2
        |FROM arm a CROSS JOIN g
        |ORDER BY a.variant""".stripMargin,

    // HITS replay: HUGEINT raw sums mirror the Spark DECIMAL(38,0)
    // accumulators; `//` and DIV both truncate, all mass is nonnegative.
    "graph_hits" ->
      """WITH e AS (
        | SELECT p_partkey AS src, (p_partkey * 31 + 7) % 1000 AS dst
        | FROM part WHERE p_partkey <= 1000
        | UNION ALL
        | SELECT p_partkey, (p_partkey * 17 + 3) % 1000
        | FROM part WHERE p_partkey <= 1000),
        |nodes AS (SELECT DISTINCT id FROM
        | (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |h0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS h FROM nodes),
        |a1r AS (SELECT e.dst AS id, CAST(SUM(h0.h) AS HUGEINT) AS ar
        |        FROM e JOIN h0 ON h0.id = e.src GROUP BY e.dst),
        |a1t AS (SELECT SUM(ar) AS t FROM a1r),
        |a1 AS (SELECT n.id,
        |        CAST(COALESCE(a1r.ar * 1000000000 // a1t.t, 0) AS BIGINT) AS a
        |       FROM nodes n LEFT JOIN a1r USING (id) CROSS JOIN a1t),
        |h1r AS (SELECT e.src AS id, CAST(SUM(a1.a) AS HUGEINT) AS hr
        |        FROM e JOIN a1 ON a1.id = e.dst GROUP BY e.src),
        |h1t AS (SELECT SUM(hr) AS t FROM h1r),
        |h1 AS (SELECT n.id,
        |        CAST(COALESCE(h1r.hr * 1000000000 // h1t.t, 0) AS BIGINT) AS h
        |       FROM nodes n LEFT JOIN h1r USING (id) CROSS JOIN h1t),
        |a2r AS (SELECT e.dst AS id, CAST(SUM(h1.h) AS HUGEINT) AS ar
        |        FROM e JOIN h1 ON h1.id = e.src GROUP BY e.dst),
        |a2t AS (SELECT SUM(ar) AS t FROM a2r),
        |a2 AS (SELECT n.id,
        |        CAST(COALESCE(a2r.ar * 1000000000 // a2t.t, 0) AS BIGINT) AS a
        |       FROM nodes n LEFT JOIN a2r USING (id) CROSS JOIN a2t),
        |h2r AS (SELECT e.src AS id, CAST(SUM(a2.a) AS HUGEINT) AS hr
        |        FROM e JOIN a2 ON a2.id = e.dst GROUP BY e.src),
        |h2t AS (SELECT SUM(hr) AS t FROM h2r),
        |h2 AS (SELECT n.id,
        |        CAST(COALESCE(h2r.hr * 1000000000 // h2t.t, 0) AS BIGINT) AS h
        |       FROM nodes n LEFT JOIN h2r USING (id) CROSS JOIN h2t)
        |SELECT a2.id, a2.a AS auth_nano, h2.h AS hub_nano
        |FROM a2 JOIN h2 ON h2.id = a2.id
        |ORDER BY a2.id""".stripMargin,

    "mine_pairs" ->
      """WITH it AS (
        | SELECT DISTINCT user_id, event_type FROM events WHERE user_id <= 500)
        |SELECT a.event_type AS item_a, b.event_type AS item_b,
        | CAST(COUNT(*) AS BIGINT) AS support
        |FROM it a JOIN it b
        | ON a.user_id = b.user_id AND a.event_type < b.event_type
        |GROUP BY 1, 2 HAVING COUNT(*) >= 10
        |ORDER BY item_a, item_b""".stripMargin,

    // Same (ts, event_id, event_type) total order — ts is a timestamp
    // here and epoch nanos on the Spark side, a monotone equivalence.
    "mine_transitions" ->
      """WITH ev AS (
        | SELECT user_id, ts, event_id, event_type FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  AND event_type IS NOT NULL AND event_id IS NOT NULL),
        |seq AS (
        | SELECT event_type AS src,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id, event_type) AS dst
        | FROM ev),
        |trans AS (
        | SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
        | FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT src, CAST(SUM(n) AS BIGINT) AS n_src
        |        FROM trans GROUP BY 1)
        |SELECT src, dst, n, CAST(n AS DOUBLE) / CAST(n_src AS DOUBLE) AS p
        |FROM trans JOIN tot USING (src)
        |ORDER BY src, dst""".stripMargin,

    "mine_trigrams" ->
      """WITH ev AS (
        | SELECT user_id, ts, event_id, event_type FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  AND event_type IS NOT NULL AND event_id IS NOT NULL),
        |seq AS (
        | SELECT user_id, event_type AS e1,
        |  lead(event_type, 1) OVER w AS e2,
        |  lead(event_type, 2) OVER w AS e3
        | FROM ev
        | WINDOW w AS (PARTITION BY user_id
        |   ORDER BY ts, event_id, event_type))
        |SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n_occ,
        | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY e1, e2, e3""".stripMargin,

    "mine_assoc_rules" ->
      """WITH it AS (
        | SELECT DISTINCT user_id, event_type FROM events WHERE user_id <= 500),
        |items AS (
        | SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_item
        | FROM it GROUP BY 1),
        |nb AS (
        | SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_baskets FROM it),
        |p AS (
        | SELECT a.event_type AS antecedent, b.event_type AS consequent,
        |  CAST(COUNT(*) AS BIGINT) AS support
        | FROM it a JOIN it b
        |  ON a.user_id = b.user_id AND a.event_type <> b.event_type
        | GROUP BY 1, 2 HAVING COUNT(*) >= 10)
        |SELECT antecedent, consequent, support,
        | ia.n_item AS n_a, ic.n_item AS n_c,
        | support * 1000000000 // ia.n_item AS conf_nano,
        | support * nb.n_baskets * 1000000000 // (ia.n_item * ic.n_item)
        |   AS lift_nano
        |FROM p
        |JOIN items ia ON ia.event_type = p.antecedent
        |JOIN items ic ON ic.event_type = p.consequent
        |CROSS JOIN nb
        |ORDER BY antecedent, consequent""".stripMargin,

    "graph_ppr" ->
      """WITH e AS (
        | SELECT p_partkey AS src, (p_partkey * 31 + 7) % 1000 AS dst
        | FROM part WHERE p_partkey <= 1000
        | UNION ALL
        | SELECT p_partkey, (p_partkey * 17 + 3) % 1000
        | FROM part WHERE p_partkey <= 1000),
        |nodes AS (SELECT DISTINCT id FROM
        | (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
        |           FROM e GROUP BY src),
        |r0 AS (SELECT id, CASE WHEN id < 10
        |         THEN CAST(1000000000 AS BIGINT)
        |         ELSE CAST(0 AS BIGINT) END AS r
        |       FROM nodes),
        |s1 AS (SELECT e.dst AS id, CAST(SUM(r0.r // o.outdeg) AS BIGINT) AS s
        |       FROM e JOIN r0 ON r0.id = e.src JOIN outdeg o ON o.src = e.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT n.id, CASE WHEN n.id < 10
        |         THEN 150000000 ELSE 0 END
        |         + (85 * COALESCE(s1.s, 0)) // 100 AS r
        |       FROM nodes n LEFT JOIN s1 USING (id)),
        |s2 AS (SELECT e.dst AS id, CAST(SUM(r1.r // o.outdeg) AS BIGINT) AS s
        |       FROM e JOIN r1 ON r1.id = e.src JOIN outdeg o ON o.src = e.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT n.id, CASE WHEN n.id < 10
        |         THEN 150000000 ELSE 0 END
        |         + (85 * COALESCE(s2.s, 0)) // 100 AS r
        |       FROM nodes n LEFT JOIN s2 USING (id))
        |SELECT id, CAST(r AS DOUBLE) / 1000000000.0 AS ppr
        |FROM r2 ORDER BY id""".stripMargin,

    "graph_jaccard_links" ->
      """WITH base AS (
        | SELECT p_partkey AS src, (p_partkey * 31 + 7) % 1000 AS dst
        | FROM part WHERE p_partkey <= 1000
        | UNION ALL
        | SELECT p_partkey, (p_partkey * 17 + 3) % 1000
        | FROM part WHERE p_partkey <= 1000),
        |e AS (
        | SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        | FROM base
        | WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
        |adj AS (SELECT a AS id, b AS nb FROM e
        |        UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg
        |        FROM adj GROUP BY id),
        |com AS (
        | SELECT u.id AS id_a, v.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common
        | FROM adj u JOIN adj v ON u.nb = v.nb AND u.id < v.id
        | GROUP BY 1, 2),
        |cand AS (
        | SELECT c.* FROM com c
        | WHERE NOT EXISTS (SELECT 1 FROM e
        |                   WHERE e.a = c.id_a AND e.b = c.id_b)),
        |scored AS (
        | SELECT cand.id_a, cand.id_b, cand.n_common,
        |  da.deg AS deg_a, db.deg AS deg_b,
        |  (cand.n_common * 1000000000) // (da.deg + db.deg - cand.n_common)
        |    AS jacc_nano
        | FROM cand
        |  JOIN deg da ON da.id = cand.id_a
        |  JOIN deg db ON db.id = cand.id_b),
        |top AS (
        | SELECT * FROM scored ORDER BY jacc_nano DESC, id_a, id_b LIMIT 50)
        |SELECT * FROM top ORDER BY id_a, id_b""".stripMargin,

    // Replays labelPropagation round-by-round: synchronous min-tie-break
    // updates are pure functions of the previous round, so three chained
    // (freq -> argmax) CTE pairs reproduce the engine bit-exactly.
    "graph_label_prop" ->
      """WITH raw AS (
        | SELECT p_partkey AS src, (p_partkey * 31 + 7) % 1000 AS dst
        | FROM part WHERE p_partkey <= 1000
        | UNION ALL
        | SELECT p_partkey, (p_partkey * 17 + 3) % 1000
        | FROM part WHERE p_partkey <= 1000),
        |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |      FROM raw WHERE src <> dst),
        |adj AS (SELECT a AS id, b AS nb FROM e
        |        UNION ALL SELECT b, a FROM e),
        |l0 AS (SELECT DISTINCT id, id AS label FROM adj),
        |f1 AS (SELECT adj.id, l.label, COUNT(*) AS cnt
        |       FROM adj JOIN l0 l ON l.id = adj.nb GROUP BY adj.id, l.label),
        |l1 AS (SELECT id, label FROM (
        |        SELECT id, label, ROW_NUMBER() OVER
        |          (PARTITION BY id ORDER BY cnt DESC, label) AS rn FROM f1)
        |       WHERE rn = 1),
        |f2 AS (SELECT adj.id, l.label, COUNT(*) AS cnt
        |       FROM adj JOIN l1 l ON l.id = adj.nb GROUP BY adj.id, l.label),
        |l2 AS (SELECT id, label FROM (
        |        SELECT id, label, ROW_NUMBER() OVER
        |          (PARTITION BY id ORDER BY cnt DESC, label) AS rn FROM f2)
        |       WHERE rn = 1),
        |f3 AS (SELECT adj.id, l.label, COUNT(*) AS cnt
        |       FROM adj JOIN l2 l ON l.id = adj.nb GROUP BY adj.id, l.label),
        |l3 AS (SELECT id, label FROM (
        |        SELECT id, label, ROW_NUMBER() OVER
        |          (PARTITION BY id ORDER BY cnt DESC, label) AS rn FROM f3)
        |       WHERE rn = 1),
        |spine AS (SELECT DISTINCT id FROM
        | (SELECT src AS id FROM raw UNION ALL SELECT dst FROM raw))
        |SELECT s.id, COALESCE(l3.label, s.id) AS label
        |FROM spine s LEFT JOIN l3 ON l3.id = s.id
        |ORDER BY s.id""".stripMargin,

    "graph_kcore" ->
      """WITH raw AS (
        | SELECT p_partkey AS src, (p_partkey * 31 + 7) % 1000 AS dst
        | FROM part WHERE p_partkey <= 1000
        | UNION ALL
        | SELECT p_partkey, (p_partkey * 17 + 3) % 1000
        | FROM part WHERE p_partkey <= 1000),
        |e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |       FROM raw WHERE src <> dst),
        |d1 AS (SELECT id, COUNT(*) AS deg FROM
        |        (SELECT a AS id FROM e0 UNION ALL SELECT b FROM e0)
        |       GROUP BY 1),
        |k1 AS (SELECT id FROM d1 WHERE deg >= 2),
        |e1 AS (SELECT a, b FROM e0
        |       WHERE a IN (SELECT id FROM k1) AND b IN (SELECT id FROM k1)),
        |d2 AS (SELECT id, COUNT(*) AS deg FROM
        |        (SELECT a AS id FROM e1 UNION ALL SELECT b FROM e1)
        |       GROUP BY 1),
        |k2 AS (SELECT id FROM d2 WHERE deg >= 2),
        |e2 AS (SELECT a, b FROM e1
        |       WHERE a IN (SELECT id FROM k2) AND b IN (SELECT id FROM k2)),
        |d3 AS (SELECT id, COUNT(*) AS deg FROM
        |        (SELECT a AS id FROM e2 UNION ALL SELECT b FROM e2)
        |       GROUP BY 1),
        |k3 AS (SELECT id FROM d3 WHERE deg >= 2),
        |e3 AS (SELECT a, b FROM e2
        |       WHERE a IN (SELECT id FROM k3) AND b IN (SELECT id FROM k3)),
        |dF AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM
        |        (SELECT a AS id FROM e3 UNION ALL SELECT b FROM e3)
        |       GROUP BY 1),
        |spine AS (SELECT DISTINCT id FROM
        | (SELECT src AS id FROM raw UNION ALL SELECT dst FROM raw))
        |SELECT s.id, COALESCE(dF.deg, 0) AS deg_end,
        | COALESCE(dF.deg, 0) >= 2 AS in_core
        |FROM spine s LEFT JOIN dF ON dF.id = s.id
        |ORDER BY s.id""".stripMargin,

    // Replays the label-prop chain (graph_label_prop's CTEs), then the
    // exact integer modularity aggregation.
    "graph_modularity" ->
      """WITH raw AS (
        | SELECT p_partkey AS src, (p_partkey * 31 + 7) % 1000 AS dst
        | FROM part WHERE p_partkey <= 1000
        | UNION ALL
        | SELECT p_partkey, (p_partkey * 17 + 3) % 1000
        | FROM part WHERE p_partkey <= 1000),
        |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |      FROM raw WHERE src <> dst),
        |adj AS (SELECT a AS id, b AS nb FROM e
        |        UNION ALL SELECT b, a FROM e),
        |l0 AS (SELECT DISTINCT id, id AS label FROM adj),
        |f1 AS (SELECT adj.id, l.label, COUNT(*) AS cnt
        |       FROM adj JOIN l0 l ON l.id = adj.nb GROUP BY adj.id, l.label),
        |l1 AS (SELECT id, label FROM (
        |        SELECT id, label, ROW_NUMBER() OVER
        |          (PARTITION BY id ORDER BY cnt DESC, label) AS rn FROM f1)
        |       WHERE rn = 1),
        |f2 AS (SELECT adj.id, l.label, COUNT(*) AS cnt
        |       FROM adj JOIN l1 l ON l.id = adj.nb GROUP BY adj.id, l.label),
        |l2 AS (SELECT id, label FROM (
        |        SELECT id, label, ROW_NUMBER() OVER
        |          (PARTITION BY id ORDER BY cnt DESC, label) AS rn FROM f2)
        |       WHERE rn = 1),
        |f3 AS (SELECT adj.id, l.label, COUNT(*) AS cnt
        |       FROM adj JOIN l2 l ON l.id = adj.nb GROUP BY adj.id, l.label),
        |l3 AS (SELECT id, label FROM (
        |        SELECT id, label, ROW_NUMBER() OVER
        |          (PARTITION BY id ORDER BY cnt DESC, label) AS rn FROM f3)
        |       WHERE rn = 1),
        |spine AS (SELECT DISTINCT id FROM
        | (SELECT src AS id FROM raw UNION ALL SELECT dst FROM raw)),
        |lbl AS (SELECT s.id, COALESCE(l3.label, s.id) AS label
        |        FROM spine s LEFT JOIN l3 ON l3.id = s.id),
        |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
        |tg AS (SELECT e.a, e.b, la.label AS la, lb.label AS lb
        |       FROM e JOIN lbl la ON la.id = e.a
        |       JOIN lbl lb ON lb.id = e.b),
        |ein AS (SELECT la AS community, CAST(COUNT(*) AS BIGINT) AS e_in
        |        FROM tg WHERE la = lb GROUP BY 1),
        |degc AS (SELECT community, CAST(COUNT(*) AS BIGINT) AS deg_sum
        |         FROM (SELECT la AS community FROM tg
        |               UNION ALL SELECT lb FROM tg) GROUP BY 1)
        |SELECT d.community, COALESCE(ein.e_in, 0) AS e_in, d.deg_sum,
        | CAST((4 * mm.m * COALESCE(ein.e_in, 0) - d.deg_sum * d.deg_sum)
        |   * 1000000000 // (4 * mm.m * mm.m) AS BIGINT) AS contrib_nano
        |FROM degc d LEFT JOIN ein ON ein.community = d.community
        |CROSS JOIN mm
        |ORDER BY d.community""".stripMargin,

    "graph_assortativity" ->
      """WITH raw AS (
        | SELECT p_partkey AS src, (p_partkey * 31 + 7) % 300 AS dst
        | FROM part WHERE p_partkey <= 300
        | UNION ALL
        | SELECT p_partkey, (p_partkey * 17 + 3) % 300
        | FROM part WHERE p_partkey <= 300),
        |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |      FROM raw WHERE src <> dst),
        |adj AS (SELECT a AS id, b AS nb FROM e
        |        UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg
        |        FROM adj GROUP BY 1),
        |pairs AS (
        | SELECT dx.deg AS dx, dy.deg AS dy
        | FROM adj JOIN deg dx ON dx.id = adj.id
        | JOIN deg dy ON dy.id = adj.nb),
        |agg AS (
        | SELECT CAST(COUNT(*) AS BIGINT) AS m2,
        |  CAST(SUM(dx) AS BIGINT) AS sx,
        |  CAST(SUM(dx * dx) AS BIGINT) AS sxx,
        |  CAST(SUM(dx * dy) AS BIGINT) AS sxy
        | FROM pairs)
        |SELECT m2, sx, sxx, sxy,
        | CAST((m2 * sxy - sx * sx) * 1000000000
        |   // (m2 * sxx - sx * sx) AS BIGINT) AS r_nano
        |FROM agg""".stripMargin,

    // adj is MATERIALIZED: a recursive member re-derives every upstream
    // CTE per iteration otherwise (the emb_pca trap).
    "graph_bfs" ->
      """WITH RECURSIVE raw AS (
        | SELECT p_partkey AS src, (p_partkey * 31 + 7) % 1000 AS dst
        | FROM part WHERE p_partkey <= 1000
        | UNION ALL
        | SELECT p_partkey, (p_partkey * 17 + 3) % 1000
        | FROM part WHERE p_partkey <= 1000),
        |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |      FROM raw WHERE src <> dst),
        |adj AS MATERIALIZED (SELECT a AS id, b AS nb FROM e
        |       UNION ALL SELECT b, a FROM e),
        |seeds AS (SELECT DISTINCT p_partkey AS id FROM part
        |          WHERE p_partkey < 10),
        |walk(id, d) AS (
        | SELECT id, CAST(0 AS BIGINT) FROM seeds
        | UNION
        | SELECT a.nb, w.d + 1 FROM walk w JOIN adj a ON a.id = w.id
        | WHERE w.d < 4),
        |dist AS (SELECT id, MIN(d) AS dist FROM walk GROUP BY 1),
        |spine AS (SELECT DISTINCT id FROM
        | (SELECT src AS id FROM raw UNION ALL SELECT dst FROM raw))
        |SELECT s.id, COALESCE(dist.dist, -1) AS dist
        |FROM spine s LEFT JOIN dist ON dist.id = s.id
        |ORDER BY s.id""".stripMargin,

    "hier_closure" ->
      """WITH RECURSIVE e AS (
        | SELECT p_partkey AS id,
        |  CASE WHEN p_partkey > 0 THEN p_partkey // 4 END AS parent
        | FROM part WHERE p_partkey <= 2000),
        |walk AS (
        | SELECT id, id AS anc, CAST(0 AS BIGINT) AS depth, CAST(id AS VARCHAR) AS path
        | FROM e
        | UNION ALL
        | SELECT w.id, p.parent, w.depth + 1, CAST(p.parent AS VARCHAR) || '/' || w.path
        | FROM walk w JOIN e p ON p.id = w.anc AND p.parent IS NOT NULL)
        |SELECT id, anc AS root, depth, path FROM walk w
        |WHERE NOT EXISTS (
        | SELECT 1 FROM e p WHERE p.id = w.anc AND p.parent IS NOT NULL)
        |ORDER BY id""".stripMargin,

    "hier_rollup" ->
      """WITH RECURSIVE e AS (
        | SELECT p_partkey AS id,
        |  CASE WHEN p_partkey >= 4 THEN p_partkey // 4 END AS parent
        | FROM part WHERE p_partkey <= 2000),
        |walk AS (
        | SELECT id, id AS anc, CAST(0 AS BIGINT) AS depth FROM e
        | UNION ALL
        | SELECT w.id, p.parent, w.depth + 1
        | FROM walk w JOIN e p ON p.id = w.anc AND p.parent IS NOT NULL),
        |rp AS (
        | SELECT id, anc AS root, depth FROM walk w
        | WHERE NOT EXISTS (
        |  SELECT 1 FROM e p WHERE p.id = w.anc AND p.parent IS NOT NULL)),
        |v AS (
        | SELECT p_partkey AS id,
        |  CAST(round(p_retailprice * 100) AS BIGINT) AS vc
        | FROM part WHERE p_partkey <= 2000)
        |SELECT rp.root, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        | CAST(MAX(rp.depth) AS BIGINT) AS max_depth,
        | CAST(SUM(v.vc) AS BIGINT) AS total_cents
        |FROM rp JOIN v ON v.id = rp.id
        |GROUP BY 1 ORDER BY root""".stripMargin,

    "ab_assign_srm" ->
      s"""WITH o AS (
         | SELECT o_custkey,
         |  CAST(round(o_totalprice * 100) AS BIGINT) AS pc,
         |  CASE WHEN (${hash60Sql("CAST(o_custkey AS VARCHAR)")} % 100) < 50
         |       THEN 'A' ELSE 'B' END AS variant
         | FROM orders WHERE o_custkey IS NOT NULL),
         |per AS (
         | SELECT variant, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_users,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders,
         |  CAST(SUM(pc) // COUNT(*) AS BIGINT) AS mean_cents
         | FROM o GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS nt,
         | MAX(CASE WHEN variant = 'A' THEN n_users END) AS na,
         | MAX(CASE WHEN variant = 'B' THEN n_users END) AS nb FROM per)
         |SELECT variant, n_users, n_orders, mean_cents,
         | CAST(abs(na - nb) * 1000000000 // nt AS BIGINT) AS srm_dev_nano
         |FROM per CROSS JOIN tot ORDER BY variant""".stripMargin
  )
}
