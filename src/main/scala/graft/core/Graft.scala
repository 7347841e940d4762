package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session tuning + table access shared by every query entry point.
  *
  * The engine targets a multi-executor cluster at ~100 TB; locally we get
  * `local[N]`. Everything here is safe under both: AQE handles runtime
  * re-planning (skew joins, partition coalescing), broadcast joins pick up
  * small dimensions automatically, and ANSI mode is disabled to match the
  * reference's coerce-to-null cast semantics
  * (reference: build.py:29-37 `errors='coerce'`).
  */
object Graft {

  /** Idempotent runtime tuning applied at the top of every query/pipeline.
    * The driver harness builds its own SparkSession (without these), so the
    * library must not rely on builder-time config.
    */
  def tune(spark: SparkSession): SparkSession = {
    val c = spark.conf
    // Reference semantics: failed casts yield NULL, never errors
    // (build.py:31-32 pd.to_numeric(errors='coerce')).
    c.set("spark.sql.ansi.enabled", "false")
    c.set("spark.sql.session.timeZone", "UTC")
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // 10 MB default is conservative; dims like region/nation/customer are
    // broadcastable well past sf0.1. At cluster scale AQE re-checks at runtime.
    c.set("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
    // Parquet TIMESTAMP(NANOS) (e.g. the events table) is rejected by the
    // vanilla reader; read as long and convert with [[nanosToTimestamp]].
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Spark 4's default ICU case mapping is kept AS-IS: the r14
    // interleaved A/B (OPTIMIZATION_r14.md §9 — flag flipped between
    // fresh-plan fused passes in one session) measured icu=off at
    // 101%/105% of icu=on for text_profile/dedup_minhash, i.e. no real
    // win — the CollationAwareUTF8String path keeps the isFullAscii fast
    // path, so only non-ASCII docs ever reach ICU. The native whitespace_tokens
    // expression captures this flag at plan time exactly like Lower, so
    // native and declarative lowering stay bit-identical under either
    // setting.
    spark
  }

  /** Convert a nanos-since-epoch long column (see nanosAsLong above) to a
    * proper timestamp. Integer division — ns epochs exceed 2^53 and would
    * lose precision through a double.
    */
  def nanosToTimestamp(colName: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(s"timestamp_micros($colName DIV 1000)")

  /** Restore the events-table contract — `ts` is epoch-NANOS BIGINT — no
    * matter how the parquet encodes it. Older driver data wrote
    * TIMESTAMP(NANOS), which the vanilla reader surfaces as long via
    * `nanosAsLong`; newer data writes timestamp[us], which Spark reads as
    * TIMESTAMP_NTZ. Every downstream plan (and the DuckDB oracle's
    * `epoch_us(ts)` twin arithmetic) is written against the nanos-long
    * shape, so normalize at the source instead of branching per query.
    * Session timezone is pinned to UTC in [[tune]], so the NTZ→instant
    * cast is the identity the oracle sees.
    */
  def tsToNanos(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts") match {
      case Some(f) if f.dataType == org.apache.spark.sql.types.TimestampNTZType ||
          f.dataType == org.apache.spark.sql.types.TimestampType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr(
            "unix_micros(cast(ts as timestamp)) * 1000"))
      case _ => df
    }

  /** Read one of the driver's parquet tables from a scale-factor dir. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    tune(spark)
    tsToNanos(spark.read.parquet(s"$sfDir/$name.parquet"))
  }

  /** Spread a DataFrame across all cores before a CPU-heavy map stage.
    * Small single-file tables scan as ONE partition, serializing per-row
    * work (hashing, shingling, vector math) onto one core; the round-robin
    * repartition costs one tiny shuffle and buys full parallelism. No-op
    * when the input is already split enough (the 100 TB case — file splits
    * provide natural parallelism).
    *
    * The decision reads only analysis-time metadata — an existing
    * repartition in the plan, or the leaf file count — never
    * `df.rdd.getNumPartitions`, which would force eager physical planning
    * of the query once per call (and plan it AGAIN at execution),
    * defeating AQE.
    */
  def spread(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}
    val target = df.sparkSession.sparkContext.defaultParallelism
    val analyzed = df.queryExecution.analyzed
    val alreadySpread = analyzed.collectFirst {
      case r: Repartition => r
      case r: RepartitionByExpression => r
    }.isDefined
    // Leaf file count ~ scan parallelism floor. (A multi-row-group file
    // can split further; the heuristic only risks one redundant tiny
    // shuffle, never a lost-parallelism plan.)
    if (alreadySpread || df.inputFiles.length >= target) df
    else df.repartition(target)
  }

  /** Gather a small DataFrame into one partition (the dual of [[spread]])
    * so the aggregates and sorts above it need no exchange: a
    * `SinglePartition` child satisfies every clustered, all-tuples and
    * ordered distribution, so the query plans no shuffle, no range-sample
    * job and no AQE stage boundary, and runs as one Spark job. For a small
    * interactive read that fixed per-stage dispatch, not the data, is the
    * cost.
    *
    * The bound is Spark's own `spark.sql.files.openCostInBytes` (4 MB by
    * default): a file source that small is already scanned as one split
    * per file, so gathering it gives up no scan parallelism. Larger and
    * streaming inputs are returned unchanged and keep the distributed
    * plan. Like [[spread]] the decision reads only logical statistics,
    * never `df.rdd.getNumPartitions`.
    */
  def gather(df: DataFrame): DataFrame =
    if (!df.isStreaming && df.queryExecution.optimizedPlan.stats.sizeInBytes <=
        df.sparkSession.sessionState.conf.filesOpenCostInBytes) df.coalesce(1)
    else df
}
