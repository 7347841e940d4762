package graft.quality

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality operators, mirroring the reference's runtime checks (they
  * are product features there, not tests — SURVEY.md §5.1).
  */
object DataQuality {

  /** Per-column completeness profile
    * (reference load_nursing_home_data.py:20-36): for every column,
    * row_count, non_null_count, pct_not_null rounded to 2 (0 for an empty
    * table — the reference's explicit guard at :26).
    *
    * DOCUMENTED DIVERGENCE on rounding: pct_not_null uses integer HALF-UP
    * rounding, while the reference's Python `round()`
    * (load_nursing_home_data.py:26) is banker's HALF-EVEN on
    * exactly-representable .xx5 fractions (e.g. 1/32 -> 3.12 there,
    * 3.13 here). Deliberate: the integer form is engine-independent (the
    * DuckDB oracle reproduces it bit-for-bit, where ROUND(double) ULP
    * noise would not be), and the affected inputs are exact .xx5 ratios
    * only.
    *
    * Single pass: one aggregate computes count(*) plus count(col) for every
    * column (map-side partials; no per-column jobs), then unpivots to long
    * form on the driver-sized 1-row result.
    */
  def completeness(df: DataFrame, tableName: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cols = df.columns.toSeq
    val aggs = count(lit(1)).as("__total") +:
      cols.map(c => count(col(c)).as(s"__nn_$c"))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      struct(lit(c).as("column_name"), col("__total").as("row_count"),
        col(s"__nn_$c").as("non_null_count"))
    }
    wide.select(explode(array(stacked: _*)).as("s"))
      .select(
        lit(tableName).as("table_name"),
        $"s.column_name",
        $"s.row_count",
        $"s.non_null_count",
        when($"s.row_count" === 0, lit(0.0)) // :26 empty-table guard
          // integer half-up rounding to 2dp: ROUND(double, 2) can disagree
          // across engines on exactly-representable .xx5 fractions
          .otherwise(expr(
            "CAST((s.non_null_count * 10000 + s.row_count DIV 2) DIV s.row_count AS DOUBLE) / 100"))
          .as("pct_not_null"))
  }

  /** Natural-key duplicate audit (reference build.py:39-53): key groups with
    * count > 1; status ok/warn; a bounded JSON sample of offending keys.
    * Returns (auditRow, duplicateGroups), both lazy: building them runs no
    * Spark job, and one action on the audit row computes all of it. The
    * group count and the sample (the first `sampleN` groups in key order,
    * each row as its `toJSON` string) read the same group-by, so AQE
    * reuses its exchange.
    */
  def duplicateAudit(spark: SparkSession, df: DataFrame, tableName: String,
      naturalKey: Seq[String], sampleN: Int = 5): (DataFrame, DataFrame) = {
    val keys = naturalKey.map(col)
    val dups = df.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"))
      .where(col("n") > 1)
    // bounded, deterministic sample — never a full collect. collect_list
    // keeps no order, so each row's JSON rides with its keys and sort_array
    // (ascending, nulls first, as orderBy) puts the list back in key order.
    val json = to_json(struct(dups.columns.toSeq.map(col): _*)).as("__json")
    val sample = dups.orderBy(keys: _*).limit(sampleN)
      .agg(sort_array(collect_list(struct(keys :+ json: _*))).as("s"))
    val audit = dups.agg(count(lit(1)).as("duplicate_groups")).crossJoin(sample)
      .select(
        lit(tableName).as("table_name"),
        lit(naturalKey.mkString(",")).as("natural_key"),
        col("duplicate_groups"),
        when(col("duplicate_groups") > 0, "warn").otherwise("ok").as("status"),
        concat(lit("["), array_join(col("s.__json"), ","), lit("]")).as("sample_json"),
        current_timestamp().as("created_at")) // build.py:23
    (audit, dups)
  }

  /** Malformed-ROW ingest audit — the row-level sibling of the
    * reference's value-level coercions and of [[duplicateAudit]]
    * (build.py:39-53): the reference silently relies on pandas to accept
    * whatever the CSV yields, so a torn row (wrong token count, unparsable
    * key) vanishes without a trace. Here the scan reads PERMISSIVE with an
    * explicit `_corrupt_record` channel and ONE aggregate over the same
    * scan reports (n_rows, n_clean, n_corrupt, n_key_parsed,
    * first_corrupt) — no second read, no row materialization; at 100 TB
    * this is a map-side counter pass like [[completeness]].
    *
    * The per-column `n_parsed_*` counts are both a real audit signal
    * (which field tears) and LOAD-BEARING: the CSV parser only validates
    * the columns a query references (column pruning reaches the parser),
    * so an aggregate touching only the corrupt channel would miss a row
    * whose unreferenced field fails to parse — and Spark outright rejects
    * queries whose only referenced column is the internal corrupt-record
    * channel. Referencing every data column forces full-row validation.
    * `first_corrupt` is the lexicographic min raw payload — a bounded,
    * deterministic sample of what tore.
    */
  def corruptRecordAudit(spark: SparkSession, glob: String,
      schemaDdl: String): DataFrame = {
    val df = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schemaDdl + ", _corrupt_record STRING")
      .csv(glob)
    val dataCols = df.columns.filterNot(_ == "_corrupt_record").toSeq
    val aggs = Seq(
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - count(col("_corrupt_record"))).as("n_clean"),
      count(col("_corrupt_record")).as("n_corrupt")) ++
      dataCols.map(c => count(col(c)).as(s"n_parsed_$c")) :+
      min(col("_corrupt_record")).as("first_corrupt")
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Population Stability Index per key group — the standard drift
    * monitor between a reference and a current slice of a metric column
    * (banking/ML-ops folklore; see e.g. Siddiqi, "Credit Risk
    * Scorecards", ch. 10). Buckets are the REFERENCE slice's per-key
    * `nBuckets`-quantiles (exact R-7 percentile, the discipline
    * a11_percentiles proved cross-engine); each row lands in
    * `count(bounds < value)`; shares are eps-floored so empty buckets
    * contribute a finite penalty instead of infinity; and
    * PSI = sum_b (p_b - q_b) * ln(p_b / q_b) with the ln from
    * [[graft.plans.MathLn]] (bit-matches DuckDB) and the 10-term sum
    * folded in bucket order (collect_list + sort_array + aggregate, the
    * unigram-LM discipline) so it replays exactly.
    *
    * Scale shape: one groupBy for the per-key bounds (k×(nBuckets-1)
    * doubles, broadcast back), one map-side bucket assignment, one
    * (key, bucket) hash aggregate — the corpus crosses the wire once.
    * Keys with an empty current slice get a NULL psi (n_cur = 0 marks
    * why); NULL keys drop at the bounds join on both engines.
    */
  def psiDrift(df: DataFrame, keyCol: String, valueCol: String,
      isRefCol: String, nBuckets: Int = 10, eps: Double = 1e-6): DataFrame = {
    val qs = (1 until nBuckets).map(i => i.toDouble / nBuckets)
    val bounds = df.where(col(isRefCol))
      .groupBy(keyCol)
      .agg(expr(s"percentile($valueCol, array(${qs.mkString(",")}))")
        .as("bounds"))
    val bucketed = df.join(broadcast(bounds), Seq(keyCol))
      .select(col(keyCol), col(isRefCol).as("is_ref"),
        size(filter(col("bounds"), b => col(valueCol) > b)).as("bucket"))
    val counts = bucketed.groupBy(col(keyCol), col("bucket"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("cr"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cc"))
    val totals = counts.groupBy(keyCol)
      .agg(sum("cr").as("nr"), sum("cc").as("nc"))
    def share(c: Column, n: Column): Column =
      greatest(c.cast("double") / n.cast("double"), lit(eps))
    val terms = counts.join(broadcast(totals), Seq(keyCol))
      .select(col(keyCol), col("bucket"), col("nr"), col("nc"),
        ((share(col("cr"), col("nr")) - share(col("cc"), col("nc"))) *
          graft.plans.MathLn(
            share(col("cr"), col("nr")) / share(col("cc"), col("nc"))))
          .as("term"))
    terms.groupBy(keyCol)
      .agg(max("nr").as("n_ref"), max("nc").as("n_cur"),
        aggregate(
          sort_array(collect_list(struct(col("bucket"), col("term")))),
          lit(0.0), (acc, x) => acc + x.getField("term")).as("psi_raw"))
      .select(col(keyCol), col("n_ref"), col("n_cur"),
        when(col("n_cur") > 0, col("psi_raw")).as("psi"))
  }

  /** Referential-integrity (foreign-key orphan) audit: one report row per
    * checked FK — non-null child rows, rows whose key has no match in the
    * parent, distinct orphan keys, and the smallest orphan key as a
    * deterministic bounded witness (NULL when the FK holds). NULL child
    * keys are skipped, matching SQL FK semantics (a NULL FK is not a
    * violation).
    *
    * Shape at scale: the parent side reduces to its distinct key column
    * before the join (map-side combine), so the probe is key-against-key —
    * broadcast when the parent is a dim, shuffle hash join otherwise; the
    * verdict is a single map-side-partial aggregate over the joined frame.
    * One job per FK; no row data is collected.
    */
  def fkOrphans(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String, fkName: String): DataFrame = {
    val pk = parent.select(col(parentKey).as(childKey))
      .where(col(childKey).isNotNull).distinct()
      .withColumn("__hit", lit(1))
    child.where(col(childKey).isNotNull)
      .select(col(childKey)).join(pk, Seq(childKey), "left")
      .agg(
        count(lit(1)).as("child_rows"),
        sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("orphan_rows"),
        count_distinct(when(col("__hit").isNull, col(childKey)))
          .as("orphan_keys"),
        // min in the key's native type, cast AFTER: a lexicographic
        // string-min diverges from numeric min on mixed digit lengths
        min(when(col("__hit").isNull, col(childKey))).cast("string")
          .as("min_orphan_key"))
      .select(lit(fkName).as("fk_name"), col("child_rows"),
        col("orphan_rows"), col("orphan_keys"), col("min_orphan_key"))
  }

  /** Benford first-significant-digit profile of a positive numeric column —
    * the classic fabricated-data / unit-drift smell test. Values snap to
    * exact hundredth units first (`round(|x|*100)` as BIGINT — the corpus
    * cents discipline, cross-engine bit-stable), which leaves the first
    * significant digit of anything >= 0.01 unchanged; zeros drop out. The
    * digit comes from the integer's decimal string, shares and deviations
    * are truncating integer nanos against hardcoded round(log10(1+1/d)*1e9)
    * expectations, and a 9-row digit spine guarantees every digit reports
    * even at count 0.
    *
    * Shape at scale: one map-side-partial hash aggregate to 9 groups, then
    * arithmetic against a broadcast 9-row spine — no wide shuffle anywhere.
    */
  def benfordDigits(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // round(log10(1 + 1/d) * 1e9) for d = 1..9
    val expected = Seq(1L -> 301029996L, 2L -> 176091259L, 3L -> 124938737L,
      4L -> 96910013L, 5L -> 79181246L, 6L -> 66946790L, 7L -> 57991947L,
      8L -> 51152522L, 9L -> 45757491L)
    val spine = expected.toDF("digit", "expected_nano")
    val counts = df
      .select(round(abs(col(valueCol)) * 100).cast("long").as("u"))
      .where(col("u") >= 1)
      .select(substring(col("u").cast("string"), 1, 1).cast("long")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").as("total"))
    spine.join(counts, Seq("digit"), "left").crossJoin(broadcast(total))
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        expr("coalesce(n, 0L) * 1000000000L DIV total").as("share_nano"),
        col("expected_nano"))
      .withColumn("dev_nano", abs(col("share_nano") - col("expected_nano")))
  }

  /** Functional-dependency audit: determinant values that map to MORE than
    * one distinct dependent combination — i.e. violations of the FD
    * determinant -> dependent (schema-normalization / merge-corruption
    * check). Reports each violating determinant with its row count and the
    * number of distinct dependent variants; an empty result means the FD
    * holds. Dependent NULLs count as one variant only when a dependent
    * column is non-null somewhere in the struct (count-distinct semantics
    * over the packed struct, identical in the SQL replay).
    *
    * Shape at scale: a single hash aggregate keyed on the determinant with
    * map-side partials; no join, no window.
    */
  def fdViolations(df: DataFrame, determinant: Seq[String],
      dependent: Seq[String]): DataFrame = {
    // Single dependent column stays bare so count_distinct skips NULLs the
    // way SQL COUNT(DISTINCT x) does; a multi-column dependent packs into a
    // struct, where a NULL member still forms a (counted) variant — the SQL
    // row-value replay agrees, but the two shapes differ on NULLs.
    val dep = if (dependent.sizeIs == 1) col(dependent.head)
      else struct(dependent.map(col): _*)
    df.groupBy(determinant.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        count_distinct(dep).as("n_variants"))
      .where(col("n_variants") > 1)
  }
}
