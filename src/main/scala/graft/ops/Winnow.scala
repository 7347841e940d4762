package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.plans.Hash60

/** Winnowing document fingerprints (public algorithm: Schleimer,
  * Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
  * Fingerprinting", SIGMOD 2003 — the MOSS fingerprinter).
  *
  * Over each document's ordered k-gram hash sequence, every window of
  * `window` consecutive hashes selects its minimum (rightmost on ties);
  * the distinct selections are the document's fingerprints. Guarantees:
  * any shared substring of at least `window + k - 1` tokens produces at
  * least one shared fingerprint (no false negatives for long matches),
  * while the expected density is only 2/(window+1) of the grams — the
  * property that makes fingerprint-join contamination checks feasible at
  * corpus scale where raw-shingle joins are not.
  *
  * Relational formulation shared by the engine and the DuckDB oracle:
  * pack each gram's (hash, position) into one BIGINT key,
  * `h32 * 2^31 + (2^31 - 1 - pos)`, so that MIN(key) over the window
  * frame IS "min hash, rightmost position on ties" — one frame-bounded
  * window aggregate per gram row, no per-window explosion. The 60-bit
  * stable hash is truncated to its top 32 bits to keep the packed key in
  * BIGINT range on both engines.
  */
object Winnow {

  /** Ordered k-gram rows (1-based `pos`) — [[Text.wordShingles]] minus the
    * distinct-ification, which would break window adjacency. Docs shorter
    * than k tokens yield one whole-text gram; empty docs yield no rows.
    */
  private def orderedGrams(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    val toks = Text.tokens(col(textCol))
    val n = size(toks)
    val seq = when(n === 0, array().cast("array<string>"))
      .when(n < k, array(concat_ws(" ", toks)))
      .otherwise(Text.kGramWindows(toks, k))
    df.select(col(idCol).as("id"), posexplode(seq).as(Seq("pos0", "gram")))
      .select(col("id"), (col("pos0") + 1).cast("long").as("pos"), col("gram"))
  }

  /** Winnowed fingerprints: (id, fp, fp_pos) — the selected gram-hash
    * (top 32 bits of the 60-bit stable hash) and its 1-based gram
    * position. Docs with fewer than `window` grams contribute one
    * truncated window (their global min) so every non-empty doc has at
    * least one fingerprint.
    *
    * Scale shape: one shuffle by document id for the two window
    * aggregates (frame-bounded MIN and the per-doc gram count), then a
    * map-side decode + distinct. Fingerprint density is 2/(window+1) of
    * the gram count, so downstream joins touch ~an order of magnitude
    * fewer keys than shingle-level joins.
    */
  def fingerprints(df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 2, window: Int = 4): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val grams = orderedGrams(graft.core.Graft.spread(df), textCol, idCol,
      shingleK)
    val h32 = shiftrightunsigned(Hash60(col("gram")), 28)
    val posCap = lit((1L << 31) - 1)
    val key = h32 * lit(1L << 31) + (posCap - col("pos"))
    val frame = Window.partitionBy("id").orderBy("pos")
      .rowsBetween(Window.currentRow, window - 1)
    val whole = Window.partitionBy("id")
    grams.select(col("id"), col("pos"), key.as("key"))
      .withColumn("wmin", min("key").over(frame))
      .withColumn("n", count(lit(1)).over(whole))
      // valid window starts: full windows, plus one truncated window at
      // pos 1 for docs with fewer than `window` grams
      .where(col("pos") <= col("n") - (window - 1) || col("pos") === 1)
      .select(col("id"),
        shiftrightunsigned(col("wmin"), 31).as("fp"),
        (posCap - col("wmin").bitwiseAND(posCap)).as("fp_pos"))
      .distinct()
  }

  /** Document pairs sharing at least `minShared` distinct fingerprint
    * hashes — the contamination / near-dup screen winnowing exists for.
    *
    * Single-computation pair generation (same guard rails as
    * [[Dedup.ngramJaccardPairs]]): the fingerprint pipeline is planned
    * once (one linear plan — no self-join that would re-plan the text
    * pipeline per side, no checkpoint, no broadcast); a count window
    * caps fingerprint document frequency at `maxFpDf` (a fingerprint in
    * d docs contributes d^2^ pairs — hot boilerplate fingerprints carry
    * no discriminative signal and would otherwise dominate pair
    * generation at corpus scale); and candidate pairs come from TWO
    * chained codegen explodes of each surviving fingerprint's doc list
    * (cross product + `id_a < id_b`). That replaces the previous nested
    * interpreted transform/slice pair expansion: 2x the generated rows
    * (d^2^ vs d^2^/2 per fingerprint, both `maxFpDf`-bounded) but zero
    * interpreted lambdas and zero per-pair array-slice copies — the
    * whole expansion runs in whole-stage codegen. Measured ~78% of the
    * list form at sf0.1 and its passes are the most stable of the three
    * shapes probed (OPTIMIZATION_r14.md §15; a
    * checkpoint-pinned self-join variant tied at sf0.1/sf1 locally but
    * needs a corpus-fingerprint-sized checkpoint + broadcast at scale,
    * so the linear form ships). Parity exact at sf0.1.
    */
  def sharedPairs(df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 2, window: Int = 4, minShared: Int = 2,
      maxFpDf: Int = 10000): DataFrame = {
    require(maxFpDf >= 2, "maxFpDf < 2 would drop every shared fingerprint")
    val fps = fingerprints(df, textCol, idCol, shingleK, window)
      .select(col("id"), col("fp")).distinct()
    val pruned = fps
      .withColumn("__df", count(lit(1)).over(Window.partitionBy("fp")))
      .where(col("__df") <= maxFpDf)
    val grouped = pruned.groupBy("fp")
      .agg(collect_list(col("id")).as("lst"))
    grouped.select(explode(col("lst")).as("id_a"), col("lst"))
      .select(col("id_a"), explode(col("lst")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }
}
