package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.core.Counters
import graft.functions.{StableHash, Text, Vectors}

/** Deduplication operators for LLM-training-data pipelines (north-star
  * extensions, BASELINE.json). All are single-pass, shuffle-on-key designs:
  * the only shuffles are the groupBy on the (small) digest/bucket keys, so
  * they scale linearly with input and never collect to the driver (save
  * [[Dedup.clusterNearDups]]' edge sets under the broadcast threshold).
  */
object Dedup {

  /** Exact dedup by content digest. One shuffle on the 128-bit digest;
    * keeps the lowest id per group (deterministic winner).
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(md5(col(textCol)).as("digest"), col(idCol))
      .groupBy("digest")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Survivors of exact dedup (the canonical rows). */
  def exactSurvivors(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = exact(df, textCol, idCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Mersenne prime 2^31-1: the affine-reseed modulus. Keeps every product
    * below 2^62 — no 64-bit overflow, so Spark and SQL engines agree exactly.
    */
  val MinhashP = 2147483647L

  /** Deterministic affine coefficients (a_j, b_j) for hash family j. */
  def minhashCoeffs(j: Int): (Long, Long) =
    ((1103515245L * (j + 1) + 12345L) % MinhashP | 1L,
      (1013904223L * (j + 1) + 7L) % MinhashP)

  /** MinHash signatures: ONE md5 per shingle (the expensive part), then
    * `numHashes` cheap affine reseedings h_j = (a_j*h + b_j) mod p, min'd
    * per doc. The select boundary materializes the base-hash array once —
    * without it Catalyst would re-derive the md5s per hash function.
    * Pure map-side; no shuffle until the LSH band grouping.
    */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, shingleK: Int): DataFrame =
    signaturesFromShingles(
      graft.core.Graft.spread(df)
        .select(col(idCol), Text.wordShingles(col(textCol), shingleK)
          .as("__sh")),
      idCol, "__sh", numHashes)

  /** [[minhashSignatures]] over a pre-computed shingle frame — the entry
    * the fuzzy composite uses so its pinned (id, shingles) frame feeds
    * signatures AND the verify joins from ONE corpus tokenize pass.
    * Value-identical to the text path (same hash60 + affine reseedings).
    */
  private def signaturesFromShingles(sh: DataFrame, idCol: String,
      shCol: String, numHashes: Int): DataFrame = {
    val baseHashes = transform(col(shCol),
      s => pmod(StableHash.hash60(s), lit(MinhashP)))
    val hashed = sh.select(col(idCol), baseHashes.as("__hs"))
    val sigs = (0 until numHashes).map { j =>
      val (a, b) = minhashCoeffs(j)
      coalesce(
        array_min(transform(col("__hs"), h => pmod(h * a + b, lit(MinhashP)))),
        lit(Long.MaxValue))
    }
    hashed.select(col(idCol), array(sigs: _*).as("sig"))
  }

  /** The banded (id, band, bucket) frame behind every minhash-LSH
    * consumer: signatures cut into `bands` bands of r rows, bucket =
    * md5 of the band's slice. Map-side only.
    */
  private def minhashBanded(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, bands: Int, shingleK: Int): DataFrame =
    bandedFromSignatures(
      minhashSignatures(df, textCol, idCol, numHashes, shingleK),
      idCol, numHashes, bands)

  private def bandedFromSignatures(sigs: DataFrame, idCol: String,
      numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    sigs.select(col(idCol), posexplode(
        array((0 until bands).map(b =>
          md5(concat_ws(",", slice(col("sig"), b * r + 1, r)))): _*))
        .as(Seq("band", "bucket")))
  }

  /** Per-(band, bucket) member COUNTS, uncapped — the observability frame
    * behind band-tuning reports (`dedup_minhash_band_stats`) and the
    * hot-bucket audit. No member lists: one hash aggregate with map-side
    * partial combine, only (band, bucket, count) on the wire, so it sees
    * the TRUE hottest bucket at any scale — which the capped candidate
    * frame, by design, no longer carries.
    */
  def minhashBucketCounts(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16, bands: Int = 4, shingleK: Int = 3): DataFrame =
    minhashBanded(df, textCol, idCol, numHashes, bands, shingleK)
      .groupBy("band", "bucket")
      .agg(count(lit(1)).as("n_members"))

  /** MinHash+LSH near-dup candidates: docs sharing any band-hash land in
    * a bucket. Output: one row per (band, bucket) with its member ids —
    * buckets with >1 member are the near-dup candidate sets. Shuffle key
    * is (band, bucket-hash): uniform by construction, skew-free at scale.
    *
    * Hot-bucket guard (`maxBucket`, the [[simhashHammingPairs]]
    * discipline): near-identical boilerplate that survives exact dedup
    * (templated pages, every-empty-doc signatures) can put arbitrarily
    * many docs in one bucket, and a bucket of n docs costs n^2 downstream
    * pairs — buckets above the cap are dropped from candidate generation.
    * The member collect itself is the cap-bounded [[BoundedIdListAgg]]
    * (per-group state stops growing at cap+1 ids), so the hot bucket
    * never materializes an unbounded list inside the aggregate — the
    * failure mode a post-agg filter cannot prevent. Recall loss is
    * audited, never silent: [[minhashBucketAudit]] counts the suppressed
    * buckets / rows / pairs from the uncapped count frame.
    */
  def minhashBuckets(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16, bands: Int = 4, shingleK: Int = 3,
      maxBucket: Int = 1024): DataFrame =
    bucketsFromBanded(
      minhashBanded(df, textCol, idCol, numHashes, bands, shingleK),
      df, idCol, maxBucket)

  /** [[minhashBuckets]]' aggregate stage over a pre-computed banded frame;
    * `ids` supplies the id dtype (and, on the non-integral rail, the
    * surrogate dictionary) — `df` for the public path, the fuzzy
    * composite's pinned shingle frame otherwise.
    */
  private def bucketsFromBanded(banded: DataFrame, ids: DataFrame,
      idCol: String, maxBucket: Int): DataFrame = {
    require(maxBucket >= 2, "maxBucket < 2 would drop every candidate bucket")
    val df = ids
    val integralId = df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    if (integralId)
      banded.groupBy("band", "bucket")
        .agg(udaf(new BoundedIdListAgg(maxBucket))
          .apply(col(idCol).cast("long")).as("__bc"))
        .select(col("band"), col("bucket"),
          // the aggregate widens to long internally; surface the caller's
          // declared id type so member_ids element type never drifts
          col("__bc._1")
            .cast(org.apache.spark.sql.types.ArrayType(
              df.schema(idCol).dataType))
            .as("member_ids"),
          col("__bc._2").as("n_members"))
        .where(col("n_members") > 1 && col("n_members") <= maxBucket)
    else {
      // Non-integral ids (digests, urls) ride the SAME bounded rail via a
      // long surrogate: the aggregate collects hash60(id) (map-side, no
      // dictionary pass), surviving (1 < n <= cap) buckets explode their
      // surrogates — a cap-bounded stream — and join the real ids back
      // from a distinct (surrogate, id) dictionary; the re-collect is
      // bounded by the cap by construction. No unbounded per-group state
      // anywhere on this route. Residual risk: a hash60 collision between
      // two ids (~n^2/2^61) can surface a spurious member; downstream
      // [[minhashPairs]] verification (true shingle Jaccard) filters it.
      val sid = StableHash.hash60(col(idCol).cast("string"))
      val dict = df
        .select(StableHash.hash60(col(idCol).cast("string")).as("__sid"),
          col(idCol).as("__rid"))
        .distinct()
      banded.groupBy("band", "bucket")
        .agg(udaf(new BoundedIdListAgg(maxBucket)).apply(sid).as("__bc"))
        .select(col("band"), col("bucket"),
          col("__bc._1").as("__sids"), col("__bc._2").as("n_members"))
        .where(col("n_members") > 1 && col("n_members") <= maxBucket)
        .select(col("band"), col("bucket"), col("n_members"),
          explode(col("__sids")).as("__sid"))
        .join(dict, Seq("__sid"))
        .groupBy("band", "bucket", "n_members")
        .agg(array_distinct(sort_array(collect_list(col("__rid"))))
          .as("member_ids"))
        .select("band", "bucket", "member_ids", "n_members")
    }
  }

  /** Recall-loss audit for [[minhashBuckets]]' hot-bucket rail: ONE row
    * `(n_buckets, n_dropped_buckets, n_dropped_rows, n_dropped_pairs)`
    * over the uncapped per-bucket count histogram — buckets the cap
    * suppresses from candidate generation, the signature entries inside
    * them, and the within-bucket pairs n(n-1)/2 they would have fanned
    * into. A non-zero drop count separates "clean corpus" from "reduced
    * recall" when the capped pair join comes back sparse. Same
    * no-silent-caps contract as [[simhashBucketAudit]]: a standalone
    * query over the uncapped histogram (the corpus entry
    * `dedup_minhash_bucket_audit`, replayed by its DuckDB twin), run when
    * the caller asks for it rather than on every operator call.
    */
  def minhashBucketAudit(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16, bands: Int = 4, shingleK: Int = 3,
      maxBucket: Int = 1024): DataFrame =
    minhashBucketCounts(df, textCol, idCol, numHashes, bands, shingleK)
      .select(col("n_members").as("n"))
      .agg(count(lit(1)).as("n_buckets"),
        overCap(col("n"), maxBucket, lit(1L)).as("n_dropped_buckets"),
        overCap(col("n"), maxBucket, col("n")).as("n_dropped_rows"),
        overCap(col("n"), maxBucket, expr("n * (n - 1) DIV 2"))
          .as("n_dropped_pairs"))

  /** The drop sums of the capped-rail audits: Σ `v` over the histogram
    * rows whose count `n` is over `cap`, 0 when none is.
    */
  private def overCap(n: Column, cap: Int, v: Column): Column =
    coalesce(sum(when(n > cap, v).otherwise(0L)), lit(0L))

  /** Verified near-dup pairs: LSH candidates re-checked with true shingle
    * Jaccard >= `threshold`. The verify join is bucket-local (candidates
    * only), not all-pairs — the property that makes near-dup feasible at
    * 100 TB.
    */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16, bands: Int = 4, shingleK: Int = 3,
      threshold: Double = 0.7, maxBucket: Int = 1024): DataFrame = {
    val buckets = minhashBuckets(df, textCol, idCol, numHashes, bands,
      shingleK, maxBucket)
    val pairs = buckets
      .select(explode(col("member_ids")).as("id_a"), col("member_ids"))
      .select(col("id_a"), explode(col("member_ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .distinct()
    val sh = df.select(col(idCol), Text.wordShingles(col(textCol), shingleK).as("sh"))
    pairs
      .join(sh.withColumnRenamed(idCol, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed(idCol, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** One-call fuzzy dedup: exact dedup by digest, then MinHash-LSH
    * near-dup pairs among the exact survivors, connected-component
    * clustering, and finally one canonical row per cluster (minimum id).
    * The composite of the individually-verified stages — what a
    * training-data pipeline actually calls.
    */
  def fuzzyDedup(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16, bands: Int = 8, shingleK: Int = 3,
      threshold: Double = 0.7, maxBucket: Int = 1024): DataFrame = {
    val (_, _, _, comps) = fuzzyStages(df, textCol, idCol,
      numHashes, bands, shingleK, threshold, maxBucket)
    val keep = comps.where(col("id") === col("component"))
      .select(col("id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Shared core of [[fuzzyDedup]] / [[fuzzyDedupReport]]: exact
    * survivors -> ONE pinned (id, shingles) frame -> buckets ->
    * candidate pairs -> Jaccard-verified pairs -> components.
    *
    * The pin (eager localCheckpoint after [[graft.core.Graft.spread]])
    * is the r14 one-corpus-pass move: composed lazily, the stages
    * re-derived exactSurvivors + wordShingles per consumer — signatures,
    * BOTH verify-join sides and the component id set each re-planned the
    * scan/tokenize/digest chain (48 static scans in the dedup_fuzzy
    * corpus entry, 75 in the audit; subtrees prune differently per
    * consumer, so AQE stage reuse cannot collapse them). Now the corpus
    * is scanned, exact-deduped and shingled exactly once; everything
    * downstream consumes the pinned rows (shuffle exchanges 28 -> 14 /
    * 32 -> 12, probe 96% / 78% at sf0.1). At scale the pin materializes
    * one (id, shingles) frame — the price of NOT re-running three full
    * corpus tokenize+digest passes; it spills to disk via the
    * localCheckpoint storage level rather than holding executors to
    * memory-only.
    *
    * Returns (pinned shingle frame, candidate pairs, verified pairs,
    * components) — value-identical per stage to the public single-stage
    * operators ([[minhashBuckets]], [[minhashPairs]]) by construction:
    * same shingles, same affine reseedings, same bounded-bucket rail,
    * same verify join, same clustering.
    */
  private def fuzzyStages(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, bands: Int, shingleK: Int, threshold: Double,
      maxBucket: Int): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val exactSurv = exactSurvivors(df, textCol, idCol)
    val sh = graft.core.Graft.spread(exactSurv)
      .select(col(idCol), Text.wordShingles(col(textCol), shingleK)
        .as("__sh"))
      .localCheckpoint(true)
    val buckets = bucketsFromBanded(
      bandedFromSignatures(
        signaturesFromShingles(sh, idCol, "__sh", numHashes),
        idCol, numHashes, bands),
      sh, idCol, maxBucket)
    val candPairs = buckets
      .select(explode(col("member_ids")).as("id_a"), col("member_ids"))
      .select(col("id_a"), explode(col("member_ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .distinct()
    val verified = candPairs
      .join(sh.select(col(idCol).as("id_a"), col("__sh").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("__sh").as("sh_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    val comps = clusterNearDups(sh.select(col(idCol)), verified, idCol)
    (sh, candPairs, verified, comps)
  }

  /** 32-bit SimHash over word tokens: bit b of the fingerprint is the sign of
    * sum over tokens of (+1 if bit b of stableHash(token) else -1).
    * Map-side only; near-dups share fingerprints (or low Hamming distance).
    */
  def simhash(text: Column, bits: Int = 32): Column = {
    val toks = Text.tokens(text)
    val hashes = transform(toks, t => StableHash.hash60(t))
    val bitCols = (0 until bits).map { b =>
      val votes = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, b) % 2 === 1, 1L).otherwise(-1L))
      when(votes > 0, lit(1L << b)).otherwise(lit(0L))
    }
    when(size(toks) === 0, lit(0L)).otherwise(bitCols.reduce(_ + _))
  }

  /** SimHash near-dup pairs via the pigeonhole block join (Manku,
    * Jain & Das Sarma 2007, WWW — "Detecting near-duplicates for web
    * crawling"): split the `bits`-bit fingerprint into `blocks`
    * contiguous chunks; any pair within Hamming distance
    * `maxHamming` < `blocks` must agree EXACTLY on at least one chunk,
    * so candidates come from hash buckets keyed on (chunk index, chunk
    * value) and only bucket-mates pay the exact xor-popcount verify —
    * never all-pairs, the same candidate-bounding discipline as
    * [[minhashPairs]] bands.
    *
    * Hot-bucket guard (`maxBucket`): a degenerate fingerprint region
    * (e.g. the all-zero sig every empty doc maps to) would contribute
    * n² pairs from one bucket; buckets above the cap are dropped from
    * candidate generation — deterministic, replayed by the oracle, and
    * the pairs it can suppress are those whose every agreeing chunk is
    * that hot (near-zero-signal) region. Pairs colliding in several
    * chunks dedup through one distinct on (id_a, id_b).
    */
  def simhashHammingPairs(df: DataFrame, textCol: String, idCol: String,
      bits: Int = 60, blocks: Int = 4, maxHamming: Int = 3,
      maxBucket: Int = 1024): DataFrame = {
    require(blocks > maxHamming, "need blocks > maxHamming (pigeonhole)")
    val buckets = simhashBlocked(df, textCol, idCol, bits, blocks)
      .groupBy("blk", "bval")
      .agg(sort_array(collect_list(struct(col("id"), col("sig"))))
        .as("ms"), count(lit(1)).as("n"))
      .where(col("n") > 1 && col("n") <= maxBucket)
    buckets
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", expr("CAST(bit_count(sig_a ^ sig_b) AS BIGINT)"))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Recall-loss audit for [[simhashHammingPairs]]' hot-bucket cap: ONE
    * row `(n_buckets, n_dropped_buckets, n_dropped_rows)` over the same
    * chunk-bucket histogram — buckets suppressed by the cap and the
    * signature entries inside them. A non-zero drop count means pairs
    * whose EVERY agreeing chunk is hot were silently excluded; downstream
    * dedup audits can alert on it instead of mistaking reduced recall
    * for a clean corpus. A standalone query (map-side sig pass + one
    * bounded aggregate), deterministic and replayed by the DuckDB twin
    * of the corpus entry `dedup_simhash_bucket_audit`.
    */
  def simhashBucketAudit(df: DataFrame, textCol: String, idCol: String,
      bits: Int = 60, blocks: Int = 4, maxBucket: Int = 1024): DataFrame =
    simhashBlocked(df, textCol, idCol, bits, blocks)
      .groupBy("blk", "bval")
      .agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_buckets"),
        overCap(col("n"), maxBucket, lit(1L)).as("n_dropped_buckets"),
        overCap(col("n"), maxBucket, col("n")).as("n_dropped_rows"))

  /** Each doc's `bits`-bit simhash `sig`, once per contiguous chunk:
    * (id, sig, blk, bval), the chunk index and value the pair and audit
    * buckets key on.
    */
  private def simhashBlocked(df: DataFrame, textCol: String, idCol: String,
      bits: Int, blocks: Int): DataFrame = {
    require(bits % blocks == 0, "blocks must divide bits")
    require(bits <= 60, "sign bit must stay clear (hash60 width)")
    val width = bits / blocks
    val mask = (1L << width) - 1L
    df.select(col(idCol).as("id"), simhash(col(textCol), bits).as("sig"))
      .select(col("id"), col("sig"), posexplode(
        array((0 until blocks).map(bl =>
          expr(s"shiftright(sig, ${bl * width}) & $mask")): _*))
        .as(Seq("blk", "bval")))
  }

  /** Exact n-gram Jaccard similarity for all pairs within `blockCol` blocks
    * — SINGLE-computation relational form: the shingle pipeline (scan,
    * tokenize, shingle, explode — the expensive string work) is planned
    * exactly once. The df cap and the per-doc reduced set size are both
    * count windows over the one exploded frame, and candidate pairs come
    * from exploding each shingle's (cap-bounded) doc list — never a
    * self-join, which would re-plan the whole pipeline per side.
    *
    * Two guard rails make pair generation survive corpus scale:
    *
    *  - '''Document-frequency cap''' (`maxShingleDf`): a shingle shared by
    *    d docs contributes d^2^ pairs, so one stock phrase in 10^6^
    *    docs would alone produce 10^12^ rows. Shingles whose per-block df
    *    exceeds the cap are dropped from BOTH the intersection and the set
    *    sizes before pairing — the result is exact Jaccard over the
    *    reduced shingle universe (hot shingles carry ~zero discriminative
    *    signal; dropping them from both sides keeps identical docs at
    *    jaccard 1.0). A doc whose every shingle is hot has an empty
    *    reduced set and emits no pairs. The cap also bounds the
    *    per-shingle doc list (≤ maxShingleDf structs) that pair
    *    explosion walks.
    *  - '''Blocking''' (`blockCol`): pairs are only formed inside a block
    *    (e.g. language, source, LSH bucket), bounding pair generation the
    *    same way [[minhashPairs]] bands do. `None` keeps the single-block
    *    whole-corpus semantics.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      shingleK: Int, minJaccard: Double,
      blockCol: Option[Column] = None,
      maxShingleDf: Int = 10000): DataFrame =
    shinglePairCounts(df, textCol, idCol, shingleK, blockCol, maxShingleDf)
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")

  /** Asymmetric n-gram containment — C(A,B) = |A∩B| / |A| — the
    * quote/boilerplate subsumption detector: a short doc fully quoted
    * inside a long one scores containment ~1.0 where Jaccard stays tiny
    * (the union is dominated by the long side). One row per unordered
    * pair carrying BOTH directions; a pair survives when either
    * direction reaches `minContainment`. Shares
    * [[ngramJaccardPairs]]'s single-computation pipeline and both of its
    * scale rails (per-block shingle df cap, optional blocking), and the
    * reduced-universe semantics under the cap are identical.
    */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      shingleK: Int, minContainment: Double,
      blockCol: Option[Column] = None,
      maxShingleDf: Int = 10000): DataFrame =
    shinglePairCounts(df, textCol, idCol, shingleK, blockCol, maxShingleDf)
      .withColumn("c_ab", col("n_inter").cast("double") /
        col("n_a").cast("double"))
      .withColumn("c_ba", col("n_inter").cast("double") /
        col("n_b").cast("double"))
      .where(col("c_ab") >= minContainment || col("c_ba") >= minContainment)
      .select("id_a", "id_b", "c_ab", "c_ba")

  /** Threshold-calibration report for near-dup cutoffs: for each
    * candidate threshold t (in integer percent), how many pairs and how
    * many distinct docs an exact n-gram-Jaccard pass at that cutoff
    * would flag — the sweep a pipeline runs BEFORE committing a dedup
    * threshold. Membership is the exact integer predicate
    * `100·|A∩B| >= t·|A∪B|` (never a float compare), so every count
    * replays bit-for-bit.
    *
    * Shares [[shinglePairCounts]]'s single-computation pipeline and both
    * scale rails (df cap, blocking). The threshold table is broadcast
    * and tiny; the two report aggregates each consume the candidate-pair
    * frame — in a production sweep at 100 TB the pairs would be
    * materialized once (they are the artifact a dedup run writes anyway)
    * rather than recomputed per consumer.
    */
  def jaccardThresholdSweep(df: DataFrame, textCol: String, idCol: String,
      shingleK: Int, thresholdsPct: Seq[Long],
      blockCol: Option[Column] = None,
      maxShingleDf: Int = 10000): DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    val pairs = shinglePairCounts(df, textCol, idCol, shingleK, blockCol,
      maxShingleDf)
    val th = broadcast(thresholdsPct.toDF("t_pct"))
    val surv = pairs.crossJoin(th)
      .where(col("n_inter") * lit(100L) >=
        col("t_pct") * (col("n_a") + col("n_b") - col("n_inter")))
      .select("t_pct", "id_a", "id_b")
    val np = surv.groupBy("t_pct").agg(count(lit(1)).as("n_pairs"))
    val nd = surv.select(col("t_pct"),
        explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
      .groupBy("t_pct").agg(count(lit(1)).as("n_docs"))
    th.join(np, Seq("t_pct"), "left").join(nd, Seq("t_pct"), "left")
      .select(col("t_pct"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /** Recall-loss audit for the shared `maxShingleDf` rail
    * ([[ngramJaccardPairs]] / [[containmentPairs]] /
    * [[jaccardThresholdSweep]] all prune through the same cap): ONE row
    * `(n_shingles, n_dropped_shingles, n_dropped_postings, n_docs,
    * n_docs_emptied)` over the same (block, shingle) df histogram the
    * capped pipeline prunes on. `n_dropped_postings` counts the
    * (doc, shingle) rows the cap removes from the pair evidence;
    * `n_docs_emptied` counts docs whose EVERY shingle is hot — such docs
    * emit no pairs at all, the silent-recall-loss case downstream audits
    * must see instead of mistaking it for a clean corpus (the
    * [[simhashBucketAudit]] discipline). Deterministic, and a standalone
    * query replayed by the DuckDB twin of the corpus entry
    * `dedup_shingle_df_audit`.
    */
  def shingleDfAudit(df: DataFrame, textCol: String, idCol: String,
      shingleK: Int, blockCol: Option[Column] = None,
      maxShingleDf: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val blk = blockCol.getOrElse(lit(""))
    val sh = graft.core.Graft.spread(df).select(blk.as("blk"),
      col(idCol).as("id"),
      explode(Text.wordShingles(col(textCol), shingleK)).as("sh"))
    val dfs = sh.groupBy("blk", "sh").agg(count(lit(1)).as("df"))
    val shingleStats = dfs.agg(
      count(lit(1)).as("n_shingles"),
      overCap(col("df"), maxShingleDf, lit(1L)).as("n_dropped_shingles"),
      overCap(col("df"), maxShingleDf, col("df")).as("n_dropped_postings"))
    val docStats = sh
      .withColumn("__df", count(lit(1)).over(W.partitionBy("blk", "sh")))
      .groupBy("blk", "id")
      .agg(coalesce(sum(when(col("__df") <= maxShingleDf, 1L).otherwise(0L)),
        lit(0L)).as("n_kept"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(when(col("n_kept") === 0, 1L).otherwise(0L)), lit(0L))
          .as("n_docs_emptied"))
    shingleStats.crossJoin(docStats)
  }

  /** Shared tail of the exact-shingle pair family: ordered candidate
    * pairs with reduced-set sizes and exact intersection counts —
    * (id_a, id_b, n_a, n_b, n_inter). See [[ngramJaccardPairs]] for the
    * single-computation / df-cap / blocking contract.
    */
  private def shinglePairCounts(df: DataFrame, textCol: String,
      idCol: String, shingleK: Int, blockCol: Option[Column],
      maxShingleDf: Int): DataFrame = {
    require(maxShingleDf >= 2, "maxShingleDf < 2 would drop every shared shingle")
    import org.apache.spark.sql.expressions.{Window => W}
    val blk = blockCol.getOrElse(lit(""))
    val sh = graft.core.Graft.spread(df).select(blk.as("blk"),
      col(idCol).as("id"),
      explode(Text.wordShingles(col(textCol), shingleK)).as("sh"))
    // per-block doc frequency (wordShingles is distinct per doc, so
    // count(*) == #docs carrying the shingle), then the per-doc REDUCED
    // set size — two count windows over the same exploded frame
    val pruned = sh
      .withColumn("__df", count(lit(1)).over(W.partitionBy("blk", "sh")))
      .where(col("__df") <= maxShingleDf)
      .withColumn("n", count(lit(1)).over(W.partitionBy("blk", "id")))
    // pairs: explode each shingle's id-sorted doc list — i < j by
    // construction, so every co-occurrence yields exactly one ordered
    // pair; `lst` is an aggregated attribute (not a recomputed
    // expression), so referencing it inside the lambdas is CSE-safe
    val lst = sort_array(collect_list(struct(col("id"), col("n"))))
    val grouped = pruned.groupBy("blk", "sh").agg(lst.as("lst"))
    val pairCol = flatten(transform(col("lst"), (x, i) =>
      transform(slice(col("lst"), i + lit(2), size(col("lst"))), y =>
        struct(x.getField("id").as("id_a"), x.getField("n").as("n_a"),
          y.getField("id").as("id_b"), y.getField("n").as("n_b")))))
    grouped
      .select(explode(pairCol).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.n_a").as("n_a"), col("p.n_b").as("n_b"))
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count(lit(1)).as("n_inter"))
  }

  /** Prefix-filtered EXACT Jaccard self-join over distinct token sets —
    * the AllPairs/PPJoin family (public algorithm: Bayardo, Ma &
    * Srikant, "Scaling Up All Pairs Similarity Search", WWW 2007; Xiao
    * et al., "Efficient Similarity Joins for Near Duplicate Detection",
    * WWW 2008): the exact, no-false-negative complement to
    * [[minhashPairs]] when the threshold is high and misses are
    * unacceptable (e.g. benchmark decontamination).
    *
    * Candidate generation joins docs ONLY on their canonical-order
    * PREFIX tokens: with tokens sorted rarest-first (global df asc,
    * token asc), a doc of n tokens exposes its first
    * `n - ceil(t*n) + 1`; any pair with J >= t must share a prefix
    * token on BOTH sides (if all >= ceil(t*n) common tokens sat in the
    * length-(ceil(t*n)-1) suffix, that suffix would be too short), so
    * completeness is a theorem, not a probability. Scale shape: the
    * rarest-first order concentrates prefixes on LOW-df tokens, so
    * join-key fan-out is bounded by construction — the hot-shingle d^2
    * blow-up [[ngramJaccardPairs]] needs `maxShingleDf` for cannot
    * occur on high-df keys (they land in suffixes); a length filter
    * (`least(n) >= t * greatest(n)`) prunes candidates before the
    * intersection count, and the exact count touches only surviving
    * pairs' token sets.
    */
  def prefixJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      minJaccard: Double): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1,
      "minJaccard must be in (0, 1] — the prefix length derives from it")
    val toks = graft.core.Graft.spread(df)
      .select(col(idCol).as("id"),
        explode(array_distinct(Text.tokens(col(textCol)))).as("w"))
    val wdf = toks.groupBy("w").agg(count(lit(1)).as("df"))
    val ranked = toks.join(wdf, "w")
      .select(col("id"), col("w"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("id").orderBy(col("df"), col("w"))).as("rn"),
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("id")).as("n"))
    val prefix = ranked
      .where(col("rn") <= col("n") - ceil(lit(minJaccard) * col("n")) + 1)
      .select("id", "w", "n")
    val cand = prefix.as("a").join(prefix.as("b"), Seq("w"))
      .where(col("a.id") < col("b.id") &&
        least(col("a.n"), col("b.n")) >=
          lit(minJaccard) * greatest(col("a.n"), col("b.n")))
      .select(col("a.id").as("id_a"), col("a.n").as("n_a"),
        col("b.id").as("id_b"), col("b.n").as("n_b"))
      .distinct()
    val inter = cand
      .join(toks.select(col("id").as("id_a"), col("w")), Seq("id_a"))
      .join(toks.select(col("id").as("id_b"), col("w")), Seq("id_b", "w"))
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Train-vs-eval NEAR-DUP decontamination screen: exact prefix-filtered
    * Jaccard pairs ([[prefixJaccardPairs]] — completeness at the
    * threshold is a theorem, so no banding false negative can leak eval
    * data into training), restricted to CROSS-side pairs and aggregated
    * per eval document. The near-dup complement to the exact n-gram
    * screen (`text_decontaminate`): paraphrased or lightly-edited eval
    * items that exact n-grams miss.
    *
    * Scale shape: inherits prefixJaccardPairs' bounded candidate story;
    * the side attachment is two id-keyed equi joins on the (already
    * bounded) pair frame; the verdict is one eval-keyed hash aggregate.
    *
    * Output per contaminated eval doc: match count, worst (max) Jaccard,
    * and the lowest matching train id (a stable example to inspect).
    */
  def contaminationScreen(df: DataFrame, textCol: String, idCol: String,
      isEvalCol: Column, minJaccard: Double): DataFrame = {
    val pairs = prefixJaccardPairs(df, textCol, idCol, minJaccard)
    val side = df.select(col(idCol).as("__sid"), isEvalCol.as("__is_eval"))
    pairs
      .join(side.select(col("__sid").as("id_a"), col("__is_eval").as("eval_a")),
        Seq("id_a"))
      .join(side.select(col("__sid").as("id_b"), col("__is_eval").as("eval_b")),
        Seq("id_b"))
      .where(col("eval_a") =!= col("eval_b"))
      .select(
        when(col("eval_a"), col("id_a")).otherwise(col("id_b")).as("eval_id"),
        when(col("eval_a"), col("id_b")).otherwise(col("id_a")).as("train_id"),
        col("jaccard"))
      .groupBy("eval_id")
      .agg(count(lit(1)).as("n_train_matches"),
        max(col("jaccard")).as("max_jaccard"),
        min(col("train_id")).as("first_train_id"))
  }

  /** Connected components over near-dup pairs: each doc labeled with the
    * minimum id reachable through the pair graph (the canonical
    * representative) — the standard final step of fuzzy dedup: pick one
    * survivor per duplicate cluster.
    *
    * Two labelling paths share one edge pin. The pinned canonical edge set
    * (child > parent, no self-loops, no duplicates) is counted by an
    * observe() metric riding the pin's own action — no extra job — and the
    * count picks the path:
    *
    *  - '''Driver union-find''' when the id type is integral and
    *    count × 16 bytes ≤ `spark.sql.autoBroadcastJoinThreshold` (Spark's
    *    own "small enough to ship through the driver" rule; −1 disables
    *    it, so no new knob): the edges are collected as primitive long
    *    arrays (16 bytes per edge on the wire; at peak about 72 bytes per
    *    edge of driver heap — endpoints, their sorted copy, the parent
    *    array and the output arrays — so ~300 MB at `Graft.tune`'s 64 MB)
    *    and labelled by a sort plus union-find with the minimum id as each
    *    set's root, at about 1-2 µs of one driver core per edge (JDK 17,
    *    random graphs: 4M edges in 6.8 s). A graph of a few hundred edges
    *    costs one collect job
    *    instead of ≥ 2 contraction rounds of ~10 stage jobs each. Only
    *    integral ids take it: other types order by Spark's collation-aware
    *    comparison, which the driver must not re-implement.
    *  - '''Alternating star contraction''' otherwise — the distributed path,
    *    and the one a 100 TB corpus takes (its edge set is far past any
    *    broadcast threshold).
    *
    * Star contraction: alternating large-star / small-star contractions on
    * the EDGE set (public algorithm: Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC 2014), which converges in O(log n)
    * practical rounds REGARDLESS of how ids are laid out along the graph
    * — measured 7-10 rounds for permuted 250-5000-node chains, exactly
    * the shape sorted-neighborhood candidates produce. (The naive
    * min-label propagation this replaces needs O(diameter) rounds — ~40
    * for a permuted 250-chain — because labels move one graph hop per
    * round; simulation in the round-4 notes.)
    *
    * Per round: two neighbor-min passes (each one groupBy + join keyed on
    * the node — only (node, neighbor) long pairs cross the shuffle), the
    * edge set shrinks toward stars (child -> component min), and lineage
    * is truncated by an eager localCheckpoint per round so iteration N
    * plans O(1) work. Convergence is detected from a multiset signature
    * (count + bit_xor of stable row hashes) read off the checkpointed
    * round — no extra pass, no driver-side set compare. `maxIters` bounds
    * this loop only; the driver path is exact in one pass.
    */
  def clusterNearDups(ids: DataFrame, pairs: DataFrame,
      idCol: String = "id", maxIters: Int = 50): DataFrame = {
    // Canonical child>parent orientation; self-loops and duplicates out.
    val counted = Counters.pinned(pairs
      .select(col("id_a"), col("id_b")).where(col("id_a") =!= col("id_b"))
      .select(greatest(col("id_a"), col("id_b")).as("a"),
        least(col("id_a"), col("id_b")).as("b"))
      .distinct(), count(lit(1)).as("n"))
    val edges = counted.on
    lazy val nEdges = counted("n")
    val threshold =
      ids.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val stars = edges.schema("a").dataType match {
      case ByteType | ShortType | IntegerType | LongType
          if threshold >= 0 && nEdges * 16 <= threshold =>
        labelOnDriver(edges, nEdges)
      case _ => starContraction(edges, maxIters)
    }
    // Stars map each non-root member to its component min; isolated ids
    // label themselves.
    ids.select(col(idCol).as("id"))
      .join(stars, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Driver-side labelling of a pinned integral edge set (a, b):
    * union-find over the sorted distinct endpoints, each set rooted at its
    * minimum id. Returns (id, component) for the non-root members only, as
    * a local relation of the edges' id type. Refuses — never returns a
    * partial labelling — if the rows received differ from `nEdges`, the
    * count observed on the pin.
    */
  private def labelOnDriver(edges: DataFrame, nEdges: Long): DataFrame = {
    val idType = edges.schema("a").dataType
    // One primitive (a0, b0, a1, b1, ...) array per partition.
    val parts = edges.select(col("a").cast("long"), col("b").cast("long"))
      .queryExecution.toRdd
      .mapPartitions { rows =>
        val buf = new scala.collection.mutable.ArrayBuilder.ofLong
        rows.foreach { r => buf += r.getLong(0); buf += r.getLong(1) }
        Iterator.single(buf.result())
      }
      .collect()
    val received = parts.map(_.length.toLong).sum / 2
    if (received != nEdges)
      throw new IllegalStateException(
        s"clusterNearDups collected $received edges but the pin observed " +
          s"$nEdges; refusing to return a partial labelling.")
    val nodes = Array.concat(parts.toIndexedSeq: _*)
    java.util.Arrays.sort(nodes)
    var k = 0
    for (i <- nodes.indices)
      if (i == 0 || nodes(i) != nodes(i - 1)) { nodes(k) = nodes(i); k += 1 }
    // Sorted nodes: the smaller index is the smaller id, so rooting each
    // union at the smaller index keeps every root its set's minimum.
    val parent = Array.tabulate(k)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def idx(v: Long): Int = java.util.Arrays.binarySearch(nodes, 0, k, v)
    for (p <- parts; j <- 0 until p.length by 2) {
      val ra = find(idx(p(j)))
      val rb = find(idx(p(j + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    // Point every node at its root, then emit the non-roots.
    var n = 0
    for (i <- 0 until k) { parent(i) = find(i); if (parent(i) != i) n += 1 }
    val members = new Array[Long](n)
    val roots = new Array[Long](n)
    n = 0
    for (i <- 0 until k if parent(i) != i) {
      members(n) = nodes(i); roots(n) = nodes(parent(i)); n += 1
    }
    val spark = edges.sparkSession
    import spark.implicits._
    Seq((members, roots)).toDF("id", "component")
      .select(inline(arrays_zip(col("id"), col("component"))))
      .select(col("id").cast(idType), col("component").cast(idType))
  }

  /** Alternating large-star / small-star contraction of a pinned edge set
    * to its star fixed point; returns (id, component) for every non-root
    * member. See [[clusterNearDups]].
    */
  private def starContraction(pinned: DataFrame, maxIters: Int): DataFrame = {
    var edges = pinned
    // Multiset signature for the convergence test: the edge set is stable
    // iff (count, xor of row hashes) repeats — no full set compare needed.
    // r14: the signature rides the round's checkpoint materialization as
    // an observe() metric (CollectMetrics accumulators collected by the
    // checkpoint's own action) instead of a separate agg job per round —
    // one job per round, not two.
    def withHash(e: DataFrame): DataFrame =
      e.withColumn("h",
        StableHash.hash60(concat_ws(":", col("a"), col("b"))))
    def neighborMins(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("a").as("v"), col("b").as("u"))
        .unionByName(e.select(col("b").as("v"), col("a").as("u")))
      nbrs.join(
        nbrs.groupBy("v").agg(min(col("u")).as("mu")), Seq("v"))
        .select(col("v"), col("u"), least(col("v"), col("mu")).as("m"))
    }

    var prevSig: Option[(Long, Long)] = None
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // large-star: strictly-larger neighbors hook onto v's min
      val large = neighborMins(edges)
        .where(col("u") > col("v") && col("u") =!= col("m"))
        .select(col("u").as("a"), col("m").as("b"))
        .distinct()
      // small-star: v and its not-larger neighbors hook onto the min
      val nm1 = neighborMins(large)
      val small = nm1
        .where(col("u") <= col("v") && col("u") =!= col("m"))
        .select(col("u").as("a"), col("m").as("b"))
        .unionByName(nm1.where(col("v") =!= col("m"))
          .select(col("v").as("a"), col("m").as("b")))
        .distinct()
      val round = Counters.pinned(withHash(small), count(lit(1)).as("n"),
        expr("coalesce(bit_xor(h), 0L)").as("x"))
      val sig = (round("n"), round("x"))
      converged = prevSig.contains(sig)
      prevSig = Some(sig)
      edges = round.on.drop("h")
      i += 1
    }
    // Exhausting maxIters before the star fixed point would make the final
    // groupBy/min below label non-star edges silently wrong — refuse.
    if (!converged)
      throw new IllegalStateException(
        s"clusterNearDups did not reach the star fixed point in $maxIters " +
          "rounds; the labeling below would be silently incorrect. " +
          "Alternating-star converges in O(log n) rounds — raise maxIters.")
    // Converged edges are stars (child -> component min).
    edges.groupBy(col("a").as("id")).agg(min(col("b")).as("component"))
  }

  /** Sorted-neighborhood candidate pairs (the classic SNM family:
    * Hernández & Stolfo, SIGMOD 1995 — public-knowledge algorithm): records
    * are sorted by a discriminating key within blocks, and each record is
    * paired with its `window - 1` predecessors in that order.
    *
    * Spark-first shape: ONE exchange on the block key + one sort, then the
    * predecessor pairing is pure window-lag arithmetic — no self-join, and
    * the output is bounded by n*(window-1) rows, never quadratic. This is
    * the cheap complement to [[minhashPairs]]: no per-token hashing at all,
    * just a sort — the right first pass when near-dups share prefixes.
    *
    * At 100 TB: `blockCol` must have cardinality well above the executor
    * count or the few-hot-keys shuffle kills the sort (use a key prefix,
    * not a language tag); and run multiple passes with different sort keys
    * (multi-pass SNM) to catch pairs one ordering separates — each pass is
    * independent and unions cheaply.
    *
    * Output: (block, id_a, id_b, dist) with `id_a` the earlier record and
    * `dist` its distance in the sorted order (1 = adjacent).
    */
  def sortedNeighborhood(df: DataFrame, idCol: String, sortKey: Column,
      blockCol: Column, window: Int = 3): DataFrame = {
    require(window >= 2, "window must be >= 2")
    import org.apache.spark.sql.expressions.{Window => W}
    val w = W.partitionBy("block").orderBy(col("skey"), col("id"))
    val keyed = df.select(blockCol.as("block"), sortKey.as("skey"),
      col(idCol).as("id"))
    // window lags first (generators cannot contain window expressions),
    // then the pure-projection explode
    val preds = (1 until window).map(i => lag(col("id"), i).over(w))
    keyed
      .select(col("block"), col("id").as("id_b"), array(preds: _*).as("__preds"))
      .select(col("block"), col("id_b"),
        posexplode(col("__preds")).as(Seq("i", "id_a")))
      .where(col("id_a").isNotNull)
      .select(col("block"), col("id_a"), col("id_b"),
        (col("i") + 1).cast("int").as("dist"))
  }

  /** Multi-pass sorted neighborhood (the full Hernández-Stolfo scheme):
    * one [[sortedNeighborhood]] pass per (sortKey, blockCol) spec, pairs
    * canonicalized (id_a < id_b) and merged — a near-dup pair that one
    * ordering separates (different prefixes, say) is caught by another
    * (length + suffix, a phonetic key, ...). Cost is passes x one
    * sort-and-lag pass, never quadratic, and the merge is one hash
    * aggregate on the bounded pair set.
    *
    * Output: (id_a, id_b, n_passes, min_dist) — how many passes proposed
    * the pair and the closest in-window distance any of them saw (the
    * usual downstream priority signal: verify closest-first).
    */
  def multiPassSortedNeighborhood(df: DataFrame, idCol: String,
      passes: Seq[(Column, Column)], window: Int = 3): DataFrame = {
    require(passes.nonEmpty, "at least one (sortKey, blockCol) pass")
    passes.map { case (sortKey, blockCol) =>
      sortedNeighborhood(df, idCol, sortKey, blockCol, window)
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"),
          col("dist"))
    }.reduce(_.unionByName(_))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_passes"), min(col("dist")).as("min_dist"))
  }

  /** Embedding near-dup: cosine >= threshold pairs, bucketed by BANDED
    * random-hyperplane LSH so the pair join is bucket-local (the minhash
    * band structure applied to hyperplane hashing).
    *
    * `bands` independent hash tables, each over `bits` hyperplanes with a
    * distinct seed: a pair is a candidate if it collides in ANY band.
    * Sizing at corpus scale: `bits ~ log2(n / targetBucketSize)` bounds the
    * per-bucket verify cost (expected occupancy n/2^bits), then `bands`
    * buys recall back — each extra band is one more chance for a true
    * near-dup to collide, at one more map-side projection. A single wide
    * table (the round-1 shape: fixed 8 bits regardless of corpus) has the
    * opposite behavior: buckets grow linearly with n and verify goes
    * quadratic inside them.
    *
    * Candidate ids are distinct-ed BEFORE verification (ids only — two
    * longs — cross that shuffle), so a pair colliding in several bands is
    * cosine-verified exactly once; vectors are joined back just for the
    * verify, as [[minhashPairs]] joins shingles back.
    */
  def embeddingNearDups(df: DataFrame, vecCol: String, idCol: String, dim: Int,
      bits: Int = 8, bands: Int = 1, threshold: Double = 0.95): DataFrame = {
    require(bands >= 1, "bands must be >= 1")
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      Vectors.norm2(col(vecCol)).as("n"))
    val buckets = base.select(col("id"), posexplode(array(
      (0 until bands).map(b => Vectors.lshBucket(col("v"), bits, dim, seed = 7 + b)): _*))
      .as(Seq("band", "bucket")))
    val pairs = buckets.as("a").join(buckets.as("b"), Seq("band", "bucket"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    pairs
      .join(base.select(col("id").as("id_a"), col("v").as("va"), col("n").as("na")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("vb"), col("n").as("nb")), "id_b")
      .withColumn("cosine",
        when(col("na") > 0 && col("nb") > 0,
          Vectors.dot(col("va"), col("vb")) / (col("na") * col("nb")))
          .otherwise(org.apache.spark.sql.functions.lit(null).cast("double")))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Duplicated-passage detection: maximal token spans whose every k-gram
    * window occurs at least twice in the corpus (cross-document or
    * internal repetition) — the relational formulation of suffix-based
    * training-data substring dedup (public algorithm family: Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better",
    * which dedups repeated spans rather than whole documents).
    *
    * Pipeline: (1) positional k-gram windows per doc (map-side;
    * [[graft.functions.Text.kGramWindows]], the O(k) zip_with grams that
    * [[graft.functions.Text.wordShingles]] de-duplicates, kept positional
    * and non-distinct here), each window reduced MAP-SIDE to an
    * 8-byte `hash60(gram)` key — the k-token gram string never leaves the
    * map stage; (2) ONE shuffle of the (id, p, g) stream by g, then
    * `count(*) OVER (PARTITION BY g)` on the co-located rows finds and
    * marks grams occurring in [2, maxGramDf] in the same pass — the
    * corpus is tokenized exactly once and no join exists; (3)
    * gaps-and-islands per doc merges overlapping/adjacent windows (start
    * gap <= k) into maximal spans.
    *
    * Shape at scale, and why a window over g is SAFE where the r10
    * window was not: the r10 form ran `count(*) OVER (PARTITION BY
    * gram)` on full k-token STRING keys — 9.4 s at sf1 vs 303-327 s at
    * sf10 (~33x wall for 10x data: the per-partition external sort of
    * ~40-byte string keys spills superlinearly once the stream outgrows
    * memory). Here the sort key is the 8-byte hash on a 24-byte row
    * (long-radix, cheap to spill), and the r14 probe shows clean scaling:
    * sf1 full-op 3.4-5.5 s vs window 2.6-4.1 s; sf10 62-79 s vs 31-75 s
    * (OPTIMIZATION_r14.md §3, interleaved pairs) — the window form is
    * parity cold and ~2x faster warm, with identical output at every
    * scale. The
    * r13 form avoided the sort with an aggregate + hinted shuffle-hash
    * semi join, but paid for it with a SECOND full tokenize+zip_with+
    * hash pass over the corpus (each DataFrame reference replans the
    * subtree; ReuseExchange cannot dedup them because column pruning
    * projects the count side to (g) below its exchange — a repartition
    * before the consumers does NOT fix that, as the r14 before-plans
    * show) plus a second stream-sized exchange. One tokenize pass is
    * ~1/3 of the query, so folding count+probe into one window on the
    * single shuffled stream wins (OPTIMIZATION_r14.md §3, fused r=4
    * sf0.1: 0.40 vs 0.54 s/inst). Skew exposure is unchanged from the
    * semi-join form: its probe side also shuffled the raw stream on g, so
    * a boilerplate gram concentrates on one task either way, and
    * maxGramDf bounds what survives into the island merge.
    * hash60 collisions merge two grams' counts (a pair of singleton grams
    * colliding would falsely mark both) with probability ~ n_grams^2 /
    * 2^61 — ~1e-4 at 1e7 distinct grams; acceptable for a dedup MARKER,
    * and the oracle twin (string-keyed) verifies collision-freeness at
    * every tested scale. The island merge is one window pass partitioned
    * by doc — per-doc state only. Nothing is ever all-pairs. `maxGramDf`
    * caps gram doc frequency exactly like [[ngramJaccardPairs]]'
    * `maxShingleDf`: grams occurring more than the cap are boilerplate,
    * not duplicate evidence, and mark no spans (recall loss audited by
    * [[passageGramAudit]]).
    *
    * `scope` names columns of `df` that split it into independent
    * corpora: a gram's occurrences are counted only within its scope, so
    * a gram repeated only across scopes marks nothing. Ids must be unique
    * across scopes (the island merge is per id). The default `Nil` is one
    * corpus; the fused bench passes its replica tag (`__rep`) so N
    * replicas run as N independent detections in one plan.
    *
    * Output: (id, span_start, span_end, span_tokens, n_windows) with
    * 1-based inclusive token positions, one row per maximal span.
    */
  def duplicatedPassages(df: DataFrame, textCol: String, idCol: String,
      k: Int, maxGramDf: Int = 10000, scope: Seq[String] = Nil): DataFrame = {
    require(k >= 2, "passage window must be >= 2 tokens")
    require(maxGramDf >= 2, "maxGramDf < 2 would drop every duplicated gram")
    val toks = Text.tokens(col(textCol))
    val by = scope.map(col)
    // positional k-grams, pos the 1-based start; gram string -> 8-byte key
    // map-side: only (scope, id, p, g) ever shuffles.
    val windows = graft.core.Graft.spread(df)
      .select(by ++ Seq(col(idCol).as("id"),
        posexplode(Text.kGramWindows(toks, k))): _*)
      .select(by ++ Seq(col("id"), (col("pos") + 1).cast("long").as("p"),
        StableHash.hash60(col("col")).as("g")): _*)
    import org.apache.spark.sql.expressions.{Window => W}
    // df cap (same reduced-universe semantics as shinglePairCounts):
    // grams above maxGramDf are boilerplate (headers, licenses, viral
    // passages), not duplicate EVIDENCE — they stop marking spans, which
    // bounds every per-doc island merge downstream by cap * windows-per-
    // gram. ONE exchange by g + a per-partition 8-byte-key sort, and the
    // running count marks every occurrence in the same pass — no second
    // tokenize, no join (scaladoc above for the r13/r10 alternatives and
    // the sf1/sf10 probe numbers).
    val marked = windows
      .withColumn("__occ", count(lit(1)).over(W.partitionBy(by :+ col("g"): _*)))
      .where(col("__occ") >= 2 && col("__occ") <= maxGramDf)
      .select("id", "p")
    val w = W.partitionBy("id").orderBy("p")
    marked
      .withColumn("__prev", lag(col("p"), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull || col("p") > col("__prev") + k, 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(
        w.rowsBetween(W.unboundedPreceding, 0)))
      .groupBy("id", "__island")
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + (k - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_windows"))
  }

  /** Recall-loss audit for [[duplicatedPassages]]' `maxGramDf` rail: ONE
    * row `(n_grams, n_duplicated_grams, n_dropped_grams,
    * n_dropped_windows)` over the same positional k-gram occurrence
    * histogram the capped pipeline prunes on. `n_dropped_grams` counts
    * gram strings whose window-occurrence count exceeds the cap (they
    * stop marking spans); `n_dropped_windows` the window occurrences
    * suppressed with them. Same no-silent-caps contract as
    * [[shingleDfAudit]]: a standalone query, replayed by the DuckDB twin
    * of the corpus entry `dedup_passage_gram_audit`.
    */
  def passageGramAudit(df: DataFrame, textCol: String, idCol: String,
      k: Int, maxGramDf: Int = 10000): DataFrame = {
    require(k >= 2, "passage window must be >= 2 tokens")
    val windows = graft.core.Graft.spread(df)
      .select(col(idCol).as("id"),
        explode(Text.kGramWindows(Text.tokens(col(textCol)), k)).as("gram"))
    windows.groupBy("gram").agg(count(lit(1)).as("occ"))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(when(col("occ") >= 2, 1L).otherwise(0L)), lit(0L))
          .as("n_duplicated_grams"),
        overCap(col("occ"), maxGramDf, lit(1L)).as("n_dropped_grams"),
        overCap(col("occ"), maxGramDf, col("occ")).as("n_dropped_windows"),
        // hash60-key collision check for [[duplicatedPassages]]' 8-byte
        // gram keys: distinct gram STRINGS minus distinct hash60 keys.
        // Non-zero means the capped pipeline merged two grams' counts —
        // the residual risk production scales (where no string-keyed
        // oracle runs) otherwise have no signal for. Costs one extra
        // distinct aggregate over the already-distinct gram frame.
        (count(lit(1)) -
          countDistinct(StableHash.hash60(col("gram"))))
          .as("n_hash_collisions"))
  }

  /** Recall-loss audit for [[sortedNeighborhood]]'s window bound: ONE row
    * `(n_blocks, n_rows, n_pairs_possible, n_pairs_generated,
    * n_pairs_skipped)` from per-block counts alone (exact integer
    * arithmetic — a block of n rows can form n·(n-1)/2 pairs; the window
    * generates min(i, window-1) predecessors per row, i.e. all of them
    * when n <= window, else window·(window-1)/2 + (n-window)·(window-1)).
    * `n_pairs_skipped` is the candidate recall the sort-order heuristic
    * gives up — the number multi-pass SNM exists to win back. Counts are
    * pure block-size functions, so the audit costs one hash aggregate.
    */
  def snmWindowAudit(df: DataFrame, blockCol: Column,
      window: Int): DataFrame = {
    require(window >= 2, "window must be >= 2")
    val w = window.toLong
    val blocks = df.groupBy(blockCol.as("block")).agg(count(lit(1)).as("n"))
    val poss = expr("n * (n - 1) DIV 2")
    val gen = when(col("n") <= lit(w), poss)
      .otherwise(lit(w * (w - 1) / 2) + (col("n") - lit(w)) * lit(w - 1))
    blocks.agg(
      count(lit(1)).as("n_blocks"),
      coalesce(sum(col("n")), lit(0L)).as("n_rows"),
      coalesce(sum(poss), lit(0L)).as("n_pairs_possible"),
      coalesce(sum(gen), lit(0L)).as("n_pairs_generated"),
      coalesce(sum(poss - gen), lit(0L)).as("n_pairs_skipped"))
  }

  /** One-call audit report for the [[fuzzyDedup]] composite: ONE row of
    * per-stage counts so a drop anywhere in the chain is visible instead
    * of silent —
    * `(n_input, n_exact_survivors, n_candidate_pairs, n_verified_pairs,
    * n_clusters, n_kept_rows, n_dropped_exact, n_dropped_near)`.
    * `n_candidate_pairs` counts the distinct LSH band-bucket pairs BEFORE
    * the Jaccard verify (the banding recall surface: a true near-dup pair
    * outside every band never reaches the verify, and a candidate count
    * far below the verified count's expectation is the tell);
    * `n_dropped_near` is what the near-dup closure removed beyond exact
    * dedup. Stages recompute the chain (a report, not a serving path);
    * production materializes the pair frame once and audits that.
    */
  def fuzzyDedupReport(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16, bands: Int = 8, shingleK: Int = 3,
      threshold: Double = 0.7, maxBucket: Int = 1024): DataFrame = {
    val (sh, candPairs, verified, comps) = fuzzyStages(df, textCol, idCol,
      numHashes, bands, shingleK, threshold, maxBucket)
    df.agg(count(lit(1)).as("n_input"))
      .crossJoin(sh.agg(count(lit(1)).as("n_exact_survivors")))
      .crossJoin(candPairs.agg(count(lit(1)).as("n_candidate_pairs")))
      .crossJoin(verified.agg(count(lit(1)).as("n_verified_pairs")))
      .crossJoin(comps.agg(
        countDistinct(col("component")).as("n_clusters"),
        coalesce(sum(when(col("id") === col("component"), 1L).otherwise(0L)),
          lit(0L)).as("n_kept_rows")))
      .withColumn("n_dropped_exact",
        col("n_input") - col("n_exact_survivors"))
      .withColumn("n_dropped_near",
        col("n_exact_survivors") - col("n_kept_rows"))
  }

  /** SemDeDup-style semantic dedup (public algorithm: Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): k-means-cluster the embedding
    * space, then prune near-duplicates by EXACT cosine WITHIN each
    * cluster — the clustering is what bounds the quadratic pair search
    * to sum(|cell|^2) instead of n^2. Reuses the two verified stages:
    * [[Similarity.trainedCentroids]] (Lloyd iterations, decimal-exact
    * means, prefix-seeded — the whole chain replays in the oracle) and
    * [[EmbeddingAgg.assignNearest]] (broadcast centroids, map-side
    * scoring, bounded top-1 finisher).
    *
    * Drop rule: a vector is dropped iff SOME lower-id vector in its cell
    * has cosine >= `threshold` with it — the order-free parallel variant
    * (one semi-join decides every row independently; no sequential
    * greedy scan). The witness may itself be dropped, so this retains a
    * subset of what a sequential greedy pass would keep — deterministic,
    * and pessimistic only within a near-dup clique. Degenerate vectors
    * (null / zero norm) have null cosine to everything and are always
    * kept.
    *
    * Scale shape: the contract is the paper's — nCells grows with the
    * corpus so |cell| ~ n/nCells stays bounded (the paper uses ~0.1%
    * clusters-to-docs); the within-cell join is then a cell-keyed
    * self-join with bounded fan-out, never all-pairs. Centroids live on
    * the driver (nCells x dim) and broadcast; the corpus streams through
    * assignment map-side.
    *
    * Output: one row per input vector — (idCol, cell, kept).
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, iters: Int = 2,
      threshold: Double = 0.95): DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    val e = df.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).as("embedding"))
    val cents = Similarity.trainedCentroids(e, nCells, iters)
    assignCells(e, cents, "vec_id", "embedding")
      .transform(pruneCells(_, threshold))
      .withColumnRenamed("vec_id", idCol)
  }

  /** Nearest-cell assignment as a narrow per-row argmin over the
    * driver-resident centroids (they come out of `trainedCentroids` as a
    * Seq — re-shipping them through a cross join + top-1 aggregate would
    * hash every row's full vector as a group key and shuffle the corpus
    * twice). Zero shuffles: the map pipelines into whatever consumes the
    * cell key next (for [[pruneCells]], the one exchange on `cell`).
    * The loop replays the top-1 contract bit for bit: distance is
    * `sqrt` of [[Similarity.l2sqOrNaN]]'s in-order fold (the scalar twin
    * of `Vectors.l2sq` / the oracle's `distSql`), strict `<` over cells
    * ascending = "dist ASC, cell ASC" tie-breaking, and NaN (null vector,
    * null element, ragged, null centroid) never wins — so degenerate
    * vectors keep the smallest cell, same as `EmbeddingAgg.assignNearest`.
    * Vectors come out double-cast with any null-element vector collapsed
    * to a null array — a null element nulls every cosine the vector
    * touches anyway (DotProduct semantics), so the collapse loses nothing
    * and gives [[pruneCells]] a clean `Array[Double]` encoding.
    */
  private[graft] def assignCells(e: DataFrame, cents: Seq[(Int, Array[Double])],
      idC: String, vecC: String): DataFrame = {
    val sp = e.sparkSession
    import sp.implicits._
    val sorted = cents.sortBy(_._1)
    val cellIds = sorted.map(_._1.toLong).toArray
    val cvs = sorted.map(_._2).toArray
    val clean = when(col(vecC).isNull || exists(col(vecC), _.isNull),
        lit(null).cast("array<double>"))
      .otherwise(Vectors.asDouble(col(vecC)))
    e.select(col(idC).cast("long"), clean.as("__v"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.map { case (id, v) =>
          var bestCell = cellIds(0)
          var best = Double.NaN
          var c = 0
          while (c < cvs.length) {
            val d = math.sqrt(Similarity.l2sqOrNaN(v, cvs(c)))
            if (!d.isNaN && (best.isNaN || d < best)) {
              best = d; bestCell = cellIds(c)
            }
            c += 1
          }
          (id, v, bestCell)
        }
      }
      .toDF(idC, "__v", "cell")
  }

  /** The within-cell lower-id near-dup prune as a per-cell kernel:
    * `groupByKey(cell).flatMapGroups`, rows sorted by id, each row
    * checked against its lower-id cellmates with an early-exit double
    * loop — ONE shuffle on the cell key and zero pair-row
    * materialization (the |cell|² candidate pairs exist only as loop
    * iterations, which is how production SemDeDup runs its clusters).
    * The kernel's cosine replays [[Vectors.cosine]] bit-for-bit: per-pair
    * left-to-right double folds for dot and both norms, `d / (sa * sb)`,
    * NaN (-> kept) for null/ragged/zero-norm routes — so the verdicts
    * are oracle-exact. Memory contract is SemDeDup's own: a cell's
    * vectors fit one task (nCells scales with the corpus).
    */
  private[graft] def pruneCells(assigned: DataFrame,
      threshold: Double): DataFrame = {
    val sp = assigned.sparkSession
    import sp.implicits._
    assigned
      .select(col("cell").cast("long"), col(assigned.columns.head).as("id"),
        col("__v"))
      .as[(Long, Long, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (cell: Long, it: Iterator[(Long, Long, Array[Double])]) =>
        val rows = it.toArray.sortBy(_._2)
        val n = rows.length
        val kept = Array.fill(n)(true)
        var i = 1
        while (i < n) {
          val vi = rows(i)._3
          var j = 0
          var dropped = false
          while (j < i && !dropped) {
            if (cosineExact(rows(j)._3, vi) >= threshold) dropped = true
            j += 1
          }
          kept(i) = !dropped
          i += 1
        }
        rows.indices.iterator.map(k => (rows(k)._2, cell, kept(k)))
      }
      .toDF("vec_id", "cell", "kept")
  }

  /** CCNet/Dolma-style segment dedup: split each document on a literal
    * separator (newline for real corpora — the reference split CC docs
    * into paragraphs), drop segments whose corpus-wide DOCUMENT frequency
    * exceeds `maxDocFreq` (boilerplate: nav bars, cookie banners,
    * repeated headers), and reassemble the survivors in document order.
    * Emits per doc: the cleaned text, total/kept segment counts.
    *
    * Scale shape: posexplode is a narrow map; the df count is a hash
    * aggregate on the trimmed segment key (map-side partials — a hot
    * boilerplate segment is just a big count, never a wide row); the
    * mark-join is key-vs-key on the same segment key the aggregate
    * produced (co-partitioned); reassembly is one doc-keyed aggregate
    * whose state is bounded by each doc's own segment list. Nothing
    * corpus-sized crosses the wire twice, nothing collects.
    *
    * Segments that trim to empty are dropped before counting (CCNet drops
    * blank lines); docs with no non-empty segments (or null text) are
    * absent from the output.
    */
  def segmentDedup(df: DataFrame, textCol: String, idCol: String,
      sep: String, maxDocFreq: Long): DataFrame = {
    val segs = segments(df, textCol, idCol, sep)
    val segDf = segs.groupBy("k")
      .agg(countDistinct(col(idCol)).as("seg_df"))
    reassembleSegments(
      segs.join(segDf, Seq("k"))
        .withColumn("keep", col("seg_df") <= maxDocFreq),
      idCol, sep)
  }

  /** Split docs into trimmed, non-empty segments: (idCol, pos, seg, k). */
  private[graft] def segments(df: DataFrame, textCol: String, idCol: String,
      sep: String): DataFrame =
    graft.core.Graft.spread(df)
      .select(col(idCol),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as(Seq("pos", "seg")))
      .withColumn("k", trim(col("seg")))
      .filter(col("k") =!= "")

  /** Reassemble marked segments (idCol, pos, seg, keep) per doc in
    * original order — the shared tail of [[segmentDedup]] and its
    * streaming twin [[graft.streaming.HotSegments]].
    */
  private[graft] def reassembleSegments(marked: DataFrame, idCol: String,
      sep: String): DataFrame =
    marked
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_segments"),
        coalesce(sum(when(col("keep"), 1L)), lit(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("pos"), col("seg"))))),
            x => x.getField("seg")),
          sep).as("clean_text"))

  /** Scalar twin of [[Vectors.cosine]] over double arrays: identical op
    * order (left-to-right folds, d / (sqrt(aa) * sqrt(bb))), NaN for the
    * null / ragged / zero-norm routes where the Column form yields null.
    */
  private def cosineExact(a: Array[Double], b: Array[Double]): Double = {
    if (a == null || b == null || a.length != b.length) return Double.NaN
    var d = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < a.length) {
      d += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i)
      i += 1
    }
    val na = math.sqrt(aa); val nb = math.sqrt(bb)
    if (na > 0 && nb > 0) d / (na * nb) else Double.NaN
  }
}
