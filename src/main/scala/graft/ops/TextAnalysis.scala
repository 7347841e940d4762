package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.{StableHash, Text}

/** Corpus-level text analysis: one narrow (shuffle-free) pass deriving
  * language, quality, token counts, and fingerprint per document. All
  * expressions are Catalyst built-ins -> whole-stage codegen'd; at 100 TB
  * this runs as a pure map over the parquet scan with full column pruning.
  */
object TextAnalysis {

  /** Per-document profile. Tokenization is materialized ONCE behind a
    * select boundary (interpreted higher-order functions don't CSE the
    * regex split across sub-expressions), then every signal derives from
    * the token array. Spread across cores first: this is pure CPU-bound
    * map work and small tables scan as one partition.
    */
  def profile(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val tokenized = graft.core.Graft.spread(docs)
      .select(col("doc_id"), col(textCol).as("__text"),
        Text.tokens(col(textCol)).as("__toks"))
    val t = col("__text")
    val toks = col("__toks")
    val q = Text.qualityStructFromTokens(t, toks)
    tokenized.select(
      col("doc_id"),
      Text.languageIdFromTokens(toks).as("lang_pred"),
      q.getField("n_chars").as("n_chars"),
      q.getField("n_tokens").as("n_tokens"),
      Text.bpeTokenCount(t).as("n_bpe_tokens"),
      round(q.getField("punct_ratio"), 6).as("punct_ratio"),
      round(q.getField("stopword_ratio"), 6).as("stopword_ratio"),
      Text.qualityScoreFromStruct(q).as("quality_score"),
      Text.fingerprintFromTokens(toks).as("fingerprint"))
  }

  /** Corpus rollup by predicted language (one shuffle on the tiny lang key,
    * partial aggregation map-side). `avg_quality` is the decimal-exact
    * mean, so it replays bit-for-bit in the oracle.
    */
  def languageSummary(docs: DataFrame, textCol: String = "text"): DataFrame =
    profile(docs, textCol)
      .groupBy("lang_pred")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        (sum(col("quality_score").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1))).as("avg_quality"))

  /** Relational twin of [[graft.functions.Text.repetitionFromParts]]:
    * identical outputs (spec-asserted equality), different complexity
    * class. The HOF form counts duplicates in-array per document —
    * map-side, zero shuffle, O(L²) per doc — the right shape for prose
    * documents (tens-to-hundreds of lines). This form explodes lines and
    * bigrams and counts them relationally — two shuffles on
    * (doc, line)/(doc, bigram), O(L log L)-ish total — the right shape
    * when single documents are huge (100k-line crawl artifacts), where
    * O(L²) in-array counting would dominate. Shuffle keys are
    * (doc, distinct-value) pairs: well-spread by construction, no hot
    * keys even when one document is enormous.
    */
  def repetitionSignalsRelational(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val base = graft.core.Graft.spread(docs)
      .select(col(idCol), Text.linesOf(col(textCol)).as("__ls"),
        Text.tokens(col(textCol)).as("__toks"))
    val lineAgg = base
      .select(col(idCol), explode(col("__ls")).as("line"))
      .groupBy(col(idCol), col("line"))
      .agg(count(lit(1)).as("c"))
      .groupBy(idCol)
      .agg(sum(col("c")).as("nl"),
        count(lit(1)).as("nd"),
        sum(col("c") * length(col("line")).cast("long")).as("tc"),
        sum(when(col("c") >= 2, col("c") * length(col("line")).cast("long"))
          .otherwise(0L)).as("dc"))
    val n = size(col("__toks"))
    val bi = slice(
      zip_with(col("__toks"), slice(col("__toks"), lit(2), n),
        (x, y) => concat(x, lit(" "), y)),
      lit(1), greatest(n - 1, lit(0)))
    val bgAgg = base
      .select(col(idCol), explode(bi).as("bg"))
      .groupBy(col(idCol), col("bg"))
      .agg(count(lit(1)).as("c"))
      .groupBy(idCol)
      .agg(sum(col("c")).as("nb"), max(col("c")).as("maxc"))
    docs.select(col(idCol))
      .join(lineAgg, Seq(idCol), "left")
      .join(bgAgg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("nl"), lit(0L)).as("n_lines"),
        coalesce((col("nl").cast("double") - col("nd").cast("double")) /
          col("nl").cast("double"), lit(0.0)).as("dup_line_frac"),
        coalesce(col("dc").cast("double") / col("tc").cast("double"),
          lit(0.0)).as("dup_line_char_frac"),
        coalesce(col("maxc").cast("double") / col("nb").cast("double"),
          lit(0.0)).as("top_bigram_frac"))
  }

  /** TF-IDF top-k terms per document: tf·ln(N/df) over the corpus
    * document-frequency model, keeping each doc's k highest-scoring terms.
    *
    * Scale shape: term frequencies and document frequencies are both
    * map-side-combined aggregates; N joins in as a 1-row broadcast; the
    * top-k window partitions on doc_id — a HIGH-cardinality key, so unlike
    * the query_id top-k this window form is scale-safe (each partition
    * sorts one doc's distinct terms). Determinism: tf·ln(N/df) is
    * elementwise bit-deterministic ([[graft.plans.MathLn]] == DuckDB ln),
    * and rank ties break on the term string, so rows are stable
    * cross-engine.
    */
  def tfidfTopTerms(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = graft.core.Graft.spread(docs)
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("w"))
      .where(col("w") =!= "")
    val docTok = toks.groupBy(col(idCol), col("w"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = docTok.groupBy("w").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("nd"))
    val scored = docTok.join(dfreq, "w")
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("w"), col("tf"),
        (col("tf").cast("double") *
          graft.plans.MathLn(
            col("nd").cast("double") / col("df").cast("double")))
          .as("tfidf"))
    val win = Window.partitionBy(idCol)
      .orderBy(col("tfidf").desc, col("w").asc)
    scored.withColumn("rank", row_number().over(win))
      .where(col("rank") <= k)
      .select(col(idCol), col("rank"), col("w").as("term"),
        col("tf"), col("tfidf"))
  }

  /** Unigram language-model quality score: two passes over the corpus —
    * (1) a token-frequency model P(w) = c_w / N, (2) each document scored
    * by its mean token log-probability Σ c_{d,w}·ln(P(w)) / |d| (the
    * negated per-token cross-entropy; exp(-score) is the document's
    * unigram perplexity). The classic "looks like the corpus" quality
    * filter: gibberish and boilerplate-repetition documents sit far from
    * the corpus mean score.
    *
    * Scale shape: pass 1 is one map-side-combined shuffle on token; pass 2
    * folds tokens per (doc, token) FIRST (bounding hot-token join rows by
    * doc-frequency, not term-frequency), joins the model on token (AQE
    * skew-split handles the Zipf head), and re-aggregates per doc. The
    * model stays fully distributed — N is a 1-row broadcast, never a
    * driver value.
    *
    * Determinism (strict-oracle discipline): every per-type term
    * k·ln(c/N) is elementwise bit-deterministic ([[graft.plans.MathLn]]
    * == DuckDB `ln`), and the per-doc sum is an ORDERED left fold over
    * terms sorted by token (`sort_array` + `aggregate`), replayed in
    * DuckDB as `list_sum(list(term ORDER BY w))` — both engines fold
    * in-order, so the double sum is bit-equal despite float
    * non-associativity.
    *
    * Output: (idCol, n_tokens, lm_score); empty/whitespace docs keep
    * n_tokens = 0 with NULL score.
    */
  def unigramLmScores(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toks = graft.core.Graft.spread(docs)
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("w"))
      .where(col("w") =!= "")
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val total = vocab.agg(sum(col("c")).as("n"))
    val model = vocab.crossJoin(broadcast(total))
      .select(col("w"),
        graft.plans.MathLn(col("c").cast("double") / col("n").cast("double"))
          .as("lp"))
    val docTok = toks.groupBy(col(idCol), col("w"))
      .agg(count(lit(1)).as("k"))
    val perDoc = docTok.join(model, "w")
      .select(col(idCol), col("w"), col("k"),
        (col("k").cast("double") * col("lp")).as("term"))
      .groupBy(idCol)
      .agg(sum(col("k")).as("n_tokens"),
        aggregate(
          sort_array(collect_list(struct(col("w"), col("term")))),
          lit(0.0), (acc, x) => acc + x.getField("term")).as("lsum"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (col("lsum") / col("n_tokens").cast("double")).as("lm_score"))
  }

  /** Model-based quality classifier (the FineWeb/RefinedWeb "classifier
    * filtering" stage, here a Bernoulli Naive Bayes over word presence):
    * label docs by `posPredicate`, learn per-word Laplace-smoothed
    * log-odds over the top-`vocabSize` words by document frequency, and
    * score every doc by prior + Σ log-odds of its vocab hits. The
    * presence form (absent-word terms folded out) shifts all scores by a
    * corpus constant, which a threshold absorbs.
    *
    * Scale shape: training is two hash aggregates (class counts; per-word
    * df split by class — map-side partials, a word is one row however hot);
    * the vocab cut is a window over the WORD-keyed aggregate output
    * (bounded by distinct words, the text_js_divergence discipline — at
    * corpus scale swap in a df-threshold pre-filter before the rank);
    * inference is one broadcast join of the ≤`vocabSize`-row weight table
    * against per-doc distinct tokens plus a doc-keyed sum. The model
    * never touches the driver.
    *
    * Determinism: each weight ln((dfp+1)/(np+2)) − ln((dfn+1)/(nn+2)) is
    * elementwise bit-deterministic ([[graft.plans.MathLn]] == DuckDB ln)
    * and nano-rounded ONCE; per-doc scores are then exact BIGINT sums —
    * order-free, no float fold anywhere (the text_dsir_weights
    * discipline). `pred_pos` derives from the integer score, so the
    * boolean can never tie-break differently cross-engine.
    *
    * Output: (idCol, n_hits, score_nano, pred_pos) for every input doc;
    * docs with no vocab hits (or null/empty text) score the prior alone.
    */
  def nbClassifierScores(docs: DataFrame, posPredicate: Column,
      textCol: String = "text", idCol: String = "doc_id",
      vocabSize: Int = 100): DataFrame = {
    val base = docs.select(col(idCol), col(textCol).as("__t"),
      posPredicate.as("pos"))
    val toks = graft.core.Graft.spread(base)
      .select(col(idCol), col("pos"), explode(Text.tokens(col("__t"))).as("w"))
      .where(col("w") =!= "")
      .select(col(idCol), col("pos"), col("w")).distinct()
    val cls = base.agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
      sum(when(col("pos"), 0L).otherwise(1L)).as("nn"))
    val dfc = toks.groupBy("w").agg(
      count(lit(1)).as("df"),
      sum(when(col("pos"), 1L).otherwise(0L)).as("dfp"),
      sum(when(col("pos"), 0L).otherwise(1L)).as("dfn"))
    // Bounded top-vocabSize (TakeOrderedAndProject) instead of a global
    // row_number window + filter: same deterministic (df DESC, w ASC)
    // total order selects the identical set, and no corpus-wide
    // vocabulary ever funnels through one window task (r14).
    val vocab = dfc
      .orderBy(col("df").desc, col("w").asc).limit(vocabSize)
    val wgt = vocab.crossJoin(broadcast(cls))
      .select(col("w"),
        round((graft.plans.MathLn((col("dfp") + 1L).cast("double") /
            (col("np") + 2L).cast("double")) -
          graft.plans.MathLn((col("dfn") + 1L).cast("double") /
            (col("nn") + 2L).cast("double"))) * 1e9)
          .cast("long").as("wt_nano"))
    val hits = toks.join(broadcast(wgt), "w")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"), sum(col("wt_nano")).as("hit_nano"))
    val prior = cls.select(
      round(graft.plans.MathLn((col("np") + 1L).cast("double") /
        (col("nn") + 1L).cast("double")) * 1e9).cast("long").as("pr_nano"))
    base.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .crossJoin(broadcast(prior))
      .select(col(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("hit_nano"), lit(0L)) + col("pr_nano"))
          .as("score_nano"))
      .withColumn("pred_pos", col("score_nano") > 0L)
  }

  /** Gopher-style document quality gate (public rule family: Rae et al.
    * 2021, "Scaling Language Models: Methods, Analysis & Insights from
    * Training Gopher", Table A1 document filters; C4 and RefinedWeb use
    * close variants): every rule is an explicit boolean flag and `keep`
    * is their conjunction, so a pipeline can filter AND audit why a doc
    * fell out (per-rule drop rates are one groupBy away — the thing a
    * bare boolean filter can't answer at 100 TB).
    *
    * Composes the two verified signal passes — [[profile]]
    * (length / punct / stopword ratios, map-side) and
    * [[repetitionSignalsRelational]] (dup-line and top-bigram mass, the
    * huge-document-safe relational form) — joined once on the doc key;
    * the gate itself adds no further shuffle. Ratio thresholds compare
    * against the profile's 6-dp-rounded ratios (the exact values the
    * oracle replays). Same `doc_id` contract as [[profile]].
    */
  def qualityGate(docs: DataFrame, textCol: String = "text",
      minTokens: Long = 50, maxTokens: Long = 100000,
      maxPunctRatio: Double = 0.2, minStopwordRatio: Double = 0.02,
      maxDupLineFrac: Double = 0.3,
      maxTopBigramFrac: Double = 0.18): DataFrame = {
    val p = profile(docs, textCol)
      .select(col("doc_id"), col("n_tokens"), col("punct_ratio"),
        col("stopword_ratio"))
    val rep = repetitionSignalsRelational(docs, textCol)
      .select(col("doc_id"), col("dup_line_frac"), col("top_bigram_frac"))
    val okLen = col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens
    val okPunct = col("punct_ratio") <= maxPunctRatio
    val okStop = col("stopword_ratio") >= minStopwordRatio
    val okDup = col("dup_line_frac") <= maxDupLineFrac
    val okBigram = col("top_bigram_frac") <= maxTopBigramFrac
    p.join(rep, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        okLen.as("ok_length"), okPunct.as("ok_punct"),
        okStop.as("ok_stopwords"), okDup.as("ok_dup_lines"),
        okBigram.as("ok_bigram"),
        (okLen && okPunct && okStop && okDup && okBigram).as("keep"))
  }

  /** Zero-shuffle twin of [[qualityGate]]: the same five rules and `keep`
    * conjunction computed entirely map-side — profile signals from
    * [[graft.functions.Text.qualityStructFromTokens]] and repetition
    * signals from the per-doc native [[graft.functions.Text
    * .repetitionFromParts]] (spec-asserted equal to the relational form
    * [[qualityGate]] uses) — so it composes into a Structured Streaming
    * append chain (stateless projection; no per-doc groupBy the
    * micro-batch engine would reject mid-pipeline) and, at 100 TB, runs
    * as a pure map over the scan. Output keeps every input column and
    * appends n_tokens + the flag columns, so a streaming pipeline can
    * gate and still route the survivors by their own attributes. Flag
    * parity with [[qualityGate]] is spec-asserted (QualityGateParity in
    * OpsSpec); ratio thresholds compare the same 6-dp-rounded values.
    */
  def qualityGateMapSide(docs: DataFrame, textCol: String = "text",
      minTokens: Long = 50, maxTokens: Long = 100000,
      maxPunctRatio: Double = 0.2, minStopwordRatio: Double = 0.02,
      maxDupLineFrac: Double = 0.3,
      maxTopBigramFrac: Double = 0.18): DataFrame = {
    // Tokenization materialized once behind a select boundary (the
    // profile/CSE discipline: interpreted HOFs don't CSE across
    // sub-expressions, and CollapseProject keeps a multiply-referenced
    // non-trivial alias in its own Project).
    val parts = docs.select(col("*"),
      Text.linesOf(col(textCol)).as("__ls"),
      Text.tokens(col(textCol)).as("__toks"))
    val q = Text.qualityStructFromTokens(col(textCol), col("__toks"))
    val rep = Text.repetitionFromParts(col("__ls"), col("__toks"))
    val sig = parts.select(col("*"),
      q.getField("n_tokens").as("n_tokens"),
      round(q.getField("punct_ratio"), 6).as("__punct"),
      round(q.getField("stopword_ratio"), 6).as("__stop"),
      rep.getField("dup_line_frac").as("__dup"),
      rep.getField("top_bigram_frac").as("__bigram"))
    val okLen = col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens
    val okPunct = col("__punct") <= maxPunctRatio
    val okStop = col("__stop") >= minStopwordRatio
    val okDup = col("__dup") <= maxDupLineFrac
    val okBigram = col("__bigram") <= maxTopBigramFrac
    val keepCols = docs.columns.map(col).toSeq
    sig.select(keepCols ++ Seq(col("n_tokens"),
      okLen.as("ok_length"), okPunct.as("ok_punct"),
      okStop.as("ok_stopwords"), okDup.as("ok_dup_lines"),
      okBigram.as("ok_bigram"),
      (okLen && okPunct && okStop && okDup && okBigram).as("keep")): _*)
  }

  /** CCNet-style perplexity partition (public method: Wenzek et al. 2020,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", arXiv:1911.00359 §4.3): score each document under the
    * corpus's OWN unigram LM ([[unigramLmScores]]) and split into
    * head / middle / tail terciles of the score distribution — the
    * standard quality gate before mixing web text into training data.
    *
    * Scale shape: the cutoffs are the two exact R-7 tercile quantiles of
    * `lm_score` (one scalar aggregate, broadcast back) and assignment is
    * a map-side comparison — never a global `ntile`, which would funnel
    * the corpus through a single window partition. Higher mean log-prob
    * = lower perplexity = `head`. Docs with zero tokens have no score
    * and are excluded (the contract the oracle mirrors). Quantile
    * interpolation and the comparisons run on bit-identical doubles on
    * both engines (DuckDB `quantile_cont` is the same R-7 estimator).
    */
  def pplBuckets(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // The narrow scored frame (id, n_tokens, lm_score) pins once: the
    // cuts percentile and the bucket assignment otherwise each re-run
    // the WHOLE unigram-LM chain (the cuts side prunes to lm_score
    // below the join, so the subtrees do not canonicalize and exchange
    // reuse cannot fire — 18 shuffle exchanges vs 2; probe 81% at
    // sf0.1). Materializing the lightweight proxy and deciding on it is
    // the guide-§8 shape; the text column never re-reads.
    val scored = unigramLmScores(docs, textCol, idCol)
      .where(col("n_tokens") > 0)
      .localCheckpoint(true)
    val cuts = scored.agg(
      expr("percentile(lm_score, CAST(1 AS DOUBLE)/3)").as("c_lo"),
      expr("percentile(lm_score, CAST(2 AS DOUBLE)/3)").as("c_hi"))
    scored.crossJoin(broadcast(cuts))
      .select(col(idCol), col("n_tokens"), col("lm_score"),
        when(col("lm_score") >= col("c_hi"), "head")
          .when(col("lm_score") >= col("c_lo"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Bigram-LM fluency score: mean log P(w_i | w_{i-1}) under the corpus's
    * own conditional bigram model — the next step up from
    * [[unigramLmScores]] (word-salad text keeps plausible unigrams but
    * improbable transitions). Bigram extraction is a map-side zip of each
    * token array with its own tail (no positional self-join, no shuffle
    * until the model group-bys); the per-doc sum replays as an ordered
    * fold over (w1, w2)-sorted terms so engines agree bit-for-bit.
    */
  def bigramLmScores(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val ts0 = filter(Text.tokens(col(textCol)), w => w =!= "")
    val base = graft.core.Graft.spread(docs).select(col(idCol), ts0.as("ts"))
    val n1 = size(col("ts")) - 1
    val pairsArr = when(size(col("ts")) < 2,
        array().cast("array<struct<w1:string,w2:string>>"))
      .otherwise(zip_with(
        slice(col("ts"), lit(1), n1), slice(col("ts"), lit(2), n1),
        (a, b) => struct(a.as("w1"), b.as("w2"))))
    val pairs = base.select(col(idCol), explode(pairsArr).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bg = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = bg.groupBy("w1").agg(sum("c12").as("c1"))
    val model = bg.join(uni, "w1")
      .select(col("w1"), col("w2"),
        graft.plans.MathLn(col("c12").cast("double") / col("c1").cast("double"))
          .as("lp"))
    val docBg = pairs.groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("k"))
    val perDoc = docBg.join(model, Seq("w1", "w2"))
      .select(col(idCol), col("w1"), col("w2"), col("k"),
        (col("k").cast("double") * col("lp")).as("term"))
      .groupBy(idCol)
      .agg(sum(col("k")).as("n_bigrams"),
        aggregate(
          sort_array(collect_list(struct(col("w1"), col("w2"), col("term")))),
          lit(0.0), (acc, x) => acc + x.getField("term")).as("lsum"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (col("lsum") / col("n_bigrams").cast("double")).as("lm_score"))
  }

  /** Test-set decontamination: flag training documents sharing any word
    * k-shingle with a benchmark/eval corpus — the guard every pretraining
    * pipeline runs so evaluation data never leaks into training data.
    *
    * Returns one row per training doc: distinct-shingle count, the number
    * of those shingles that appear anywhere in the benchmark, and a 0/1
    * contamination flag. Filter `is_contaminated = 0` (or join back) to
    * take the clean slice; keeping counts rather than a bare flag lets
    * callers threshold on overlap fraction instead of any-hit.
    *
    * Shape at scale: the benchmark side is tiny relative to a 100 TB
    * training corpus (eval sets are MBs), so its distinct shingle set
    * BROADCASTS and the membership mark is a map-side hash probe on the
    * exploded training shingles — no shuffle touches corpus x benchmark.
    * The only exchange is the doc-level count aggregation (partial
    * map-side), plus the join back to the doc spine for zero-shingle
    * (empty/null-text) docs.
    */
  def decontaminate(train: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      shingleK: Int = 3): DataFrame = {
    val benchGrams = benchmark
      .select(explode(Text.wordShingles(col(textCol), shingleK)).as("sh"))
      .distinct()
      .withColumn("__hit", lit(1))
    val trainGrams = graft.core.Graft.spread(train).select(col(idCol),
      explode(Text.wordShingles(col(textCol), shingleK)).as("sh"))
    // single pass: left join marks hits, one aggregate counts both signals
    val counts = trainGrams
      .join(broadcast(benchGrams), Seq("sh"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"), count(col("__hit")).as("n_hits"))
    train.select(col(idCol))
      .join(counts, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("is_contaminated", (col("n_hits") > 0).cast("int"))
  }

  /** BM25 ranked retrieval: top-k documents per query under Okapi BM25
    * with the Lucene-style always-positive idf,
    * `ln((N - df + 0.5)/(df + 0.5) + 1)`.
    *
    * Shape at scale: the query-term set is tiny, so the (word)-key joins
    * that attach df and the per-doc tf broadcast the query side, and the
    * scored candidate set is only "docs containing >= 1 query term" — the
    * corpus-wide tf table is filtered by a broadcast semi join BEFORE any
    * scoring. Corpus statistics (N, total tokens) ride a one-row
    * cross-joined aggregate (scalar-subquery shape, no driver collect).
    * The finisher is the bounded [[TopK.perGroupTopK]] partial aggregate —
    * no `Window.partitionBy(query_id)` over the scored set.
    *
    * Cross-engine determinism: per-term contributions are a fixed double
    * expression tree over exact-integer operands ([[graft.plans.MathLn]]
    * == DuckDB `ln`), rounded to integer nano-units; the per-doc sum is
    * then an exact BIGINT sum (order-free), descaled once.
    */
  def bm25TopK(docs: DataFrame, queries: Seq[(Long, Seq[String])],
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val q = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "word")
    val tf = graft.core.Graft.spread(docs)
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("word"))
      .where(col("word") =!= "")
      .groupBy(idCol, "word").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(idCol).agg(sum(col("tf")).as("dl"))
    // doc length rides WITH the postings (one doc-keyed co-partitioned
    // join at index-build time, the classic "store dl in the index"
    // layout) so per-query scoring below is pure broadcast joins — no
    // doc-keyed shuffle per query batch
    val tfdl = tf.join(dl, Seq(idCol))
    val st = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("tot"))
    val dfs = tf.join(broadcast(q.select("word").distinct()), Seq("word"), "left_semi")
      .groupBy("word").agg(count(lit(1)).as("df"))
    // ONE broadcast frame carries df AND the corpus stats (the cross join
    // is |query terms| x 1 — folding st into dfs saves a broadcast build
    // and an exchange per scoring run)
    val wordStats = broadcast(dfs.crossJoin(st))
    bm25Score(tfdl, wordStats, q, idCol, k)
  }

  /** Shared BM25 scoring tail of [[bm25TopK]] and [[bm25TopKWithIndex]]:
    * the per-(term, doc) contribution is computed ONCE — it is
    * query-independent (idf, tf, dl never mention query_id), so batches
    * whose queries share terms (rep fan-out, eval suites) reuse it
    * instead of re-evaluating the ln/round tree per (query, doc) pair;
    * the query join only fans precomputed nanos into the per-query sum.
    * Sharing the tail makes index-serve results bit-identical to the
    * one-shot form structurally, not by coincidence.
    */
  private def bm25Score(tfdl: DataFrame, wordStats: DataFrame,
      q: DataFrame, idCol: String, k: Int): DataFrame = {
    val nd = col("n").cast("double"); val dfd = col("df").cast("double")
    val tfd = col("tf").cast("double"); val dld = col("dl").cast("double")
    val avgdl = col("tot").cast("double") / nd
    val idf = graft.plans.MathLn((nd - dfd + 0.5) / (dfd + 0.5) + 1.0)
    val tfNorm = (tfd * 2.2) / (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * (dld / avgdl)))
    val contrib = tfdl.join(wordStats, Seq("word"))
      .select(col("word"), col(idCol),
        round(idf * tfNorm * 1000000000.0).cast("long").as("nano"))
    val scored = broadcast(q)
      .join(contrib, Seq("word"))
      .groupBy("query_id", idCol)
      .agg((sum(col("nano")).cast("double") / 1000000000.0).as("score"))
    TopK.perGroupTopK(scored, Seq("query_id"), idCol, "score", k)
  }

  /** Prebuilt BM25 index: `postings` is the (word, id, tf, dl) frame —
    * doc length riding with the postings, [[bm25TopK]]'s layout — and
    * `stats` the one-row (n, tot) corpus statistics; both PINNED eagerly
    * (`localCheckpoint`) so serve-time scoring plans never re-run
    * tokenization or the index aggregates. The train-once/serve-many
    * lifecycle ([[graft.ops.AnnIndex]]'s discipline) for ranked
    * retrieval: build is explicitly a job-running step; serving is pure
    * broadcast joins over the pinned frames. At 100 TB the pinned form
    * is the resident-executor variant; [[TextAnalysis.saveBm25Index]]
    * persists the same two frames columnar (word-hashable, doc-prunable)
    * for cross-run reuse, and parquet round-trips the LONG counts
    * exactly, so served scores hash-match the one-shot form.
    */
  case class Bm25Index private[ops] (postings: DataFrame, stats: DataFrame,
      idCol: String)

  /** Build (and pin) the [[Bm25Index]] for `docs`. */
  def bm25Index(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): Bm25Index = {
    val tf = graft.core.Graft.spread(docs)
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("word"))
      .where(col("word") =!= "")
      .groupBy(idCol, "word").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(idCol).agg(sum(col("tf")).as("dl"))
    val postings = tf.join(dl, Seq(idCol))
      .select(col("word"), col(idCol), col("tf"), col("dl"))
      .localCheckpoint(true)
    // corpus stats derive from the PINNED postings (no second tokenize
    // pass): one row per doc via the per-doc dl the postings carry
    val stats = postings.groupBy(idCol).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("tot"))
      .localCheckpoint(true)
    Bm25Index(postings, stats, idCol)
  }

  /** Score a query battery against a prebuilt [[Bm25Index]] —
    * bit-identical to [[bm25TopK]] over the same docs (shared
    * [[bm25Score]] tail, LONG-exact index frames). Serve-time work is
    * the query-word df semi-aggregate over the pinned postings plus the
    * broadcast-join scoring pass; nothing tokenizes, nothing rebuilds.
    */
  def bm25TopKWithIndex(ix: Bm25Index, queries: Seq[(Long, Seq[String])],
      k: Int = 10): DataFrame = {
    val spark = ix.postings.sparkSession
    import spark.implicits._
    val q = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "word")
    val dfs = ix.postings
      .join(broadcast(q.select("word").distinct()), Seq("word"), "left_semi")
      .groupBy("word").agg(count(lit(1)).as("df"))
    val wordStats = broadcast(dfs.crossJoin(ix.stats))
    bm25Score(ix.postings, wordStats, q, ix.idCol, k)
  }

  /** Persist a [[Bm25Index]] (postings + stats, parquet). */
  def saveBm25Index(ix: Bm25Index, path: String): Unit = {
    ix.postings.write.mode("overwrite").parquet(s"$path/postings")
    ix.stats.write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Load a persisted [[Bm25Index]]. Frames stay LAZY scans (no jobs at
    * load — the serve plan reads them like any table); counts are longs,
    * so the round trip is exact.
    */
  def loadBm25Index(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String = "doc_id"): Bm25Index =
    Bm25Index(spark.read.parquet(s"$path/postings"),
      spark.read.parquet(s"$path/stats"), idCol)

  /** Inverted index: term -> document-frequency, total term-frequency, and
    * a delta-encoded posting list "gap:tf,gap:tf,..." (first entry is the
    * absolute doc id; gaps thereafter — the classic index compression
    * layout, string-encoded so it stays engine-portable).
    *
    * Shape at scale: two hash aggregates — (term, doc) for tf, then term
    * for the list. Both shuffle keys are uniform (terms x docs, then
    * terms). Posting-list size is bounded by document frequency; for
    * stopword-class terms at 100 TB the per-term row grows unbounded, so
    * production layouts shard the list (term, shard_no) at a fixed df
    * cap — callers bound df (as the corpus query does) or post-split.
    * sort_array on the (doc_id, tf) struct array is the only per-term
    * O(df log df) step, local to its reducer.
    */
  def invertedIndex(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val tf = graft.core.Graft.spread(docs)
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("word"))
      .where(col("word") =!= "")
      .groupBy("word", idCol).agg(count(lit(1)).as("tf"))
    tf.groupBy("word")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"),
        sort_array(collect_list(struct(col(idCol), col("tf")))).as("__ps"))
      .select(col("word"), col("df"), col("total_tf"),
        array_join(
          transform(col("__ps"), (x, i) =>
            concat(
              when(i === 0, x.getField(idCol))
                .otherwise(x.getField(idCol) -
                  element_at(col("__ps"), i).getField(idCol))
                .cast("string"),
              lit(":"), x.getField("tf").cast("string"))),
          ",").as("postings"))
  }

  /** DSIR-style importance weights: score every document by how much more
    * likely its hashed n-gram features are under a TARGET slice of the
    * corpus than under the raw corpus — the data-selection signal from
    * "Data Selection for Language Models via Importance Resampling"
    * (Xie et al., 2023, arXiv:2302.03169). Select top-weight docs (or
    * Gumbel-sample on the weights) to shift a pretraining mixture toward
    * the target domain without a trained classifier.
    *
    * Features are unigrams + bigrams hashed into `buckets` buckets
    * ([[graft.functions.StableHash.hash60]], engine-portable); both
    * bucket LMs use add-1 smoothing over the bucket vocabulary. The
    * per-bucket log-likelihood ratio is nano-rounded ONCE to an exact
    * BIGINT, so per-doc sums are order-free integer arithmetic — the
    * whole chain replays bit-exact in SQL.
    *
    * Output: (idCol, n_features, logw_nanos) — `logw_nanos` is
    * `sum_f count_f * round(1e9 * (ln p_target(b_f) - ln p_raw(b_f)))`;
    * featureless (empty/null text) docs score 0.
    *
    * Shape at scale: feature extraction is map-side (token zip, no
    * positional self-join); the model is a hash aggregate onto at most
    * `buckets` rows — broadcast back; the only data-sized exchange is
    * the (doc, bucket) combine, map-side-partial and uniform by
    * construction (hash buckets). Nothing driver-sized anywhere.
    */
  def dsirWeights(docs: DataFrame, targetPred: Column,
      textCol: String = "text", idCol: String = "doc_id",
      buckets: Int = 128): DataFrame = {
    val ts0 = filter(Text.tokens(col(textCol)), w => w =!= "")
    val base = graft.core.Graft.spread(docs)
      .select(col(idCol), coalesce(targetPred, lit(false)).as("__tgt"),
        ts0.as("ts"))
    val n1 = size(col("ts")) - 1
    val bi = when(size(col("ts")) < 2, array().cast("array<string>"))
      .otherwise(zip_with(
        slice(col("ts"), lit(1), n1), slice(col("ts"), lit(2), n1),
        (a, b) => concat(a, lit(" "), b)))
    val feats = base
      .select(col(idCol), col("__tgt"), explode(concat(col("ts"), bi)).as("f"))
      .select(col(idCol), col("__tgt"),
        pmod(StableHash.hash60(col("f")), lit(buckets.toLong)).as("b"))
    // Bucket model: <= `buckets` rows; spine keeps smoothing defined on
    // buckets no feature hashed into.
    val bt = feats.groupBy("b")
      .agg(count(lit(1)).as("cr"),
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("ct"))
    val spine = docs.sparkSession.range(buckets.toLong)
      .select(col("id").as("b"))
    val filled = spine.join(bt, Seq("b"), "left")
      .select(col("b"), coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("ct"), lit(0L)).as("ct"))
    val tot = filled.agg(sum("cr").as("tr"), sum("ct").as("tt"))
    val model = filled.crossJoin(broadcast(tot))
      .select(col("b"),
        round((graft.plans.MathLn(
            (col("ct") + 1).cast("double") /
              (col("tt") + lit(buckets.toLong)).cast("double")) -
          graft.plans.MathLn(
            (col("cr") + 1).cast("double") /
              (col("tr") + lit(buckets.toLong)).cast("double"))) * 1e9)
          .cast("long").as("lr_nano"))
    val dk = feats.groupBy(col(idCol), col("b")).agg(count(lit(1)).as("k"))
    val perDoc = dk.join(broadcast(model), Seq("b"))
      .groupBy(idCol)
      .agg(sum(col("k")).as("n_features"),
        sum(col("k") * col("lr_nano")).as("logw_nanos"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_features"), lit(0L)).as("n_features"),
        coalesce(col("logw_nanos"), lit(0L)).as("logw_nanos"))
  }

  /** RAKE keyphrase extraction (Rose et al. 2010): candidate phrases are
    * maximal stopword-free token runs (gaps-and-islands over the token
    * stream — island id = running stopword count), a word scores
    * `deg/freq` where `deg` sums the lengths of every phrase occurrence
    * containing it and `freq` counts its phrase-token occurrences, and a
    * phrase scores the sum of its member words' scores. Scores are
    * truncating integer nanos (`deg*1e9 DIV freq` per word, BIGINT sums
    * per phrase), so identical phrase texts score identically and the
    * whole chain replays exactly in SQL — no float enters.
    *
    * Returns one row per distinct phrase of >= 2 words: `(phrase,
    * n_words, n_occ, score_nano)`.
    *
    * Shape at scale: one per-doc window pass for islands (partition-local
    * by doc), one (doc, island) aggregate for phrases, one word-keyed
    * aggregate for deg/freq, and a broadcast-able word-score join back —
    * all hash aggregates with map-side partials; nothing all-pairs.
    */
  def rakeKeyphrases(docs: DataFrame, stopwords: Seq[String],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = graft.core.Graft.spread(docs)
      .where(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol), posexplode(Text.tokens(col(textCol))))
      .where(col("col") =!= "")
      .select(col(idCol), col("pos"), col("col").as("w"))
    val w = Window.partitionBy(idCol).orderBy(col("pos"))
    val marked = toks.withColumn("island",
      sum(when(col("w").isInCollection(stopwords), 1L).otherwise(0L)).over(w))
    val pt = marked.where(!col("w").isInCollection(stopwords))
    val phrases = pt.groupBy(col(idCol), col("island"))
      .agg(count(lit(1)).as("len"),
        array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("w")))),
          s => s.getField("w")), " ").as("phrase"))
    val wordStats = pt
      .join(phrases.select(col(idCol), col("island"), col("len")),
        Seq(idCol, "island"))
      .groupBy("w")
      .agg(sum("len").as("deg"), count(lit(1)).as("freq"))
      .select(col("w"), expr("deg * 1000000000L DIV freq").as("score_nano"))
    val phraseScores = pt
      .join(broadcast(wordStats), Seq("w"))
      .groupBy(col(idCol), col("island"))
      .agg(sum("score_nano").as("score_nano"))
    phrases.join(phraseScores, Seq(idCol, "island"))
      .where(col("len") >= 2)
      .groupBy("phrase", "len", "score_nano")
      .agg(count(lit(1)).as("n_occ"))
      .select(col("phrase"), col("len").as("n_words"), col("n_occ"),
        col("score_nano"))
  }

  /** Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995;
    * the interpolated form from Chen & Goodman 1999) — THE classic
    * n-gram smoothing, upgrading `text_bigram_lm`-style raw MLE
    * counts with absolute discounting plus a continuation-probability
    * backoff (how many distinct LEFT contexts a word follows, not how
    * often it occurs — the "San Francisco" correction).
    *
    * Discount D = 3/4 keeps every quantity rational:
    * {{{
    *   p(w2|w1) = (4*c12 - 3) / (4*c1)                    [seen mass]
    *            + 3*n1f(w1)*n1b(w2) / (4*c1*N)            [continuation]
    * }}}
    * with c12 = bigram count, c1 = SUM_x c(w1,x), n1f(w1) = distinct
    * followers of w1, n1b(w2) = distinct predecessors of w2, N = distinct
    * bigram types. Each term is ONE truncating division emitted in
    * nanos; the continuation numerator (3*n1f*n1b*1e9) accumulates in
    * DECIMAL(38,0) (DuckDB: HUGEINT), so no width cliff at corpus scale.
    * Output keeps the top `topK` bigrams by (c12 DESC, w1, w2).
    *
    * Shape at scale: the bigram table is built map-side per doc (one
    * arrays_zip — no positional self-join), then every statistic is a
    * hash aggregate on it; the three marginal tables re-attach by
    * broadcast (vocab-sized), and the N total is a one-row broadcast.
    * No window touches the corpus; the only data-sized shuffle is the
    * (w1,w2) count itself.
    */
  def kneserNeyBigrams(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", topK: Int = 200): DataFrame = {
    val toks = graft.core.Graft.spread(docs)
      .select(col(idCol), Text.tokens(col(textCol)).as("ts"))
      .where(size(col("ts")) >= 2)
    val bg = toks.select(explode(arrays_zip(
        slice(col("ts"), lit(1), size(col("ts")) - 1).as("w1"),
        slice(col("ts"), lit(2), size(col("ts")) - 1).as("w2"))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint(true) // 4 consumers below; pin one computation
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"),
      count(lit(1)).as("n1f"))
    val n1b = c12.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val nTot = c12.agg(count(lit(1)).as("nt"))
    c12.join(broadcast(c1), Seq("w1"))
      .join(broadcast(n1b), Seq("w2"))
      .crossJoin(broadcast(nTot))
      .orderBy(col("c12").desc, col("w1"), col("w2")).limit(topK)
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        col("n1f"), col("n1b"),
        (expr("(CAST(4 AS DECIMAL(38,0)) * c12 - 3) * 1000000000" +
            " DIV (CAST(4 AS DECIMAL(38,0)) * c1)") +
          expr("CAST(3 AS DECIMAL(38,0)) * n1f * n1b * 1000000000" +
            " DIV (CAST(4 AS DECIMAL(38,0)) * c1 * nt)")).as("p_nano"))
      .orderBy("w1", "w2")
  }
}
