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

/** Text slice of the SparkEntry corpus (see SparkEntry's scaladoc for the cross-engine
  * determinism rules every entry follows). Bodies moved verbatim from the
  * round-6 SparkEntry map literals; shared helpers live on SparkEntry
  * (private[graft]).
  */
private[graft] trait QueriesText { this: SparkEntry.type =>

  protected def textQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Pairwise Jensen-Shannon divergence between per-source unigram
    // distributions — the corpus-mixing distance report (which sources
    // are stylistically close / far). The vocabulary is projected to the
    // global top-200 terms (deterministic (count DESC, word) rank), which
    // bounds per-pair state; the log terms are doubles folded in word
    // order via the PSI discipline (sort_array fold == list ORDER BY),
    // so the float sum replays bit-for-bit. At corpus scale the top-V
    // selection swaps to the bounded TopKAgg — same contract.
    "text_js_divergence" -> ((s, d) => {
      val words = t(s, d, "documents")
        .where(col("text").isNotNull && trim(col("text")) =!= "" &&
          col("source").isNotNull)
        .select(col("source"),
          explode(Text.tokens(col("text"))).as("w"))
        .where(col("w") =!= "")
      // ONE corpus tokenize pass (r14, guide §2.4): per-(source, word)
      // counts; the vocabulary, the source list and the vocab-projected
      // counts all derive from this aggregate. Its exchange subtree
      // (scan -> explode -> partial agg keyed (source, w)) canonicalizes
      // identically under every reference — source and w are GROUP KEYS,
      // so column pruning cannot diverge below the exchange — and
      // ReuseExchange collapses the replans to one physical pass. The
      // previous form re-derived `words` separately for the vocabulary,
      // the per-source counts and the source grid, and the pair
      // self-join doubled all of it: EIGHT planned corpus tokenizes
      // (plans/r14/text_js_divergence_before.txt, 32 scans). The top-200
      // vocabulary is an explicit bounded top-k (TakeOrderedAndProject),
      // not a global-window rank; tokens() is the native tokenizer.
      val sw = words.groupBy("source", "w").agg(count(lit(1)).as("c"))
      val vocab = sw.groupBy("w").agg(sum("c").as("n"))
        .orderBy(col("n").desc, col("w")).limit(200).select("w")
      val sc = sw.join(broadcast(vocab), Seq("w"))
        .select("source", "w", "c")
      val grid = sw.select("source").distinct().crossJoin(broadcast(vocab))
      val cnt = grid.join(sc, Seq("source", "w"), "left")
        .select(col("source"), col("w"), coalesce(col("c"), lit(0L)).as("c"))
      val tot = cnt.groupBy("source").agg(sum("c").as("n"))
      val cn = cnt.join(broadcast(tot), Seq("source")).where(col("n") > 0)
      val j = cn.select(col("source").as("source_a"), col("w"),
          col("c").as("ca"), col("n").as("n_a"))
        .join(cn.select(col("source").as("source_b"), col("w"),
          col("c").as("cb"), col("n").as("n_b")), Seq("w"))
        .where(col("source_a") < col("source_b"))
        .withColumn("p", col("ca").cast("double") / col("n_a").cast("double"))
        .withColumn("q", col("cb").cast("double") / col("n_b").cast("double"))
        .withColumn("term",
          when(col("p") > 0, lit(0.5) * col("p") *
            graft.plans.MathLn(col("p") / ((col("p") + col("q")) / lit(2.0))))
            .otherwise(lit(0.0)) +
          when(col("q") > 0, lit(0.5) * col("q") *
            graft.plans.MathLn(col("q") / ((col("p") + col("q")) / lit(2.0))))
            .otherwise(lit(0.0)))
      // 200-term double sums can drift a ulp between engines even in a
      // fixed fold order; surfacing integer nanos absorbs it (the corpus
      // discipline for any cross-engine float reduction this wide).
      j.groupBy("source_a", "source_b", "n_a", "n_b")
        .agg(aggregate(
          sort_array(collect_list(struct(col("w"), col("term")))),
          lit(0.0), (acc, x) => acc + x.getField("term")).as("js_raw"))
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
          expr("CAST(round(js_raw * 1e9) AS BIGINT)").as("js_nano"))
        .orderBy("source_a", "source_b")
    }),

    // Text-analysis profile (lang-id, quality, token counts, fingerprint).
    "text_profile" -> ((s, d) =>
      TextAnalysis.profile(t(s, d, "documents")).orderBy("doc_id")),

    // Corpus rollup by predicted language (decimal-exact avg).
    "text_lang_summary" -> ((s, d) =>
      TextAnalysis.languageSummary(t(s, d, "documents")).orderBy("lang_pred")),

    // Inverted index: per-term df / total tf / delta-encoded "gap:tf"
    // posting list, bounded to the 50 highest-df terms (deterministic
    // df-desc/word-asc cut) — the retrieval-index construction pass.
    "text_postings" -> ((s, d) =>
      TextAnalysis.invertedIndex(t(s, d, "documents"))
        .orderBy(col("df").desc, col("word").asc).limit(50)
        .orderBy("word")),

    // BM25 ranked retrieval (Okapi, Lucene idf; k1=1.2, b=0.75): top-10
    // docs per query. Query terms broadcast; only term-matching docs are
    // scored; bounded TopK finisher (no query_id window).
    "text_bm25_topk" -> ((s, d) =>
      TextAnalysis.bm25TopK(t(s, d, "documents"),
        Seq(1L -> Seq("spark", "join", "fast"),
          2L -> Seq("customer", "query", "slow"),
          3L -> Seq("vector", "hash", "merge")), k = 10)
        .orderBy("query_id", "rank")),

    // The train-once/serve-many half of text_bm25_topk: index built and
    // parquet-persisted once (scratch-memoized), scoring served from the
    // loaded index — hash-matches the one-shot oracle because the LONG
    // counts round-trip exactly and the scoring tail is shared code.
    "text_bm25_persisted" -> ((s, d) => {
      val ixPath = scratch("bm25_index", d) { out =>
        TextAnalysis.saveBm25Index(
          TextAnalysis.bm25Index(t(s, d, "documents")), out)
      }
      TextAnalysis.bm25TopKWithIndex(
        TextAnalysis.loadBm25Index(s, ixPath),
        Seq(1L -> Seq("spark", "join", "fast"),
          2L -> Seq("customer", "query", "slow"),
          3L -> Seq("vector", "hash", "merge")), k = 10)
        .orderBy("query_id", "rank")
    }),

    // BPE inference: a FIXED trained merge list (the model artifact)
    // applied corpus-wide — words split to chars, merges folded in order,
    // all map-side. Output: per-doc subword count + first-10 subwords.
    "bpe_encode" -> ((s, d) =>
      graft.ops.Bpe.encodeDocs(t(s, d, "documents"), "text", "doc_id",
        bpeEncodeMerges)
        .select(col("doc_id"), size(col("tk")).cast("long").as("n_subwords"),
          concat_ws(" ", slice(col("tk"), 1, 10)).as("head10"))
        .orderBy("doc_id")),

    // BPE tokenizer training, round-1 statistic: corpus-frequency-weighted
    // adjacent character-pair counts over the distinct word vocabulary
    // (what the first merge maximizes), top-20. The full iterative
    // learner (ops.Bpe.learnBpe) is driver-loop-controlled and
    // spec-verified on the classic Sennrich fixture.
    "bpe_top_pairs" -> ((s, d) =>
      graft.ops.Bpe.pairStats(graft.ops.Bpe.seedVocab(t(s, d, "documents")))
        .orderBy(col("weight").desc, col("a").asc, col("b").asc).limit(20)
        .orderBy("a", "b")),

    // Per-doc uniqueness score (novelty / memorization-risk signal): the
    // share of each doc's distinct bigram shingles that occur NOWHERE
    // else in the corpus (df = 1). One shingle explode, a df count
    // window keyed on the shingle (the shinglePairCounts discipline),
    // one per-doc aggregate — exact integer counts, one final division.
    "text_uniqueness" -> ((s, d) => {
      import org.apache.spark.sql.expressions.{Window => W}
      val docs = Graft.spread(t(s, d, "documents"))
        .where(col("text").isNotNull && trim(col("text")) =!= "")
      val sh = docs.select(col("doc_id"),
        explode(Text.wordShingles(col("text"), 2)).as("sh"))
        .withColumn("df", count(lit(1)).over(W.partitionBy("sh")))
      sh.groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
        .select(col("doc_id"), col("n_shingles"), col("n_unique"),
          (col("n_unique").cast("double") / col("n_shingles"))
            .as("uniqueness"))
        .orderBy("doc_id")
    }),

    // Doc-length histogram (fixed-width integer buckets).
    "text_histogram" -> ((s, d) => t(s, d, "documents")
      .select(expr("n_chars DIV 50").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
      .orderBy("bucket")),

    // Interpolated Kneser-Ney bigram probabilities over the corpus
    // (discount 3/4 keeps every term rational; seen-mass + continuation
    // backoff as two truncating nano divisions, DECIMAL(38)/HUGEINT
    // width) — top-200 bigrams by count. See TextAnalysis scaladoc for
    // the plan shape (map-side bigrams, broadcast marginals).
    "text_kneser_ney" -> ((s, d) =>
      TextAnalysis.kneserNeyBigrams(t(s, d, "documents"))),

    // Flesch-style readability per doc from three deterministic integer
    // counts: words (house whitespace tokenizer), sentence-ending
    // punctuation runs ([.!?]+, clamped >= 1) and vowel-group syllable
    // approximations ([aeiouy]+ runs on the lowered text, clamped
    // >= n_words so every word carries at least one syllable — the
    // standard heuristic floor). Score in exact integer nanos:
    // 206.835 - 1.015*(words/sents) - 84.6*(sylls/words), each ratio one
    // truncating DIV — a pure map-side projection (no shuffle, pipelines
    // into the scan at any scale); trimmed-nonempty text guarantees
    // n_words >= 1, so no divisor guard is needed.
    "text_readability" -> ((s, d) => {
      Graft.spread(t(s, d, "documents"))
        .where(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"),
          size(Text.tokens(col("text"))).cast("long").as("n_words"),
          greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
            .cast("long").as("n_sents"),
          regexp_count(lower(col("text")), lit("[aeiouy]+"))
            .cast("long").as("n_vruns"))
        .select(col("doc_id"), col("n_words"), col("n_sents"),
          greatest(col("n_vruns"), col("n_words")).as("n_sylls"))
        .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_sylls"),
          (lit(206835000000L)
            - expr("1015000000L * n_words DIV n_sents")
            - expr("84600000000L * n_sylls DIV n_words")).as("flesch_nano"))
        .orderBy("doc_id")
    }),

    // Zipf-law fit over the global top-100 vocabulary: OLS of ln(count)
    // on ln(rank) under the deterministic (count DESC, word) ranking.
    // Each log rounds to integer nanos at the term level (the
    // js_divergence discipline — nano rounding absorbs sub-ulp libm
    // differences) and the normal equations accumulate in DECIMAL(38,0)
    // (DuckDB: HUGEINT), so slope and intercept are single truncating
    // divisions over exact integers — bit-replayable. The vocab count is
    // the only data-sized shuffle; the 100-term fit is a one-row
    // reduction. Degenerate fits (< 2 distinct ranks) yield NULL via the
    // NULLIF-guarded denominator.
    "text_zipf_fit" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val words = Graft.spread(t(s, d, "documents"))
        .select(explode(Text.tokens(col("text"))).as("w"))
        .where(col("w") =!= "")
      // Bounded top-100 FIRST (TakeOrderedAndProject — k rows per
      // partition merge, never a global sort), then rank on the 100-row
      // frame: the same (count DESC, word) total order assigns identical
      // ranks, and the unpartitioned window runs on a provably-100-row
      // input (r14; Catalyst's LimitPushDownThroughWindow produced this
      // exact shape implicitly — explicit keeps it version-proof).
      val ranked = words.groupBy("w").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w")).limit(100)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("n").desc, col("w"))))
        .select(
          round(graft.plans.MathLn(col("rank").cast("double")) * lit(1e9))
            .cast("long").as("x"),
          round(graft.plans.MathLn(col("n").cast("double")) * lit(1e9))
            .cast("long").as("y"))
      def dec(c: Column) = c.cast(DecimalType(38, 0))
      ranked.agg(
          count(lit(1)).as("n_terms"),
          sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
          sum(dec(col("x")) * dec(col("x"))).as("sxx"),
          sum(dec(col("x")) * dec(col("y"))).as("sxy"))
        .select(col("n_terms"),
          expr("(n_terms * sxy - sx * sy) * 1000000000" +
            " DIV NULLIF(n_terms * sxx - sx * sx, 0)").as("slope_nano"),
          expr("(sy * (n_terms * sxx - sx * sx)" +
            " - (n_terms * sxy - sx * sy) * sx)" +
            " DIV NULLIF(n_terms * (n_terms * sxx - sx * sx), 0)")
            .as("intercept_nano"))
    }),

    // Character-histogram quality signals (gibberish / repetitiveness
    // detection), computed map-side per doc: the codepoint array sorts
    // once, then ONE fold over the sorted runs yields n, distinct count,
    // max run, and sum of squared run lengths — integer arithmetic end to
    // end; Simpson diversity (1 - sum p_c^2) and top-char fraction each
    // take a single mirrored double division. Simpson carries the same
    // concentration signal as char entropy without entropy's log, which
    // would not replay bit-exact across libm implementations. No explode,
    // no shuffle: the whole profile is a projection, so it pipelines into
    // the scan at any scale (same single-stage family as text_profile).
    // The sort+fold is the native [[graft.plans.CharRunProfile]]
    // expression (primitive int-array sort, three-long run fold) — the
    // declarative array_sort+aggregate form it replaced paid an
    // interpreted comparator plus a struct copy per character (170.9 s at
    // the sf1 probe) and lives on in OpsSpec as the parity reference.
    "text_char_diversity" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), graft.plans.CharRunProfile(col("text")).as("f"),
          length(col("text")).cast("long").as("n"))
        .select(col("doc_id"),
          col("n").as("n_chars"),
          col("f.k").as("distinct_chars"),
          (col("f.mx").cast("double") / col("n").cast("double"))
            .as("top_frac"),
          (lit(1.0) - col("f.ss").cast("double") /
            (col("n") * col("n")).cast("double")).as("simpson"))
        .orderBy("doc_id")
    }),

    // Training-data text cleaning (URL/email strip, whitespace collapse).
    "text_clean" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        Text.cleanForTraining(
          concat(coalesce(col("text"), lit("")),
            lit(" visit https://example.com/x?q=1 or "),
            coalesce(col("source"), lit("")), lit("@mail.test  NOW")))
          .as("cleaned"))
      .orderBy("doc_id")),

    // URL parse battery over a deterministic messy URL per document
    // (mixed-case scheme/host, ccTLD rows, default + explicit ports,
    // tracking params, fragments, trailing slashes). Pure map-side
    // projection — the oracle replays every RE2-safe regex verbatim.
    "url_parse" -> ((s, d) => {
      val u = messyUrl(col("doc_id"), col("lang"), col("source"))
      t(s, d, "documents")
        .select(col("doc_id"), u.as("url"))
        .select(col("doc_id"), col("url"),
          Urls.urlScheme(col("url")).as("scheme"),
          Urls.urlHost(col("url")).as("host"),
          Urls.registeredDomain(Urls.urlHost(col("url"))).as("domain"),
          Urls.urlPath(col("url")).as("path"),
          Urls.canonicalizeUrl(col("url")).as("canonical"))
        .orderBy("doc_id")
    }),

    // Domain-level corpus stats (the RefinedWeb/C4 domain-filtering
    // aggregation): docs, languages, and chars per registered domain.
    // One hash aggregate after a map-side parse.
    "url_domain_stats" -> ((s, d) => {
      val u = messyUrl(col("doc_id"), col("lang"), col("source"))
      t(s, d, "documents")
        .select(Urls.registeredDomain(Urls.urlHost(u)).as("domain"),
          col("lang"), col("n_chars"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("n_docs").desc, col("domain").asc)
    }),

    // Crawl-level URL dedup: raw variants (case, default port, tracking
    // params, trailing slash, fragment) collapse to one canonical form;
    // keep the first-seen doc per canonical URL. groupBy(canonical) is the
    // whole shuffle — dedup work is proportional to distinct URLs.
    "url_crawl_dedup" -> ((s, d) => {
      val id = col("doc_id")
      val kid = id % 50
      val u = concat(
        when(id % 2 === 0, lit("HTTPS://WWW.")).otherwise(lit("https://www.")),
        lit("site"),
        when(kid % 3 === 0, lit(".example.CO.UK")).otherwise(lit(".example.COM")),
        when(kid % 5 === 1, lit(":8080"))
          .when(id % 4 === 0, lit(":443")).otherwise(lit("")),
        lit("/Page/"), kid.cast("string"),
        when(id % 2 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_campaign=c"), id.cast("string"),
        lit("&item="), kid.cast("string"), lit("#s"), id.cast("string"))
      t(s, d, "documents")
        .select(id.as("doc_id"), u.as("url"))
        .select(col("doc_id"), col("url"),
          Urls.canonicalizeUrl(col("url")).as("canonical"))
        .groupBy("canonical")
        .agg(min(col("doc_id")).as("keep_doc"),
          count(lit(1)).as("n_raw"),
          countDistinct(col("url")).as("n_raw_distinct"))
        .orderBy("canonical")
    }),

    // Corpus vocabulary: top-100 non-stopword terms by frequency.
    "text_vocab" -> ((s, d) => {
      val words = Graft.spread(t(s, d, "documents"))
        .select(explode(Text.tokens(col("text"))).as("word"))
        .where(!col("word").isInCollection(Text.stopwords.values.flatten.toSeq)
          && col("word") =!= "")
      words.groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word").asc)
        .limit(100)
    }),

    // Gopher-style repetition quality signals (dup-line fractions, top
    // bigram share). Multi-line structure is PLANTED (the synthetic docs
    // are single-line): each doc's text plus two copies of its first 20
    // chars, so every row exercises the duplicate-line branches.
    // Fractions are raw double divisions of exact integer counts — no
    // rounding step, bit-reproducible in DuckDB.
    "text_repetition" -> ((s, d) => {
      val base = coalesce(col("text"), lit(""))
      val planted = concat_ws("\n", base, substring(base, 1, 20),
        substring(base, 1, 20))
      Graft.spread(t(s, d, "documents"))
        .select(col("doc_id"), Text.linesOf(planted).as("ls"),
          Text.tokens(planted).as("toks"))
        .select(col("doc_id"),
          Text.repetitionFromParts(col("ls"), col("toks")).as("r"))
        .select(col("doc_id"), col("r.n_lines").as("n_lines"),
          col("r.dup_line_frac").as("dup_line_frac"),
          col("r.dup_line_char_frac").as("dup_line_char_frac"),
          col("r.top_bigram_frac").as("top_bigram_frac"))
        .orderBy("doc_id")
    }),

    // Relational twin of text_repetition (explode+groupBy counting — the
    // huge-document scale path; see repetitionSignalsRelational). Same
    // planted duplication, same oracle.
    "text_repetition_rel" -> ((s, d) => {
      val base = coalesce(col("text"), lit(""))
      val planted = concat_ws("\n", base, substring(base, 1, 20),
        substring(base, 1, 20))
      TextAnalysis.repetitionSignalsRelational(
        t(s, d, "documents").select(col("doc_id"), planted.as("text")))
        .orderBy("doc_id")
    }),

    // Accent stripping (native StripAccents expression). Unicode is
    // PLANTED — the synthetic corpus is ASCII; DuckDB's strip_accents
    // replays the same NFD + mark-removal recipe.
    "text_strip_accents" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        Text.stripAccents(concat(coalesce(col("text"), lit("")),
          lit(" café Ünïcode ñandú crème brûlée Żółć naïve façade")))
          .as("stripped"))
      .orderBy("doc_id")),

    // Token-window chunking (8-token windows, 2-token overlap): the
    // doc -> training-example explode. Map-side; chunk_id is the window's
    // ordinal within its document.
    "text_chunks" -> ((s, d) => Graft.spread(t(s, d, "documents"))
      .select(col("doc_id"),
        posexplode(Text.chunkWindows(col("text"), width = 8, overlap = 2)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("chunk_id"),
        col("col").as("chunk"))
      .orderBy("doc_id", "chunk_id")),

    // PII redaction (emails / IPv4 / phone-shaped digit runs ->
    // placeholders). PII is planted per row — the synthetic corpus
    // contains none naturally.
    "text_pii_redact" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        Text.redactPii(concat(coalesce(col("text"), lit("")),
          lit(" contact john.doe+x@mail-test.example.org or 10.0.42.7 or +1 (415) 555-0100 now")))
          .as("redacted"))
      .orderBy("doc_id")),

    // Vocabulary-coverage quality score: fraction of each doc's tokens
    // that fall in the corpus-wide top-100 vocabulary. Two passes: vocab
    // built once (bounded: top-V, deterministic count-desc/word-asc
    // tie-break), collected (V is driver-sized by construction) and
    // folded into a map-side membership count — per-doc scoring never
    // shuffles. Rational arithmetic only: exact counts, one double
    // division.
    "text_vocab_coverage" -> ((s, d) => {
      val docs = Graft.spread(t(s, d, "documents"))
      val vocab = docs.select(explode(Text.tokens(col("text"))).as("word"))
        .where(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word").asc).limit(100)
        .select("word").collect().map(_.getString(0)).toSeq
      docs.select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          Text.stopwordHits(col("toks"), vocab).as("vocab_hits"))
        .withColumn("coverage",
          when(col("n_tokens") > 0,
            col("vocab_hits").cast("double") / col("n_tokens"))
            .otherwise(lit(0.0)))
        .orderBy("doc_id")
    }),

    // Template-slot mining: per source and token position 0..9, the
    // positional MODE token and its share — the profile that exposes
    // templated openings ("Dear customer, ...") in a scraped corpus.
    // Argmax is a struct-min (count desc, token asc), never a window
    // over the corpus; shares are truncating integer nanos.
    "text_template_slots" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .where(col("text").isNotNull && trim(col("text")) =!= "" &&
          col("source").isNotNull)
        .select(col("source"),
          posexplode(split(trim(lower(col("text"))), "\\s+")))
        .where(col("pos") < 10 && col("col") =!= "")
        .select(col("source"), col("pos").cast("long").as("pos"),
          col("col").as("w"))
      val counts = toks.groupBy("source", "pos", "w")
        .agg(count(lit(1)).as("n"))
      val tot = counts.groupBy("source", "pos").agg(sum("n").as("n_tot"))
      counts.groupBy("source", "pos")
        .agg(min(struct((-col("n")).as("nn"), col("w").as("tw"),
          col("n").as("tn"))).as("m"))
        .join(tot, Seq("source", "pos"))
        .select(col("source"), col("pos"), col("m.tw").as("top_token"),
          col("m.tn").as("n"),
          expr("m.tn * 1000000000L DIV n_tot").as("share_nano"))
        .orderBy("source", "pos")
    }),

    // Windowed PMI collocation mining (the word2vec-era co-occurrence
    // statistic): token pairs within a +-2 position window, canonical
    // unordered form, PMI = ln(c_pair * N^2 / (P * c_a * c_b)) over
    // exact integer counts with ONE MathLn + nano rounding per surviving
    // pair (c_pair >= 5; repeated-word self-pairs count in P but are not
    // reported). Products are sized to stay in BIGINT through sf0.1.
    "text_pmi_pairs" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .where(col("text").isNotNull && trim(col("text")) =!= "")
      // Empty tokens are dropped but their POSITIONS are kept (tab-led
      // text survives trim(), so split can emit '' mid-array — the edge
      // corpus caught an unfiltered draft inflating n_tokens/p_total):
      // ps = (original position, word) for non-empty words only.
      val base = Graft.spread(docs)
        .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("ws"))
        .select(col("doc_id"), expr(
          """filter(transform(ws, (w, i) -> named_struct('p', i, 'w', w)),
            |  x -> x.w <> '')""".stripMargin).as("ps"))
      // Pairs at original-position offsets 1 and 2, generated MAP-SIDE
      // from each doc's token list (canonical least/greatest order) —
      // the earlier doc-keyed positional self-join re-planned the
      // tokenization per side and shuffled every token twice (39 s at
      // the sf1 probe). Positions strictly increase within ps, so an
      // offset-(1|2) partner can only sit at list index j-1 or j-2.
      // The size() guards matter: sequence(1, 0) is DESCENDING [1, 0].
      val pairsArr = expr(
        """filter(
          |  CASE WHEN size(ps) >= 2 THEN concat(
          |    transform(sequence(1, size(ps) - 1), j ->
          |      CASE WHEN ps[j].p - ps[j-1].p <= 2 THEN named_struct(
          |        'w_a', least(ps[j-1].w, ps[j].w),
          |        'w_b', greatest(ps[j-1].w, ps[j].w))
          |      ELSE CAST(NULL AS STRUCT<w_a: STRING, w_b: STRING>) END),
          |    CASE WHEN size(ps) >= 3 THEN
          |      transform(sequence(2, size(ps) - 1), j ->
          |        CASE WHEN ps[j].p - ps[j-2].p <= 2 THEN named_struct(
          |          'w_a', least(ps[j-2].w, ps[j].w),
          |          'w_b', greatest(ps[j-2].w, ps[j].w))
          |        ELSE CAST(NULL AS STRUCT<w_a: STRING, w_b: STRING>) END)
          |    ELSE array() END)
          |  ELSE array() END,
          |  x -> x IS NOT NULL)""".stripMargin)
      // ONE corpus pass (r14): unigrams ride the pair stream as
      // (w, NULL) structs, so one (w_a, w_b) aggregate is the base for
      // the pair counts AND the unigram counts AND both totals. The
      // four-consumer form evaluated the per-doc HOF chain 4x at
      // runtime (exec plan: the pair Generate twice — p_total's subtree
      // does not canonicalize with the main chain — and the token
      // explode twice; plans/r14/text_pmi_pairs_exec_before.txt). The
      // aggregate is pinned with eager localCheckpoint because the
      // group-key filters below (w_b IS [NOT] NULL) would otherwise
      // push beneath the aggregate and split the canonical subtrees
      // (the dedup_passages E3 lesson). The checkpointed frame is
      // vocab + pair-vocabulary sized — decide with small rows (guide
      // §8), never corpus sized. Probe: 8.0 -> 2.4 s at sf0.1, 12 -> 3
      // shuffle exchanges, row parity exact at sf0.01 + sf0.1.
      val unisArr = expr(
        "transform(ps, x -> named_struct('w_a', x.w," +
          " 'w_b', CAST(NULL AS STRING)))")
      val combined = base
        .select(explode(concat(unisArr, pairsArr)).as("p"))
        .select(col("p.w_a").as("w_a"), col("p.w_b").as("w_b"))
        .groupBy("w_a", "w_b").agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val uni = combined.where(col("w_b").isNull)
        .select(col("w_a").as("w"), col("c").as("cw"))
      val nTok = uni.agg(sum("cw").as("n_tokens"))
      val grouped = combined.where(col("w_b").isNotNull)
        .select(col("w_a"), col("w_b"), col("c").as("c_pair"))
      val pTot = grouped.agg(sum("c_pair").as("p_total"))
      grouped.where(col("c_pair") >= 5 && col("w_a") =!= col("w_b"))
        .join(uni.select(col("w").as("w_a"), col("cw").as("c_a")), Seq("w_a"))
        .join(uni.select(col("w").as("w_b"), col("cw").as("c_b")), Seq("w_b"))
        .crossJoin(broadcast(nTok)).crossJoin(broadcast(pTot))
        .select(col("w_a"), col("w_b"), col("c_pair"), col("c_a"), col("c_b"),
          round(graft.plans.MathLn(
            (col("c_pair") * col("n_tokens") * col("n_tokens")).cast("double") /
            (col("p_total") * col("c_a") * col("c_b")).cast("double")) * 1e9)
            .cast("long").as("pmi_nano"))
        .orderBy("w_a", "w_b")
    }),

    // RAKE keyphrase extraction: stopword-free runs scored deg/freq in
    // truncating integer nanos (TextAnalysis.rakeKeyphrases); phrases
    // seen at least twice corpus-wide.
    "text_rake_keyphrases" -> ((s, d) =>
      TextAnalysis.rakeKeyphrases(t(s, d, "documents"),
        Seq("a", "an", "the", "of", "to", "and", "in", "on", "is", "for"))
        .where(col("n_occ") >= 2)
        .orderBy("phrase")),

    // TF-IDF top-3 terms per document (corpus df model + per-doc top-k
    // window on the high-cardinality doc key).
    "text_tfidf" -> ((s, d) =>
      TextAnalysis.tfidfTopTerms(t(s, d, "documents"), k = 3)
        .orderBy("doc_id", "rank")),

    // Unigram-LM quality scoring: corpus-frequency model (pass 1) + mean
    // token log-prob per doc (pass 2) — see TextAnalysis.unigramLmScores
    // for the ordered-fold determinism contract.
    "text_unigram_lm" -> ((s, d) =>
      TextAnalysis.unigramLmScores(t(s, d, "documents")).orderBy("doc_id")),

    // Tokenizer fertility by language: BPE-ish tokens per whitespace
    // word, the tokenizer-efficiency metric multilingual teams track
    // (fertility >> 1 = the tokenizer fragments that language). One
    // map-side projection + one hash aggregate on the tiny lang key;
    // empty-token artifacts excluded from the word count (the PMI
    // lesson), ratio NULL for wordless groups.
    "text_token_fertility" -> ((s, d) => Graft.spread(t(s, d, "documents"))
      .select(coalesce(col("lang"), lit("~")).as("lang"),
        Text.bpeTokenCount(col("text")).as("bpe"),
        coalesce(size(filter(Text.tokens(col("text")), w => w =!= ""))
          .cast("long"), lit(0L)).as("words"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("bpe").as("total_bpe_tokens"),
        sum("words").as("total_words"),
        when(sum("words") > 0,
          sum("bpe").cast("double") / sum("words").cast("double"))
          .as("fertility"))
      .orderBy("lang")),

    // Model-based quality classifier (the FineWeb "classifier filtering"
    // stage): Bernoulli NB log-odds over the top-100-df vocabulary,
    // labeled here by source = 'src0'. Weights are nano-rounded once,
    // per-doc scores are exact BIGINT sums (text_dsir_weights
    // discipline); pred_pos derives from the integer score.
    "text_nb_classifier" -> ((s, d) =>
      TextAnalysis.nbClassifierScores(
        t(s, d, "documents"), col("source") === "src0")
        .orderBy("doc_id")),

    // Grouped heavy hitters: top-3 terms per language through the bounded
    // TopKAgg (its id channel is Long, so terms ride as hash60 ids and the
    // winners join their strings back — k rows per group per partition
    // cross the shuffle, never the full term distribution).
    // String-id bounded top-k (TopKAggStr): terms rank directly through
    // the k-slot aggregate — no hash60 surrogate id + join-back, and ties
    // break on the term itself (UTF-8 byte order, DuckDB-identical).
    "text_top_terms" -> ((s, d) => {
      val toks = Graft.spread(t(s, d, "documents"))
        .select(col("lang"), explode(Text.tokens(col("text"))).as("w"))
        .where(col("w") =!= "")
      val counts = toks.groupBy("lang", "w").agg(count(lit(1)).as("c"))
      graft.ops.TopK.perGroupTopKStr(
        counts.withColumn("score", col("c").cast("double")),
        Seq("lang"), "w", "score", 3)
        .select(col("lang"), col("rank"), col("w").as("term"),
          col("score").cast("long").as("n"))
        .orderBy("lang", "rank")
    }),

    // Bigram-LM fluency scores (conditional log-prob transitions; the
    // word-order-sensitive sibling of text_unigram_lm).
    "text_bigram_lm" -> ((s, d) =>
      TextAnalysis.bigramLmScores(t(s, d, "documents")).orderBy("doc_id")),

    // DSIR importance weights: hashed n-gram log-likelihood ratio of the
    // English slice (target) vs the whole corpus (raw) — integer-nano
    // weights, bit-replayable (arXiv:2302.03169).
    "text_dsir_weights" -> ((s, d) =>
      TextAnalysis.dsirWeights(t(s, d, "documents"),
        targetPred = col("lang") === "en").orderBy("doc_id")),

    // CCNet-style head/middle/tail quality partition: exact tercile
    // cutoffs of the unigram-LM scores (scalar aggregate + broadcast,
    // never a global ntile), assignment map-side.
    "text_ppl_buckets" -> ((s, d) =>
      TextAnalysis.pplBuckets(t(s, d, "documents")).orderBy("doc_id")),

    // Gopher-style quality gate: per-rule boolean flags + the composite
    // keep verdict (thresholds tuned to split this synthetic corpus;
    // production uses the paper's 50..100k / 0.18 defaults).
    "text_quality_gate" -> ((s, d) =>
      TextAnalysis.qualityGate(t(s, d, "documents"),
        minTokens = 30, maxTokens = 80, maxPunctRatio = 0.2,
        minStopwordRatio = 0.05, maxDupLineFrac = 0.3,
        maxTopBigramFrac = 0.05)
        .orderBy("doc_id")),

    // End-to-end curation attrition funnel — the report a training-data
    // team reads before a run: surviving-doc counts through the standard
    // chain raw -> nonempty -> Gopher quality gate -> exact-dedup unique,
    // each stage a subset of the previous. ONE corpus pass (r14): the
    // map-side gate twin scores every doc (flag parity with the
    // relational form is spec-asserted AND oracle-proven at these exact
    // thresholds by stream_quality_cap's batch/stream cross-check), one
    // mixed aggregate computes all four counts (count_if flags +
    // count_distinct digest), and the 4 stage rows explode from the
    // single result row. The pre-r14 four-unioned-aggregates form ran
    // the relational gate chain twice plus two more whole-corpus counts
    // (19 shuffle exchanges; probe: 1.67 -> 0.76 s at sf0.1, parity
    // exact at sf0.01 + sf0.1 + edge). Oracle unchanged (same shared
    // gate CTE parameterization as text_quality_gate).
    "text_curation_funnel" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val g = TextAnalysis.qualityGateMapSide(docs, "text",
        minTokens = 30, maxTokens = 80, maxPunctRatio = 0.2,
        minStopwordRatio = 0.05, maxDupLineFrac = 0.3,
        maxTopBigramFrac = 0.05)
      val ne = col("text").isNotNull && trim(col("text")) =!= ""
      val q = ne && col("keep")
      val row = Graft.spread(g).agg(
        count(lit(1)).as("n_raw"),
        sum(when(ne, 1L).otherwise(0L)).as("n_nonempty"),
        sum(when(q, 1L).otherwise(0L)).as("n_quality"),
        count_distinct(when(q, md5(col("text")))).as("n_unique"))
      row.select(explode(array(
          struct(lit(1L).as("stage_ord"), lit("raw").as("stage"),
            col("n_raw").as("n_docs")),
          struct(lit(2L).as("stage_ord"), lit("nonempty").as("stage"),
            col("n_nonempty").as("n_docs")),
          struct(lit(3L).as("stage_ord"), lit("quality_gate").as("stage"),
            col("n_quality").as("n_docs")),
          struct(lit(4L).as("stage_ord"), lit("unique_text").as("stage"),
            col("n_unique").as("n_docs")))).as("s"))
        .select(col("s.stage_ord").as("stage_ord"), col("s.stage").as("stage"),
          col("s.n_docs").as("n_docs"))
        .orderBy("stage_ord")
    }),

    // Test-set decontamination: training docs (doc_id >= 20) flagged by
    // 3-shingle overlap with a benchmark slice (doc_id < 20). Benchmark
    // shingle set broadcasts; the mark is a map-side probe.
    "text_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.decontaminate(
        docs.where(col("doc_id") >= 20), docs.where(col("doc_id") < 20),
        "text", "doc_id", shingleK = 3)
        .orderBy("doc_id")
    })
  )

  // Shared by text_bm25_topk and text_bm25_persisted: the serve-from-
  // index path must hash-match the one-shot scoring exactly, so both
  // replay the SAME oracle.
  private val bm25TopkOracle: String =
    """WITH q AS (SELECT CAST(qid AS BIGINT) AS query_id, word FROM (VALUES
      |  (1,'spark'),(1,'join'),(1,'fast'),
      |  (2,'customer'),(2,'query'),(2,'slow'),
      |  (3,'vector'),(3,'hash'),(3,'merge')) t(qid, word)),
      |tf AS (
      | SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM (
      |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
      |  FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
      | WHERE word <> '' GROUP BY doc_id, word),
      |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
      |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS tot FROM dl),
      |dfs AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf
      |        WHERE word IN (SELECT word FROM q) GROUP BY word),
      |sc AS (
      | SELECT query_id, doc_id,
      |  CAST(SUM(CAST(round(
      |   ln((CAST(st.n AS DOUBLE) - CAST(dfs.df AS DOUBLE) + 0.5) / (CAST(dfs.df AS DOUBLE) + 0.5) + 1.0)
      |   * ((CAST(tf.tf AS DOUBLE) * 2.2) / (CAST(tf.tf AS DOUBLE)
      |      + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / (CAST(st.tot AS DOUBLE) / CAST(st.n AS DOUBLE))))))
      |   * 1000000000.0) AS BIGINT)) AS DOUBLE) / 1000000000.0 AS score
      | FROM q JOIN tf USING (word) JOIN dfs USING (word) JOIN dl USING (doc_id) CROSS JOIN st
      | GROUP BY query_id, doc_id),
      |r AS (SELECT query_id, doc_id, score,
      | CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
      | FROM sc)
      |SELECT query_id, doc_id, score, rank FROM r WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  protected def textOracles: Map[String, String] = Map(
    "text_uniqueness" ->
      """WITH docs AS (
        | SELECT doc_id, text FROM documents
        | WHERE text IS NOT NULL AND trim(text) <> ''),
        |words AS (
        | SELECT doc_id, w, i FROM (
        |  SELECT doc_id,
        |   unnest(string_split_regex(trim(lower(text)), '\s+')) AS w,
        |   generate_subscripts(string_split_regex(trim(lower(text)), '\s+'), 1) AS i
        |  FROM docs)),
        |shingles AS (
        | SELECT DISTINCT a.doc_id AS id, a.w || ' ' || b.w AS sh
        | FROM words a JOIN words b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        | UNION
        | SELECT doc_id AS id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS sh
        | FROM docs
        | WHERE len(string_split_regex(trim(lower(text)), '\s+')) < 2),
        |dfreq AS (SELECT sh, COUNT(*) AS df FROM shingles GROUP BY sh)
        |SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        | CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        | CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
        |   AS uniqueness
        |FROM shingles JOIN dfreq USING (sh)
        |GROUP BY id ORDER BY doc_id""".stripMargin,

    "text_decontaminate" -> decontaminateOracle,

    // the oracle's single global window IS the naive shape the operator
    // exists to avoid — fine for DuckDB at verify scale,

    "text_js_divergence" ->
      """WITH words AS (
        | SELECT source,
        |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        | FROM documents
        | WHERE text IS NOT NULL AND trim(text) <> ''
        |   AND source IS NOT NULL),
        |ww AS (SELECT source, w FROM words WHERE w <> ''),
        |gc AS (SELECT w, COUNT(*) AS n FROM ww GROUP BY 1),
        |vocab AS (SELECT w FROM (
        |  SELECT w, ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rn FROM gc)
        | WHERE rn <= 200),
        |sc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM ww WHERE w IN (SELECT w FROM vocab) GROUP BY 1, 2),
        |grid AS (SELECT s.source, v.w
        |         FROM (SELECT DISTINCT source FROM ww) s CROSS JOIN vocab v),
        |cnt AS (SELECT g.source, g.w, COALESCE(sc.c, 0) AS c
        |        FROM grid g
        |        LEFT JOIN sc ON sc.source = g.source AND sc.w = g.w),
        |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
        |        FROM cnt GROUP BY 1),
        |cn AS (SELECT c.source, c.w, c.c, t.n FROM cnt c
        |       JOIN tot t ON t.source = c.source WHERE t.n > 0),
        |j AS (
        | SELECT x.source AS source_a, y.source AS source_b,
        |  x.n AS n_a, y.n AS n_b, x.w,
        |  CAST(x.c AS DOUBLE) / CAST(x.n AS DOUBLE) AS p,
        |  CAST(y.c AS DOUBLE) / CAST(y.n AS DOUBLE) AS q
        | FROM cn x JOIN cn y ON y.w = x.w AND x.source < y.source),
        |terms AS (
        | SELECT source_a, source_b, n_a, n_b, w,
        |  (CASE WHEN p > 0 THEN 0.5 * p * ln(p / ((p + q) / 2))
        |        ELSE 0.0 END)
        |  + (CASE WHEN q > 0 THEN 0.5 * q * ln(q / ((p + q) / 2))
        |         ELSE 0.0 END) AS term
        | FROM j)
        |SELECT source_a, source_b, n_a, n_b,
        | CAST(round(list_sum(list(term ORDER BY w)) * 1e9) AS BIGINT)
        |   AS js_nano
        |FROM terms GROUP BY 1, 2, 3, 4
        |ORDER BY source_a, source_b""".stripMargin,

    "text_histogram" ->
      """SELECT n_chars // 50 AS bucket, COUNT(*) AS n_docs
        |FROM documents GROUP BY bucket ORDER BY bucket""".stripMargin,

    // KN replay: the paired unnests zip (equal-length slices), HUGEINT
    // mirrors the DECIMAL(38,0) accumulators, `//` and DIV both
    // truncate on the all-positive mass.
    "text_kneser_ney" ->
      """WITH toks AS (
        | SELECT string_split_regex(trim(lower(text)), '\s+') AS ts
        | FROM documents),
        |tf AS (SELECT ts FROM toks WHERE len(ts) >= 2),
        |bg AS (
        | SELECT unnest(ts[1:len(ts)-1]) AS w1, unnest(ts[2:len(ts)]) AS w2
        | FROM tf),
        |c12 AS (
        | SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        | FROM bg GROUP BY 1, 2),
        |c1 AS (
        | SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
        |  CAST(COUNT(*) AS BIGINT) AS n1f
        | FROM c12 GROUP BY 1),
        |n1b AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b
        |        FROM c12 GROUP BY 1),
        |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM c12),
        |top AS (
        | SELECT b.w1, b.w2, b.c12, c1.c1, c1.n1f, n1b.n1b, nt.nt
        | FROM c12 b JOIN c1 USING (w1) JOIN n1b USING (w2) CROSS JOIN nt
        | ORDER BY b.c12 DESC, b.w1, b.w2 LIMIT 200)
        |SELECT w1, w2, c12, c1, n1f, n1b,
        | CAST((CAST(4 AS HUGEINT) * c12 - 3) * 1000000000
        |   // (CAST(4 AS HUGEINT) * c1)
        |  + CAST(3 AS HUGEINT) * n1f * n1b * 1000000000
        |   // (CAST(4 AS HUGEINT) * c1 * nt) AS BIGINT) AS p_nano
        |FROM top ORDER BY w1, w2""".stripMargin,

    // Both engines count non-overlapping leftmost regex matches, `//`
    // and DIV both truncate, and trimmed-nonempty text guarantees
    // n_words >= 1 (the whole-token fallback: "..." is one word).
    "text_readability" ->
      """WITH base AS (
        | SELECT doc_id,
        |  CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT)
        |    AS n_words,
        |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
        |    AS n_sents,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
        |    AS n_vruns
        | FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |syl AS (
        | SELECT doc_id, n_words, n_sents,
        |  greatest(n_vruns, n_words) AS n_sylls
        | FROM base)
        |SELECT doc_id, n_words, n_sents, n_sylls,
        | 206835000000 - 1015000000 * n_words // n_sents
        |   - 84600000000 * n_sylls // n_words AS flesch_nano
        |FROM syl ORDER BY doc_id""".stripMargin,

    // HUGEINT normal equations mirror the Spark DECIMAL(38,0)
    // accumulators; per-term ln rounds to nanos before any sum.
    "text_zipf_fit" ->
      """WITH words AS (
        | SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        | FROM documents),
        |vocab AS (
        | SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM words WHERE w <> ''
        | GROUP BY w ORDER BY n DESC, w ASC LIMIT 100),
        |ranked AS (
        | SELECT
        |  CAST(round(ln(CAST(row_number() OVER (ORDER BY n DESC, w ASC)
        |    AS DOUBLE)) * 1e9) AS BIGINT) AS x,
        |  CAST(round(ln(CAST(n AS DOUBLE)) * 1e9) AS BIGINT) AS y
        | FROM vocab),
        |st AS (
        | SELECT CAST(COUNT(*) AS HUGEINT) AS nt,
        |  SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |  SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
        |  SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
        | FROM ranked)
        |SELECT CAST(nt AS BIGINT) AS n_terms,
        | CAST((nt * sxy - sx * sy) * 1000000000
        |   // NULLIF(nt * sxx - sx * sx, 0) AS BIGINT) AS slope_nano,
        | CAST((sy * (nt * sxx - sx * sx) - (nt * sxy - sx * sy) * sx)
        |   // NULLIF(nt * (nt * sxx - sx * sx), 0) AS BIGINT)
        |   AS intercept_nano
        |FROM st""".stripMargin,

    // Relational twin of the sorted-run fold: per-codepoint counts via
    // unnest, then integer aggregates; the two divisions and the 1.0 -
    // subtraction mirror the engine's exact expression order. length()
    // counts codepoints in both engines; SUM(n*n) is HUGEINT -> BIGINT.
    "text_char_diversity" ->
      """WITH chars AS (
        | SELECT doc_id,
        |  unnest(list_transform(range(1, length(text) + 1),
        |    i -> substring(text, i, 1))) AS c
        | FROM documents WHERE text IS NOT NULL AND length(text) > 0),
        |cnt AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n
        |        FROM chars GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS k,
        |         MAX(n) AS mx, CAST(SUM(n * n) AS BIGINT) AS ss
        |        FROM cnt GROUP BY 1)
        |SELECT d.doc_id,
        | CASE WHEN d.text IS NULL THEN NULL
        |  ELSE CAST(length(d.text) AS BIGINT) END AS n_chars,
        | a.k AS distinct_chars,
        | CAST(a.mx AS DOUBLE) / CAST(length(d.text) AS DOUBLE) AS top_frac,
        | 1.0 - CAST(a.ss AS DOUBLE) /
        |  CAST(length(d.text) * length(d.text) AS DOUBLE) AS simpson
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "text_bm25_topk" -> bm25TopkOracle,

    // the persisted-index serve path must land on the same rows
    "text_bm25_persisted" -> bm25TopkOracle,

    "bpe_top_pairs" ->
      """WITH words AS (
        | SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
        | WHERE word <> '' GROUP BY word),
        |pairs AS (
        | SELECT substr(word, CAST(i AS INTEGER), 2) AS pr, cnt
        | FROM words, unnest(range(1, length(word))) AS u(i)),
        |agg AS (
        | SELECT substr(pr, 1, 1) AS a, substr(pr, 2, 1) AS b,
        |  CAST(SUM(cnt) AS BIGINT) AS weight
        | FROM pairs GROUP BY 1, 2)
        |SELECT a, b, weight
        |FROM (SELECT * FROM agg ORDER BY weight DESC, a, b LIMIT 20)
        |ORDER BY a, b""".stripMargin,

    "text_postings" ->
      """WITH tf AS (
        | SELECT word, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
        | WHERE word <> '' GROUP BY word, doc_id),
        |del AS (
        | SELECT word, doc_id, tf,
        |  doc_id - lag(doc_id) OVER (PARTITION BY word ORDER BY doc_id) AS gap
        | FROM tf),
        |agg AS (
        | SELECT word, CAST(COUNT(*) AS BIGINT) AS df,
        |  CAST(SUM(tf) AS BIGINT) AS total_tf,
        |  string_agg(CAST(COALESCE(gap, doc_id) AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
        |             ',' ORDER BY doc_id) AS postings
        | FROM del GROUP BY word)
        |SELECT word, df, total_tf, postings
        |FROM (SELECT * FROM agg ORDER BY df DESC, word LIMIT 50)
        |ORDER BY word""".stripMargin,

    "text_clean" ->
      """SELECT doc_id,
        | lower(trim(regexp_replace(regexp_replace(regexp_replace(
        |   COALESCE(text, '') || ' visit https://example.com/x?q=1 or '
        |     || COALESCE(source, '') || '@mail.test  NOW',
        |   'https?://\S+', ' ', 'g'),
        |  '\S+@\S+', ' ', 'g'),
        | '\s+', ' ', 'g'))) AS cleaned
        |FROM documents ORDER BY doc_id""".stripMargin,

    "url_parse" ->
      s"""WITH raw AS (SELECT doc_id, ${messyUrlSql("doc_id")} AS url
         | FROM documents),
         |${urlPartsSql}
         |SELECT doc_id, url, scheme, host, ${domainSql("host", "labels")} AS domain,
         | rawpath AS path, ${canonicalSql} AS canonical
         |FROM k ORDER BY doc_id""".stripMargin,

    "url_domain_stats" ->
      s"""WITH raw AS (SELECT doc_id, lang, n_chars,
         |  ${messyUrlSql("doc_id")} AS url FROM documents),
         |${urlPartsSql}
         |SELECT ${domainSql("host", "labels")} AS domain,
         | COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs,
         | CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |FROM k GROUP BY 1 ORDER BY n_docs DESC, domain ASC""".stripMargin,

    "url_crawl_dedup" ->
      s"""WITH raw AS (SELECT doc_id,
         |  CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'https://www.' END
         |   || 'site'
         |   || CASE WHEN (doc_id % 50) % 3 = 0 THEN '.example.CO.UK'
         |           ELSE '.example.COM' END
         |   || CASE WHEN (doc_id % 50) % 5 = 1 THEN ':8080'
         |           WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
         |   || '/Page/' || (doc_id % 50)
         |   || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
         |   || '?utm_campaign=c' || doc_id
         |   || '&item=' || (doc_id % 50) || '#s' || doc_id AS url
         | FROM documents),
         |${urlPartsSql}
         |SELECT ${canonicalSql} AS canonical, MIN(doc_id) AS keep_doc,
         | COUNT(*) AS n_raw, COUNT(DISTINCT url) AS n_raw_distinct
         |FROM k GROUP BY 1 ORDER BY canonical""".stripMargin,

    "text_vocab" -> {
      val stop = Text.stopwords.values.flatten.toSeq
        .map(w => s"'$w'").mkString("(", ", ", ")")
      s"""WITH words AS (
         | SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
         | FROM documents)
         |SELECT word, COUNT(*) AS n FROM words
         |WHERE word NOT IN $stop AND word <> ''
         |GROUP BY word ORDER BY n DESC, word ASC LIMIT 100""".stripMargin
    },

    "text_profile" -> textProfileOracle,
    "text_repetition" -> repetitionOracle,
    // Stage counts replayed over the shared gate CTE; 'unique_text'
    // counts distinct md5 digests among the gate survivors.
    "text_curation_funnel" ->
      s"""WITH gate AS (
         |${qualityGateOracle(minTokens = 30, maxTokens = 80,
             maxPunct = 0.2, minStop = 0.05, maxDupLine = 0.3,
             maxTopBigram = 0.05, ordered = false)}
         |), ne AS (
         | SELECT doc_id, text FROM documents
         | WHERE text IS NOT NULL AND trim(text) <> ''),
         |q AS (
         | SELECT ne.doc_id, ne.text
         | FROM ne JOIN gate g USING (doc_id) WHERE g.keep)
         |SELECT CAST(1 AS BIGINT) AS stage_ord, 'raw' AS stage,
         |  CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs
         |UNION ALL SELECT 2, 'nonempty',
         |  CAST((SELECT COUNT(*) FROM ne) AS BIGINT)
         |UNION ALL SELECT 3, 'quality_gate',
         |  CAST((SELECT COUNT(*) FROM q) AS BIGINT)
         |UNION ALL SELECT 4, 'unique_text',
         |  CAST((SELECT COUNT(DISTINCT md5(text)) FROM q) AS BIGINT)
         |ORDER BY stage_ord""".stripMargin,

    "text_quality_gate" -> qualityGateOracle(minTokens = 30, maxTokens = 80,
      maxPunct = 0.2, minStop = 0.05, maxDupLine = 0.3, maxTopBigram = 0.05),

    // Same oracle verbatim: the relational operator is contractually
    // output-identical to the HOF one (RepetitionRelationalSpec).
    "text_repetition_rel" -> repetitionOracle,
    "text_vocab_coverage" ->
      """WITH words AS (
        | SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        | FROM documents WHERE trim(text) <> ''),
        |vocab AS (
        | SELECT w AS word, COUNT(*) AS n FROM words WHERE w <> ''
        | GROUP BY w ORDER BY n DESC, word ASC LIMIT 100),
        |counts AS (
        | SELECT w.doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.word IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS vocab_hits
        | FROM words w LEFT JOIN vocab v ON v.word = w.w
        | GROUP BY w.doc_id)
        |SELECT d.doc_id,
        | COALESCE(c.n_tokens, 0) AS n_tokens,
        | COALESCE(c.vocab_hits, 0) AS vocab_hits,
        | COALESCE(CAST(c.vocab_hits AS DOUBLE) / c.n_tokens, 0.0) AS coverage
        |FROM documents d LEFT JOIN counts c ON c.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "text_strip_accents" ->
      """SELECT doc_id,
        | strip_accents(COALESCE(text,'') || ' café Ünïcode ñandú crème brûlée Żółć naïve façade') AS stripped
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_chunks" ->
      """WITH words AS (
        | SELECT doc_id, w, i FROM (
        |  SELECT doc_id,
        |   unnest(string_split_regex(trim(lower(text)), '\s+')) AS w,
        |   generate_subscripts(string_split_regex(trim(lower(text)), '\s+'), 1) AS i
        |  FROM documents WHERE trim(text) <> '')),
        |n AS (SELECT doc_id, MAX(i) AS n FROM words GROUP BY doc_id),
        |starts AS (SELECT doc_id, unnest(range(1, n + 1, 6)) AS s FROM n),
        |chunks AS (
        | SELECT st.doc_id, st.s, string_agg(w.w, ' ' ORDER BY w.i) AS chunk
        | FROM starts st
        |  JOIN words w ON w.doc_id = st.doc_id AND w.i >= st.s AND w.i < st.s + 8
        | GROUP BY st.doc_id, st.s)
        |SELECT doc_id,
        | ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s) AS chunk_id,
        | chunk
        |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin,

    "text_pii_redact" ->
      """SELECT doc_id,
        | regexp_replace(
        |  regexp_replace(
        |   regexp_replace(
        |    COALESCE(text,'') || ' contact john.doe+x@mail-test.example.org or 10.0.42.7 or +1 (415) 555-0100 now',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |  '\+?\d[\d() -]{6,}\d', '<PHONE>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_lang_summary" -> textLangSummaryOracle,

    "text_template_slots" ->
      """WITH toks AS (
        | SELECT source, i, w FROM (
        |  SELECT source,
        |   unnest(string_split_regex(trim(lower(text)), '\s+')) AS w,
        |   generate_subscripts(string_split_regex(trim(lower(text)), '\s+'), 1)
        |     - 1 AS i
        |  FROM documents
        |  WHERE text IS NOT NULL AND trim(text) <> ''
        |    AND source IS NOT NULL)
        | WHERE i < 10 AND w <> ''),
        |counts AS (
        | SELECT source, CAST(i AS BIGINT) AS pos, w,
        |  CAST(COUNT(*) AS BIGINT) AS n
        | FROM toks GROUP BY 1, 2, 3),
        |tot AS (SELECT source, pos, CAST(SUM(n) AS BIGINT) AS n_tot
        |        FROM counts GROUP BY 1, 2),
        |arg AS (
        | SELECT source, pos, w AS top_token, n FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source, pos
        |    ORDER BY n DESC, w ASC) AS rn FROM counts)
        | WHERE rn = 1)
        |SELECT a.source, a.pos, a.top_token, a.n,
        | CAST(a.n * 1000000000 // t.n_tot AS BIGINT) AS share_nano
        |FROM arg a JOIN tot t ON t.source = a.source AND t.pos = a.pos
        |ORDER BY a.source, a.pos""".stripMargin,

    "text_rake_keyphrases" -> {
      val stop = "('a','an','the','of','to','and','in','on','is','for')"
      s"""WITH toks AS (
         | SELECT doc_id, i, w FROM (
         |  SELECT doc_id,
         |   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w,
         |   generate_subscripts(string_split_regex(trim(lower(text)), '\\s+'), 1) AS i
         |  FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
         | WHERE w <> ''),
         |mk AS (
         | SELECT doc_id, i, w,
         |  SUM(CASE WHEN w IN $stop THEN 1 ELSE 0 END) OVER (
         |   PARTITION BY doc_id ORDER BY i) AS island
         | FROM toks),
         |pt AS (SELECT doc_id, i, w, island FROM mk WHERE w NOT IN $stop),
         |ph AS (
         | SELECT doc_id, island, CAST(COUNT(*) AS BIGINT) AS len,
         |  array_to_string(list(w ORDER BY i), ' ') AS phrase
         | FROM pt GROUP BY 1, 2),
         |ws AS (
         | SELECT w,
         |  CAST(CAST(SUM(len) AS BIGINT) * 1000000000
         |   // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS score_nano
         | FROM pt JOIN ph USING (doc_id, island) GROUP BY w),
         |psc AS (
         | SELECT pt.doc_id, pt.island,
         |  CAST(SUM(ws.score_nano) AS BIGINT) AS score_nano
         | FROM pt JOIN ws USING (w) GROUP BY 1, 2)
         |SELECT ph.phrase, ph.len AS n_words,
         | CAST(COUNT(*) AS BIGINT) AS n_occ, psc.score_nano
         |FROM ph JOIN psc USING (doc_id, island)
         |WHERE ph.len >= 2
         |GROUP BY ph.phrase, ph.len, psc.score_nano
         |HAVING COUNT(*) >= 2
         |ORDER BY phrase""".stripMargin
    },

    "text_pmi_pairs" ->
      """WITH toks AS (
        | SELECT doc_id, i, w FROM (
        |  SELECT doc_id,
        |   unnest(string_split_regex(trim(lower(text)), '\s+')) AS w,
        |   generate_subscripts(string_split_regex(trim(lower(text)), '\s+'), 1)
        |     - 1 AS i
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
        | WHERE w <> ''),
        |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM toks GROUP BY 1),
        |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks),
        |grouped AS (
        | SELECT least(a.w, b.w) AS w_a, greatest(a.w, b.w) AS w_b,
        |  CAST(COUNT(*) AS BIGINT) AS c_pair
        | FROM toks a JOIN toks b
        |  ON b.doc_id = a.doc_id AND b.i - a.i IN (1, 2)
        | GROUP BY 1, 2),
        |pt AS (SELECT CAST(SUM(c_pair) AS BIGINT) AS p_total FROM grouped)
        |SELECT g.w_a, g.w_b, g.c_pair, ua.cw AS c_a, ub.cw AS c_b,
        | CAST(round(ln(
        |   CAST(g.c_pair * nt.n_tokens * nt.n_tokens AS DOUBLE)
        |   / CAST(pt.p_total * ua.cw * ub.cw AS DOUBLE)) * 1e9) AS BIGINT)
        |   AS pmi_nano
        |FROM grouped g
        |JOIN uni ua ON ua.w = g.w_a
        |JOIN uni ub ON ub.w = g.w_b
        |CROSS JOIN nt CROSS JOIN pt
        |WHERE g.c_pair >= 5 AND g.w_a <> g.w_b
        |ORDER BY g.w_a, g.w_b""".stripMargin,

    "bpe_encode" -> bpeEncodeOracle(bpeEncodeMerges),
    "text_tfidf" ->
      """WITH toks AS (
        | SELECT doc_id, w FROM (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE trim(text) <> '') WHERE w <> ''),
        |doctok AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY doc_id, w),
        |dfreq AS (SELECT w, COUNT(*) AS df FROM doctok GROUP BY w),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
        |scored AS (
        | SELECT dt.doc_id, dt.w, dt.tf,
        |  CAST(dt.tf AS DOUBLE) * ln(CAST(nd AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf
        | FROM doctok dt JOIN dfreq USING (w), n),
        |ranked AS (
        | SELECT *, row_number() OVER (
        |   PARTITION BY doc_id ORDER BY tfidf DESC, w ASC) AS rank
        | FROM scored)
        |SELECT doc_id, rank, w AS term, CAST(tf AS BIGINT) AS tf, tfidf
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "text_top_terms" ->
      s"""WITH toks AS (
         | SELECT lang, w FROM (
         |  SELECT lang, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
         |  FROM documents WHERE trim(text) <> '') WHERE w <> ''),
         |counts AS (SELECT lang, w, COUNT(*) AS c FROM toks GROUP BY 1, 2),
         |ranked AS (
         | SELECT lang, w, c, ROW_NUMBER() OVER (
         |   PARTITION BY lang ORDER BY c DESC, w ASC) AS rank
         | FROM counts)
         |SELECT lang, rank, w AS term, c AS n
         |FROM ranked WHERE rank <= 3 ORDER BY lang, rank""".stripMargin,

    "text_bigram_lm" ->
      """WITH base AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    w -> w <> '') AS ts
        | FROM documents WHERE trim(text) <> ''),
        |pairs AS (
        | SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
        | FROM base, UNNEST(range(1, len(ts))) AS t(i)),
        |bg AS (SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY 1, 2),
        |uni AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bg GROUP BY 1),
        |model AS (
        | SELECT w1, w2, ln(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)) AS lp
        | FROM bg JOIN uni USING (w1)),
        |docbg AS (
        | SELECT doc_id, w1, w2, COUNT(*) AS k FROM pairs GROUP BY 1, 2, 3),
        |terms AS (
        | SELECT db.doc_id, db.w1, db.w2, db.k, CAST(db.k AS DOUBLE) * m.lp AS term
        | FROM docbg db JOIN model m USING (w1, w2)),
        |agg AS (
        | SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
        |  list_sum(list(term ORDER BY w1, w2)) AS lsum
        | FROM terms GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams,
        | a.lsum / CAST(a.n_bigrams AS DOUBLE) AS lm_score
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // Replays dsirWeights exactly: same tokenize/bigram chain as the LM
    // oracles, hash60-mod bucketing, add-1 smoothed bucket LMs with the
    // division-then-ln shape the Spark side computes, ONE nano-round per
    // bucket (CAST(ROUND AS BIGINT) == Spark round+cast, the pdNano
    // discipline) — then all-integer per-doc sums, order-free.
    "text_dsir_weights" ->
      """WITH base AS (
        | SELECT doc_id, COALESCE(lang = 'en', FALSE) AS tgt,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    w -> w <> '') AS ts
        | FROM documents WHERE trim(text) <> ''),
        |feats AS (
        | SELECT doc_id, tgt, unnest(ts) AS f FROM base
        | UNION ALL
        | SELECT doc_id, tgt, ts[i] || ' ' || ts[i + 1] AS f
        | FROM base, UNNEST(range(1, len(ts))) AS t(i)),
        |fb AS (
        | SELECT doc_id, tgt,
        |  CAST(('0x' || substr(md5(f), 1, 15)) AS BIGINT) % 128 AS b
        | FROM feats),
        |bt AS (
        | SELECT b, COUNT(*) AS cr,
        |  COUNT(*) FILTER (WHERE tgt) AS ct
        | FROM fb GROUP BY b),
        |spine AS (
        | SELECT i AS b, COALESCE(cr, 0) AS cr, COALESCE(ct, 0) AS ct
        | FROM UNNEST(range(128)) AS s(i) LEFT JOIN bt ON bt.b = s.i),
        |tot AS (
        | SELECT CAST(SUM(cr) AS BIGINT) AS tr, CAST(SUM(ct) AS BIGINT) AS tt
        | FROM spine),
        |model AS (
        | SELECT b,
        |  CAST(ROUND((ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + 128 AS DOUBLE))
        |    - ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + 128 AS DOUBLE)))
        |   * 1e9) AS BIGINT) AS lr_nano
        | FROM spine, tot),
        |dk AS (SELECT doc_id, b, COUNT(*) AS k FROM fb GROUP BY 1, 2),
        |agg AS (
        | SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_features,
        |  CAST(SUM(k * lr_nano) AS BIGINT) AS logw_nanos
        | FROM dk JOIN model USING (b) GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(a.n_features, 0) AS n_features,
        | COALESCE(a.logw_nanos, 0) AS logw_nanos
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "text_token_fertility" ->
      """WITH words AS (
        | SELECT lang, w FROM (
        |  SELECT COALESCE(lang, '~') AS lang,
        |   unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
        | WHERE w <> ''),
        |wc AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS total_words
        |       FROM words GROUP BY lang),
        |bc AS (
        | SELECT COALESCE(lang, '~') AS lang,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(regexp_extract_all(COALESCE(text, ''),
        |    '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))) AS BIGINT)
        |   AS total_bpe_tokens
        | FROM documents GROUP BY 1)
        |SELECT b.lang, b.n_docs, b.total_bpe_tokens,
        | COALESCE(w.total_words, 0) AS total_words,
        | CASE WHEN COALESCE(w.total_words, 0) > 0 THEN
        |  CAST(b.total_bpe_tokens AS DOUBLE) / CAST(w.total_words AS DOUBLE)
        | END AS fertility
        |FROM bc b LEFT JOIN wc w ON w.lang = b.lang
        |ORDER BY b.lang""".stripMargin,

    "text_nb_classifier" ->
      """WITH base AS (
        | SELECT doc_id, text,
        |  CASE WHEN source = 'src0' THEN TRUE ELSE FALSE END AS pos
        | FROM documents),
        |toks AS (
        | SELECT DISTINCT doc_id, pos, w FROM (
        |  SELECT doc_id, pos,
        |   unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM base WHERE trim(text) <> '') WHERE w <> ''),
        |cls AS (
        | SELECT CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |  CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
        | FROM base),
        |dfc AS (
        | SELECT w, COUNT(*) AS df,
        |  CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS dfp,
        |  CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS dfn
        | FROM toks GROUP BY w),
        |vocab AS (
        | SELECT w, dfp, dfn FROM (
        |  SELECT w, dfp, dfn, ROW_NUMBER() OVER (ORDER BY df DESC, w) AS rn
        |  FROM dfc)
        | WHERE rn <= 100),
        |wgt AS (
        | SELECT w, CAST(round((
        |   ln(CAST(dfp + 1 AS DOUBLE) / CAST(np + 2 AS DOUBLE)) -
        |   ln(CAST(dfn + 1 AS DOUBLE) / CAST(nn + 2 AS DOUBLE))) * 1e9)
        |  AS BIGINT) AS wt_nano
        | FROM vocab, cls),
        |hits AS (
        | SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
        |  CAST(SUM(wt_nano) AS BIGINT) AS hit_nano
        | FROM toks t JOIN wgt USING (w) GROUP BY t.doc_id),
        |prior AS (
        | SELECT CAST(round(
        |   ln(CAST(np + 1 AS DOUBLE) / CAST(nn + 1 AS DOUBLE)) * 1e9)
        |  AS BIGINT) AS pr_nano FROM cls)
        |SELECT b.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
        | COALESCE(h.hit_nano, 0) + p.pr_nano AS score_nano,
        | (COALESCE(h.hit_nano, 0) + p.pr_nano) > 0 AS pred_pos
        |FROM base b LEFT JOIN hits h ON h.doc_id = b.doc_id, prior p
        |ORDER BY b.doc_id""".stripMargin,

    "text_unigram_lm" ->
      """WITH toks AS (
        | SELECT doc_id, w FROM (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE trim(text) <> '') WHERE w <> ''),
        |vocab AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vocab),
        |model AS (
        | SELECT w, ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS lp
        | FROM vocab, tot),
        |doctok AS (SELECT doc_id, w, COUNT(*) AS k FROM toks GROUP BY doc_id, w),
        |terms AS (
        | SELECT dt.doc_id, dt.w, dt.k, CAST(dt.k AS DOUBLE) * m.lp AS term
        | FROM doctok dt JOIN model m USING (w)),
        |agg AS (
        | SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_tokens,
        |  list_sum(list(term ORDER BY w)) AS lsum
        | FROM terms GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(a.n_tokens, 0) AS n_tokens,
        | a.lsum / CAST(a.n_tokens AS DOUBLE) AS lm_score
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // Same LM chain as text_unigram_lm, then exact R-7 tercile cuts
    // (quantile_cont == Spark percentile) and the head/middle/tail CASE
    // on bit-identical doubles.
    "text_ppl_buckets" ->
      """WITH toks AS (
        | SELECT doc_id, w FROM (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE trim(text) <> '') WHERE w <> ''),
        |vocab AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vocab),
        |model AS (
        | SELECT w, ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS lp
        | FROM vocab, tot),
        |doctok AS (SELECT doc_id, w, COUNT(*) AS k FROM toks GROUP BY doc_id, w),
        |terms AS (
        | SELECT dt.doc_id, dt.w, dt.k, CAST(dt.k AS DOUBLE) * m.lp AS term
        | FROM doctok dt JOIN model m USING (w)),
        |scored AS (
        | SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_tokens,
        |  list_sum(list(term ORDER BY w)) / CAST(SUM(k) AS DOUBLE) AS lm_score
        | FROM terms GROUP BY doc_id),
        |cuts AS (
        | SELECT quantile_cont(lm_score, CAST(1 AS DOUBLE)/3) AS c_lo,
        |  quantile_cont(lm_score, CAST(2 AS DOUBLE)/3) AS c_hi FROM scored)
        |SELECT s.doc_id, s.n_tokens, s.lm_score,
        | CASE WHEN s.lm_score >= c.c_hi THEN 'head'
        |      WHEN s.lm_score >= c.c_lo THEN 'middle'
        |      ELSE 'tail' END AS bucket
        |FROM scored s, cuts c ORDER BY s.doc_id""".stripMargin
  )
}
