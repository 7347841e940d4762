package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for LLM-training-data pipelines, all as
  * codegen-friendly Catalyst built-in compositions (no UDFs) so they run
  * inside whole-stage codegen and scale to 100 TB document corpora.
  *
  * These go beyond the reference surface (north-star extensions,
  * BASELINE.json) but reuse its philosophy: null-safe, coerce-don't-error.
  */
object Text {

  /** Lowercased whitespace tokens; empty/null text -> empty array.
    * Native one-pass byte scan ([[graft.plans.Tokens]]) — the regex
    * `split` form it replaced paid a `Pattern.compile` per document
    * (String.split's fast path can't cover `\s+`) and measured ~half of
    * text_profile's fused cost at the r13 decomposition probe; the
    * declarative form stays below as the parity reference.
    */
  def tokens(c: Column): Column = graft.plans.Tokens(c)

  /** The replaced declarative tokenizer, kept verbatim as the parity
    * reference (FunctionsSpec fuzz-compares it against the native
    * expression — do not use on hot paths).
    */
  def tokensDeclarative(c: Column): Column =
    when(c.isNull || trim(c) === "", array().cast("array<string>"))
      .otherwise(split(trim(lower(c)), "\\s+"))

  /** BPE-ish subword count: word pieces + digits + punctuation, the classic
    * GPT-2-style pre-tokenizer shape (public pattern family). Counts matches
    * of letter-runs / digit-runs / single non-space symbols.
    */
  def bpeTokenCount(c: Column): Column =
    // regexp_count is RuntimeReplaceable: Spark 4.1 rewrites it to
    // size(regexp_extract_all(_, pat, 0)) at analysis (verified against
    // the jar, r14), so this is byte-identical AND plan-identical to the
    // previous spelling — kept for readability only. A real
    // no-materialization count would need a native expression; not
    // built (text_profile sits at its floor — see OPTIMIZATION_r14 §4).
    regexp_count(coalesce(c, lit("")),
      lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]")).cast("long")

  /** Stopword lists for the n-gram-free language-ID heuristic. Tiny,
    * high-frequency function words per language — public linguistics
    * knowledge, good enough for corpus routing.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est", "pour", "dans"),
    "es" -> Seq("el", "la", "los", "las", "es", "un", "una", "para", "por", "con"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不", "这", "他")
  )

  /** Count of tokens that appear in `words` (frequency-weighted, not
    * distinct). Native hash-probe expression
    * ([[graft.plans.StopwordHits]]) — the interpreted aggregate() fold it
    * replaced was the dominant lang-ID cost at the sf1 probe; the fold
    * stays in FunctionsSpec as the parity reference.
    */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    graft.plans.StopwordHits(toks, words)

  /** Language ID: argmax of per-language stopword hit counts; ties and
    * zero-hit rows -> "und" (undetermined). Deterministic tie-break by
    * requiring a strict winner in language-name order.
    */
  def languageId(text: Column): Column = languageIdFromTokens(tokens(text))

  /** Token-parameterized variant: callers that materialize the token array
    * once (e.g. TextAnalysis.profile) avoid re-splitting per sub-expression.
    */
  def languageIdFromTokens(toks: Column): Column = {
    val langs = stopwords.keys.toSeq.sorted
    val scores = langs.map(l => struct(stopwordHits(toks, stopwords(l)).as("hits"),
      lit(l).as("lang")))
    // array_max on struct(hits, lang): orders by hits then lang (both asc) —
    // ties resolve to the lexicographically last language, deterministically.
    val best = array_max(array(scores: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Heuristic quality signals of `text` from its tokens `toks`: char
    * length, token count, punctuation ratio, stopword ratio, mean token
    * length. Returns a struct column.
    */
  def qualityStructFromTokens(text: Column, toks: Column): Column = {
    val t = coalesce(text, lit(""))
    val nChars = length(t).cast("double")
    val nToks = size(toks).cast("double")
    // regexp_count — plan-identical to size(regexp_extract_all): see
    // bpeTokenCount's note on the RuntimeReplaceable rewrite.
    val nPunct = regexp_count(t, lit("[.,;:!?'\"()\\[\\]{}]")).cast("double")
    val allHits = stopwordHits(toks, stopwords.values.flatten.toSeq)
    struct(
      nChars.cast("long").as("n_chars"),
      nToks.cast("long").as("n_tokens"),
      when(nChars > 0, nPunct / nChars).otherwise(lit(0.0)).as("punct_ratio"),
      when(nToks > 0, allHits.cast("double") / nToks).otherwise(lit(0.0)).as("stopword_ratio"),
      when(nToks > 0, (nChars - nToks + 1) / nToks).otherwise(lit(0.0)).as("mean_token_len")
    )
  }

  /** Composite quality score in [0,1] from a [[qualityStructFromTokens]]
    * column: rewards stopword presence and sane token lengths, penalizes
    * punctuation soup and very short docs.
    */
  def qualityScoreFromStruct(q: Column): Column = {
    val lenScore = least(q.getField("n_tokens").cast("double") / 50.0, lit(1.0))
    val punctScore = greatest(lit(1.0) - q.getField("punct_ratio") * 5.0, lit(0.0))
    val stopScore = least(q.getField("stopword_ratio") * 4.0, lit(1.0))
    round((lenScore + punctScore + stopScore) / 3.0, 6)
  }

  /** Word k-shingles (contiguous k-grams joined by space); docs shorter than
    * k words yield a single shingle of the whole text. Distinct-ified.
    */
  def wordShingles(text: Column, k: Int): Column = {
    require(k >= 1, "shingle size must be >= 1")
    val toks = tokens(text)
    val n = size(toks)
    val short = array(concat_ws(" ", toks)) // < k words: one whole-text shingle
    array_distinct(
      when(n === 0, array().cast("array<string>"))
        .when(n < k, short)
        .otherwise(kGramWindows(toks, k)))
  }

  /** The n-k+1 complete positional k-grams of a token array, each joined
    * by a space, in token order (empty when the array has fewer than k
    * tokens). Zips k shifted copies of the array rather than slicing
    * inside a lambda: a lambda-body reference to the token array
    * re-evaluates the tokenizer per element (no CSE in interpreted
    * higher-order functions), turning gram building O(n^2); this form
    * does O(k) work per row. zip_with pads the shorter copies' tails with
    * nulls, so only the first n-k+1 grams are complete and kept.
    */
  def kGramWindows(toks: Column, k: Int): Column = {
    val n = size(toks)
    val shifted = (0 until k).map(j => slice(toks, lit(j + 1), n))
    val grams = shifted.reduceRight((a, b) =>
      zip_with(a, b, (x, y) => concat(x, lit(" "), y)))
    slice(grams, lit(1), greatest(n - (k - 1), lit(0)))
  }

  /** Training-data text cleaning (C4-style, public recipe family): drop
    * URLs and emails, collapse whitespace runs, trim, lowercase. Pure
    * regexp built-ins — codegen'd, oracle-reproducible.
    */
  def cleanForTraining(text: Column): Column = {
    val noUrl = regexp_replace(coalesce(text, lit("")), "https?://\\S+", " ")
    val noEmail = regexp_replace(noUrl, "\\S+@\\S+", " ")
    lower(trim(regexp_replace(noEmail, "\\s+", " ")))
  }

  /** Non-empty trimmed lines of a document; null text -> empty array. */
  def linesOf(text: Column): Column =
    filter(transform(split(coalesce(text, lit("")), "\n"), l => trim(l)),
      l => l =!= "")

  /** Gopher-style repetition quality signals (public recipe family:
    * Rae et al. 2021 §A1.1): documents dominated by repeated lines or one
    * repeated bigram are boilerplate/spam, not prose.
    *
    * Returns struct(n_lines, dup_line_frac, dup_line_char_frac,
    * top_bigram_frac). Fractions are RAW double divisions of exact integer
    * counts — bit-reproducible cross-engine with no rounding step.
    *
    * Per-doc and map-side by design: at 100 TB this must not shuffle on
    * doc_id — the O(L^2)/O(B^2) in-array counting (lines and bigrams per
    * doc are tens-to-hundreds) is far cheaper than a corpus-wide explode +
    * groupBy. Callers on the hot path should materialize `ls`/`toks` once
    * behind a select boundary (interpreted HOFs don't CSE — same trap as
    * [[wordShingles]]).
    */
  def repetitionStruct(text: Column): Column =
    repetitionFromParts(linesOf(text), tokens(text))

  /** Pre-materialized-parts variant (see [[repetitionStruct]]). Native
    * one-pass hash counting ([[graft.plans.RepetitionProfile]]) — the
    * declarative in-array form it replaced ([[repetitionFromPartsFold]])
    * paid O(L²)/O(T²) interpreted lambdas (27.9 s at the sf1 probe) and
    * stays as the parity reference in RepetitionRelationalSpec.
    */
  def repetitionFromParts(ls: Column, toks: Column): Column =
    graft.plans.RepetitionProfile(ls, toks)

  /** The replaced declarative form, kept verbatim as the parity
    * reference (spec-compared against the native on planted and fuzz
    * cases — do not use on hot paths).
    */
  def repetitionFromPartsFold(ls: Column, toks: Column): Column = {
    val nL = size(ls).cast("double")
    val dupLineFrac =
      when(nL > 0, (nL - size(array_distinct(ls)).cast("double")) / nL)
        .otherwise(lit(0.0))
    val totalChars = aggregate(ls, lit(0L),
      (a, l) => a + length(l).cast("long")).cast("double")
    val dupChars = aggregate(
      filter(ls, l => size(filter(ls, m => m === l)) >= 2),
      lit(0L), (a, l) => a + length(l).cast("long")).cast("double")
    val dupCharFrac =
      when(totalChars > 0, dupChars / totalChars).otherwise(lit(0.0))
    val n = size(toks)
    val bi = slice(
      zip_with(toks, slice(toks, lit(2), n), (x, y) => concat(x, lit(" "), y)),
      lit(1), greatest(n - 1, lit(0)))
    val nB = size(bi).cast("double")
    val counts = transform(array_distinct(bi), b => size(filter(bi, x => x === b)))
    val maxC = when(size(counts) > 0, array_max(counts)).otherwise(lit(0))
      .cast("double")
    val topBigramFrac = when(nB > 0, maxC / nB).otherwise(lit(0.0))
    struct(
      size(ls).cast("long").as("n_lines"),
      dupLineFrac.as("dup_line_frac"),
      dupCharFrac.as("dup_line_char_frac"),
      topBigramFrac.as("top_bigram_frac"))
  }

  /** Accent stripping (Unicode NFD + combining-mark removal): the classic
    * corpus-normalization step, as a native codegen'd expression —
    * [[graft.plans.StripAccents]] — because Spark's built-ins can't
    * express it and a UDF would break whole-stage codegen.
    */
  def stripAccents(c: Column): Column = graft.plans.StripAccents(c)

  /** Token-window chunking for training examples: overlapping windows of
    * `width` tokens advancing by `width - overlap`, each rejoined with
    * single spaces. The map-side step between cleaning and tokenization in
    * a training-data pipeline — one row in, its windows out (explode at
    * the call site), no shuffle. Empty/null text -> empty array; the last
    * window may be short (standard tail behavior).
    */
  def chunkWindows(text: Column, width: Int, overlap: Int): Column = {
    require(width > 0, "width must be > 0")
    require(overlap >= 0 && overlap < width, "overlap must be in [0, width)")
    val step = width - overlap
    val toks = tokens(text)
    val n = size(toks)
    val starts = sequence(lit(1), greatest(n, lit(1)), lit(step))
    val chunks = transform(starts,
      s => concat_ws(" ", slice(toks, s, lit(width))))
    when(n === 0, array().cast("array<string>")).otherwise(chunks)
  }

  /** PII redaction for training corpora: emails, IPv4 addresses and
    * phone-shaped digit runs replaced with stable placeholder tokens.
    * Order matters: emails first (their local parts contain digits),
    * then IPs (their dotted quads would otherwise feed the phone rule),
    * then phones. Pure regexp built-ins, RE2-compatible syntax (no
    * backtracking constructs) so the DuckDB oracle replays identically.
    */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(coalesce(text, lit("")),
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\+?\\d[\\d() -]{6,}\\d", "<PHONE>")
  }

  /** Positional rolling-hash document fingerprint: sum over tokens of
    * (stableHash(token) mod 1e6) * (position+1), mod 2^31. Order-sensitive
    * (unlike a bag-of-words hash) yet oracle-reproducible in pure SQL.
    */
  def fingerprint(text: Column): Column = fingerprintFromTokens(tokens(text))

  /** Token-parameterized variant (see [[languageIdFromTokens]]).
    *
    * A declarative fold, not a native expression: a native one-pass form
    * ran text_profile 30-45% slower in the resident bench session
    * (OPTIMIZATION_r14.md §4).
    */
  def fingerprintFromTokens(toks: Column): Column = {
    val positioned = zip_with(
      toks,
      sequence(lit(1), greatest(size(toks), lit(1))),
      (t, i) => (StableHash.hash60(t) % 1000000L) * i.cast("long"))
    val h = pmod(aggregate(positioned, lit(0L), (acc, x) => acc + x), lit(2147483647L))
    when(size(toks) === 0, lit(0L)).otherwise(h)
  }
}
