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

/** Driver contract: the operator corpus (SURVEY.md §2 + north-star
  * extensions), each entry paired with ANSI SQL the DuckDB oracle replays
  * over the same parquet tables.
  *
  * Cross-engine determinism rules used throughout (so result hashes match):
  *  - sums of doubles go through exact DECIMAL accumulation, cast to DOUBLE
  *    at the end (double summation order differs between engines);
  *  - averages are sum-decimal / count (one double division of identical
  *    operands is bit-deterministic);
  *  - every query ORDER BYs a unique key set;
  *  - hashing is md5-derived (engine-native hashes differ);
  *  - column aliases are identical on both sides.
  */
object SparkEntry
  extends QueriesStream
  with QueriesDedup
  with QueriesSim
  with QueriesText
  with QueriesGraphEvents
  with QueriesPipeline
  with QueriesRelational {

  // ---- shared helpers -----------------------------------------------------

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Graft.table(s, dir, name)

  /** (layout kind, dataset dir) -> materialized scratch layout for the
    * source-format round-trip entries. computeIfAbsent gives write-once
    * per JVM; each value is a fresh createTempDirectory path, so
    * concurrent processes never share a dir — a killed run's half-written
    * leftovers can never be picked up by a later one (a fixed /tmp path
    * raced exactly that way).
    */
  private[graft] val scratchLayouts =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def scratch(kind: String, d: String)(write: String => Unit): String =
    scratchLayouts.computeIfAbsent(s"$kind:$d", { _ =>
      val out = java.nio.file.Files.createTempDirectory(s"graft_${kind}_").toString
      write(out)
      out
    })

  /** Recursively delete a scratch staging dir once its contents are fully
    * materialized elsewhere (e.g. drained into a memory sink) — bench
    * sweeps re-enter these entries hundreds of times, and an undeleted
    * per-run staging copy of a fixture leaks its full size to /tmp each
    * time. Only safe when NOTHING lazy still reads the path.
    */
  private[graft] def deleteStaging(dir: String): Unit = {
    import java.nio.file.{Files, Path, Paths}
    scala.util.Try {
      val walk = Files.walk(Paths.get(dir))
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally walk.close()
    }: Unit
  }

  /** Deterministic messy URL per document — mixed-case scheme/host, ccTLD
    * rows, default and explicit ports, tracking params, fragments,
    * trailing slashes. Input battery for the url_* entries; the oracle
    * rebuilds it with the same CASE arms.
    */
  private[graft] def messyUrl(id: Column, lang: Column, source: Column): Column =
    concat(
      lit("HTTPS://WWW."), upper(coalesce(source, lit("s"))),
      when(id % 3 === 0, lit(".CO.UK")).otherwise(lit(".COM")),
      when(id % 5 === 0, lit(":443"))
        .when(id % 5 === 1, lit(":8080")).otherwise(lit("")),
      lit("/Docs/"), coalesce(lang, lit("xx")), lit("/"), id.cast("string"),
      when(id % 2 === 0, lit("/")).otherwise(lit("")),
      lit("?utm_source=feed&id="), id.cast("string"), lit("&ref=rss#frag"))

  /** Exact decimal sum of a 2-dp double column, surfaced as DOUBLE. */
  private[graft] def dsum2(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** 2-dp double -> exact integer cents. Equally exact as the decimal cast
    * (round lands on the true integer; Spark's double->long cast truncates,
    * hence round first) but plans ~2x faster: decimal precision coercion
    * dominates analysis time on aggregate-heavy plans (a fresh-plan A/B
    * of the q1 shape, recorded only here: 0.85s decimal vs 0.45s cents).
    * Used in the HEADLINE bench queries; colder queries keep the decimal
    * form for variety of coverage.
    */
  private[graft] def cents(c: Column): Column = round(c * 100).cast("long")

  private[graft] def centsSql(c: String): String = s"CAST(round($c * 100) AS BIGINT)"

  /** Exact revenue term in cents^2 units: price_cents * (100 - disc_cents). */
  private[graft] def revenue(price: Column, disc: Column): Column =
    sum(cents(price) * (lit(100L) - cents(disc))).cast("double") / 10000

  private[graft] val revSql =
    s"CAST(SUM(${centsSql("l_extendedprice")} * (100 - ${centsSql("l_discount")})) AS DOUBLE) / 10000"

  /** NDCG position weights: w_i = round(1e9 / log2(i+1)) for ranks
    * 1..100, computed ONCE here and inlined as the SAME literals into
    * both the Spark expression and the DuckDB oracle — the dq_benford
    * hardcoded-log discipline, which sidesteps libm replay entirely for
    * fixed position grids. StrictMath.log (not Math.log, which JITs to
    * a platform intrinsic with no cross-platform bit spec) so the
    * literal grid itself is platform-stable: a baseline stored on one
    * JVM replays on any other.
    */
  private[graft] val ndcgWeights: IndexedSeq[Long] =
    (1 to 100).map(i =>
      Math.round(1e9 / (StrictMath.log(i + 1.0) / StrictMath.log(2.0))))

  /** Recursive-CTE replay of the Holt α=β=1/2 recurrences (shared by
    * ts_holt and its streaming twin stream_holt, which emits the
    * identical series when micro-batches respect the (ord, tie) order).
    * ev/sr MATERIALIZED — the recursive member would otherwise re-derive
    * the whole chain each iteration (the emb_pca trap); depth bounded by
    * the rn cap.
    */
  private[graft] val holtOracleSql: String =
    """WITH RECURSIVE ev AS MATERIALIZED (
      | SELECT event_type AS k, epoch_us(ts) AS ord, event_id AS tie,
      |  CAST(round(value * 1e9) AS BIGINT) AS y
      | FROM events
      | WHERE ts IS NOT NULL AND event_id IS NOT NULL
      |  AND value IS NOT NULL AND event_type IS NOT NULL),
      |sr AS MATERIALIZED (
      | SELECT k, y,
      |  row_number() OVER (PARTITION BY k ORDER BY ord, tie) AS rn
      | FROM ev QUALIFY rn <= 500),
      |rec AS (
      | SELECT k, rn, y, y AS l, CAST(0 AS BIGINT) AS b
      | FROM sr WHERE rn = 1
      | UNION ALL
      | SELECT s.k, s.rn, s.y,
      |  (s.y + r.l + r.b) // 2,
      |  (((s.y + r.l + r.b) // 2) - r.l + r.b) // 2
      | FROM rec r JOIN sr s ON s.k = r.k AND s.rn = r.rn + 1)
      |SELECT k, rn, y AS y_nano, l AS l_nano, b AS b_nano,
      | l + b AS fc_nano
      |FROM rec ORDER BY k, rn""".stripMargin

  /** One SQL text, two engines: queries tagged sqlShared run VERBATIM in
    * both Spark SQL and DuckDB — the strongest dialect-parity statement.
    */
  private[graft] val correlatedSubquerySql: String =
    """SELECT c_custkey, c_name, c_acctbal
      |FROM customer c
      |WHERE c_acctbal > (
      |  SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      |  FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
      |ORDER BY c_custkey""".stripMargin

  /** Shared-dialect top-N-per-group (CTE + window), also verbatim. */
  private[graft] val topnPerGroupSql: String =
    """WITH ranked AS (
      | SELECT o_custkey, o_orderkey, o_totalprice,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
      |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
      | FROM orders)
      |SELECT o_custkey, o_orderkey, o_totalprice, rn
      |FROM ranked WHERE rn <= 2 AND o_custkey <= 500
      |ORDER BY o_custkey, rn""".stripMargin

  // ---- flagship -----------------------------------------------------------

  /** Flagship on sf0.001 (driver smoke-checks rows > 0). */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  // ---- the corpus ---------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    streamQueries ++ dedupQueries ++ simQueries ++ textQueries ++ graphEventsQueries ++ pipelineQueries ++ relationalQueries

  // ---- oracles ------------------------------------------------------------

  def oracleSql: Map[String, String] =
    streamOracles ++ dedupOracles ++ simOracles ++ textOracles ++ graphEventsOracles ++ pipelineOracles ++ relationalOracles

  // ---- generated oracles (shared hash/shingle SQL building blocks) --------

  /** TOTAL DuckDB dot product: NULL — never an error — on null list, null
    * element, or length mismatch, matching the engine's
    * [[graft.plans.DotProduct]] null semantics. `list_dot_product` RAISES
    * on ragged/null-element inputs, and DuckDB's CASE does NOT short-
    * circuit inside joins (measured: the THEN branch is evaluated on
    * masked rows too) — so the THEN branch must itself be total:
    * zip/transform/sum never error, sum accumulates in list order
    * (verified bit-equal to list_dot_product), and the guard only enforces
    * the NULL result for degenerate rows (masking a possibly-wrong but
    * never-erroring THEN value).
    */
  /** Unrolled SQL replay of [[graft.ops.Similarity.mmrSelect]] (poolK =
    * 20, k = 8, λ = 50%): the candidate pool and its pairwise
    * similarities land in exact integer nanos, then each greedy step is
    * one (scored, pick, sel) CTE triple. Every step CTE is MATERIALIZED —
    * DuckDB's default CTE inlining would otherwise re-derive the entire
    * upstream chain inside each of the 8 steps (the emb_pca_top2 trap).
    * The penalty MAX is a one-level correlated subquery (DuckDB's
    * correlation depth limit).
    */
  private[graft] def mmrSelectOracle: String = {
    val steps = (2 to 8).map { i =>
      val p = i - 1
      s"""scored$i AS MATERIALIZED (
         | SELECT c.query_id, c.corpus_id,
         |  50 * c.simq_nano - 50 * (
         |    SELECT MAX(p.s) FROM pair p JOIN sel$p ch
         |     ON ch.query_id = p.query_id AND ch.corpus_id = p.ib
         |    WHERE p.query_id = c.query_id AND p.ia = c.corpus_id)
         |   AS score_nano
         | FROM cand c
         | WHERE NOT EXISTS (SELECT 1 FROM sel$p ch
         |   WHERE ch.query_id = c.query_id AND ch.corpus_id = c.corpus_id)),
         |pick$i AS MATERIALIZED (
         | SELECT query_id, CAST($i AS BIGINT) AS pick, corpus_id, score_nano
         | FROM (SELECT query_id, corpus_id, score_nano,
         |   ROW_NUMBER() OVER (PARTITION BY query_id
         |     ORDER BY score_nano DESC, corpus_id ASC) AS rn FROM scored$i)
         | WHERE rn = 1),
         |sel$i AS MATERIALIZED (
         | SELECT * FROM sel$p UNION ALL SELECT * FROM pick$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH cand AS MATERIALIZED (
       | SELECT query_id, corpus_id, cv,
       |  CAST(ROUND(cosine * 1000000000.0) AS BIGINT) AS simq_nano
       | FROM (
       |  SELECT q.query_id, c.corpus_id, c.cv,
       |   ${cosineSql("q.qv", "c.cv")} AS cosine,
       |   ROW_NUMBER() OVER (PARTITION BY q.query_id
       |     ORDER BY ${cosineSql("q.qv", "c.cv")} DESC, c.corpus_id ASC) AS rn
       |  FROM (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
       |        FROM embeddings) c
       |   CROSS JOIN (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |               FROM embeddings WHERE vec_id < 3) q
       |  WHERE c.corpus_id <> q.query_id)
       | WHERE rn <= 20 AND cosine IS NOT NULL),
       |pair AS MATERIALIZED (
       | SELECT a.query_id, a.corpus_id AS ia, b.corpus_id AS ib,
       |  CAST(ROUND(${cosineSql("a.cv", "b.cv")} * 1000000000.0) AS BIGINT)
       |   AS s
       | FROM cand a JOIN cand b
       |  ON a.query_id = b.query_id AND a.corpus_id <> b.corpus_id),
       |sel1 AS MATERIALIZED (
       | SELECT query_id, CAST(1 AS BIGINT) AS pick, corpus_id,
       |  CAST(50 * simq_nano AS BIGINT) AS score_nano
       | FROM (SELECT query_id, corpus_id, simq_nano,
       |   ROW_NUMBER() OVER (PARTITION BY query_id
       |     ORDER BY simq_nano DESC, corpus_id ASC) AS rn FROM cand)
       | WHERE rn = 1),
       |$steps
       |SELECT query_id, pick, corpus_id, score_nano FROM sel8
       |ORDER BY query_id, pick""".stripMargin
  }

  private[graft] def dotSql(a: String, b: String): String =
    s"(CASE WHEN len($a) = len($b) AND len($a) = list_aggregate($a, 'count')" +
      s" AND len($b) = list_aggregate($b, 'count')" +
      s" THEN list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2])) END)"

  /** TOTAL DuckDB l2 distance, same guard discipline as [[dotSql]]; NULL
    * on any degenerate input, matching the engine's zip_with/aggregate
    * form (null-padded ragged element -> null sum). Bit-equal to
    * `list_distance` on clean inputs (same in-order accumulation).
    */
  private[graft] def distSql(a: String, b: String): String =
    s"(CASE WHEN len($a) = len($b) AND len($a) = list_aggregate($a, 'count')" +
      s" AND len($b) = list_aggregate($b, 'count')" +
      s" THEN sqrt(list_sum(list_transform(list_zip($a, $b)," +
      s" x -> (x[1] - x[2]) * (x[1] - x[2])))) END)"

  /** Total cosine from [[dotSql]] pieces: DuckDB's x/0 -> NULL reproduces
    * the engine's zero-norm -> NULL guard without an explicit CASE.
    */
  private[graft] def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  /** Shared CTE prefix: per-label decimal-exact centroids (same discipline
    * as the trained-IVF oracle; all-null dims are skipped, not
    * zero-filled, mirroring groupCentroids).
    */
  private[graft] val labelCentroidsSql: String =
    """WITH dims AS (
      | SELECT label, i,
      |  CAST(SUM(CAST(round(v * 1e9) AS BIGINT)) AS DOUBLE)
      |   / COUNT(v) / 1e9 AS m
      | FROM (SELECT label, unnest(embedding::DOUBLE[]) AS v,
      |        generate_subscripts(embedding, 1) AS i
      |       FROM embeddings)
      | GROUP BY label, i),
      |cents AS (
      | SELECT label, list(m ORDER BY i) AS centroid
      | FROM dims WHERE m IS NOT NULL GROUP BY label)""".stripMargin

  /** DuckDB replay of the [[messyUrl]] construction (url_parse /
    * url_domain_stats input).
    */
  private[graft] def messyUrlSql(id: String): String =
    s"""'HTTPS://WWW.' || upper(COALESCE(source, 's')) ||
       |  CASE WHEN $id % 3 = 0 THEN '.CO.UK' ELSE '.COM' END ||
       |  CASE WHEN $id % 5 = 0 THEN ':443'
       |       WHEN $id % 5 = 1 THEN ':8080' ELSE '' END ||
       |  '/Docs/' || COALESCE(lang, 'xx') || '/' || $id ||
       |  CASE WHEN $id % 2 = 0 THEN '/' ELSE '' END ||
       |  '?utm_source=feed&id=' || $id || '&ref=rss#frag'""".stripMargin

  /** CTE chain replaying [[Urls]] part extraction over a `raw(url, ...)`
    * CTE: p adds scheme/host/port/rawpath/q, k adds the canonical path,
    * kept query params, and host labels. Every regex is the verbatim
    * RE2-safe pattern from UrlFunctions.scala.
    */
  private[graft] val urlPartsSql: String =
    """p AS (SELECT raw.*,
      |  NULLIF(lower(regexp_extract(url,
      |    '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)), '') AS scheme,
      |  NULLIF(regexp_replace(lower(regexp_extract(url,
      |    '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)),
      |    '\.$', ''), '') AS host,
      |  regexp_extract(url,
      |    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*:([0-9]+)', 1) AS port,
      |  regexp_extract(url,
      |    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
      |  regexp_extract(url, '\?([^#]*)', 1) AS q
      | FROM raw),
      |k AS (SELECT p.*, regexp_replace(rawpath, '/+$', '') AS cpath,
      |  list_filter(string_split(q, '&'), x ->
      |    NOT regexp_matches(x,
      |      '^(utm_[A-Za-z0-9]*|fbclid|gclid|msclkid|ref)=') AND x <> '')
      |    AS kept,
      |  string_split(host, '.') AS labels
      | FROM p)""".stripMargin

  /** DuckDB replay of [[Urls.registeredDomain]] over pre-split labels. */
  private[graft] def domainSql(host: String, labels: String): String =
    s"""CASE WHEN $host IS NULL THEN NULL
       |  WHEN regexp_matches($host, '^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$$')
       |    THEN $host
       |  WHEN len($labels) >= 3 AND length($labels[-1]) = 2
       |    AND $labels[-2] IN ('co','com','net','org','gov','ac','edu')
       |    THEN $labels[-3] || '.' || $labels[-2] || '.' || $labels[-1]
       |  WHEN len($labels) >= 2 THEN $labels[-2] || '.' || $labels[-1]
       |  ELSE $host END""".stripMargin

  /** DuckDB replay of [[Urls.canonicalizeUrl]] over the k CTE columns. */
  private[graft] val canonicalSql: String =
    """CASE WHEN scheme IS NULL OR host IS NULL THEN NULL ELSE
      |  scheme || '://' || host ||
      |  CASE WHEN port <> '' AND NOT ((scheme = 'https' AND port = '443')
      |    OR (scheme = 'http' AND port = '80'))
      |    THEN ':' || port ELSE '' END ||
      |  cpath ||
      |  CASE WHEN len(kept) > 0
      |    THEN '?' || array_to_string(kept, '&') ELSE '' END
      |END""".stripMargin

  /** DuckDB SQL for StableHash.hash60(expr, seed). */
  private[graft] def hash60Sql(expr: String, seed: Int): String =
    s"CAST(('0x' || substr(md5('$seed:' || $expr), 1, 15)) AS BIGINT)"

  private[graft] def hash60Sql(expr: String): String =
    s"CAST(('0x' || substr(md5($expr), 1, 15)) AS BIGINT)"

  /** Shared by `text_repetition` (map-side HOF counting) and
    * `text_repetition_rel` (relational explode+groupBy twin for huge
    * docs): the DuckDB replay is necessarily relational, which is exactly
    * what makes one oracle serve both engine forms.
    */
  /** Replays `TextAnalysis.qualityGate`: the profile chain's token /
    * punct / stopword stats (same CTE shapes as `textProfileOracle`, no
    * language argmax) + the repetition chain on RAW text (no planted
    * duplication), then the threshold CASE per rule. Ratio thresholds
    * compare 6-dp-rounded values on both engines.
    */
  private[graft] def qualityGateOracle(minTokens: Long, maxTokens: Long,
      maxPunct: Double, minStop: Double, maxDupLine: Double,
      maxTopBigram: Double, ordered: Boolean = true): String = {
    val inList = Text.stopwords.values.flatten.toSeq
      .map(w => s"'$w'").mkString("(", ", ", ")")
    s"""WITH words AS (
       | SELECT doc_id, w, i FROM (
       |  SELECT doc_id,
       |   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w,
       |   generate_subscripts(string_split_regex(trim(lower(text)), '\\s+'), 1) AS i
       |  FROM documents WHERE text IS NOT NULL AND trim(text) <> '')),
       |ws AS (
       | SELECT doc_id, COUNT(*) AS n_tokens,
       |  SUM(CASE WHEN w IN $inList THEN 1 ELSE 0 END) AS h_all
       | FROM words GROUP BY doc_id),
       |cs AS (
       | SELECT doc_id, length(COALESCE(text, '')) AS n_chars,
       |  len(regexp_extract_all(COALESCE(text, ''), '[.,;:!?''"()\\[\\]{}]')) AS n_punct
       | FROM documents),
       |lines AS (
       | SELECT doc_id, trim(l) AS line
       | FROM documents, unnest(string_split(COALESCE(text, ''), chr(10))) AS u(l)
       | WHERE trim(l) <> ''),
       |lc AS (SELECT doc_id, line, COUNT(*) AS c FROM lines GROUP BY doc_id, line),
       |la AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS nl,
       |        CAST(COUNT(*) AS DOUBLE) AS nd
       |       FROM lc GROUP BY doc_id),
       |bg AS (SELECT a.doc_id, a.w || ' ' || b.w AS bi
       |       FROM words a JOIN words b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
       |bgc AS (SELECT doc_id, bi, COUNT(*) AS c FROM bg GROUP BY doc_id, bi),
       |bga AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS nb,
       |        CAST(MAX(c) AS DOUBLE) AS maxc FROM bgc GROUP BY doc_id),
       |sig AS (
       | SELECT c.doc_id,
       |  CAST(COALESCE(w.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CASE WHEN c.n_chars > 0
       |       THEN ROUND(CAST(c.n_punct AS DOUBLE) / c.n_chars, 6) ELSE 0.0 END AS punct_ratio,
       |  CASE WHEN COALESCE(w.n_tokens, 0) > 0
       |       THEN ROUND(CAST(w.h_all AS DOUBLE) / w.n_tokens, 6) ELSE 0.0 END AS stopword_ratio,
       |  COALESCE((la.nl - la.nd) / la.nl, 0.0) AS dup_line_frac,
       |  COALESCE(bga.maxc / bga.nb, 0.0) AS top_bigram_frac
       | FROM cs c LEFT JOIN ws w USING (doc_id)
       |  LEFT JOIN la ON la.doc_id = c.doc_id
       |  LEFT JOIN bga ON bga.doc_id = c.doc_id)
       |SELECT doc_id, n_tokens,
       | (n_tokens >= $minTokens AND n_tokens <= $maxTokens) AS ok_length,
       | (punct_ratio <= $maxPunct) AS ok_punct,
       | (stopword_ratio >= $minStop) AS ok_stopwords,
       | (dup_line_frac <= $maxDupLine) AS ok_dup_lines,
       | (top_bigram_frac <= $maxTopBigram) AS ok_bigram,
       | (n_tokens >= $minTokens AND n_tokens <= $maxTokens
       |  AND punct_ratio <= $maxPunct AND stopword_ratio >= $minStop
       |  AND dup_line_frac <= $maxDupLine
       |  AND top_bigram_frac <= $maxTopBigram) AS keep
       |FROM sig${if (ordered) " ORDER BY doc_id" else ""}""".stripMargin
  }

  private[graft] val repetitionOracle: String =
    """WITH base AS (
      | SELECT doc_id,
      |  COALESCE(text,'') || chr(10) || substr(COALESCE(text,''),1,20)
      |   || chr(10) || substr(COALESCE(text,''),1,20) AS t
      | FROM documents),
      |lines AS (
      | SELECT doc_id, trim(l) AS line
      | FROM base, unnest(string_split(t, chr(10))) AS u(l)
      | WHERE trim(l) <> ''),
      |lc AS (SELECT doc_id, line, COUNT(*) AS c, len(line) AS ln
      |       FROM lines GROUP BY doc_id, line),
      |la AS (SELECT doc_id,
      |        CAST(SUM(c) AS DOUBLE) AS n_lines,
      |        CAST(COUNT(*) AS DOUBLE) AS n_distinct,
      |        CAST(SUM(c*ln) AS DOUBLE) AS total_chars,
      |        CAST(SUM(CASE WHEN c >= 2 THEN c*ln ELSE 0 END) AS DOUBLE) AS dup_chars
      |       FROM lc GROUP BY doc_id),
      |words AS (
      | SELECT doc_id, w, i FROM (
      |  SELECT doc_id,
      |   unnest(string_split_regex(trim(lower(t)), '\s+')) AS w,
      |   generate_subscripts(string_split_regex(trim(lower(t)), '\s+'), 1) AS i
      |  FROM base WHERE trim(t) <> '')),
      |bg AS (SELECT a.doc_id, a.w || ' ' || b.w AS bi
      |       FROM words a JOIN words b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
      |bgc AS (SELECT doc_id, bi, COUNT(*) AS c FROM bg GROUP BY doc_id, bi),
      |bga AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS nb,
      |        CAST(MAX(c) AS DOUBLE) AS maxc FROM bgc GROUP BY doc_id)
      |SELECT d.doc_id,
      | CAST(COALESCE(la.n_lines, 0) AS BIGINT) AS n_lines,
      | COALESCE((la.n_lines - la.n_distinct) / la.n_lines, 0.0) AS dup_line_frac,
      | COALESCE(la.dup_chars / la.total_chars, 0.0) AS dup_line_char_frac,
      | COALESCE(bga.maxc / bga.nb, 0.0) AS top_bigram_frac
      |FROM documents d
      | LEFT JOIN la ON la.doc_id = d.doc_id
      | LEFT JOIN bga ON bga.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Probe words for the count-min frequency query (high-frequency corpus
    * tokens + one guaranteed-absent token); shared verbatim by the query
    * and its oracle.
    */
  private[graft] val CmsProbeWords = Seq("join", "hash", "row", "batch", "scan",
    "merge", "vector", "table", "query", "zzzmissing")

  /** HLL registers replayed in SQL: bucket = top 12 hash bits, rank =
    * leading zeros of the remaining 48 bits + 1 via the binary-string
    * length trick (DuckDB has no clz); Σ2^-M_j is the exact HUGEINT
    * Σ2^(61-M_j) with zero registers contributing 2^61 each; the float
    * finish then mirrors [[graft.ops.Sketches.hllEstimate]] op-for-op
    * (÷, ×, ln are correctly rounded in both engines — ln was verified
    * bit-equal to Java Math.log, NOT StrictMath.log, which is why the
    * engine never uses Spark's builtin `log`), and
    * `floor(x+0.5) = Math.round`.
    */
  private[graft] def hllDistinctOracle: String = {
    val mask = (1L << 48) - 1
    s"""WITH src AS (
       | SELECT event_type, user_id,
       |  ${hash60Sql("CAST(user_id AS VARCHAR)")} AS h
       | FROM events WHERE user_id IS NOT NULL),
       |regs AS (
       | SELECT event_type, h >> 48 AS b,
       |  MAX(CASE WHEN (h & $mask) = 0 THEN 49
       |      ELSE 48 - (length(ltrim(bin(h & $mask), '0')) - 1) END) AS r
       | FROM src GROUP BY 1, 2),
       |sums AS (
       | SELECT event_type, COUNT(*) AS nz,
       |  SUM(1::HUGEINT << (61 - r)) AS s_nz
       | FROM regs GROUP BY 1),
       |est AS (
       | SELECT event_type, 4096 - nz AS zeros,
       |  (CAST(0.7213 AS DOUBLE) / (1.0 + CAST(1.079 AS DOUBLE) / 4096.0)) *
       |   (CAST(16777216::HUGEINT << 61 AS DOUBLE) /
       |    CAST(s_nz + CAST(4096 - nz AS HUGEINT) * (1::HUGEINT << 61) AS DOUBLE)) AS raw
       | FROM sums),
       |fin AS (
       | SELECT event_type,
       |  CASE WHEN raw <= 10240.0 AND zeros > 0
       |       THEN 4096.0 * ln(4096.0 / CAST(zeros AS DOUBLE))
       |       ELSE raw END AS e
       | FROM est),
       |exact AS (
       | SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
       | FROM events WHERE user_id IS NOT NULL GROUP BY 1)
       |SELECT f.event_type,
       | CAST(floor(f.e + 0.5) AS BIGINT) AS est_users,
       | x.exact_users
       |FROM fin f JOIN exact x USING (event_type)
       |ORDER BY f.event_type""".stripMargin
  }

  /** Count-min cells replayed in SQL: same base hash (md5-60 mod P) and
    * affine row reseedings as [[graft.ops.Sketches.CmsAgg]]
    * (Dedup.minhashCoeffs); estimates are MIN over rows of exact integer
    * cell counts — no float path at all. TOTAL over the edge corpus: an
    * empty token set leaves every cell 0 via the LEFT JOIN + COALESCE.
    */
  private[graft] def cmsFreqOracle: String = {
    val p = Dedup.MinhashP
    val coefRows = (0 until 3).map { j =>
      val (a, b) = Dedup.minhashCoeffs(j)
      s"($j, ${a}::BIGINT, ${b}::BIGINT)"
    }.mkString(", ")
    val probeRows = CmsProbeWords.map(w => s"('$w')").mkString(", ")
    s"""WITH toks AS (
       | SELECT w FROM (
       |  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
       |  FROM documents WHERE trim(text) <> '') WHERE w <> ''),
       |hashed AS (SELECT ${hash60Sql("w")} % $p AS h FROM toks),
       |coef(i, a, b) AS (VALUES $coefRows),
       |cells AS (
       | SELECT c.i, ((c.a * h.h + c.b) % $p) % 512 AS j, COUNT(*) AS cnt
       | FROM hashed h CROSS JOIN coef c GROUP BY 1, 2),
       |probes(word) AS (VALUES $probeRows),
       |pcells AS (
       | SELECT p.word, c.i,
       |  ((c.a * (${hash60Sql("p.word")} % $p) + c.b) % $p) % 512 AS j
       | FROM probes p CROSS JOIN coef c),
       |est AS (
       | SELECT pc.word, MIN(COALESCE(cl.cnt, 0)) AS est_count
       | FROM pcells pc LEFT JOIN cells cl ON cl.i = pc.i AND cl.j = pc.j
       | GROUP BY pc.word),
       |exact AS (SELECT w AS word, COUNT(*) AS exact_count FROM toks GROUP BY w)
       |SELECT e.word, CAST(e.est_count AS BIGINT) AS est_count,
       | CAST(COALESCE(x.exact_count, 0) AS BIGINT) AS exact_count
       |FROM est e LEFT JOIN exact x ON x.word = e.word
       |ORDER BY e.word""".stripMargin
  }

  /** Relational word + 3-shingle CTEs over `rel` (a relation with doc_id
    * + text columns), TOTAL over edge cases to mirror Text.wordShingles
    * exactly: >= 3 words -> distinct 3-grams; 1-2 words -> one whole-text
    * shingle (whitespace-normalized); empty docs contribute no shingles
    * (the minhash oracles LEFT JOIN from documents and coalesce to
    * Long.MaxValue, matching the engine). Parameterized so the
    * calibration oracle's cdocs-restricted variant shares ONE definition
    * of the shingle normalization — a change here reaches every replay.
    */
  private[graft] def shingleCtesFor(rel: String): String =
    s"""words AS (
       | SELECT doc_id, w, i FROM (
       |  SELECT doc_id,
       |   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w,
       |   generate_subscripts(string_split_regex(trim(lower(text)), '\\s+'), 1) AS i
       |  FROM $rel WHERE trim(text) <> '')),
       |shingles AS (
       | SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
       | FROM words a
       | JOIN words b ON b.doc_id = a.doc_id AND b.i = a.i + 1
       | JOIN words c ON c.doc_id = a.doc_id AND c.i = a.i + 2
       | UNION
       | SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS sh
       | FROM $rel
       | WHERE trim(text) <> ''
       |  AND len(string_split_regex(trim(lower(text)), '\\s+')) < 3)""".stripMargin

  private[graft] val shingleCtes: String = shingleCtesFor("documents")

  /** Winnowing CTE chain (k=2 grams, window=4) mirroring
    * [[graft.ops.Winnow.fingerprints]]: ordered bigrams with 1-based
    * positions (short docs -> one whole-text gram), packed
    * `h32 * 2^31 + (2^31-1-pos)` keys, frame-bounded window MIN, and the
    * full-window-or-pos-1 start filter. Integer-exact end to end.
    */
  private[graft] def winnowCtes: String =
    s"""words AS (
       | SELECT doc_id, w, i FROM (
       |  SELECT doc_id,
       |   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w,
       |   generate_subscripts(string_split_regex(trim(lower(text)), '\\s+'), 1) AS i
       |  FROM documents WHERE trim(text) <> '')),
       |grams AS (
       | SELECT a.doc_id, CAST(a.i AS BIGINT) AS pos, a.w || ' ' || b.w AS gram
       | FROM words a JOIN words b ON b.doc_id = a.doc_id AND b.i = a.i + 1
       | UNION ALL
       | SELECT doc_id, CAST(1 AS BIGINT) AS pos,
       |  regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS gram
       | FROM documents
       | WHERE trim(text) <> ''
       |  AND len(string_split_regex(trim(lower(text)), '\\s+')) < 2),
       |keys AS (
       | SELECT doc_id, pos,
       |  ((${hash60Sql("gram")} >> 28) * 2147483648 + (2147483647 - pos)) AS key
       | FROM grams),
       |wm AS (
       | SELECT doc_id, pos,
       |  min(key) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
       |  count(*) OVER (PARTITION BY doc_id) AS n
       | FROM keys),
       |fps AS (
       | SELECT DISTINCT doc_id,
       |  (wmin >> 31) AS fp,
       |  2147483647 - (wmin & 2147483647) AS fp_pos
       | FROM wm WHERE pos <= n - 3 OR pos = 1)""".stripMargin

  /** KMV set-algebra replay (Beyer et al. 2007) over per-source 3-shingle
    * sketches (k=256): kept sets re-derived with a ranked distinct scan
    * (the sketch is a pure function of the data), union-k by re-ranking
    * the merged kept sets, then the union/intersection/Jaccard/difference
    * estimators in HUGEINT — mirroring the engine's DECIMAL(38,0) DIV.
    * Shared by `sketch_kmv_setops` (batch) and `stream_kmv_setops` (the
    * transformWithState twin): the streamed final snapshot per key equals
    * the batch sketch by split independence, so one replay serves both.
    */
  private[graft] def kmvSetopsOracle: String = {
    val h = hash60Sql("s.sh")
    s"""WITH $shingleCtes,
       |ss AS (
       | SELECT DISTINCT d.source, $h AS h
       | FROM shingles s JOIN documents d USING (doc_id)),
       |r AS (
       | SELECT source, h,
       |  row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       | FROM ss),
       |kept AS (SELECT source, h FROM r WHERE rn <= 256),
       |srcs AS (SELECT DISTINCT source FROM kept),
       |pr AS (
       | SELECT a.source AS sa, b.source AS sb
       | FROM srcs a JOIN srcs b ON a.source < b.source),
       |u AS (
       | SELECT p.sa, p.sb, k.h,
       |  MAX(CASE WHEN k.source = p.sa THEN 1 ELSE 0 END) AS in_a,
       |  MAX(CASE WHEN k.source = p.sb THEN 1 ELSE 0 END) AS in_b
       | FROM pr p JOIN kept k ON k.source IN (p.sa, p.sb)
       | GROUP BY 1, 2, 3),
       |rk AS (
       | SELECT sa, sb, h, in_a, in_b,
       |  row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
       | FROM u),
       |uk AS (
       | SELECT sa, sb,
       |  CAST(COUNT(*) AS BIGINT) AS n_kept_union,
       |  CAST(MAX(h) AS BIGINT) AS kth_min,
       |  CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_common
       | FROM rk WHERE rn <= 256 GROUP BY 1, 2),
       |est AS (
       | SELECT sa, sb, n_kept_union, kth_min, n_common,
       |  CASE WHEN n_kept_union < 256 THEN n_kept_union
       |       ELSE CAST(CAST(255 AS HUGEINT) * 1152921504606846976
       |              // NULLIF(kth_min, 0) AS BIGINT) END AS est_union
       | FROM uk)
       |SELECT sa AS source_a, sb AS source_b, n_kept_union, kth_min,
       | n_common, est_union,
       | CAST(CAST(n_common AS HUGEINT) * est_union
       |   // NULLIF(n_kept_union, 0) AS BIGINT) AS est_intersection,
       | n_common * 1000000 // NULLIF(n_kept_union, 0) AS jaccard_ppm,
       | est_union - CAST(CAST(n_common AS HUGEINT) * est_union
       |   // NULLIF(n_kept_union, 0) AS BIGINT) AS est_difference
       |FROM est ORDER BY source_a, source_b""".stripMargin
  }

  private[graft] def minhashOracle: String = {
    val p = Dedup.MinhashP
    val mins = (0 until 4).map { j =>
      val (a, b) = Dedup.minhashCoeffs(j)
      // LEFT JOIN from documents + coalesce: empty docs keep Long.MaxValue
      // signatures, exactly like the engine's coalesce
      s"COALESCE(MIN((($a * (${hash60Sql("s.sh")} % $p)) + $b) % $p), ${Long.MaxValue}) AS h$j"
    }.mkString(",\n ")
    s"""WITH $shingleCtes
       |SELECT d.doc_id,
       | $mins
       |FROM documents d LEFT JOIN shingles s ON s.doc_id = d.doc_id
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
  }

  /** Replays [[graft.ops.Dedup.minhashSignatures]] at 16 hashes over the
    * SAMPLED SNM candidate pairs (1-in-32 by stable pair-hash membership,
    * mirroring the engine entry), next to the exact 3-gram Jaccard from
    * the same shingle universe — agreement and set counts in exact
    * integers, the two divisions last. Signature and shingle work is
    * restricted to the docs the sampled pairs touch (cdocs), which is
    * what makes the sf1 replay linear-in-sample instead of
    * linear-in-corpus (the r11 sf1 skip: the unrestricted words 3-way
    * self-join over 50k docs ran past 1200 s).
    */
  private[graft] def minhashCalibrationOracle: String = {
    val p = Dedup.MinhashP
    val sigCols = (0 until 16).map { j =>
      val (a, b) = Dedup.minhashCoeffs(j)
      s"COALESCE(MIN((($a * (${hash60Sql("s.sh")} % $p)) + $b) % $p), " +
        s"${Long.MaxValue}) AS h$j"
    }.mkString(",\n ")
    val agreeSum = (0 until 16).map(j =>
      s"CASE WHEN sa.h$j = sb.h$j THEN 1 ELSE 0 END").mkString(" + ")
    val pairHash = hash60Sql(
      "CAST(p1 AS VARCHAR) || ':' || CAST(id AS VARCHAR)")
    val pairHash2 = hash60Sql(
      "CAST(p2 AS VARCHAR) || ':' || CAST(id AS VARCHAR)")
    s"""WITH keyed AS (
       | SELECT source AS block, COALESCE(substr(text, 1, 16), '') AS skey,
       |  doc_id AS id
       | FROM documents),
       |lagged AS (
       | SELECT block, id, LAG(id, 1) OVER w AS p1, LAG(id, 2) OVER w AS p2
       | FROM keyed WINDOW w AS (PARTITION BY block ORDER BY skey, id)),
       |prs AS MATERIALIZED (
       | SELECT p1 AS id_a, id AS id_b FROM lagged
       | WHERE p1 IS NOT NULL AND $pairHash % 32 = 0
       | UNION ALL
       | SELECT p2, id FROM lagged
       | WHERE p2 IS NOT NULL AND $pairHash2 % 32 = 0),
       |cal_ids AS MATERIALIZED (
       | SELECT id_a AS doc_id FROM prs UNION SELECT id_b FROM prs),
       |cdocs AS MATERIALIZED (
       | SELECT d.doc_id, d.text FROM documents d JOIN cal_ids USING (doc_id)),
       |${shingleCtesFor("cdocs")},
       |sig AS (
       | SELECT d.doc_id,
       |  $sigCols
       | FROM cdocs d LEFT JOIN shingles s ON s.doc_id = d.doc_id
       | GROUP BY d.doc_id),
       |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
       |          FROM shingles GROUP BY doc_id),
       |inter AS (
       | SELECT pr.id_a, pr.id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
       | FROM prs pr
       |  JOIN shingles x ON x.doc_id = pr.id_a
       |  JOIN shingles y ON y.doc_id = pr.id_b AND y.sh = x.sh
       | GROUP BY pr.id_a, pr.id_b),
       |rep AS (
       | SELECT pr.id_a, pr.id_b,
       |  CAST($agreeSum AS BIGINT) AS n_agree,
       |  COALESCE(za.n, 0) AS n_a, COALESCE(zb.n, 0) AS n_b,
       |  COALESCE(i.n_inter, 0) AS n_inter
       | FROM prs pr
       |  JOIN sig sa ON sa.doc_id = pr.id_a
       |  JOIN sig sb ON sb.doc_id = pr.id_b
       |  LEFT JOIN sizes za ON za.doc_id = pr.id_a
       |  LEFT JOIN sizes zb ON zb.doc_id = pr.id_b
       |  LEFT JOIN inter i ON i.id_a = pr.id_a AND i.id_b = pr.id_b)
       |SELECT id_a, id_b, n_agree, n_a, n_b, n_inter,
       | CAST(n_agree AS DOUBLE) / 16.0 AS est,
       | CAST(n_inter AS DOUBLE) / CAST(n_a + n_b - n_inter AS DOUBLE)
       |   AS exact_jaccard
       |FROM rep ORDER BY id_a, id_b""".stripMargin
  }

  /** Group-level signature: min over a source's docs of each doc's min =
    * min over ALL the source's shingle hashes; n_docs counted per doc.
    */
  private[graft] def groupMinhashOracle: String = {
    val p = Dedup.MinhashP
    val mins = (0 until 4).map { j =>
      val (a, b) = Dedup.minhashCoeffs(j)
      s"COALESCE(MIN((($a * (${hash60Sql("s.sh")} % $p)) + $b) % $p), ${Long.MaxValue}) AS h$j"
    }.mkString(",\n ")
    s"""WITH $shingleCtes
       |SELECT d.source,
       | $mins,
       | COUNT(DISTINCT d.doc_id) AS n_docs
       |FROM documents d LEFT JOIN shingles s ON s.doc_id = d.doc_id
       |GROUP BY d.source ORDER BY source""".stripMargin
  }

  private[graft] def simhashOracle(bits: Int): String = {
    val votes = (0 until bits).map(b =>
      s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b").mkString(",\n  ")
    // LEFT JOIN from documents: empty/whitespace-only docs have no token
    // rows; NULL votes fall through every CASE to 0 -> simhash 0, exactly
    // the engine's empty-token guard
    val bitsum = (0 until bits).map(b =>
      s"CASE WHEN v.v$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"""WITH toks AS (
       | SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
       | FROM documents WHERE trim(text) <> ''),
       |hashed AS (SELECT doc_id, ${hash60Sql("w")} AS h FROM toks),
       |votes AS (
       | SELECT doc_id,
       |  $votes
       | FROM hashed GROUP BY doc_id)
       |SELECT d.doc_id, CAST($bitsum AS BIGINT) AS simhash
       |FROM documents d LEFT JOIN votes v ON v.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Pigeonhole simhash pair replay: the simhashOracle vote chain over
    * the planted-union corpus, then 4 chunk keys per doc, bucket-size
    * gate (2..maxBucket), distinct bucket-mate pairs, xor-popcount
    * verify — mirroring Dedup.simhashHammingPairs step for step.
    */
  private[graft] def simhashPairsOracle(bits: Int, blocks: Int,
      maxHamming: Int, maxBucket: Int): String = {
    val width = bits / blocks
    val mask = (1L << width) - 1L
    val votes = (0 until bits).map(b =>
      s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n  ")
    val bitsum = (0 until bits).map(b =>
      s"CASE WHEN v.v$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    val blockIdx = (0 until blocks).mkString(", ")
    s"""WITH docs AS (
       | SELECT doc_id, text FROM documents
       | UNION ALL
       | SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50),
       |toks AS (
       | SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
       | FROM docs WHERE trim(text) <> ''),
       |hashed AS (SELECT doc_id, ${hash60Sql("w")} AS h FROM toks),
       |votes AS (
       | SELECT doc_id,
       |  $votes
       | FROM hashed GROUP BY doc_id),
       |sig AS MATERIALIZED (
       | SELECT d.doc_id, CAST(COALESCE($bitsum, 0) AS BIGINT) AS s
       | FROM docs d LEFT JOIN votes v ON v.doc_id = d.doc_id),
       |blocked AS MATERIALIZED (
       | SELECT doc_id, s, bl, (s >> (bl * $width)) & $mask AS bval
       | FROM sig CROSS JOIN (SELECT unnest([$blockIdx]) AS bl)),
       |bk AS (
       | SELECT bl, bval, COUNT(*) AS n FROM blocked GROUP BY 1, 2),
       |cand AS (
       | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |  a.s AS sa, b.s AS sb
       | FROM blocked a
       | JOIN blocked b ON b.bl = a.bl AND b.bval = a.bval
       |  AND a.doc_id < b.doc_id
       | JOIN bk ON bk.bl = a.bl AND bk.bval = a.bval
       |  AND bk.n BETWEEN 2 AND $maxBucket)
       |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Bucket-histogram replay for the simhash hot-bucket audit: the
    * simhashPairsOracle chain up to the (chunk, value) bucket counts,
    * then one aggregate row — total buckets, buckets over the cap, and
    * the signature entries inside them.
    */
  private[graft] def simhashBucketAuditOracle(bits: Int, blocks: Int,
      maxBucket: Int): String = {
    val width = bits / blocks
    val mask = (1L << width) - 1L
    val votes = (0 until bits).map(b =>
      s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n  ")
    val bitsum = (0 until bits).map(b =>
      s"CASE WHEN v.v$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    val blockIdx = (0 until blocks).mkString(", ")
    s"""WITH docs AS (
       | SELECT doc_id, text FROM documents
       | UNION ALL
       | SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50),
       |toks AS (
       | SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
       | FROM docs WHERE trim(text) <> ''),
       |hashed AS (SELECT doc_id, ${hash60Sql("w")} AS h FROM toks),
       |votes AS (
       | SELECT doc_id,
       |  $votes
       | FROM hashed GROUP BY doc_id),
       |sig AS MATERIALIZED (
       | SELECT d.doc_id, CAST(COALESCE($bitsum, 0) AS BIGINT) AS s
       | FROM docs d LEFT JOIN votes v ON v.doc_id = d.doc_id),
       |blocked AS (
       | SELECT doc_id, s, bl, (s >> (bl * $width)) & $mask AS bval
       | FROM sig CROSS JOIN (SELECT unnest([$blockIdx]) AS bl)),
       |bk AS (
       | SELECT bl, bval, COUNT(*) AS n FROM blocked GROUP BY 1, 2)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
       | CAST(COALESCE(SUM(CASE WHEN n > $maxBucket THEN 1 END), 0) AS BIGINT)
       |  AS n_dropped_buckets,
       | CAST(COALESCE(SUM(CASE WHEN n > $maxBucket THEN n END), 0) AS BIGINT)
       |  AS n_dropped_rows
       |FROM bk""".stripMargin
  }

  private[graft] def ngramJaccardOracle: String =
    """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
      |words AS (
      | SELECT doc_id, w, i FROM (
      |  SELECT doc_id,
      |   unnest(string_split_regex(trim(lower(text)), '\s+')) AS w,
      |   generate_subscripts(string_split_regex(trim(lower(text)), '\s+'), 1) AS i
      |  FROM docs WHERE trim(text) <> '')),
      |shingles AS (
      | SELECT DISTINCT a.doc_id AS id, a.w || ' ' || b.w AS sh
      | FROM words a JOIN words b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      | UNION
      | SELECT doc_id AS id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS sh
      | FROM docs
      | WHERE trim(text) <> ''
      |  AND len(string_split_regex(trim(lower(text)), '\s+')) < 2),
      |sizes AS (SELECT id, COUNT(*) AS n FROM shingles GROUP BY id),
      |inter AS (
      | SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS n_inter
      | FROM shingles x JOIN shingles y ON x.sh = y.sh AND x.id < y.id
      | GROUP BY x.id, y.id)
      |SELECT id_a, id_b,
      | CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE) AS jaccard
      |FROM inter
      | JOIN sizes sa ON sa.id = id_a
      | JOIN sizes sb ON sb.id = id_b
      |WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE) >= 0.05
      |ORDER BY id_a, id_b""".stripMargin

  /** One 30-round power-iteration chain over the matrix CTE `mat`
    * (column `m`, one row): recursive CTE + first-nonzero sign fix,
    * mirroring EmbeddingAgg.powerIterate fold for fold. The NV
    * expression is spelled three times — DuckDB lambdas reject
    * subqueries and correlation reaches one level deep, so the
    * duplicated copies (deterministic, bitwise identical) stand in for
    * a binding.
    */
  private[graft] def powerIterSql(mat: String, it: String, fin: String,
      lead: String, pcv: String, pc: String): String = {
    val nv = "list_transform(range(0, 64), ii -> list_sum(list_transform(" +
      s"list_zip($mat.m[CAST(ii AS INT) + 1], $it.v), x -> x[1] * x[2])))"
    s"""$it(k, v) AS (
       | SELECT 0 AS k, list_transform(range(0, 64), x -> 1.0 / sqrt(64.0)) AS v
       | UNION ALL
       | SELECT $it.k + 1,
       |  CASE WHEN sqrt(list_sum(list_transform($nv, x -> x * x))) > 0
       |       THEN list_transform($nv,
       |         x -> x / sqrt(list_sum(list_transform($nv, x -> x * x))))
       |       ELSE $it.v END
       | FROM $it, $mat WHERE $it.k < 30),
       |$fin AS (SELECT v FROM $it WHERE k = 30),
       |$lead AS (
       | SELECT min(r.ii) AS li FROM range(0, 64) r(ii), $fin
       | WHERE $fin.v[CAST(r.ii AS INT) + 1] <> 0.0),
       |$pcv AS MATERIALIZED (
       | SELECT CASE WHEN $lead.li IS NOT NULL
       |         AND $fin.v[CAST($lead.li AS INT) + 1] < 0
       |        THEN list_transform($fin.v, x -> -x) ELSE $fin.v END AS $pc
       | FROM $fin CROSS JOIN $lead)""".stripMargin
  }

  /** The emb_covariance CTE chain up to the full-matrix `mat` row. */
  private[graft] val covMatSql: String =
    """clean AS (
      | SELECT embedding::DOUBLE[] AS v FROM embeddings
      | WHERE embedding IS NOT NULL AND len(embedding) = 64
      |  AND len(embedding) = list_aggregate(embedding, 'count')),
      |nn AS (SELECT COUNT(*) AS n FROM clean),
      |pairs AS (
      | SELECT i.i AS i, j.j AS j,
      |  CAST(ROUND(v[CAST(i.i AS INT) + 1] * v[CAST(j.j AS INT) + 1]
      |    * 1000000000.0) AS BIGINT) AS p
      | FROM clean CROSS JOIN range(0, 64) i(i) CROSS JOIN range(0, 64) j(j)
      | WHERE j.j >= i.i),
      |sums AS (SELECT i, j, SUM(p) AS s FROM pairs GROUP BY 1, 2),
      |mom AS (
      | SELECT t.i AS i,
      |  SUM(CAST(ROUND(v[CAST(t.i AS INT) + 1] * 1000000000.0) AS BIGINT)) AS sm
      | FROM clean CROSS JOIN range(0, 64) t(i) GROUP BY 1),
      |covm AS (
      | SELECT s.i AS i, s.j AS j,
      |  CAST(s.s AS DOUBLE) / 1000000000.0 / nn.n
      |   - (CAST(mi.sm AS DOUBLE) / 1000000000.0 / nn.n)
      |     * (CAST(mj.sm AS DOUBLE) / 1000000000.0 / nn.n) AS cov
      | FROM sums s CROSS JOIN nn
      |  JOIN mom mi ON mi.i = s.i
      |  JOIN mom mj ON mj.i = s.j),
      |fullm AS (
      | SELECT i, j, cov FROM covm
      | UNION ALL
      | SELECT j AS i, i AS j, cov FROM covm WHERE i < j),
      |rows_m AS (SELECT i, list(cov ORDER BY j) AS r FROM fullm GROUP BY i),
      |mat AS MATERIALIZED (SELECT list(r ORDER BY i) AS m FROM rows_m)""".stripMargin

  /** Replays EmbeddingAgg.pcTop(k=2): pc1 chain, Rayleigh quotient
    * λ = pcᵀ(M pc) (both folds ascending), Hotelling deflation
    * m2 = m - λ·(pc_i·pc_j), second chain over m2, projections on both.
    * The intermediate CTEs are MATERIALIZED — DuckDB inlines CTEs by
    * default, and re-deriving the whole first chain inside every
    * second-chain iteration turns a 1-second query into 5+ minutes
    * (measured 314 s plain vs 1.1 s materialized, identical results).
    */
  private[graft] def pcaTop2Oracle: String =
    s"""WITH RECURSIVE $covMatSql,
       |${powerIterSql("mat", "it", "fin", "lead", "pcv", "pc")},
       |mv AS MATERIALIZED (
       | SELECT list_transform(range(0, 64), i ->
       |   list_sum(list_transform(
       |     list_zip(mat.m[CAST(i AS INT) + 1], pcv.pc),
       |     x -> x[1] * x[2]))) AS mv
       | FROM mat, pcv),
       |lam AS MATERIALIZED (
       | SELECT list_sum(list_transform(list_zip(pcv.pc, mv.mv),
       |   x -> x[1] * x[2])) AS l
       | FROM pcv, mv),
       |mat2 AS MATERIALIZED (
       | SELECT list_transform(range(0, 64), i ->
       |   list_transform(range(0, 64), j ->
       |     mat.m[CAST(i AS INT) + 1][CAST(j AS INT) + 1]
       |      - lam.l * (pcv.pc[CAST(i AS INT) + 1]
       |                 * pcv.pc[CAST(j AS INT) + 1]))) AS m
       | FROM mat, pcv, lam),
       |${powerIterSql("mat2", "it2", "fin2", "lead2", "pcv2", "pc2")}
       |SELECT ev.vec_id,
       | (CASE WHEN len(ev.v) = len(pcv.pc)
       |   AND len(ev.v) = list_aggregate(ev.v, 'count')
       |   AND len(pcv.pc) = list_aggregate(pcv.pc, 'count')
       |  THEN list_sum(list_transform(list_zip(ev.v, pcv.pc), x -> x[1] * x[2]))
       |  END) AS pc1_score,
       | (CASE WHEN len(ev.v) = len(pcv2.pc2)
       |   AND len(ev.v) = list_aggregate(ev.v, 'count')
       |   AND len(pcv2.pc2) = list_aggregate(pcv2.pc2, 'count')
       |  THEN list_sum(list_transform(list_zip(ev.v, pcv2.pc2), x -> x[1] * x[2]))
       |  END) AS pc2_score
       |FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) ev
       | CROSS JOIN pcv CROSS JOIN pcv2
       |ORDER BY vec_id""".stripMargin

  /** Same shingle universe and pair counts as [[ngramJaccardOracle]];
    * per-threshold survivors decided by the exact integer predicate
    * `100·inter >= t·union`, then pair / distinct-doc counts per
    * threshold (zero-coalesced so every requested threshold reports).
    */
  private[graft] def thresholdSweepOracle: String =
    """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
      |words AS (
      | SELECT doc_id, w, i FROM (
      |  SELECT doc_id,
      |   unnest(string_split_regex(trim(lower(text)), '\s+')) AS w,
      |   generate_subscripts(string_split_regex(trim(lower(text)), '\s+'), 1) AS i
      |  FROM docs WHERE trim(text) <> '')),
      |shingles AS (
      | SELECT DISTINCT a.doc_id AS id, a.w || ' ' || b.w AS sh
      | FROM words a JOIN words b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      | UNION
      | SELECT doc_id AS id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS sh
      | FROM docs
      | WHERE trim(text) <> ''
      |  AND len(string_split_regex(trim(lower(text)), '\s+')) < 2),
      |sizes AS (SELECT id, COUNT(*) AS n FROM shingles GROUP BY id),
      |inter AS (
      | SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS n_inter
      | FROM shingles x JOIN shingles y ON x.sh = y.sh AND x.id < y.id
      | GROUP BY x.id, y.id),
      |pairs AS (
      | SELECT id_a, id_b, n_inter, sa.n AS n_a, sb.n AS n_b
      | FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b),
      |th AS (SELECT CAST(t AS BIGINT) AS t_pct
      |       FROM (VALUES (5), (10), (25), (50), (75), (90), (100)) v(t)),
      |surv AS (
      | SELECT th.t_pct, p.id_a, p.id_b FROM pairs p CROSS JOIN th
      | WHERE p.n_inter * 100 >= th.t_pct * (p.n_a + p.n_b - p.n_inter)),
      |np AS (SELECT t_pct, CAST(COUNT(*) AS BIGINT) AS n_pairs
      |       FROM surv GROUP BY 1),
      |nd AS (SELECT t_pct, CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs
      |       FROM (SELECT t_pct, id_a AS id FROM surv
      |             UNION ALL SELECT t_pct, id_b FROM surv)
      |       GROUP BY 1)
      |SELECT th.t_pct, COALESCE(np.n_pairs, 0) AS n_pairs,
      | COALESCE(nd.n_docs, 0) AS n_docs
      |FROM th LEFT JOIN np USING (t_pct) LEFT JOIN nd USING (t_pct)
      |ORDER BY t_pct""".stripMargin

  /** Same shingle universe as [[ngramJaccardOracle]], containment
    * arithmetic per direction (n_a >= 1 by construction, so the
    * divisions are total).
    */
  private[graft] def containmentOracle: String =
    """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
      |words AS (
      | SELECT doc_id, w, i FROM (
      |  SELECT doc_id,
      |   unnest(string_split_regex(trim(lower(text)), '\s+')) AS w,
      |   generate_subscripts(string_split_regex(trim(lower(text)), '\s+'), 1) AS i
      |  FROM docs WHERE trim(text) <> '')),
      |shingles AS (
      | SELECT DISTINCT a.doc_id AS id, a.w || ' ' || b.w AS sh
      | FROM words a JOIN words b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      | UNION
      | SELECT doc_id AS id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS sh
      | FROM docs
      | WHERE trim(text) <> ''
      |  AND len(string_split_regex(trim(lower(text)), '\s+')) < 2),
      |sizes AS (SELECT id, COUNT(*) AS n FROM shingles GROUP BY id),
      |inter AS (
      | SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS n_inter
      | FROM shingles x JOIN shingles y ON x.sh = y.sh AND x.id < y.id
      | GROUP BY x.id, y.id)
      |SELECT id_a, id_b,
      | CAST(n_inter AS DOUBLE) / CAST(sa.n AS DOUBLE) AS c_ab,
      | CAST(n_inter AS DOUBLE) / CAST(sb.n AS DOUBLE) AS c_ba
      |FROM inter
      | JOIN sizes sa ON sa.id = id_a
      | JOIN sizes sb ON sb.id = id_b
      |WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n AS DOUBLE) >= 0.4
      |   OR CAST(n_inter AS DOUBLE) / CAST(sb.n AS DOUBLE) >= 0.4
      |ORDER BY id_a, id_b""".stripMargin

  /** Replays decontamination: distinct 3-shingles per side (with the
    * whole-text shingle for <3-word docs, mirroring wordShingles), then
    * per-training-doc totals and benchmark-membership hits; zero-shingle
    * docs re-enter via the doc-spine left join.
    */
  private[graft] def decontaminateOracle: String = {
    def words(src: String) =
      s"""SELECT doc_id, w, i FROM (
         | SELECT doc_id,
         |  unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w,
         |  generate_subscripts(string_split_regex(trim(lower(text)), '\\s+'), 1) AS i
         | FROM $src WHERE trim(text) <> '')""".stripMargin
    def shingles(wordsCte: String, src: String) =
      s"""SELECT DISTINCT a.doc_id AS id, a.w || ' ' || b.w || ' ' || c.w AS sh
         |FROM $wordsCte a
         | JOIN $wordsCte b ON b.doc_id = a.doc_id AND b.i = a.i + 1
         | JOIN $wordsCte c ON c.doc_id = a.doc_id AND c.i = a.i + 2
         |UNION
         |SELECT doc_id AS id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS sh
         |FROM $src WHERE trim(text) <> ''
         | AND len(string_split_regex(trim(lower(text)), '\\s+')) < 3""".stripMargin
    s"""WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
       |train AS (SELECT doc_id, text FROM documents WHERE doc_id >= 20),
       |bw AS (${words("bench")}),
       |tw AS (${words("train")}),
       |bsh AS (SELECT DISTINCT sh FROM (${shingles("bw", "bench")})),
       |tsh AS (${shingles("tw", "train")}),
       |agg AS (
       | SELECT id, COUNT(*) AS n_shingles,
       |  CAST(SUM(CASE WHEN sh IN (SELECT sh FROM bsh) THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
       | FROM tsh GROUP BY id)
       |SELECT t.doc_id,
       | CAST(COALESCE(agg.n_shingles, 0) AS BIGINT) AS n_shingles,
       | CAST(COALESCE(agg.n_hits, 0) AS BIGINT) AS n_hits,
       | CAST(CASE WHEN COALESCE(agg.n_hits, 0) > 0 THEN 1 ELSE 0 END AS INTEGER)
       |  AS is_contaminated
       |FROM train t LEFT JOIN agg ON agg.id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  /** Per-language stopword hit sums + argmax with the array_max-on-struct
    * tie-break (lexicographically LAST language wins ties).
    */
  private[graft] def textProfileOracle: String = {
    val langs = Text.stopwords.keys.toSeq.sorted
    def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ", ", ")")
    val hitCols = langs.map(l =>
      s"SUM(CASE WHEN w IN ${inList(Text.stopwords(l))} THEN 1 ELSE 0 END) AS h_$l")
      .mkString(",\n  ")
    val allHits =
      s"SUM(CASE WHEN w IN ${inList(Text.stopwords.values.flatten.toSeq)} THEN 1 ELSE 0 END) AS h_all"
    // argmax, later-language wins ties (matches array_max on struct(hits,lang))
    val argmax = langs.reverse.zipWithIndex.map { case (l, idx) =>
      val others = langs.filterNot(_ == l)
      val cond = others.map(o => s"h_$l >= h_$o").mkString(" AND ")
      if (idx == langs.size - 1) s"ELSE '$l'"
      else (if (idx == 0) s"CASE WHEN $cond THEN '$l'" else s"WHEN $cond THEN '$l'")
    }.mkString(" ") + " END"
    val fp =
      s"SUM((${hash60Sql("w")} % 1000000) * i) AS fp_sum"
    // LEFT JOIN from charstats (all docs, incl. empty/whitespace-only/null
    // text) with zero-coalesced word stats, mirroring the engine's
    // when-guards: empty docs -> und / zero ratios / fingerprint 0.
    s"""WITH words AS (
       | SELECT doc_id, w, i FROM (
       |  SELECT doc_id,
       |   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w,
       |   generate_subscripts(string_split_regex(trim(lower(text)), '\\s+'), 1) AS i
       |  FROM documents WHERE text IS NOT NULL AND trim(text) <> '')),
       |wordstats AS (
       | SELECT doc_id,
       |  COUNT(*) AS n_tokens,
       |  $hitCols,
       |  $allHits,
       |  $fp
       | FROM words GROUP BY doc_id),
       |charstats AS (
       | SELECT doc_id,
       |  length(COALESCE(text, '')) AS n_chars,
       |  len(regexp_extract_all(COALESCE(text, ''), '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
       |  len(regexp_extract_all(COALESCE(text, ''), '[.,;:!?''"()\\[\\]{}]')) AS n_punct
       | FROM documents),
       |joined AS (
       | SELECT c.doc_id,
       |  COALESCE(w.n_tokens, 0) AS n_tokens,
       |  COALESCE(w.h_all, 0) AS h_all,
       |  c.n_chars, c.n_bpe_tokens, c.n_punct,
       |  COALESCE(w.fp_sum, 0) AS fp_sum,
       |  $argmax AS best_lang,
       |  COALESCE(GREATEST(${langs.map(l => s"w.h_$l").mkString(", ")}), 0) AS best_hits
       | FROM charstats c LEFT JOIN wordstats w ON w.doc_id = c.doc_id)
       |SELECT doc_id,
       | CASE WHEN best_hits > 0 THEN best_lang ELSE 'und' END AS lang_pred,
       | CAST(n_chars AS BIGINT) AS n_chars,
       | CAST(n_tokens AS BIGINT) AS n_tokens,
       | CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
       | CASE WHEN n_chars > 0
       |      THEN ROUND(CAST(n_punct AS DOUBLE) / n_chars, 6) ELSE 0.0 END AS punct_ratio,
       | CASE WHEN n_tokens > 0
       |      THEN ROUND(CAST(h_all AS DOUBLE) / n_tokens, 6) ELSE 0.0 END AS stopword_ratio,
       | ROUND((LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
       |      + GREATEST(1.0 - (CASE WHEN n_chars > 0
       |          THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END) * 5.0, 0.0)
       |      + LEAST((CASE WHEN n_tokens > 0
       |          THEN CAST(h_all AS DOUBLE) / n_tokens ELSE 0.0 END) * 4.0, 1.0)) / 3.0, 6) AS quality_score,
       | CAST(fp_sum % 2147483647 AS BIGINT) AS fingerprint
       |FROM joined ORDER BY doc_id""".stripMargin
  }

  /** LSH bucket expression over a DOUBLE[] column, with the SAME hyperplane
    * sign constants the engine uses (Vectors.hyperplaneSigns, seed 7) inlined
    * as literals — the projection fold is left-associative in both engines,
    * so buckets (and therefore candidates and ranks) match bit-for-bit.
    */
  private[graft] def lshBucketSql(vecExpr: String, bits: Int, dim: Int,
      seed: Int = 7): String = {
    val signs = Vectors.hyperplaneSigns(bits, dim, seed)
    (0 until bits).map { j =>
      val terms = (0 until dim).map { i =>
        val s = if (signs(j)(i) > 0) "" else "-"
        s"$s$vecExpr[${i + 1}]"
      }.mkString(" + ").replace("+ -", "- ")
      s"(CASE WHEN ($terms) >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** Unrolled Lloyd training + IVF probe: c0 = prefix-sample init (cell =
    * rank of seed vec_id), then per iteration an argmin assignment CTE and
    * a decimal-exact per-dimension mean CTE. Mirrors
    * `Similarity.trainedCentroids` step for step — order-free decimal sums
    * are what make cross-engine bit-equality of TRAINED centroids (and
    * hence identical final assignments) possible.
    */
  /** Shared WITH-prefix (no leading `WITH`): embeddings as DOUBLE lists
    * (`e`) + the Lloyd-trained centroid chain — `c0` prefix seed, `iters`
    * unrolled assign/decimal-mean rounds — ending in CTE `c{iters}`.
    * Callers append their own CTEs; the chain replays
    * `Similarity.trainedCentroids` bit-for-bit.
    */
  private[graft] def trainedCentroidChainSql(nCells: Int, iters: Int,
      dim: Int): String = {
    val iterCtes = (1 to iters).map { it =>
      val prev = s"c${it - 1}"
      s"""a$it AS (
         | SELECT vec_id, v, cell FROM (
         |  SELECT e.vec_id, e.v, c.cell,
         |   ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |     ORDER BY ${distSql("e.v", "c.cv")} ASC, c.cell ASC) AS rn
         |  FROM e CROSS JOIN $prev c) WHERE rn = 1),
         |s$it AS (
         | SELECT a.cell, r.i,
         |  CAST(SUM(CAST(round(a.v[r.i] * 1e9) AS BIGINT)) AS DOUBLE)
         |    / COUNT(a.v[r.i]) / 1e9 AS m
         | FROM a$it a CROSS JOIN range(1, ${dim + 1}) r(i)
         | GROUP BY a.cell, r.i
         | HAVING COUNT(a.v[r.i]) > 0),
         |c$it AS (
         | SELECT cell, list(m ORDER BY i) AS cv FROM s$it GROUP BY cell
         | UNION ALL
         | SELECT p.cell, p.cv FROM $prev p
         | WHERE p.cell NOT IN (SELECT DISTINCT cell FROM s$it))""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (
       | SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
       | FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $nCells)),
       |$iterCtes""".stripMargin
  }

  private[graft] def ivfTrainedOracle(nCells: Int = 16, nProbe: Int = 2,
      iters: Int = 2, dim: Int = 64, k: Int = 10,
      queryWhere: String = "WHERE vec_id < 5"): String = {
    val fin = s"c$iters"
    s"""WITH ${trainedCentroidChainSql(nCells, iters, dim)},
       |corpus AS (SELECT vec_id AS corpus_id, v AS cv FROM e),
       |cassign AS (
       | SELECT corpus_id, cv, cell FROM (
       |  SELECT c.corpus_id, c.cv, ct.cell,
       |   ROW_NUMBER() OVER (PARTITION BY c.corpus_id
       |     ORDER BY ${distSql("c.cv", "ct.cv")} ASC, ct.cell ASC) AS rn
       |  FROM corpus c CROSS JOIN $fin ct) WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e $queryWhere),
       |qprobe AS (
       | SELECT query_id, qv, cell FROM (
       |  SELECT q.query_id, q.qv, ct.cell,
       |   ROW_NUMBER() OVER (PARTITION BY q.query_id
       |     ORDER BY ${distSql("q.qv", "ct.cv")} ASC, ct.cell ASC) AS rn
       |  FROM q CROSS JOIN $fin ct) WHERE rn <= $nProbe),
       |scored AS (
       | SELECT qp.query_id, ca.corpus_id,
       |  ${cosineSql("qp.qv", "ca.cv")} AS cosine
       | FROM cassign ca JOIN qprobe qp ON ca.cell = qp.cell
       | WHERE ca.corpus_id <> qp.query_id)
       |SELECT query_id, corpus_id, ROUND(cosine, 6) AS cosine, rank
       |FROM (
       | SELECT query_id, corpus_id, cosine,
       |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
       | FROM scored)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Replays `Dedup.semanticDedup` end to end: the trained-centroid
    * chain, full-corpus nearest-cell assignment (NULL distances sort
    * last, so degenerate vectors take the smallest cell — matching
    * `assignNearest`), and the within-cell lower-id near-dup semi join.
    * cosineSql is the TOTAL in-order fold, bit-equal to the engine's
    * DotProduct, so the `>= threshold` cut is exact on both sides.
    */
  private[graft] def semanticDedupOracle(nCells: Int = 16, iters: Int = 2,
      dim: Int = 64, threshold: Double = 0.38): String = {
    val fin = s"c$iters"
    s"""WITH ${trainedCentroidChainSql(nCells, iters, dim)},
       |cassign AS (
       | SELECT vec_id, v, cell FROM (
       |  SELECT e.vec_id, e.v, ct.cell,
       |   ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |     ORDER BY ${distSql("e.v", "ct.cv")} ASC, ct.cell ASC) AS rn
       |  FROM e CROSS JOIN $fin ct) WHERE rn = 1),
       |drops AS (
       | SELECT DISTINCT b.vec_id
       | FROM cassign a JOIN cassign b
       |   ON a.cell = b.cell AND a.vec_id < b.vec_id
       | WHERE ${cosineSql("a.v", "b.v")} >= $threshold)
       |SELECT c.vec_id, c.cell, (d.vec_id IS NULL) AS kept
       |FROM cassign c LEFT JOIN drops d ON c.vec_id = d.vec_id
       |ORDER BY c.vec_id""".stripMargin
  }

  /** Replays the WHOLE sq8 path: amax -> scale -> tinyint codes (the
    * encoding), guarded in-order code-dot (dotSql discipline — list_sum
    * skips nulls where Spark's fold nulls out, hence the element-count
    * guard), approximate candidate cut, exact rerank. Degenerate-vector
    * routes (null / null-element / all-zero / ragged) all collapse to a
    * NULL score on both engines even though the intermediate `scale`
    * differs in null-ness (Spark folds to 0, list_max yields NULL) —
    * the codes are NULL either way.
    */
  private[graft] def sq8TopkOracle(rerank: Int = 40, k: Int = 10): String = {
    val codesDot =
      "(CASE WHEN len(codes) = len(qv) AND len(codes) = list_aggregate(codes, 'count')" +
        " AND len(qv) = list_aggregate(qv, 'count')" +
        " THEN list_sum(list_transform(list_zip(codes, qv), x -> x[1] * x[2])) END)"
    s"""WITH enc AS (
       |  SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv,
       |   sqrt(${dotSql("embedding::DOUBLE[]", "embedding::DOUBLE[]")}) AS cn,
       |   list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS scale
       |  FROM embeddings),
       | enc2 AS (
       |  SELECT corpus_id, cv, cn, scale,
       |   CASE WHEN scale > 0
       |    THEN list_transform(cv, x -> CAST(round(x / scale) AS TINYINT)) END AS codes
       |  FROM enc),
       | q AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
       |   sqrt(${dotSql("embedding::DOUBLE[]", "embedding::DOUBLE[]")}) AS qn
       |  FROM embeddings WHERE vec_id < 5),
       | approx AS (
       |  SELECT q.query_id, e.corpus_id,
       |   CASE WHEN q.qn > 0 AND e.cn > 0
       |    THEN (e.scale * $codesDot) / (q.qn * e.cn) END AS ascore
       |  FROM enc2 e CROSS JOIN q WHERE e.corpus_id <> q.query_id),
       | cands AS (
       |  SELECT query_id, corpus_id FROM (
       |   SELECT query_id, corpus_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY ascore DESC, corpus_id ASC) AS rn
       |   FROM approx) WHERE rn <= $rerank),
       | exact AS (
       |  SELECT ca.query_id, ca.corpus_id, ${cosineSql("q.qv", "e.cv")} AS cosine
       |  FROM cands ca JOIN enc2 e ON e.corpus_id = ca.corpus_id
       |                JOIN q ON q.query_id = ca.query_id)
       |SELECT query_id, corpus_id, ROUND(cosine, 6) AS cosine, rank
       |FROM (
       | SELECT query_id, corpus_id, cosine,
       |  ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, corpus_id ASC) AS rank
       | FROM exact)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Replays Sampling.weightedK bit-for-bit: the Efraimidis-Spirakis key
    * uses the PORTABLE ln (exact exponent via bin(), atanh Horner series
    * in the identical association order — see Sampling.portableLnStages),
    * so every double here is the same double Spark computes; native ln
    * would drift in the last ulp on ~0.1% of inputs.
    */
  private[graft] def sampleWeightedOracle: String = {
    val ln2 = "CAST(0.6931471805599453 AS DOUBLE)"
    def d(i: Int) = s"CAST($i AS DOUBLE)"
    // Horner shape identical to Sampling.portableLnStages' poly
    val poly = Seq(13, 11, 9, 7, 5, 3).foldLeft("") { (acc, q) =>
      if (acc.isEmpty) s"${d(1)}/${d(q)}"
      else s"${d(1)}/${d(q)} + z2*($acc)"
    }
    val h = hash60Sql("CAST(doc_id AS VARCHAR)", 0)
    s"""WITH w AS (
       | SELECT doc_id, n_chars FROM documents WHERE n_chars > 0),
       |st AS (SELECT doc_id, n_chars, $h + 1 AS n FROM w),
       |pp AS (SELECT doc_id, n_chars, n,
       |        CAST(len(bin(n)) - 1 AS INTEGER) AS p FROM st),
       |mm AS (SELECT doc_id, n_chars, p,
       |        CAST(n AS DOUBLE) / CAST((CAST(1 AS BIGINT) << p) AS DOUBLE) AS m
       |       FROM pp),
       |zz AS (SELECT doc_id, n_chars, p,
       |        (m - ${d(1)}) / (m + ${d(1)}) AS z FROM mm),
       |z2t AS (SELECT doc_id, n_chars, p, z, z*z AS z2 FROM zz),
       |kk AS (SELECT doc_id, n_chars,
       |  (CAST(p AS DOUBLE) * $ln2 +
       |   ${d(2)} * z * (${d(1)} + z2 * ($poly))
       |   - ${d(60)} * $ln2) / CAST(n_chars AS DOUBLE) AS key
       | FROM z2t)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY key DESC, doc_id) AS INTEGER) AS rank,
       | doc_id, n_chars, ROUND(key, 6) + 0.0 AS es_key
       |FROM (SELECT * FROM kk ORDER BY key DESC, doc_id LIMIT 50)
       |ORDER BY rank""".stripMargin
  }

  /** Shared by the batch and streaming funnel queries — the streaming path
    * is arrival-order-independent (sorted-multiset fold), so the strict
    * batch oracle applies to both.
    */
  private[graft] val funnelUserStepsSql: String =
    """WITH ev AS (
      | SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events
      | WHERE user_id <= 200),
      |s1 AS (
      | SELECT user_id, MIN(ts_us) AS step1_view FROM ev
      | WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (
      | SELECT e.user_id, MIN(e.ts_us) AS step2_click
      | FROM ev e JOIN s1 ON e.user_id = s1.user_id
      | WHERE e.event_type = 'click' AND e.ts_us > s1.step1_view GROUP BY 1),
      |s3 AS (
      | SELECT e.user_id, MIN(e.ts_us) AS step3_purchase
      | FROM ev e JOIN s2 ON e.user_id = s2.user_id
      | WHERE e.event_type = 'purchase' AND e.ts_us > s2.step2_click GROUP BY 1)
      |SELECT s1.user_id AS user_id, s1.step1_view, s2.step2_click, s3.step3_purchase
      |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
      |        LEFT JOIN s3 ON s1.user_id = s3.user_id
      |ORDER BY user_id""".stripMargin

  /** Shared by the batch and streaming upsert queries — the streaming
    * latest-per-key is a commutative/associative argmax, so arrival order
    * cannot change it.
    */
  private[graft] val upsertMergeSql: String =
    """WITH cur AS (
      | SELECT o_orderkey, o_custkey, o_totalprice, CAST(0 AS BIGINT) AS seq
      | FROM orders WHERE o_orderkey <= 5000),
      |upd AS (
      | SELECT o_orderkey, o_custkey, o_totalprice + 2.0 AS o_totalprice,
      |  CAST(2 AS BIGINT) AS seq
      | FROM cur WHERE o_orderkey % 10 = 0)
      |SELECT c.o_orderkey, c.o_custkey, c.o_totalprice, c.seq FROM cur c
      |WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = c.o_orderkey)
      |UNION ALL SELECT o_orderkey, o_custkey, o_totalprice, seq FROM upd
      |ORDER BY o_orderkey""".stripMargin

  /** Guarded squared-L2 (no sqrt — argmin/sum care only about order), same
    * totality discipline as [[distSql]].
    */
  private[graft] def l2sqSql(a: String, b: String): String =
    s"(CASE WHEN len($a) = len($b) AND len($a) = list_aggregate($a, 'count')" +
      s" AND len($b) = list_aggregate($b, 'count')" +
      s" THEN list_sum(list_transform(list_zip($a, $b)," +
      s" x -> (x[1] - x[2]) * (x[1] - x[2]))) END)"

  /** Replays the whole PQ pipeline: prefix-sample codebook (null seed
    * vectors excluded on both engines), per-sub-space argmin encode (all-
    * null distances -> j=0 by the j-asc tie-break), ADC lookup join, and a
    * TOTAL ordered sum for the approximate distance (list_sum skips nulls,
    * so the COUNT guard nulls the whole sum exactly where Spark's fold
    * does), then the exact cosine rerank.
    */
  /** Fixed BPE merge artifact for bpe_encode (common-English bigram
    * merges; what matters is the fold semantics, not the vocabulary). */
  private[graft] val bpeEncodeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n",
    "an" -> "d", "e" -> "r", "o" -> "n", "r" -> "e")

  /** Replays [[graft.ops.Bpe.encode]]: per word, sentinel-wrapped char
    * symbols folded through the merge list as chained REPLACEs (plain
    * substring replace is left-to-right non-overlapping in both engines —
    * exactly the greedy BPE rewrite), then split back to subwords.
    * Sentinels chr(1)/chr(2) are verified absent from every corpus.
    */
  private[graft] def bpeEncodeOracle(merges: Seq[(String, String)]): String = {
    def wrap(sym: String) = s"chr(1)||'$sym'||chr(2)"
    val wrapped = "list_aggregate(list_transform(string_split(w, '')," +
      " c -> chr(1)||c||chr(2)), 'string_agg', '')"
    val folded = merges.foldLeft(wrapped) { case (acc, (a, b)) =>
      s"REPLACE($acc, ${wrap(a)}||${wrap(b)}, ${wrap(a + b)})"
    }
    s"""WITH words AS (
       | SELECT doc_id, w, i FROM (
       |  SELECT doc_id,
       |   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w,
       |   generate_subscripts(string_split_regex(trim(lower(text)), '\\s+'), 1) AS i
       |  FROM documents WHERE trim(text) <> '')
       | WHERE w <> ''),
       |enc0 AS (SELECT doc_id, i, $folded AS s FROM words),
       |enc AS (
       | SELECT doc_id, i,
       |  string_split(substr(s, 2, len(s) - 2), chr(2)||chr(1)) AS tk
       | FROM enc0),
       |toks AS (
       | SELECT doc_id, i, unnest(tk) AS t, generate_subscripts(tk, 1) AS j
       | FROM enc),
       |ord AS (
       | SELECT doc_id, t, ROW_NUMBER() OVER (
       |   PARTITION BY doc_id ORDER BY i, j) AS r
       | FROM toks)
       |SELECT d.doc_id,
       | COALESCE(c.n, 0) AS n_subwords,
       | COALESCE(h.head10, '') AS head10
       |FROM documents d
       | LEFT JOIN (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
       |            FROM ord GROUP BY 1) c ON c.doc_id = d.doc_id
       | LEFT JOIN (SELECT doc_id, string_agg(t, ' ' ORDER BY r) AS head10
       |            FROM ord WHERE r <= 10 GROUP BY doc_id) h
       |   ON h.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  private[graft] def pqTopkOracle(m: Int = 8, dsub: Int = 8, cbSize: Int = 16,
      rerank: Int = 40, k: Int = 10, iters: Int = 0): String = {
    // optional Lloyd chain: assign (argmin over cb{it-1}) -> per-dim
    // decimal-exact mean -> cb$it, empty (sub, j) cells carried forward —
    // mirrors Similarity.trainedPqCodebook round for round
    val trainCtes = (1 to iters).map { it =>
      val prev = s"cb${it - 1}"
      s""" a$it AS (
         |  SELECT corpus_id, sub, sv, j FROM (
         |   SELECT c.corpus_id, c.sub, c.sv, cb.j, ROW_NUMBER() OVER (
         |     PARTITION BY c.corpus_id, c.sub
         |     ORDER BY ${l2sqSql("c.sv", "cb.cvec")} ASC, cb.j ASC) AS rn
         |   FROM csub c JOIN $prev cb ON cb.sub = c.sub) WHERE rn = 1),
         | s$it AS (
         |  SELECT a.sub, a.j, r.i,
         |   CAST(SUM(CAST(round(a.sv[r.i] * 1e9) AS BIGINT)) AS DOUBLE)
         |     / COUNT(a.sv[r.i]) / 1e9 AS mv
         |  FROM a$it a CROSS JOIN range(1, ${dsub + 1}) r(i)
         |  GROUP BY a.sub, a.j, r.i
         |  HAVING COUNT(a.sv[r.i]) > 0),
         | cb$it AS (
         |  SELECT j, sub, list(mv ORDER BY i) AS cvec FROM s$it GROUP BY j, sub
         |  UNION ALL
         |  SELECT p.j, p.sub, p.cvec FROM $prev p
         |  WHERE NOT EXISTS (
         |   SELECT 1 FROM s$it s WHERE s.sub = p.sub AND s.j = p.j)),""".stripMargin
    }.mkString("\n")
    val cbFin = s"cb$iters"
    s"""WITH pref AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |  ORDER BY vec_id LIMIT $cbSize),
       | jmap AS (
       |  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j
       |  FROM pref),
       | cb0 AS (
       |  SELECT jm.j, t.i AS sub, list_slice(p.v, t.i * $dsub + 1, t.i * $dsub + $dsub) AS cvec
       |  FROM pref p JOIN jmap jm USING (vec_id)
       |  CROSS JOIN (SELECT unnest(range(0, $m)) AS i) t
       |  WHERE p.v IS NOT NULL),
       | csub AS (
       |  SELECT e.vec_id AS corpus_id, t.i AS sub,
       |   list_slice(e.v, t.i * $dsub + 1, t.i * $dsub + $dsub) AS sv
       |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |        WHERE embedding IS NOT NULL) e
       |  CROSS JOIN (SELECT unnest(range(0, $m)) AS i) t),
       |$trainCtes
       | codes AS (
       |  SELECT corpus_id, sub, j FROM (
       |   SELECT c.corpus_id, c.sub, cb.j, ROW_NUMBER() OVER (
       |     PARTITION BY c.corpus_id, c.sub
       |     ORDER BY ${l2sqSql("c.sv", "cb.cvec")} ASC, cb.j ASC) AS rn
       |   FROM csub c JOIN $cbFin cb ON cb.sub = c.sub) WHERE rn = 1),
       | qsub AS (
       |  SELECT q.vec_id AS query_id, t.i AS sub,
       |   list_slice(q.v, t.i * $dsub + 1, t.i * $dsub + $dsub) AS qsv
       |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |        WHERE vec_id < 5 AND embedding IS NOT NULL) q
       |  CROSS JOIN (SELECT unnest(range(0, $m)) AS i) t),
       | qlut AS (
       |  SELECT qs.query_id, qs.sub, cb.j,
       |   CAST(ROUND((${l2sqSql("qs.qsv", "cb.cvec")}) * 1000000000.0) AS BIGINT) AS pd
       |  FROM qsub qs JOIN $cbFin cb ON cb.sub = qs.sub),
       | approx AS (
       |  SELECT ql.query_id, co.corpus_id,
       |   CASE WHEN COUNT(*) = COUNT(ql.pd) THEN SUM(ql.pd) END AS adist
       |  FROM codes co JOIN qlut ql ON ql.sub = co.sub AND ql.j = co.j
       |  WHERE co.corpus_id <> ql.query_id
       |  GROUP BY 1, 2),
       | cands AS (
       |  SELECT query_id, corpus_id FROM (
       |   SELECT query_id, corpus_id, ROW_NUMBER() OVER (
       |     PARTITION BY query_id ORDER BY adist ASC, corpus_id ASC) AS rn
       |   FROM approx) WHERE rn <= $rerank),
       | exact AS (
       |  SELECT ca.query_id, ca.corpus_id,
       |   ${cosineSql("q.qv", "e.cv")} AS cosine
       |  FROM cands ca
       |   JOIN (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings) e
       |     ON e.vec_id = ca.corpus_id
       |   JOIN (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |         FROM embeddings WHERE vec_id < 5) q
       |     ON q.query_id = ca.query_id)
       |SELECT query_id, corpus_id, ROUND(cosine, 6) AS cosine, rank
       |FROM (
       | SELECT query_id, corpus_id, cosine, ROW_NUMBER() OVER (
       |   PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
       | FROM exact)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Replays the composed IVF-PQ pipeline: prefix coarse cells + prefix
    * sub-codebooks, corpus cell assignment and PQ encode, query probes,
    * nano ADC restricted to probed cells, exact cosine rerank.
    */
  private[graft] def ivfPqTopkOracle(nCells: Int = 16, nProbe: Int = 4, m: Int = 8,
      dsub: Int = 8, cbSize: Int = 16, rerank: Int = 40, k: Int = 10): String =
    s"""WITH pref AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |  ORDER BY vec_id LIMIT $cbSize),
       | jmap AS (
       |  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j
       |  FROM pref),
       | cb AS (
       |  SELECT jm.j, t.i AS sub, list_slice(p.v, t.i * $dsub + 1, t.i * $dsub + $dsub) AS cvec
       |  FROM pref p JOIN jmap jm USING (vec_id)
       |  CROSS JOIN (SELECT unnest(range(0, $m)) AS i) t
       |  WHERE p.v IS NOT NULL),
       | cents AS (
       |  SELECT vec_id AS cent_id, embedding::DOUBLE[] AS centv
       |  FROM embeddings ORDER BY vec_id LIMIT $nCells),
       | corpus AS (
       |  SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv FROM embeddings
       |  WHERE embedding IS NOT NULL),
       | cassign AS (
       |  SELECT corpus_id, cell FROM (
       |   SELECT c.corpus_id, ct.cent_id AS cell, ROW_NUMBER() OVER (
       |     PARTITION BY c.corpus_id
       |     ORDER BY ${distSql("c.cv", "ct.centv")} ASC, ct.cent_id ASC) AS rn
       |   FROM corpus c CROSS JOIN cents ct) WHERE rn = 1),
       | csub AS (
       |  SELECT c.corpus_id, t.i AS sub,
       |   list_slice(c.cv, t.i * $dsub + 1, t.i * $dsub + $dsub) AS sv
       |  FROM corpus c
       |  CROSS JOIN (SELECT unnest(range(0, $m)) AS i) t),
       | codes AS (
       |  SELECT corpus_id, sub, j FROM (
       |   SELECT c.corpus_id, c.sub, cb.j, ROW_NUMBER() OVER (
       |     PARTITION BY c.corpus_id, c.sub
       |     ORDER BY ${l2sqSql("c.sv", "cb.cvec")} ASC, cb.j ASC) AS rn
       |   FROM csub c JOIN cb ON cb.sub = c.sub) WHERE rn = 1),
       | q AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
       |  WHERE vec_id < 5 AND embedding IS NOT NULL),
       | qprobe AS (
       |  SELECT query_id, cell FROM (
       |   SELECT q.query_id, ct.cent_id AS cell, ROW_NUMBER() OVER (
       |     PARTITION BY q.query_id
       |     ORDER BY ${distSql("q.qv", "ct.centv")} ASC, ct.cent_id ASC) AS rn
       |   FROM q CROSS JOIN cents ct) WHERE rn <= $nProbe),
       | qsub AS (
       |  SELECT q.query_id, t.i AS sub,
       |   list_slice(q.qv, t.i * $dsub + 1, t.i * $dsub + $dsub) AS qsv
       |  FROM q CROSS JOIN (SELECT unnest(range(0, $m)) AS i) t),
       | qlut AS (
       |  SELECT qs.query_id, qs.sub, cb.j,
       |   CAST(ROUND((${l2sqSql("qs.qsv", "cb.cvec")}) * 1000000000.0) AS BIGINT) AS pd
       |  FROM qsub qs JOIN cb ON cb.sub = qs.sub),
       | approx AS (
       |  SELECT ql.query_id, co.corpus_id,
       |   CASE WHEN COUNT(*) = COUNT(ql.pd) THEN SUM(ql.pd) END AS adist
       |  FROM codes co
       |   JOIN cassign ca ON ca.corpus_id = co.corpus_id
       |   JOIN qprobe qp ON qp.cell = ca.cell
       |   JOIN qlut ql ON ql.sub = co.sub AND ql.j = co.j
       |     AND ql.query_id = qp.query_id
       |  WHERE co.corpus_id <> qp.query_id
       |  GROUP BY 1, 2),
       | cands AS (
       |  SELECT query_id, corpus_id FROM (
       |   SELECT query_id, corpus_id, ROW_NUMBER() OVER (
       |     PARTITION BY query_id ORDER BY adist ASC, corpus_id ASC) AS rn
       |   FROM approx) WHERE rn <= $rerank),
       | exact AS (
       |  SELECT ca.query_id, ca.corpus_id,
       |   ${cosineSql("q.qv", "e.cv")} AS cosine
       |  FROM cands ca
       |   JOIN (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings) e
       |     ON e.vec_id = ca.corpus_id
       |   JOIN (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |         FROM embeddings WHERE vec_id < 5) q
       |     ON q.query_id = ca.query_id)
       |SELECT query_id, corpus_id, ROUND(cosine, 6) AS cosine, rank
       |FROM (
       | SELECT query_id, corpus_id, cosine, ROW_NUMBER() OVER (
       |   PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
       | FROM exact)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  private[graft] def lshTopkOracle: String = {
    val bucketC = lshBucketSql("cv", 4, 64)
    val bucketQ = lshBucketSql("qv", 4, 64)
    s"""WITH c AS (
       |  SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv FROM embeddings),
       | cb AS (SELECT corpus_id, cv, $bucketC AS bucket FROM c),
       | q AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |  FROM embeddings WHERE vec_id < 5),
       | qb AS (SELECT query_id, qv, $bucketQ AS qbucket FROM q),
       | qp AS (
       |  SELECT query_id, qv, xor(qbucket, f.f) AS bucket
       |  FROM qb, (SELECT unnest([0, 1, 2]) AS f) f),
       | scored AS (
       |  SELECT qp.query_id, cb.corpus_id,
       |   ${cosineSql("qp.qv", "cb.cv")} AS cosine
       |  FROM cb JOIN qp ON cb.bucket = qp.bucket
       |  WHERE cb.corpus_id <> qp.query_id)
       |SELECT query_id, corpus_id, ROUND(cosine, 6) AS cosine, rank
       |FROM (
       |  SELECT query_id, corpus_id, cosine,
       |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  private[graft] def embeddingNearDupOracle: String = {
    // two bands = two seeded bucket tables; candidate = collision in ANY
    // band, verified once (DISTINCT before the cosine join), mirroring
    // Dedup.embeddingNearDups(bits = 8, bands = 2)
    val bucket0 = lshBucketSql("v", 8, 64, seed = 7)
    val bucket1 = lshBucketSql("v", 8, 64, seed = 8)
    s"""WITH e AS (
       |  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       | eb AS (
       |  SELECT id, 0 AS band, $bucket0 AS bucket FROM e
       |  UNION ALL
       |  SELECT id, 1 AS band, $bucket1 AS bucket FROM e),
       | cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM eb a JOIN eb b ON a.band = b.band AND a.bucket = b.bucket
       |   AND a.id < b.id),
       | pairs AS (
       |  SELECT id_a, id_b,
       |   ${cosineSql("x.v", "y.v")} AS cosine
       |  FROM cand JOIN e x ON x.id = cand.id_a JOIN e y ON y.id = cand.id_b)
       |SELECT id_a, id_b, ROUND(cosine, 6) AS cosine
       |FROM pairs WHERE cosine >= 0.2 ORDER BY id_a, id_b""".stripMargin
  }

  private[graft] def textLangSummaryOracle: String = {
    // reuse the profile as a subquery
    s"""WITH profile AS (${textProfileOracle.replace("ORDER BY doc_id", "")})
       |SELECT lang_pred, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       | CAST(SUM(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_quality
       |FROM profile GROUP BY lang_pred ORDER BY lang_pred""".stripMargin
  }

  /** Cohen's kappa between the declared `lang` tag and the profile
    * chain's `lang_pred`: exact integer agreement and marginal-product
    * counts; the double divisions (po, pe, kappa) mirror the engine's
    * op order exactly, so even the floats replay bit-for-bit.
    */
  private[graft] def labelAgreementOracle: String =
    s"""WITH profile AS (${textProfileOracle.replace("ORDER BY doc_id", "")}),
       |pairs AS (
       | SELECT COALESCE(d.lang, '~') AS a, p.lang_pred AS b
       | FROM documents d JOIN profile p USING (doc_id)),
       |tot AS (
       | SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
       |  CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
       | FROM pairs),
       |ra AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS na FROM pairs GROUP BY a),
       |cb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nb FROM pairs GROUP BY b),
       |num AS (
       | SELECT CAST(COALESCE(SUM(na * nb), 0) AS BIGINT) AS pe_num
       | FROM ra JOIN cb ON ra.a = cb.b)
       |SELECT t.n_total, t.n_agree,
       | CAST(t.n_agree AS DOUBLE) / t.n_total AS po,
       | CAST(n.pe_num AS DOUBLE) / t.n_total / t.n_total AS pe,
       | ((CAST(t.n_agree AS DOUBLE) / t.n_total)
       |   - (CAST(n.pe_num AS DOUBLE) / t.n_total / t.n_total))
       |  / (1.0 - (CAST(n.pe_num AS DOUBLE) / t.n_total / t.n_total)) AS kappa
       |FROM tot t CROSS JOIN num n""".stripMargin
}
