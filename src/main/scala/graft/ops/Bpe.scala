package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) tokenizer training — the classic
  * subword-vocabulary construction (public algorithm: Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units"): start
  * from characters, repeatedly merge the corpus's most frequent adjacent
  * symbol pair.
  *
  * Spark-first shape: training runs over the DISTINCT word vocabulary with
  * corpus frequencies (the standard trick — corpus size drops out after the
  * first word count, so a 100 TB corpus trains from a vocabulary table that
  * is millions of rows, not trillions). Each round is one map-side pair
  * explode + one hash aggregate + a 1-row argmax collect (the merge
  * decision is inherently a driver-loop control point — it is k rounds of
  * O(vocab) work, not an unbounded iteration); the symbol re-write is a
  * map-side fold. The evolving vocabulary is localCheckpoint'ed every few
  * rounds so plan lineage stays flat ([[Dedup.clusterNearDups]]'s
  * discipline for iterative operators).
  */
object Bpe {

  /** Word -> weighted adjacent symbol-pair stats for ONE round, over a
    * (symbols array, cnt) vocabulary. Pure map + one aggregate.
    */
  def pairStats(vocab: DataFrame): DataFrame = {
    val n = size(col("sym"))
    val idx = when(n >= 2, sequence(lit(1), n - 1))
      .otherwise(array().cast("array<int>"))
    vocab
      .select(col("cnt"), explode(transform(idx,
        i => struct(element_at(col("sym"), i).as("a"),
          element_at(col("sym"), i + 1).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("cnt")).as("weight"))
  }

  /** Replace every non-overlapping left-to-right occurrence of the
    * adjacent pair (a, b) in a symbol array with the merged symbol a+b —
    * the BPE re-write step, as the native LINEAR
    * [[graft.plans.BpeMerge]] expression (map-side, codegen'd).
    *
    * HISTORY: this was an `aggregate()` fold whose struct accumulator
    * Catalyst copies on EVERY element step — O(symbols^2) per doc per
    * merge. Invisible through sf0.1; the sf1 scale probe found
    * bpe_encode grinding 24 cores on it. The native expression is the
    * same left-to-right skip-flag semantics (OpsSpec keeps the fold as
    * the bit-parity reference) in one linear pass.
    */
  def mergePair(sym: Column, a: String, b: String): Column =
    graft.plans.BpeMerge(sym, a, b)

  /** Character-split seed vocabulary from a corpus: distinct words with
    * frequencies, symbols = characters. One corpus pass; everything after
    * runs on the vocabulary table.
    */
  def seedVocab(docs: DataFrame, textCol: String = "text"): DataFrame =
    graft.core.Graft.spread(docs)
      .select(explode(graft.functions.Text.tokens(col(textCol))).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(col("word"), col("cnt"), split(col("word"), "").as("sym"))

  /** Learn `nMerges` BPE merges. Deterministic argmax per round: weight
    * desc, then (a, b) ascending — ties resolve identically on any
    * cluster. Returns the ordered merge list and the final symbolized
    * vocabulary.
    */
  def learnBpe(vocab0: DataFrame, nMerges: Int): (Seq[(String, String)], DataFrame) = {
    var vocab = vocab0.localCheckpoint(true)
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    while (round < nMerges) {
      val top = pairStats(vocab)
        .orderBy(col("weight").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) round = nMerges // no pairs left anywhere
      else {
        val (a, b) = (top.head.getString(0), top.head.getString(1))
        merges += ((a, b))
        vocab = vocab.withColumn("sym", mergePair(col("sym"), a, b))
        round += 1
        // flat lineage: each round otherwise nests one more projection
        if (round % 3 == 0 || round == nMerges)
          vocab = vocab.localCheckpoint(true)
      }
    }
    (merges.result(), vocab)
  }

  /** Word-boundary sentinel for [[encodeDocs]]: merges are over real
    * symbols, so the NUL marker between words is inert and never merges
    * across a word boundary. */
  private val Boundary = "\u0000"

  /** The inference half of BPE: tokenize a text column with a TRAINED
    * merge list (the model artifact). The whole document becomes ONE
    * symbol array (chars, with an inert boundary marker between words),
    * and each merge is applied as its OWN projection — k merges = k
    * map-side rewrite passes over the row, linear in document length,
    * no UDF, no shuffle, and no exponential lambda re-evaluation (each
    * step's result materializes per row before the next reads it).
    * Output: (idCol, tk) with `tk` the subword array in word order;
    * null/empty text -> empty array.
    */
  def encodeDocs(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    // tokens() can yield an empty word when text leads with non-space
    // whitespace (trim strips spaces only) — drop them like every other
    // token consumer does
    val words = filter(graft.functions.Text.tokens(col(textCol)),
      w => w =!= "")
    val sym0 = flatten(transform(words,
      w => concat(split(w, ""), array(lit(Boundary)))))
    var out = graft.core.Graft.spread(df)
      .select(col(idCol), sym0.as("__sym"))
    merges.foreach { case (a, b) =>
      out = out.select(col(idCol), mergePair(col("__sym"), a, b).as("__sym"))
    }
    out.select(col(idCol),
      filter(col("__sym"), s => s =!= Boundary).as("tk"))
  }
}
