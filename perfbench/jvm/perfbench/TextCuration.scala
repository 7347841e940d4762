package perfbench

import java.io.{File, PrintWriter}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Packing, Sharding, TextAnalysis}

/** A whole curation run as one job, from documents to written shards:
  * non-empty -> quality gate -> exact dedup -> fuzzy dedup -> duplicated
  * passage filter -> decontamination against a held-out slice -> sequence
  * packing -> sharded parquet export.
  */
final class TextCuration(data: String, out: String, warmups: Int) extends Workload {
  /** job_s is the median of three jobs; a traced run times one untraced and one traced job. */
  def enough(ops: Seq[Op], traced: Boolean): Boolean = ops.size >= (if (traced) 2 else 3)
  // the text_curation_funnel gate parameterization, so its oracle applies
  private def gate(df: DataFrame) = TextAnalysis.qualityGateMapSide(df, "text",
    minTokens = 30, maxTokens = 80, maxPunctRatio = 0.2,
    minStopwordRatio = 0.05, maxDupLineFrac = 0.3, maxTopBigramFrac = 0.05)
  private val passageK = 8
  private val maxDupPassageShare = 0.5
  private val decontamK = 8
  private val seqLen = 2048
  private val shards = 8

  private final case class Stages(nonEmpty: DataFrame, gated: DataFrame,
      exact: DataFrame)

  private def job(spark: SparkSession, t: Tracer, dir: String, dst: String): Stages = {
    // A frame that more than one later step reads is pinned once, the way
    // the library pins its own multi-consumer frames; the rest of the chain
    // stays fused. (Traced, every layer's output is pinned already.)
    def shared(df: DataFrame) = if (t.enabled) df else df.localCheckpoint(eager = true)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val heldout = spark.read.parquet(s"$dir/heldout.parquet")
    val nonEmpty = docs.where(col("text").isNotNull && trim(col("text")) =!= "")
    val gated = t.lazyCall("ops.gate")(
      gate(nonEmpty).where(col("keep"))
        .select("doc_id", "text", "source", "n_tokens"))(t.pin)
    val exact = t.lazyCall("ops.exact")(
      Dedup.exactSurvivors(gated, "text", "doc_id"))(t.pin)
    val fuzzy = shared(t.lazyCall("ops.fuzzy")(
      Dedup.fuzzyDedup(exact, "text", "doc_id"))(t.pin))
    val kept = shared(t.lazyCall("ops.passages") {
      val dupTokens = Dedup.duplicatedPassages(fuzzy, "text", "doc_id", k = passageK)
        .groupBy(col("id").as("doc_id")).agg(sum("span_tokens").as("dup_tokens"))
      fuzzy.join(dupTokens, Seq("doc_id"), "left")
        .where(coalesce(col("dup_tokens"), lit(0L)) <= col("n_tokens") * maxDupPassageShare)
        .drop("dup_tokens")
    }(t.pin))
    val clean = shared(t.lazyCall("ops.decontam") {
      val flags = TextAnalysis.decontaminate(kept, heldout, "text", "doc_id", decontamK)
      kept.join(flags.where(col("is_contaminated") === 0).select("doc_id"),
        Seq("doc_id"), "left_semi")
    }(t.pin))
    // packing runs three actions over its input: quantiles, totals, offsets
    val packed = t.lazyCall("ops.pack")(
      Packing.packSequences(clean, "doc_id", "n_tokens", seqLen))(t.pin)
    t.call("ops.shard_write")(Sharding.writeSharded(packed, "doc_id", shards, dst))
    Stages(nonEmpty, gated, exact)
  }

  private var lastOut = ""

  def setup(spark: SparkSession, t: Tracer): Unit = {
    val pw = new PrintWriter(s"$data/funnel_oracle.sql")
    pw.print(graft.SparkEntry.oracleSql("text_curation_funnel"))
    pw.close()
    (0 until warmups).foreach { i =>
      job(spark, t, data, s"$out/warmup-$i")
      Main.releasePins(spark)
    }
  }

  /** Each job writes its own shard directory; run.py checks every one
    * (id set, packing invariants) after the run. The first job also
    * reports its stage counts for the funnel twin; later jobs must then
    * write the identical id set.
    */
  def run(spark: SparkSession, t: Tracer, op: Int): Op = {
    lastOut = s"$out/job-$op"
    val (st, wall, cpu, gc) = Clock.timed(
      t.operation(op, "job")(job(spark, t, data, lastOut)))
    t.enabled = false
    val counts = if (op > 0) Map.empty[String, Any] else Map(
      "n_nonempty" -> st.nonEmpty.count(), "n_gate" -> st.gated.count(),
      "n_exact" -> st.exact.count())
    val files = Main.dataFiles(new File(lastOut))
    Main.releasePins(spark)
    Op("job", wall, cpu, gc, ok = true, counts ++ Map("out_dir" -> lastOut,
      "out_bytes" -> files.map(_.length).sum, "out_files" -> files.size))
  }

  override def traceExtras(spark: SparkSession, t: Tracer): Map[String, Any] = {
    // useful pairs per attempted pair of the fuzzy stage, from the public
    // report over the same input the job's fuzzy call sees
    val docs = spark.read.parquet(s"$data/documents.parquet")
    val nonEmpty = docs.where(col("text").isNotNull && trim(col("text")) =!= "")
    val exact = Dedup.exactSurvivors(gate(nonEmpty).where(col("keep")), "text", "doc_id")
    val r = Dedup.fuzzyDedupReport(exact, "text", "doc_id").head()
    val cand = r.getAs[Long]("n_candidate_pairs")
    val ver = r.getAs[Long]("n_verified_pairs")
    Main.releasePins(spark)
    Map("ops.fuzzy.verified_per_candidate" -> (if (cand == 0) 0.0 else ver.toDouble / cand),
      "ops.fuzzy.candidate_pairs" -> cand, "ops.fuzzy.verified_pairs" -> ver)
  }

  override def summary(spark: SparkSession): Map[String, Any] = Map(
    "in_bytes" -> new File(s"$data/documents.parquet").length(),
    "out_bytes" -> Main.dataFiles(new File(lastOut)).map(_.length).sum)
}
