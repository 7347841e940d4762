package graft.tools

import org.apache.spark.sql.functions._

/** sf-agnostic parity check for [[graft.ops.Similarity.knnJoin]] at
  * scales where the DuckDB ground-truth oracle (a |C|² cosine cross
  * join) is infeasible: the full corpus-vs-corpus join must agree
  * EXACTLY, row for row, with [[graft.ops.Similarity.bruteForceTopK]]
  * restricted to a deterministic sample of query ids — brute force is
  * the operator the oracle has already verified at the smaller SFs.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.tools.KnnParityProbe
  * Exits non-zero on any divergence.
  */
object KnnParityProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val k = 3
    val nBlocks = 16
    val sampleEvery = 97 // deterministic ~1% query sample
    val spark = Probe.session()
    val emb = graft.core.Graft.table(spark, dir, "embeddings")
    val t0 = System.nanoTime()
    val joined = graft.ops.Similarity.knnJoin(emb, emb, k, nBlocks)
      .where(pmod(col("query_id"), lit(sampleEvery)) === 0)
      .orderBy("query_id", "rank")
      .collect().map(_.toString)
    val tJoin = (System.nanoTime() - t0) / 1e9
    val sampleQ = emb.where(pmod(col("vec_id"), lit(sampleEvery)) === 0)
    val t1 = System.nanoTime()
    val brute = graft.ops.Similarity.bruteForceTopK(emb, sampleQ, k)
      .orderBy("query_id", "rank")
      .collect().map(_.toString)
    val tBrute = (System.nanoTime() - t1) / 1e9
    val ok = joined.nonEmpty && joined.toSeq == brute.toSeq
    println(f"[knn-parity] dir=$dir rows=${joined.length} " +
      f"knnJoin=$tJoin%.1f s brute(sample)=$tBrute%.1f s ok=$ok")
    if (!ok) {
      joined.zipAll(brute, "<missing>", "<missing>")
        .filter { case (a, b) => a != b }.take(5)
        .foreach { case (a, b) => println(s"[knn-parity] DIFF $a != $b") }
      sys.exit(1)
    }
    spark.stop()
  }
}
