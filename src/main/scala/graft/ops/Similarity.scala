package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Vectors

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k. The query side is broadcast
  *    (it is always small); the corpus is streamed map-side and reduced with
  *    a bounded partial top-k aggregate — no corpus-sized shuffle, no global
  *    sort. Baseline and recall oracle.
  *  - [[lshTopK]]: random-hyperplane-bucketed search. Corpus is bucketed
  *    once (map-side projection); each query probes its own bucket plus
  *    `probes-1` nearest Hamming-neighbor buckets. At 100 TB the bucketed
  *    corpus would be written bucket-partitioned so a query touches only
  *    its buckets' files (partition pruning), not the full corpus.
  *
  * All three paths finish with [[TopK.perGroupTopK]]: each map partition
  * folds its scored rows into a k-slot buffer, so only `partitions × Q × k`
  * buffer rows cross the shuffle. The previous window-function finisher
  * (`row_number() OVER (PARTITION BY query_id ...)`) shuffled EVERY scored
  * row — corpus × Q for brute force — into Q reducer partitions and sorted
  * there: the classic few-hot-keys scale-killer at 100 TB, and the measured
  * local hotspot too.
  */
object Similarity {

  /** Binary-quantized ANN: each clean `dim`-dim vector packs to
    * `ceil(dim/32)` sign-bit words (bit set iff the coordinate is >= 0,
    * 32 bits per BIGINT word so no sum ever touches the sign bit), and
    * retrieval ranks by exact Hamming distance `sum of
    * bit_count(xor(word_q, word_c))` — the 1-bit tier below SQ8/PQ in
    * the quantization ladder (Indyk-Motwani sign-random-projection LSH
    * degenerates to this for identity projections). Everything is exact
    * BIGINT arithmetic: pack, xor, popcount, rank — no float anywhere,
    * so the SQL replay is bit-trivial. Degenerate vectors (null, ragged,
    * null element) drop at index build on both sides; a NaN ELEMENT keeps
    * its vector but never sets its bit (Spark orders NaN greatest, so a
    * bare `>= 0` would set it — the explicit `!isnan` guard matches the
    * oracle's `x >= 0 AND NOT isnan(x)`).
    *
    * Output: `(query_id, corpus_id, hamming, rank)`, rank by hamming
    * ASC with corpus-id tie-break, self-pairs excluded.
    *
    * Shape at scale: the pack is one explode + hash aggregate per side
    * (index-build cost, storable); scoring joins the tiny query index by
    * broadcast and finishes through the bounded [[TopK.perGroupTopK]] —
    * the same map-side + bounded-merge shape as [[bruteForceTopK]], at
    * 1/64th the bytes per vector.
    */
  def binaryHammingTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      dim: Int = 64): DataFrame = {
    val nWords = (dim + 31) / 32
    def pack(df: DataFrame, idOut: String): DataFrame = {
      val raw = col("embedding")
      val words = (0 until nWords).map { w =>
        sum(when(col("pos") >= w * 32 && col("pos") < (w + 1) * 32 &&
          col("col") >= 0 && !isnan(col("col")),
          expr(s"shiftleft(1L, CAST(pos % 32 AS INT))")).otherwise(0L))
          .as(s"w$w")
      }
      df.where(raw.isNotNull && size(raw) === dim &&
          !exists(raw, x => x.isNull))
        .select(col("vec_id").as(idOut), posexplode(raw))
        .groupBy(idOut).agg(words.head, words.tail: _*)
    }
    val qIdx = pack(queries, "query_id")
    val cIdx = pack(corpus, "corpus_id")
    val ham = (0 until nWords).map(w =>
      expr(s"bit_count(c_w$w ^ q_w$w)").cast("long")).reduce(_ + _)
    val scored = cIdx
      .select(col("corpus_id") +: (0 until nWords).map(w =>
        col(s"w$w").as(s"c_w$w")): _*)
      .crossJoin(broadcast(qIdx.select(col("query_id") +:
        (0 until nWords).map(w => col(s"w$w").as(s"q_w$w")): _*)))
      .where(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"), ham.as("hamming"))
    TopK.perGroupTopK(
        scored.withColumn("__s", -col("hamming").cast("double")),
        Seq("query_id"), "corpus_id", "__s", k)
      .select(col("query_id"), col("corpus_id"),
        (-col("__s")).cast("long").as("hamming"), col("rank"))
  }

  /** Radius query: every (query, corpus) pair with cosine >= `tau` — the
    * threshold complement of top-k retrieval (near-duplicate sweeps and
    * contamination checks want "everything this similar", not a fixed k).
    *
    * Declarative on purpose: the query side broadcasts, scoring is a
    * map-side [[graft.functions.Vectors.cosine]] (DotProduct kernel,
    * zero-norm/null/ragged -> NULL, dropped by the threshold filter), and
    * the only data leaving the scan is the matches themselves — at 100 TB
    * the output is |matches|, never |corpus| x Q. No shuffle at all:
    * broadcast join + filter runs in one whole-stage-codegen'd pass.
    */
  def rangeSearch(corpus: DataFrame, queries: DataFrame,
      tau: Double): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      graft.functions.Vectors.asDouble(col("embedding")).as("qv")))
    corpus.select(col("vec_id").as("corpus_id"),
        graft.functions.Vectors.asDouble(col("embedding")).as("cv"))
      .crossJoin(q)
      .where(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        graft.functions.Vectors.cosine(col("qv"), col("cv")).as("cosine"))
      .where(col("cosine") >= tau)
  }

  /** Exact cosine top-k for each query vector. `queries` must be small
    * (driver-known ids or a sampled set) — it is collected and broadcast
    * as a primitive matrix.
    *
    * This is a dense-scoring kernel, not a cross join: each map partition
    * streams its corpus rows once, scores them against the broadcast query
    * matrix in tight primitive-array loops (the GEMM-shaped inner loop a
    * columnar engine would also hand to BLAS), and folds into per-query
    * k-slot buffers. Only `partitions × Q` buffer rows leave the kernel;
    * [[TopK.mergeGroupTopK]] merges them. Versus the previous
    * crossJoin(broadcast) + per-row aggregate: no corpus × Q joined-row
    * materialization, no per-pair encoder boxing — ~5-10x on the measured
    * bench, same plan shape at 100 TB (map-side kernel + bounded merge).
    *
    * Scoring arithmetic is BIT-IDENTICAL to the declarative form it
    * replaces (`dot/(norm*norm)` with left-to-right double accumulation,
    * float widened per element — [[graft.plans.DotProduct]] semantics);
    * null/zero-norm/ragged vectors score the NaN sentinel and rank last,
    * exactly like `when(qn > 0 && cn > 0, dot/(qn*cn)).otherwise(null)`
    * under [[TopK.perGroupTopK]]'s coalesce-to-NaN.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val sp = corpus.sparkSession
    import sp.implicits._

    val qRows = queries
      .select(col("vec_id").cast("long"), col("embedding")).collect()
    val nq = qRows.length
    val qIds = new Array[Long](nq)
    val qVecs = new Array[Array[Double]](nq)
    val qNorms = new Array[Double](nq) // NaN = unusable (null vec/element)
    var i = 0
    while (i < nq) {
      qIds(i) = qRows(i).getLong(0)
      val v = rowVec(qRows(i), 1)
      qVecs(i) = v
      qNorms(i) = if (v == null) Double.NaN else norm2(v)
      i += 1
    }
    val bc = sp.sparkContext.broadcast((qIds, qVecs, qNorms))

    val packed = graft.core.Graft.spread(corpus)
      .select(col("vec_id").cast("long"), col("embedding"))
      .mapPartitions { rows =>
        val (ids, vecs, norms) = bc.value
        val n = ids.length
        if (n == 0) Iterator.empty
        else {
          val bufS = Array.fill(n)(new Array[Double](k))
          val bufI = Array.fill(n)(new Array[Long](k))
          val cnt = new Array[Int](n)
          rows.foreach { r =>
            val cid = r.getLong(0)
            val cv = rowVec(r, 1)
            val cn = if (cv == null) Double.NaN else norm2(cv)
            var qi = 0
            while (qi < n) {
              if (cid != ids(qi)) {
                val qv = vecs(qi); val qn = norms(qi)
                val s =
                  if (!(qn > 0) || !(cn > 0) || qv.length != cv.length)
                    Double.NaN
                  else {
                    var d = 0.0; var j = 0
                    while (j < qv.length) { d += qv(j) * cv(j); j += 1 }
                    d / (qn * cn)
                  }
                insertBounded(bufS(qi), bufI(qi), cnt, qi, s, cid, k)
              }
              qi += 1
            }
          }
          Iterator.range(0, n).filter(cnt(_) > 0).map { qi =>
            (ids(qi), bufS(qi).take(cnt(qi)), bufI(qi).take(cnt(qi)))
          }
        }
      }.toDF("query_id", "scores", "ids")
    TopK.mergeGroupTopK(packed, Seq("query_id"), "scores", "ids",
      "corpus_id", "cosine", k)
  }

  /** Row's array column widened to primitive doubles; null array or null
    * element -> null (the pair then scores the NaN sentinel, matching the
    * declarative null semantics).
    */
  private def rowVec(r: org.apache.spark.sql.Row, idx: Int): Array[Double] = {
    if (r.isNullAt(idx)) return null
    val s = r.getSeq[Any](idx)
    val out = new Array[Double](s.length)
    var j = 0
    val it = s.iterator
    while (it.hasNext) {
      val v = it.next()
      if (v == null) return null
      out(j) = v.asInstanceOf[Number].doubleValue()
      j += 1
    }
    out
  }

  /** sqrt of the left-to-right self-dot — [[Vectors.norm2]] bit-for-bit. */
  private def norm2(v: Array[Double]): Double = {
    var s = 0.0; var j = 0
    while (j < v.length) { s += v(j) * v(j); j += 1 }
    math.sqrt(s)
  }

  /** In-place bounded insert, [[TopKAgg]]'s ordering contract: score desc,
    * NaN last, ties by id asc.
    */
  private def insertBounded(sc: Array[Double], id: Array[Long],
      cnt: Array[Int], qi: Int, s: Double, cid: Long, k: Int): Unit = {
    @inline def before(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
      val n1 = s1.isNaN; val n2 = s2.isNaN
      if (n1 != n2) n2
      else if (!n1 && s1 != s2) s1 > s2
      else i1 < i2
    }
    val n = cnt(qi)
    if (n == k && !before(s, cid, sc(k - 1), id(k - 1))) return
    val last = if (n == k) k - 1 else n // full buffer: last slot falls off
    var p = last
    while (p > 0 && before(s, cid, sc(p - 1), id(p - 1))) p -= 1
    System.arraycopy(sc, p, sc, p + 1, last - p)
    System.arraycopy(id, p, id, p + 1, last - p)
    sc(p) = s; id(p) = cid
    if (n < k) cnt(qi) = n + 1
  }

  /** Distributed EXACT kNN join — both sides are DataFrames and nothing
    * is collected to the driver, removing [[bruteForceTopK]]'s
    * small-query-side contract. This is the corpus-vs-corpus form: the
    * kNN-graph builder whose edges feed graph-based dedup (connected
    * components / mutual-kNN pruning) when the "query" side is the whole
    * corpus.
    *
    * Shape: corpus rows hash into `nBlocks` disjoint blocks
    * (`pmod(vec_id, B)` — the blocking only schedules work; any
    * deterministic assignment yields the same exact result). The query
    * side replicates to every block via a cross join with the broadcast
    * B-row block frame. ONE cogroup on the block id then (a) loads the
    * block's corpus vectors into a primitive matrix, (b) streams the
    * replicated queries past it one at a time — identical scoring loop,
    * ordering and NaN sentinel discipline as [[bruteForceTopK]]
    * ([[insertBounded]]: score desc, NaN last, ties id asc; degenerate
    * vectors score NaN and rank last; self-pairs excluded) — emitting
    * one k-bounded buffer per (block, query); [[TopK.mergeGroupTopK]]
    * folds the B partial buffers per query into the global top-k.
    *
    * Cost at scale: shuffle volume is |C| + B·|Q| input rows plus
    * B·|Q|·k buffer rows into the merge — the classic block-nested
    * trade. B balances query replication against per-task matrix memory
    * (|C|/B · dim · 8 bytes); with |Q| ≈ |C| the optimum grows as
    * sqrt(|C| · dim · 8 / taskMem). Per-task transient state is one
    * block matrix plus a single in-flight query buffer (the query
    * iterator streams), so a 1000-executor run sizes B to its executor
    * memory and never materializes a pair table.
    *
    * Output contract identical to [[bruteForceTopK]]:
    * (query_id, corpus_id, cosine, rank).
    */
  def knnJoin(corpus: DataFrame, queries: DataFrame, k: Int,
      nBlocks: Int = 16, partitionQueries: Boolean = false): DataFrame = {
    require(nBlocks >= 1, "nBlocks must be >= 1")
    val sp = corpus.sparkSession
    val blockIds = broadcast(sp.range(nBlocks).select(col("id").as("g")))
    // Blocking replicates ONE side to every block and hash-partitions the
    // other — exactness is independent of which (every pair still meets
    // exactly once), so replicate the SMALLER side: the default blocks
    // the corpus and replicates queries (right when |Q| << |C|, the
    // retrieval shape); partitionQueries=true blocks the queries and
    // replicates the corpus (right when |Q| >> |C| — scoring a large
    // batch against a reference set — where replicating queries would
    // put nBlocks·|Q| rows on the wire, and each query's top-k finishes
    // in ONE buffer instead of nBlocks partials).
    val (cB, qB) =
      if (!partitionQueries) (
        graft.core.Graft.spread(corpus)
          .select(pmod(col("vec_id").cast("long"), lit(nBlocks.toLong)).as("g"),
            col("vec_id").cast("long").as("id"), col("embedding")),
        graft.core.Graft.spread(queries)
          .select(col("vec_id").cast("long").as("id"), col("embedding"))
          .crossJoin(blockIds)
          .select(col("g"), col("id"), col("embedding")))
      else (
        graft.core.Graft.spread(corpus)
          .select(col("vec_id").cast("long").as("id"), col("embedding"))
          .crossJoin(blockIds)
          .select(col("g"), col("id"), col("embedding")),
        graft.core.Graft.spread(queries)
          .select(pmod(col("vec_id").cast("long"), lit(nBlocks.toLong)).as("g"),
            col("vec_id").cast("long").as("id"), col("embedding")))
    groupKernelJoin(cB, qB, k)
  }

  /** Shared scoring tail of [[knnJoin]] and [[knnJoinIvf]]: cogroup
    * corpus rows `(g, id, vec)` with query rows `(g, id, vec)` on the
    * group id (a hash block or an IVF cell), load each group's corpus
    * vectors into a primitive matrix ONCE, stream the group's queries
    * past it (identical scoring loop, ordering and NaN discipline as
    * [[bruteForceTopK]]; self-pairs excluded), emit one k-bounded buffer
    * per (group, query), and fold buffers per query with the bounded
    * [[TopK.mergeGroupTopK]]. No per-pair rows ever materialize — the
    * candidate set exists only as the kernel's loop bounds, which is what
    * keeps Σ|group|·|probe| pair work off the wire at 100 TB.
    */
  private def groupKernelJoin(cB: DataFrame, qB: DataFrame,
      k: Int): DataFrame = {
    val sp = cB.sparkSession
    import sp.implicits._
    val packed = cB.groupByKey(_.getLong(0))
      .cogroup(qB.groupByKey(_.getLong(0))) { (_, cRows, qRows) =>
        val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
        val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        val norms = scala.collection.mutable.ArrayBuffer.empty[Double]
        cRows.foreach { r =>
          ids += r.getLong(1)
          val v = rowVec(r, 2)
          vecs += v
          norms += (if (v == null) Double.NaN else norm2(v))
        }
        val n = ids.length
        if (n == 0) Iterator.empty
        else qRows.map { qr => // one query in flight at a time
          val qid = qr.getLong(1)
          val qv = rowVec(qr, 2)
          val qn = if (qv == null) Double.NaN else norm2(qv)
          val bufS = new Array[Double](k)
          val bufI = new Array[Long](k)
          val cnt = new Array[Int](1)
          var ci = 0
          while (ci < n) {
            if (ids(ci) != qid) {
              val cv = vecs(ci); val cn = norms(ci)
              val s =
                if (!(qn > 0) || !(cn > 0) || qv.length != cv.length)
                  Double.NaN
                else {
                  var d = 0.0; var j = 0
                  while (j < qv.length) { d += qv(j) * cv(j); j += 1 }
                  d / (qn * cn)
                }
              insertBounded(bufS, bufI, cnt, 0, s, ids(ci), k)
            }
            ci += 1
          }
          (qid, bufS.take(cnt(0)), bufI.take(cnt(0)))
        }
      }.toDF("query_id", "scores", "ids")
    TopK.mergeGroupTopK(packed, Seq("query_id"), "scores", "ids",
      "corpus_id", "cosine", k)
  }

  /** IVF-style approximate top-k: corpus vectors are assigned to their
    * nearest centroid cell (inverted file); queries probe the `nProbe`
    * nearest cells only.
    *
    * Centroids here are a deterministic prefix sample (lowest ids) rather
    * than k-means-trained — the partitioning/probing machinery (the part
    * that matters at scale) is identical, and determinism keeps it
    * oracle-checkable. At 100 TB the cell id becomes a partition column so
    * a probe touches only its cells' files.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 2): DataFrame = {
    val cents = corpus.orderBy("vec_id").limit(nCells)
      .select(col("vec_id").as("cent_id"), col("embedding").as("centv"))
    ivfProbe(corpus, queries, cents, k, nProbe)
  }

  /** IVF with Lloyd-TRAINED centroids: `iters` rounds of assign +
    * per-dimension mean, from the same deterministic prefix-sample init
    * [[ivfTopK]] uses raw. Every step is exactly reproducible across
    * engines and partitionings:
    *  - fixed iteration count, prefix init, cell = rank of the seed id;
    *  - per-dimension means as DECIMAL-exact sums cast to double then
    *    divided (order-free — a raw SUM(double) would be
    *    partitioning-dependent);
    *  - assignment ties broken by cell index, degenerate vectors (null
    *    distance to every centroid) deterministically land in cell 0;
    *  - cells that lose all members keep their previous centroid.
    * The centroid recompute is a partial+final hash aggregate over
    * (cell, dim) — 2 passes over the corpus per iteration, the standard
    * distributed-k-means cost; centroids themselves (nCells × dim) live
    * on the driver and broadcast back, never shuffled with the data.
    */
  def ivfTopKTrained(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 2, iters: Int = 2): DataFrame = {
    val sp = corpus.sparkSession
    import sp.implicits._
    val cents = trainedCentroids(corpus, nCells, iters)
      .map { case (cell, v) => (cell, Option(v).map(_.toSeq).orNull) }
      .toDF("cent_id", "centv")
    ivfProbe(corpus, queries, cents, k, nProbe)
  }

  /** IVF probe against an ALREADY-TRAINED centroid table
    * `(cent_id, centv)` — the serve half of the train-once/serve-many
    * lifecycle ([[AnnIndex]]): no Lloyd rounds, no corpus passes beyond
    * the probe itself, zero jobs at plan time (the centroid frame stays
    * lazy; PlanShapeSpec asserts it). With centroids loaded from
    * [[AnnIndex.trainAndSaveIvf]]'s output this hash-matches
    * [[ivfTopKTrained]] exactly — parquet round-trips the IEEE doubles
    * bit-for-bit and the probe arithmetic is shared.
    */
  def ivfTopKWithCentroids(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, k: Int, nProbe: Int = 2): DataFrame =
    ivfProbe(corpus, queries,
      centroids.select(col("cent_id"), col("centv")), k, nProbe)

  /** PQ retrieval against an already-trained driver-side codebook (from
    * [[AnnIndex.loadPqCodebook]]) — [[pqTopKTrained]] minus the training
    * passes; bit-identical results for the persisted codebook.
    */
  def pqTopKWithCodebook(corpus: DataFrame, queries: DataFrame,
      codebook: Seq[(Long, Int, Seq[Double])], k: Int, m: Int = 8,
      dsub: Int = 8, codebookSize: Int = 16, rerank: Int = 40): DataFrame =
    pqWithCodebook(corpus, queries, codebook, k, m, dsub, codebookSize,
      rerank)

  /** Lloyd iterations; returns (cell, centroid) with cell = rank of the
    * seed's vec_id in the prefix sample. See [[ivfTopKTrained]] for the
    * determinism contract.
    */
  def trainedCentroids(corpus: DataFrame, nCells: Int,
      iters: Int): Seq[(Int, Array[Double])] = {
    val sp = corpus.sparkSession
    import sp.implicits._
    // A degenerate seed (null vector / null element) yields a NULL
    // centroid: it attracts no members (NULL distance to everything) and
    // is carried forward unchanged — same as the oracle's NULL-list cv.
    var cents: Seq[(Int, Array[Double])] = corpus.orderBy("vec_id")
      .limit(nCells).select(col("embedding")).collect()
      .toSeq.zipWithIndex.map { case (r, i) => (i, rowVec(r, 0)) }
    for (_ <- 0 until iters) {
      val centsDf = cents.map { case (c, v) => (c, Option(v).map(_.toSeq).orNull) }
        .toDF("cent_id", "centv")
      val assigned = nearestCells(
        graft.core.Graft.spread(corpus)
          .select(col("vec_id").as("corpus_id"), col("embedding").as("cv")),
        "corpus_id", "cv", 1, centsDf)
      val dims = assigned
        .select(col("cell"), posexplode(col("cv")))
        .groupBy(col("cell"), col("pos"))
        .agg((sum(round(col("col").cast("double") * 1e9).cast("long"))
          .cast("double") / count(col("col")) / 1e9).as("m"))
        .where(col("m").isNotNull) // all-null dim (count 0): contributes nothing
        .collect()
        .groupBy(_.getLong(0)) // cell rode through TopKAgg's Long id channel
      cents = cents.map { case (cell, old) =>
        dims.get(cell.toLong) match {
          case Some(rows) =>
            // compact, position-sorted — mirrors the oracle's
            // list(m ORDER BY i); dims with no values are skipped, not
            // zero-filled (only possible for an all-degenerate cell)
            (cell, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray)
          case None => (cell, old) // empty cell: keep previous centroid
        }
      }
    }
    cents
  }

  /** Nearest-n cells per vector, fully MAP-SIDE: the (bounded, still
    * lazy) centroid frame folds into one sorted array row, broadcasts,
    * and each vector sorts its nCells (distance, cent_id) structs inline
    * — no explode, no aggregate, no nCells-fold row blowup (the earlier
    * bounded-aggregate form hashed |df|·nCells exploded rows, and before
    * that a row_number window shuffled them; at 128k probe rows the
    * aggregate alone cost more than the twin's whole BLAS pass).
    * Ordering discipline identical to the aggregate it replaces:
    * distance asc (sqrt of the in-order l2 fold, matching DuckDB's
    * list_distance loop), NaN/null distances last, ties cent_id asc —
    * so a fully-degenerate vector still lands in the lowest cent_id.
    */
  /** The nCells x dim centroid table folded to its ONE broadcastable
    * array row. Callers that assign BOTH sides of a join (corpus + query)
    * must build this once and pass the SAME frame to both
    * [[nearestCellsWith]] calls: identical exprIds let ReuseExchange
    * collapse the two broadcast builds into one collect job — fresh
    * frames per side re-run the centroid subplan per side (the
    * alias-renumbering ReuseExchange trap).
    */
  private def centroidArray(cents: DataFrame): DataFrame =
    cents.agg(sort_array(collect_list(struct(
      col("cent_id").cast("long").as("cid"), col("centv")))).as("__cents"))

  private def nearestCells(df: DataFrame, idC: String, vC: String, n: Int,
      cents: DataFrame): DataFrame =
    nearestCellsWith(df, idC, vC, n, centroidArray(cents))

  private def nearestCellsWith(df: DataFrame, idC: String, vC: String,
      n: Int, carr: DataFrame): DataFrame =
    df.crossJoin(broadcast(carr))
      .select(col(idC), col(vC),
        explode(graft.plans.NearestCells(col(vC), col("__cents"), lit(n)))
          .as("cell"))

  /** Shared IVF probe: corpus assigned to 1 cell, queries to `nProbe`
    * cells; candidates are cell-local; bounded top-k finisher.
    */
  /** IVF-partitioned approximate kNN JOIN — [[knnJoin]]'s approximate
    * scale path, completing the pair: the exact join's cost is |C|·|Q|
    * scoring spread over blocks (right when both sides must meet, e.g.
    * the hash-verified dedup graph), while this one bounds pair work to
    * Σ_cell |C_cell|·|Q_cell| by meeting only inside IVF cells. BOTH
    * sides are unbounded DataFrames; nothing collects (zero jobs at
    * build, plan-asserted).
    *
    * Shape: the deterministic prefix-sample centroids ([[ivfTopK]]'s
    * contract — nCells × dim, a bounded broadcast) assign the corpus to
    * its 1 nearest cell and each query to its `nProbe` nearest cells
    * (both map-side via the bounded [[nearestCells]] aggregate); ONE
    * cogroup co-partitions the two sides on the cell id and scores with
    * the shared primitive-matrix kernel ([[groupKernelJoin]] — the same
    * tail [[knnJoin]] uses, so the Σ|cell|·|probe| candidate set exists
    * only as kernel loop bounds and never materializes as joined rows;
    * the earlier row-join form shipped both vectors on every candidate
    * row, ~50× the bytes). Shuffle volume: |C| + nProbe·|Q| rows — never
    * a pair table, never query replication to every block. Recall
    * follows the IVF trade (a true neighbor outside every probed cell is
    * missed); at 100 TB the cell id becomes a partition column so each
    * probe's scan prunes to its cells' files, and skewed cells split by
    * salting the group key with a within-cell hash — the top-k merge is
    * associative.
    */
  def knnJoinIvf(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 2, qSalt: Int = 1): DataFrame = {
    val cents = corpus.orderBy("vec_id").limit(nCells)
      .select(col("vec_id").as("cent_id"), col("embedding").as("centv"))
    knnJoinIvfCells(corpus, queries, cents, k, nProbe, qSalt)
  }

  /** [[knnJoinIvf]] with Lloyd-TRAINED centroids ([[trainedCentroids]]'
    * determinism contract — `iters` exact rounds from the prefix-sample
    * init). Training collects nCells × dim doubles to the driver (bounded
    * index state, never the corpus); the join itself is the shared
    * cell-cogroup kernel.
    */
  def knnJoinIvfTrained(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 2, iters: Int = 2,
      qSalt: Int = 1): DataFrame = {
    val sp = corpus.sparkSession
    import sp.implicits._
    val cents = trainedCentroids(corpus, nCells, iters)
      .map { case (cell, v) => (cell, Option(v).map(_.toSeq).orNull) }
      .toDF("cent_id", "centv")
    knnJoinIvfCells(corpus, queries, cents, k, nProbe, qSalt)
  }

  /** [[knnJoinIvf]] against an ALREADY-TRAINED centroid table
    * `(cent_id, centv)` — the join-shaped serve half of the
    * train-once/serve-many lifecycle ([[AnnIndex]]), completing what
    * [[ivfTopKWithCentroids]] does for the retrieval shape: no Lloyd
    * rounds, no corpus passes at plan time (the centroid frame stays
    * lazy; PlanShapeSpec asserts zero jobs), and with centroids loaded
    * from [[AnnIndex.trainAndSaveIvf]]'s output this hash-matches
    * [[knnJoinIvfTrained]] exactly — parquet round-trips the IEEE
    * doubles bit-for-bit and the assignment/scoring arithmetic is
    * shared.
    */
  def knnJoinIvfWithCentroids(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, k: Int, nProbe: Int = 2,
      qSalt: Int = 1): DataFrame =
    knnJoinIvfCells(corpus, queries,
      centroids.select(col("cent_id"), col("centv")), k, nProbe, qSalt)

  /** Shared tail of the three [[knnJoinIvf]] entry points: assign both
    * sides to cells, optionally salt the query stream, score through the
    * cogroup kernel.
    */
  private def knnJoinIvfCells(corpus: DataFrame, queries: DataFrame,
      cents: DataFrame, k: Int, nProbe: Int, qSalt: Int): DataFrame = {
    require(qSalt >= 1, "qSalt must be >= 1")
    val (cB0, qB0) = ivfSides(corpus, queries, cents, nProbe)
    // qSalt > 1 splits each cell's QUERY stream across qSalt subgroups
    // (query hash picks the salt; the cell's corpus rows replicate to all
    // of them) — pure scheduling, exactness untouched: every query still
    // meets its probed cells' full corpus exactly once. Use when nCells
    // alone under-fills the executor slots or a hot cell skews — the
    // replicated side is the per-cell corpus matrix, the same memory the
    // kernel loads anyway, never the (usually larger) query stream.
    val (cB, qB) =
      if (qSalt == 1) (cB0, qB0)
      else {
        val sp = corpus.sparkSession
        val salts = broadcast(sp.range(qSalt).select(col("id").as("__s")))
        (cB0.crossJoin(salts)
          .select((col("g") * qSalt + col("__s")).as("g"),
            col("id"), col("embedding")),
          qB0.select(
            (col("g") * qSalt + pmod(col("id"), lit(qSalt.toLong))).as("g"),
            col("id"), col("embedding")))
      }
    groupKernelJoin(cB, qB, k)
  }

  /** Cell-assignment halves of [[knnJoinIvf]]: corpus rows to their 1
    * nearest cell, query rows to their `nProbe` nearest — both as
    * `(g, id, embedding)` frames ready for [[groupKernelJoin]].
    */
  private def ivfSides(corpus: DataFrame, queries: DataFrame,
      cents: DataFrame, nProbe: Int): (DataFrame, DataFrame) = {
    val carr = centroidArray(cents) // shared: ONE broadcast build for both sides
    val cB = nearestCellsWith(
      graft.core.Graft.spread(corpus)
        .select(col("vec_id").cast("long").as("corpus_id"),
          col("embedding").as("cv")),
      "corpus_id", "cv", 1, carr)
      .select(col("cell").cast("long").as("g"),
        col("corpus_id").as("id"), col("cv").as("embedding"))
    val qB = nearestCellsWith(
      graft.core.Graft.spread(queries)
        .select(col("vec_id").cast("long").as("query_id"),
          col("embedding").as("qv")),
      "query_id", "qv", nProbe, carr)
      .select(col("cell").cast("long").as("g"),
        col("query_id").as("id"), col("qv").as("embedding"))
    (cB, qB)
  }

  private def ivfProbe(corpus: DataFrame, queries: DataFrame,
      cents: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val carr = centroidArray(cents) // shared: ONE broadcast build for both sides
    val c = nearestCellsWith(
      graft.core.Graft.spread(corpus)
        .select(col("vec_id").as("corpus_id"), col("embedding").as("cv")),
      "corpus_id", "cv", 1, carr)
      .join(corpus.select(col("vec_id").as("corpus_id"),
        Vectors.norm2(col("embedding")).as("cn")), Seq("corpus_id"))
    val q = nearestCellsWith(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      "query_id", "qv", nProbe, carr)
      .join(queries.select(col("vec_id").as("query_id"),
        Vectors.norm2(col("embedding")).as("qn")), Seq("query_id"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .where(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine",
        when(col("qn") > 0 && col("cn") > 0,
          Vectors.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
          .otherwise(lit(null).cast("double")))
    TopK.perGroupTopK(scored, Seq("query_id"), "corpus_id", "cosine", k)
  }

  /** Scalar-quantized (int8) approximate top-k with exact rerank — the
    * memory/bandwidth scale path for dense retrieval. Each corpus vector is
    * encoded ONCE (map-side) as `tinyint` codes `round(v_i/scale)` with
    * `scale = max|v_i| / 127` plus its exact norm: a 4x smaller footprint
    * than float32, which at 100 TB is the difference between a corpus that
    * fits in cluster memory and one that doesn't. Scoring is asymmetric
    * (full-precision query against codes, one `scale` multiply to undo the
    * quantization), candidates = top `rerank` per query by approximate
    * cosine, then ONLY those candidates fetch their full vectors for the
    * exact rerank — corpus-sized reads happen once at encode, never per
    * query. With `rerank >= corpus size` the result equals [[bruteForceTopK]]
    * exactly (asserted in OpsSpec).
    *
    * Every arithmetic step (amax fold, per-element round, in-order code
    * dot, single-multiply dequantize) is bit-reproducible, so the DuckDB
    * oracle replays the ENCODING too, not just the ranking. Degenerate
    * vectors (null / null-element / all-zero / ragged-vs-query) quantize to
    * null codes or a null score and rank last, matching the exact paths.
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
      rerank: Int = 40): DataFrame = {
    // amax via null-skipping greatest fold (starts at 0.0, so empty or
    // all-null vectors yield scale 0 -> null codes)
    val amax = aggregate(Vectors.asDouble(col("cv")), lit(0.0),
      (acc, x) => greatest(acc, abs(x)))
    val enc = graft.core.Graft.spread(corpus)
      .select(col("vec_id").as("corpus_id"), col("embedding").as("cv"),
        Vectors.norm2(col("embedding")).as("cn"))
      .withColumn("scale", amax / 127.0)
      .withColumn("codes", when(col("scale") > 0,
        transform(Vectors.asDouble(col("cv")),
          x => round(x / col("scale")).cast("tinyint"))))
    val q = queries.select(col("vec_id").as("query_id"),
      Vectors.asDouble(col("embedding")).as("qv"),
      Vectors.norm2(col("embedding")).as("qn"))
    val adot = col("scale") * aggregate(
      zip_with(col("codes"), col("qv"), (c, u) => c * u), lit(0.0), _ + _)
    val scored = enc.crossJoin(broadcast(q))
      .where(col("corpus_id") =!= col("query_id"))
      .withColumn("ascore",
        when(col("qn") > 0 && col("cn") > 0, adot / (col("qn") * col("cn")))
          .otherwise(lit(null).cast("double")))
    val cands = TopK.perGroupTopK(scored, Seq("query_id"), "corpus_id",
      "ascore", rerank)
    val exact = cands.select("query_id", "corpus_id")
      .join(corpus.select(col("vec_id").as("corpus_id"),
        col("embedding").as("cv")), Seq("corpus_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"))), Seq("query_id"))
      .withColumn("cosine", Vectors.cosine(col("qv"), col("cv")))
    TopK.perGroupTopK(exact, Seq("query_id"), "corpus_id", "cosine", k)
  }

  /** Product-quantization (PQ) approximate top-k with exact rerank — the
    * next rung past [[sq8TopK]] on the compression ladder: `m` sub-spaces
    * of `dsub` dims, each encoded as the index of its nearest sub-codebook
    * centroid. At m=8, codebookSize=16 a 64-dim float32 vector compresses
    * 64x (8 half-byte codes vs 256 bytes); scoring is asymmetric distance
    * computation (ADC): per query, an m x codebookSize lookup table of
    * partial distances, then each corpus vector's approximate distance is
    * m table lookups summed — no float vector is touched until the exact
    * rerank of the top `rerank` candidates.
    *
    * Codebooks here are the deterministic prefix sample (same contract as
    * [[ivfTopK]] — the encode/ADC machinery is what matters at scale and
    * determinism keeps the WHOLE pipeline oracle-replayable; swap in
    * [[trainedCentroids]]-style Lloyd refinement per sub-space for
    * production recall). Scale shape: encode is corpus x m x codebookSize
    * map-side distance evals against a broadcast codebook; codes shuffle
    * once for the ADC join; candidates are a bounded top-k.
    *
    * Degenerate routes mirror the oracle exactly: a NULL corpus vector is
    * excluded (posexplode skips it / `WHERE v IS NOT NULL`); null-element
    * or ragged sub-vectors get all-null distances and deterministically
    * code to j=0; null query sub-distances make the ADC sum null (the
    * ordered fold is total, never null-skipping), ranking last.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 8,
      dsub: Int = 8, codebookSize: Int = 16, rerank: Int = 40): DataFrame =
    pqWithCodebook(corpus, queries,
      prefixPqCodebook(corpus, m, dsub, codebookSize),
      k, m, dsub, codebookSize, rerank)

  /** [[pqTopK]] with per-sub-space Lloyd-refined codebooks — the
    * production-recall rung: `iters` rounds of assign (nearest
    * sub-centroid, the encode step itself) + update (per-(sub, j, dim)
    * decimal-exact mean, [[trainedCentroids]]'s discipline), seeded from
    * the same deterministic prefix sample so the whole training replays
    * in the oracle. Refined sub-centroids sit at the mass centers of the
    * sub-vector distribution instead of wherever the first
    * `codebookSize` corpus rows happened to fall, so quantization error
    * — and with it ADC ranking error — only decreases; recall >=
    * untrained PQ (asserted in OpsSpec against brute-force truth).
    *
    * Scale shape per round: one broadcast-codebook distance pass over
    * corpus x m x codebookSize (the encode shape), one (sub, j, dim)
    * hash aggregate, and an m x codebookSize x dsub driver collect —
    * centroids are tiny; the corpus never collects.
    */
  def pqTopKTrained(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, dsub: Int = 8, codebookSize: Int = 16, rerank: Int = 40,
      iters: Int = 2): DataFrame =
    pqWithCodebook(corpus, queries,
      trainedPqCodebook(corpus, m, dsub, codebookSize, iters),
      k, m, dsub, codebookSize, rerank)

  /** `transform`-free sub-vector split: array of `m` dsub-dim slices. */
  private def pqSubVecs(v: org.apache.spark.sql.Column, m: Int,
      dsub: Int): org.apache.spark.sql.Column =
    transform(sequence(lit(0), lit(m - 1)),
      i => slice(Vectors.asDouble(v), i * dsub + 1, lit(dsub)))

  /** Driver-side twin of [[pqSubVecs]]'s slice for one sub-space:
    * `slice(asDouble(v), sub*dsub+1, dsub)` — shorter (even empty) when
    * the vector is ragged. Returns `null` when the slice contains a null
    * element: under the null-propagating l2sq a null element nulls EVERY
    * distance of the slice, exactly like a null vector, so the collapse
    * is behavior-preserving (the same equivalence [[trainedPqCodebook]]
    * has always used for seed centroids). Genuine NaN elements stay —
    * they flow through arithmetic as NaN, as in Catalyst.
    */
  private[graft] def subSlice(v: Seq[Any], sub: Int, dsub: Int): Array[Double] = {
    val start = sub * dsub
    if (start >= v.length) Array.emptyDoubleArray
    else {
      val end = math.min(start + dsub, v.length)
      val out = new Array[Double](end - start)
      var i = start
      while (i < end) {
        val x = v(i)
        if (x == null) return null
        out(i - start) = x.asInstanceOf[Number].doubleValue()
        i += 1
      }
      out
    }
  }

  /** Driver-side twin of [[Vectors.l2sq]] over extracted slices, with NaN
    * as the null sentinel (exactly [[TopKAgg]]'s conflation: a null
    * distance and a genuine NaN distance both rank last): null-ish inputs
    * (null slice, length mismatch — zip_with's null padding) → NaN;
    * otherwise the same in-order `(x-y)^2` left fold, bit-identical
    * IEEE arithmetic.
    */
  private[graft] def l2sqOrNaN(a: Array[Double], b: Array[Double]): Double =
    if (a == null || b == null || a.length != b.length) Double.NaN
    else {
      var s = 0.0
      var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }

  /** Driver-side twin of `round(l2sq * 1e9).cast("long")` for the ADC
    * LUT, distinguishing the two degenerate routes Catalyst takes: a
    * NULL distance (null slice / length mismatch) → `Long.MinValue`
    * (the "no value" LUT sentinel, as before), while a genuine NaN
    * distance rounds to NaN and CASTS TO 0 (Spark's non-ANSI double→long
    * cast), and +Inf saturates to Long.MaxValue — both probed against
    * the real engine. The finite path is Catalyst Round's own arithmetic:
    * HALF_UP on `BigDecimal.valueOf` (the double's shortest decimal
    * repr), then the integral double→long cast.
    */
  private[graft] def pdNanoDriver(qsv: Array[Double], cvec: Array[Double]): Long =
    if (qsv == null || cvec == null || qsv.length != cvec.length) Long.MinValue
    else {
      var s = 0.0
      var i = 0
      while (i < qsv.length) { val d = qsv(i) - cvec(i); s += d * d; i += 1 }
      val x = s * 1e9
      if (x.isNaN) 0L
      else if (x.isInfinite) x.toLong
      else java.math.BigDecimal.valueOf(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
    }

  /** Deterministic prefix-sample PQ codebook as driver-side (j, sub,
    * cvec) entries — m x codebookSize x dsub doubles, an index-side
    * constant, so it lives on the driver and broadcasts with the LUTs
    * instead of costing a distributed join + argmin shuffle per run.
    * j = rank of the seed's vec_id; null-embedding seeds keep their j
    * slot but contribute no centroids (the old `WHERE v IS NOT NULL`);
    * null-ELEMENT sub-slices become null centroids ([[subSlice]]'s
    * equivalence).
    */
  private def prefixPqCodebook(corpus: DataFrame, m: Int, dsub: Int,
      codebookSize: Int): Seq[(Long, Int, Seq[Double])] = {
    val seeds = corpus.orderBy("vec_id").limit(codebookSize)
      .select(col("vec_id").cast("long"), col("embedding"))
      .collect().sortBy(_.getLong(0))
    seeds.iterator.zipWithIndex.flatMap { case (r, j) =>
      if (r.isNullAt(1)) Iterator.empty
      else {
        val v = r.getSeq[Any](1)
        (0 until m).iterator.map { sub =>
          val a = subSlice(v, sub, dsub)
          (j.toLong, sub, if (a == null) null else a.toSeq)
        }
      }
    }.toSeq
  }

  /** Lloyd refinement of the prefix codebook, per sub-space; returns
    * (j, sub, cvec) like [[prefixPqCodebook]]. Empty (sub, j) cells keep
    * their previous centroid; per-dim means use the decimal-exact
    * sum/count form so the oracle replays them bit-for-bit; dims whose
    * values are all null are skipped (compact), as in
    * [[trainedCentroids]].
    */
  def trainedPqCodebook(corpus: DataFrame, m: Int, dsub: Int,
      codebookSize: Int, iters: Int): Seq[(Long, Int, Seq[Double])] = {
    val sp = corpus.sparkSession
    import sp.implicits._
    val csub = graft.core.Graft.spread(corpus)
      .where(col("embedding").isNotNull)
      .select(col("vec_id").cast("long").as("corpus_id"),
        posexplode(pqSubVecs(col("embedding"), m, dsub)))
      .toDF("corpus_id", "sub", "sv")
    var cents: Seq[(Long, Int, Seq[Double])] =
      prefixPqCodebook(corpus, m, dsub, codebookSize)
    for (_ <- 0 until iters) {
      val cbDf = cents.toDF("j", "sub", "cvec")
      val dist = csub.join(broadcast(cbDf), Seq("sub"))
        .withColumn("negd", -Vectors.l2sq(col("sv"), col("cvec")))
      val assigned = TopK.perGroupTopK(dist,
        Seq("corpus_id", "sub", "sv"), "j", "negd", 1)
      val dims = assigned
        .select(col("sub"), col("j"), posexplode(col("sv")))
        .groupBy("sub", "j", "pos")
        .agg((sum(round(col("col").cast("double") * 1e9).cast("long"))
          .cast("double") / count(col("col")) / 1e9).as("mv"))
        .where(col("mv").isNotNull)
        .collect()
        .groupBy(r => (r.getLong(1), r.getInt(0)))
      cents = cents.map { case (j, sub, old) =>
        dims.get((j, sub)) match {
          case Some(rows) =>
            (j, sub, rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq)
          case None => (j, sub, old)
        }
      }
    }
    cents
  }

  /** IVF-PQ composed index (the production ANN layout: coarse cells
    * prune the scan, PQ codes make what remains cheap to score): the
    * corpus is assigned to one of `nCells` prefix-sample cells and
    * PQ-encoded; a query probes its `nProbe` nearest cells and
    * ADC-scores ONLY vectors living in them, then reranks the top
    * `rerank` exactly. At 100 TB the corpus is written cell-partitioned,
    * so the probe reads nProbe/nCells of the files (partition pruning)
    * and touches 64x-compressed codes — full vectors load only for the
    * Q x rerank winners. Both prunes replay in the oracle.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 2, m: Int = 8, dsub: Int = 8,
      codebookSize: Int = 16, rerank: Int = 40): DataFrame = {
    val cents = corpus.orderBy("vec_id").limit(nCells)
      .select(col("vec_id").cast("long").as("cent_id"),
        col("embedding").as("centv"))
    val carr = centroidArray(cents) // shared: ONE broadcast build for both sides
    val cc = nearestCellsWith(
      graft.core.Graft.spread(corpus).where(col("embedding").isNotNull)
        .select(col("vec_id").cast("long").as("corpus_id"),
          col("embedding").as("cv")),
      "corpus_id", "cv", 1, carr)
      .select(col("corpus_id"), col("cell").cast("long").as("cell"))
    val qc = nearestCellsWith(
      queries.where(col("embedding").isNotNull)
        .select(col("vec_id").cast("long").as("query_id"),
          col("embedding").as("qv")),
      "query_id", "qv", nProbe, carr)
      .select(col("query_id"), col("cell").cast("long").as("cell"))
    pqWithCodebook(corpus, queries,
      prefixPqCodebook(corpus, m, dsub, codebookSize),
      k, m, dsub, codebookSize, rerank, cells = Some((cc, qc)))
  }

  /** Shared PQ pipeline over a supplied driver-side (j, sub, cvec)
    * codebook: inline encode + nano ADC in ONE map pass, exact rerank.
    * `cells` (corpus cell assignment, query probe set) restricts ADC
    * scoring to cell-matched pairs — the IVF-PQ compose.
    *
    * Index-side state is driver/broadcast constants — the codebook
    * (m x codebookSize x dsub doubles) and the ADC LUTs (nq x m x
    * codebookSize longs, bounded by the query set like
    * [[bruteForceTopK]]'s query vectors) — so the whole
    * encode-and-score path is a single mapPartitions over the corpus:
    * no per-sub-vector explode, no distributed argmin shuffle, no
    * code-packing groupBy. Only partitions x nq x rerank bounded buffer
    * rows reach the merge; the corpus never shuffles and never
    * collects. The driver arithmetic ([[l2sqOrNaN]], [[pdNanoDriver]],
    * the TopKAgg-contract argmin) is bit-identical to the Catalyst
    * expressions it replaces, so the DuckDB oracle still replays
    * encoding AND scoring exactly (asserted by the `sim_pq_*`/
    * `sim_ivfpq_*` corpus entries and the OpsSpec parity case).
    *
    * A NULL sub-distance (null query element) makes the candidate's
    * adist NULL; it ranks last but IS still a candidate, mirroring the
    * oracle's NULLS LAST — NaN is the in-flight sentinel (TopKAgg
    * contract).
    */
  private def pqWithCodebook(corpus: DataFrame, queries: DataFrame,
      cb: Seq[(Long, Int, Seq[Double])], k: Int, m: Int, dsub: Int,
      codebookSize: Int, rerank: Int,
      cells: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val sp = corpus.sparkSession
    import sp.implicits._

    // driver codebook layout: js present (null-embedding seeds absent
    // entirely), centroid per (sub, j) or null
    val cbs = codebookSize
    val jsPresent: Array[Long] = cb.map(_._1).distinct.sorted.toArray
    val jIdx = jsPresent.zipWithIndex.toMap
    val centArr: Array[Array[Array[Double]]] =
      Array.fill(m)(Array.fill(jsPresent.length)(null: Array[Double]))
    cb.foreach { case (j, sub, v) =>
      if (sub < m) centArr(sub)(jIdx(j)) = if (v == null) null else v.toArray
    }

    // ADC LUTs, computed driver-side from the collected query vectors:
    // partial distances as exact integer nanos (a sum of longs is
    // order-free and replays bit-exactly in the oracle's SUM(BIGINT));
    // Long.MinValue marks a NULL partial distance.
    val qRows = queries.where(col("embedding").isNotNull)
      .select(col("vec_id").cast("long"), col("embedding")).collect()
    val qIds = qRows.map(_.getLong(0)).distinct.sorted
    val qIdx = qIds.zipWithIndex.toMap
    val lut = Array.fill(qIds.length)(Array.fill(m * cbs)(Long.MinValue))
    qRows.foreach { r =>
      val dst = lut(qIdx(r.getLong(0)))
      val v = r.getSeq[Any](1)
      var sub = 0
      while (sub < m) {
        val qsv = subSlice(v, sub, dsub)
        var idx = 0
        while (idx < jsPresent.length) {
          dst(sub * cbs + jsPresent(idx).toInt) =
            pdNanoDriver(qsv, centArr(sub)(idx))
          idx += 1
        }
        sub += 1
      }
    }
    // per-query probed-cell sets (IVF-PQ only; bounded nProbe longs per
    // query, collected alongside the LUTs)
    val hasCells = cells.isDefined
    val qCells: Array[Array[Long]] = cells match {
      case Some((_, qc)) =>
        val byQ = qc.collect().groupBy(_.getLong(0))
        qIds.map(id => byQ.get(id)
          .map(_.map(_.getLong(1)).sorted).getOrElse(Array.empty[Long]))
      case None => Array.empty
    }
    val bcLut = sp.sparkContext.broadcast((qIds, lut, qCells, centArr))

    // one pass over the corpus: encode each vector to its m code slots
    // (nearest sub-centroid — TopKAgg's exact contract: min distance,
    // NaN/null last, ties and the all-null route to the smallest j),
    // then ADC-score it against every query
    val base = graft.core.Graft.spread(corpus)
      .where(col("embedding").isNotNull)
      .select(col("vec_id").cast("long").as("corpus_id"),
        col("embedding").as("cv"))
    val withCell = cells match {
      case Some((cc, _)) =>
        base.join(cc, Seq("corpus_id"))
          .select(col("corpus_id"), col("cv"), col("cell"))
      case None =>
        base.select(col("corpus_id"), col("cv"), lit(0L).as("cell"))
    }
    val dsubL = dsub
    val mL = m
    val rkL = rerank
    val hasCellsL = hasCells
    val packed = withCell.mapPartitions { rows =>
      val (ids, luts, qcells, cents) = bcLut.value
      val nq = ids.length
      val nJ = jsPresent.length
      if (nq == 0 || nJ == 0) Iterator.empty
      else {
        // Materialize + encode the partition's rows ONCE into primitive
        // arrays and make the QUERY the outer loop: each query then
        // streams the partition's codes sequentially with its own
        // m x codebookSize LUT resident in L1. (A row-outer order
        // touches every query's LUT per row — nq LUTs blow the cache
        // and the kernel runs at cache-miss speed, not lookup speed.)
        // Memory: m ints + one long per row — far smaller than the
        // vectors they encode.
        val cidB = scala.collection.mutable.ArrayBuilder.make[Long]
        val cellB = scala.collection.mutable.ArrayBuilder.make[Long]
        val slotB = scala.collection.mutable.ArrayBuilder.make[Int]
        rows.foreach { r =>
          cidB += r.getLong(0)
          cellB += r.getLong(2)
          val v = r.getSeq[Any](1)
          var sub = 0
          while (sub < mL) {
            val sv = subSlice(v, sub, dsubL)
            var bestIdx = 0
            var bestD = Double.NaN
            var idx = 0
            while (idx < nJ) {
              val d = l2sqOrNaN(sv, cents(sub)(idx))
              if (!d.isNaN && (bestD.isNaN || d < bestD)) {
                bestD = d; bestIdx = idx
              }
              idx += 1
            }
            slotB += sub * cbs + jsPresent(bestIdx).toInt
            sub += 1
          }
        }
        val cids = cidB.result()
        val rcells = cellB.result()
        val slots = slotB.result()
        val n = cids.length
        if (n == 0) Iterator.empty
        else {
          val bufS = Array.fill(nq)(new Array[Double](rkL))
          val bufI = Array.fill(nq)(new Array[Long](rkL))
          val cnt = new Array[Int](nq)
          var qi = 0
          while (qi < nq) {
            val qid = ids(qi)
            val l = luts(qi)
            val pc = if (hasCellsL) qcells(qi) else null
            var ri = 0
            while (ri < n) {
              var pass = cids(ri) != qid
              if (pass && pc != null) {
                val cell = rcells(ri)
                var i = 0
                pass = false
                while (!pass && i < pc.length) {
                  if (pc(i) == cell) pass = true
                  i += 1
                }
              }
              if (pass) {
                var acc = 0L
                var ok = true
                var s = ri * mL
                val e = s + mL
                while (ok && s < e) {
                  val pd = l(slots(s))
                  if (pd == Long.MinValue) ok = false else acc += pd
                  s += 1
                }
                // exact: nano totals stay far below 2^53, so the negated
                // double preserves long ordering and equality
                val score = if (ok) -acc.toDouble else Double.NaN
                insertBounded(bufS(qi), bufI(qi), cnt, qi, score, cids(ri), rkL)
              }
              ri += 1
            }
            qi += 1
          }
          Iterator.range(0, nq).filter(cnt(_) > 0).map { qi =>
            (ids(qi), bufS(qi).take(cnt(qi)), bufI(qi).take(cnt(qi)))
          }
        }
      }
    }.toDF("query_id", "scores", "ids")
    val cands = TopK.mergeGroupTopK(packed, Seq("query_id"), "scores", "ids",
      "corpus_id", "nad", rerank)

    val exact = cands.select("query_id", "corpus_id")
      .join(corpus.select(col("vec_id").cast("long").as("corpus_id"),
        col("embedding").as("cv")), Seq("corpus_id"))
      .join(broadcast(queries.select(col("vec_id").cast("long").as("query_id"),
        col("embedding").as("qv"))), Seq("query_id"))
      .withColumn("cosine", Vectors.cosine(col("qv"), col("cv")))
    TopK.perGroupTopK(exact, Seq("query_id"), "corpus_id", "cosine", k)
  }

  /** LSH-bucketed approximate top-k: candidates restricted to query buckets
    * (multi-probe over Hamming-1 neighbors when probes > 1).
    */
  /** k-NN majority-vote classification (pseudo-labeling): each query
    * vector takes the most common label among its k exact-cosine nearest
    * labeled neighbors. Votes tie-break to the smallest label (nulls
    * last), so the prediction is deterministic.
    *
    * Shape at 100 TB: the neighbor search is [[bruteForceTopK]]'s
    * map-side kernel (queries must be a bounded set — pseudo-labeling
    * batches, not the whole corpus); the label lookup joins the
    * Q×k neighbor frame (broadcast) against the labeled corpus, and the
    * vote argmax windows over ≤ k rows per query. Nothing
    * corpus-proportional crosses a shuffle.
    *
    * Output: (query_id, pred_label, n_votes).
    */
  def knnClassify(labeled: DataFrame, queries: DataFrame, k: Int,
      labelCol: String = "label"): DataFrame = {
    val nn = bruteForceTopK(labeled, queries, k)
    val votes = nn
      .join(labeled.select(col("vec_id").as("corpus_id"), col(labelCol)),
        Seq("corpus_id"))
      .groupBy(col("query_id"), col(labelCol))
      .agg(count(lit(1)).as("n_votes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("n_votes").desc, col(labelCol).asc_nulls_last)
    votes
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("query_id"), col(labelCol).as("pred_label"),
        col("n_votes"))
  }

  /** Hard-negative mining for contrastive training: per query, the k
    * most-similar corpus vectors carrying a DIFFERENT label (null-safe —
    * an unknown label counts as different from any known one, and two
    * unknowns are treated as the same and excluded). The classic
    * batch-mining step that turns a labeled embedding corpus into
    * high-signal negative pairs. Broadcast queries, map-side scoring,
    * bounded per-query top-k buffers — same scale shape as [[lshTopK]].
    */
  def hardNegatives(labeled: DataFrame, queries: DataFrame, k: Int,
      labelCol: String = "label"): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), col(labelCol).as("q_label"),
      Vectors.norm2(col("embedding")).as("qn")))
    val c = graft.core.Graft.spread(labeled)
      .select(col("vec_id").as("corpus_id"), col("embedding").as("cv"),
        col(labelCol).as("c_label"), Vectors.norm2(col("embedding")).as("cn"))
    val scored = c.crossJoin(q)
      .where(col("corpus_id") =!= col("query_id") &&
        !(col("c_label") <=> col("q_label")))
      .withColumn("cosine",
        when(col("qn") > 0 && col("cn") > 0,
          Vectors.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
          .otherwise(lit(null).cast("double")))
    TopK.perGroupTopK(scored, Seq("query_id"), "corpus_id", "cosine", k)
  }

  /** Maximal-Marginal-Relevance diverse top-k (Carbonell & Goldstein
    * 1998): greedily pick `k` docs from each query's `poolK`-candidate
    * pool, each pick maximizing
    * `lam·sim(q, d) − (1 − lam)·max_{c ∈ picked} sim(d, c)` — the
    * de-redundancy step between retrieval and context assembly (a pool
    * full of near-identical top hits collapses to one representative
    * plus genuinely different docs).
    *
    * The greedy chain is sequential BY DEFINITION, so exactness is
    * engineered instead of parallelism: similarities enter the argmax as
    * integer nanos (`round(cos · 1e9)`, [[pdNanoDriver]]'s HALF_UP
    * discipline) and the score is `lamPct·simq − (100−lamPct)·penalty` in
    * exact BIGINT — every pick, tie (score desc, id asc) and emitted
    * score replays bit-for-bit as an unrolled SQL chain.
    *
    * Shape at scale: candidate generation is [[bruteForceTopK]]'s
    * map-side kernel (no corpus shuffle); candidate vectors ride back on
    * one broadcast join; then only Q · poolK rows — never the corpus —
    * reach the per-query greedy, which is O(poolK²·k) on bounded, tiny
    * groups. Pool pairs are scored inside the group with the same
    * left-to-right dot/norm arithmetic as the kernel (pool vectors are
    * all finite-scored against the query, hence same length and positive
    * norm, so pairwise cosines are always finite).
    */
  def mmrSelect(corpus: DataFrame, queries: DataFrame, poolK: Int, k: Int,
      lamPct: Int = 50): DataFrame = {
    require(lamPct >= 0 && lamPct <= 100, "lamPct must be in [0, 100]")
    val sp = corpus.sparkSession
    import sp.implicits._
    val lam = lamPct.toLong
    val cands = bruteForceTopK(corpus, queries, poolK)
      .where(col("cosine").isNotNull && !isnan(col("cosine")))
      .select(col("query_id"), col("corpus_id"), col("cosine"))
    corpus
      .select(col("vec_id").cast("long").as("corpus_id"),
        Vectors.asDouble(col("embedding")).as("cv"))
      .join(broadcast(cands), Seq("corpus_id"))
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("cv"))
      .as[(Long, Long, Double, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Seq[Double])]) =>
        val entries = it.toArray
        val n = entries.length
        val ids = entries.map(_._2)
        val simq = entries.map(e => cosNano(e._3))
        val vecs = entries.map(_._4.toArray)
        val pairN = Array.tabulate(n, n) { (i, j) =>
          if (i == j) 0L
          else {
            val a = vecs(i); val b = vecs(j)
            var d = 0.0; var x = 0
            while (x < a.length) { d += a(x) * b(x); x += 1 }
            cosNano(d / (norm2(a) * norm2(b)))
          }
        }
        val chosen = collection.mutable.ArrayBuffer.empty[Int]
        val excluded = new Array[Boolean](n)
        val out = collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        var pick = 1
        var done = false
        while (pick <= k && !done) {
          var bi = -1; var bs = 0L
          var i = 0
          while (i < n) {
            if (!excluded(i)) {
              var pen = 0L
              if (chosen.nonEmpty) {
                pen = Long.MinValue
                chosen.foreach { c =>
                  if (pairN(i)(c) > pen) pen = pairN(i)(c)
                }
              }
              val s = lam * simq(i) - (100L - lam) * pen
              if (bi < 0 || s > bs || (s == bs && ids(i) < ids(bi))) {
                bi = i; bs = s
              }
            }
            i += 1
          }
          if (bi < 0) done = true
          else {
            out += ((qid, pick.toLong, ids(bi), bs))
            chosen += bi
            var j = 0
            while (j < n) {
              if (ids(j) == ids(bi)) excluded(j) = true
              j += 1
            }
            pick += 1
          }
        }
        out.iterator
      }
      .toDF("query_id", "pick", "corpus_id", "score_nano")
  }

  /** `round(cos * 1e9)` as exact integer nanos — the finite-path twin of
    * [[pdNanoDriver]]: Catalyst Round's HALF_UP on the double's shortest
    * decimal repr, matching SQL `CAST(ROUND(x * 1e9) AS BIGINT)`.
    */
  private def cosNano(x: Double): Long =
    java.math.BigDecimal.valueOf(x * 1e9)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong

  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      bits: Int = 8, probes: Int = 3): DataFrame = {
    val bucket = Vectors.lshBucket(col("embedding"), bits, dim)
    val c = graft.core.Graft.spread(corpus)
      .select(col("vec_id").as("corpus_id"),
        col("embedding").as("cv"), bucket.as("bucket"),
        Vectors.norm2(col("embedding")).as("cn"))
    // query probes: own bucket + lowest-index Hamming-1 flips
    val flips = (0 until math.max(0, math.min(probes - 1, bits))).toSeq
    val probeBuckets = array((lit(0L) +: flips.map(b => lit(1L << b))): _*)
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), bucket.as("qbucket"),
      Vectors.norm2(col("embedding")).as("qn"))
      .withColumn("bucket", explode(transform(probeBuckets,
        f => col("qbucket").bitwiseXOR(f))))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .where(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine",
        when(col("qn") > 0 && col("cn") > 0,
          Vectors.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
          .otherwise(lit(null).cast("double")))
    TopK.perGroupTopK(scored, Seq("query_id"), "corpus_id", "cosine", k)
  }
}
