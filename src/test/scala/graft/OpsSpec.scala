package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, Similarity}

/** Dedup / similarity / multimodal operator semantics on planted cases. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private val text1 = "the quick brown fox jumps over the lazy dog near the river bank today"

  private lazy val docs = Seq(
    (1L, text1),
    (2L, text1), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup of 1
    (4L, "completely different content about spark engines and distributed joins"),
    (5L, "unrelated words forming another document entirely separate topic cluster")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps lowest id") {
    val out = Dedup.exact(docs, "text", "doc_id").collect()
    assert(out.length == 4) // 1&2 share a digest
    val dup = out.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1L)
    val survivors = Dedup.exactSurvivors(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(survivors.toSeq == Seq(1L, 3L, 4L, 5L))
  }

  test("minhash signatures: identical docs equal, near-dups mostly equal") {
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", 16, 3)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[Long]]("sig").toSeq).toMap
    assert(sigs(1L) == sigs(2L))
    val agree13 = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    val agree14 = sigs(1L).zip(sigs(4L)).count { case (a, b) => a == b }
    assert(agree13 > agree14) // near-dup shares far more minhash slots
  }

  test("minhash LSH pairs find the planted near-dup, verified by jaccard") {
    val pairs = Dedup.minhashPairs(docs, "text", "doc_id",
      numHashes = 16, bands = 8, shingleK = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash hot-bucket cap: planted hot bucket dropped, audit pins the loss") {
    // 25 identical docs share one signature -> one 25-member bucket in
    // EVERY band; cap 20 drops all four, and the planted ids must vanish
    // from candidate generation entirely while the base near-dups pair on.
    val planted = (0L until 25L)
      .map(i => (100L + i, "wqa wqb wqc wqd wqe wqf wqg wqh"))
      .toDF("doc_id", "text")
    val input = docs.unionByName(planted)
    val capped = Dedup.minhashBuckets(input, "text", "doc_id",
      numHashes = 16, bands = 4, shingleK = 3, maxBucket = 20).collect()
    assert(capped.forall(_.getAs[Long]("n_members") <= 20))
    assert(!capped.exists(
      _.getAs[scala.collection.Seq[Long]]("member_ids").exists(_ >= 100L)))
    assert(capped.exists(
      _.getAs[scala.collection.Seq[Long]]("member_ids").toSeq == Seq(1L, 2L)))
    val audit = Dedup.minhashBucketAudit(input, "text", "doc_id",
      numHashes = 16, bands = 4, shingleK = 3, maxBucket = 20).collect().head
    assert(audit.getAs[Long]("n_dropped_buckets") == 4L)
    assert(audit.getAs[Long]("n_dropped_rows") == 100L) // 25 per band
    assert(audit.getAs[Long]("n_dropped_pairs") == 4L * 300L) // 25*24/2 each
    val pairs = Dedup.minhashPairs(input, "text", "doc_id",
      numHashes = 16, bands = 8, shingleK = 3, threshold = 0.5,
      maxBucket = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 >= 100L || p._2 >= 100L))
  }

  test("minhash buckets: capped form == plain collect form below the cap") {
    val r = 16 / 4
    val expected = Dedup.minhashSignatures(docs, "text", "doc_id", 16, 3)
      .select(col("doc_id"), posexplode(
        array((0 until 4).map(b =>
          md5(concat_ws(",", slice(col("sig"), b * r + 1, r)))): _*))
        .as(Seq("band", "bucket")))
      .groupBy("band", "bucket")
      .agg(sort_array(collect_list(col("doc_id"))).as("member_ids"),
        count(lit(1)).as("n_members"))
      .where(col("n_members") > 1)
      .collect()
      .map(x => (x.getAs[Int]("band"), x.getAs[String]("bucket"),
        x.getAs[scala.collection.Seq[Long]]("member_ids").toSeq,
        x.getAs[Long]("n_members"))).toSet
    val got = Dedup.minhashBuckets(docs, "text", "doc_id",
      numHashes = 16, bands = 4, shingleK = 3)
      .collect()
      .map(x => (x.getAs[Int]("band"), x.getAs[String]("bucket"),
        x.getAs[scala.collection.Seq[Long]]("member_ids").toSeq,
        x.getAs[Long]("n_members"))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("minhash buckets: string-id surrogate rail == long-id route under the cap") {
    // Non-integral ids ride the bounded aggregate via a hash60 surrogate
    // with the real ids joined back for surviving buckets — bit-parity
    // with the integral route on the same corpus (signatures depend only
    // on text, so buckets and membership must agree exactly), INCLUDING a
    // planted hot bucket both routes must drop at the same cap.
    val planted = (0L until 25L)
      .map(i => (100L + i, "wqa wqb wqc wqd wqe wqf wqg wqh"))
      .toDF("doc_id", "text")
    val input = docs.unionByName(planted)
    def key(members: Seq[Long]) = members.toSet
    val longForm = Dedup.minhashBuckets(input, "text", "doc_id",
      numHashes = 16, bands = 4, shingleK = 3, maxBucket = 20)
      .collect()
      .map(x => (x.getAs[Int]("band"), x.getAs[String]("bucket")) ->
        (key(x.getAs[scala.collection.Seq[Long]]("member_ids").toSeq),
          x.getAs[Long]("n_members"))).toMap
    val strInput = input.select(
      concat(lit("doc-"), col("doc_id")).as("doc_id"), col("text"))
    val strDf = Dedup.minhashBuckets(strInput, "text", "doc_id",
      numHashes = 16, bands = 4, shingleK = 3, maxBucket = 20)
    // the rail is structural on this route too: the member collect runs
    // through the bounded aggregate; the only collect_list is the
    // join-back re-collect over surviving (<= cap) buckets
    val plan = strDf.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("boundedidlistagg"), plan.take(600))
    val strForm = strDf.collect()
      .map(x => (x.getAs[Int]("band"), x.getAs[String]("bucket")) ->
        (key(x.getAs[scala.collection.Seq[String]]("member_ids")
          .map(_.stripPrefix("doc-").toLong).toSeq),
          x.getAs[Long]("n_members"))).toMap
    assert(strForm == longForm)
    assert(strForm.nonEmpty)
    assert(strForm.values.forall(_._2 <= 20)) // hot bucket dropped here too
    assert(!strForm.values.exists(_._1.exists(_ >= 100L)))
  }

  test("minhash buckets: integral id narrower than long keeps its type") {
    // member_ids surfaces the CALLER's id type (the aggregate widens to
    // long internally) — no array<bigint> schema drift for int ids
    val intDocs = docs.select(col("doc_id").cast("int").as("doc_id"),
      col("text"))
    val out = Dedup.minhashBuckets(intDocs, "text", "doc_id",
      numHashes = 16, bands = 4, shingleK = 3)
    assert(out.schema("member_ids").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType))
    val got = out.collect()
      .map(x => x.getAs[scala.collection.Seq[Int]]("member_ids").toSeq)
    assert(got.contains(Seq(1, 2)))
  }

  test("BoundedIdListAgg: exact counts always; full sorted list iff n <= cap") {
    val rows = (1L to 50L).map(i => (if (i <= 45) "hot" else "cold", 51L - i))
      .toDF("k", "id").repartition(7) // force partial-buffer merges
    val out = rows.groupBy("k")
      .agg(udaf(new graft.ops.BoundedIdListAgg(10)).apply(col("id")).as("bc"))
      .select(col("k"), col("bc._1").as("ids"), col("bc._2").as("n"))
      .collect().map(r => r.getAs[String]("k") ->
        (r.getAs[scala.collection.Seq[Long]]("ids").toSeq, r.getAs[Long]("n")))
      .toMap
    assert(out("hot") == (Seq.empty[Long], 45L)) // overflow: count only
    assert(out("cold") == (Seq(1L, 2L, 3L, 4L, 5L), 5L)) // all ids, sorted
  }

  test("video probe: MP4 boxes + EBML DocType round-trip the synthesis formulas") {
    val ids = Seq(0L, 1L, 2L, 3L, 4L, 6L, 9L, 97L, 194L, 1001L).toDF("doc_id")
    val got = Multimodal.probeVideoMeta(spark, Multimodal.synthesizeVideo(ids))
      .collect().map(r => r.getLong(0) -> r).toMap
    // junk (id % 97 == 0): box claims 1024 bytes, EOF at 10 -> NULL row
    for (j <- Seq(0L, 97L, 194L))
      assert(got(j).isNullAt(1) && got(j).isNullAt(3), s"id $j")
    // EBML (id % 3 == 0, not junk): DocType by id parity; headers-only,
    // so no Segment and no timescale
    assert(got(6L).getString(1) == "mkv" && got(6L).getString(2) == "matroska")
    assert(got(3L).getString(2) == "webm" && got(9L).getString(2) == "webm")
    assert(got(6L).isNullAt(3))
    // MP4: every parameter parsed back from the real boxes
    val m1 = got(1L)
    assert(m1.getString(1) == "mp4" && m1.getString(2) == "mp42")
    assert(m1.getLong(3) == 700L) // 600 + (1%5)*100
    assert(m1.getLong(4) == 120L) // ((1%1000)+1)*60
    assert(m1.getLong(5) == 120L * 1000L / 700L)
    assert(m1.getLong(6) == 2L) // 1 + 1%3
    assert(m1.getLong(7) == 240L && m1.getLong(8) == 180L)
    assert(got(2L).getString(2) == "isom")
    assert(got(1001L).getLong(4) == 120L) // duration wraps % 1000
  }

  test("video probe parses version-1 (64-bit time) mvhd/tkhd layouts") {
    val a = "US-ASCII"
    def idm(bb: java.nio.ByteBuffer): Unit = {
      bb.putInt(0x00010000).putInt(0).putInt(0)
      bb.putInt(0).putInt(0x00010000).putInt(0)
      bb.putInt(0).putInt(0).putInt(0x40000000)
    }
    val mvhdSize = 120; val tkhdSize = 104
    val trakSize = 8 + tkhdSize
    val moovSize = 8 + mvhdSize + trakSize
    val bb = java.nio.ByteBuffer.allocate(20 + moovSize)
    bb.putInt(20).put("ftyp".getBytes(a)).put("isom".getBytes(a))
      .putInt(0x200).put("isom".getBytes(a))
    bb.putInt(moovSize).put("moov".getBytes(a))
    bb.putInt(mvhdSize).put("mvhd".getBytes(a)).putInt(0x01000000)
      .putLong(0L).putLong(0L).putInt(1000).putLong(5000L)
      .putInt(0x00010000).putShort(0x0100.toShort).putShort(0).putLong(0L)
    idm(bb)
    (0 until 6).foreach(_ => bb.putInt(0))
    bb.putInt(2)
    bb.putInt(trakSize).put("trak".getBytes(a))
    bb.putInt(tkhdSize).put("tkhd".getBytes(a)).putInt(0x01000007)
      .putLong(0L).putLong(0L).putInt(1).putInt(0).putLong(5000L)
      .putLong(0L).putShort(0).putShort(0).putShort(0).putShort(0)
    idm(bb)
    bb.putInt(320 << 16).putInt(200 << 16)
    assert(Multimodal.probeVideoOne(bb.array())
      == Some(("mp4", "isom", Some((1000L, 5000L, 1L, 320L, 200L)))))
  }

  test("G.711 expansion formulas match the JDK for all 256 code points") {
    // stride 29 is coprime to 256, so a 307-frame clip walks every code
    // point: decodeAudio's JDK-expanded stats must equal the closed-form
    // G.711 decode the DuckDB oracle (mm_audio_law) replays.
    def ulawD(b: Int): Int = {
      val u = 255 - b; val exp = (u >> 4) & 7; val mant = u & 0xf
      val mag = ((mant * 8 + 132) << exp) - 132
      if ((u & 0x80) != 0) -mag else mag
    }
    def alawD(b: Int): Int = {
      val x = b ^ 0x55; val exp = (x >> 4) & 7; val mant = x & 0xf
      val mag = if (exp == 0) mant * 16 + 8 else (mant * 16 + 264) << (exp - 1)
      if ((x & 0x80) != 0) mag else -mag
    }
    val one = Seq(Tuple1(7L)).toDF("doc_id") // id 7: mono, nf = 307 >= 256
    for ((alaw, dec) <- Seq(false -> (ulawD _), true -> (alawD _))) {
      val row = Multimodal.decodeAudio(spark,
        Multimodal.synthesizeLawWav(one, alaw)).collect().head
      val samples = (0 until 307).map(i => dec(((7L * 131 + i * 29) % 256).toInt))
      assert(row.getAs[Long]("sample_rate") == 8000L)
      assert(row.getAs[Long]("channels") == 1L)
      assert(row.getAs[Long]("bits") == 16L)
      assert(row.getAs[Long]("n_frames") == 307L)
      assert(row.getAs[Long]("sum_sq") == samples.map(s => s.toLong * s).sum,
        s"alaw=$alaw sum_sq diverged from the closed form")
      assert(row.getAs[Long]("peak") == samples.map(s => math.abs(s.toLong)).max)
    }
  }

  test("decodeAudio folds degenerate headers to NULL features, not a throw") {
    // sample rate 0 and channel count 0 are parseable-looking RIFF
    // headers that would divide-by-zero downstream — coerce, don't error.
    def riff(sr: Int, ch: Int): Array[Byte] = {
      val data = Array[Byte](1, 0, 2, 0)
      val bb = java.nio.ByteBuffer.allocate(44 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(ch.toShort).putInt(sr).putInt(sr * ch * 2)
        .putShort((ch * 2).toShort).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
      bb.array()
    }
    val bad = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, riff(0, 1)),
        org.apache.spark.sql.Row(2L, riff(8000, 0)),
        org.apache.spark.sql.Row(3L, riff(8000, 1)))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("bytes",
          org.apache.spark.sql.types.BinaryType, nullable = false))))
    val out = Multimodal.decodeAudio(spark, bad).collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(out(1L) && out(2L), "degenerate headers must yield NULL features")
    assert(!out(3L), "the well-formed control row must decode")
  }

  test("simhash: identical equal; near-dup closer in hamming than unrelated") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val sh = docs.select($"doc_id", Dedup.simhash($"text", 32).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(ham(sh(1L), sh(3L)) < ham(sh(1L), sh(4L)))
  }

  test("ngram jaccard pairs: exact dup scores 1.0") {
    val out = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 2, 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((1L, 2L)) == 1.0)
    assert(out.contains((1L, 3L)))
    assert(out((1L, 3L)) < 1.0)
  }

  test("ngram jaccard df cap drops corpus-wide hot shingles from the join") {
    // 40 docs all share the hot bigram "common phrase"; only docs 0 and 1
    // also share a rare one. Uncapped, the hot shingle alone joins
    // 40*39/2 = 780 pairs; with the cap the only surviving pair is (0,1)
    // through their rare shingle, scored over the REDUCED shingle sets.
    val hot = (0L until 40L).map { i =>
      val rare = if (i <= 1) "rare match" else s"unique$i filler$i"
      (i, s"common phrase $rare")
    }.toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(hot, "text", "doc_id", 2, 0.01,
      maxShingleDf = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(capped.map(_._1).toSet == Set((0L, 1L)),
      s"only the rare-shingle pair may survive the cap: ${capped.toSeq}")
    // docs 0/1 each have 3 shingles; "common phrase" (df=40) is dropped
    // from both sets -> 2 shared of 2 kept per doc... "phrase rare" is
    // also shared (df=2, kept): jaccard = 2/2 = 1.0 on the reduced sets
    assert(capped.head._2 == 1.0, s"reduced-set jaccard: ${capped.head._2}")
    // sanity: uncapped default finds hot-shingle pairs too
    val uncapped = Dedup.ngramJaccardPairs(hot, "text", "doc_id", 2, 0.01)
    assert(uncapped.count() == 40L * 39 / 2)
  }

  test("ngram jaccard blockCol confines pairs to their block") {
    val blocked = Seq(
      (1L, "the same exact text", "en"),
      (2L, "the same exact text", "en"),
      (3L, "the same exact text", "de") // identical, but another block
    ).toDF("doc_id", "text", "lang")
    val got = Dedup.ngramJaccardPairs(blocked, "text", "doc_id", 2, 0.5,
      blockCol = Some($"lang"))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet == Set((1L, 2L)), s"cross-block pair leaked: ${got.toSeq}")
  }

  test("driver-side PQ LUT arithmetic matches the Catalyst expressions it replaced") {
    // the sub-slice / l2sq / round(x*1e9)::long chain now runs on the
    // driver; pin it against the declarative form the oracle replays,
    // over every degenerate route: normal, ragged, empty, null-element,
    // NaN-element, huge-magnitude
    val m = 2; val dsub = 3
    val fixture: Seq[(Long, Seq[java.lang.Float])] = Seq(
      1L -> Seq[java.lang.Float](1.0f, 2.0f, 3.0f, 4.0f, 5.0f, 6.0f),
      2L -> Seq[java.lang.Float](0.5f, -2.5f, 3.25f, -0.125f, 9.5f, 1.5f),
      3L -> Seq[java.lang.Float](1.0f, 2.0f),                    // ragged
      4L -> Seq[java.lang.Float](),                              // empty
      5L -> Seq[java.lang.Float](1.0f, null, 3.0f, 4.0f, 5.0f, 6.0f),
      6L -> Seq[java.lang.Float](Float.NaN, 2.0f, 3.0f, 4.0f, 5.0f, 6.0f),
      7L -> Seq[java.lang.Float](1e18f, -1e18f, 0f, 1f, 2f, 3f))
    val df = fixture.toDF("vid", "emb")
    val subVecs = transform(sequence(lit(0), lit(m - 1)),
      i => slice(transform(col("emb"), _.cast("double")), i * dsub + 1, lit(dsub)))
    val pairs = df.select(col("vid").as("va"), posexplode(subVecs))
      .toDF("va", "sub", "sva")
      .join(df.select(col("vid").as("vb"), posexplode(subVecs))
        .toDF("vb", "subb", "svb"), col("sub") === col("subb"))
      .select(col("va"), col("vb"), col("sub"),
        round(graft.functions.Vectors.l2sq(col("sva"), col("svb")) * 1e9)
          .cast("long").as("pd"))
      .collect()
    val byId = fixture.toMap
    pairs.foreach { r =>
      val (va, vb, sub) = (r.getLong(0), r.getLong(1), r.getInt(2))
      val expected = if (r.isNullAt(3)) Long.MinValue else r.getLong(3)
      val got = Similarity.pdNanoDriver(
        Similarity.subSlice(byId(va).asInstanceOf[Seq[Any]], sub, dsub),
        Similarity.subSlice(byId(vb).asInstanceOf[Seq[Any]], sub, dsub))
      assert(got == expected,
        s"pd mismatch for ($va, $vb, sub=$sub): driver=$got catalyst=$expected")
    }
  }

  test("prefix-filtered jaccard join is complete vs the naive all-pairs form") {
    // real corpus slice: every pair the naive O(n^2) token-set join finds
    // at tau must come out of the prefix-filtered join too (completeness
    // is the operator's theorem), and nothing extra
    val docs100 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where($"doc_id" < 100)
    val tau = 0.5
    val toks = docs100.select($"doc_id".as("id"),
      explode(array_distinct(graft.functions.Text.tokens($"text"))).as("w"))
    val sizes = toks.groupBy("id").agg(count(lit(1)).as("n"))
    val naive = toks.as("a").join(toks.as("b"), Seq("w"))
      .where($"a.id" < $"b.id")
      .groupBy($"a.id".as("id_a"), $"b.id".as("id_b"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.select($"id".as("id_a"), $"n".as("na")), "id_a")
      .join(sizes.select($"id".as("id_b"), $"n".as("nb")), "id_b")
      .where($"i".cast("double") / ($"na" + $"nb" - $"i") >= tau)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.prefixJaccardPairs(docs100, "text", "doc_id", tau)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive.nonEmpty, "fixture produced no pairs — test is vacuous")
    assert(got == naive,
      s"missed=${(naive -- got).take(5)} extra=${(got -- naive).take(5)}")
  }

  test("prefix jaccard: exact dup pairs at 1.0; disjoint docs absent") {
    val out = Dedup.prefixJaccardPairs(docs, "text", "doc_id", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
    assert(!out.exists(p => p._2 == 4L || p._2 == 5L))
  }

  private lazy val vecs = {
    val base = Array.tabulate(8)(i => 1.0f + i)
    Seq(
      (0L, base),
      (1L, base.map(_ * 2.0f)),            // same direction: cosine 1
      (2L, base.map(x => -x)),             // opposite: cosine -1
      (3L, Array.tabulate(8)(i => if (i == 0) 1.0f else 0.0f)),
      (4L, Array.tabulate(8)(i => if (i == 7) 5.0f else 0.1f))
    ).toDF("vec_id", "embedding")
  }

  test("brute-force top-k: collinear vector ranks first, opposite last") {
    val out = Similarity.bruteForceTopK(vecs, vecs.where($"vec_id" === 0), 4)
      .orderBy("rank").collect()
    assert(out.head.getAs[Long]("corpus_id") == 1L)
    assert(math.abs(out.head.getAs[Double]("cosine") - 1.0) < 1e-12)
    assert(out.last.getAs[Long]("corpus_id") == 2L)
    assert(math.abs(out.last.getAs[Double]("cosine") + 1.0) < 1e-12)
  }

  test("brute-force kernel matches the declarative cross-join form on degenerate vectors") {
    // The kernel path (primitive-matrix mapPartitions) must be row-identical
    // to the expression form it replaced — including every degenerate shape:
    // null vector, null element, zero norm, ragged length, opposite sign.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val data = Seq(
      Row(0L, Seq(1.0f, 2.0f, 2.0f)),
      Row(1L, Seq(2.0f, 4.0f, 4.0f)),   // collinear with 0
      Row(2L, Seq(0.0f, 0.0f, 0.0f)),   // zero norm -> null cosine
      Row(3L, null),                    // null vector
      Row(4L, Seq(1.0f, null, 3.0f)),   // null element
      Row(5L, Seq(1.0f, 2.0f)),         // ragged (length 2)
      Row(6L, Seq(-1.0f, -2.0f, -2.0f)), // opposite direction
      Row(7L, Seq(3.0f, 0.0f, 1.0f)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema)
    val k = 5
    val kernel = Similarity.bruteForceTopK(df, df, k)

    import graft.functions.Vectors
    import graft.ops.TopK
    val c = df.select($"vec_id".as("corpus_id"), $"embedding".as("cv"),
      Vectors.norm2($"embedding").as("cn"))
    val q = df.select($"vec_id".as("query_id"), $"embedding".as("qv"),
      Vectors.norm2($"embedding").as("qn"))
    val scored = c.crossJoin(broadcast(q))
      .where($"corpus_id" =!= $"query_id")
      .withColumn("cosine",
        when($"qn" > 0 && $"cn" > 0,
          Vectors.dot($"qv", $"cv") / ($"qn" * $"cn"))
          .otherwise(lit(null).cast("double")))
    val reference = TopK.perGroupTopK(scored, Seq("query_id"), "corpus_id", "cosine", k)

    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "corpus_id", "cosine", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getLong(3)))
      .sortBy(t => (t._1, t._4))
    val kv = key(kernel); val rv = key(reference)
    assert(kv.length == 8 * k)
    assert(kv.toSeq == rv.toSeq) // bit-exact cosines, identical ranks
  }

  test("LSH top-k returns a subset of brute-force candidates with sane ranks") {
    val out = Similarity.lshTopK(vecs, vecs.where($"vec_id" === 0), 4,
      dim = 8, bits = 4, probes = 2).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("corpus_id") != 0L))
    // collinear twin must share every hyperplane side -> always found
    assert(out.exists(_.getAs[Long]("corpus_id") == 1L))
  }

  test("TopKAgg matches the row_number window form exactly (ties, nulls, k)") {
    import org.apache.spark.sql.expressions.Window
    // 200 scored rows over 3 groups, engineered ties (score = id % 7) and
    // planted null scores; spread over 8 partitions to force partial+final
    // merges across buffers.
    val scored = spark.range(200)
      .select(
        (col("id") % 3).as("g"),
        col("id").as("cand"),
        when(col("id") % 11 === 0, lit(null).cast("double"))
          .otherwise((col("id") % 7).cast("double")).as("score"))
      .repartition(8)
    val viaAgg = graft.ops.TopK.perGroupTopK(scored, Seq("g"), "cand", "score", 5)
      .orderBy("g", "rank").collect().map(_.toSeq)
    val w = Window.partitionBy("g").orderBy(col("score").desc_nulls_last, col("cand").asc)
    val viaWindow = scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select("g", "cand", "score", "rank")
      .orderBy("g", "rank").collect().map(_.toSeq)
    assert(viaAgg.toSeq == viaWindow.toSeq)
    // k larger than the group: returns all, ranked, without padding
    val tiny = Seq((1L, 10L, 0.5), (1L, 11L, 0.9)).toDF("g", "cand", "score")
    val all = graft.ops.TopK.perGroupTopK(tiny, Seq("g"), "cand", "score", 100)
      .orderBy("rank").collect()
    assert(all.map(r => (r.getAs[Long]("cand"), r.getAs[Long]("rank"))).toSeq ==
      Seq((11L, 1L), (10L, 2L)))
  }

  test("encodeDocs applies learned merges in order, never across words") {
    import graft.ops.Bpe
    val vocab0 = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("word", "cnt")
      .withColumn("sym", split($"word", ""))
    val (merges, _) = Bpe.learnBpe(vocab0, nMerges = 3)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("l", "o")))
    val docs = Seq((1L, "low lower newest"), (2L, "widest low"))
      .toDF("doc_id", "text")
    val enc = Bpe.encodeDocs(docs, "text", "doc_id", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(enc(1L) == List("lo", "w", "lo", "w", "e", "r", "n", "e", "w", "est"))
    assert(enc(2L) == List("w", "i", "d", "est", "lo", "w"))
  }

  test("covarianceUpper + pc1 recover a planted dominant direction") {
    import graft.ops.EmbeddingAgg
    val dim = 8
    // direction d = (1,1,0,...)/sqrt(2); points t*d + tiny deterministic
    // noise on axis 2 — the top eigenvector must align with d
    val rows = (0 until 200).map { t =>
      val scale = (t % 21) - 10.0 // symmetric spread along d
      val noise = ((t % 7) - 3.0) * 0.01
      val v = Array.tabulate(dim)(i =>
        (if (i == 0 || i == 1) scale / math.sqrt(2.0) else 0.0) +
          (if (i == 2) noise else 0.0))
      Tuple1(v.map(_.toFloat))
    }.toDF("embedding")
    val cov = EmbeddingAgg.covarianceUpper(rows, "embedding", dim)
    assert(cov.count() == dim * (dim + 1) / 2)
    val pc = EmbeddingAgg.pc1(cov, dim)
    val d = Array.tabulate(dim)(i => if (i <= 1) 1.0 / math.sqrt(2.0) else 0.0)
    val cos = pc.zip(d).map { case (a, b) => a * b }.sum
    info(f"cos(pc1, planted direction) = $cos%.6f")
    assert(math.abs(cos) > 0.999, s"pc1 = ${pc.mkString(",")}")
    // deterministic orientation: first non-zero coordinate positive
    assert(pc(pc.indexWhere(_ != 0.0)) > 0)
  }

  test("hardNegatives excludes same-label neighbors, null labels differ") {
    import graft.ops.Similarity
    // query 0 (label 0): vec 1 is nearly identical but SAME label ->
    // excluded; vec 2 close with label 1 -> top negative; vec 3 null
    // label -> different from 0, included; vec 4 far, label 1
    val rows = Seq[(Long, Seq[java.lang.Float], java.lang.Integer)](
      (0L, Seq[java.lang.Float](1f, 0f, 0f, 0f), 0),
      (1L, Seq[java.lang.Float](0.99f, 0.1f, 0f, 0f), 0),
      (2L, Seq[java.lang.Float](0.9f, 0.2f, 0f, 0f), 1),
      (3L, Seq[java.lang.Float](0.8f, 0.3f, 0f, 0f), null),
      (4L, Seq[java.lang.Float](0f, 1f, 0f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(rows,
        rows.where(col("vec_id") === 0L), k = 3)
      .collect().map(_.getLong(1))
    assert(got.toSeq == Seq(2L, 3L, 4L), s"got ${got.toSeq}")
  }

  test("mmrSelect demotes the redundant near-dup below the diverse doc") {
    // unit vectors: 10 and 11 identical (pair sim 1.0), 12 rotated into
    // the third axis (pair sim to 10 = 0.81); all score 0.9 vs the query.
    // Plain top-3 is (10, 11, 12); MMR at λ=0.5 must pick the diverse 12
    // second and push the dup 11 last with a negative marginal score.
    val b = math.sqrt(0.19)
    val corpus = Seq(
      (10L, Seq(0.9, b, 0.0)), (11L, Seq(0.9, b, 0.0)),
      (12L, Seq(0.9, 0.0, b))
    ).toDF("vec_id", "embedding")
    val queries = Seq((0L, Seq(1.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val got = Similarity.mmrSelect(corpus, queries, poolK = 3, k = 3)
      .orderBy("pick")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._2).toSeq == Seq(10L, 12L, 11L), got.toSeq.toString)
    assert(got(1)._3 > 0L && got(2)._3 < 0L, "marginal scores: " + got.toSeq)
  }

  test("mmrSelect matches an independent greedy replay on a seeded corpus") {
    val rnd = new scala.util.Random(42)
    val vecs = (0L until 30L).map(i =>
      (i, Seq.fill(8)(rnd.nextDouble() * 2 - 1)))
    val corpus = vecs.toDF("vec_id", "embedding")
    val got = Similarity
      .mmrSelect(corpus, corpus.where($"vec_id" < 2), poolK = 10, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    // independent replay: same nano rounding and left-to-right folds,
    // but straight Scala collections instead of the kernel
    def nano(x: Double) = java.math.BigDecimal.valueOf(x * 1e9)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    val vmap = vecs.toMap
    val expected = (0L until 2L).flatMap { q =>
      val cands = vecs.filter(_._1 != q)
        .map { case (id, v) => (id, cos(vmap(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(10)
      var chosen = Vector.empty[Long]
      var out = Vector.empty[(Long, Long, Long, Long)]
      for (pick <- 1 to 5) {
        val scored = cands.filterNot(c => chosen.contains(c._1))
          .map { case (id, c) =>
            val pen = if (chosen.isEmpty) 0L
              else chosen.map(ch => nano(cos(vmap(id), vmap(ch)))).max
            (id, 50L * nano(c) - 50L * pen)
          }
        if (scored.nonEmpty) {
          val (bid, bs) = scored.minBy { case (id, sc) => (-sc, id) }
          out :+= ((q, pick.toLong, bid, bs))
          chosen :+= bid
        }
      }
      out
    }.sortBy(t => (t._1, t._2))
    assert(got == expected, s"got $got\nexpected $expected")
  }

  test("triangleCounts on a planted graph, robust to dup/reversed edges") {
    import graft.ops.Graph
    // triangle {1,2,3}; square {4,5,6,7} with diagonal 4-6 (two
    // triangles sharing edge 4-6); pendant edge 8-9; self loop 5-5;
    // duplicate and reversed edges must not inflate counts
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (1L, 2L),
      (4L, 5L), (5L, 6L), (6L, 7L), (7L, 4L), (4L, 6L), (6L, 4L),
      (8L, 9L), (5L, 5L)
    ).toDF("src", "dst")
    val got = Graph.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 2L, 5L -> 1L, 6L -> 2L, 7L -> 1L, 8L -> 0L, 9L -> 0L), s"$got")
  }

  test("jaccardLinks scores non-adjacent distance-2 pairs, skips edges") {
    import graft.ops.Graph
    // path-ish graph: edges 1-2, 1-3, 2-3, 3-4 (+ noise: dup, reversed,
    // self loop). Non-adjacent pairs sharing a neighbor: (1,4) via 3 and
    // (2,4) via 3 — both jaccard 1/2. Adjacent pairs must not appear.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (2L, 1L), (4L, 4L)
    ).toDF("src", "dst")
    val got = Graph.jaccardLinks(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // deg: 1->2, 2->2, 3->3, 4->1
    assert(got == Map(
      (1L, 4L) -> ((1L, 2L, 1L, 500000000L)),
      (2L, 4L) -> ((1L, 2L, 1L, 500000000L))), s"$got")
  }

  test("personalizedPageRank: teleport lands only on seeds, exact nanos") {
    import graft.ops.Graph
    // 1 -> 2 -> 1 cycle plus 3 -> 1; seed {1}. Hand-computed two exact
    // integer iterations: r2(1) = 0.15 + 0.85*0.85, r2(2) = 0.85*0.15,
    // r2(3) = 0 (never seeded, no inflow).
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("id")
    val got = Graph.personalizedPageRankNano(edges, seeds, iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 872500000L, 2L -> 127500000L, 3L -> 0L), s"$got")
  }

  test("labelPropagation: two bridged triangles settle into two communities") {
    import graft.ops.Graph
    // triangles {1,2,3} and {4,5,6} joined by bridge 3-4; node 7 has
    // only a self loop (no real neighbors -> keeps its own label).
    // Hand-traced 3 synchronous min-tie-break rounds: left triangle
    // converges to label 1, right to label 3 (the bridge keeps pulling
    // 4's side toward the smaller ids). Dup/reversed edges are no-ops.
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L),
      (4L, 5L), (5L, 6L), (6L, 4L),
      (3L, 4L), (7L, 7L)
    ).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L, 7L -> 7L), s"$got")
    // synchronous update = layout-independent
    val again = Graph.labelPropagation(edges.repartition(7), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("jaccardThresholdSweep: exact-dup pair survives 100%, counts monotone") {
    val out = Dedup.jaccardThresholdSweep(docs, "text", "doc_id",
        shingleK = 2, thresholdsPct = Seq(25L, 50L, 100L))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(100L) == ((1L, 2L)), s"only the exact dup at 100%: $out")
    assert(out(25L)._1 >= out(50L)._1 && out(50L)._1 >= out(100L)._1)
    assert(out(25L)._2 >= out(50L)._2 && out(50L)._2 >= out(100L)._2)
  }

  test("mine_transitions counts planted sequences with exact probabilities") {
    // user 1: v,c,v,c,v -> v->c x2, c->v x2; user 2: v,p -> v->p x1
    // P(c|v) = 2/3, P(p|v) = 1/3, P(v|c) = 1
    val dir = java.nio.file.Files.createTempDirectory("graft_trans").toString
    import spark.implicits._
    Seq(
      (1L, 1L, 1L, "view", 1.0, "{}"), (2L, 2L, 1L, "click", 1.0, "{}"),
      (3L, 3L, 1L, "view", 1.0, "{}"), (4L, 4L, 1L, "click", 1.0, "{}"),
      (5L, 5L, 1L, "view", 1.0, "{}"),
      (6L, 1L, 2L, "view", 1.0, "{}"), (7L, 2L, 2L, "purchase", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("mine_transitions")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map(
      ("view", "click") -> ((2L, 2.0 / 3.0)),
      ("view", "purchase") -> ((1L, 1.0 / 3.0)),
      ("click", "view") -> ((2L, 1.0))), s"got $out")
  }

  test("shingle pair family matches brute force on a seeded random corpus") {
    import graft.ops.Dedup
    // 40 docs over a 6-word vocab (seeded): dense shingle collisions
    // exercise every pair route; planted single-word / whitespace-only
    // docs exercise the short-doc and empty routes
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val docs = (0 until 40).map { i =>
      val n = 1 + rnd.nextInt(8)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } :+ (98L, "   ") :+ (99L, "solo")
    val df = docs.toDF("doc_id", "text")
    def shingleSet(t: String): Set[String] = {
      val ws = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      if (ws.isEmpty) Set.empty
      else if (ws.length < 2) Set(ws.mkString(" "))
      else ws.sliding(2).map(_.mkString(" ")).toSet
    }
    val sets = docs.map { case (id, t) => id -> shingleSet(t) }.toMap
    val ids = docs.map(_._1)
    def pairs = for {
      a <- ids; b <- ids if a < b
      sa = sets(a); sb = sets(b)
      inter = (sa & sb).size if inter > 0
    } yield (a, b, sa.size, sb.size, inter)
    val expJ = pairs.flatMap { case (a, b, na, nb, i) =>
      val j = i.toDouble / (na + nb - i).toDouble
      if (j >= 0.3) Some((a, b) -> j) else None
    }.toMap
    val gotJ = Dedup.ngramJaccardPairs(df, "text", "doc_id",
        shingleK = 2, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(gotJ == expJ, s"jaccard: got ${gotJ.size}, want ${expJ.size}")
    val expC = pairs.flatMap { case (a, b, na, nb, i) =>
      val (cab, cba) = (i.toDouble / na.toDouble, i.toDouble / nb.toDouble)
      if (cab >= 0.5 || cba >= 0.5) Some((a, b) -> ((cab, cba))) else None
    }.toMap
    val gotC = Dedup.containmentPairs(df, "text", "doc_id",
        shingleK = 2, minContainment = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(gotC == expC, s"containment: got ${gotC.size}, want ${expC.size}")
  }

  test("containmentPairs flags a quoted doc that Jaccard misses") {
    import graft.ops.Dedup
    // doc 1 = 4 words (3 bigram shingles), fully quoted inside doc 2's 20
    // words: containment(1 in 2) = 1.0 while jaccard = 3/19 ~ 0.16
    val quoted = "alpha beta gamma delta"
    val long = quoted + " " + (1 to 16).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, quoted), (2L, long), (3L, "unrelated text entirely"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "text", "doc_id",
        shingleK = 2, minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    assert(out.keySet == Set((1L, 2L)), s"got $out")
    assert(out((1L, 2L))._1 == 1.0) // all of doc 1's shingles in doc 2
    assert(out((1L, 2L))._2 == 3.0 / 19.0)
    // the same pair is far below a 0.9 jaccard bar
    val j = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      shingleK = 2, minJaccard = 0.9)
    assert(j.count() == 0)
  }

  test("rangeSearch returns exactly the pairs past the threshold") {
    import graft.ops.Similarity
    // planted geometry on 4 dims: q0=(1,0,0,0); c1 aligned (cos 1),
    // c2 at 60 degrees (cos .5), c3 orthogonal (cos 0), c4 opposite
    // (cos -1), c5 zero-norm (NULL, dropped), c6 ragged (dropped)
    val rows = Seq[(Long, Seq[java.lang.Float])](
      (0L, Seq[java.lang.Float](1f, 0f, 0f, 0f)),
      (1L, Seq[java.lang.Float](2f, 0f, 0f, 0f)),
      (2L, Seq[java.lang.Float](0.5f, 0.8660254f, 0f, 0f)),
      (3L, Seq[java.lang.Float](0f, 1f, 0f, 0f)),
      (4L, Seq[java.lang.Float](-1f, 0f, 0f, 0f)),
      (5L, Seq[java.lang.Float](0f, 0f, 0f, 0f)),
      (6L, Seq[java.lang.Float](1f, 0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.rangeSearch(rows, rows.where(col("vec_id") === 0L),
        tau = 0.4)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(out.keySet == Set(1L, 2L), s"got $out")
    assert(out(1L) == 1.0)
    assert(math.abs(out(2L) - 0.5) < 1e-6)
    // threshold is inclusive: tau exactly at a pair's cosine keeps it
    val incl = Similarity.rangeSearch(rows,
        rows.where(col("vec_id") === 0L), tau = 1.0)
      .collect().map(_.getLong(1)).toSet
    assert(incl == Set(1L))
  }

  test("pcTop recovers two planted directions, orthogonal, variance-ordered") {
    import graft.ops.EmbeddingAgg
    val dim = 8
    // strong spread along axis 0, weaker along axis 1, tiny noise on 2
    val rows = (0 until 400).map { t =>
      val s0 = ((t % 21) - 10.0) * 2.0
      val s1 = ((t / 21 % 11) - 5.0) * 0.5
      val noise = ((t % 7) - 3.0) * 0.001
      val v = Array.tabulate(dim) {
        case 0 => s0
        case 1 => s1
        case 2 => noise
        case _ => 0.0
      }
      Tuple1(v.map(_.toFloat))
    }.toDF("embedding")
    val cov = EmbeddingAgg.covarianceUpper(rows, "embedding", dim)
    val pcs = EmbeddingAgg.pcTop(cov, dim, k = 2)
    val (v1, l1) = pcs(0)
    val (v2, l2) = pcs(1)
    assert(l1 > l2 && l2 > 0, s"eigenvalues not ordered: $l1, $l2")
    assert(math.abs(v1(0)) > 0.999, s"pc1 off axis 0: ${v1.mkString(",")}")
    assert(math.abs(v2(1)) > 0.999, s"pc2 off axis 1: ${v2.mkString(",")}")
    val ortho = v1.zip(v2).map { case (a, b) => a * b }.sum
    assert(math.abs(ortho) < 1e-9, s"components not orthogonal: $ortho")
    // pcTop's first component is exactly pc1 (same matrix, same loop)
    val p1 = EmbeddingAgg.pc1(cov, dim)
    assert(v1.sameElements(p1))
  }

  test("pc1 projection ranks points by their planted-direction coordinate") {
    import graft.ops.EmbeddingAgg
    val dim = 8
    val rows = (0 until 100).map { t =>
      val scale = (t % 11) - 5.0
      val v = Array.tabulate(dim)(i =>
        if (i == 0 || i == 1) scale / math.sqrt(2.0) else 0.0)
      (t.toLong, v.map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val cov = EmbeddingAgg.covarianceUpper(rows, "embedding", dim)
    val pc = EmbeddingAgg.pc1(cov, dim)
    val pcLit = array(pc.map(x => lit(x)): _*)
    val scores = rows.select(col("vec_id"),
        graft.functions.Vectors.dot(
          graft.functions.Vectors.asDouble(col("embedding")), pcLit)
          .as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // projection must be monotone in the planted coordinate: score of a
    // point at scale k is ~k (pc aligned with d), so ordering by score
    // equals ordering by (t % 11)
    (0 until 100).foreach { t =>
      val k = (t % 11) - 5.0
      assert(math.abs(scores(t.toLong) - k) < 0.01,
        s"vec $t: score ${scores(t.toLong)} vs planted $k")
    }
    // degenerate rows -> NULL score (null vec, ragged, null element)
    val bad = Seq[(Long, Seq[java.lang.Float])](
      (900L, null),
      (901L, Seq[java.lang.Float](1f, 2f)),
      (902L, Seq.tabulate[java.lang.Float](dim)(i => if (i == 3) null else 1f))
    ).toDF("vec_id", "embedding")
    val badScores = bad.select(col("vec_id"),
        graft.functions.Vectors.dot(
          graft.functions.Vectors.asDouble(col("embedding")), pcLit).as("s"))
      .collect()
    badScores.foreach(r => assert(r.isNullAt(1), s"vec ${r.getLong(0)}"))
  }

  test("TopKAggStr matches the row_number window form (string ids, ties, nulls)") {
    import org.apache.spark.sql.expressions.Window
    // engineered score ties force the string tie-break; planted nulls
    // rank last; 8 partitions force partial+final buffer merges
    val scored = spark.range(200)
      .select(
        (col("id") % 3).as("g"),
        // id DIV 3 -> unique term per group (no dedup nondeterminism)
        concat(lit("term_"), lpad(expr("id DIV 3").cast("string"), 3, "0")).as("cand"),
        when(col("id") % 11 === 0, lit(null).cast("double"))
          .otherwise((col("id") % 7).cast("double")).as("score"))
      .repartition(8)
    val viaAgg = graft.ops.TopK.perGroupTopKStr(scored, Seq("g"), "cand", "score", 5)
      .orderBy("g", "rank").collect().map(_.toSeq)
    val w = Window.partitionBy("g").orderBy(col("score").desc_nulls_last, col("cand").asc)
    val viaWindow = scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select("g", "cand", "score", "rank")
      .orderBy("g", "rank").collect().map(_.toSeq)
    assert(viaAgg.toSeq == viaWindow.toSeq)
  }

  test("MinHashMerge aggregator: group signature = elementwise min of members") {
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", 8, 3)
      .withColumn("grp", when($"doc_id" <= 3, "a").otherwise("b"))
    val merged = sigs.groupBy("grp")
      .agg(graft.ops.MinHashMerge.minhashMerge(8)($"sig").as("gsig"))
      .collect().map(r => r.getString(0) ->
        r.getAs[scala.collection.Seq[Long]]("gsig").toSeq).toMap
    val perDoc = sigs.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[scala.collection.Seq[Long]]("sig").toSeq).toMap
    val expectA = (0 until 8).map(i =>
      Seq(perDoc(1L)(i), perDoc(2L)(i), perDoc(3L)(i)).min)
    assert(merged("a") == expectA)
    val expectB = (0 until 8).map(i => Seq(perDoc(4L)(i), perDoc(5L)(i)).min)
    assert(merged("b") == expectB)
  }

  test("as-of join picks the latest right row at-or-before each left ts") {
    val views = Seq((1L, 100L, "v1"), (1L, 200L, "v2"), (1L, 50L, "v0"),
      (2L, 100L, "w1")).toDF("user_id", "ts", "view_id")
    val purchases = Seq((1L, 100L, 10.0), (1L, 150L, 15.0), (3L, 1L, 99.0))
      .toDF("user_id", "ts", "amount")
    val out = graft.ops.AsOfJoin.asOf(views, purchases,
      Seq("user_id"), "ts", Seq("amount"))
      .orderBy("user_id", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    assert(out.toSeq == Seq(
      (1L, 50L, "v0", None),          // no purchase yet
      (1L, 100L, "v1", Some(10.0)),   // exact-time match counts (<=)
      (1L, 200L, "v2", Some(15.0)),   // latest prior wins
      (2L, 100L, "w1", None)))        // user has no purchases
  }

  test("fuzzyDedup keeps one canonical doc per exact+near-dup cluster") {
    val survivors = Dedup.fuzzyDedup(docs, "text", "doc_id",
      numHashes = 16, bands = 8, shingleK = 3, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    // 1,2 exact dups; 3 near-dup of 1 -> cluster {1,2,3} keeps 1
    assert(survivors.toSeq == Seq(1L, 4L, 5L))
  }

  test("ANN recall vs brute force on the real embedding table") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where($"vec_id" < 10)
    def resultSet(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = resultSet(Similarity.bruteForceTopK(emb, queries, 10))
    // bits sized to the corpus: 2^4 = 16 buckets over 500 vectors keeps
    // ~30 candidates per probe (8 bits = 256 buckets starves recall: 0.03)
    val lsh = resultSet(Similarity.lshTopK(emb, queries, 10, dim = 64,
      bits = 4, probes = 3))
    val ivf = resultSet(Similarity.ivfTopK(emb, queries, 10,
      nCells = 16, nProbe = 4))
    val ivfTrained = resultSet(Similarity.ivfTopKTrained(emb, queries, 10,
      nCells = 16, nProbe = 4, iters = 2))
    val lshRecall = (lsh & brute).size.toDouble / brute.size
    val ivfRecall = (ivf & brute).size.toDouble / brute.size
    val trainedRecall = (ivfTrained & brute).size.toDouble / brute.size
    info(f"recall@10 on 500 vectors: lsh=$lshRecall%.2f ivf=$ivfRecall%.2f " +
      f"ivfTrained=$trainedRecall%.2f")
    // approximate methods must beat random chance (10/500 = 2%) by a lot
    assert(lshRecall > 0.05 && ivfRecall > 0.05 && trainedRecall > 0.05)
    assert(lsh.subsetOf(brute) || lsh.nonEmpty) // sanity: non-degenerate

    // sq8: with rerank >= corpus size the exact rerank sees every vector,
    // so the result must EQUAL brute force (quantization only routed)
    val sqAll = resultSet(Similarity.sq8TopK(emb, queries, 10, rerank = 600))
    assert(sqAll == brute)
    // and at a 4% candidate budget the int8 approximation still recalls most
    val sq = resultSet(Similarity.sq8TopK(emb, queries, 10, rerank = 20))
    val sqRecall = (sq & brute).size.toDouble / brute.size
    info(f"sq8 recall@10 with rerank=20 on 500 vectors: $sqRecall%.2f")
    assert(sqRecall > 0.8) // int8 error is tiny; near-exact candidates

    // pq: full rerank sees every vector -> must EQUAL brute force
    val pqAll = resultSet(Similarity.pqTopK(emb, queries, 10, rerank = 600))
    assert(pqAll == brute)
    // 64x-compressed ADC ranking at an 8% candidate budget still recalls
    // well above chance (prefix-sample codebooks, not trained — recall is
    // bounded by codebook quality, so the bar is looser than sq8's)
    val pq = resultSet(Similarity.pqTopK(emb, queries, 10, rerank = 40))
    val pqRecall = (pq & brute).size.toDouble / brute.size
    info(f"pq recall@10 with rerank=40 on 500 vectors: $pqRecall%.2f")
    assert(pqRecall > 0.3)

    // Lloyd-trained sub-codebooks reduce quantization error, so recall at
    // the same candidate budget must not drop below the prefix sample's
    val pqT = resultSet(Similarity.pqTopKTrained(emb, queries, 10,
      rerank = 40, iters = 2))
    val pqTRecall = (pqT & brute).size.toDouble / brute.size
    info(f"trained pq recall@10 with rerank=40 on 500 vectors: $pqTRecall%.2f")
    assert(pqTRecall >= pqRecall)
    // full-rerank invariance holds for the trained codebook too
    assert(resultSet(Similarity.pqTopKTrained(emb, queries, 10,
      rerank = 600, iters = 1)) == brute)

    // IVF-PQ compose: probing every cell with full rerank must EQUAL
    // brute force (both prunes disabled -> exact path)
    assert(resultSet(Similarity.ivfPqTopK(emb, queries, 10,
      nCells = 16, nProbe = 16, rerank = 600)) == brute)
    // and at the pruned setting recall stays well above chance
    val ivfpq = resultSet(Similarity.ivfPqTopK(emb, queries, 10,
      nCells = 16, nProbe = 4, rerank = 40))
    val ivfpqRecall = (ivfpq & brute).size.toDouble / brute.size
    info(f"ivf-pq recall@10 (nProbe=4/16, rerank=40) on 500 vectors: $ivfpqRecall%.2f")
    assert(ivfpqRecall > 0.05)
  }

  test("trainedCentroids: deterministic across runs, Lloyd step reduces distortion") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = Similarity.trainedCentroids(emb, nCells = 8, iters = 2)
    val b = Similarity.trainedCentroids(emb, nCells = 8, iters = 2)
    assert(a.map(_._1) == b.map(_._1))
    assert(a.zip(b).forall { case ((_, x), (_, y)) => x.toSeq == y.toSeq })
    // distortion (mean distance to nearest centroid) must not increase
    // from the raw prefix sample to the trained set
    import org.apache.spark.sql.Row
    val vecs = emb.select("embedding").collect()
      .map(r => r.getAs[scala.collection.Seq[Float]](0).map(_.toDouble).toArray)
    def distortion(cents: Seq[(Int, Array[Double])]): Double = {
      val cs = cents.map(_._2).filter(_ != null)
      vecs.map { v =>
        cs.map(c => math.sqrt(v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum)).min
      }.sum / vecs.length
    }
    val init = Similarity.trainedCentroids(emb, nCells = 8, iters = 0)
    info(f"distortion: init=${distortion(init)}%.4f trained=${distortion(a)}%.4f")
    assert(distortion(a) <= distortion(init) + 1e-12)
  }

  test("banded embedding LSH: more bands buy recall at fixed bucket size") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // exact truth: all cosine >= 0.2 pairs (brute all-pairs is fine at test scale)
    val e = emb.select($"vec_id".as("id"), $"embedding".as("v"),
      graft.functions.Vectors.norm2($"embedding").as("n"))
    val truth = e.as("a").crossJoin(e.as("b"))
      .where($"a.id" < $"b.id")
      .where(graft.functions.Vectors.dot($"a.v", $"b.v") / ($"a.n" * $"b.n") >= 0.2)
      .select($"a.id", $"b.id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def found(bands: Int) = Dedup.embeddingNearDups(
      emb, "embedding", "vec_id", dim = 64, bits = 8, bands = bands,
      threshold = 0.2)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r1 = found(1); val r4 = found(4)
    assert(r1.subsetOf(truth) && r4.subsetOf(truth)) // verified: no false positives
    val recall1 = (r1 & truth).size.toDouble / math.max(truth.size, 1)
    val recall4 = (r4 & truth).size.toDouble / math.max(truth.size, 1)
    info(f"near-dup pair recall at bits=8: bands=1 $recall1%.2f, bands=4 $recall4%.2f")
    assert(recall4 >= recall1)   // each band only adds candidates
    assert(recall4 > recall1 || recall1 == 1.0) // and at 8 bits it really does
  }

  test("semantic dedup: drop rule matches a brute within-cell recompute") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val res = Dedup.semanticDedup(emb, "vec_id", "embedding",
      nCells = 8, iters = 1, threshold = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(res.length == emb.count()) // exactly one verdict per vector
    val cellOf = res.map(x => x._1 -> x._2).toMap
    // brute truth, no clustering shortcut: every lower-id pair's cosine
    val e = emb.select($"vec_id".as("id"), $"embedding".as("v"))
    val droppedTruth = e.as("a").crossJoin(e.as("b"))
      .where($"a.id" < $"b.id")
      .select($"a.id".as("ia"), $"b.id".as("ib"),
        graft.functions.Vectors.cosine($"a.v", $"b.v").as("c"))
      .collect()
      .filter(r => !r.isNullAt(2) && r.getDouble(2) >= 0.35)
      .filter(r => cellOf(r.getLong(0)) == cellOf(r.getLong(1)))
      .map(_.getLong(1)).toSet
    res.foreach { case (id, _, kept) =>
      assert(kept == !droppedTruth(id), s"vec $id")
    }
    assert(droppedTruth.nonEmpty) // the drop path really ran
    // consequence: the kept set has no within-cell near-dup pair left
    val keptSet = res.filter(_._3).map(_._1).toSet
    assert(droppedTruth.intersect(keptSet).isEmpty)
  }

  test("language-ID accuracy against the labeled documents table") {
    val docsReal = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val scored = docsReal.select($"lang",
      graft.functions.Text.languageId($"text").as("pred"))
    val n = scored.count().toDouble
    val correct = scored.where($"lang" === $"pred").count().toDouble
    val predDist = scored.groupBy("pred").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    info(f"lang-id vs label=${correct / n}%.2f predictions=$predDist")
    // The synthetic corpus is English word salad under EVERY label (the
    // lang column is arbitrary metadata — verified by inspection), so the
    // honest assertions are: en-labeled docs detect as en, and the
    // classifier never hallucinates other languages from English text.
    val enAcc = scored.where($"lang" === "en")
      .agg(avg(when($"pred" === "en", 1.0).otherwise(0.0))).collect().head.getDouble(0)
    assert(enAcc > 0.8)
    assert(predDist.keySet.subsetOf(Set("en", "und")))
  }

  test("language-ID recovers planted non-English text") {
    val planted = Seq(
      ("der hund und die katze sind nicht mit dem ball", "de"),
      ("le chat et le chien sont dans la maison pour un moment", "fr"),
      ("el perro y el gato son los animales para la casa", "es"),
      ("the dog and the cat are in the house for a while", "en"))
    val got = planted.map(_._1).toDF("text")
      .select(graft.functions.Text.languageId($"text")).as[String].collect()
    assert(got.toSeq == planted.map(_._2))
  }

  test("minhash signature agreement estimates true jaccard") {
    // near-dups doc1/doc3 share most shingles; estimate = fraction of
    // agreeing minhash slots, which converges on the true jaccard
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", 128, 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[Long]]("sig").toSeq).toMap
    val est = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b } / 128.0
    val truth = Dedup.ngramJaccardPairs(docs.where($"doc_id".isin(1L, 3L)),
      "text", "doc_id", 3, 0.0).collect().head.getDouble(2)
    info(f"minhash jaccard estimate=$est%.3f true=$truth%.3f")
    assert(math.abs(est - truth) < 0.2) // 128 hashes: stderr ~ 0.044
  }

  test("clusterNearDups labels each doc with its component's minimum id") {
    val ids = (1L to 8L).toDF("id")
    // components: {1,2,3} (chain), {4,5}, {6}, {7,8}
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (7L, 8L)).toDF("id_a", "id_b")
    val got = Dedup.clusterNearDups(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 6L, 7L -> 7L, 8L -> 7L))
  }

  test("clusterNearDups: 14-round chain converges with a bounded plan") {
    // A 15-node chain has diameter 14: each contraction round plans its
    // joins over the previous round's edges, so uncut lineage would nest
    // deeper per round. The eager localCheckpoint after every round bounds
    // the plan. Threshold -1 keeps the graph on the star loop.
    val ids = (0L to 14L).toDF("id")
    val pairs = (0L until 14L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    onStarLoop {
      val out = Dedup.clusterNearDups(ids, pairs, maxIters = 20)
      assert(out.collect().forall(_.getLong(1) == 0L)) // one component, min id 0
      // Lineage was truncated: the final plan must not nest ~14 joins.
      val planDepth = out.queryExecution.optimizedPlan.collect { case p => p }.size
      assert(planDepth < 30, s"plan has $planDepth nodes - lineage not truncated")
    }
  }

  /** Runs `body` with `spark.sql.autoBroadcastJoinThreshold` at -1, which
    * keeps [[Dedup.clusterNearDups]] off its driver union-find path. */
  private def onStarLoop[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  private def permutedChain(n: Long): org.apache.spark.sql.DataFrame = {
    val perm = new scala.util.Random(7).shuffle((0L until n).toVector)
    perm.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("id_a", "id_b")
  }

  test("clusterNearDups: driver union-find labels equal the star loop's") {
    def labels(ids: org.apache.spark.sql.DataFrame,
        pairs: org.apache.spark.sql.DataFrame) = {
      val out = Dedup.clusterNearDups(ids, pairs, maxIters = 20)
      (out.schema, out.collect().map(r => r.get(0) -> r.get(1)).toMap)
    }
    def parity(ids: org.apache.spark.sql.DataFrame,
        pairs: org.apache.spark.sql.DataFrame): Map[Any, Any] = {
      val (driverSchema, driver) = labels(ids, pairs)
      val (loopSchema, loop) = onStarLoop(labels(ids, pairs))
      assert(driverSchema == loopSchema)
      assert(driver == loop)
      driver
    }
    // the 8-node components, the 15-chain, the permuted 400-chain
    assert(parity((1L to 8L).toDF("id"),
      Seq((1L, 2L), (2L, 3L), (4L, 5L), (7L, 8L)).toDF("id_a", "id_b")) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L,
        7L -> 7L, 8L -> 7L))
    assert(parity((0L to 14L).toDF("id"),
      (0L until 14L).map(i => (i, i + 1)).toDF("id_a", "id_b"))
      .values.toSet == Set(0L))
    assert(parity((0L until 400L).toDF("id"), permutedChain(400))
      .values.toSet == Set(0L))
    // Int ids keep their type on both paths
    assert(parity(Seq(5, 3, 9, 1, 7).toDF("id"),
      Seq((9, 3), (3, 5), (7, 7)).toDF("id_a", "id_b")) ==
      Map(5 -> 3, 3 -> 3, 9 -> 3, 1 -> 1, 7 -> 7))
    // String ids: the minimum follows Spark's string order
    assert(parity(Seq("n10", "n9", "n2", "x").toDF("id"),
      Seq(("n9", "n10"), ("n2", "n9")).toDF("id_a", "id_b")) ==
      Map("n10" -> "n10", "n9" -> "n10", "n2" -> "n10", "x" -> "x"))
    // no pairs: every id labels itself
    assert(parity((1L to 3L).toDF("id"),
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")) ==
      Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("clusterNearDups: integral ids under the threshold skip the star loop; strings keep it") {
    // maxIters = 1 cuts the loop off before an 8-chain's fixed point, so
    // it throws exactly when the loop runs.
    val chain = (0L until 7L).map(i => (i, i + 1))
    val driver = Dedup.clusterNearDups((0L to 7L).toDF("id"),
      chain.toDF("id_a", "id_b"), maxIters = 1).collect()
    assert(driver.forall(_.getLong(1) == 0L))
    intercept[IllegalStateException] {
      Dedup.clusterNearDups((0L to 7L).map(i => s"n$i").toDF("id"),
        chain.map { case (a, b) => (s"n$a", s"n$b") }.toDF("id_a", "id_b"),
        maxIters = 1)
    }
  }

  test("fuzzyDedup: a small near-dup graph runs fewer Spark jobs than the star loop") {
    // Guards the driver path from a refactor that brings the contraction
    // rounds back for small graphs. The loop's >= 2 rounds of ~10 stage
    // jobs each more than double this fixture's job count (14 vs 36 on
    // Spark 4.1); a plain `<` would not catch them, since threshold -1
    // also trades broadcast joins for sort-merge joins, which alone adds
    // a couple of shuffle jobs.
    def run(): Unit = {
      val kept = Dedup.fuzzyDedup(docs, "text", "doc_id",
        numHashes = 16, bands = 8, shingleK = 3, threshold = 0.5)
        .select("doc_id").as[Long].collect().sorted
      assert(kept.toSeq == Seq(1L, 4L, 5L))
    }
    val driver = jobsDuring(run())
    val loop = jobsDuring(onStarLoop(run()))
    info(s"fuzzyDedup jobs: driver path $driver, star loop $loop")
    assert(2 * driver <= loop, s"driver path ran $driver jobs, star loop $loop")
  }

  test("groupK selection is identical under any partitioning") {
    import graft.ops.Sampling
    val docs = spark.range(500)
      .select(col("id").as("doc_id"), (col("id") % 5).cast("string").as("lang"))
    def sel(parts: Int) = Sampling.groupK(
      docs.repartition(parts), "lang", "doc_id", k = 7)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val one = sel(1)
    assert(one.size == 35 && sel(32) == one)
  }

  test("quotaBudget keeps the maximal hash-order prefix within budget") {
    import graft.ops.Sampling
    import graft.functions.StableHash
    val docs = spark.range(300)
      .select(col("id").as("doc_id"),
        (col("id") % 4).cast("string").as("source"),
        (col("id") % 37 + 1).as("n_chars"))
    val kept = Sampling.quotaBudget(docs, "source", "doc_id", "n_chars",
        budget = 200L)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(3)))
    // replay the greedy scan per group from the same stable hash order
    val order = docs
      .withColumn("__h", StableHash.hash60(col("doc_id"), 0))
      .collect()
      .map(r => (r.getString(1), r.getLong(3), r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (src, rows) =>
        src -> rows.sortBy(r => (r._2, r._3)).map(r => (r._3, r._4))
      }
    val expected = order.toSeq.flatMap { case (src, rows) =>
      var cum = 0L
      rows.takeWhile { case (_, n) => cum += n; cum <= 200L }
        .scanLeft((src, -1L, 0L)) { case ((_, _, c), (id, n)) =>
          (src, id, c + n)
        }.drop(1)
    }.toSet
    assert(kept.toSet == expected, "kept set/cumsums differ from greedy replay")
    assert(kept.forall(_._3 <= 200L))
    // layout-independent: same selection under a different partitioning
    val reparted = Sampling.quotaBudget(docs.repartition(13),
        "source", "doc_id", "n_chars", budget = 200L)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(3))).toSet
    assert(reparted == kept.toSet)
  }

  test("matchDistribution: binding bucket keeps all, off-ref drops, exact rule") {
    import graft.ops.Sampling
    import graft.functions.StableHash
    // source: A=8 rows, B=4, C=3; reference: A=2, B=2 (C absent).
    // ratios n/m: A=4, B=2 -> B binds (keeps 100%); A accepts iff
    // h mod (2*8) < 4*2 (p=1/2); C has target share 0 and drops.
    val src = (
      (0L until 8L).map(i => (i, "A")) ++
      (100L until 104L).map(i => (i, "B")) ++
      (200L until 203L).map(i => (i, "C"))).toDF("doc_id", "bucket")
    val ref = Seq((0L, "A"), (1L, "A"), (2L, "B"), (3L, "B"))
      .toDF("doc_id", "bucket")
    val kept = Sampling.matchDistribution(src, ref, "bucket", "doc_id")
      .select("bucket", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(kept.filter(_._1 == "B").map(_._2) ==
      (100L until 104L).toSet, s"binding bucket must keep all: $kept")
    assert(!kept.exists(_._1 == "C"), s"off-reference bucket must drop: $kept")
    // replay the exact rational rule for bucket A from the same hash
    val hs = src.where($"bucket" === "A")
      .select($"doc_id", pmod(StableHash.hash60($"doc_id", 0), lit(16L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expectA = hs.filter(_._2 < 8L).keySet
    assert(kept.filter(_._1 == "A").map(_._2) == expectA)
    // layout-independent
    val reparted = Sampling
      .matchDistribution(src.repartition(7), ref, "bucket", "doc_id")
      .select("bucket", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(reparted == kept)
  }

  test("multi-pass SNM output is the union of its single passes") {
    val d = (0L until 60L).map(i => (i, s"w${i % 7} body${i / 3} tail$i"))
      .toDF("doc_id", "text")
    val p1 = (substring($"text", 1, 4), lit(""))
    val p2 = (substring($"text", 6, 6), lit(""))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(least($"id_a", $"id_b"), greatest($"id_a", $"id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = canon(Dedup.sortedNeighborhood(d, "doc_id", p1._1, p1._2, 3)) ++
      canon(Dedup.sortedNeighborhood(d, "doc_id", p2._1, p2._2, 3))
    val multi = Dedup.multiPassSortedNeighborhood(d, "doc_id", Seq(p1, p2), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(multi == single)
  }

  test("multi-pass SNM finds the pair the first ordering separates") {
    val d = Seq(
      (1L, "aaaa zzzz"), // prefix-sorted: 1,2,3 — suffix-sorted: 3,1,2
      (2L, "bbbb zzzz"),
      (3L, "cccc qqqq")
    ).toDF("doc_id", "text")
    val byPrefix = substring($"text", 1, 4)
    val bySuffix = substring($"text", 6, 4)
    val got = Dedup.multiPassSortedNeighborhood(d, "doc_id",
      Seq((byPrefix, lit("")), (bySuffix, lit(""))), window = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getInt(3)))
      .toMap
    // (1,3) is adjacent ONLY in the suffix ordering (3 sorts before 1)
    assert(got((1L, 3L)) == (1L, 1))
    // (1,2) is adjacent in BOTH orderings -> n_passes 2
    assert(got((1L, 2L)) == (2L, 1))
    // (2,3) only in the prefix ordering
    assert(got((2L, 3L)) == (1L, 1))
    assert(got.size == 3)
  }

  test("clusterNearDups refuses to mislabel when maxIters cuts off convergence") {
    // An 8-node chain needs >1 alternating-star round; with maxIters = 1
    // the old code fell through to the final groupBy/min and returned
    // silently wrong labels. Now it must throw. Threshold -1 keeps the
    // graph on the star loop (the driver path has no rounds to cut off).
    val ids = (0L to 7L).toDF("id")
    val pairs = (0L until 7L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      onStarLoop(Dedup.clusterNearDups(ids, pairs, maxIters = 1).collect())
    }
    assert(e.getMessage.contains("maxIters") || e.getMessage.contains("rounds"))
  }

  test("decontaminate flags shingle overlap with the benchmark, not incidental words") {
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val train = Seq(
      (1L, "a quick brown fox appeared"),        // shares "quick brown fox"
      (2L, "quick dog and lazy fox"),            // shared words, no shared trigram
      (3L, "totally unrelated text here indeed"),
      (4L, ""),                                  // no shingles at all
      (5L, "over the lazy dog today")            // shares two trigrams
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.decontaminate(train, bench)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 1L, 1),
      (2L, 3L, 0L, 0),
      (3L, 3L, 0L, 0),
      (4L, 0L, 0L, 0),
      (5L, 3L, 2L, 1)))
  }

  test("weightedK: portable ln accurate, selection weight-monotone and deterministic") {
    import graft.ops.Sampling
    // portable ln vs Math.log over the domain [1, 2^60]
    val ns = Seq(1L, 2L, 3L, 7L, 255L, 256L, 1000003L,
      (1L << 40) - 1L, (1L << 59) + 12345L, 1L << 60)
    val lnRows = Sampling.portableLnStages(ns.toDF("__n"), "__n")
      .select($"__n", $"__ln").collect()
    lnRows.foreach { r =>
      val err = math.abs(r.getDouble(1) - math.log(r.getLong(0).toDouble))
      assert(err < 5e-8, s"portable ln off by $err at n=${r.getLong(0)}")
    }

    // one overwhelming weight is (essentially) always sampled
    val rows = (0L until 1000L).map(i =>
      (i, if (i == 417L) 1000000L else 1L)).toDF("id", "w")
    val top = Sampling.weightedK(rows, "id", "w", k = 10)
    assert(top.where($"id" === 417L).count() == 1)

    // 10x weights dominate the sample far beyond their population share
    val tiered = (0L until 1000L).map(i =>
      (i, if (i < 500L) 10L else 1L)).toDF("id", "w")
    val heavy = Sampling.weightedK(tiered, "id", "w", k = 100)
      .where($"id" < 500L).count()
    assert(heavy > 75, s"only $heavy/100 heavy-weight rows sampled")

    // deterministic across runs; k >= n returns every positive-weight row
    val a = Sampling.weightedK(tiered, "id", "w", 20).collect().toSeq
    val b = Sampling.weightedK(tiered, "id", "w", 20).collect().toSeq
    assert(a == b)
    val mixed = Seq((1L, 5L), (2L, 0L), (3L, -4L), (4L, 2L))
      .toDF("id", "w")
    assert(Sampling.weightedK(mixed, "id", "w", 100)
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L, 4L))
  }

  test("packing: two-phase prefix sum matches serial cumsum for every partition count") {
    import graft.ops.Packing
    val rows = Seq(
      (0L, 5L), (1L, 0L), (2L, 600L), (3L, 7L), (4L, 0L),
      (5L, 512L), (6L, 1L), (7L, 1023L), (8L, 3L), (9L, 2L)
    ).toDF("id", "n")
    // serial reference
    val ns = rows.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val serial = ns.scanLeft(0L)(_ + _._2).init.zip(ns)
      .map { case (off, (id, n)) => id -> (n, off) }.toMap
    for (p <- Seq(1, 3, 7, 32)) {
      val got = Packing.packSequences(rows, "id", "n", seqLen = 512, numParts = p)
        .orderBy("id").collect()
      got.foreach { r =>
        val (id, n, off) = (r.getLong(0), r.getLong(1), r.getLong(2))
        assert((n, off) == serial(id), s"id=$id parts=$p")
        assert(r.getLong(3) == off / 512)
        if (n == 0) assert(r.isNullAt(4))
        else assert(r.getLong(4) == (off + n - 1) / 512)
      }
    }
    // scale guard: the plan must never collapse to a single-partition
    // global window (the shape the operator exists to avoid)
    val plan = Packing.globalOffsets(rows, "id", "n", numParts = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan.take(600))
  }

  test("packing offsets survive re-execution and skewed boundary ties") {
    import graft.ops.Packing
    // 500 ids bunched so several quantile boundaries coincide
    // (bounds.distinct path) — and n big enough that one misplaced row
    // is visible in every later offset. The physical-partition-id
    // formulation this replaced could partition the totals pass and the
    // join pass differently (RDD-id-seeded range sampling); bucketing by
    // a pure function of the id makes the two passes agree by
    // construction — asserted by executing the SAME frame twice.
    val rows = (0 until 500)
      .map(i => (i.toLong / 50 * 1000 + i % 50, (i % 7).toLong + 1))
      .toDF("id", "n")
    val df = Packing.globalOffsets(rows, "id", "n", numParts = 16)
      .select("id", "tok_offset")
    val first = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val second = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(first.sameElements(second), "offsets changed across executions")
    val ns = rows.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val serial = ns.scanLeft(0L)(_ + _._2).init.zip(ns)
      .map { case (off, (id, _)) => id -> off }.toMap
    first.foreach { case (id, off) =>
      assert(off == serial(id), s"id=$id off=$off expected=${serial(id)}")
    }
  }

  test("sharding: stable assignment, full coverage, sharded write round-trips") {
    import graft.ops.Sharding
    val rows = (0L until 500L).map(i => (i, i * 3 % 17)).toDF("id", "sz")
    val a = Sharding.assign(rows, "id", 8)
    val shards = a.select("shard").distinct().collect().map(_.getLong(0)).toSet
    assert(shards.subsetOf((0L until 8L).toSet) && shards.size == 8)
    assert(a.count() == 500) // exactly one shard per row
    // same ids -> same shards, independent of partitioning
    val b = Sharding.assign(rows.repartition(13), "id", 8)
      .select("id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val aMap = a.select("id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(aMap == b)
    // statistical balance: no shard more than 2x the mean
    val counts = Sharding.stats(rows, "id", "sz", 8)
      .select("n_rows").collect().map(_.getLong(0))
    assert(counts.max < 2 * (500 / 8), s"imbalanced: ${counts.toSeq}")

    val dir = java.nio.file.Files.createTempDirectory("graft_shard_test").toString
    Sharding.writeSharded(rows, "id", 4, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 500)
    assert(back.select("shard").distinct().count() == 4)
    assert(new java.io.File(s"$dir/shard=0").isDirectory)
  }

  test("operators tolerate empty inputs (no crash, empty/zero outputs)") {
    val noDocs = docs.where(lit(false))
    assert(Dedup.exact(noDocs, "text", "doc_id").count() == 0)
    assert(Dedup.minhashSignatures(noDocs, "text", "doc_id", 4, 3).count() == 0)
    assert(Dedup.ngramJaccardPairs(noDocs, "text", "doc_id", 2, 0.1).count() == 0)
    assert(graft.ops.TextAnalysis.profile(noDocs).count() == 0)
    val noVecs = vecs.where(lit(false))
    assert(Similarity.bruteForceTopK(vecs, noVecs, 5).count() == 0) // no queries
    assert(Similarity.bruteForceTopK(noVecs, vecs, 5).count() == 0) // no corpus
    // k larger than the corpus: returns everything, ranked
    val all = Similarity.bruteForceTopK(vecs, vecs.where($"vec_id" === 0), 100)
    assert(all.count() == 4)
  }

  test("bucketed range join equals the naive inequality join") {
    val points = (1 to 500).map(i => (i % 5L, i * 10L, i.toLong))
      .toDF("k", "t", "pid")
    val ivals = Seq((0L, 100L, 300L, 1L), (0L, 250L, 260L, 2L),
      (1L, 0L, 5000L, 3L), (9L, 0L, 10L, 4L))
      .toDF("k", "s", "e", "iid")
    val naive = points.join(ivals, Seq("k"))
      .where($"t" >= $"s" && $"t" <= $"e")
      .select("k", "pid", "iid").orderBy("k", "pid", "iid")
      .collect().map(_.toSeq).toSeq
    val bucketed = graft.ops.RangeJoin.bucketedRangeJoin(
      points, ivals, Seq("k"), "t", "s", "e", bucket = 128)
      .select("k", "pid", "iid").orderBy("k", "pid", "iid")
      .collect().map(_.toSeq).toSeq
    assert(bucketed == naive)
    assert(bucketed.nonEmpty)
  }

  test("salted join is row-identical to the plain join (skew spread only)") {
    val skewed = (1 to 1000).map(i => (if (i <= 900) "hot" else s"k$i", i))
      .toDF("k", "v")
    val dim = Seq(("hot", "H"), ("k950", "X"), ("miss", "M")).toDF("k", "name")
    val plain = skewed.join(dim, Seq("k")).orderBy("k", "v")
      .collect().map(_.toSeq).toSeq
    val salted = graft.ops.SkewJoin.saltedInnerJoin(skewed, dim, Seq("k"), 8)
      .select("k", "v", "name").orderBy("k", "v")
      .collect().map(_.toSeq).toSeq
    assert(salted == plain)
    assert(salted.count(_.head == "hot") == 900)
  }

  test("saltedSumCount equals the plain groupBy (hot key spread only)") {
    import graft.ops.SkewJoin
    val df = ((1 to 900).map(_ => ("hot", 3L)) ++
      (1 to 100).map(i => (s"k${i % 7}", i.toLong)))
      .toDF("k", "v").repartition(8)
    val salted = SkewJoin.saltedSumCount(df, Seq("k"), "v", saltBuckets = 4)
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val plain = df.groupBy("k")
      .agg(sum($"v").as("s"), count(lit(1)).as("n"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(salted.toSeq == plain.toSeq)
  }

  test("decodeImage reads real PNG/JPEG dimensions; non-images fall back deterministically") {
    import java.awt.image.BufferedImage
    def encoded(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      img.setRGB(1, 1, 0xFF8800) // non-trivial pixel content
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos))
      bos.toByteArray
    }
    val junk = "definitely not an image payload".getBytes("UTF-8")
    val media = Seq(
      (1L, encoded("png", 17, 23)),
      (2L, junk),
      (3L, encoded("jpg", 40, 9)))
      .toDF("media_id", "bytes")
    val out = Multimodal.decodeImage(spark, media).orderBy("media_id").collect()
    assert((out(0).getInt(1), out(0).getInt(2), out(0).getInt(3)) == (17, 23, 1))
    assert((out(2).getInt(1), out(2).getInt(2)) == (40, 9))
    // fallback: deterministic length-derived dimensions (round-1 contract)
    val n = junk.length
    assert((out(1).getInt(1), out(1).getInt(2), out(1).getInt(3)) ==
      (64 + (n % 512), 64 + ((n / 7) % 512), 1 + (n % 30)))
  }

  test("resizeImages and imageFeatures: real pixel math; nulls for non-images") {
    import java.awt.image.BufferedImage
    def solid(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos))
      bos.toByteArray
    }
    val media = Seq(
      (1L, solid(8, 6, 0xFF8000)),                       // orange
      (2L, "not an image".getBytes("UTF-8")))
      .toDF("media_id", "bytes")
    val feats = Multimodal.imageFeatures(spark, media).orderBy("media_id").collect()
    assert(feats(0).getDouble(1) == 255.0 && feats(0).getDouble(2) == 128.0 &&
      feats(0).getDouble(3) == 0.0)
    assert(feats(1).isNullAt(1) && feats(1).isNullAt(4))
    val resized = Multimodal.resizeImages(spark, media, 4, 3)
      .orderBy("media_id").collect()
    assert(resized(1).isNullAt(1)) // junk passes through as NULL
    val png = resized(0).getAs[Array[Byte]](1)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(back.getWidth == 4 && back.getHeight == 3)
    // solid color survives bilinear resampling exactly
    assert((back.getRGB(2, 1) & 0xFFFFFF) == 0xFF8000)
  }

  test("sortedNeighborhood pairs each record with its window predecessors only") {
    // sorted order within the single block: ids 10,30,20,40 by key
    val rows = Seq(
      (10L, "aaa", "s"), (30L, "abb", "s"), (20L, "abc", "s"), (40L, "zzz", "s"),
      (50L, "aaa", "t") // different block: never pairs with the others
    ).toDF("id", "k", "src")
    val out = Dedup.sortedNeighborhood(rows, "id", $"k", $"src", window = 3)
      .select("id_a", "id_b", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(out == Set(
      (10L, 30L, 1), (30L, 20L, 1), (20L, 40L, 1),
      (10L, 20L, 2), (30L, 40L, 2)))
    // bound: at most n*(window-1) pairs
    assert(out.size <= 5 * 2)
  }

  test("multimodal: metadata never decodes; fake decode is deterministic") {
    val media = Multimodal.withMeta(Multimodal.syntheticMediaFromDocs(
      docs.withColumnRenamed("text", "text")))
    val m = media.where($"media_id" === 1).select("meta.n_bytes", "meta.digest")
      .collect().head
    assert(m.getLong(0) == text1.getBytes("UTF-8").length.toLong)
    assert(m.getString(1).length == 32)
    val dec1 = Multimodal.decodeImage(spark, media).orderBy("media_id").collect()
    val dec2 = Multimodal.decodeImage(spark, media).orderBy("media_id").collect()
    assert(dec1.map(_.toSeq).toSeq == dec2.map(_.toSeq).toSeq)
    val frames = Multimodal.sampleFrames(
      Multimodal.decodeImage(spark, media), stride = 5)
    assert(frames.count() > 0)
  }

  test("readMediaDir ingests real files via binaryFile with source-level glob pruning") {
    import java.awt.image.BufferedImage
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_media").toString
    def writePng(name: String, w: Int, h: Int): Unit = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val f = Paths.get(dir, name).toFile
      assert(javax.imageio.ImageIO.write(img, "png", f))
    }
    writePng("a.png", 11, 7)
    writePng("b.png", 5, 13)
    Files.write(Paths.get(dir, "ignore.txt"), "not media".getBytes("UTF-8"))
    Files.write(Paths.get(dir, "c.wav"), Array.fill(32)(1.toByte))

    val media = Multimodal.readMediaDir(spark, dir)
    val rows = media.collect()
    assert(rows.length == 3) // .txt pruned at the source listing
    val kinds = rows.map(r => r.getAs[String]("path").split('/').last ->
      r.getAs[String]("kind")).toMap
    assert(kinds("a.png") == "image" && kinds("c.wav") == "audio")
    // ids are stable content-independent path hashes, unique here
    assert(rows.map(_.getAs[Long]("media_id")).distinct.length == 3)
    // and the ingested bytes decode for real
    val dec = Multimodal.decodeImage(spark, media.where($"kind" === "image"))
      .select("width", "height").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(dec == Set((11, 7), (5, 13)))
  }

  test("compaction rewrites many small files into few, preserving rows") {
    import java.nio.file.Files
    val in = Files.createTempDirectory("graft_cmp_in").toString
    val out = Files.createTempDirectory("graft_cmp_out").toString
    spark.range(0, 10000).toDF("id")
      .repartition(40) // 40 tiny files
      .write.mode("overwrite").parquet(in)
    assert(new java.io.File(in).listFiles().count(_.getName.endsWith(".parquet")) == 40)
    val n = graft.ingest.Compaction.compact(spark, in, out, targetBytes = 1L << 20)
    assert(n == 1) // 40 tiny files total well under 1 MB target
    val files = new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 1)
    assert(spark.read.parquet(out).count() == 10000)
  }

  test("bloom dedup newRows equals plain left-anti join (nulls, dups, empty seen)") {
    import graft.ops.BloomDedup
    val incoming = Seq(
      (1L, Option("a")), (2L, Option("b")), (3L, Option("b")), // dup keys in incoming
      (4L, Option("zz")), (5L, None), (6L, None)               // null keys
    ).toDF("id", "k")
    val seen = Seq(Option("b"), Option("b"), Option("c"), None) // dup + null in seen
      .toDF("k")

    val expected = incoming.join(seen, Seq("k"), "left_anti")
      .select("id").as[Long].collect().sorted.toSeq
    val got = BloomDedup.newRows(incoming, seen, "k", expectedItems = 100L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == expected)
    // null-key rows are definitely new (SQL join semantics)
    assert(got.contains(5L) && got.contains(6L))

    // empty seen side: the bloom aggregate yields null; everything is new
    val emptySeen = seen.where($"k" === "never")
    val gotEmpty = BloomDedup.newRows(incoming, emptySeen, "k", 100L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(gotEmpty == Seq(1L, 2L, 3L, 4L, 5L, 6L))

    // probe marks seen keys might-contain and is exactly-false on a key
    // that was never inserted (no false negatives is the Bloom guarantee;
    // here we also pin the specific fixture routing)
    val bloom = BloomDedup.bloomFilter(seen, $"k", 100L)
    val probed = BloomDedup.probe(incoming, bloom, $"k")
      .select("id", "__might_contain")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(probed(2L) && probed(3L)) // true dups must be flagged
  }

  test("bloom dedup: persisted shard sketches resume exactly, compaction preserves") {
    import graft.ops.BloomDedup
    val batch1 = Seq("a", "b", "c").toDF("k")
    val batch2 = Seq("d", "e").toDF("k")
    val seen = batch1.unionByName(batch2)
    val incoming = Seq(
      (1L, "a"), (2L, "d"), (3L, "x"), (4L, "y"), (5L, "e")).toDF("id", "k")
    val expected = incoming.join(seen, Seq("k"), "left_anti")
      .select("id").as[Long].collect().sorted.toSeq

    // run 1 and run 2 each persisted their batch's sketch as a shard
    val path = java.nio.file.Files
      .createTempDirectory("graft_bloom_state_").toString
    BloomDedup.saveSketch(batch1, "k", 100L, path, shard = "b1")
    BloomDedup.saveSketch(batch2, "k", 100L, path, shard = "b2")

    // run 3: probe the persisted shards, verify against the seen table
    val sketches = BloomDedup.sketchColumns(spark, path)
    assert(sketches.length == 2)
    val got = BloomDedup.newRowsWithSketches(incoming, seen, "k", sketches)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == expected && got == Seq(3L, 4L))

    // the OR across shards flagged the batch2-only dup keys (d, e) — a
    // key matched by ANY shard must reach the exact verify; the contract
    // is that the shard set covers every seen batch (a stale shard set
    // would route its batch's dups around the verify)
    assert(!got.contains(2L) && !got.contains(5L))

    // compaction folds shards to one row; probe result unchanged
    BloomDedup.compactSketches(spark, path)
    val compacted = BloomDedup.sketchColumns(spark, path)
    assert(compacted.length == 1)
    val gotC = BloomDedup.newRowsWithSketches(incoming, seen, "k", compacted)
      .select("id").as[Long].collect().sorted.toSeq
    assert(gotC == expected)
  }

  test("bloom dedup: duplicate shard names never drop a sketch (re-run append safety)") {
    import graft.ops.BloomDedup
    val path = java.nio.file.Files
      .createTempDirectory("graft_bloom_dupshard_").toString
    // saveSketch is append-mode: a re-run under the SAME shard name leaves
    // two physical rows. Selecting one per shard would silently drop the
    // other — a Bloom FALSE NEGATIVE, routing true dups around the exact
    // verify. sketchColumns must therefore probe every physical sketch.
    BloomDedup.saveSketch(Seq("a", "b").toDF("k"), "k", 100L, path, shard = "b1")
    BloomDedup.saveSketch(Seq("c").toDF("k"), "k", 100L, path, shard = "b1")
    val seen = Seq("a", "b", "c").toDF("k")
    val incoming = Seq((1L, "a"), (2L, "c"), (3L, "x")).toDF("id", "k")
    val sketches = BloomDedup.sketchColumns(spark, path)
    assert(sketches.length == 2,
      "one probe column per distinct physical sketch, not per shard name")
    val got = BloomDedup.newRowsWithSketches(incoming, seen, "k", sketches)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(3L)) // the dup under the colliding name must be caught
    // a byte-identical re-append collapses (same shard, same digest)
    BloomDedup.saveSketch(Seq("c").toDF("k"), "k", 100L, path, shard = "b1")
    assert(BloomDedup.sketchColumns(spark, path).length == 2)
    // compaction folds ALL physical rows (including the name collision)
    // into one shard; probe result unchanged
    BloomDedup.compactSketches(spark, path)
    val compacted = BloomDedup.sketchColumns(spark, path)
    assert(compacted.length == 1)
    val gotC = BloomDedup.newRowsWithSketches(incoming, seen, "k", compacted)
      .select("id").as[Long].collect().sorted.toSeq
    assert(gotC == Seq(3L))
  }

  test("bloom dedup: mid-swap crash state self-heals on the next read") {
    import graft.ops.BloomDedup
    val path = java.nio.file.Files
      .createTempDirectory("graft_bloom_crash_").toString
    BloomDedup.saveSketch(Seq("a", "b").toDF("k"), "k", 100L, path, "b1")
    // simulate a crash between rename(path -> .old) and rename(tmp ->
    // path): the store directory is gone, only the .old copy survives
    val dir = new java.io.File(path)
    val old = new java.io.File(path + ".__compact_old")
    assert(dir.renameTo(old))
    assert(!dir.exists())
    // next read recovers automatically instead of failing on the parquet
    assert(BloomDedup.sketchColumns(spark, path).length == 1)
    assert(dir.exists() && !old.exists())
    // and a compact over the recovered state still works end to end
    BloomDedup.compactSketches(spark, path)
    assert(BloomDedup.sketchColumns(spark, path).length == 1)
    // same crash state healed by compactSketches itself (NOT destroyed by
    // its tmp/old pre-clean — the recovery must run first)
    assert(dir.renameTo(old))
    BloomDedup.compactSketches(spark, path)
    assert(dir.exists() && !old.exists())
    assert(BloomDedup.sketchColumns(spark, path).length == 1)
  }

  test("capped-rail audits count exactly what the caps suppress") {
    import graft.ops.Dedup
    // 5 identical docs push each of their 3 bigrams to df 5 > cap 4; one
    // distinct pair of near-identical docs stays under the cap.
    val docs = (1L to 5L).map(i => (i, "hot hot2 hot3 hot4"))
      .toSeq.toDF("doc_id", "text")
      .unionByName(Seq(
        (10L, "alpha beta gamma delta"),
        (11L, "alpha beta gamma epsilon")).toDF("doc_id", "text"))
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      shingleK = 2, minJaccard = 0.3, maxShingleDf = 4)
    val audit = Dedup.shingleDfAudit(docs, "text", "doc_id",
      shingleK = 2, maxShingleDf = 4)
    val a = audit.collect().head
    // 3 hot bigrams dropped (df 5 each -> 15 postings); the 5 hot docs
    // have no surviving shingles
    assert(a.getAs[Long]("n_dropped_shingles") == 3L)
    assert(a.getAs[Long]("n_dropped_postings") == 15L)
    assert(a.getAs[Long]("n_docs_emptied") == 5L)
    assert(a.getAs[Long]("n_docs") == 7L)
    // the hot clique emits NO pairs (the silent-loss case the audit
    // exists to surface); the under-cap pair survives
    val got = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 11L)))

    // SNM window arithmetic: block of 5 at window 3 generates
    // 3 + (5-3)*2 = 7 of C(5,2)=10; block of 2 generates its single pair
    val snm = Dedup.snmWindowAudit(
      Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("a", 5L),
        ("b", 6L), ("b", 7L)).toDF("blk", "doc_id"),
      $"blk", window = 3).collect().head
    assert(snm.getAs[Long]("n_blocks") == 2L)
    assert(snm.getAs[Long]("n_rows") == 7L)
    assert(snm.getAs[Long]("n_pairs_possible") == 11L)
    assert(snm.getAs[Long]("n_pairs_generated") == 8L)
    assert(snm.getAs[Long]("n_pairs_skipped") == 3L)
    // generated must equal what sortedNeighborhood actually emits
    val emitted = Dedup.sortedNeighborhood(
      Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("a", 5L),
        ("b", 6L), ("b", 7L)).toDF("blk", "doc_id"),
      "doc_id", $"doc_id".cast("string"), $"blk", window = 3).count()
    assert(emitted == 8L)

    // passage-gram audit: 3 identical 6-token docs, k=5 -> 2 grams each
    // at occ 3 > cap 2; a unique doc contributes occ-1 grams only
    val pg = Dedup.passageGramAudit(
      Seq((1L, "p q r s t u"), (2L, "p q r s t u"), (3L, "p q r s t u"),
        (4L, "v w x y z zz")).toDF("doc_id", "text"),
      "text", "doc_id", k = 5, maxGramDf = 2).collect().head
    assert(pg.getAs[Long]("n_grams") == 4L) // 2 hot + 2 unique
    assert(pg.getAs[Long]("n_duplicated_grams") == 2L)
    assert(pg.getAs[Long]("n_dropped_grams") == 2L)
    assert(pg.getAs[Long]("n_dropped_windows") == 6L)
    // 4 distinct gram strings hash to 4 distinct hash60 keys here; the
    // column exists so production scales see a collision-merge signal
    assert(pg.getAs[Long]("n_hash_collisions") == 0L)
  }

  test("bm25TopK rewards term density over raw length, bounded finisher, no window") {
    val docs = Seq(
      (1L, "apple banana"),
      (2L, "apple apple apple filler filler filler filler filler"),
      (3L, "cherry plum")
    ).toDF("doc_id", "text")
    val top = graft.ops.TextAnalysis.bm25TopK(docs, Seq(1L -> Seq("apple")), k = 5)
    val rows = top.orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(3)))
    // doc 2 has 3x the tf; length normalization dampens but does not erase it
    assert(rows.map(_._1).toSeq == Seq(2L, 1L)) // doc 3 never scored
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TopKAgg"), plan.take(600))
    assert(!plan.contains("Window"), plan.take(600))
  }

  test("bm25 index serve == one-shot, through a parquet round trip") {
    // the train-once/serve-many lifecycle: bm25TopKWithIndex over a
    // built (pinned) index, and again over a save/load parquet round
    // trip, must both land on bm25TopK's rows EXACTLY (shared scoring
    // tail + LONG-exact index frames — no float drift possible)
    val docs = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple apple apple filler filler filler filler filler"),
      (3L, "cherry plum banana"),
      (4L, "plum plum apple banana")
    ).toDF("doc_id", "text")
    val queries = Seq(1L -> Seq("apple", "plum"), 2L -> Seq("banana"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSeq
    val oneShot = rows(
      graft.ops.TextAnalysis.bm25TopK(docs, queries, k = 3))
    val ix = graft.ops.TextAnalysis.bm25Index(docs)
    assert(rows(graft.ops.TextAnalysis.bm25TopKWithIndex(ix, queries, k = 3))
      == oneShot)
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_ix_").toString
    graft.ops.TextAnalysis.saveBm25Index(ix, dir)
    val loaded = graft.ops.TextAnalysis.loadBm25Index(spark, dir)
    assert(rows(graft.ops.TextAnalysis.bm25TopKWithIndex(loaded, queries, k = 3))
      == oneShot)
  }

  test("clusterNearDups collapses a permuted 400-chain in bounded rounds") {
    // ids scattered along the chain: the O(diameter) label-propagation
    // worst case; alternating-star must converge well inside maxIters
    val ids = (0L until 400L).toDF("id")
    val labels = onStarLoop {
      val comp = graft.ops.Dedup.clusterNearDups(ids, permutedChain(400),
        "id", maxIters = 15)
      comp.select("component").distinct().collect().map(_.getLong(0))
    }
    assert(labels.toSeq == Seq(0L)) // one chain, one component, min label
  }

  test("pageRank star graph: exact integer ranks at 1, 2, and 5 iterations") {
    import graft.ops.Graph
    val edges = (1L to 10L).map(i => (i, 0L)).toDF("src", "dst")
    // r0 = 1.0 everywhere; spokes have no inbound -> 0.15 forever
    val r1 = Graph.pageRank(edges, 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r1(0L) == 0.15 + 0.85 * 10.0) // hub: 8.65 exactly
    assert(r1(1L) == 0.15)
    val r2 = Graph.pageRank(edges, 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r2(0L) == 1.425) // 0.15 + 0.85 * (10 * 0.15), exact in nanos
    // 5 iterations: the checkpointed loop stays flat and ranks stay exact
    val r5 = Graph.pageRank(edges, 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r5(0L) == 1.425 && r5(1L) == 0.15) // star converges by round 2
  }

  test("simhashHammingPairs equals naive all-pairs under the cap; finds planted dup") {
    import graft.ops.Dedup
    // 30 distinct docs + one exact copy of doc 0 (id 100) — the copy
    // guarantees a distance-0 pair whatever the corpus sigs look like
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val docs = ((0 until 30).map { i =>
      (i.toLong, (0 until 6).map(j => words((i * 7 + j * 3) % 10)).mkString(" "))
    } :+ (100L, (0 until 6).map(j => words(j * 3 % 10)).mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.simhashHammingPairs(docs, "text", "doc_id",
        bits = 60, blocks = 4, maxHamming = 3, maxBucket = 1024)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
    // naive reference: exact Hamming over ALL pairs (no pigeonhole) —
    // with no bucket over the cap the block join must find exactly the
    // same set (completeness AND soundness of the candidate generation)
    val sigs = docs.select(col("doc_id"),
        Dedup.simhash(col("text"), 60).as("sig")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val naive = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h.toLong)).toSeq.sorted
    assert(got == naive)
    assert(got.contains((0L, 100L, 0L))) // the planted exact copy
  }

  test("simhashHammingPairsAudited surfaces the hot-bucket recall loss") {
    import graft.ops.Dedup
    // 5 identical docs: every chunk bucket holds all 5 sigs, so with
    // maxBucket = 4 every candidate bucket is suppressed — zero pairs
    // out, and the audit must say why
    val docs = (0 until 5).map(i => (i.toLong, "same words every time"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashHammingPairs(docs, "text", "doc_id",
      bits = 60, blocks = 4, maxHamming = 3, maxBucket = 4)
    val audit = Dedup.simhashBucketAudit(docs, "text", "doc_id",
      bits = 60, blocks = 4, maxBucket = 4)
    assert(pairs.count() == 0L)
    val a = audit.collect().head
    assert(a.getAs[Long]("n_buckets") == 4L) // one (hot) bucket per chunk
    assert(a.getAs[Long]("n_dropped_buckets") == 4L)
    assert(a.getAs[Long]("n_dropped_rows") == 20L) // 5 sigs x 4 chunks
    // and on a corpus with no hot bucket the audit reads zero drops
    val distinctDocs = (0 until 6)
      .map(i => (i.toLong, s"doc number $i entirely unlike others $i$i"))
      .toDF("doc_id", "text")
    val a2 = Dedup.simhashBucketAudit(distinctDocs, "text", "doc_id",
      bits = 60, blocks = 4, maxBucket = 1024)
    val r2 = a2.collect().head
    assert(r2.getAs[Long]("n_dropped_buckets") == 0L)
    assert(r2.getAs[Long]("n_dropped_rows") == 0L)
    assert(r2.getAs[Long]("n_buckets") >= 20L) // 6 docs x 4 chunks, mostly distinct
  }

  test("markov removalEffects: hand-computed journey graph, per-edge truncation") {
    import graft.ops.MarkovAttribution
    // u1: view -> click -> BUY   u2: view -> error (unconverted tail)
    // transitions: start->view p=1e9; view->{click,error} p=5e8 each;
    // click->conv p=1e9; error->null p=1e9  =>  p_base = 5e8.
    // cut click: all conv mass dies (RE=1e9); cut error: nothing changes
    // (RE=0); cut view: start's mass goes straight to null (RE=1e9).
    val ev = Seq(
      (1L, 1L, 1L, "view"), (1L, 2L, 2L, "click"), (1L, 3L, 3L, "buy"),
      (2L, 1L, 4L, "view"), (2L, 2L, 5L, "error"))
      .toDF("user_id", "ord", "tie", "event_type")
    val got = MarkovAttribution.removalEffects(
        ev, "user_id", "ord", "tie", "event_type", convType = "buy")
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(got.keySet == Set("click", "error", "view"))
    assert(got("click") == ((500000000L, 0L, 1000000000L)))
    assert(got("error") == ((500000000L, 500000000L, 0L)))
    assert(got("view") == ((500000000L, 0L, 1000000000L)))
  }

  test("kneserNeyBigrams: hand-computed interpolated KN mass, D = 3/4") {
    import graft.ops.TextAnalysis
    // docs: "a b a c" and "b a" -> bigrams (a,b)=1 (b,a)=2 (a,c)=1
    // c1: a=2 b=2; n1f: a=2 b=1; n1b: a=1 b=1 c=1; N=3
    // p(b|a) = 1e9/8 + 3*2*1*1e9/(8*3) = 125000000 + 250000000
    // p(a|b) = 5e9/8 + 3*1*1*1e9/(8*3) = 625000000 + 125000000
    // p(c|a) = p(b|a) by symmetry of the counts
    val docs = Seq((1L, "a b a c"), (2L, "b a"), (3L, " "), (4L, "solo"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.kneserNeyBigrams(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    assert(got.size == 3) // blank + single-token docs contribute nothing
    assert(got(("a", "b")) == ((1L, 2L, 2L, 1L, 375000000L)))
    assert(got(("a", "c")) == ((1L, 2L, 2L, 1L, 375000000L)))
    assert(got(("b", "a")) == ((2L, 2L, 1L, 1L, 750000000L)))
    // unseen-continuation mass is reserved: sum over followers of 'a' < 1
    assert(375000000L + 375000000L < 1000000000L)
  }

  test("katzNano star: 2^-k path mass, fixed point after one round") {
    import graft.ops.Graph
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L)).toDF("src", "dst")
    // hub: 1e9 + (3*1e9) DIV 2 = 2.5e9 from round 1 on (spokes feed a
    // constant 1e9 each); spokes have no in-edges -> base mass forever
    for (it <- Seq(1, 2, 5)) {
      val x = Graph.katzNano(edges, it).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(x(0L) == 2500000000L, s"it=$it")
      for (i <- 1L to 3L) assert(x(i) == 1000000000L)
    }
  }

  test("hitsNano star: exact L1-renormalized hub/auth mass, layout-independent") {
    import graft.ops.Graph
    // 1,2,3 -> 0: node 0 is the only authority, 1..3 are equal hubs.
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L)).toDF("src", "dst")
    // iter1: a_raw(0)=3e9 -> a(0)=1e9; h_raw(1..3)=1e9, tot=3e9 ->
    // h=333333333 (truncating DIV). iter2: a_raw(0)=999999999 -> renorm
    // back to exactly 1e9; hubs stay 333333333. Everything else 0.
    val got = Graph.hitsNano(edges, iterations = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(0L) == ((1000000000L, 0L)))
    for (i <- 1L to 3L) assert(got(i) == ((0L, 333333333L)))
    // physical layout must not matter (exact integer path end to end)
    val again = Graph.hitsNano(edges.repartition(7), iterations = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(again == got)
  }

  test("holtNano replays the halving recurrences; caps and sorts per key") {
    import graft.ops.Holt
    // k=a, y = 8,4,6,10 (rows fed out of order; the op sorts by ord,tie):
    // l=8,6,5,7  b=0,-1,-1,0 (negative trend exercises truncation toward
    // zero: (6-8+0)/2 = -1), fc = 8,5,4,7.
    val rows = Seq(("a", 3L, 0L, 6L), ("a", 1L, 0L, 8L),
      ("a", 4L, 0L, 10L), ("a", 2L, 0L, 4L), ("b", 1L, 0L, 5L))
      .toDF("k", "ord", "tie", "y_nano")
    val got = Holt.holtNano(rows, maxPoints = 10)
      .orderBy("k", "rn").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4),
        r.getLong(5)))
    assert(got.toSeq == Seq(
      ("a", 1L, 8L, 0L, 8L), ("a", 2L, 6L, -1L, 5L),
      ("a", 3L, 5L, -1L, 4L), ("a", 4L, 7L, 0L, 7L),
      ("b", 1L, 5L, 0L, 5L)))
    // cap keeps the FIRST maxPoints in (ord, tie) order
    val capped = Holt.holtNano(rows, maxPoints = 2)
      .where(col("k") === "a").orderBy("rn").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(capped.toSeq == Seq((1L, 8L), (2L, 4L)))
  }

  test("mixtureRates binds on the scarcest stratum; mixture filters by threshold") {
    import graft.ops.Sampling
    val rows = (1 to 100).map(i => (i.toLong, "a")) ++
      (101 to 150).map(i => (i.toLong, "b")) ++
      (151 to 350).map(i => (i.toLong, "c"))
    val df = rows.toDF("id", "s")
    val targets = Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25)
    // M = min(100/.5, 50/.25, 200/.25) = 200 -> a,b keep all; c keeps 25%
    val rates = Sampling.mixtureRates(df, "s", targets)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rates("a") == ((100L, 1000000L)))
    assert(rates("b") == ((50L, 1000000L)))
    assert(rates("c") == ((200L, 250000L)))
    val kept = Sampling.mixture(df, "s", targets, "id")
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("a") == 100L && kept("b") == 50L)
    // c's kept count must equal the independent hash-threshold replay
    val expectC = df.where($"s" === "c")
      .where(pmod(graft.functions.StableHash.hash60($"id".cast("string"), 0),
        lit(1000000L)) < 250000L).count()
    assert(kept.getOrElse("c", 0L) == expectC && expectC > 0)
  }

  test("centroidOutliers flags the planted far vector; degenerate rows get null verdicts") {
    import graft.ops.EmbeddingAgg
    val rows: Seq[(Long, Int, Array[Float])] =
      (1 to 20).map(i => (i.toLong, 0, Array(0.001f * i, 0f))) ++
        Seq((99L, 0, Array(100f, 100f)),          // far from the centroid
          (100L, 0, null: Array[Float]))          // degenerate
    val got = EmbeddingAgg.centroidOutliers(
      rows.toDF("vec_id", "label", "embedding"),
      "vec_id", "embedding", "label", q = 0.9)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getBoolean(3)))).toMap
    assert(got(99L).contains(true))   // planted outlier caught
    // mid-cluster row passes (vec 1 may legitimately flag: the planted
    // point drags the centroid, leaving vec 1 farthest of the near pack)
    assert(got(10L).contains(false))
    assert(got(100L).isEmpty)         // null vector -> null verdict
    // q=0.9 over 21 finite distances: only the top ~2 may flag
    assert(got.values.count(_.contains(true)) <= 3)
  }

  test("temperatureRates: smallest stratum keeps all; k-fold stratum keeps k^(alpha-1)") {
    import graft.ops.Sampling
    val rows = (1 to 400).map(i => (i.toLong, "big")) ++
      (401 to 500).map(i => (i.toLong, "small"))
    val df = rows.toDF("id", "s")
    val rates = Sampling.temperatureRates(df, "s", alpha = 0.5)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rates("small") == ((100L, 1000000L)))
    // 4x the rows -> keep sqrt(1/4) = exactly half
    assert(rates("big") == ((400L, 500000L)))
    // uniform strata degenerate to keep-everything
    val uni = Sampling.temperatureRates(
      (1 to 60).map(i => (i.toLong, s"s${i % 3}")).toDF("id", "s"), "s")
      .collect()
    assert(uni.forall(_.getLong(2) == 1000000L))
    // kept rows replay the independent hash-threshold check
    val kept = Sampling.temperatureSample(df, "s", "id", alpha = 0.5)
      .groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expectBig = df.where($"s" === "big")
      .where(pmod(graft.functions.StableHash.hash60($"id".cast("string"), 0),
        lit(1000000L)) < 500000L).count()
    assert(kept("small") == 100L && kept("big") == expectBig && expectBig > 0)
  }

  test("qualityGate: each rule fires on its planted doc; keep is the conjunction") {
    import graft.ops.TextAnalysis
    // 60 distinct words with a stopword every 5th position: passes every
    // default rule (length 50..100k, punct, stopwords, dup lines, bigram)
    val good = (0 until 60)
      .map(i => if (i % 5 == 4) "the" else s"word$i").mkString(" ")
    val short = "hello world"
    val loopy = Array.fill(40)("spam ham").mkString(" ") // one bigram is ~all mass
    val dupLines = Seq("the cat sat and", "the cat sat and",
      "the cat sat and", "a different tail line").mkString("\n")
    val puncty = (0 until 60)
      .map(i => if (i % 5 == 4) "the" else s"w$i...!!...").mkString(" ")
    val docs = Seq(
      (1L, good), (2L, short), (3L, loopy), (4L, dupLines), (5L, puncty)
    ).toDF("doc_id", "text")
    val got = TextAnalysis.qualityGate(docs).orderBy("doc_id").collect()
      .map(r => r.getLong(0) ->
        (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5), r.getBoolean(6), r.getBoolean(7))).toMap
    // (ok_length, ok_punct, ok_stopwords, ok_dup_lines, ok_bigram, keep)
    assert(got(1L) == ((true, true, true, true, true, true)))
    assert(!got(2L)._1 && !got(2L)._6)      // too short
    assert(!got(3L)._5 && !got(3L)._6)      // one bigram dominates
    assert(!got(4L)._4 && !got(4L)._6)      // duplicated lines
    assert(!got(5L)._2 && !got(5L)._6)      // punctuation-heavy
    got.values.foreach { case (a, b, c, d, e, keep) =>
      assert(keep == (a && b && c && d && e))
    }
  }

  test("qualityGateMapSide: flag parity with the relational gate; input columns preserved") {
    import graft.ops.TextAnalysis
    // the relational gate's planted rule-by-rule docs plus the empty/null
    // edges and a passthrough column the map-side form must preserve
    val good = (0 until 60)
      .map(i => if (i % 5 == 4) "the" else s"word$i").mkString(" ")
    val loopy = Array.fill(40)("spam ham").mkString(" ")
    val dupLines = Seq("the cat sat and", "the cat sat and",
      "the cat sat and", "a different tail line").mkString("\n")
    val docs = Seq(
      (1L, good, "s1"), (2L, "hello world", "s2"), (3L, loopy, "s3"),
      (4L, dupLines, "s4"), (5L, "", "s5"), (6L, null, "s6")
    ).toDF("doc_id", "text", "source")
    val gateCols = Seq("doc_id", "n_tokens", "ok_length", "ok_punct",
      "ok_stopwords", "ok_dup_lines", "ok_bigram", "keep")
    val rel = TextAnalysis.qualityGate(docs)
      .orderBy("doc_id").collect().toSeq
    val map = TextAnalysis.qualityGateMapSide(docs)
      .select(gateCols.map(col): _*).orderBy("doc_id").collect().toSeq
    assert(rel == map)
    // input columns survive ahead of the appended flags
    val full = TextAnalysis.qualityGateMapSide(docs)
    assert(full.columns.take(3).toSeq == Seq("doc_id", "text", "source"))
    // and on the real corpus (every doc, not just planted shapes)
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val relC = TextAnalysis.qualityGate(corpus, minTokens = 30,
      maxTokens = 80, maxPunctRatio = 0.2, minStopwordRatio = 0.05,
      maxDupLineFrac = 0.3, maxTopBigramFrac = 0.05)
      .orderBy("doc_id").collect().toSeq
    val mapC = TextAnalysis.qualityGateMapSide(corpus, minTokens = 30,
      maxTokens = 80, maxPunctRatio = 0.2, minStopwordRatio = 0.05,
      maxDupLineFrac = 0.3, maxTopBigramFrac = 0.05)
      .select(gateCols.map(col): _*).orderBy("doc_id").collect().toSeq
    assert(relC == mapC)
    // zero-shuffle contract: the map-side plan has no exchange
    val plan = TextAnalysis.qualityGateMapSide(corpus)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("pplBuckets: tercile partition is exhaustive and ordered by score") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val res = graft.ops.TextAnalysis.pplBuckets(docs)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getString(3)))
    val scoredDocs = graft.ops.TextAnalysis.unigramLmScores(docs)
      .where($"n_tokens" > 0).count()
    assert(res.length == scoredDocs) // every scored doc gets one bucket
    val byBucket = res.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    // terciles: sizes within 1 of each other is NOT guaranteed by the
    // cutoff form (ties/interpolation), but the ordering invariant is:
    // every head score >= every middle score >= every tail score
    assert(byBucket("head").min >= byBucket("middle").max)
    assert(byBucket("middle").min >= byBucket("tail").max)
    // and the split is roughly even on real data
    assert(byBucket.values.forall(v =>
      v.length > res.length / 5 && v.length < res.length / 2))
  }

  test("rootPaths resolves explicit and implicit roots at any depth") {
    val edges = Seq(
      (1L, None), (2L, Some(1L)), (3L, Some(1L)), (4L, Some(2L)),
      (5L, Some(9L)) // parent 9 has no edge row: implicit root
    ).toDF("id", "parent")
    val got = graft.ops.Hierarchy.rootPaths(edges).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 1L, 0L, "1"),
      (2L, 1L, 1L, "1/2"),
      (3L, 1L, 1L, "1/3"),
      (4L, 1L, 2L, "1/2/4"),
      (5L, 9L, 1L, "9/5")))
  }

  test("rootPaths fails fast on a cyclic edge table instead of spinning") {
    val edges = Seq(
      (1L, None),        // a healthy root…
      (2L, Some(3L)),    // …and a 2<->3 cycle that never resolves
      (3L, Some(2L))
    ).toDF("id", "parent")
    val e = intercept[IllegalStateException] {
      graft.ops.Hierarchy.rootPaths(edges, maxDepth = 8).collect()
    }
    assert(e.getMessage.contains("cycle"), e.getMessage)
    assert(e.getMessage.contains("2"), s"should name a stuck id: ${e.getMessage}")
  }

  test("learnBpe reproduces the classic merge sequence with deterministic ties") {
    import graft.ops.Bpe
    // Sennrich et al. example corpus: low x5, lower x2, newest x6, widest x3
    val vocab0 = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("word", "cnt")
      .withColumn("sym", split($"word", ""))
    val (merges, vocab) = Bpe.learnBpe(vocab0, nMerges = 3)
    // (e,s)=9 ties (s,t)=9 -> lexical tie-break picks (e,s); then (es,t)=9;
    // then (l,o)=7 ties (o,w)=7 -> (l,o)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("l", "o")))
    val sym = vocab.collect().map(r =>
      r.getString(0) -> r.getSeq[String](2).toList).toMap
    assert(sym("newest") == List("n", "e", "w", "est"))
    assert(sym("widest") == List("w", "i", "d", "est"))
    assert(sym("low") == List("lo", "w"))
    assert(sym("lower") == List("lo", "w", "e", "r"))
  }

  test("mergePair merges non-overlapping left-to-right (aaa -> [aa, a])") {
    import graft.ops.Bpe
    val df = Seq(Seq("a", "a", "a"), Seq("a", "a", "a", "a"), Seq[String]())
      .toDF("sym")
    val out = df.select(Bpe.mergePair($"sym", "a", "a").as("m"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(out == List(List("aa", "a"), List("aa", "aa"), Nil))
  }

  test("native BpeMerge is bit-parity with the declarative fold it replaced") {
    // The replaced aggregate() form, verbatim, as the reference: its
    // struct accumulator made it O(n^2) per row (the sf1 probe's find),
    // but its semantics — skip-flag non-overlap, null element passes
    // through unmerged — are the contract the native must keep.
    import org.apache.spark.sql.Column
    def foldMerge(sym: Column, a: String, b: String): Column = {
      val n = size(sym)
      val folded = aggregate(
        sequence(lit(1), n),
        struct(array().cast("array<string>").as("acc"), lit(false).as("skip")),
        (st, i) => {
          val cur = element_at(sym, i)
          val isPair = i < n && cur === a && element_at(sym, i + 1) === b
          when(st.getField("skip"),
            struct(st.getField("acc").as("acc"), lit(false).as("skip")))
            .otherwise(when(isPair,
              struct(concat(st.getField("acc"), array(lit(a + b))).as("acc"),
                lit(true).as("skip")))
              .otherwise(
                struct(concat(st.getField("acc"), array(cur)).as("acc"),
                  lit(false).as("skip"))))
        },
        st => st.getField("acc"))
      when(n >= 1, folded).otherwise(sym)
    }
    val rnd = new scala.util.Random(11)
    val syms = Seq("a", "b", "ab", "c", "qz")
    val rows: Seq[Seq[Option[String]]] =
      (0 until 60).map { _ =>
        Seq.fill(rnd.nextInt(12))(
          if (rnd.nextInt(10) == 0) None else Some(syms(rnd.nextInt(syms.length))))
      } ++ Seq(Seq(Some("a")), Seq.empty, null)
    val df = rows.toDF("sym")
    for ((a, b) <- Seq(("a", "b"), ("a", "a"), ("ab", "c"), ("qz", "qz"))) {
      val got = df.select(graft.ops.Bpe.mergePair($"sym", a, b)).collect()
        .map(r => if (r.isNullAt(0)) null else r.getSeq[String](0).toList)
      val want = df.select(foldMerge($"sym", a, b)).collect()
        .map(r => if (r.isNullAt(0)) null else r.getSeq[String](0).toList)
      assert(got.toSeq == want.toSeq, s"pair ($a,$b) diverged")
    }
  }

  test("native CharRunProfile is bit-parity with the declarative sort+fold") {
    // The replaced pipeline, verbatim: array_sort over per-codepoint
    // substrings, then an aggregate() run fold. Its struct accumulator
    // copied per character + ArraySort's interpreted comparator cost
    // 170.9 s at the sf1 probe; the semantics (codepoint order, NULL on
    // empty, surrogate pairs as single chars) are the native's contract.
    val fold = expr(
      """CASE WHEN length(text) > 0 THEN aggregate(
        |  array_sort(transform(sequence(1, length(text)),
        |    i -> substring(text, i, 1))),
        |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L,
        |    'ss', 0L, 'k', 0L, 'mx', 0L),
        |  (a, c) -> CASE
        |    WHEN a.prev IS NULL THEN named_struct('prev', c, 'run', 1L,
        |      'ss', a.ss, 'k', a.k, 'mx', a.mx)
        |    WHEN c = a.prev THEN named_struct('prev', a.prev,
        |      'run', a.run + 1L, 'ss', a.ss, 'k', a.k, 'mx', a.mx)
        |    ELSE named_struct('prev', c, 'run', 1L,
        |      'ss', a.ss + a.run * a.run, 'k', a.k + 1L,
        |      'mx', greatest(a.mx, a.run)) END,
        |  a -> CASE WHEN a.prev IS NULL
        |    THEN CAST(NULL AS STRUCT<ss: BIGINT, k: BIGINT, mx: BIGINT>)
        |    ELSE named_struct('ss', a.ss + a.run * a.run, 'k', a.k + 1L,
        |      'mx', greatest(a.mx, a.run)) END) END""".stripMargin)
    val rnd = new scala.util.Random(17)
    val alphabet = "abcXYZ 09é世😀" // é, 世, 😀 (surrogate pair)
    val fuzz = (0 until 80).map { _ =>
      val cps = alphabet.codePoints().toArray
      val n = rnd.nextInt(30)
      Some((0 until n).map(_ => new String(Character.toChars(
        cps(rnd.nextInt(cps.length))))).mkString)
    }
    val rows: Seq[Option[String]] = fuzz ++ Seq(
      None, Some(""), Some("a"), Some("aaa"), Some("abab"),
      Some("😀😀x"), // emoji run: 1 char each, run of 2
      Some("zzzzyyyx 世世"))
    val df = rows.toDF("text")
    val got = df.select(graft.plans.CharRunProfile($"text").as("f"))
      .selectExpr("f.ss", "f.k", "f.mx").collect()
      .map(r => if (r.isNullAt(0)) null else (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = df.select(fold.as("f"))
      .selectExpr("f.ss", "f.k", "f.mx").collect()
      .map(r => if (r.isNullAt(0)) null else (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
    // spot-check the emoji row against hand-computed values: two 😀 + one
    // x -> n=3 codepoints, runs {😀:2, x:1}, ss=5, k=2, mx=2
    val emoji = df.filter($"text" === "😀😀x")
      .select(graft.plans.CharRunProfile($"text").as("f"))
      .selectExpr("f.ss", "f.k", "f.mx").head()
    assert((emoji.getLong(0), emoji.getLong(1), emoji.getLong(2)) == ((5L, 2L, 2L)))
  }

  test("duplicatedPassages finds maximal cross-doc spans and internal repeats") {
    // docs 1 and 2 share the 6-token passage "p q r s t u" (one island of
    // two overlapping 5-gram windows); doc 3 is unique filler; doc 4
    // repeats its own 5 tokens "v w x y z" twice (internal repetition,
    // two islands in the same doc).
    val docs = Seq(
      (1L, "a1 b1 c1 p q r s t u d1 e1"),
      (2L, "f2 g2 p q r s t u h2"),
      (3L, "k3 l3 m3 n3 o3 q3 r3 s3"),
      (4L, "v w x y z j4 j5 j6 v w x y z")
    ).toDF("doc_id", "text")
    val spans = graft.ops.Dedup.duplicatedPassages(docs, "text", "doc_id", k = 5)
      .orderBy("id", "span_start")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(spans.toSeq == Seq(
      (1L, 4L, 9L, 6L, 2L),   // "p q r s t u" at tokens 4..9, 2 windows merged
      (2L, 3L, 8L, 6L, 2L),
      (4L, 1L, 5L, 5L, 1L),   // first "v w x y z"
      (4L, 9L, 13L, 5L, 1L))) // second copy, separate island (gap > k)
  }

  test("contaminationScreen reports only cross-side near-dup pairs") {
    // train 1-3, eval 10-12. Eval 10 is a near-copy of train 1 (9 of 10
    // tokens shared -> J = 9/11 ≈ 0.818); eval 11 duplicates eval 12
    // (same-side: excluded); train 2 duplicates train 3 (excluded);
    // eval 12's pair with train content is below threshold.
    val base = "a1 b2 c3 d4 e5 f6 g7 h8 i9"
    val docs = Seq(
      (1L, s"$base j10"),
      (2L, "t1 t2 t3 t4 t5 t6"), (3L, "t1 t2 t3 t4 t5 t6"),
      (10L, s"$base k11"),
      (11L, "u1 u2 u3 u4 u5 u6"), (12L, "u1 u2 u3 u4 u5 u6")
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup.contaminationScreen(
        docs, "text", "doc_id", col("doc_id") >= 10L, minJaccard = 0.8)
      .orderBy("eval_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(out.toSeq == Seq((10L, 1L, 1L))) // eval 10 <- train 1 only
    val j = graft.ops.Dedup.contaminationScreen(
        docs, "text", "doc_id", col("doc_id") >= 10L, minJaccard = 0.8)
      .head().getDouble(2)
    assert(math.abs(j - 9.0 / 11.0) < 1e-12)
  }

  test("nbClassifierScores matches an independent local NB replay") {
    // Tiny labeled corpus incl. a null-text doc (scores prior only, and
    // still counts toward the negative class). Expected values computed
    // by an independently-coded local replay of the same formula —
    // Math.log here IS MathLn's kernel, so parity checks the plan
    // (distinct-presence counting, Laplace args, nano rounding, integer
    // sums), not the libm.
    val docs = Seq(
      (1L, "good great", true), (2L, "good fine", true),
      (3L, "bad awful", false), (4L, "bad fine", false),
      (5L, null.asInstanceOf[String], false)
    ).toDF("doc_id", "text", "label")
    val out = graft.ops.TextAnalysis.nbClassifierScores(
        docs, $"label", vocabSize = 100)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // local replay
    val corpus = Map(1L -> Seq("good", "great"), 2L -> Seq("good", "fine"),
      3L -> Seq("bad", "awful"), 4L -> Seq("bad", "fine"), 5L -> Seq())
    val labels = Map(1L -> true, 2L -> true, 3L -> false, 4L -> false,
      5L -> false)
    val np = labels.values.count(identity).toLong
    val nn = labels.size - np
    def nano(x: Double): Long =
      java.math.BigDecimal.valueOf(x * 1e9)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    val words = corpus.values.flatten.toSet
    val wt = words.map { w =>
      val dfp = corpus.count { case (id, ws) => ws.contains(w) && labels(id) }
      val dfn = corpus.count { case (id, ws) => ws.contains(w) && !labels(id) }
      w -> nano(math.log((dfp + 1.0) / (np + 2.0)) -
        math.log((dfn + 1.0) / (nn + 2.0)))
    }.toMap
    val pr = nano(math.log((np + 1.0) / (nn + 1.0)))
    val want = corpus.toSeq.sortBy(_._1).map { case (id, ws) =>
      val s = ws.map(wt).sum + pr
      (id, ws.size.toLong, s, s > 0L)
    }
    assert(out.toSeq == want)
    // sanity: pos-worded docs rank above neg-worded ones
    assert(out(0)._3 > out(3)._3)
  }

  test("segmentDedup drops corpus-frequent lines and reassembles in order") {
    // "cookie notice" appears in 3 of 4 docs (boilerplate at cap 2);
    // doc 4 is ONLY boilerplate (clean_text empty, still reported);
    // doc 5 has null text (absent); blank lines never count.
    val docs = Seq(
      (1L, "unique alpha\ncookie notice\nunique beta"),
      (2L, "cookie notice\n\n  \nsecond body"),
      (3L, "third body\ncookie notice "), // trailing space: same trimmed key
      (4L, "cookie notice"),
      (5L, null)
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup.segmentDedup(docs, "text", "doc_id",
        sep = "\n", maxDocFreq = 2L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 2L, "unique alpha\nunique beta"),
      (2L, 2L, 1L, "second body"),
      (3L, 2L, 1L, "third body"),
      (4L, 1L, 0L, "")))
    // untouched doc reconstructs byte-identically (incl. inner spacing)
    val solo = Seq((9L, "a b\nc  d\ne")).toDF("doc_id", "text")
    val keep = graft.ops.Dedup.segmentDedup(solo, "text", "doc_id", "\n", 5L)
      .head().getString(3)
    assert(keep == "a b\nc  d\ne")
  }

  test("duplicatedPassages: maxGramDf drops corpus-wide boilerplate grams") {
    // Every doc opens with the same viral 5-gram "v1 v2 v3 v4 v5" (df=5,
    // over a cap of 4 -> boilerplate, marks nothing); docs 1 and 2 also
    // share the genuine passage "p q r s t" (df=2, under the cap).
    val viral = "v1 v2 v3 v4 v5"
    val docs = Seq(
      (1L, s"$viral a1 p q r s t b1"),
      (2L, s"$viral c2 d2 p q r s t"),
      (3L, s"$viral e3 f3 g3 h3 i3"),
      (4L, s"$viral j4 k4 l4 m4 n4"),
      (5L, s"$viral o5 u5 w5 x5 y5")
    ).toDF("doc_id", "text")
    val capped = graft.ops.Dedup
      .duplicatedPassages(docs, "text", "doc_id", k = 5, maxGramDf = 4)
      .orderBy("id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // only the genuine passage survives; the viral opener marks no span
    assert(capped.toSeq == Seq((1L, 7L, 11L), (2L, 8L, 12L)))
    // uncapped (default 10000): the viral gram marks tokens 1..5 in all 5
    val open = graft.ops.Dedup
      .duplicatedPassages(docs, "text", "doc_id", k = 5)
      .where(col("span_start") === 1).count()
    assert(open == 5L)
  }

  test("knnJoin matches bruteForceTopK bit-for-bit for any block count") {
    // seeded set with every degenerate the kernel distinguishes: null
    // vector, zero norm, ragged, null element — the NaN discipline and
    // tie order must survive block partitioning + partial-buffer merge.
    val rnd = new scala.util.Random(7)
    def v(n: Int): Seq[Option[Float]] =
      Seq.fill(n)(Some(rnd.nextGaussian().toFloat))
    val rows: Seq[(Long, Seq[Option[Float]])] =
      (0L until 20L).map(i => i -> v(8)) ++ Seq(
        (20L, null), (21L, Seq.fill(8)(Option(0f))), (22L, v(4)),
        (23L, v(8).updated(3, None)))
    val emb = rows.toDF("vec_id", "embedding")
    val want = Similarity.bruteForceTopK(emb, emb, k = 4)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    for (b <- Seq(1, 3, 7, 64)) { // incl. more blocks than rows
      val got = Similarity.knnJoin(emb, emb, k = 4, nBlocks = b)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      assert(got == want, s"nBlocks=$b diverged from brute force")
    }
  }

  test("knnJoinIvf probing every cell equals the exact knnJoin") {
    // nProbe = nCells means every query meets every cell — the IVF join
    // degenerates to the exact join, so the two distributed paths (cell
    // shuffle join vs block cogroup) must agree pair-for-pair. With
    // nProbe=1 the output stays k-bounded per query (the recall trade).
    val rnd = new scala.util.Random(11)
    val rows: Seq[(Long, Seq[Option[Float]])] =
      (0L until 24L).map(i => i -> Seq.fill(8)(Option(rnd.nextGaussian().toFloat)))
    val emb = rows.toDF("vec_id", "embedding")
    def key(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Double)] =
      df.select(col("query_id").cast("long"), col("corpus_id").cast("long"),
          col("rank").cast("long"), round(col("cosine"), 6).as("c"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sorted
    val exact = key(Similarity.knnJoin(emb, emb, k = 3, nBlocks = 3))
    val full = key(Similarity.knnJoinIvf(emb, emb, k = 3, nCells = 4, nProbe = 4))
    assert(full == exact)
    val approx = Similarity.knnJoinIvf(emb, emb, k = 3, nCells = 4, nProbe = 1)
      .groupBy("query_id").count().collect()
    assert(approx.forall(_.getLong(1) <= 3L))
    // qSalt is pure scheduling: the salted plan returns the identical
    // pairs (every query still meets its probed cells' corpus once)
    val unsalted = key(Similarity.knnJoinIvf(emb, emb, k = 3, nCells = 4,
      nProbe = 2))
    val salted = key(Similarity.knnJoinIvf(emb, emb, k = 3, nCells = 4,
      nProbe = 2, qSalt = 3))
    assert(salted == unsalted)
    // blocking side is pure scheduling too: query-partitioned blocks
    // (corpus replicated) return the identical exact join
    val qPart = key(Similarity.knnJoin(emb, emb, k = 3, nBlocks = 3,
      partitionQueries = true))
    assert(qPart == exact)
  }

  test("knnClassify votes the planted cluster label; ties go to the smaller label") {
    // Two tight clusters on orthogonal axes. Query 100 sits on the
    // cluster-0 axis; query 101 is equidistant between the axes and sees
    // a 2-2 vote split at k=4 -> tie breaks to label 0.
    val labeled: Seq[(Long, Int, Array[Float])] =
      Seq((1L, 0, Array(1f, 0.00f)), (2L, 0, Array(1f, 0.01f)),
        (3L, 1, Array(0.00f, 1f)), (4L, 1, Array(0.01f, 1f)))
    val queries: Seq[(Long, Int, Array[Float])] =
      Seq((100L, -1, Array(1f, 0.005f)), (101L, -1, Array(1f, 1f)))
    val got = Similarity.knnClassify(
      labeled.toDF("vec_id", "label", "embedding"),
      queries.toDF("vec_id", "label", "embedding"), k = 4)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(got(100L) == (0, 2L)) // both cluster-0 members closest, 2 votes
    assert(got(101L) == (0, 2L)) // 2-2 split, smaller label wins
    // k=1: query 100's single nearest neighbor is vec 2 (label 0)
    val one = Similarity.knnClassify(
      labeled.toDF("vec_id", "label", "embedding"),
      queries.toDF("vec_id", "label", "embedding").where(col("vec_id") === 100),
      k = 1).collect()
    assert(one.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq ==
      Seq((100L, 0, 1L)))
  }

  test("winnow: shared-run guarantee, short/empty docs, df cap") {
    import graft.ops.Winnow
    // Guarantee: with k=2, w=4 any shared token run of >= w+k-1 = 5 tokens
    // must yield a shared fingerprint. Docs 1 and 2 share an 8-token run
    // embedded in otherwise-disjoint text; doc 3 is unrelated.
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    val docs = Seq(
      (1L, s"xx1 yy1 $shared zz1 qq1"),
      (2L, s"aa2 bb2 cc2 $shared dd2"),
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "solo"), // < k tokens: one whole-text gram, one fingerprint
      (5L, "  ")    // empty after trim: no fingerprints
    ).toDF("doc_id", "text")
    val fps = Winnow.fingerprints(docs, "text", "doc_id", 2, 4)
    val byDoc = fps.groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(byDoc(4L) == 1L && !byDoc.contains(5L))
    // density: every non-empty doc fingerprints, far fewer than its grams
    assert(byDoc(1L) >= 1 && byDoc(1L) < 11)

    val pairs = Winnow.sharedPairs(docs, "text", "doc_id", 2, 4,
      minShared = 1, maxFpDf = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))

    // df cap: a fingerprint present in all three copies of the same text
    // is dropped when maxFpDf < 3 -> no pairs at all
    val trip = Seq((1L, shared), (2L, shared), (3L, shared))
      .toDF("doc_id", "text")
    assert(Winnow.sharedPairs(trip, "text", "doc_id", 2, 4,
      minShared = 1, maxFpDf = 2).isEmpty)
    // and with the cap open, all three pairs appear
    assert(Winnow.sharedPairs(trip, "text", "doc_id", 2, 4,
      minShared = 1, maxFpDf = 3).count() == 3L)
  }

  test("madOutliers: planted spike flags; constant series and nulls never do") {
    import graft.ops.Anomaly
    // key a: tight series 10±1 with one 100 spike. key b: constant
    // (MAD=0). key c: a null value amid a tight series.
    val rows: Seq[(Long, String, java.lang.Double)] =
      (1L to 9L).map(i => (i, "a", java.lang.Double.valueOf(9.5 + (i % 3)))) ++
        Seq((10L, "a", java.lang.Double.valueOf(100.0))) ++
        (11L to 15L).map(i => (i, "b", java.lang.Double.valueOf(7.0))) ++
        (16L to 20L).map(i => (i, "c",
          if (i == 18L) null else java.lang.Double.valueOf(5.0 + (i % 2))))
    val got = Anomaly.madOutliers(
      rows.toDF("event_id", "event_type", "value"),
      Seq("event_type"), "value", cutoff = 3.5)
      .select("event_id").as[Long].collect().toSet
    assert(got == Set(10L))

    // Robustness: magnifying the spike 100x changes nothing about the
    // flagged set (a mean/stddev z-score would swallow its own outlier).
    val magnified = rows.map { case (id, k, v) =>
      (id, k, if (id == 10L) java.lang.Double.valueOf(10000.0) else v)
    }
    val got2 = Anomaly.madOutliers(
      magnified.toDF("event_id", "event_type", "value"),
      Seq("event_type"), "value", cutoff = 3.5)
      .select("event_id").as[Long].collect().toSet
    assert(got2 == Set(10L))
  }

  test("sessionStatsKernel == batchSessionStats: real corpus + boundary ties") {
    import graft.ops.Sessionize
    def stats(df: org.apache.spark.sql.DataFrame, gap: Long) = {
      def norm(out: org.apache.spark.sql.DataFrame) = out
        .select("user_id", "session_seq", "n_events", "start_ts", "end_ts")
        .orderBy("user_id", "session_seq")
        .collect().map(_.toSeq).toSeq
      (norm(Sessionize.sessionStatsKernel(df, "user_id", "ts_ns", "eid", gap)),
        norm(Sessionize.batchSessionStats(df, "user_id", "ts_ns", "eid", gap)))
    }
    // real events at sf0.001 (nanos contract via Graft.table), 8h gap
    val ev = graft.core.Graft.table(spark, "/root/testdata/sf0.001", "events")
      .where(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("ts").as("ts_ns"), col("event_id").as("eid"))
    val (k1, w1) = stats(ev, 8L * 3600 * 1000000000L)
    assert(k1.nonEmpty && k1 == w1)
    // planted boundary battery: exact-gap tie (merges — inclusive rule),
    // gap+1 (splits), duplicate timestamps, single-event user, and a
    // user whose events split across input partitions
    val gap = 100L
    val hand = Seq(
      (1L, 0L, 1L), (1L, 100L, 2L),        // exact gap -> one session
      (1L, 201L, 3L),                      // gap+1 -> new session
      (2L, 50L, 4L), (2L, 50L, 5L),        // duplicate ts -> one session
      (3L, 7L, 6L))                        // singleton
    val handDf = hand.toDF("user_id", "ts_ns", "eid").repartition(5)
    val (k2, w2) = stats(handDf, gap)
    assert(k2 == w2)
    assert(k2.map(r => (r(0), r(1), r(2))) == Seq(
      (1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 2L), (3L, 1L, 1L)))
    // randomized streams (fixed seed): dense ts range + small gaps force
    // duplicate timestamps and exact-gap collisions; arbitrary input
    // partitioning exercises the exchange + partition-boundary paths
    val rnd = new scala.util.Random(20260816L)
    for (trial <- 1 to 4) {
      val nUsers = 1 + rnd.nextInt(20)
      val g = 1L + rnd.nextInt(40)
      val rows = (1 to 1500).map { i =>
        (rnd.nextInt(nUsers).toLong, rnd.nextInt(400).toLong, i.toLong)
      }
      val df = rows.toDF("user_id", "ts_ns", "eid")
        .repartition(1 + rnd.nextInt(9))
      val (kr, wr) = stats(df, g)
      assert(kr == wr, s"trial $trial gap=$g users=$nUsers")
    }
  }
}
