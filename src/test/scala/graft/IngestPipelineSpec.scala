package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.config.DatasetConfig
import graft.curate.Penalties
import graft.ingest.CsvIngest
import graft.quality.DataQuality

/** End-to-end build pipeline on synthetic NH_Penalties fixtures
  * (FIXTURES.md B1): ingest -> stage -> curate -> view, plus the DQ audits.
  */
class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val yaml =
    """datasets:
      |  penalties:
      |    filename_pattern: "NH_Penalties_*.csv"
      |    staging_table: staging_penalties
      |    natural_key: [cms_certification_number_ccn, penalty_date, penalty_type]
      |    columns:
      |      cms_certification_number_ccn: {type: string}
      |      penalty_date: {type: date}
      |      penalty_type: {type: string}
      |      fine_amount: {type: numeric, nullable: true}
      |      payment_denial_length_in_days: {type: int, nullable: true}
      |      state: {type: string}
      |      provider_name: {type: string}
      |""".stripMargin

  private lazy val dir: Path = {
    val d = Files.createTempDirectory("graft_csv")
    // file 1: clean rows + a duplicate key + a null fine (COALESCE path)
    Files.writeString(d.resolve("NH_Penalties_2024_A.csv"),
      """CMS Certification Number (CCN),Penalty Date,Penalty Type,Fine Amount,Payment Denial Length in Days,State,Provider Name
        |015009,01/15/2024,Fine,1500.50,,TX,Alpha Care
        |015009,01/15/2024,Fine,1500.50,,TX,Alpha Care Dup
        |015010,02/20/2024,Payment Denial,,30,TX, Beta Home
        |""".stripMargin)
    // file 2: unparseable date (coerce->null) + new state; missing the
    // provider_name column entirely (declared-column NULL fill)
    Files.writeString(d.resolve("NH_Penalties_2024_B.csv"),
      """CMS Certification Number (CCN),Penalty Date,Penalty Type,Fine Amount,Payment Denial Length in Days,State
        |015011,NOT_A_DATE,Fine,250,,CA
        |015012,03/05/2024,Fine,1000,,CA
        |""".stripMargin)
    d
  }

  private def specOf = DatasetConfig.parse(yaml).head

  test("YAML registry parses to a DatasetSpec") {
    val s = specOf
    assert(s.stagingTable == "staging_penalties")
    assert(s.naturalKey ==
      Seq("cms_certification_number_ccn", "penalty_date", "penalty_type"))
    assert(s.columns.map(_.name).contains("fine_amount"))
    assert(s.columns.find(_.name == "fine_amount").get.nullable)
  }

  test("glob ingest: normalized headers, typed casts, NULL fill, lineage") {
    val df = CsvIngest.readDataset(spark, dir.toString, specOf)
    assert(df.count() == 5) // both files unioned by the glob scan
    assert(df.columns.contains("source_file") && df.columns.contains("ingestion_date"))
    // header normalization
    assert(df.columns.contains("cms_certification_number_ccn"))
    // typed casts
    assert(df.schema("penalty_date").dataType.typeName == "date")
    assert(df.schema("fine_amount").dataType.typeName == "double")
    assert(df.schema("payment_denial_length_in_days").dataType.typeName == "long")
    // coerce-to-null date
    val bad = df.where($"cms_certification_number_ccn" === "015011").collect().head
    assert(bad.isNullAt(bad.fieldIndex("penalty_date")))
    // string trim (build.py:36-37): " Beta Home" -> "Beta Home"
    val beta = df.where($"cms_certification_number_ccn" === "015010").collect().head
    assert(beta.getString(beta.fieldIndex("provider_name")) == "Beta Home")
    // missing declared column in file 2 -> NULL, not error
    val f2 = df.where($"cms_certification_number_ccn" === "015012").collect().head
    assert(f2.isNullAt(f2.fieldIndex("provider_name")))
  }

  test("curate: fact_penalty + v_penalties_by_state (build.py:85-107)") {
    CsvIngest.stage(spark, dir.toString, specOf)
    Penalties.factPenalty(spark, "staging_penalties")
    val view = Penalties.penaltiesByState(spark)
      .orderBy("state").collect()
    // TX: 3 penalties, fines 1500.50+1500.50+0 (null coalesced)
    val tx = view.find(_.getString(0) == "TX").get
    assert(tx.getLong(1) == 3)
    assert(tx.getDouble(2) == 3001.0)
    assert(tx.getLong(3) == 2)          // CASE WHEN fine>0 (null-skipping SUM)
    assert(tx.getDouble(4) == 1000.33)  // ROUND(AVG, 2)
    val ca = view.find(_.getString(0) == "CA").get
    assert(ca.getLong(1) == 2 && ca.getDouble(2) == 1250.0)
  }

  test("duplicate audit flags the natural-key dup with a sample (build.py:39-53)") {
    val staged = CsvIngest.readDataset(spark, dir.toString, specOf)
    val (audit, dups) = DataQuality.duplicateAudit(
      spark, staged, "staging_penalties", specOf.naturalKey)
    val a = audit.collect().head
    assert(a.getAs[String]("status") == "warn")
    assert(a.getAs[Long]("duplicate_groups") == 1)
    assert(a.getAs[String]("sample_json").contains("015009"))
    assert(dups.count() == 1)
  }

  test("duplicate audit builds with no Spark job; its sample is the first groups' toJSON") {
    // 7 duplicate groups (over sampleN = 5), null key parts, singletons
    val df = Seq[(Option[String], Option[Int])](
      (Some("x"), Some(1)), (Some("x"), Some(1)),
      (Some("x"), Some(2)), (Some("x"), Some(2)), (Some("x"), Some(2)),
      (None, Some(1)), (None, Some(1)), (Some("y"), None), (Some("y"), None),
      (None, None), (None, None), (Some("a"), Some(5)), (Some("a"), Some(5)),
      (Some("z"), Some(9)), (Some("z"), Some(9)), (Some("q"), Some(1)),
      (Some("x"), Some(3))).toDF("a", "b")
    var built: (DataFrame, DataFrame) = null
    assert(jobsDuring {
      built = DataQuality.duplicateAudit(spark, df, "t", Seq("a", "b"))
    } == 0)
    val (audit, dups) = built
    val rows = audit.collect()
    assert(rows.length == 1)
    val a = rows.head
    assert(a.getAs[String]("table_name") == "t" && a.getAs[String]("natural_key") == "a,b")
    assert(a.getAs[Long]("duplicate_groups") == 7 && a.getAs[String]("status") == "warn")
    // byte-identical to `dups.orderBy(keys).limit(5).toJSON` joined with ","
    // (null fields omitted, nulls first)
    assert(a.getAs[String]("sample_json") ==
      """[{"n":2},{"b":1,"n":2},{"a":"a","b":5,"n":2},{"a":"x","b":1,"n":2},{"a":"x","b":2,"n":3}]""")
    assert(audit.columns.toSeq == Seq("table_name", "natural_key", "duplicate_groups",
      "status", "sample_json", "created_at"))
    assert(dups.count() == 7)
    val clean = DataQuality.duplicateAudit(spark, df.distinct(), "t", Seq("a", "b"))._1
      .collect().head
    assert(clean.getAs[Long]("duplicate_groups") == 0 && clean.getAs[String]("status") == "ok")
    assert(clean.getAs[String]("sample_json") == "[]")
  }

  test("completeness: per-column profile incl. empty-table guard") {
    val staged = CsvIngest.readDataset(spark, dir.toString, specOf)
      .select("cms_certification_number_ccn", "fine_amount", "provider_name")
    val prof = DataQuality.completeness(staged, "t")
      .orderBy("column_name").collect()
    val byCol = prof.map(r => r.getString(1) -> r).toMap
    assert(byCol("cms_certification_number_ccn").getDouble(4) == 100.0)
    assert(byCol("fine_amount").getLong(3) == 4)      // one null fine
    assert(byCol("fine_amount").getDouble(4) == 80.0)
    // empty table: pct 0, not NaN (load_nursing_home_data.py:26)
    val empty = DataQuality.completeness(staged.where(lit(false)), "e").collect()
    assert(empty.forall(r => r.getDouble(4) == 0.0 && r.getLong(2) == 0))
  }

  test("malformed CSV rows coerce to nulls, never crash (PERMISSIVE)") {
    val d = Files.createTempDirectory("graft_badcsv")
    Files.writeString(d.resolve("NH_Penalties_bad.csv"),
      """CMS Certification Number (CCN),Penalty Date,Penalty Type,Fine Amount,Payment Denial Length in Days,State,Provider Name
        |015020,01/15/2024,Fine,not_a_number,also_bad,TX,Ok Row
        |015021,01/16/2024,Fine,100,,TX
        |"unclosed quote,01/17/2024,Fine,5,,TX,Broken
        |""".stripMargin)
    val df = CsvIngest.readDataset(spark, d.toString, specOf)
    val rows = df.collect()
    assert(rows.length >= 2) // no exception; short/broken rows null-padded
    val r = rows.find(r => r.getString(0) == "015020").get
    assert(r.isNullAt(r.fieldIndex("fine_amount")))         // coerce-to-null
    assert(r.isNullAt(r.fieldIndex("payment_denial_length_in_days")))
  }

  test("parquet staging evolves schema across batches (mergeSchema)") {
    val d = Files.createTempDirectory("graft_evolve").toString + "/t"
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v1").write.mode("append").parquet(d)
    Seq((2L, 3.5)).toDF("id", "v2").write.mode("append").parquet(d)
    val merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert(merged.columns.toSet == Set("id", "v1", "v2"))
    assert(merged.count() == 2)
    val r2 = merged.where($"id" === 1).collect().head
    assert(r2.isNullAt(r2.fieldIndex("v2"))) // old batch null-fills new col
  }

  test("ObjectSync: checksummed copy, skip-existing, verify, manifest (K7)") {
    import graft.ingest.ObjectSync
    val conf = spark.sparkContext.hadoopConfiguration
    val src = Files.createTempDirectory("graft_sync_src")
    val dst = Files.createTempDirectory("graft_sync_dst").toString
    Files.writeString(src.resolve("a.csv"), "x,y\n1,2\n")
    Files.createDirectories(src.resolve("sub"))
    Files.writeString(src.resolve("sub/b.csv"), "z\n9\n")
    Files.writeString(src.resolve(".hidden"), "skip me")
    val r1 = ObjectSync.sync(conf, src.toString, dst)
    assert(r1.copied.toSet == Set("a.csv", "sub/b.csv"))
    assert(r1.skipped.isEmpty && r1.verifiedOk)
    assert(r1.manifest.keySet == Set("a.csv", "sub/b.csv"))
    // default manifest digests are the reference's streaming sha256
    // (upload_to_s3.py:30-36): same hex a manifest consumer would compute
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(src.resolve("a.csv")))
      .map("%02x".format(_)).mkString
    assert(r1.manifest("a.csv") == sha && sha.length == 64)
    // md5 stays selectable for legacy manifests
    val rMd5 = ObjectSync.sync(conf, src.toString, dst, algorithm = "MD5")
    assert(rMd5.manifest("a.csv").length == 32)
    // second run: everything skips via length+digest
    val r2 = ObjectSync.sync(conf, src.toString, dst)
    assert(r2.copied.isEmpty && r2.skipped.toSet == Set("a.csv", "sub/b.csv"))
    // changed source -> re-copied
    Files.writeString(src.resolve("a.csv"), "x,y\n1,3\n")
    val r3 = ObjectSync.sync(conf, src.toString, dst)
    assert(r3.copied == Seq("a.csv") || r3.copied.contains("a.csv"))
    // dry run never writes
    Files.writeString(src.resolve("c.csv"), "new\n")
    val r4 = ObjectSync.sync(conf, src.toString, dst, dryRun = true)
    assert(r4.copied.contains("c.csv"))
    assert(!Files.exists(java.nio.file.Paths.get(dst, "c.csv")))
  }

  test("ObjectSync: 8-worker pool matches single-worker manifest and verify") {
    import graft.ingest.ObjectSync
    val conf = spark.sparkContext.hadoopConfiguration
    val src = Files.createTempDirectory("graft_psync_src")
    (0 until 40).foreach { i =>
      Files.writeString(src.resolve(f"f$i%02d.csv"), s"id,v\n$i,${i * i}\n")
    }
    val dstPar = Files.createTempDirectory("graft_psync_par").toString
    val dstSeq = Files.createTempDirectory("graft_psync_seq").toString
    val rPar = ObjectSync.sync(conf, src.toString, dstPar) // default 8 workers
    val rSeq = ObjectSync.sync(conf, src.toString, dstSeq, workers = 1)
    assert(rPar.verifiedOk && rSeq.verifiedOk)
    assert(rPar.manifest == rSeq.manifest)
    assert(rPar.copied.sorted == rSeq.copied.sorted && rPar.copied.size == 40)
    // every target byte-identical to its source
    (0 until 40).foreach { i =>
      val name = f"f$i%02d.csv"
      assert(Files.readAllBytes(java.nio.file.Paths.get(dstPar, name)).toSeq ==
        Files.readAllBytes(src.resolve(name)).toSeq)
    }
    // re-sync in parallel: all skip, nothing re-copied
    val rAgain = ObjectSync.sync(conf, src.toString, dstPar)
    assert(rAgain.copied.isEmpty && rAgain.skipped.size == 40 && rAgain.verifiedOk)
  }

  test("ObjectSync: multipart threshold — composite etag over parts, plain md5 under (upload_to_s3.py:160-164)") {
    import graft.ingest.ObjectSync
    val conf = spark.sparkContext.hadoopConfiguration
    val src = Files.createTempDirectory("graft_mp_src")
    val dst = Files.createTempDirectory("graft_mp_dst").toString
    val partSize = 1 << 20
    // 2.5 MB -> 3 parts at a 1 MB threshold; deterministic content
    val big = Array.tabulate((2.5 * partSize).toInt)(i => (i % 251).toByte)
    Files.write(src.resolve("big.bin"), big)
    Files.writeString(src.resolve("small.csv"), "a,b\n1,2\n")
    val r = ObjectSync.sync(conf, src.toString, dst,
      multipartThresholdMb = 1)
    assert(r.verifiedOk && r.copied.toSet == Set("big.bin", "small.csv"))
    def md5(b: Array[Byte]): Array[Byte] =
      java.security.MessageDigest.getInstance("MD5").digest(b)
    def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
    // under the threshold: the plain content md5, no part suffix
    assert(r.etags("small.csv") ==
      hex(md5(Files.readAllBytes(src.resolve("small.csv")))))
    assert(!r.etags("small.csv").contains("-"))
    // at/over: S3 composite convention, md5-of-part-md5s + "-<nParts>",
    // recomputed independently from the raw bytes
    val partDigests = big.grouped(partSize).map(md5).toSeq
    val composite = hex(md5(partDigests.flatten.toArray)) + "-3"
    assert(r.etags("big.bin") == composite)
    // the chunked copy wrote the target byte-identically
    assert(Files.readAllBytes(java.nio.file.Paths.get(dst, "big.bin"))
      .sameElements(big))
    // skip-existing still works through the chunked path
    val r2 = ObjectSync.sync(conf, src.toString, dst,
      multipartThresholdMb = 1)
    assert(r2.copied.isEmpty && r2.skipped.toSet == Set("big.bin", "small.csv"))
    assert(r2.etags == r.etags) // etags are stable across runs
    // exact multiple of the part size: no empty trailing part
    Files.write(src.resolve("exact.bin"), new Array[Byte](2 * partSize))
    val r3 = ObjectSync.sync(conf, src.toString, dst,
      multipartThresholdMb = 1)
    assert(r3.etags("exact.bin").endsWith("-2"))
  }

  test("ObjectSync: maxSizeMb excludes oversized files, reported not dropped (upload_to_s3.py:134)") {
    import graft.ingest.ObjectSync
    val conf = spark.sparkContext.hadoopConfiguration
    val src = Files.createTempDirectory("graft_max_src")
    val dst = Files.createTempDirectory("graft_max_dst").toString
    Files.write(src.resolve("big.bin"), new Array[Byte](2 << 20))
    Files.writeString(src.resolve("small.csv"), "a\n1\n")
    val r = ObjectSync.sync(conf, src.toString, dst, maxSizeMb = Some(1))
    assert(r.copied == Seq("small.csv"))
    assert(r.excluded == Seq("big.bin")) // audited, not silently dropped
    assert(!Files.exists(java.nio.file.Paths.get(dst, "big.bin")))
    assert(r.manifest.keySet == Set("small.csv") && r.verifiedOk)
    // no filter -> both go
    val r2 = ObjectSync.sync(conf, src.toString, dst)
    assert(r2.excluded.isEmpty && r2.copied.contains("big.bin"))
  }

  test("bulk per-file loader derives table names and registers views") {
    val loaded = CsvIngest.loadDirectory(spark, dir.toString)
    assert(loaded.keySet == Set("nh_penalties_2024_a", "nh_penalties_2024_b"))
    assert(spark.table("nh_penalties_2024_a").count() == 3)
  }

  test("corruptRecordAudit counts torn rows and surfaces the raw payload") {
    val d = Files.createTempDirectory("graft_torn")
    // two clean rows, one short-token row, one unparsable-int row
    Files.writeString(d.resolve("mix.csv"),
      """id,name,qty
        |1,alpha,10
        |oops
        |2,beta,20
        |3,gamma,not_a_number
        |""".stripMargin)
    val audit = DataQuality.corruptRecordAudit(
      spark, d.toString + "/*.csv", "id INT, name STRING, qty INT")
      .collect().head
    assert(audit.getLong(0) == 4L, "n_rows")
    assert(audit.getLong(1) == 2L, "n_clean")
    assert(audit.getLong(2) == 2L, "n_corrupt")
    // the short-token row loses every field; the bad-qty row only qty —
    // and a row is only flagged corrupt w.r.t. the columns the query
    // parses, which is why the audit references them all
    assert(audit.getLong(3) == 3L, "n_parsed_id")
    assert(audit.getLong(4) == 3L, "n_parsed_name")
    assert(audit.getLong(5) == 2L, "n_parsed_qty")
    assert(audit.getString(6) == "3,gamma,not_a_number", "first_corrupt")
  }
}
