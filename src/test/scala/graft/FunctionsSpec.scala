package graft

import org.apache.spark.sql.functions._
import graft.functions.{Cleaning, Norm, StableHash, Text}

/** Scalar/cleaning function semantics, incl. the SURVEY §7.4 traps. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("native tokens == declarative regex-split form (planted + fuzz)") {
    // Planted: the declarative form's quirks must survive verbatim —
    // null/blank -> EMPTY array; non-space whitespace survives trim, so
    // leading "\t" yields a leading "" token and trailing "\n" a trailing
    // one (Pattern.split limit = -1); \u000B (vertical tab) IS Java \s —
    // planted directly and in the fuzz alphabet (as a VISIBLE escape, not
    // a raw control byte: the Bpe.scala raw-NUL lesson); multibyte text
    // lowers through CollationSupport.Lower — the identical dispatch the
    // declarative lower() compiles to, ICU flag included (r14).
    val planted = Seq(
      null, "", " ", "  ", "\t", "a", " a ", "A  B\tC", "\tfoo bar",
      "foo bar\n", "x\u000By", "a\u000Bb", "\u000B", "Hello\r\nWORLD", "ÜNÏCODE Straße",
      "İstanbul DİYARBAKIR", "汉字 测试　ideographic-space", "a\fb",
      " \t mixed \t ", "singleword", "multi  internal   runs")
    val fuzz = {
      val rnd = new scala.util.Random(13)
      val alphabet = "aB \t\n\u000B\f\r.éüß汉"
      Seq.fill(500)(
        (0 until rnd.nextInt(30)).map(_ =>
          alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    val df = (planted ++ fuzz).toDF("t")
      .select(Text.tokens($"t").as("nat"), Text.tokensDeclarative($"t").as("dec"))
    val rows = df.collect()
    rows.zip(planted ++ fuzz).foreach { case (r, in) =>
      assert(!r.isNullAt(0) && !r.isNullAt(1), s"null result for <$in>")
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"native ${r.getSeq[String](0)} != declarative ${r.getSeq[String](1)} for <$in>")
    }
  }

  test("normIdentifier matches the reference normalization (build.py:7-8)") {
    assert(Norm.normIdentifier("CMS Certification Number (CCN)") ==
      "cms_certification_number_ccn")
    assert(Norm.normIdentifier("  Provider Name ") == "provider_name")
    assert(Norm.normIdentifier("A--B__C") == "a_b_c")
    assert(Norm.normIdentifier("already_ok") == "already_ok")
  }

  test("normIdentifierCol agrees with plan-time normIdentifier") {
    val cases = Seq("CMS Certification Number (CCN)", "Hello  World!", "a.b.c",
      "__x__", "Ünïcode Stuff")
    val got = cases.toDF("s")
      .select(Norm.normIdentifierCol($"s")).as[String].collect()
    assert(got.toSeq == cases.map(Norm.normIdentifier))
  }

  test("normalizeQuarter golden cases (calculate_metrics.py:28-36)") {
    val cases = Seq(
      "2024Q1" -> "2024-Q1",
      "2024 Quarter 3" -> "2024-Q3",
      "2024-Q2" -> "2024-Q2",
      "Q1 2024" -> null, // year must come first
      "garbage" -> null,
      "1999Q1" -> null,  // regex requires 20xx
      "2024" -> null     // no following digit
    )
    val got = cases.map(_._1).toDF("q")
      .select(Norm.normalizeQuarter($"q")).as[String].collect()
    assert(got.toSeq == cases.map(_._2))
  }

  test("normalizeQuarter: null in -> null out") {
    val got = Seq[Option[String]](None).toDF("q")
      .select(Norm.normalizeQuarter($"q")).as[Option[String]].collect()
    assert(got.head.isEmpty)
  }

  test("zeroSentinelNull nulls the WHOLE critical set when ANY is zero") {
    val df = Seq(
      (1, 1.0, 2.0, 3.0),   // untouched
      (2, 0.0, 2.0, 3.0),   // all three nulled
      (3, 1.0, 0.0, 3.0),   // all three nulled
      (4, 0.0, 0.0, 0.0)    // all three nulled
    ).toDF("id", "a", "b", "c")
    val out = Cleaning.zeroSentinelNull(df, Seq("a", "b", "c"))
      .orderBy("id").collect()
    assert(!out(0).isNullAt(1) && !out(0).isNullAt(2) && !out(0).isNullAt(3))
    for (r <- Seq(out(1), out(2), out(3)); i <- 1 to 3) assert(r.isNullAt(i))
  }

  test("horizontalSum treats null as 0; all-null row sums to 0 (pandas axis=1)") {
    val df = Seq(
      (Some(1.0), Some(2.0)),
      (None, Some(5.0)),
      (None: Option[Double], None: Option[Double])
    ).toDF("a", "b")
    val got = df.select(Cleaning.horizontalSum(Seq($"a", $"b"))).as[Double].collect()
    assert(got.toSeq == Seq(3.0, 5.0, 0.0))
  }

  test("coerceNumeric: bad strings -> null, not error (pd.to_numeric coerce)") {
    val got = Seq("1.5", "abc", "", "2e3").toDF("s")
      .select(Cleaning.coerceNumeric($"s")).as[Option[Double]].collect()
    assert(got.toSeq == Seq(Some(1.5), None, None, Some(2000.0)))
  }

  test("native Hash60 equals the md5/conv reference form") {
    val df = Seq("", "a", "hello world", "Ünïcode ☃", "2024Q1").toDF("s")
    val got = df.select(
      StableHash.hash60($"s").as("fast"),
      conv(substring(md5($"s"), 1, 15), 16, 10).cast("long").as("ref"))
    assert(got.where($"fast" =!= $"ref").count() == 0)
    assert(got.where($"fast" < 0).count() == 0)
  }

  test("native JaroWinkler matches the DuckDB reference values") {
    import graft.plans.JaroWinkler
    // reference values read off duckdb jaro_winkler_similarity
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111), // transposition + boost
      ("dixon", "dicksonx", 0.8133333333333332),
      ("abc", "abc", 1.0),
      ("", "abc", 0.0),
      ("", "", 0.0),                  // duckdb scores both-empty 0
      ("aXXXXX", "aYYYYY", 0.4444444444444444), // jaro <= 0.7: no boost
      ("aaa", "aa", 0.9111111111111111),
      ("的是", "的不", 0.6666666666666666),     // codepoint units
      ("ab", "ba", 0.0),              // window 0: no cross-position match
      ("ABC", "abc", 0.0))            // case-sensitive
    val df = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
    val got = df.select(JaroWinkler($"a", $"b")).as[Double].collect()
    got.zip(cases).foreach { case (g, (a, b, want)) =>
      assert(g == want, s"jw($a, $b) = $g, want $want")
    }
    // null-intolerant: null input -> null out
    val n = Seq((Option("x"), Option.empty[String])).toDF("a", "b")
      .select(JaroWinkler($"a", $"b")).collect()
    assert(n.head.isNullAt(0))
  }

  test("wordShingles: k-grams, distinct, short-doc fallback") {
    val got = Seq("a b c d", "a b", "", "x x x x")
      .toDF("t").select(Text.wordShingles($"t", 3)).as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq("a b"))    // < k words: whole text
    assert(got(2) == Seq.empty)
    assert(got(3) == Seq("x x x"))  // duplicates collapsed
  }

  test("native StopwordHits is bit-parity with the aggregate() fold") {
    // The replaced fold, verbatim: null array -> null, null element
    // counts 0, frequency-weighted (repeats count each time).
    def foldHits(toks: org.apache.spark.sql.Column, words: Seq[String]) =
      aggregate(toks, lit(0L),
        (acc, t) => acc + when(t.isInCollection(words), 1L).otherwise(0L))
    val words = Seq("the", "and", "le", "und")
    val rnd = new scala.util.Random(23)
    val pool = words ++ Seq("alpha", "beta", "", "THE", "thé")
    val rows: Seq[Seq[Option[String]]] =
      (0 until 60).map { _ =>
        Seq.fill(rnd.nextInt(10))(
          if (rnd.nextInt(8) == 0) None else Some(pool(rnd.nextInt(pool.length))))
      } ++ Seq(Seq.empty, null)
    val df = rows.toDF("toks")
    val got = df.select(Text.stopwordHits($"toks", words)).collect()
      .map(r => if (r.isNullAt(0)) null else r.getLong(0))
    val want = df.select(foldHits($"toks", words)).collect()
      .map(r => if (r.isNullAt(0)) null else r.getLong(0))
    assert(got.toSeq == want.toSeq)
  }

  test("languageId picks stopword-majority language; und when no hits") {
    val got = Seq(
      "the cat sat on the mat and it is happy",
      "der hund ist nicht mit der katze",
      "qwerty zxcvb asdf"
    ).toDF("t").select(Text.languageId($"t")).as[String].collect()
    assert(got.toSeq == Seq("en", "de", "und"))
  }

  test("fingerprint is order-sensitive and deterministic") {
    val fp = Seq("a b c", "c b a", "a b c", "")
      .toDF("t").select(Text.fingerprint($"t")).as[Long].collect()
    assert(fp(0) == fp(2))
    assert(fp(0) != fp(1)) // positional: permutation changes the hash
    assert(fp(3) == 0L)
    assert(fp.forall(_ >= 0L))
  }

  test("native RepetitionProfile is bit-parity with the declarative fold") {
    // Fuzz docs: repeated lines, blank lines, tab-led lines, repeated
    // bigrams, single tokens, empty and null text. Both forms run over
    // the SAME materialized parts; doubles must be bit-equal (identical
    // long counts, identical divisions).
    val rnd = new scala.util.Random(31)
    val lines = Seq("alpha beta", "alpha beta", "x", "", "\tgamma d", "e f e f e")
    val rows: Seq[Option[String]] =
      (0 until 80).map { _ =>
        Some((0 until rnd.nextInt(8))
          .map(_ => lines(rnd.nextInt(lines.length))).mkString("\n"))
      } ++ Seq(Some(""), None, Some("one"), Some("\n\n"))
    val df = rows.toDF("t")
      .select(Text.linesOf($"t").as("ls"), Text.tokens($"t").as("toks"))
    def flat(c: org.apache.spark.sql.Column) = Seq(
      c.getField("n_lines"), c.getField("dup_line_frac"),
      c.getField("dup_line_char_frac"), c.getField("top_bigram_frac"))
    val got = df.select(flat(Text.repetitionFromParts($"ls", $"toks")): _*)
      .collect().map(_.toSeq).toSeq
    val want = df.select(flat(Text.repetitionFromPartsFold($"ls", $"toks")): _*)
      .collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("repetitionStruct: dup-line and top-bigram fractions on planted cases") {
    val rows = Seq(
      // 4 lines, "dup dup" twice (7 chars each), "x" (1) and
      // "yy wide line" (12) unique: dup_line_frac = 1/4,
      // dup_line_char_frac = 14/27
      "dup dup\nx\ndup dup\nyy wide line",
      "a b a b a b",     // bigrams: [a b, b a, a b, b a, a b] -> top 3/5
      "one two three",   // no repetition: fracs 0, bigram top 1/2
      "",                // empty: all zero
      null               // null: all zero
    ).toDF("t")
    val got = rows.select(Text.repetitionStruct($"t").as("r"))
      .select($"r.n_lines", $"r.dup_line_frac", $"r.dup_line_char_frac",
        $"r.top_bigram_frac")
      .collect()
    assert(got(0).getLong(0) == 4L)
    assert(got(0).getDouble(1) == 0.25)
    assert(got(0).getDouble(2) == 14.0 / 27.0)
    assert(got(1).getDouble(3) == 3.0 / 5.0)
    assert(got(2).getLong(0) == 1L)
    assert(got(2).getDouble(1) == 0.0)
    assert(got(2).getDouble(3) == 0.5)
    assert(got(3).getLong(0) == 0L && got(3).getDouble(3) == 0.0)
    assert(got(4).getLong(0) == 0L && got(4).getDouble(2) == 0.0)
  }

  test("stripAccents: NFD + combining-mark removal golden cases") {
    val cases = Seq(
      "café" -> "cafe",
      "Żółć" -> "Zołc",              // ł has no decomposition: kept
      "tschüß" -> "tschuß",          // ß untouched
      "crème brûlée" -> "creme brulee",
      "Ψωμί" -> "Ψωμι",              // non-Latin keeps script, loses tonos
      "日本語" -> "日本語",
      "plain ascii" -> "plain ascii")
    val got = cases.map(_._1).toDF("t")
      .select(Text.stripAccents($"t")).as[String].collect()
    assert(got.toSeq == cases.map(_._2))
    val n = Seq((null: String)).toDF("t")
      .select(Text.stripAccents($"t")).collect()
    assert(n.head.isNullAt(0))
  }

  test("chunkWindows: overlapping token windows with short tail") {
    // 10 tokens, width 4, overlap 1 -> starts 1,4,7,10
    val t = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
    val got = Seq(t, "one two", "", null: String).toDF("t")
      .select(Text.chunkWindows($"t", width = 4, overlap = 1).as("c"))
      .collect().map(_.getAs[scala.collection.Seq[String]]("c").toSeq)
    assert(got(0) == Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10", "t10"))
    assert(got(1) == Seq("one two"))
    assert(got(2).isEmpty && got(3).isEmpty)
  }

  test("native L2Sq matches the declarative fold on every degenerate route") {
    import org.apache.spark.sql.functions._
    // pairs: normal, empty-empty (0.0), ragged (null), null-element
    // (null), NaN element (NaN), huge magnitudes; the declarative twin
    // is the exact form the oracle replays
    val rows: Seq[(Seq[java.lang.Float], Seq[java.lang.Float])] = Seq(
      (Seq[java.lang.Float](1f, 2f, 3f), Seq[java.lang.Float](4f, 6f, 9f)),
      (Seq[java.lang.Float](), Seq[java.lang.Float]()),
      (Seq[java.lang.Float](1f, 2f), Seq[java.lang.Float](1f)),
      (Seq[java.lang.Float](1f, null), Seq[java.lang.Float](1f, 2f)),
      (Seq[java.lang.Float](Float.NaN, 2f), Seq[java.lang.Float](0f, 2f)),
      (Seq[java.lang.Float](1e19f, -1f), Seq[java.lang.Float](-1e19f, 1f)),
      (null, Seq[java.lang.Float](1f)))
    val df = rows.toDF("a", "b")
    val declarative = aggregate(
      zip_with(transform($"a", _.cast("double")),
        transform($"b", _.cast("double")), (x, y) => (x - y) * (x - y)),
      lit(0.0), _ + _)
    val got = df.select(
      graft.functions.Vectors.l2sq($"a", $"b").as("native"),
      declarative.as("decl")).collect()
    got.zipWithIndex.foreach { case (r, i) =>
      val n = if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0))
      val d = if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
      val same = (n == null && d == null) ||
        (n != null && d != null &&
          java.lang.Double.doubleToLongBits(n) == java.lang.Double.doubleToLongBits(d))
      assert(same, s"row $i: native=$n declarative=$d")
    }
  }

  test("redactPii replaces emails, IPv4s and phone runs with placeholders") {
    val got = Seq(
      "mail a.b+tag@ex-1.example.co, ip 10.0.42.7, call +1 (415) 555-0100 ok",
      "no pii here at all",
      null: String
    ).toDF("t").select(Text.redactPii($"t")).as[String].collect()
    assert(got(0) == "mail <EMAIL>, ip <IP>, call <PHONE> ok")
    assert(got(1) == "no pii here at all")
    assert(got(2) == "")
  }
}
