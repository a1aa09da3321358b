package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  // mirror of Text.norm's ASCII-only case fold (the canonical content
  // normalization deliberately does NOT full-Unicode-lowercase — see
  // Text.norm's scaladoc)
  private def asciiFold(s: String): String =
    s.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)

  test("every textops query runs") {
    TextOps.all.foreach { q =>
      val df = q.run(spark, sfDir)
      assert(df.columns.nonEmpty, s"${q.name} has no columns")
      df.collect()
    }
  }

  test("exact dedup: copies sum to corpus size, keep_id is a member") {
    val rows = TextOps.qDedupExact.run(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_copies")).sum ==
      Tables.documents(spark, sfDir).count())
    // reference normalization uses the SUT's exact whitespace class —
    // Java's \s additionally matches \x0B and would drift on such corpora
    val distinctNorm = Tables.documents(spark, sfDir)
      .select(regexp_replace(lower(trim(col("text"))), "[ \\t\\n\\r\\f]+", " "))
      .distinct().count()
    assert(rows.length == distinctNorm)
  }

  test("lang id confusion matrix covers all docs") {
    val rows = TextOps.qLangId.run(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sfDir).count())
  }

  test("quality score in [0,1] and equals its weighted components") {
    TextOps.qQualityScore.run(spark, sfDir).collect().foreach { r =>
      val sc = r.getAs[Double]("quality_score")
      assert(sc >= 0 && sc <= 1, s"score $sc out of range")
      val expect = 0.4 * r.getAs[Double]("len_score") +
        0.3 * r.getAs[Double]("stop_score") +
        0.15 * (1.0 - r.getAs[Double]("punct_ratio")) +
        0.15 * (1.0 - r.getAs[Double]("caps_ratio"))
      assert(sc == expect, s"score mismatch $sc vs $expect")
    }
  }

  test("token counts: ws tokens <= bpe tokens for word corpus") {
    // every whitespace token yields at least one BPE-ish token, so the
    // strict inequality holds document-by-document
    TextOps.qTokenCount.run(spark, sfDir).collect().foreach { r =>
      assert(r.getAs[Int]("n_tokens_ws") <= r.getAs[Int]("n_tokens_bpe"))
    }
  }

  test("native functions reject wrong arity with a named error") {
    graft.functions.GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_dot_q(array(1))").collect()
    }
    assert(e.getMessage.contains("graft_dot_q"),
      s"error must name the function: ${e.getMessage}")
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_rolling_hash('a', 'b')").collect()
    }
    assert(e2.getMessage.contains("graft_rolling_hash"))
    // a non-foldable model and a wrong-typed argument fail at analysis
    // too, naming the function
    val e3 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_matvec_q(m, array(1L)) FROM VALUES (array(array(1L))) AS t(m)")
    }
    assert(e3.getMessage.contains("graft_matvec_q"), e3.getMessage)
    val e4 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_simhash64(X'00')")
    }
    assert(e4.getMessage.contains("graft_simhash64"), e4.getMessage)
  }

  test("rolling hash expression matches a reference fold") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val got = Seq("abc", "", "hello world").toDF("text")
      .select(call_function("graft_rolling_hash", col("text")))
      .collect().map(_.getLong(0))
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
    assert(got.sameElements(Array(ref("abc"), ref(""), ref("hello world"))))
    assert(ref("abc") == 96354L)
  }

  test("dot-q kernel: exact dot, null on length mismatch") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rows = Seq(
      (Array(1L, 2L, 3L), Array(4L, 5L, 6L)),
      (Array(1L, 2L), Array(4L, 5L, 6L)))
      .toDF("a", "b")
      .select(call_function("graft_dot_q", col("a"), col("b")).as("d"))
      .collect()
    assert(rows(0).getLong(0) == 32L)
    assert(rows(1).isNullAt(0), "mismatched lengths must yield null")
  }

  test("matvec-q kernel: row dots match per-row dot-q, null on mismatch/null") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val mat = Array(Array(1L, 0L, 2L), Array(-1L, 3L, 0L), Array(7L, 7L, 7L))
    val rows = Seq(
      (1, Option(Array(2L, 3L, 5L))),
      (2, Option(Array(1L, 1L))), // length mismatch -> null
      (3, Option.empty[Array[Long]])) // null vec -> null
      .toDF("id", "v")
      .select(col("id"),
        call_function("graft_matvec_q", typedlit(mat), col("v")).as("d"))
      .orderBy("id").collect()
    assert(rows(0).getSeq[Long](1).toList == List(12L, 7L, 70L),
      "dots must equal the per-row DotQ results")
    assert(rows(1).isNullAt(1), "vec shorter than matrix rows must yield null")
    assert(rows(2).isNullAt(1), "null vec must yield null")
  }

  test("token-counts kernel: identical to the regex forms on corpus + crafted edges") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val crafted = Seq(
      "", " ", "   ", "\t", " \t ", "a", " a ", "a b", "  a  b  ",
      "a\tb\nc", "tab\tonly", "\ta", "a\t", "ab12cd", "1 22 333",
      "héllo wörld", "日本語 テスト",
      "é", "𝄞 note", // 𝄞: a supplementary code point
      "a!b?c", "!!!", "a  -  b", "line1\r\nline2\u000Bvt", "ﬁß")
    val docs = Tables.documents(spark, sfDir).select(col("text"))
      .unionByName(crafted.toDF("text"))
    val bad = docs.select(
        call_function("graft_token_counts", col("text")).as("tc"),
        col("text"),
        // the regex form wordCount REPLACED — spelled inline so the pin
        // stays independent of the kernel under test
        when(trim(col("text")) === "", 0)
          .otherwise(size(split(trim(col("text")), "[ \\t\\n\\r\\f]+")))
          .as("ws"),
        regexp_count(col("text"),
          lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 \\t\\n\\r\\f]")).as("bpe"),
        regexp_count(col("text"),
          lit("[^a-zA-Z0-9 \\t\\n\\r\\f]")).as("punct"),
        regexp_count(col("text"), lit("[A-Z]")).as("upper"))
      .filter(col("tc.n_ws") =!= col("ws") || col("tc.n_bpe") =!= col("bpe")
        || col("tc.n_punct") =!= col("punct")
        || col("tc.n_upper") =!= col("upper"))
    assert(bad.count() == 0,
      s"kernel/regex divergence:\n${bad.limit(5).collect().mkString("\n")}")
    val nullRow = Seq(Option.empty[String]).toDF("text")
      .select(call_function("graft_token_counts", col("text"))).head()
    assert(nullRow.isNullAt(0), "null text must yield null counts")
  }

  test("stop-counts + cjk kernels: identical to the padded regex forms") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // adjacent stopwords exercise the alternating space-consumption rule
    // (" the and the " counts the,the — 'and' lost its leading space);
    // prefix/suffix traps (them/band/a), digits-splitting, CJK boundary
    // code points (U+4DFF just below, U+4E00/U+9FFF in, U+A000 above)
    val crafted = Seq(
      "", " ", "the", " the ", "the and the the", "the the the",
      "them and band", "a a a a", "to2to", "of-of", "THE AND", "The",
      "isof", "a", "la de que", "der die und das", "le la les et",
      "㝿 text", "一", "鿿", "ꀀ", "mix 一 the and", "el y la y el",
      "a1a2a3", "...", "und?und!und")
    val lists = graft.operators.TextOps.stopwordLists
    val pattern = (ws: Seq[String]) => s" (${ws.mkString("|")}) "
    val padded = concat(lit(" "),
      regexp_replace(lower(col("text")), "[^a-z]+", " "), lit(" "))
    val docs = Tables.documents(spark, sfDir).select(col("text"))
      .unionByName(crafted.toDF("text"))
    var q = docs.select(
      col("text"),
      call_function("graft_stop_counts", lower(col("text")),
        typedlit(lists.map(_._2))).as("sc"),
      call_function("graft_cjk", col("text")).as("ck"),
      col("text").rlike("[一-鿿]").as("ck_re"),
      padded.as("padded"))
    for (((l, ws), i) <- lists.zipWithIndex)
      q = q.withColumn(s"re_$l", regexp_count(col("padded"), lit(pattern(ws))))
        .withColumn(s"k_$l", element_at(col("sc"), i + 1))
    val bad = q.filter(
      lists.map { case (l, _) => col(s"k_$l") =!= col(s"re_$l") }
        .reduce(_ || _) || col("ck") =!= col("ck_re"))
    assert(bad.count() == 0,
      s"stop/cjk kernel divergence:\n${bad.limit(5).collect().mkString("\n")}")
  }

  test("foldable NULL model arguments: null result under codegen, no NPE") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // doGenCode forces the lazy model while registering the codegen
    // reference object — BEFORE the per-row null check runs; a null
    // literal must fold to an inert model, not NPE at plan-compile time
    val rows = Seq(Tuple1("abc")).toDF("t")
      .select(
        call_function("graft_matvec_q",
          lit(null).cast("array<array<bigint>>"),
          typedlit(Array(1L, 2L))).as("m"))
      .collect()
    assert(rows(0).isNullAt(0), "null matrix must yield null, not crash")
  }

  test("identical texts share fingerprints") {
    val fp = TextOps.qFingerprint.run(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    val joined = fp.join(docs, "doc_id")
      .groupBy("text").agg(countDistinct("content_md5").as("m"),
        countDistinct("rolling_hash").as("rh"))
      .filter(col("m") > 1 || col("rh") > 1)
    assert(joined.count() == 0)
  }

  test("tfidf terms: <=5 ranked terms per doc, score = floor(tf*1e9/df)") {
    val rows = TextOps.qTfidfTerms.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (doc, rs) =>
      assert(rs.length <= 5, s"doc $doc has ${rs.length} terms")
      // scores non-increasing in output order and exact integer formula
      val scores = rs.map(_.getAs[Long]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      rs.foreach { r =>
        assert(r.getAs[Long]("score") ==
          r.getAs[Long]("tf") * 1000000000L / r.getAs[Long]("df"))
      }
    }
    // a rare term must outrank a ubiquitous one at equal tf: df appears
    // in the denominator, so every row with higher score has lower df
    // at equal tf within its doc
    byDoc.values.foreach { rs =>
      rs.groupBy(_.getAs[Long]("tf")).values.foreach { same =>
        val ordered = same.sortBy(-_.getAs[Long]("score"))
        val dfs = ordered.map(_.getAs[Long]("df"))
        assert(dfs.zip(dfs.tail).forall { case (a, b) => a <= b })
      }
    }
  }

  test("repetition stats: fractions bounded, pinned against a scala recount") {
    val rows = TextOps.qRepetitionStats.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val words = asciiFold(texts(id).trim).split("[ \t\n\r\f]+").filter(_.nonEmpty)
      assert(r.getAs[Long]("n_words") == words.length, s"doc $id n_words")
      assert(r.getAs[Long]("n_distinct") == words.distinct.length, s"doc $id n_distinct")
      val topWord = words.groupBy(identity).values.map(_.length).max
      assert(math.abs(r.getAs[Double]("top_word_frac") -
        topWord.toDouble / words.length) < 1e-3, s"doc $id top_word_frac")
      if (words.length >= 2) {
        val topBg = words.sliding(2).toSeq.map(_.mkString(" "))
          .groupBy(identity).values.map(_.length).max
        assert(math.abs(r.getAs[Double]("top_bigram_frac") -
          topBg.toDouble / (words.length - 1)) < 1e-3, s"doc $id top_bigram_frac")
      } else assert(r.isNullAt(r.fieldIndex("top_bigram_frac")))
      val f = r.getAs[Double]("dup_word_frac")
      assert(f >= 0 && f <= 1)
    }
  }

  test("decontaminate: flags exactly the eval docs sharing a 5-gram with train") {
    val rows = TextOps.qDecontaminate.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // scala recount of the same rule
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def grams(t: String): Set[String] = {
      val w = asciiFold(t.trim).split("[ \t\n\r\f]+").filter(_.nonEmpty)
      if (w.length < 5) Set.empty else w.sliding(5).map(_.mkString(" ")).toSet
    }
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> grams(r.getAs[String]("text")))
    val (evalD, trainD) = docs.partition { case (id, _) => md5hex(id.toString).startsWith("0") }
    val trainVocab = trainD.iterator.flatMap(_._2).toSet
    val want = evalD.filter(_._2.nonEmpty).map { case (id, g) =>
      id -> g.count(trainVocab.contains)
    }.toMap
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == want.keySet)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_hits") == want(id).toLong, s"doc $id n_hits")
      assert(r.getAs[Boolean]("contaminated") == (want(id) > 0))
    }
    // the synthetic corpus contains duplicated content, so the gate must
    // actually fire somewhere
    assert(rows.exists(_.getAs[Boolean]("contaminated")))
  }

  test("decontaminate: the eval-join hint broadcasts at EvalBroadcastMaxCorpusDocs documents, merges one past it") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, SHUFFLE_MERGE}
    val gate = Gates.EvalBroadcastMaxCorpusDocs.max
    val df = spark.range(3).toDF("ng")
    assert(joinHints(TextOps.evalJoinHint(gate)(df)) == Seq(BROADCAST))
    assert(joinHints(TextOps.evalJoinHint(gate + 1)(df)) == Seq(SHUFFLE_MERGE))
  }

  test("decontaminate: shuffled-semi-join branch (huge eval) equals broadcast branch") {
    // under the gate → broadcast branch; the far side (the 100 TB
    // fallback) is the same plan with its hints stripped and nothing
    // broadcast by size, so every join is a shuffled one. Same rows out.
    val hinted = TextOps.decontaminate(spark, sfDir)
    assert(joinHints(hinted).nonEmpty, "under the gate the eval vocab must be hinted")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_ngrams"), r.getAs[Long]("n_hits"),
        r.getAs[Double]("contamination_frac"), r.getAs[Boolean]("contaminated"))
    val shuffled = unhinted(hinted) { df =>
      // the far side must really drop the broadcast on the N-GRAM joins
      // (the vocab-sized ones). AQE may convert a shuffle to a broadcast
      // AT RUNTIME on tiny test data, so assert on the static plan
      val plan = df.queryExecution.executedPlan.toString
      val badLines = plan.linesIterator
        .filter(l => l.contains("BroadcastHashJoin") && l.contains("[ng#")).toSeq
      assert(badLines.isEmpty,
        s"shuffled branch still statically broadcasts an ng join:\n${badLines.mkString("\n")}")
      df.collect().map(key).toSet
    }
    assert(shuffled == hinted.collect().map(key).toSet, "branches disagree")
  }

  test("decontaminate: a single-split corpus plans no shuffle; the doc_id spread lands the same rows") {
    val plain = TextOps.decontaminate(spark, sfDir)
    val rows = plain.collect().toSeq
    assert(shuffles(plain).isEmpty, plain.queryExecution.executedPlan.toString)
    val spread = TextOps.decontaminateSpread(spark, sfDir)
    assert(spread.collect().toSeq == rows, "the doc_id spread changed the rows")
    assert(shuffles(spread).nonEmpty, spread.queryExecution.executedPlan.toString)
  }

  test("pii kernels: crafted strings match the DuckDB-verified counts/deltas") {
    // The corpus contains no digits or '@' (q_pii_scan's oracle hash is
    // structurally all-zero), so the regex kernels are pinned HERE: each
    // expected tuple below was computed with DuckDB's RE2 engine on the
    // same patterns — this spec asserting the Java side reproduces them
    // IS the cross-engine agreement check. Cases cover greedy-domain
    // backtracking (email host), \b-bounded runs (the 20-digit string
    // matches NOTHING in the 13–19 id-run class), category overlap (a
    // 16-digit card is an id-run AND phone-shaped) and null propagation.
    import spark.implicits._
    val cases = Seq(
      // (text, n_email, n_ipv4, n_phone, n_idrun, redact_delta)
      ("contact a.b-c_d%e+f@mail-srv.example.co or x@y.io now", 2, 0, 0, 0, 27),
      ("server at 10.0.255.3 and 192.168.1.17, port 8080", 0, 2, 0, 0, 12),
      ("call +1 (555) 123-4567 or 0044 20 7946 0958 asap", 0, 0, 2, 0, 24),
      ("card 4111111111111111 ok, sn 12345678901234567890 too long", 0, 0, 2, 1, 26),
      ("no pii here at all", 0, 0, 0, 0, 0),
      ("mixed: a@b.de from 8.8.8.8 phone +49 171 2345678 card 5500005555555559",
        1, 1, 2, 1, 24))
    val got = cases.map(_._1).toDF("text")
      .select(col("text") +: graft.operators.TextOps.piiCols(spark, col("text")): _*)
      .collect().map(r => r.getAs[String]("text") ->
        (r.getAs[Int]("n_email"), r.getAs[Int]("n_ipv4"),
          r.getAs[Int]("n_phone"), r.getAs[Int]("n_idrun"),
          r.getAs[Long]("redact_delta"))).toMap
    for ((t, e, i, p, d, delta) <- cases)
      assert(got(t) == ((e, i, p, d, delta.toLong)),
        s"kernel mismatch on '$t': got ${got(t)}, DuckDB says ($e,$i,$p,$d,$delta)")
    val nulls = Seq(Option.empty[String]).toDF("text")
      .select(graft.operators.TextOps.piiCols(spark, col("text")): _*).collect()(0)
    assert((0 until 5).forall(nulls.isNullAt),
      "null text must yield null counts/delta (the rollup's CASE handles it)")
  }

  test("pii kernel ≡ the Java regex forms on the corpus + crafted edges") {
    // The token-kernel precedent: the DuckDB-pinned spec above fixes the
    // cross-engine truth on six strings; THIS one pins kernel ≡ the exact
    // Spark regex forms it replaced, value-for-value and byte-for-byte
    // (redacted string included), on the real corpus plus adversarial
    // edges — domain backtracking past non-alpha tails, chained '@'s,
    // word-boundary and overlong-group ipv4 rejections, multibyte
    // boundaries, plus-phone starts, 13/19/20-digit run edges.
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val crafted = Seq(
      "a@b.ccc.d-ee tail", "a@b.cc@d.ee chain", "x@@y.zz double-at",
      "a@b.c short-tld", "no@dot", "трём@пример.рф non-ascii",
      "padded.email+tag@sub.domain-x.org!", "a+b@c.dd plus-local",
      "a@b.co.uk multi-dot", "A@B.DE upper",
      "1.2.3.4567 overlong last group", "1234.5.6.7 overlong first",
      "_1.2.3.4 word-bound", "1.2.3.4a trailing word",
      "é1.2.3.4 multibyte boundary", "1.2.3.4é trailing multibyte letter",
      "ヴ1.2.3.4 katakana word char", "½1.2.3.4 non-word multibyte",
      "٣1.2.3.4 arabic-indic digit is \\b-word", "𝕏1.2.3.4 supplementary letter",
      "é9999999999999 multibyte id-run bound", "ip 010.001.000.255 padded",
      "1.2.3.4.5 five groups", "10.0.0.1. trailing dot",
      "+123456789 plus-phone", "+ 12345678 split-plus",
      "(555) 1234567 paren-start", "phone 123-456-7890.",
      "12345678901234567890123 23-digit run", "9999999999999 exactly 13",
      "9999999999999999999 exactly 19", "99999999999999999999 exactly 20",
      "id 1234567890123456.", "4111 1111 1111 1111 spaced card",
      "x.1234567890123.y dotted id-run", "", " ", "[PII] already",
      "mixed: a@b.de from 8.8.8.8 phone +49 171 2345678 card 5500005555555559")
    val corpus = Tables.documents(spark, sfDir).select("text")
      .where(col("text").isNotNull).as[String].collect().toSeq
    val rows = (crafted ++ corpus).toDF("text")
      .select(col("text"),
        call_function("graft_pii_counts", col("text")).as("k"),
        call_function("graft_pii_redact", col("text")).as("r"),
        regexp_count(col("text"), lit(TextOps.PiiEmail)).as("x_email"),
        regexp_count(col("text"), lit(TextOps.PiiIpv4)).as("x_ipv4"),
        regexp_count(col("text"), lit(TextOps.PiiPhone)).as("x_phone"),
        regexp_count(col("text"), lit(TextOps.PiiIdRun)).as("x_idrun"),
        regexp_count(col("text"), lit(TextOps.PiiAll)).as("x_n"),
        regexp_replace(col("text"), TextOps.PiiAll, "[PII]").as("x_clean"))
      .collect()
    assert(rows.length >= crafted.length, "corpus must be non-empty")
    rows.foreach { row =>
      val t = row.getAs[String]("text")
      val k = row.getStruct(row.fieldIndex("k"))
      val r = row.getStruct(row.fieldIndex("r"))
      val xClean = row.getAs[String]("x_clean")
      assert(k.getAs[Int]("n_email") == row.getAs[Int]("x_email"),
        s"n_email drift on '$t'")
      assert(k.getAs[Int]("n_ipv4") == row.getAs[Int]("x_ipv4"),
        s"n_ipv4 drift on '$t'")
      assert(k.getAs[Int]("n_phone") == row.getAs[Int]("x_phone"),
        s"n_phone drift on '$t'")
      assert(k.getAs[Int]("n_idrun") == row.getAs[Int]("x_idrun"),
        s"n_idrun drift on '$t'")
      assert(k.getAs[Int]("n_pii") == row.getAs[Int]("x_email") +
        row.getAs[Int]("x_ipv4") + row.getAs[Int]("x_phone") +
        row.getAs[Int]("x_idrun"), s"n_pii drift on '$t'")
      assert(k.getAs[Int]("n_redactions") == row.getAs[Int]("x_n"),
        s"n_redactions drift on '$t'")
      assert(k.getAs[Long]("redact_delta") == (t.length - xClean.length).toLong,
        s"redact_delta drift on '$t'")
      assert(r.getAs[String]("clean") == xClean,
        s"redacted string drift on '$t': got '${r.getAs[String]("clean")}'")
      assert(r.getAs[Int]("n_redactions") == row.getAs[Int]("x_n"),
        s"redact-side n_redactions drift on '$t'")
    }
  }

  test("pii kernel ≡ regex on malformed UTF-8 (overlong/surrogate/stray bytes)") {
    // The r13 advice case: a UTF8String can carry arbitrary bytes, and the
    // kernel scans BYTES while the regex path scans the STRING conversion
    // (malformed sequences → U+FFFD, non-word). cpAt must therefore reject
    // everything java.nio's decoder rejects — overlong forms, CESU-8
    // surrogate halves, cp > U+10FFFF — or a trailing \b after a digit run
    // diverges ('x 1.2.3.4'+E0 80 B0: overlong '0' would read as a word
    // char → kernel 0 vs regex 1). Also pins the stray-continuation case
    // that wordBefore's length check (NOT cpAt) guards.
    import java.nio.charset.StandardCharsets.UTF_8
    import org.apache.spark.unsafe.types.UTF8String
    def b(s: String): Array[Byte] = s.getBytes(UTF_8)
    val cases: Seq[(String, Array[Byte])] = Seq(
      "overlong-'0' after ipv4" -> (b("x 1.2.3.4") ++ Array(0xe0, 0x80, 0xb0).map(_.toByte)),
      "overlong-'0' before ipv4" -> (Array(0xe0, 0x80, 0xb0).map(_.toByte) ++ b("1.2.3.4 x")),
      "surrogate half after ipv4" -> (b("ip 1.2.3.4") ++ Array(0xed, 0xa0, 0x81).map(_.toByte)),
      "cp>U+10FFFF after id-run" -> (b("9999999999999") ++ Array(0xf4, 0x90, 0x80, 0x80).map(_.toByte)),
      "overlong-'y' 4-byte after digits" -> (b("1234567890123") ++ Array(0xf0, 0x80, 0x81, 0xb9).map(_.toByte)),
      "stray continuation after é before ipv4" ->
        (b("é") ++ Array(0x80).map(_.toByte) ++ b("1.2.3.4")),
      "truncated lead after ipv4" -> (b("8.8.8.8") ++ Array(0xc3).map(_.toByte)),
      "overlong '@' splits email" ->
        (b("a") ++ Array(0xc0, 0xc0).map(_.toByte) ++ b("a@b.co")))
    val pats = Seq(TextOps.PiiEmail, TextOps.PiiIpv4, TextOps.PiiPhone,
      TextOps.PiiIdRun, TextOps.PiiAll).map(java.util.regex.Pattern.compile)
    def nMatches(p: java.util.regex.Pattern, s: String): Int = {
      val m = p.matcher(s); var c = 0; while (m.find()) c += 1; c
    }
    for ((name, bytes) <- cases) {
      val decoded = new String(bytes, UTF_8) // malformed → U+FFFD, like Spark's regex path
      val exp = pats.map(nMatches(_, decoded))
      val row = graft.functions.PiiKernel.counts(UTF8String.fromBytes(bytes))
      val got = Seq(row.getInt(0), row.getInt(1), row.getInt(2), row.getInt(3), row.getInt(5))
      assert(got == exp,
        s"kernel/regex drift on malformed case '$name': kernel $got vs regex $exp")
      val red = graft.functions.PiiKernel.redact(UTF8String.fromBytes(bytes))
      assert(red.getInt(1) == exp.last, s"redact-side match-count drift on '$name'")
    }
  }

  test("block-counts kernel ≡ the split+filter forms on corpus + crafted edges") {
    // the r13 kernel replaced norm-regex + token-array + two HOF lambda
    // filters; this pins kernel ≡ those exact forms value-for-value,
    // null/empty/whitespace-only and case-fold edges included
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val crafted = Seq(
      "slow slow BIG  merge", "SLOW\tbig\nMERGE", " \t ", "", "one",
      "slowx big-ish mergers", "снег slow 雪 big", "slow.big,merge",
      "  slow  ", "a\u000Bb slow") // \x0B is NOT in the ws class
    val corpus = Tables.documents(spark, sfDir).select("text")
      .where(col("text").isNotNull).as[String].collect().toSeq
    val words = split(graft.operators.Text.norm(col("text")), " ")
    val rows = (crafted ++ corpus).toDF("text")
      .select(col("text"),
        call_function("graft_block_counts", col("text"),
          typedlit(TextOps.Blocklist)).as("k"),
        size(filter(words, t => t =!= "")).as("x_tok"),
        size(filter(words, t => t.isin(TextOps.Blocklist: _*))).as("x_blocked"))
      .collect()
    rows.foreach { row =>
      val t = row.getAs[String]("text")
      val k = row.getStruct(row.fieldIndex("k"))
      assert(k.getAs[Int]("n_tok") == row.getAs[Int]("x_tok"),
        s"n_tok drift on '$t'")
      assert(k.getAs[Int]("n_blocked") == row.getAs[Int]("x_blocked"),
        s"n_blocked drift on '$t'")
    }
    val nulls = Seq(Option.empty[String]).toDF("text")
      .select(call_function("graft_block_counts", col("text"),
        typedlit(TextOps.Blocklist)).as("k")).collect()(0)
    assert(nulls.isNullAt(0), "null text must yield a null struct")
  }

  test("blocklist counting is token-exact, including adjacent blocked words") {
    import spark.implicits._
    // " slow slow " under the padded-regex technique counts 1 (the match
    // eats the shared space); token-level membership must count 2 — and
    // the 5% flag threshold is integer-exact at the boundary (1 blocked
    // of exactly 20 tokens does NOT flag; 1 of 19 does).
    val boundaryNot = (Seq("slow") ++ Seq.fill(19)("ok")).mkString(" ")
    val boundaryYes = (Seq("slow") ++ Seq.fill(18)("ok")).mkString(" ")
    val dir = tempDir("graft_blocklist").toString
    Seq(
      (1L, "s1", "slow slow BIG  merge"), // 4 tokens, 4 blocked (normalized)
      (2L, "s2", boundaryNot),
      (3L, "s3", boundaryYes),
      (4L, "s4", "nothing blocked here"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextOps.qBlocklistScan.run(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("blocked_tokens"), r.getAs[Long]("total_tokens"),
          r.getAs[Long]("flagged_docs"))).toMap
    assert(got("s1") == ((4L, 4L, 1L)),
      s"adjacent blocked words must each count: ${got("s1")}")
    assert(got("s2") == ((1L, 20L, 0L)), "1/20 = exactly 5% must NOT flag")
    assert(got("s3") == ((1L, 19L, 1L)), "1/19 > 5% must flag")
    assert(got("s4") == ((0L, 3L, 0L)))
  }

  test("dup spans: counts match a scala recount; short docs keep NULL fraction") {
    val rows = TextOps.qDupSpans.run(spark, sfDir).collect()
    def toks(t: String): Array[String] =
      asciiFold(t.trim).split("[ \t\n\r\f]+").filter(_.nonEmpty)
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> toks(r.getAs[String]("text")))
    // recount on STRING grams — the operator's xxhash64 keys are exact
    // unless two distinct grams collide in 64 bits (the accepted hashed-
    // postings premise; vanishingly unlikely at spec scale)
    val positions = docs.map { case (id, w) =>
      id -> (if (w.length < TextOps.DupSpanN) Seq.empty[String]
             else w.sliding(TextOps.DupSpanN).map(_.mkString(" ")).toSeq)
    }.toMap
    val docFreq = positions.toSeq
      .flatMap { case (id, gs) => gs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.size }
    assert(rows.length == docs.length, "every document must stay in the report")
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val gs = positions(id)
      val wantDup = gs.count(g => docFreq(g) >= TextOps.DupSpanMinDocs).toLong
      assert(r.getAs[Long]("n_ngrams") == gs.size.toLong, s"doc $id n_ngrams")
      assert(r.getAs[Long]("n_dup") == wantDup, s"doc $id n_dup")
      assert(r.isNullAt(r.fieldIndex("dup_frac")) == gs.isEmpty,
        s"doc $id: NULL fraction iff zero grams")
      assert(r.getAs[Boolean]("mostly_dup") ==
        (gs.nonEmpty && 2 * wantDup >= gs.size), s"doc $id mostly_dup")
    }
    // the synthetic corpus contains duplicated content, so coverage must
    // actually register somewhere
    assert(rows.exists(_.getAs[Long]("n_dup") > 0))
  }

  test("dup spans: join-back default ≡ window form on real and boilerplate corpora") {
    import spark.implicits._
    def snapshot(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, String, Boolean)] =
      df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_ngrams"),
        r.getAs[Long]("n_dup"),
        Option(r.get(r.fieldIndex("dup_frac"))).map(_.toString).orNull,
        r.getAs[Boolean]("mostly_dup"))).toSeq
    val real = Tables.documents(spark, sfDir)
    assert(snapshot(TextOps.dupSpansOf(real, useWindow = false)) ==
      snapshot(TextOps.dupSpansOf(real, useWindow = true)),
      "physical strategies disagree on the real corpus")
    // crafted boilerplate-heavy corpus: one license-header gram family
    // shared by EVERY doc (the hot key the join-back exists for), each
    // doc with a unique tail so not everything is a whole-doc dup
    val boiler = (1L to 40L).map(i =>
      (i, "licensed under the apache license version two zero " +
        s"unique tail $i with trailing words number $i here")).toDF("doc_id", "text")
    val jb = snapshot(TextOps.dupSpansOf(boiler, useWindow = false))
    assert(jb == snapshot(TextOps.dupSpansOf(boiler, useWindow = true)),
      "physical strategies disagree on the boilerplate corpus")
    // the hot grams must register as dup coverage in every document
    assert(jb.forall(_._3 > 0), "boilerplate grams must count as dup spans")
  }

  test("substring dedup: crafted corpus pins removal, rebuild hash, and q_dup_spans consistency") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val dir = tempDir("graft_subdedup").toString
    // docs 1,2 share a 7-word banner: its three 5-grams are duplicated,
    // covering exactly banner positions 0..6 in BOTH docs; each doc's
    // 3-word unique tail survives. The gram bridging banner→tail is
    // unique per doc, so coverage must stop at the banner boundary.
    val banner = "alpha beta gamma delta epsilon zeta eta"
    Seq(
      (1L, "s", s"$banner one two three"),
      (2L, "s", s"$banner four five six"),
      (3L, "s", "totally unique words only here never repeated"),
      (4L, "s", ""),
      (5L, "s", null.asInstanceOf[String]))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.qSubstringDedup.run(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_covered"),
          Option(r.getAs[java.lang.Double]("covered_frac")),
          Option(r.getAs[String]("clean_hash"))))).toMap
    assert(got(1L) == ((10L, 7L, Some(0.7), Some(md5hex("one two three")))))
    assert(got(2L) == ((10L, 7L, Some(0.7), Some(md5hex("four five six")))))
    assert(got(3L) == ((7L, 0L, Some(0.0),
      Some(md5hex("totally unique words only here never repeated")))))
    assert(got(4L) == ((0L, 0L, None, Some(md5hex("")))),
      "empty text rebuilds to md5('') — distinguishable from null text")
    assert(got(5L) == ((0L, 0L, None, None)), "null text stays unassessed")
  }

  test("substring dedup: coverage reconciles with q_dup_spans on the real corpus") {
    val spans = TextOps.qDupSpans.run(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_ngrams"), r.getAs[Long]("n_dup")))).toMap
    val sub = TextOps.qSubstringDedup.run(spark, sfDir).collect()
    assert(sub.nonEmpty && sub.length == spans.size)
    sub.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (nGrams, nDup) = spans(id)
      val nTok = r.getAs[Long]("n_tokens")
      val nCov = r.getAs[Long]("n_covered")
      // a doc has covered positions iff it has dup gram occurrences
      assert((nCov > 0) == (nDup > 0), s"doc $id: cov $nCov vs dup $nDup")
      assert(nCov <= nTok, s"doc $id covers more positions than it has")
      // one dup gram covers DupSpanN positions; overlaps only shrink it
      assert(nDup == 0 || nCov >= TextOps.DupSpanN,
        s"doc $id: dup gram present but coverage $nCov < ${TextOps.DupSpanN}")
      assert(nCov <= TextOps.DupSpanN.toLong * nDup,
        s"doc $id: coverage $nCov exceeds ${TextOps.DupSpanN}·n_dup=$nDup")
      // gram count consistency: n_ngrams = max(0, n_tokens - 4)
      assert(nGrams == math.max(0L, nTok - (TextOps.DupSpanN - 1)),
        s"doc $id: $nGrams grams vs $nTok tokens")
    }
  }

  test("line dedup: crafted multi-line corpus pins keep-first, blanks, rebuild hash") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val dir = tempDir("graft_linededup").toString
    Seq(
      // 'shared header' occurs at (1,0) — kept there, removed everywhere
      // after, INCLUDING the same doc's later position
      (1L, "s", "Shared Header\nalpha beta\nShared  Header"),
      // normalization (case + whitespace collapse) makes this a dup too
      (2L, "s", "shared   HEADER\nunique two"),
      // blank / whitespace-only lines drop unconditionally, uncounted
      (3L, "s", "   \n\t\nonly content"),
      (4L, "s", null.asInstanceOf[String]),
      // every line removed: md5(''), NOT null (that means null text)
      (5L, "s", "Shared Header"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextOps.qLineDedup.run(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("n_removed"), Option(r.getAs[java.lang.Double]("removed_frac")),
          Option(r.getAs[String]("clean_hash"))))).toMap
    assert(got(1L) == ((3L, 2L, 1L, Some(0.3333),
      Some(md5hex("shared header\nalpha beta")))))
    assert(got(2L) == ((2L, 1L, 1L, Some(0.5), Some(md5hex("unique two")))))
    assert(got(3L) == ((1L, 1L, 0L, Some(0.0), Some(md5hex("only content")))))
    assert(got(4L) == ((0L, 0L, 0L, None, None)), "null text stays unassessed")
    assert(got(5L) == ((1L, 0L, 1L, Some(1.0), Some(md5hex("")))),
      "fully-removed doc is md5(''), distinguishable from null text")
  }

  test("line dedup: single-line corpus collapses to exact-dedup keep-min-id") {
    // the real corpus has no newlines, so every doc is one line and the
    // keep-first rule must reproduce q_dedup_exact's keeper set — the
    // cross-operator identity that pins the two grains together
    val line = TextOps.qLineDedup.run(spark, sfDir).collect()
    assert(line.forall(_.getAs[Long]("n_lines") == 1L),
      "driver corpus must read as single-line docs")
    val keptIds = line.filter(_.getAs[Long]("n_kept") == 1L)
      .map(_.getAs[Long]("doc_id")).toSet
    val exactKeep = TextOps.qDedupExact.run(spark, sfDir).collect()
      .map(_.getAs[Long]("keep_id")).toSet
    assert(keptIds == exactKeep,
      "line-grain keep-first must equal doc-grain keep-min-id here")
  }

  test("familiarity: crafted corpus pins mean_cf, min_cf and the rare fraction") {
    import spark.implicits._
    // cf: common = 2+1+3 = 6, rareword = 1, unique1 = 1
    val dir = tempDir("graft_familiar").toString
    Seq(
      (1L, "s", "common common rareword"),
      (2L, "s", "common unique1"),
      (3L, "s", "common common common"),
      (4L, "s", null.asInstanceOf[String]))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextOps.qFamiliarity.run(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), Option(r.getAs[java.lang.Long]("min_cf")),
          Option(r.getAs[java.lang.Double]("mean_cf")),
          Option(r.getAs[java.lang.Double]("rare_frac"))))).toMap
    assert(got(1L) == ((3L, Some(1L), Some(4.3333), Some(0.3333))),
      s"doc 1: ${got(1L)}") // (2·6 + 1·1)/3; rareword is 1 of 3 positions
    assert(got(2L) == ((2L, Some(1L), Some(3.5), Some(0.5))))
    assert(got(3L) == ((3L, Some(6L), Some(6.0), Some(0.0))),
      "all-common doc: max familiarity, zero rare")
    assert(got(4L) == ((0L, None, None, None)), "null text stays unassessed")
  }

  test("doc features: every signal equals its standalone operator's value") {
    // the single-definition claim, asserted: the feature a classifier
    // trains on must be the exact value the standalone gate enforces
    val feat = TextOps.qDocFeatures.run(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val quality = TextOps.qQualityScore.run(spark, sfDir).collect()
    quality.foreach { q =>
      val f = feat(q.getAs[Long]("doc_id"))
      assert(f.getAs[Double]("quality_score") == q.getAs[Double]("quality_score"))
    }
    // lang_pred aggregates to exactly the confusion matrix's totals
    val fromFeat = feat.values.groupBy(_.getAs[String]("lang_pred"))
      .view.mapValues(_.size.toLong).toMap
    val fromMatrix = TextOps.qLangId.run(spark, sfDir).collect()
      .groupBy(_.getAs[String]("predicted"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(fromFeat == fromMatrix,
      s"lang_pred drifted from q_lang_id: $fromFeat vs $fromMatrix")
  }

  test("source dedup: totals reconcile with the exact-dedup groups") {
    val rows = TextOps.qSourceDedup.run(spark, sfDir).collect()
    val groups = TextOps.qDedupExact.run(spark, sfDir).collect()
    // corpus-wide reconciliation against q_dedup_exact's own accounting
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    val removedWant = groups.map(_.getAs[Long]("n_copies") - 1).sum
    assert(rows.map(_.getAs[Long]("n_removed")).sum == removedWant,
      "summed per-source removals must equal the corpus non-keeper count")
    val dupMembersWant = groups.filter(_.getAs[Long]("n_copies") > 1)
      .map(_.getAs[Long]("n_copies")).sum
    assert(rows.map(_.getAs[Long]("n_dup_members")).sum == dupMembersWant)
    // crafted corpus: cross-source dups charge the source holding the
    // LATER copy; null text counts but never enters dedup accounting
    import spark.implicits._
    val dir = tempDir("graft_srcdedup").toString
    Seq((1L, "s1", "a b"), (2L, "s2", "A  b"), (3L, "s1", "c"),
      (4L, "s2", null.asInstanceOf[String]), (5L, "s3", "a b"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.qSourceDedup.run(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_content"),
          r.getAs[Long]("n_distinct_contents"), r.getAs[Long]("n_dup_members"),
          r.getAs[Long]("n_removed"),
          Option(r.getAs[java.lang.Double]("removed_rate"))))).toMap
    assert(got("s1") == ((2L, 2L, 2L, 1L, 0L, Some(0.0))),
      s"s1 holds the keeper: ${got("s1")}")
    assert(got("s2") == ((2L, 1L, 1L, 1L, 1L, Some(1.0))),
      s"s2's copy is removed, its null doc uncounted: ${got("s2")}")
    assert(got("s3") == ((1L, 1L, 1L, 1L, 1L, Some(1.0))))
  }

  test("source mix: shares sum to 1 and weights invert shares within rounding") {
    val rows = graft.operators.TextOps.qSourceMix.run(spark, sfDir).collect()
    assert(rows.length > 1, "expected multiple sources")
    val shareSum = rows.map(_.getAs[Double]("token_share")).sum
    assert(math.abs(shareSum - 1.0) <= rows.length * 5e-7,
      s"token shares must sum to ~1 (got $shareSum)")
    val k = rows.length
    for (r <- rows) {
      val prod = r.getAs[Double]("token_share") * r.getAs[Double]("mix_weight") * k
      assert(math.abs(prod - 1.0) <= 2e-3,
        s"share·weight·k must be ~1 for ${r.getAs[String]("source")} (got $prod)")
    }
  }

  test("source overlap: crafted cross-source corpus pins the matrix; within-source dups don't count") {
    import spark.implicits._
    val dir = tempDir("graft_overlap").toString
    // content sets: A={x,y} (y duplicated WITHIN A — distinct'd away),
    // B={x,z} (x differs only by case/whitespace — same normalized
    // hash), C={w}, plus a null doc (unassessed). Only (A,B) overlaps:
    // shared=1, jaccard = 1/(2+2-1) = 1/3
    Seq(
      (1L, "A", Some("x one two")), (2L, "A", Some("y three")),
      (3L, "A", Some("y three")),
      (4L, "B", Some("X  ONE two")), (5L, "B", Some("z four")),
      (6L, "C", Some("w five")), (7L, "C", None))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.operators.TextOps.qSourceOverlap.run(spark, dir).collect()
    assert(rows.length == 1, s"only (A,B) overlaps: ${rows.toSeq}")
    val r = rows.head
    assert((r.getAs[String]("source_a"), r.getAs[String]("source_b")) ==
      (("A", "B")))
    assert(r.getAs[Long]("shared_contents") == 1L)
    assert(r.getAs[Long]("n_contents_a") == 2L,
      "within-source duplicate must collapse in the content set")
    assert(r.getAs[Long]("n_contents_b") == 2L)
    assert(r.getAs[Double]("content_jaccard") == 1.0 / 3.0)
  }

  test("pii redact: crafted rewrites match hand-written expectations incl. alternation priority") {
    import spark.implicits._
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val dir = tempDir("graft_redact").toString
    // (doc, text, expected redacted text, expected n_redactions)
    val cases = Seq(
      (1L, "contact me@x.com now", "contact [PII] now", 1),
      (2L, "ip 10.1.2.3 ok", "ip [PII] ok", 1),
      // 16-digit run: ALSO phone-shaped, but the id-run branch comes
      // first in the alternation — one replacement, not a nested one
      (3L, "card 4111111111111111 end", "card [PII] end", 1),
      (4L, "call +1 (555) 123-4567 today", "call [PII] today", 1),
      // 20 digits: the bounded id-run REJECTS (no 19-digit prefix match)
      // and the phone branch takes the whole run
      (5L, "x 12345678901234567890 y", "x [PII] y", 1),
      (6L, "a@b.co and 1.2.3.4", "[PII] and [PII]", 2),
      (7L, "", "", 0),
      (8L, "no pii at all here", "no pii at all here", 0))
    (cases.map { case (id, t, _, _) => (id, Option(t)) } :+
      (9L -> Option.empty[String]))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextOps.qPiiRedact.run(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    for ((id, text, redacted, n) <- cases) {
      val r = got(id)
      assert(r.getAs[Int]("n_redactions") == n, s"doc $id n_redactions")
      assert(r.getAs[String]("clean_hash") == md5hex(redacted),
        s"doc $id rewrite differs from '$redacted'")
      assert(r.getAs[Int]("clean_len") == redacted.length, s"doc $id len")
      assert(r.getAs[Long]("redact_delta") == text.length - redacted.length,
        s"doc $id delta")
    }
    // null text stays unassessed — never md5('')
    assert(got(9L).isNullAt(got(9L).fieldIndex("clean_hash")))
    assert(got(9L).isNullAt(got(9L).fieldIndex("n_redactions")))
  }

  // driver mirror of Det.exactDiv: half-up integer division at scale r
  private def halfUp(num: BigInt, den: BigInt, r: Int): Double = {
    val p = BigInt(10).pow(r)
    val q = (2 * num.abs * p + den) / (2 * den)
    (num.signum * q).toDouble / p.toDouble
  }

  test("mix temperature: exact isqrt tempering, hand-checked; zero-token source NULL boost") {
    import spark.implicits._
    val dir = tempDir("graft_mixtemp").toString
    // A: 400 tokens (x=4e6, isqrt 2000 — perfect square), B: 100 (isqrt
    // 1000), C: 0 tokens (empty text), D: 2 tokens (x=20000, isqrt 141 —
    // the non-square floor path: 141^2=19881 <= 20000 < 142^2)
    Seq(
      (1L, "A", Seq.fill(400)("w").mkString(" ")),
      (2L, "B", Seq.fill(100)("w").mkString(" ")),
      (3L, "C", ""),
      (4L, "D", "w w"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextOps.qMixTemperature.run(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val sq = Map("A" -> 2000L, "B" -> 1000L, "C" -> 0L, "D" -> 141L)
    val tot = 502L; val stot = sq.values.sum // 3141
    for ((s, n) <- Seq("A" -> 400L, "B" -> 100L, "C" -> 0L, "D" -> 2L)) {
      val r = got(s)
      assert(r.getAs[Long]("n_tokens") == n)
      assert(r.getAs[Double]("p_raw") == halfUp(n, tot, 6), s"p_raw $s")
      assert(r.getAs[Double]("p_temp") == halfUp(sq(s), stot, 6),
        s"p_temp $s: ${r.getAs[Double]("p_temp")}")
      if (n == 0L) assert(r.isNullAt(r.fieldIndex("boost")),
        "zero-token source must report NULL boost, not 0")
      else {
        val boost = halfUp(BigInt(sq(s)) * tot, BigInt(stot) * n, 4)
        assert(r.getAs[Double]("boost") == boost, s"boost $s")
      }
    }
    // the tempering direction: the small source is boosted, the large damped
    assert(got("B").getAs[Double]("boost") > 1.0)
    assert(got("A").getAs[Double]("boost") < 1.0)
    assert(got("D").getAs[Double]("boost") > got("B").getAs[Double]("boost"),
      "smaller sources must receive larger boosts")
  }

  test("quality corr: exact-integer Pearson matches a driver recompute; degenerate rules") {
    val scored = graft.operators.TextOps
      .qualityScored(Tables.documents(spark, sfDir))
      .filter(org.apache.spark.sql.functions.col("quality_score").isNotNull)
      .collect()
      .map { r =>
        val q = r.getAs[Double]("quality_score")
        val toks = Option(r.getAs[String]("text")).map(t =>
          if (t.trim.isEmpty) 0L
          else t.trim.split("[ \\t\\n\\r\\f]+").length.toLong).getOrElse(0L)
        (r.getAs[String]("source"), math.floor(q * 2000).toLong, toks)
      }
    val want = scored.groupBy(_._1).collect { case (src, xs) if xs.length >= 2 =>
      val n = BigInt(xs.length)
      val sx = BigInt(xs.map(_._2).sum); val sy = BigInt(xs.map(_._3).sum)
      val sxy = xs.map(p => BigInt(p._2) * p._3).sum
      val sxx = xs.map(p => BigInt(p._2) * p._2).sum
      val syy = xs.map(p => BigInt(p._3) * p._3).sum
      val num = n * sxy - sx * sy
      val dx = n * sxx - sx * sx; val dy = n * syy - sy * sy
      src -> (if (dx > 0 && dy > 0)
        Some(BigDecimal(num.toDouble /
          (math.sqrt(dx.toDouble) * math.sqrt(dy.toDouble)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      else None)
    }.toMap
    val got = graft.operators.TextOps.qQualityCorr.run(spark, sfDir)
      .collect().map(r => r.getAs[String]("source") ->
        Option(r.getAs[java.lang.Double]("corr_quality_tokens"))
          .map(_.toDouble)).toMap
    assert(got.keySet == want.keySet)
    for ((src, w) <- want)
      assert(got(src) == w, s"$src: got ${got(src)} want $w")
    // the diagnostic must read a real signal somewhere, not all-NULL
    assert(got.values.flatten.nonEmpty)
    // degenerate rules: zero variance → NULL; single doc → no row
    import spark.implicits._
    val dir = tempDir("graft_qcorr").toString
    Seq((1L, "Z", "same text here ok"), (2L, "Z", "same text here ok"),
      (3L, "S", "only one document here"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val c = graft.operators.TextOps.qQualityCorr.run(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(c.keySet == Set("Z"), "n<2 sources carry no correlation row")
    assert(c("Z").isNullAt(c("Z").fieldIndex("corr_quality_tokens")),
      "zero variance on both axes is undefined, never 0 or 1")
  }

  test("token hist: power-of-two buckets, exact bounds, cumulative context-fit shares") {
    import spark.implicits._
    val dir = tempDir("graft_tokhist").toString
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    Seq((1L, Option("")), (2L, Option(words(1))), (3L, Option(words(2))),
      (4L, Option(words(3))), (5L, Option(words(7))), (6L, Option(words(8))),
      (7L, Option.empty[String]))
      .map { case (id, t) => (id, "A", t) }
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextOps.qTokenHist.run(spark, dir).collect()
      .map(r => Option(r.getAs[java.lang.Integer]("bucket"))
        .map(_.toInt) -> r).toMap
    // bucket k holds counts in [2^(k-1), 2^k): 0→{0}, 1→{1}, 2→{2,3},
    // 3→{4..7}, 4→{8..15}; null text keeps a NULL-bucket row
    assert(got.keySet == Set(Some(0), Some(1), Some(2), Some(3), Some(4), None))
    def chk(k: Int, lo: Long, hi: Long, nDocs: Long, nToks: Long,
        cum: Long): Unit = {
      val r = got(Some(k))
      assert(r.getAs[Long]("lo") == lo && r.getAs[Long]("hi") == hi,
        s"bucket $k bounds")
      assert(r.getAs[Long]("n_docs") == nDocs, s"bucket $k docs")
      assert(r.getAs[Long]("n_tokens") == nToks, s"bucket $k tokens")
      assert(r.getAs[Double]("doc_share") == halfUp(nDocs, 6, 4),
        s"bucket $k share")
      assert(r.getAs[Double]("cum_doc_share") == halfUp(cum, 6, 4),
        s"bucket $k cumulative")
    }
    chk(0, 0, 0, 1, 0, 1)
    chk(1, 1, 1, 1, 1, 2)
    chk(2, 2, 3, 2, 5, 4)
    chk(3, 4, 7, 1, 7, 5)
    chk(4, 8, 15, 1, 8, 6)
    assert(got(Some(4)).getAs[Double]("cum_doc_share") == 1.0,
      "the last bucket's cumulative share closes at exactly 1")
    val nullRow = got(None)
    assert(nullRow.getAs[Long]("n_docs") == 1L)
    assert(nullRow.isNullAt(nullRow.fieldIndex("doc_share")) &&
      nullRow.isNullAt(nullRow.fieldIndex("cum_doc_share")),
      "null-text docs stay out of the measured distribution")
  }

  test("lang mix: crafted corpus lands exact per-language share arithmetic and the und/null rules") {
    import spark.implicits._
    val dir = tempDir("graft_langmix").toString
    Seq(
      (1L, "A", Option("the cat and dog")), // en, 4 tokens
      (2L, "B", Option("is blue")), // en, 2 tokens
      (3L, "A", Option("el que y")), // es, 3 tokens
      (4L, "B", Option.empty[String])) // und, NULL tokens
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextOps.qLangMix.run(spark, dir).collect()
      .map(r => (r.getAs[String]("predicted"), r.getAs[String]("source")) -> r)
      .toMap
    assert(got.keySet ==
      Set(("en", "A"), ("en", "B"), ("es", "A"), ("und", "B")))
    val enA = got(("en", "A"))
    assert(enA.getAs[Long]("n_tokens") == 4L)
    assert(enA.getAs[Double]("share_of_lang") == halfUp(4, 6, 6))
    assert(enA.getAs[Double]("share_of_corpus") == halfUp(4, 9, 6))
    val enB = got(("en", "B"))
    assert(enB.getAs[Double]("share_of_lang") == halfUp(2, 6, 6))
    assert(enB.getAs[Double]("share_of_corpus") == halfUp(2, 9, 6))
    val esA = got(("es", "A"))
    assert(esA.getAs[Double]("share_of_lang") == 1.0,
      "a language's only source supplies 100% of it")
    assert(esA.getAs[Double]("share_of_corpus") == halfUp(3, 9, 6))
    val und = got(("und", "B"))
    assert(und.getAs[Long]("n_docs") == 1L)
    assert(und.isNullAt(und.fieldIndex("n_tokens")) &&
      und.isNullAt(und.fieldIndex("share_of_lang")) &&
      und.isNullAt(und.fieldIndex("share_of_corpus")),
      "an all-null-token cell is unassessed, not zero-mass")
  }

  test("mix apply: champion keeps all, exact rate + salted-hash keep set, zero-token source keeps nothing") {
    import spark.implicits._
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val dir = tempDir("graft_mixapply").toString
    // A: 40 docs × 10 tokens = 400 (sq 2000, sq/n = 5); B: 10 docs × 10
    // = 100 (sq 1000, sq/n = 10 → CHAMPION, keeps all); C: empty text
    // (zero tokens → NULL rate, keeps nothing); plus a null-text doc in A
    val docs =
      (1L to 40L).map(i => (i, "A", Option(Seq.fill(10)("w").mkString(" ")))) ++
        (41L to 50L).map(i => (i, "B", Option(Seq.fill(10)("w").mkString(" ")))) ++
        Seq((51L, "C", Option("")), (52L, "A", Option.empty[String]))
    docs.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextOps.qMixApply.run(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    // A's exact rate: (2000·100)/(400·1000) = 1/2 → thr = 16⁶/2 = "800000"
    val thr = "800000"
    val keptA = (1L to 40L).count(i => md5hex(s"mix:$i").take(6) < thr)
    val a = got("A")
    assert(a.getAs[Long]("docs_in") == 41L) // null-text doc counts in
    assert(a.getAs[Long]("tokens_in") == 400L)
    assert(a.getAs[Double]("rate") == 0.5)
    assert(a.getAs[Long]("docs_kept") ==
      keptA + (if (md5hex("mix:52").take(6) < thr) 1 else 0),
      "A's keep set must equal the salted-md5 threshold rule")
    assert(a.getAs[Long]("tokens_kept") == 10L * keptA,
      "a kept null-text doc contributes no tokens")
    assert(a.getAs[Double]("realized_rate") ==
      halfUp(a.getAs[Long]("docs_kept"), 41, 6))
    val b = got("B")
    assert(b.getAs[Double]("rate") == 1.0)
    assert(b.getAs[Long]("docs_kept") == 10L && b.getAs[Long]("docs_in") == 10L,
      "the most-boosted source is the normalization anchor: keeps everything")
    assert(b.getAs[Long]("tokens_kept") == 100L)
    val c = got("C")
    assert(c.isNullAt(c.fieldIndex("rate")),
      "zero-token source: NULL rate, not 0 or 1")
    assert(c.getAs[Long]("docs_kept") == 0L,
      "no tempered mass → keeps nothing")
    // the salt matters: unsalted md5 prefixes are the evalSlice hash —
    // at least one doc must decide differently under the salt, or the
    // draw would be correlated with the eval holdout
    val unsaltedKeptA = (1L to 40L).count(i => md5hex(s"$i").take(6) < thr)
    assert(keptA != unsaltedKeptA || (1L to 40L).exists(i =>
      (md5hex(s"mix:$i").take(6) < thr) != (md5hex(s"$i").take(6) < thr)))
  }

  test("score calibrate: exact percentile recount on the real corpus; single-doc-source and null rules") {
    // driver recount of the whole percentile map from the operator's own
    // scored frame — bucket, below-counts, and the one IEEE division
    val scored = graft.operators.TextOps
      .qualityScored(Tables.documents(spark, sfDir))
      .select("doc_id", "source", "quality_score").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        Option(r.getAs[java.lang.Double]("quality_score"))
          .map(q => math.floor(q * 2000).toInt)))
    val byB = scored.collect { case (_, s, Some(b)) => (s, b) }
    val nS = byB.groupBy(_._1).map { case (s, xs) => s -> xs.length }
    val nG = byB.length
    val rows = graft.operators.TextOps.qScoreCalibrate.run(spark, sfDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.size == scored.length)
    for ((id, src, bOpt) <- scored) {
      val r = rows(id)
      bOpt match {
        case None =>
          assert(r.isNullAt(r.fieldIndex("q_bucket")), s"doc $id bucket")
          assert(r.isNullAt(r.fieldIndex("pct_source")), s"doc $id src pct")
          assert(r.isNullAt(r.fieldIndex("pct_global")), s"doc $id glob pct")
        case Some(b) =>
          assert(r.getAs[Int]("q_bucket") == b, s"doc $id bucket")
          val belowS = byB.count(p => p._1 == src && p._2 < b)
          val belowG = byB.count(_._2 < b)
          if (nS(src) > 1)
            assert(r.getAs[Double]("pct_source") ==
              belowS.toDouble / (nS(src) - 1), s"doc $id pct_source")
          else assert(r.isNullAt(r.fieldIndex("pct_source")), s"doc $id")
          if (nG > 1)
            assert(r.getAs[Double]("pct_global") ==
              belowG.toDouble / (nG - 1), s"doc $id pct_global")
          else assert(r.isNullAt(r.fieldIndex("pct_global")), s"doc $id")
      }
    }
    // crafted: a source with ONE scored doc has no internal ordering —
    // pct_source NULL (not 0) while pct_global stays defined
    import spark.implicits._
    val dir = tempDir("graft_cal").toString
    Seq((1L, "A", Option("good text here ok")),
      (2L, "A", Option("more good text fine")),
      (3L, "S", Option("single scored document")),
      (4L, "S", Option.empty[String]))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val c = graft.operators.TextOps.qScoreCalibrate.run(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(c(3L).isNullAt(c(3L).fieldIndex("pct_source")),
      "single-scored-doc source: pct_source must be NULL, not 0")
    assert(!c(3L).isNullAt(c(3L).fieldIndex("pct_global")),
      "the corpus-wide percentile is still defined")
    assert(c(4L).isNullAt(c(4L).fieldIndex("pct_global")),
      "null text stays unassessed on BOTH percentile columns")
  }

  test("quality ks: exact driver recount on the real corpus") {
    val rows = graft.operators.TextOps.qQualityKs.run(spark, sfDir).collect()
    // independent recount from the operator's own scored frame
    val scored = graft.operators.TextOps
      .qualityScored(Tables.documents(spark, sfDir))
      .select("source", "quality_score").collect()
      .map(r => r.getAs[String]("source") ->
        Option(r.getAs[java.lang.Double]("quality_score"))
          .map(q => math.floor(q * 2000).toInt))
    val byB = scored.collect { case (s, Some(b)) => (s, b) }
    val nS = byB.groupBy(_._1).map { case (s, xs) => s -> xs.length.toLong }
    val nG = byB.length.toLong
    val buckets = byB.map(_._2).distinct.sorted
    for (r <- rows) {
      val s = r.getAs[String]("source")
      assert(r.getAs[Long]("n_docs") ==
        scored.count(_._1 == s).toLong, s"n_docs $s")
      assert(r.getAs[Long]("n_null") ==
        scored.count(p => p._1 == s && p._2.isEmpty).toLong, s"n_null $s")
      nS.get(s) match {
        case Some(ns) if ns < nG =>
          val gaps = buckets.map { b =>
            val cs = byB.count(p => p._1 == s && p._2 <= b).toLong
            val cg = byB.count(_._2 <= b).toLong
            (BigInt(cs) * (nG - ns) - BigInt(cg - cs) * ns).abs -> b
          }
          val best = gaps.maxBy { case (g, b) => (g, BigInt(-b)) }
          assert(r.getAs[Double]("ks_drift") ==
            halfUp(best._1, BigInt(ns) * (nG - ns), 4), s"ks $s")
          assert(r.getAs[Int]("peak_bucket") == best._2, s"peak $s")
        case _ =>
          assert(r.isNullAt(r.fieldIndex("ks_drift")), s"$s must be NULL")
      }
    }
  }

  test("quality ks: disjoint distributions score 1.0; single source reports NULL") {
    import spark.implicits._
    val dir = tempDir("graft_ks").toString
    // 'low' docs score in a strictly lower bucket than 'high' docs
    // (len_score 10/500 vs 400/500 dominates); one null-text doc per
    // source stays out of the distribution but lands in n_null
    Seq(
      (1L, "low", Some("a" * 10)), (2L, "low", Some("b" * 10)),
      (3L, "low", None),
      (4L, "high", Some("a" * 400)), (5L, "high", Some("b" * 400)))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextOps.qQualityKs.run(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(got("low").getAs[Long]("n_null") == 1L)
    assert(got("low").getAs[Double]("ks_drift") == 1.0,
      "disjoint CDFs must peak at exactly 1")
    assert(got("high").getAs[Double]("ks_drift") == 1.0)
    // the gap peaks at the bucket holding ALL of low's mass
    assert(got("low").getAs[Int]("peak_bucket") ==
      got("high").getAs[Int]("peak_bucket"))

    val single = tempDir("graft_ks1").toString
    Seq((1L, "only", "some text here"), (2L, "only", "more text there"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$single/documents.parquet")
    val one = graft.operators.TextOps.qQualityKs.run(spark, single).collect()
    assert(one.length == 1)
    assert(one.head.isNullAt(one.head.fieldIndex("ks_drift")),
      "a single-source corpus has no rest-of-corpus: KS must be NULL, not 0")
  }

  test("norm kernel ≡ the trim+translate+regexp_replace form on corpus + crafted edges") {
    // Text.norm is the shared front of EVERY content-keyed operator (md5
    // dedup, shingles, minhash, tokenization, fingerprints, the streaming
    // gate) — the r14 kernel must be byte-identical to the regex spelling
    // it replaced, which the DuckDB oracles still mirror. Crafted edges:
    // trim-vs-collapse interaction at the ends (trim strips 0x20 ONLY, so
    // an end tab survives trim and collapses to a KEPT space), each class
    // member alone and in mixed runs, the \v exclusion (0x0B is NOT in
    // the class and must survive), non-ASCII passthrough incl.
    // supplementary planes, NBSP (U+00A0 is not collapsed), and empties.
    import spark.implicits._
    val crafted = Seq(
      "", " ", "   ", "a", "A", " a ", "  A  B  ",
      "\ta\t", "\t x \n", "a\tb", "a\nb", "a\rb", "a\fb", "a\u000Bb",
      "a \t\n\r\f b", "\t\t", "\n\n\n", " \t ", "\f\f",
      "MiXeD CaSe WoRdS", "ABCXYZ abcxyz 0129 _-!",
      "é À Ü ß", "ヴィクター  ユーゴー", "x y", "😀  😀",
      "á combining", "İ dotted-I passthrough",
      "ends with tab\t", "\fstarts with ff", "many   spaces   inside",
      "CRLF\r\nline", "null-ish NUL \u0000 byte", "∂f/∂x ≠ 0")
    val corpus = Tables.documents(spark, sfDir).select("text")
      .where(col("text").isNotNull).as[String].collect().toSeq
    val rows = (crafted ++ corpus).toDF("text")
      .select(col("text"),
        graft.operators.Text.norm(col("text")).as("kernel"),
        graft.operators.Text.normRegex(col("text")).as("regex"))
      .collect()
    assert(rows.length >= crafted.length)
    rows.foreach { r =>
      assert(r.getAs[String]("kernel") == r.getAs[String]("regex"),
        s"norm drift on '${r.getAs[String]("text")}': " +
          s"kernel='${r.getAs[String]("kernel")}' regex='${r.getAs[String]("regex")}'")
    }
    // null propagates like the regex form
    val nullRow = Seq[Option[String]](None).toDF("text")
      .select(graft.operators.Text.norm(col("text")).as("k"),
        graft.operators.Text.normRegex(col("text")).as("x")).collect()(0)
    assert(nullRow.isNullAt(0) && nullRow.isNullAt(1),
      "null text must norm to null on both forms")
  }

  test("gram-hash kernel ≡ the split+concat_ws+xxhash64 forms, both token modes") {
    // GramHashes replaces the per-position string-gram lambdas in the
    // shingle cache (keepEmpty over split), the dup-span table and the
    // substring-dedup positioned grams (dropEmpty over filtered split).
    // Crafted edges: leading/trailing/interior space runs (where the
    // dropEmpty substring identity breaks and the scratch path must
    // reproduce filter+concat bytes), exactly-n and n-1 token counts,
    // multibyte tokens, empties.
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val crafted = Seq(
      "a b c d e f", "a b c", "a b", "a", "",
      " a b c d e", "a b c d e ", " a b c d e ",
      "a  b c d e f", "a   b  c d e f g", "  ", "a  b",
      "é ヴ 😀 x y z", "one two three four five six seven",
      "tab\tis not a separator here", "x y z w v u t s r q")
    // raw corpus text (tabs/newlines are NOT split separators — the
    // kernel must agree on arbitrary input, not just normalized)
    val corpus = Tables.documents(spark, sfDir).select("text")
      .where(col("text").isNotNull).as[String].collect().toSeq
    def oldKeep(n: Int) = expr(
      s"transform(sequence(0, size(w)-$n), i -> xxhash64(concat_ws(' ', " +
        (0 until n).map(j => s"get(w, i+$j)").mkString(", ") + ")))")
    for (n <- Seq(2, 3, 5)) {
      val rows = (crafted ++ corpus).toDF("text")
        .select(col("text"),
          call_function("graft_gram_hashes", col("text"), lit(n), lit(true)).as("k_keep"),
          call_function("graft_gram_hashes", col("text"), lit(n), lit(false)).as("k_drop"),
          split(col("text"), " ").as("w"))
        .select(col("text"), col("k_keep"), col("k_drop"),
          when(size(col("w")) >= n, oldKeep(n)).otherwise(expr("array()")).as("x_keep"),
          col("w"))
        .select(col("text"), col("k_keep"), col("k_drop"), col("x_keep"))
        .collect()
      val dropRows = (crafted ++ corpus).toDF("text")
        .select(col("text"),
          filter(split(col("text"), " "), t => t =!= "").as("w"))
        .select(col("text"),
          when(size(col("w")) >= n, oldKeep(n)).otherwise(expr("array()")).as("x_drop"))
        .collect().map(r => r.getAs[String]("text") -> r.getSeq[Long](1)).toMap
      rows.foreach { r =>
        val t = r.getAs[String]("text")
        assert(r.getSeq[Long](1) == r.getSeq[Long](3),
          s"keepEmpty gram drift on '$t' n=$n")
        assert(r.getSeq[Long](2) == dropRows(t),
          s"dropEmpty gram drift on '$t' n=$n")
      }
    }
  }

  test("stopword fronts: counts do not depend on the JVM locale") {
    import spark.implicits._
    // a non-ASCII byte sends a string through the JVM's own case map:
    // under tr-TR String.toLowerCase() maps 'I' to dotless '\u0131',
    // which the [a-z] strip drops
    val docs = Seq((1L, "THIS IS caf\u00e9"), (2L, "DIE KATZE IST caf\u00e9"),
      (3L, "IN THE caf\u00e9")).toDF("doc_id", "text")
    val dir = tempDir("graft_locale").toString
    docs.withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    def signals() = (
      TextOps.qualityScored(docs).orderBy("doc_id").select("stop_score")
        .collect().map(_.getDouble(0)).toSeq,
      TextOps.predictedLang(spark, dir).collect().map(_.getString(0)).sorted.toSeq)
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("en-US"))
      val enUS = signals()
      // en stop counts 1, 0, 1 over 3, 4, 3 words; de counts 'die' + 'ist'
      assert(enUS == ((Seq(1.0, 0.0, 1.0), Seq("de", "en", "en"))))
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
      assert(signals() == enUS)
    } finally java.util.Locale.setDefault(saved)
  }
}
