package graft

import graft.operators.Profiling

class ProfilingSpec extends SparkSpec {

  test("every profiling query runs") {
    Profiling.all.foreach { q =>
      val df = q.run(spark, sfDir)
      assert(df.columns.nonEmpty, s"${q.name} has no columns")
      df.collect()
    }
  }

  test("completeness profile has one row per column, counts sum to total") {
    val rows = Profiling.qProfileCompleteness.run(spark, sfDir).collect()
    assert(rows.length == 5)
    val total = Tables.documents(spark, sfDir).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_present") + r.getAs[Long]("n_null") +
        r.getAs[Long]("n_empty") == total, s"row $r")
    }
  }

  test("moments: mean/stdev are sane for events.value") {
    val r = Profiling.qMoments.run(spark, sfDir).collect()(0)
    assert(r.getAs[Double]("mean_value") > 0)
    assert(r.getAs[Double]("stdev_value") > 0)
    assert(r.getAs[Long]("n_values") == Tables.events(spark, sfDir).count())
  }

  test("length histogram covers all documents") {
    val rows = Profiling.qLengthHistogram.run(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == Tables.documents(spark, sfDir).count())
  }

  test("percentiles are monotone") {
    Profiling.qLengthPercentiles.run(spark, sfDir).collect().foreach { r =>
      val ps = Seq("p5", "p25", "p50", "p75", "p95", "p99").map(r.getAs[Double])
      assert(ps.sameElements(ps.sorted), s"non-monotone percentiles: $ps")
    }
  }

  test("approx profile within error bounds of exact answers") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sfDir)
    val exactUsers = ev.select("user_id").distinct().count()
    val exactEvents = ev.select("event_id").distinct().count()
    val r = Profiling.qApproxProfile.run(spark, sfDir).collect()(0)
    def relErr(approx: Long, exact: Long) =
      math.abs(approx - exact).toDouble / exact
    assert(relErr(r.getAs[Long]("approx_users"), exactUsers) < 0.1)
    assert(relErr(r.getAs[Long]("approx_events"), exactEvents) < 0.1)
    val ps = Seq("value_p50", "value_p95", "value_p99").map(r.getAs[Double])
    assert(ps(0) <= ps(1) && ps(1) <= ps(2))
  }

  test("repeated-chars: enumerated pattern flags crafted positives like the backref") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the corpus has NO 5+ runs at any SF, so agreement there is vacuous;
    // the contract is pinned on crafted positives instead. Every listed
    // ASCII class must flag exactly like the reference's (.)\1{4,};
    // a run of an UNLISTED char (unicode here) is the documented
    // difference — backref flags it, the enumeration does not.
    val positives = Seq(
      "aaaaa trailing", "SHOUTING AAAAA", "digits 77777 here",
      "spaces      in the middle", "wow!!!!!", "dash----- run",
      "dots..... end", "stars ***** x")
    val negatives = Seq(
      "aaaa only four", "no runs at all here", "ab ab ab ab ab",
      "AAaaAA alternating", "!!!! four bangs", "")
    val unicodeRun = "héééééx" // ééééé: backref-only, no ASCII run
    // a 5-run of a multi-byte char whose UTF-8 bytes repeat must NOT trip
    // the kernel's byte scan (continuation bytes are >= 0x80, outside the
    // enumerated set — the reason byte scanning is exact for ASCII)
    val df = (positives ++ negatives :+ unicodeRun).toDF("text")
    graft.functions.GraftFunctions.register(spark)
    val got = df.select(col("text"),
      col("text").rlike(graft.operators.Profiling.RepeatRunPattern).as("en"),
      col("text").rlike("(.)\\1{4,}").as("bk"),
      org.apache.spark.sql.functions
        .call_function("graft_repeated_run", col("text")).as("kr")).collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))
      .toMap
    positives.foreach { t =>
      assert(got(t) == ((true, true, true)),
        s"'$t' must flag in all three forms: ${got(t)}") }
    negatives.foreach { t =>
      assert(got(t) == ((false, false, false)),
        s"'$t' must flag in none: ${got(t)}") }
    assert(got(unicodeRun) == ((false, true, false)),
      "unicode run is the documented enumeration gap (backref-only); the " +
        "kernel must agree with the enumeration, not the backref")
    // kernel ≡ enumeration on the regex-structural edge chars left OUT of
    // the pattern, and exactly at the 4/5 boundary of every class
    val edge = Seq("[[[[[", "\\\\\\\\\\", "^^^^^", "'''''", "qqqq", "qqqqq",
      ";;;;", ";;;;;", "    x    ", "     ", "ab[[[[[cd")
    val got2 = spark.createDataset(edge).toDF("text").select(col("text"),
      col("text").rlike(graft.operators.Profiling.RepeatRunPattern).as("en"),
      org.apache.spark.sql.functions
        .call_function("graft_repeated_run", col("text")).as("kr")).collect()
    got2.foreach { r =>
      assert(r.getBoolean(1) == r.getBoolean(2),
        s"kernel diverges from enumeration on '${r.getString(0)}'") }
    // and on the real corpus the registered operator accounts every doc
    val docs = Tables.documents(spark, sfDir).filter(col("text").isNotNull)
    val byFlag = graft.operators.Profiling.qRepeatedChars.run(spark, sfDir).collect()
      .map(r => r.getAs[Boolean]("has_repeated_run") -> r.getAs[Long]("n_docs")).toMap
    assert(byFlag.values.sum == docs.count())
    assert(byFlag.getOrElse(true, 0L) ==
      docs.filter(col("text").rlike(graft.operators.Profiling.RepeatRunPattern)).count())
  }

  test("pearson: exact-integer coefficient matches double corr per key") {
    import org.apache.spark.sql.functions._
    val got = Profiling.qCorrPearson.run(spark, sfDir).collect()
      .map(r => r.getAs[String]("event_type") ->
        r.getAs[Double]("corr_value_payload")).toMap
    val want = Tables.events(spark, sfDir)
      .where(col("value").isNotNull && col("props").isNotNull)
      .groupBy("event_type")
      .agg(corr(col("value"), length(col("props"))).as("c"),
        count(lit(1)).as("n"))
      .collect()
      .filter(_.getAs[Long]("n") >= 2)
      .map(r => r.getAs[String]("event_type") -> r.getAs[Double]("c")).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-3, s"$k: exact=$v builtin=${want(k)}")
    }
    // the coefficient is a real signal, not a degenerate 0/NaN column
    assert(got.values.exists(v => math.abs(v) > 1e-6))
  }

  test("embed profile: crafted NaN/zero/null/ragged vectors land in the right exclusive buckets") {
    import spark.implicits._
    val dir = tempDir("graft_embp").toString
    Seq(
      (1L, Option(Seq[java.lang.Float](1.0f, 2.0f)), 0),
      (2L, Option.empty[Seq[java.lang.Float]], 0), // null vector
      // NaN wins over zero check
      (3L, Option(Seq[java.lang.Float](Float.NaN, 0.0f)), 0),
      // a NULL ELEMENT is non-finite too (and would otherwise classify
      // differently per engine: Spark exists() nulls, DuckDB list_filter
      // drops null lambda results)
      (7L, Option(Seq[java.lang.Float](null, 0.0f)), 0),
      // all-zero: cosine-undefined
      (4L, Option(Seq[java.lang.Float](0.0f, 0.0f)), 0),
      (5L, Option(Seq[java.lang.Float](1.0f, 1.0f, 1.0f)), 0), // ragged dim
      (6L, Option(Seq[java.lang.Float](2.0f, 3.0f)), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = graft.operators.Profiling.qEmbedProfile.run(spark, dir)
      .collect().map(r => r.getAs[Int]("label") -> r).toMap
    val l0 = got(0)
    assert(l0.getAs[Long]("n_vecs") == 6L)
    assert(l0.getAs[Long]("n_null_vec") == 1L)
    assert(l0.getAs[Long]("n_nan_vec") == 2L,
      "NaN-carrying AND null-element vectors count as non-finite — " +
        "exclusive buckets, identical in both engines")
    assert(l0.getAs[Long]("n_zero_vec") == 1L)
    assert(l0.getAs[Double]("usable_rate") == 0.3333) // 2 of 6, half-up 4
    assert(l0.getAs[Long]("min_dim") == 2L && l0.getAs[Long]("max_dim") == 3L,
      "ragged dimensions must surface in the min/max spread")
    val l1 = got(1)
    assert(l1.getAs[Double]("usable_rate") == 1.0)
    assert(l1.getAs[Long]("min_dim") == 2L && l1.getAs[Long]("max_dim") == 2L)
  }

  test("skew keys: crafted hot-key corpus lands exact shares and skew multiples") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // user 1: 6 events, user 2: 3, user 3: 1 → total 10, 3 keys,
    // mean 10/3 rows/key
    val rows = (Seq.fill(6)(1L) ++ Seq.fill(3)(2L) ++ Seq(3L))
      .zipWithIndex.map { case (u, i) => (i.toLong, ts, u, "t", 1.0, "{}") }
    val dir = tempDir("graft_skew").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Profiling.qSkewKeys.run(spark, dir).collect()
    assert(got.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
    assert(got.map(_.getAs[Long]("user_id")).toSeq == Seq(1L, 2L, 3L))
    assert(got.map(_.getAs[Long]("n_events")).toSeq == Seq(6L, 3L, 1L))
    assert(got.map(_.getAs[Double]("share")).toSeq == Seq(0.6, 0.3, 0.1))
    // skew_x = n·n_keys/total half-up at 2: 18/10, 9/10, 3/10
    assert(got.map(_.getAs[Double]("skew_x")).toSeq == Seq(1.8, 0.9, 0.3))
  }
}
