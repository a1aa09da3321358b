package graft

import graft.operators.Ingest

class IngestSpec extends SparkSpec {

  test("every ingest query runs") {
    Ingest.all.foreach { q =>
      val df = q.run(spark, sfDir)
      assert(df.columns.nonEmpty, s"${q.name} has no columns")
      df.collect()
    }
  }

  test("scrape provenance: log reads reconcile with an independent recompute") {
    import org.apache.spark.sql.functions._
    // the provenance pair (q_scrape_provenance row grain, q_run_novelty
    // run grain) must tell ONE story: every review is novel in exactly its
    // first_run_id, so Σ novel over runs = |review space|, each run's
    // reviews_seen = novel + rescraped, and the per-run novel counts READ
    // from the log equal a from-scratch recompute that never builds the
    // log (group first_run_id at row grain) — the reconciliation the r6
    // verdict asked for against the incremental-ingest keep-first outcome
    val prov = Ingest.qScrapeProvenance.run(spark, sfDir).collect()
    val novelty = Ingest.qRunNovelty.run(spark, sfDir).collect()
    val nReviews = prov.length
    assert(nReviews > 0)
    val novelByRun = novelty.map(r =>
      r.getAs[String]("run_id") -> r.getAs[Long]("novel")).toMap
    assert(novelByRun.values.sum == nReviews,
      "sum of per-run novel counts must cover the review space exactly once")
    novelty.foreach { r =>
      assert(r.getAs[Long]("reviews_seen") ==
        r.getAs[Long]("novel") + r.getAs[Long]("rescraped"),
        s"run ${r.getAs[String]("run_id")}: seen != novel + rescraped")
    }
    // independent recompute of novel-per-run from the row-grain read
    val recomputed = prov.groupBy(_.getAs[String]("first_run_id"))
      .view.mapValues(_.length.toLong).toMap
    assert(recomputed == novelByRun.filter(_._2 > 0),
      "log-derived novel counts diverge from the first-run recompute")
    // a review observed in exactly one run has first = last and no
    // re-scrape contribution; multi-run reviews contribute n_runs - 1
    val expectedRescrapes = prov.map(_.getAs[Long]("n_runs") - 1).sum
    assert(novelty.map(_.getAs[Long]("rescraped")).sum == expectedRescrapes,
      "total re-scrapes must equal sum over reviews of (n_runs - 1)")
  }

  test("props contract: duplicate-key and non-scalar payloads (crafted lake)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the r6 ADVICE class made executable: payload shapes ABSENT from the
    // synthetic corpus where the engines' JSON semantics could diverge.
    // Cross-engine: this exact lake was run through Verify + the DuckDB
    // oracles (both queries MATCH — incl. beyond-double integers,
    // exponent forms, unicode escapes, nested key order, and the 1.5/1.50
    // canonical-twin merge); this spec pins the Spark half so a
    // regression breaks loudly.
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(base.getTime + m * 60000L)
    val props = Seq(
      """{"k": 1, "k": 2}""",            // duplicate key -> NULL by contract
      """{"k": {"a": 1, "b": [1,2]}}""", // nested object
      """{"k": 1.50}""",                 // canonicalizes to 1.5
      """{"k": 1.5}""",                  // its canonical twin
      """{"k": null}""",
      """{"a b": 3}""",                  // metachar key
      null,
      "not json",
      """[1, 2]""",                      // valid JSON, not an object
      """17""",                          // valid JSON scalar
      """{"k": 7}""")
    val ev = props.zipWithIndex.map { case (p, i) =>
      (i.toLong, ts(i), i.toLong % 3, "click", 1.0, p)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tempDir("graft_props").toString
    ev.write.parquet(s"$dir/events.parquet")
    // extract: the dup-key payload must read NULL k (Spark's struct parse
    // takes the LAST instance, DuckDB's path extract the FIRST — neither
    // may win), so min/max/avg see only the clean k=7
    val ex = Ingest.qPropsExtract.run(spark, dir).collect()
    assert(ex.length == 1)
    assert(ex.head.getAs[Long]("min_k") == 7L && ex.head.getAs[Long]("max_k") == 7L,
      s"dup-key payload leaked an instance: ${ex.head}")
    // schema: presence is EVENT grain (dup key counts once), the dup
    // event's value is NULL, and 1.50/1.5 merge to ONE canonical value
    val sc = Ingest.qPropsSchema.run(spark, dir).collect()
      .map(r => r.getAs[String]("key") ->
        ((r.getAs[Long]("n_present"), r.getAs[Long]("n_distinct_values")))).toMap
    // k carried by: dup, nested, 1.50, 1.5, null-valued, 7 -> 6 events;
    // distinct values: nested + canonical 1.5 + 7 (dup->NULL, null->NULL)
    assert(sc("k") == ((6L, 3L)), s"schema row for k: ${sc("k")}")
    assert(sc("a b") == ((1L, 1L)), s"metachar key row: ${sc.get("a b")}")
  }

  test("app health: error beats stale beats ok; counts reconcile") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // crafted (run, app) cells exercising every status rule — the corpus
    // never produces 'stale' (a large cell with only even event_ids has
    // probability ~2^-n), so the reference's middle branch is pinned here:
    //  appA: a % 97 error event AND all-even ids → error wins over stale
    //  appB: all ids even (every row deduped away) → stale
    //  appC: a normal mix → ok
    val base = java.sql.Timestamp.valueOf("2024-01-05 10:00:00")
    def ts(m: Int) = new java.sql.Timestamp(base.getTime + m * 60000L)
    val rows = Seq(
      (0L, "appA", ts(0)), (194L, "appA", ts(10)),   // 0 % 97 = 0 → error
      (2L, "appB", ts(0)), (4L, "appB", ts(30)),     // even, no %97 → stale
      (1L, "appC", ts(0)), (2L, "appC", ts(45)), (3L, "appC", ts(90)))
    val ev = rows.toDF("event_id", "event_type", "ts")
    val got = Ingest.appHealth(ev).collect()
      .map(r => r.getAs[String]("app_id") -> r).toMap
    assert(got("appA").getAs[String]("status") == "error")
    assert(got("appB").getAs[String]("status") == "stale")
    assert(got("appC").getAs[String]("status") == "ok")
    // counts reconcile: fetched = inserted + skipped; duration exact 2dp
    got.values.foreach { r =>
      assert(r.getAs[Long]("fetched") ==
        r.getAs[Long]("inserted") + r.getAs[Long]("skipped"))
    }
    assert(got("appB").getAs[Long]("inserted") == 0L)
    assert(got("appC").getAs[Double]("duration_secs") == 5400.0)
    // and on the real corpus every cell carries a consistent status
    val corpus = Ingest.qAppHealth.run(spark, sfDir).collect()
    assert(corpus.nonEmpty)
    corpus.foreach { r =>
      val status = r.getAs[String]("status")
      if (r.getAs[Long]("error_cnt") > 0) assert(status == "error")
      else if (r.getAs[Long]("inserted") == 0 && r.getAs[Long]("fetched") > 0)
        assert(status == "stale")
      else assert(status == "ok")
    }
  }

  test("alerts: every rule fires on its crafted run and nowhere else") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 8 runs (days). Days 1-5 are a clean baseline; each later day (and
    // day 2) violates exactly one rule. Odd ids avoid the skip rule,
    // non-multiples of 97 avoid the error rule.
    var nextId = 1L
    def ids(n: Int, even: Boolean = false): Seq[Long] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (out.size < n) {
        nextId += 1
        val cand = nextId * 2 + (if (even) 0 else 1)
        if (cand % 97 != 0) out += cand
      }
      out.toSeq
    }
    def day(d: Int, evIds: Seq[Long], spanSecs: Long): Seq[(Long, String, java.sql.Timestamp)] = {
      val t0 = java.sql.Timestamp.valueOf(f"2024-02-0$d 00:00:00").getTime
      val n = evIds.size
      evIds.zipWithIndex.map { case (id, i) =>
        (id, "app", new java.sql.Timestamp(t0 + i * spanSecs * 1000 / math.max(1, n - 1)))
      }
    }
    val rows =
      day(1, ids(100), 1000) ++
      day(2, ids(99) :+ 97L * 3, 1000) ++          // one error event → error_rate
      day(3, ids(100), 1000) ++
      day(4, ids(100), 1000) ++
      day(5, ids(100), 1000) ++
      day(6, ids(10), 1000) ++                      // −90% vs avg5 → drop WARNING
      day(7, ids(300), 1000) ++                     // +~268% vs avg5 → rise INFO
      day(8, ids(100, even = true), 5000)           // all even → dedup + drop; 5× span → duration
    val ev = rows.toDF("event_id", "event_type", "ts")
      .withColumn("props", lit("{}")) // non-null: no null-shift alerts here
    val got = Ingest.alerts(ev).collect()
      .map(r => (r.getAs[String]("run_id"), r.getAs[String]("metric"),
        r.getAs[String]("level")))
    val expected = Set(
      ("2024-02-02", "error_rate", "WARNING"),
      ("2024-02-06", "reviews_inserted", "WARNING"),
      ("2024-02-07", "reviews_inserted", "INFO"),
      // day 7's window (d2-d6: 100,100,100,100,10) finally has variance:
      // z = (300-82)/40.25 = 5.42 > 2. Days 2-6 windows are all-equal →
      // zero variance → guarded out (the reference's stdev=0 → z None);
      // day 8's z is −1.14.
      ("2024-02-07", "reviews_inserted_z_score", "INFO"),
      ("2024-02-08", "dedup_rate", "WARNING"),
      ("2024-02-08", "reviews_inserted", "WARNING"), // 0 inserted is also a drop
      ("2024-02-08", "duration", "WARNING"))
    assert(got.toSet == expected, s"fired ${got.toSet}\nexpected $expected")
    // actual values carry the right signs/magnitudes
    val byKey = Ingest.alerts(ev).collect()
      .map(r => (r.getAs[String]("run_id"), r.getAs[String]("metric")) -> r).toMap
    assert(byKey(("2024-02-06", "reviews_inserted")).getAs[Double]("actual") == -90.0)
    assert(byKey(("2024-02-08", "dedup_rate")).getAs[Double]("actual") == 1.0)
    assert(byKey(("2024-02-08", "duration")).getAs[Double]("actual") == 5000.0)
    // on the real corpus: the error rule accounts for every error run
    val corpus = Ingest.qAlerts.run(spark, sfDir).collect()
    val errRuns = corpus.filter(_.getAs[String]("metric") == "error_rate")
      .map(_.getAs[String]("run_id")).toSet
    val expectedErrRuns = Tables.events(spark, sfDir)
      .filter(col("event_id") % 97 === 0)
      .select(date_format(col("ts"), "yyyy-MM-dd")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(errRuns == expectedErrRuns)
  }

  test("alerts: null-shift and z-score rules fire exactly on their crafted day") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // days 1-5: a slightly-varying clean baseline (98,101,99,102,100 —
    // variance 2.5, so the z guard passes but no |z| exceeds 2; day 4's
    // z = 1.75 pins the below-threshold side). Day 6: 130 events, 52
    // null-props → null rate +40pp vs the 0% baseline (INFO) AND
    // z = 30/1.5811 = 18.97 (INFO). Day 7: clean again → the null rate
    // FALLS 9.77pp below its rolling baseline (52/532) — the negative
    // direction fires through the same ±5pp rule with a SIGNED actual
    // (−9.77) against the positive threshold (the asymmetry is the
    // contract); day 7's z (D=−32, V=3506 → |z|=0.76) pins the
    // with-variance below-threshold side. Day 6's +30% rise stays under
    // the ±50% rule; all ids odd and non-multiples of 97 → no other
    // alerts.
    var nextId = 1L
    def ids(n: Int): Seq[Long] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (out.size < n) {
        nextId += 1
        val cand = nextId * 2 + 1
        if (cand % 97 != 0) out += cand
      }
      out.toSeq
    }
    def day(d: Int, n: Int, nNull: Int): Seq[(Long, String, java.sql.Timestamp, String)] = {
      val t0 = java.sql.Timestamp.valueOf(f"2024-03-0$d 00:00:00").getTime
      ids(n).zipWithIndex.map { case (id, i) =>
        (id, "app", new java.sql.Timestamp(t0 + i * 1000000L / math.max(1, n - 1)),
          if (i < nNull) null else "{}")
      }
    }
    val ev = (day(1, 98, 0) ++ day(2, 101, 0) ++ day(3, 99, 0) ++
        day(4, 102, 0) ++ day(5, 100, 0) ++ day(6, 130, 52) ++ day(7, 100, 0))
      .toDF("event_id", "event_type", "ts", "props")
    val got = Ingest.alerts(ev).collect()
      .map(r => (r.getAs[String]("run_id"), r.getAs[String]("metric"),
        r.getAs[String]("level"),
        // the z actual ships as a raw double now (display rounding broke
        // cross-engine parity at decimal ties); round here for the pin
        BigDecimal(r.getAs[Double]("actual"))
          .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble))
    val expected = Set(
      ("2024-03-06", "props_null_rate", "INFO", 40.0),
      ("2024-03-06", "reviews_inserted_z_score", "INFO", 18.974),
      ("2024-03-07", "props_null_rate", "INFO", -9.77))
    assert(got.toSet == expected, s"fired ${got.toSet}\nexpected $expected")
  }

  test("health reports: store is idempotent, backfill fills exactly the gaps") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_health").toString
    val path = s"$dir/metrics"
    val ev = Tables.events(spark, sfDir)
    val runs = Ingest.healthReport(ev).collect()
      .map(r => r.getAs[String]("run_id")).sorted
    assert(runs.length > 2, "need several runs for the backfill scenario")
    // store one run, twice: second call is the INSERT OR REPLACE no-op
    assert(Ingest.storeReport(ev, path, runs.head) == 1L)
    assert(Ingest.storeReport(ev, path, runs.head) == 0L)
    // backfill reconstructs exactly the missing history
    assert(Ingest.backfillReports(ev, path) == runs.length - 1L)
    assert(Ingest.backfillReports(ev, path) == 0L, "backfill must be idempotent")
    val stored = spark.read.parquet(path)
    assert(stored.count() == runs.length)
    assert(stored.select("run_id").collect().map(_.getString(0)).sorted
      .sameElements(runs), "history must cover every run exactly once")
    // read-back: latest N, descending, and the report row round-trips
    val recent = Ingest.recentReports(spark, path, 3).collect()
    assert(recent.map(_.getAs[String]("run_id")).toSeq ==
      runs.reverse.take(3).toSeq)
    recent.foreach { r =>
      assert(r.getAs[Long]("fetched") ==
        r.getAs[Long]("inserted") + r.getAs[Long]("skipped"))
      assert(r.getAs[Long]("apps_failed") <= r.getAs[Long]("apps_processed"))
    }
  }

  test("incremental ingest: no already-ingested key survives the anti-join") {
    val rows = Ingest.qIncrementalIngest.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("event_id")
      assert(id % 3 == 0 && id % 2 != 0, s"bad survivor $id")
    }
  }

  test("ingest metrics: fetched = skipped + inserted") {
    val r = Ingest.qIngestMetrics.run(spark, sfDir).collect()(0)
    assert(r.getAs[Long]("fetched") ==
      r.getAs[Long]("skipped") + r.getAs[Long]("inserted"))
  }

  test("run deltas: first day has null prev, others carry previous count") {
    val rows = Ingest.qRunDeltas.run(spark, sfDir).collect()
    assert(rows.head.isNullAt(rows.head.fieldIndex("prev_cnt")))
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("prev_cnt") == a.getAs[Long]("cnt"))
      case _ =>
    }
  }

  test("zscore: anomaly flag consistent with |z| > 2") {
    Ingest.qAnomalyZscore.run(spark, sfDir).collect().foreach { r =>
      val z = r.getAs[Double]("zscore")
      val flag = r.getAs[Int]("is_anomaly")
      assert((math.abs(z) > 2) == (flag == 1), s"z=$z flag=$flag")
    }
  }

  test("sessionize: session event counts sum to total events") {
    val sessions = Ingest.qSessionize.run(spark, sfDir).collect()
    val total = sessions.map(_.getAs[Long]("n_events")).sum
    assert(total == Tables.events(spark, sfDir).count())
    sessions.foreach { r =>
      assert(r.getAs[Long]("start_us") <= r.getAs[Long]("end_us"))
    }
  }

  test("props extraction: every event parses, k within bounds") {
    val rows = Ingest.qPropsExtract.run(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_events")).sum ==
      Tables.events(spark, sfDir).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("min_k") <= r.getAs[Long]("max_k"))
      assert(!r.isNullAt(r.fieldIndex("avg_k")), "null avg means unparsed props")
    }
  }

  test("props schema: crafted payloads pin key rates, distinct values, malformed handling") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-04-01 00:00:00")
    // 8 events: k in all 5 valid payloads (values 1,1,2,"x",null —
    // distinct non-null = 3), extra in 2 of them, plus a malformed, an
    // empty-object and a NULL props row (all three in the denominator)
    val rows = Seq(
      """{"k": 1}""", """{"k": 1}""", """{"k": 2, "extra": true}""",
      """{"k": "x", "extra": false}""", """{"k": null}""",
      "not json", "{}", null,
      // metacharacter keys: a schema-drift monitor sees EXACTLY the keys
      // a contract never promised — dots, brackets, quotes must read as
      // LITERAL keys (the oracle quotes its JSON-path segment; a naive
      // '$.' || k would navigate "a.b" as nested structure)
      """{"a.b": 7, "e[0]": 8, "d\"q": 9}""")
      .zipWithIndex.map { case (p, i) =>
        (i.toLong, ts, i.toLong, "t", 1.0, p)
      }
    val dir = tempDir("graft_props").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Ingest.qPropsSchema.run(spark, dir).collect()
      .map(r => r.getAs[String]("key") ->
        (r.getAs[Long]("n_present"), r.getAs[Double]("present_rate"),
          r.getAs[Long]("n_distinct_values"))).toMap
    // k: 5 of 9 rows; JSON-null value stays out of the distinct count
    assert(got == Map(
      "k" -> ((5L, 0.5556, 3L)),
      "extra" -> ((2L, 0.2222, 2L)),
      "a.b" -> ((1L, 0.1111, 1L)),
      "e[0]" -> ((1L, 0.1111, 1L)),
      "d\"q" -> ((1L, 0.1111, 1L))), s"schema profile off: $got")
  }

  test("windowed counts sum to total events") {
    val rows = Ingest.qWindowedCounts.run(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_events")).sum ==
      Tables.events(spark, sfDir).count())
  }

  test("db growth: cumulative is the running sum; users counted once, first-seen") {
    import org.apache.spark.sql.functions._
    val rows = Ingest.qDbGrowth.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val days = rows.map(_.getAs[String]("day"))
    assert(days.sameElements(days.sorted))
    var running = 0L
    rows.foreach { r =>
      running += r.getAs[Long]("new_rows")
      assert(r.getAs[Long]("cumulative_rows") == running)
      assert(r.getAs[Long]("new_users") <= r.getAs[Long]("new_rows"))
    }
    assert(running == Tables.events(spark, sfDir).count())
    // first-seen semantics: the curve's user total is the corpus's
    // distinct user count, not a sum of daily actives
    val distinctUsers = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull).select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("new_users")).sum == distinctUsers)
  }

  test("session stats: consistent with the sessionizer it wraps") {
    val sess = Ingest.qSessionize.run(spark, sfDir).collect()
    val r = Ingest.qSessionStats.run(spark, sfDir).collect()(0)
    assert(r.getAs[Long]("n_sessions") == sess.length.toLong)
    val share = r.getAs[Double]("single_event_share")
    assert(share >= 0 && share <= 1)
    assert(r.getAs[Double]("avg_events") >= 1.0)
    assert(r.getAs[Double]("p50_duration_us") <= r.getAs[Long]("max_duration_us").toDouble)
    val maxDur = sess.map(s => s.getAs[Long]("end_us") - s.getAs[Long]("start_us")).max
    assert(r.getAs[Long]("max_duration_us") == maxDur)
  }

  test("run drift: crafted 3-day corpus pins TV arithmetic, first-run NULLs, new/gone types") {
    import spark.implicits._
    // day1 a×4 b×6 (n=10); day2 a×2 b×2 c×4 (n=8); day3 b×5 (n=5)
    //   day2 vs day1: Σ|c·m−d·n| = |2·10−4·8| + |2·10−6·8| + |4·10−0|
    //                = 12+28+40 = 80 → TV = 80/(2·8·10) = 0.5; c is new
    //   day3 vs day2: |0−2·5| + |5·8−2·5| + |0−4·5| = 10+30+20 = 60
    //                → TV = 60/(2·5·8) = 0.75; a and c vanished
    def day(d: Int, mix: Seq[(String, Int)]): Seq[(Long, java.sql.Timestamp, Long, String, Double, String)] = {
      val t0 = java.sql.Timestamp.valueOf(f"2024-04-0$d 00:00:00").getTime
      mix.flatMap { case (et, k) => Seq.fill(k)(et) }.zipWithIndex.map {
        case (et, i) => (d * 1000L + i, new java.sql.Timestamp(t0 + i * 1000L),
          i.toLong, et, 1.0, "{}")
      }
    }
    val dir = tempDir("graft_drift").toString
    (day(1, Seq("a" -> 4, "b" -> 6)) ++ day(2, Seq("a" -> 2, "b" -> 2, "c" -> 4)) ++
      day(3, Seq("b" -> 5)))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Ingest.qRunDrift.run(spark, dir).collect()
      .map(r => r.getAs[String]("run_id") ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("n_types"),
          Option(r.getAs[java.lang.Double]("tv_drift")),
          Option(r.getAs[java.lang.Long]("n_new_types")),
          Option(r.getAs[java.lang.Long]("n_gone_types"))))).toMap
    assert(got("2024-04-01") == ((10L, 2L, None, None, None)),
      "first run has no baseline — drift must be NULL, not 0")
    assert(got("2024-04-02") == ((8L, 3L, Some(0.5), Some(1L), Some(0L))))
    assert(got("2024-04-03") == ((5L, 1L, Some(0.75), Some(0L), Some(2L))))
  }

  test("coverage gaps: crafted outage calendar lands exact gap islands; continuous stream is empty") {
    import spark.implicits._
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    // events on Jan 1, 2, 5, 6, 10 -> gaps (3..4, 2 days) and (7..9, 3 days)
    val rows = Seq(1, 2, 5, 6, 10).zipWithIndex.map { case (day, i) =>
      (i.toLong, ts(day), 1L, "t", 1.0, "{}")
    }
    val dir = tempDir("graft_gaps").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Ingest.qCoverageGaps.run(spark, dir).collect()
      .map(r => (r.getAs[String]("gap_start"), r.getAs[String]("gap_end"),
        r.getAs[Long]("n_days")))
    assert(got.toSeq == Seq(
      ("2024-01-03", "2024-01-04", 2L),
      ("2024-01-07", "2024-01-09", 3L)))
    // the real stream is continuous -> the good-news empty certificate
    assert(Ingest.qCoverageGaps.run(spark, sfDir).count() == 0L)
  }

  test("json-int kernel ≡ the two-parse from_json form, payload class by class") {
    // q_props_extract's r14 kernel replaces `when(dup-keys, null)
    // .otherwise(from_json(struct<k:int>).k)` — TWO Jackson parses per
    // row. This pins kernel ≡ that exact form on every payload class the
    // engines' contract names (IngestSpec's crafted-lake list) PLUS the
    // acceptance-grammar edges of Spark's Jackson defaults, probed one by
    // one on this build: single quotes, NaN/Infinity, leading zeros, BOM,
    // raw control chars, escape-decoded duplicate keys, case-sensitive
    // field match, trailing garbage, overflow, whitespace classes.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val crafted: Seq[String] = Seq(
      """{"k": 7}""", """{"K": 7}""", """{'k': 7}""", """{'k': 7, "k": 8}""",
      """{"k": 017}""", """{"k": 00}""", """{"k": -0}""", """{"k": +7}""",
      """{"k": NaN}""", """{"j": NaN, "k": 7}""", """{"k": Infinity}""",
      """{"k": -Infinity}""", """{"k": 1e2}""", """{"k": 7.0}""",
      """{"k": 2147483648}""", """{"k": -2147483648}""", """{"k": 2147483647}""",
      """{"k": 123456789012345678901234567890}""", """{"k": 1.5e-3}""",
      """[{"k": 5}]""", """[1, 2]""", """17""", """"k"""", "true", "null",
      """{"k": 7} """, "\t\n\r {\"k\": 7} \r\n", "\f{\"k\": 7}", "{\"k\":\f7}",
      """{"k"  :  7  }""", """{"k": 7} x""", """{"k": 1}{"k": 2}""",
      """{"k": 1, "k": 2}""", """{"\u006b": 1, "k": 2}""", """{"a": 1, "a": 2, "k": 9}""",
      """{"a": [1, {"b": 2}], "k": 9}""", """{"a": {"x": 1, "x": 2}, "k": 9}""",
      """{"a": 1,}""", """{"k" 7}""", """{,}""", """{}""", """{"k": }""",
      """{"k": "7"}""", """{"k": true}""", """{"k": false}""", """{"k": null}""",
      """{"k": -}""", """{"k": --1}""", """{"k": 1-}""",
      """{"a": "x\ty", "k": 7}""", "{\"a\": \"x\ny\", \"k\": 7}",
      """{"a": "q\zq", "k": 7}""", """{"a": "\u00e9", "k": 7}""",
      """{"a": "\ud83d\ude00", "k": 7}""", """{"a": "\ud800", "k": 7}""",
      "{\"caf\u00e9\": 1, \"caf\\u00e9\": 2, \"k\": 3}",
      """{"": 1, "k": 4}""", """{"": 1, "": 2, "k": 4}""",
      "\ufeff{\"k\": 7}", """{"k": 7, "nested": {"k": 99}}""",
      """{"nested": {"k": 99}}""", "", " ", "not json", """{"a/b": 1, "a\/b": 2, "k": 5}""",
      "{\"k\": 7, \"s\": '\\u0041'}", """{"k": Infinity, "k": 2}""",
      null)
    val corpus = Tables.events(spark, sfDir).select("props")
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
    val pkeys = map_keys(from_json(col("props"), MapType(StringType, StringType)))
    val oldForm = when(size(pkeys) =!= size(array_distinct(pkeys)), lit(null))
      .otherwise(from_json(col("props"),
        StructType(Seq(StructField("k", IntegerType)))).getField("k"))
    graft.functions.GraftFunctions.register(spark)
    val rows = (crafted ++ corpus).toDF("props")
      .select(col("props"),
        call_function("graft_json_int", col("props"), lit("k")).as("kernel"),
        oldForm.as("old"))
      .collect()
    assert(rows.length >= crafted.length)
    rows.foreach { r =>
      val p = if (r.isNullAt(0)) "NULL"
        else r.getString(0).replace("\n", "\\n").replace("\ufeff", "<BOM>")
      val k = if (r.isNullAt(1)) null else r.get(1)
      val o = if (r.isNullAt(2)) null else r.get(2)
      assert(k == o, s"json-int drift on <$p>: kernel=$k old=$o")
    }
  }
}
