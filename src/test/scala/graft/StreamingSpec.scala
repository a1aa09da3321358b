package graft

import java.sql.Timestamp

import graft.streaming.{Event, IngestStream}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming twins vs their batch oracles: the same transformations on a
  * MemoryStream must converge to the batch results on the same data.
  */
class StreamingSpec extends SparkSpec {

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60000L)

  /** A fresh checkpoint directory for one query start: a query started
    * without one gets a temporary directory, and Spark WARNs about it.
    */
  private def checkpoint(): String = tempDir("graft_ck").toString

  private def runToCompletion[T](
      stream: org.apache.spark.sql.DataFrame, name: String,
      mem: MemoryStream[T], batches: Seq[Seq[T]]): Array[org.apache.spark.sql.Row] = {
    val query = stream.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", checkpoint()).start()
    try {
      batches.foreach { b => mem.addData(b); query.processAllAvailable() }
      // advance the watermark far enough to close all windows/sessions
      query.processAllAvailable()
    } finally query.stop()
    spark.table(name).collect()
  }

  test("streaming windowed counts match batch semantics incl. late dup drop") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Event]
    val events = Seq(
      Event(1, ts(5), 10, "click", 4.0),
      Event(2, ts(10), 10, "click", 6.0),
      Event(1, ts(5), 10, "click", 4.0), // duplicate PK -> dropped
      Event(3, ts(70), 11, "view", 10.0),
      Event(4, ts(200), 11, "view", 2.0)) // advances watermark, closes earlier windows
    val rows = runToCompletion(
      IngestStream.windowedCounts(IngestStream.dedupe(mem.toDS())),
      "win_counts", mem, Seq(events.take(3), events.drop(3)))
    val byKey = rows.map(r => (r.getAs[Timestamp]("window_start").getTime / 60000,
      r.getAs[String]("event_type")) -> (r.getAs[Long]("n_events"), r.getAs[Double]("avg_value"))).toMap
    assert(byKey((0, "click")) == ((2L, 5.0)), s"got $byKey")
    assert(byKey((60, "view")) == ((1L, 10.0)))
  }

  test("streaming app health converges to the batch operator on closed runs") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Event]
    def dayTs(day: Int, minutes: Long): Timestamp =
      new Timestamp((day * 1440L + minutes) * 60000L)
    // day 1: appA errors (id 97) + all-even appB (stale) + mixed appC (ok);
    // day 2: one clean app; a far-future sentinel closes both day windows
    val d1 = Seq(
      Event(97, dayTs(1, 0), 1, "appA", 1.0), Event(3, dayTs(1, 30), 1, "appA", 1.0),
      Event(2, dayTs(1, 0), 1, "appB", 1.0), Event(4, dayTs(1, 45), 1, "appB", 1.0),
      Event(5, dayTs(1, 10), 1, "appC", 1.0), Event(6, dayTs(1, 90), 1, "appC", 1.0))
    val d2 = Seq(
      Event(7, dayTs(2, 5), 1, "appC", 1.0), Event(9, dayTs(2, 65), 1, "appC", 1.0))
    val sentinel = Seq(Event(11, dayTs(40, 0), 1, "appZ", 1.0))
    val rows = runToCompletion(
      IngestStream.appHealth(IngestStream.dedupe(mem.toDS())),
      "app_health_stream", mem, Seq(d1, d2, sentinel))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("run_id"), r.getAs[String]("app_id"))
    def cell(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("status"), r.getAs[Long]("fetched"),
        r.getAs[Long]("inserted"), r.getAs[Long]("skipped"),
        r.getAs[Long]("error_cnt"), r.getAs[Double]("duration_secs"))
    val got = rows.map(r => key(r) -> cell(r)).toMap
    // batch twin over the same (closed-run) rows — identical cells
    val batch = graft.operators.Ingest.appHealth(
        (d1 ++ d2).toDF("event_id", "ts", "user_id", "event_type", "value"))
      .collect().map(r => key(r) -> cell(r)).toMap
    assert(got == batch,
      s"streaming health diverged:\n got=$got\n exp=$batch")
    assert(got(("1970-01-02", "appA"))._1 == "error")
    assert(got(("1970-01-02", "appB"))._1 == "stale")
    assert(got(("1970-01-02", "appC"))._1 == "ok")
  }

  /** Condensed 9-run corpus from the batch crafted alert spec: clean
    * baseline days 1-5, then one rule violation per day — an error event
    * (d2), a −90% drop (d6), a +268% rise with window variance (d7), an
    * all-even dedup/duration day (d8), and a null-props shift day (d9).
    */
  private def alertCorpus(): Seq[Seq[(Long, Timestamp, String)]] = {
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
    def day(d: Int, evIds: Seq[Long], spanSecs: Long,
        nullProps: Boolean = false): Seq[(Long, Timestamp, String)] = {
      val t0 = java.sql.Timestamp.valueOf(f"2024-02-0$d 00:00:00").getTime
      val n = evIds.size
      evIds.zipWithIndex.map { case (id, i) =>
        (id, new Timestamp(t0 + i * spanSecs * 1000 / math.max(1, n - 1)),
          if (nullProps && i % 2 == 0) null else "{}")
      }
    }
    Seq(
      day(1, ids(100), 1000), day(2, ids(99) :+ 97L * 3, 1000),
      day(3, ids(100), 1000), day(4, ids(100), 1000),
      day(5, ids(100), 1000), day(6, ids(10), 1000),
      day(7, ids(300), 1000), day(8, ids(100, even = true), 5000),
      day(9, ids(100), 1000, nullProps = true))
  }

  private def alertKey(r: org.apache.spark.sql.Row) =
    (r.getAs[String]("run_id"), r.getAs[String]("metric"),
      r.getAs[String]("level"), r.getAs[Double]("threshold"),
      r.getAs[Double]("actual"))

  test("alertsSink run loop: exact at any horizon; replay is a per-key no-op") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val days = alertCorpus()
    val rows = days.flatten
    val batch = graft.operators.Ingest.alerts(
      rows.toDF("event_id", "ts", "props")).collect().map(alertKey).toSet
    // several distinct rules must actually fire for this test to mean much
    assert(batch.map(_._2).size >= 5, s"crafted corpus too tame: $batch")
    val base = tempDir("graft_alertsink")
    val metricsPath = base.resolve("metrics").toString
    val alertsPath = base.resolve("alerts").toString
    val sentinel = Seq((7777L, new Timestamp(
      java.sql.Timestamp.valueOf("2024-03-20 00:00:00").getTime), "{}"))
    def stream(metricsPath: String, alertsPath: String,
        batches: Seq[Seq[(Long, Timestamp, String)]]): Unit = {
      val mem = MemoryStream[(Long, Timestamp, String)]
      val query = IngestStream.alertsSink(
        mem.toDF().toDF("event_id", "ts", "props"),
        metricsPath, alertsPath).option("checkpointLocation", checkpoint()).start()
      try batches.foreach { b => mem.addData(b); query.processAllAvailable() }
      finally query.stop()
    }
    // three micro-batch groups: runs close across DIFFERENT batches, so
    // later runs' preceding-5 windows span runs landed by EARLIER batches
    def runOnce(): Unit = stream(metricsPath, alertsPath,
      Seq(rows.take(400), rows.slice(400, 800), rows.drop(800) ++ sentinel))
    runOnce()
    def storedAlerts = spark.read.parquet(alertsPath).drop("alert_key")
    assert(storedAlerts.collect().map(alertKey).toSet == batch,
      "run-loop alerts diverge from the batch rules")
    // the metrics store holds one exact-integer observation row per run
    assert(spark.read.parquet(metricsPath).count() == days.size)
    // full replay (fresh stream, same stores): every run row and every
    // alert re-offered — both keyed anti-joins must drop them all
    runOnce()
    assert(storedAlerts.collect().map(alertKey).toSet == batch,
      "replay changed the landed alert set")
    assert(spark.read.parquet(metricsPath).count() == days.size)

    // a new run past the landed history: one query lands days 1-8, a
    // later query closes day 9 — its preceding-5 window (days 4-8) comes
    // from the store the earlier query left, and only day 9's alerts land
    val later = tempDir("graft_alertsink_later")
    val laterMetrics = later.resolve("metrics").toString
    val day9Alerts = later.resolve("alerts").toString
    stream(laterMetrics, later.resolve("alerts_1_8").toString,
      Seq(days.take(8).flatten, sentinel))
    stream(laterMetrics, day9Alerts, Seq(days(8), sentinel))
    val batchDay9 = batch.filter(_._1 == "2024-02-09")
    assert(batchDay9.exists(_._2 == "props_null_rate"),
      s"crafted day 9 must fire a window rule in batch: $batchDay9")
    val gotDay9 = spark.read.parquet(day9Alerts).drop("alert_key")
      .collect().map(alertKey).toSet
    assert(gotDay9 == batchDay9,
      s"new-run alerts diverged:\n got=$gotDay9\n exp=$batchDay9")
  }

  test("driftSink run loop: TV drift rows equal the batch rule; replay is a per-key no-op") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // 4 days with a shifting type mix: day2 shifts shares (TV 0.25 by
    // hand), day3 swaps a type out and one in, day4 collapses to one type
    var id = 0L
    def day(d: Int, mix: Seq[(String, Int)]): Seq[Event] =
      mix.flatMap { case (t, n) => (1 to n).map { i =>
        id += 1
        Event(id, new Timestamp(java.sql.Timestamp
          .valueOf(f"2024-03-0$d 01:00:00").getTime + i * 60000L), 1L, t, 1.0)
      } }
    val days = Seq(
      day(1, Seq("a" -> 10, "b" -> 10)),
      day(2, Seq("a" -> 15, "b" -> 5)),
      day(3, Seq("b" -> 10, "c" -> 10)),
      day(4, Seq("c" -> 1)))
    val all = days.flatten
    // the batch rule over the same rows — qRunDrift IS driftOf over
    // day-grain type counts, so this is the batch operator's definition
    def keyOf(r: org.apache.spark.sql.Row) = (r.getAs[String]("run_id"),
      r.getAs[Long]("n_events"), r.getAs[Long]("n_types"),
      Option(r.getAs[java.lang.Double]("tv_drift")),
      Option(r.getAs[java.lang.Long]("n_new_types")),
      Option(r.getAs[java.lang.Long]("n_gone_types")))
    val batch = graft.operators.Ingest.driftOf(
      all.toDF().groupBy(date_format(col("ts"), "yyyy-MM-dd").as("run_id"),
        col("event_type")).agg(count(lit(1)).as("c")))
      .collect().map(keyOf).toSet
    assert(batch.exists(_._4.contains(0.25)), s"hand TV missing: $batch")
    val base = tempDir("graft_driftsink")
    val countsPath = base.resolve("counts").toString
    val driftPath = base.resolve("drift").toString
    val sentinel = Seq(Event(99999L, new Timestamp(
      java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime), 1L, "zz", 0.0))
    def runOnce(): Unit = {
      val mem = MemoryStream[Event]
      val query = IngestStream.driftSink(mem.toDS(), countsPath, driftPath)
        .option("checkpointLocation", checkpoint()).start()
      // runs close across DIFFERENT micro-batches: day 3's previous-run
      // distribution was landed by an EARLIER batch — the advancing-store
      // horizon the stream-static form could not provide
      try Seq(days.take(2).flatten, days.drop(2).flatten ++ sentinel)
        .foreach { b => mem.addData(b); query.processAllAvailable() }
      finally query.stop()
    }
    runOnce()
    def stored = spark.read.parquet(driftPath).collect().map(keyOf).toSet
    assert(stored == batch, s"streamed drift diverged:\n got=$stored\n exp=$batch")
    // the count store holds one row per (run, type)
    assert(spark.read.parquet(countsPath).count() ==
      days.flatMap(d => d.map(e => (e.ts.getTime / 86400000L, e.event_type)))
        .distinct.size)
    // full replay: every count row and drift row re-offered — both keyed
    // appends must drop them all
    runOnce()
    assert(stored == batch, "replay changed the landed drift rows")
  }

  test("streaming health-report sink: closed runs land once; a full replay is a no-op") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    def dayTs(day: Int, minutes: Long): Timestamp =
      new Timestamp((day * 1440L + minutes) * 60000L)
    val d1 = Seq(
      Event(97, dayTs(1, 0), 1, "appA", 1.0), Event(3, dayTs(1, 30), 1, "appA", 1.0),
      Event(5, dayTs(1, 10), 1, "appC", 1.0))
    val d2 = Seq(Event(7, dayTs(2, 5), 1, "appC", 1.0))
    val sentinel = Seq(Event(11, dayTs(40, 0), 1, "appZ", 1.0))
    val path = tempDir("graft_hrsink")
      .resolve("reports").toString
    def runOnce(): Unit = {
      val mem = MemoryStream[Event]
      val query = IngestStream.healthReportSink(
        IngestStream.appHealth(IngestStream.dedupe(mem.toDS())), path)
        .option("checkpointLocation", checkpoint()).start()
      try Seq(d1, d2, sentinel).foreach { b =>
        mem.addData(b); query.processAllAvailable()
      } finally query.stop()
    }
    runOnce()
    def stored = spark.read.parquet(path).drop("report_key")
    val batch = graft.operators.Ingest.appHealth(
      (d1 ++ d2).toDF("event_id", "ts", "user_id", "event_type", "value"))
    // every closed (run, app) cell landed exactly once, cell-identical
    // to the batch operator on the same events
    assert(stored.count() == batch.count())
    assert(stored.exceptAll(batch).isEmpty && batch.exceptAll(stored).isEmpty,
      "stored reports diverge from the batch health rows")
    // a FULL replay (fresh stream, no checkpoint, same data) re-offers
    // every key — the keyed anti-join must drop them all
    runOnce()
    assert(stored.count() == batch.count(),
      "replay double-landed report rows — the idempotent append regressed")
  }

  test("streaming near-dup front: event-time keep-first equals the batch pair graph; replay no-op") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // the real corpus with a synthetic monotone event time (arrival order
    // = event-time order = doc_id order), streamed in two batches so
    // cross-batch near-dup pairs exercise the persistent store path
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), ts(r.getLong(0)), r.getAs[String]("text")))
      .sortBy(_._1)
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val storeDir = tempDir("graft_ndstore").toString
    val survDir = tempDir("graft_ndsurv").toString
    def runOnce(): Unit = {
      val mem = MemoryStream[(Long, Timestamp, String)]
      val q = IngestStream.neardupSink(
        mem.toDF().toDF("doc_id", "ts", "text"), storeDir, survDir)
        .option("checkpointLocation", checkpoint()).start()
      try Seq(b1, b2).foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
      finally q.stop()
    }
    runOnce()
    // expected survivors per the documented rule: doc d drops iff some
    // Hamming<=3 partner has a smaller (ts, id) key — with the monotone
    // ts, exactly the id_b side of the batch pair graph
    val droppedExpected = graft.operators.Similarity.qDedupSimhash.run(spark, sfDir)
      .collect().map(_.getAs[Long]("id_b")).toSet
    assert(droppedExpected.nonEmpty, "spec corpus must contain simhash near-dups")
    val expected = docs.map(_._1).toSet -- droppedExpected
    def survivors = spark.read.parquet(survDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == expected,
      s"streaming survivors diverge from the batch pair graph " +
        s"(missing ${expected -- survivors}, extra ${survivors -- expected})")
    // full replay (fresh query, no checkpoint, same data): the keyed
    // appends make every row a per-key no-op
    runOnce()
    assert(survivors == expected, "replay changed the survivor set")
    // the fingerprint store carries one narrow row per document ever seen
    assert(spark.read.parquet(storeDir).count() ==
      docs.count { case (_, _, t) => t != null && t.trim.nonEmpty })
  }

  test("streaming near-dup front: checkpointed restart continues the store, no double-landing") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), ts(r.getLong(0)), r.getAs[String]("text")))
      .sortBy(_._1)
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val storeDir = tempDir("graft_ndck_store").toString
    val survDir = tempDir("graft_ndck_surv").toString
    val ckDir = tempDir("graft_ndck_ck").toString
    // ONE MemoryStream across both query incarnations (the established
    // checkpoint-restart pattern here: a fresh stream could not serve
    // the checkpointed offsets)
    val mem = MemoryStream[(Long, Timestamp, String)]
    def run(batches: Seq[Seq[(Long, Timestamp, String)]]): Unit = {
      val q = IngestStream.neardupSink(
          mem.toDF().toDF("doc_id", "ts", "text"), storeDir, survDir)
        .option("checkpointLocation", ckDir).start()
      try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    // first incarnation processes batch 1, then the query STOPS (a crash/
    // deploy); the second incarnation resumes from the same checkpoint
    // and processes batch 2 against the landed store
    run(Seq(b1.toSeq))
    run(Seq(b2.toSeq))
    val expected = docs.map(_._1).toSet --
      graft.operators.Similarity.qDedupSimhash.run(spark, sfDir)
        .collect().map(_.getAs[Long]("id_b")).toSet
    val survivors = spark.read.parquet(survDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == expected,
      s"restart diverged from the one-query run " +
        s"(missing ${expected -- survivors}, extra ${survivors -- expected})")
    assert(spark.read.parquet(survDir).count() == expected.size.toLong,
      "restart double-landed survivor rows")
  }

  test("streaming near-dup front: out-of-order arrival lands (documented best-effort)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val storeDir = tempDir("graft_ndo_store").toString
    val survDir = tempDir("graft_ndo_surv").toString
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = IngestStream.neardupSink(
      mem.toDF().toDF("doc_id", "ts", "text"), storeDir, survDir)
      .option("checkpointLocation", checkpoint()).start()
    try {
      // identical text = Hamming 0: the strongest near-dup
      mem.addData(Seq((1L, ts(100), "same exact words here")))
      q.processAllAvailable()
      // arrives LATER but with an EARLIER event time: it has no
      // (ts, id)-earlier partner, so it lands too — streaming cannot
      // retract doc 1; the batch backstop owns this case
      mem.addData(Seq((2L, ts(50), "same exact words here")))
      q.processAllAvailable()
      // in-order duplicate: two earlier partners -> dropped
      mem.addData(Seq((3L, ts(150), "same exact words here")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(survDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L), s"expected {1, 2} (out-of-order lands, in-order drops): $got")
  }

  test("streaming content dedup: within-horizon drop, normalization, re-admission") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val b1 = Seq(
      (ts(1), "Hello   World"),
      (ts(2), "  hello world "), // same normalized content -> dropped
      (ts(3), "another doc"))
    val b2 = Seq((ts(200), "closer")) // watermark -> 140 min, evicts b1's keys
    val b3 = Seq((ts(205), "HELLO  world")) // original evicted -> re-admitted
    val out = runToCompletion(
      IngestStream.dedupeContent(mem.toDF().toDF("ts", "text")),
      "content_dedup", mem, Seq(b1, b2, b3))
    val texts = out.map(_.getAs[String]("text"))
    assert(texts.contains("Hello   World"),
      s"first occurrence must survive: $texts")
    assert(!texts.contains("  hello world "),
      s"whitespace/case variant within the horizon must be dropped: $texts")
    assert(texts.contains("another doc") && texts.contains("closer"))
    assert(texts.contains("HELLO  world"),
      s"beyond-horizon duplicate must be re-admitted (state is watermark-" +
        s"scoped; the batch pass is the exact backstop): $texts")
    assert(out.length == 4, s"expected exactly 4 admitted rows: $texts")
  }

  test("streaming content dedup: null-text documents pass through, never dedup against each other") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    // dropDuplicatesWithinWatermark keys NULL = NULL: without the
    // null-key bypass the second null-text doc would be silently dropped
    // — rows the batch tier PASSES (a null content key has no group).
    // The best-effort front must only ever drop a subset of batch drops.
    val out = runToCompletion(
      IngestStream.dedupeContent(mem.toDF().toDF("ts", "text")),
      "content_dedup_null", mem,
      Seq(Seq((ts(1), null: String), (ts(2), null: String),
        (ts(3), "real doc"))))
    assert(out.length == 3,
      s"null-text docs must not dedup against each other: ${out.length}")
    assert(out.count(_.isNullAt(out.head.fieldIndex("text"))) == 2)
  }

  test("streaming curation gate equals the batch funnel's stateless stages") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docsB = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val out = runToCompletion(
      graft.streaming.IngestStream.curationGate(
        mem.toDF().toDF("doc_id", "text")),
      "curation_gate", mem, Seq(docsB.toSeq))
    val gates = out.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[String]("gate"), r.getAs[Boolean]("admitted")))).toMap
    assert(gates.size == docsB.length,
      "the gate quarantines, never drops: every input row is emitted")
    val names = graft.operators.Curation.StageNames.toMap
    val staged = graft.operators.Curation.stagedFlags(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[java.lang.Integer]("dropped_at")).map(_.toInt))
    assert(staged.nonEmpty)
    staged.foreach {
      case (id, None) =>
        assert(gates(id) == (("pass", true)),
          s"doc $id passes the batch funnel but the gate said ${gates(id)}")
      case (id, Some(k)) if k >= 3 =>
        assert(gates(id) == ((names(k), false)),
          s"doc $id drops at batch stage $k but the gate said ${gates(id)}")
      case _ => () // stages 1-2 (exact/near dup) are the stateful fronts'
                   // jurisdiction — the stateless gate judges only 3-5
    }
  }

  test("composed run loop: chained fronts + monitors, one checkpoint root, kill-and-restart") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // ---- corpus: every funnel stage represented, in event-time order ----
    // unique docs: distinct synthetic tokens + stopword filler (quality
    // passes: 0.3 stop + 0.15 + 0.15 >= 0.5 floor regardless of length)
    def salad(i: Long): String =
      (1 to 12).map(j => s"tok${i}x$j").zipWithIndex.map { case (w, k) =>
        if (k % 3 == 0) s"the $w" else if (k % 3 == 1) s"$w of" else s"$w and"
      }.mkString(" ")
    def dayTs(day: Int, minutes: Long): Timestamp =
      new Timestamp((day * 1440L + minutes) * 60000L)
    // 80 tokens: at this length a one-token change is SimHash Hamming 1
    // AND MinHash Jaccard 0.93 (crafted-lake measured), so the streaming
    // simhash front and the batch funnel's minhash stage agree on the
    // pair — the corpus property the lake-equality assertion needs (a
    // 40-token pair measured Hamming > 3: minhash-only, and would
    // diverge the tiers BY DESIGN — that regime is the batch backstop's)
    val nearBase = (1 to 80).map(j => s"near${j}gram").mkString(" ")
    val nearVar = nearBase.replace("near20gram", "CHANGED")
    val uniq1 = Seq(1L, 2L, 3L, 4L, 5L, 6L).map(i => (i, dayTs(1, i), salad(i)))
    val day1 = uniq1 ++ Seq(
      (10L, dayTs(1, 10), salad(10)), (11L, dayTs(1, 11), nearBase),
      (20L, dayTs(1, 20), salad(10)), // exact dup of 10 -> stage 1
      (21L, dayTs(1, 21), nearVar))   // near dup of 11 -> stage 2
    val day2 = Seq(
      (30L, dayTs(2, 1), salad(30)), (31L, dayTs(2, 2), salad(31)),
      (32L, dayTs(2, 3), "XX!!"), // unscoreable-quality -> stage 3
      (33L, dayTs(2, 4),          // blocklist-heavy -> stage 4
        "slow big merge the slow big of merge and slow big merge"),
      (27L, dayTs(2, 5), salad(27)), // md5('27') starts '0' -> stage 5
      (97L, dayTs(2, 6), salad(97))) // %97 id: the monitors' error event
    val sentinel = Seq((9999L, dayTs(40, 0), salad(9999)))
    val allDocs = day1 ++ day2 ++ sentinel
    // ---- batch side: the same corpus as a lake dir ----
    val lakeDir = tempDir("graft_loop_lake").toString
    allDocs.toDF("doc_id", "ts", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        concat(lit("src"), col("doc_id") % 2).as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .write.parquet(s"$lakeDir/documents.parquet")
    val staged = graft.operators.Curation.stagedFlags(spark, lakeDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[java.lang.Integer]("dropped_at")).map(_.toInt)).toMap
    // precondition: the crafted corpus exercises EVERY stage (and the
    // minhash stage-2 catch coincides with the simhash front's, which the
    // lake-equality assertion below then proves)
    assert((1 to 5).forall(k => staged.values.flatten.exists(_ == k)),
      s"corpus must cover all 5 stages: $staged")
    val expectedClean = staged.collect { case (id, None) => id }.toSet
    // ---- streaming side: ONE stream, one checkpoint root, 4 queries ----
    val root = tempDir("graft_runloop")
    def p(n: String) = root.resolve(n).toString
    val mem = MemoryStream[(Long, Timestamp, String)]
    def docsDf = mem.toDF().toDF("doc_id", "ts", "text")
    def eventsDs = docsDf.select(
        col("doc_id").as("event_id"), col("ts"),
        (col("doc_id") % 5).as("user_id"),
        concat(lit("src"), col("doc_id") % 2).as("event_type"),
        lit(1.0).as("value")).as[Event]
    def rawDf = docsDf.select(col("doc_id").as("event_id"), col("ts"),
      lit("{}").as("props"))
    def startAll() = Seq(
      IngestStream.curationLoop(docsDf, p("fp"), p("lake"), p("audit"))
        .option("checkpointLocation", p("ck/loop")).start(),
      IngestStream.alertsSink(rawDf, p("metrics"), p("alerts"))
        .option("checkpointLocation", p("ck/alerts")).start(),
      IngestStream.driftSink(eventsDs, p("counts"), p("drift"))
        .option("checkpointLocation", p("ck/drift")).start(),
      IngestStream.healthReportSink(
          IngestStream.appHealth(IngestStream.dedupe(eventsDs)), p("health"))
        .option("checkpointLocation", p("ck/health")).start())
    def feed(qs: Seq[org.apache.spark.sql.streaming.StreamingQuery],
        b: Seq[(Long, Timestamp, String)]): Unit = {
      mem.addData(b); qs.foreach(_.processAllAvailable())
    }
    // first incarnation: day 1 lands, then the whole deployment STOPS
    // (crash/deploy) mid-stream
    val qs1 = startAll()
    try feed(qs1, day1) finally qs1.foreach(_.stop())
    // second incarnation resumes every query from the same checkpoint
    // root and processes day 2 + the closing sentinel
    val qs2 = startAll()
    try { feed(qs2, day2); feed(qs2, sentinel) } finally qs2.foreach(_.stop())
    // ---- composite end-state ≡ the batch funnel ----
    val landed = spark.read.parquet(p("lake")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(landed == expectedClean,
      s"composed loop diverged from the batch funnel " +
        s"(missing ${expectedClean -- landed}, extra ${landed -- expectedClean})")
    // landed lake carries the input schema (audit columns stripped)
    assert(spark.read.parquet(p("lake")).columns.sorted.toSeq ==
      Seq("doc_id", "text", "ts"))
    // audit rows exist exactly for the docs that REACHED the gate (= all
    // docs minus the stateful fronts' drops), each with the batch
    // funnel's own stage-3..5 attribution
    val names = graft.operators.Curation.StageNames.toMap
    val audit = spark.read.parquet(p("audit")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("gate"), r.getAs[Boolean]("admitted")))).toMap
    val frontDrops = staged.collect {
      case (id, Some(k)) if k <= 2 => id }.toSet
    assert(audit.keySet == allDocs.map(_._1).toSet -- frontDrops,
      "audit store must hold exactly the gate-judged documents")
    audit.foreach { case (id, (gate, admitted)) =>
      staged(id) match {
        case None => assert(gate == "pass" && admitted, s"doc $id: $gate")
        case Some(k) if k >= 3 =>
          assert(gate == names(k) && !admitted,
            s"doc $id: batch stage $k vs gate $gate")
        case Some(k) => fail(s"doc $id dropped at front stage $k yet gated")
      }
    }
    // ---- monitors ≡ their batch twins on the closed runs ----
    val closedEvents = (day1 ++ day2).map { case (id, t, _) =>
      Event(id, t, id % 5, s"src${id % 2}", 1.0) }
    val healthBatch = graft.operators.Ingest.appHealth(
      closedEvents.toDF("event_id", "ts", "user_id", "event_type", "value"))
    val healthStored = spark.read.parquet(p("health")).drop("report_key")
    assert(healthStored.count() == healthBatch.count() &&
      healthStored.exceptAll(healthBatch).isEmpty &&
      healthBatch.exceptAll(healthStored).isEmpty,
      "health store diverged from the batch operator")
    val driftBatch = graft.operators.Ingest.driftOf(
        closedEvents.toDF().groupBy(
          date_format(col("ts"), "yyyy-MM-dd").as("run_id"),
          col("event_type")).agg(count(lit(1)).as("c")))
      .collect().map(_.getAs[String]("run_id")).toSet
    assert(spark.read.parquet(p("drift")).collect()
      .map(_.getAs[String]("run_id")).toSet == driftBatch,
      "drift store diverged from the batch rule's run set")
    val alertsBatch = graft.operators.Ingest.alerts(
        closedEvents.map(e => (e.event_id, e.ts, "{}"))
          .toDF("event_id", "ts", "props"))
      .collect().map(alertKey).toSet
    assert(spark.read.parquet(p("alerts")).drop("alert_key").collect()
      .map(alertKey).toSet == alertsBatch,
      "alerts store diverged from the batch rules")
  }

  test("streaming sessionizer closes sessions on gap and on watermark timeout") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Event]
    val batch1 = Seq(
      Event(1, ts(1), 1, "click", 1.0),
      Event(2, ts(11), 1, "click", 1.0), // same session (10 min gap)
      Event(3, ts(61), 1, "click", 1.0)) // gap 50 min -> closes session 1
    val batch2 = Seq(
      Event(4, ts(301), 2, "view", 1.0)) // watermark -> times out user 1's session
    val out = runToCompletion(
      IngestStream.sessionize(mem.toDS()).toDF(), "sessions", mem,
      Seq(batch1, batch2))
    val u1 = out.filter(_.getAs[Long]("user_id") == 1L)
      .map(r => (r.getAs[Long]("n_events"), r.getAs[Long]("start_us"), r.getAs[Long]("end_us")))
      .sortBy(_._2)
    assert(u1.length == 2, s"expected both user-1 sessions closed, got ${u1.mkString(",")}")
    assert(u1(0) == ((2L, 1L * 60000000L, 11L * 60000000L)))
    assert(u1(1) == ((1L, 61L * 60000000L, 61L * 60000000L)))
  }

  test("sessionizer survives late events below the watermark") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Event]
    val batches = Seq(
      Seq(Event(1, ts(1), 1, "click", 1.0)),
      Seq(Event(2, ts(500), 2, "view", 1.0)), // watermark jumps to ~490
      // late arrival for a NEW user far below the watermark: must be
      // dropped, not crash the query via a timeout in the past
      Seq(Event(3, ts(20), 3, "click", 1.0)),
      Seq(Event(4, ts(900), 2, "view", 1.0)))
    val out = runToCompletion(
      IngestStream.sessionize(mem.toDS()).toDF(), "late_sessions", mem, batches)
    // user 3's late event was dropped; users 1 and 2 session normally
    assert(!out.exists(_.getAs[Long]("user_id") == 3L))
    assert(out.exists(_.getAs[Long]("user_id") == 1L))
  }

  test("file-source stream over the real events table converges to the batch result") {
    import spark.implicits._
    // stream the actual parquet file (raw generator schema, same conversion
    // as Tables.events), aggregate in Complete mode, compare to the batch op
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    // the file source streams a directory: stage the table as one
    val dir = tempDir("graft_stream").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val stream = IngestStream.fromRaw(Tables.normalizeEventTs(
      spark.readStream.schema(raw.schema).parquet(dir)))
    val query = IngestStream.windowedCounts(stream)
      .writeStream.format("memory").queryName("file_win")
      .outputMode("complete").option("checkpointLocation", checkpoint()).start()
    try query.processAllAvailable() finally query.stop()
    val streamed = spark.table("file_win")
      .orderBy("window_start", "event_type").collect()
    val batch = graft.operators.Ingest.qWindowedCounts.run(spark, sfDir).collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  test("parquet sink + checkpoint: windows land exactly once across a restart") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Event]
    val outDir = tempDir("graft_sink").toString
    val ckDir = tempDir("graft_ck").toString
    def run(batches: Seq[Seq[Event]]): Unit = {
      val q = IngestStream.windowedCounts(IngestStream.dedupe(mem.toDS()))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckDir).outputMode("append").start()
      try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    // first incarnation: hour-0 clicks (with a duplicate PK), then an event
    // far enough ahead to close the hour-0 window into the sink
    run(Seq(
      Seq(Event(1, ts(5), 10, "click", 4.0), Event(2, ts(10), 10, "click", 6.0),
        Event(1, ts(5), 10, "click", 4.0)),
      Seq(Event(3, ts(200), 11, "view", 2.0))))
    // restart from the same checkpoint: advances the watermark further and
    // must NOT re-emit the already-committed hour-0 window
    run(Seq(Seq(Event(4, ts(400), 11, "view", 8.0))))
    val rows = spark.read.parquet(outDir).collect()
    val clicks = rows.filter(_.getAs[String]("event_type") == "click")
    assert(clicks.length == 1, s"hour-0 click window must land exactly once, got ${clicks.mkString(",")}")
    assert(clicks.head.getAs[Long]("n_events") == 2L, "dup PK must not count")
    val views = rows.filter(r => r.getAs[String]("event_type") == "view" &&
      r.getAs[Long]("n_events") == 1L)
    assert(views.nonEmpty, "restarted stream must keep emitting closed windows")
  }

  test("stream-stream interval join matches the batch range join on the same data") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val signupMem = MemoryStream[Event]
    val followMem = MemoryStream[Event]
    // two users; follow-ups inside and outside the 24h window (1440 min),
    // delivered out of order across micro-batches
    val signups = Seq(
      Event(100, ts(60), 1, "signup", 0.0),
      Event(101, ts(120), 2, "signup", 0.0))
    val follows = Seq(
      Event(200, ts(90), 1, "click", 1.0),      // inside u1 window
      Event(201, ts(50), 1, "click", 2.0),      // BEFORE signup -> excluded
      Event(202, ts(60 + 1440), 1, "view", 3.0),   // exactly +24h -> included (<=)
      Event(203, ts(61 + 1440), 1, "view", 4.0),   // past +24h -> excluded
      Event(204, ts(130), 2, "purchase", 5.0))  // inside u2 window
    val joined = IngestStream.followWithin24h(signupMem.toDS(), followMem.toDS())
    val query = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").option("checkpointLocation", checkpoint()).start()
    try {
      signupMem.addData(signups); query.processAllAvailable()
      followMem.addData(follows.take(2)); query.processAllAvailable()
      followMem.addData(follows.drop(2)); query.processAllAvailable()
    } finally query.stop()
    val got = spark.table("ss_join").collect()
      .map(r => (r.getAs[Long]("signup_id"), r.getAs[Long]("follow_id"))).toSet
    assert(got == Set((100L, 200L), (100L, 202L), (101L, 204L)), s"got $got")
  }

  test("stream-static enrichment attaches broadcast history to every event") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // static side: per-type history stats from the lake
    val history = Tables.events(spark, sfDir)
      .groupBy("event_type").agg(count(lit(1)).as("hist_n"))
    val mem = MemoryStream[Event]
    val events = Seq(
      Event(1, ts(5), 10, "click", 4.0),
      Event(2, ts(10), 11, "made_up_type", 6.0)) // no history -> null enrich
    val query = IngestStream.enrichWithHistory(mem.toDS(), history)
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").option("checkpointLocation", checkpoint()).start()
    try { mem.addData(events); query.processAllAvailable() } finally query.stop()
    val rows = spark.table("enriched").collect()
    assert(rows.length == 2)
    val expectClicks = history.filter(col("event_type") === "click")
      .collect()(0).getAs[Long]("hist_n")
    val byId = rows.map(r => r.getAs[Long]("event_id") ->
      Option(r.getAs[java.lang.Long]("hist_n"))).toMap
    assert(byId(1L).contains(expectClicks))
    assert(byId(2L).isEmpty, "unknown type must enrich to NULL, not drop")
  }

  test("fromRaw drops malformed (null-field) rows instead of crashing the decode") {
    val raw = Tables.events(spark, sfDir)
      .withColumn("value",
        when(col("event_id") % 6 === 0, lit(null: java.lang.Double))
          .otherwise(col("value")))
      .withColumn("user_id",
        when(col("event_id") % 11 === 0, lit(null: java.lang.Long))
          .otherwise(col("user_id")))
    val typed = IngestStream.fromRaw(raw)
    val expected = raw.filter(col("value").isNotNull && col("user_id").isNotNull).count()
    assert(typed.count() == expected)
    typed.collect() // the decode itself must not throw
  }

  test("streaming queue-state store converges to the batch current-state view") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // the real events table, streamed in 3 arbitrary micro-batches: the
    // final per-item state must equal the batch keep-latest view
    val evs = IngestStream.fromRaw(Tables.events(spark, sfDir)).collect().toSeq
    val batches = evs.grouped(evs.size / 3 + 1).toSeq
    val mem = MemoryStream[Event]
    val q = IngestStream.queueState(mem.toDS()).toDF().writeStream
      .format("memory").queryName("queue_state_stream")
      .outputMode("update").option("checkpointLocation", checkpoint()).start()
    try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    finally q.stop()
    // the memory sink appends each update: per item the final state is
    // the row with the max (monotonic) n_transitions
    val streamed = spark.table("queue_state_stream").collect()
      .groupBy(_.getAs[Long]("item_id"))
      .map { case (_, rs) => rs.maxBy(_.getAs[Long]("n_transitions")) }
    // apply the batch op's view-side 24h abandoned reset before comparing
    val mt = evs.map(e => e.ts.getTime * 1000 + (e.ts.getNanos / 1000) % 1000).max
    val got = streamed.map { r =>
      val status = r.getAs[String]("status")
      val atUs = r.getAs[Long]("last_change_us")
      val stale = status == "assigned" && atUs < mt - 86400000000L
      (r.getAs[Long]("item_id"),
        if (stale) "pending" else status,
        if (stale) None else Option(r.getAs[java.lang.Long]("assigned_to")).map(_.longValue),
        atUs, r.getAs[Long]("n_transitions"), stale)
    }.toSet
    val batch = graft.operators.Labeling.qQueueState.run(spark, sfDir).collect()
      .map { r =>
        (r.getAs[Long]("item_id"), r.getAs[String]("status"),
          Option(r.getAs[java.lang.Long]("assigned_to")).map(_.longValue),
          r.getAs[Long]("last_change_us"), r.getAs[Long]("n_transitions"),
          r.getAs[Boolean]("was_reset"))
      }.toSet
    assert(got == batch, "streaming state store diverges from batch view")
  }

  test("batch and streaming windowed-count plans share one definition") {
    import spark.implicits._
    // run the streaming transformation in batch mode over the real table
    val events = Tables.events(spark, sfDir).select(
      col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
    val viaStreamDef = IngestStream.windowedCounts(events)
      .orderBy("window_start", "event_type").collect()
    val batch = graft.operators.Ingest.qWindowedCounts.run(spark, sfDir).collect()
    assert(viaStreamDef.length == batch.length)
    viaStreamDef.zip(batch).foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  test("state-partition sizing: volume law, core clamp, conf restore (r15 — rule lives with the sinks)") {
    import graft.streaming.IngestStream
    val cores = spark.sparkContext.defaultParallelism
    // one partition per ~5k rows/trigger, floor 1, clamped to cores
    assert(IngestStream.statePartitionsFor(spark, 1) === 1)
    assert(IngestStream.statePartitionsFor(spark, 4999) === 1)
    assert(IngestStream.statePartitionsFor(spark, 5000) ===
      math.min(cores, 2))
    assert(IngestStream.statePartitionsFor(spark, 10 * 1000 * 1000) === cores)
    // withStatePartitions applies the sized count inside and restores after
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val inside = IngestStream.withStatePartitions(spark, 1)(spark.conf.get(key))
    assert(inside === "1")
    assert(spark.conf.get(key) === before)
    // a body that throws must still restore
    intercept[RuntimeException] {
      IngestStream.withStatePartitions(spark, 1)(
        throw new RuntimeException("boom"))
    }
    assert(spark.conf.get(key) === before)
  }
}
