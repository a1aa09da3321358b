package graft.operators

import graft.{Q, SessionCache, Tables}
import graft.functions.Det._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch ingestion + run-monitoring operators.
  *
  * Re-expresses the reference's pipeline/monitor layer
  * (src/ingestion/pipeline.py, src/ingestion/monitor.py): idempotent
  * incremental ingest (INSERT OR IGNORE ≙ left-anti join), ingest metrics
  * (dedup rate), run-over-run deltas, z-score anomaly detection, and
  * data-quality metrics vs a global baseline. The streaming twin lives in
  * graft.streaming.
  */
object Ingest {

  /** Idempotent incremental ingest (db_manager.insert_reviews_bulk:178,
    * INSERT OR IGNORE): the incoming batch left-anti joined against
    * already-ingested keys. Simulated cohorts: existing = even event_ids,
    * incoming = event_ids divisible by 3.
    */
  val qIncrementalIngest: Q = Q(
    "q_incremental_ingest",
    """SELECT e.event_id, e.event_type, e.user_id
      |FROM events e
      |WHERE e.event_id % 3 = 0
      |  AND NOT EXISTS (SELECT 1 FROM events x
      |                  WHERE x.event_id % 2 = 0 AND x.event_id = e.event_id)
      |ORDER BY e.event_id""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
    val incoming = ev.filter(col("event_id") % 3 === 0)
    val existing = ev.filter(col("event_id") % 2 === 0).select("event_id")
    incoming
      .join(existing, Seq("event_id"), "left_anti")
      .select("event_id", "event_type", "user_id")
      .orderBy("event_id")
  }

  /** Per-run ingest metrics (monitor._compute_metrics:127): fetched /
    * skipped / inserted counts and the dedup rate.
    */
  val qIngestMetrics: Q = Q(
    "q_ingest_metrics",
    s"""SELECT COUNT(*) AS fetched,
       |  CAST(SUM(already) AS BIGINT) AS skipped,
       |  COUNT(*) - CAST(SUM(already) AS BIGINT) AS inserted,
       |  ${exactDivSql("100 * SUM(already)", "COUNT(*)", 2)} AS dedup_rate_pct
       |FROM (SELECT CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS already
       |      FROM events WHERE event_id % 3 = 0) t""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .filter(col("event_id") % 3 === 0)
      .select(when(col("event_id") % 2 === 0, 1).otherwise(0).as("already"))
      .agg(
        count(lit(1)).as("fetched"),
        sum(col("already")).as("skipped"),
        (count(lit(1)) - sum(col("already"))).as("inserted"),
        exactDiv(lit(100) * sum(col("already")), count(lit(1)), 2).as("dedup_rate_pct"))
  }

  /** Run-over-run deltas (monitor._compute_deltas:155): lag + pct change
    * over the daily rollup. The window is over the already-aggregated tiny
    * result, so the unpartitioned sort is safe at any input scale.
    */
  val qRunDeltas: Q = Q(
    "q_run_deltas",
    s"""WITH dly AS (
       |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, COUNT(*) AS cnt
       |  FROM events GROUP BY 1),
       |lg AS (
       |  SELECT day, cnt, lag(cnt) OVER (ORDER BY day) AS prev_cnt FROM dly)
       |SELECT day, cnt, prev_cnt,
       |  ${exactDivSql("100 * (cnt - prev_cnt)", "prev_cnt", 2)} AS pct_change
       |FROM lg ORDER BY day""".stripMargin
  ) { (s, d) =>
    // deliberately UNpartitioned window (Spark warns "moving all data to a
    // single partition"): its input is the day-grain aggregate — O(#days)
    // rows at ANY corpus size — and run-over-run lag is inherently a total
    // order over runs. The heavy data was already reduced by the groupBy.
    val w = Window.orderBy("day")
    Tables.events(s, d)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("prev_cnt", lag(col("cnt"), 1).over(w))
      .withColumn("pct_change",
        exactDiv(lit(100) * (col("cnt") - col("prev_cnt")), col("prev_cnt"), 2))
      .orderBy("day")
  }

  /** Rolling z-score anomaly detection (monitor._detect_anomalies:276,
    * _deviation:628). Stdev is derived from exact integer sums
    * (Σx, Σx²) so the flag is deterministic at any parallelism.
    */
  val qAnomalyZscore: Q = Q(
    "q_anomaly_zscore",
    s"""WITH dly AS (
      |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, COUNT(*) AS cnt
      |  FROM events GROUP BY 1),
      |s AS (
      |  SELECT COUNT(*) AS nd, CAST(SUM(cnt) AS HUGEINT) AS sc,
      |         CAST(SUM(CAST(cnt AS HUGEINT) * cnt) AS HUGEINT) AS sc2 FROM dly)
      |SELECT day, cnt,
      |  ${graft.functions.Det.zScoreSql("cnt", "sc", "sc2", "nd")}
      |    AS zscore,
      |  CAST(CASE WHEN ${graft.functions.Det.zOutlierSql("cnt", "sc", "sc2", "nd", 2)}
      |    THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
      |FROM dly, s ORDER BY day""".stripMargin
  ) { (s, d) =>
    val dly = Tables.events(s, d)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("cnt"))
    // int128/decimal squares: long·long would silently wrap at lake scale
    // while the oracle's BIGINT multiply errors — keep both exact instead
    val stats = dly.agg(
      count(lit(1)).as("nd"),
      sum(col("cnt")).cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("sc"),
      sum(col("cnt").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * col("cnt"))
        .as("sc2"))
    // exact-moment z + outlier test (Det.zScore/zOutlier — shared with
    // the alerts rolling-window rule): cancellation stays in decimal
    val z = graft.functions.Det.zScore(col("cnt"), col("sc"), col("sc2"), col("nd"))
    dly.crossJoin(broadcast(stats))
      .select(
        col("day"), col("cnt"),
        // RAW double, no ROUND: z is computed in identical association
        // order on both engines so the doubles are bit-identical, while
        // round(double, 3) diverges at 4th-decimal ties (Spark rounds
        // the shortest decimal string, DuckDB the binary value — the
        // Det scaladoc's documented trap); display rounding is a
        // consumer choice, parity is ours
        z.as("zscore"),
        when(graft.functions.Det.zOutlier(
          col("cnt"), col("sc"), col("sc2"), col("nd"), 2), 1)
          .otherwise(0).as("is_anomaly"))
      .orderBy("day")
  }

  /** Per-cohort data-quality metrics vs global baseline
    * (monitor._compute_data_quality:211): empty-content rate and average
    * length per source, with the delta against the whole corpus.
    */
  val qQualityMetrics: Q = Q(
    "q_quality_metrics",
    s"""WITH base AS (
       |  SELECT COUNT(*) AS bt, CAST(SUM(n_chars) AS BIGINT) AS bs FROM documents),
       |grp AS (
       |  SELECT source, COUNT(*) AS total,
       |    CAST(SUM(CASE WHEN text = '' THEN 1 ELSE 0 END) AS BIGINT) AS empty_cnt,
       |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       |  FROM documents GROUP BY source)
       |SELECT source, total, empty_cnt,
       |  ${exactDivSql("empty_cnt", "total", 4)} AS empty_rate,
       |  ${exactDivSql("sum_chars", "total", 1)} AS avg_len,
       |  ${exactDivSql("CAST(sum_chars AS HUGEINT) * bt - CAST(bs AS HUGEINT) * total",
                        "CAST(total AS HUGEINT) * bt", 1)} AS avg_len_delta
       |FROM grp, base ORDER BY source""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val base = docs.agg(count(lit(1)).as("bt"), sum(col("n_chars")).as("bs"))
    docs.groupBy("source")
      .agg(
        count(lit(1)).as("total"),
        sum(when(col("text") === "", 1).otherwise(0)).as("empty_cnt"),
        sum(col("n_chars")).as("sum_chars"))
      .crossJoin(broadcast(base))
      .select(col("source"), col("total"), col("empty_cnt"),
        exactDiv(col("empty_cnt"), col("total"), 4).as("empty_rate"),
        exactDiv(col("sum_chars"), col("total"), 1).as("avg_len"),
        // S1/n1 - S2/n2 as one exact rational: (S1·n2 - S2·n1)/(n1·n2);
        // decimal operands so the cross-products cannot overflow long
        exactDiv(col("sum_chars").cast(org.apache.spark.sql.types.DecimalType(38, 0))
            * col("bt") - col("bs").cast(org.apache.spark.sql.types.DecimalType(38, 0))
            * col("total"),
          col("total").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * col("bt"), 1)
          .as("avg_len_delta"))
      .orderBy("source")
  }

  /** Run-over-run event-mix drift (the distribution-shift monitor a
    * continuously-fed lake needs on top of the reference's per-run volume
    * checks — a scraper that silently starts returning a different mix
    * of event types passes every count threshold while changing the
    * corpus): per ingest run (day), the TOTAL-VARIATION distance between
    * this run's event-type distribution and the previous run's, plus the
    * types that appeared/vanished. TV on purpose rather than PSI/KL: TV
    * = Σ|c·m − d·n| / (2·n·m) is a single division of exactly-computed
    * integers (the [[qAgreement]] rule) where PSI/KL need a libm log()
    * that can differ in the last ulp between engines — and TV's [0, 1]
    * range makes the alert threshold corpus-independent. The first run
    * has no baseline: its drift columns are NULL, not 0 (the
    * three-valued-verdict principle — "no baseline" must not read as
    * "no drift").
    *
    * Scale shape (100 TB): ONE map-side-combined (run, type) count
    * shuffle over the event stream; everything after is
    * post-aggregation grain (runs × types), where the unpartitioned
    * row_number window and the run-shifted full-outer self-join are
    * tiny by construction (the [[qBudgetSelect]] block-offset rule).
    * Decimal cross-products: c·m at lake scale is ~10^24 — a long
    * multiply would silently wrap where the oracle's HUGEINT errors
    * ([[qAnomalyZscore]]'s rule), so both sides stay exact.
    */
  val qRunDrift: Q = Q(
    "q_run_drift",
    s"""WITH c AS (
       |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS run_id,
       |    event_type, COUNT(*) AS c
       |  FROM events GROUP BY 1, 2),
       |days AS (
       |  SELECT run_id, row_number() OVER (ORDER BY run_id) AS rn
       |  FROM (SELECT DISTINCT run_id FROM c)),
       |tot AS (SELECT run_id, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1),
       |tt AS (
       |  SELECT d.rn, t.n, tp.n AS np
       |  FROM days d JOIN tot t USING (run_id)
       |  LEFT JOIN days dp ON dp.rn = d.rn - 1
       |  LEFT JOIN tot tp ON tp.run_id = dp.run_id),
       |cr AS (SELECT c.event_type, c.c, d.rn
       |       FROM c JOIN days d USING (run_id)),
       |pairs AS (
       |  SELECT COALESCE(a.rn, b.rn + 1) AS rn, a.c AS c, b.c AS cp
       |  FROM cr a FULL OUTER JOIN cr b
       |    ON a.event_type = b.event_type AND a.rn = b.rn + 1),
       |agg AS (
       |  SELECT p.rn,
       |    CAST(SUM(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_types,
       |    CAST(SUM(CASE WHEN c IS NOT NULL AND cp IS NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS new_t,
       |    CAST(SUM(CASE WHEN cp IS NOT NULL AND c IS NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS gone_t,
       |    SUM(ABS(CAST(COALESCE(c, 0) AS HUGEINT) * COALESCE(np, 0)
       |      - CAST(COALESCE(cp, 0) AS HUGEINT) * n)) AS num
       |  FROM pairs p JOIN tt USING (rn) GROUP BY 1)
       |SELECT d.run_id, tt.n AS n_events, agg.n_types,
       |  CASE WHEN tt.np IS NULL THEN NULL ELSE
       |    ${exactDivSql("num", "2 * CAST(tt.n AS HUGEINT) * tt.np", 4)} END
       |    AS tv_drift,
       |  CASE WHEN tt.np IS NULL THEN NULL ELSE new_t END AS n_new_types,
       |  CASE WHEN tt.np IS NULL THEN NULL ELSE gone_t END AS n_gone_types
       |FROM agg JOIN tt USING (rn) JOIN days d USING (rn)
       |ORDER BY d.run_id""".stripMargin
  ) { (s, d) =>
    driftOf(Tables.events(s, d)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("run_id"),
        col("event_type"))
      .agg(count(lit(1)).as("c")))
  }

  /** The drift arithmetic over a (run_id, event_type, c) count frame —
    * ONE definition consumed by [[qRunDrift]] (counts from the event
    * lake) and the streaming [[graft.streaming.IngestStream.driftSink]]
    * (counts from the advancing store), so the TV rule cannot drift
    * between modes. Input is post-aggregation grain (runs × types);
    * everything here is tiny by construction.
    */
  private[graft] def driftOf(c: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // post-aggregation grain from here on: runs × types
    val days = c.select("run_id").distinct()
      .withColumn("rn", row_number().over(Window.orderBy("run_id")))
    val tot = c.groupBy("run_id").agg(sum("c").cast("long").as("n"))
    val tt = days.join(tot, "run_id")
      .join(days.select((col("rn") + 1).as("rn"), col("run_id").as("prev_run")),
        Seq("rn"), "left")
      .join(tot.select(col("run_id").as("prev_run"), col("n").as("np")),
        Seq("prev_run"), "left")
      .select("rn", "run_id", "n", "np")
    val cr = c.join(days, "run_id").select("rn", "event_type", "c")
    val pairs = cr
      .join(cr.select((col("rn") + 1).as("rn"), col("event_type"),
        col("c").as("cp")), Seq("rn", "event_type"), "full")
      .select(col("rn"), col("c"), col("cp"))
    val agg = pairs.join(tt, Seq("rn"))
      .groupBy("rn").agg(
        sum(when(col("c").isNotNull, 1L).otherwise(0L)).as("n_types"),
        sum(when(col("c").isNotNull && col("cp").isNull, 1L).otherwise(0L))
          .as("new_t"),
        sum(when(col("cp").isNotNull && col("c").isNull, 1L).otherwise(0L))
          .as("gone_t"),
        sum(abs(coalesce(col("c"), lit(0L)).cast(dec)
          * coalesce(col("np"), lit(0L))
          - coalesce(col("cp"), lit(0L)).cast(dec) * col("n"))).as("num"))
    agg.join(tt, Seq("rn"))
      .select(col("run_id"), col("n").as("n_events"), col("n_types"),
        when(col("np").isNull, lit(null))
          .otherwise(exactDiv(col("num"),
            lit(2).cast(dec) * col("n") * col("np"), 4)).as("tv_drift"),
        when(col("np").isNull, lit(null)).otherwise(col("new_t"))
          .as("n_new_types"),
        when(col("np").isNull, lit(null)).otherwise(col("gone_t"))
          .as("n_gone_types"))
      .orderBy("run_id")
  }

  /** Tumbling-window counts — the batch-equivalent oracle for the
    * Structured Streaming windowed aggregation in graft.streaming (same
    * semantics on the same data, verifiable in SQL).
    */
  val qWindowedCounts: Q = Q(
    "q_windowed_counts",
    s"""SELECT date_trunc('hour', ts) AS window_start, event_type,
       |  COUNT(*) AS n_events,
       |  ${exactAvgSql("value", 2, 4)} AS avg_value
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), exactAvg(col("value"), 2, 4).as("avg_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("avg_value"))
      .orderBy("window_start", "event_type")
  }

  /** Shared gaps-and-islands CTEs: per-EVENT session assignment (30-min
    * inactivity gap), consumed by [[qSessionize]] (session grain) and
    * [[qSessionLedger]] (session lifecycle) so the two cannot drift.
    */
  private val sessionizedSql =
    """e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
      |x AS (
      |  SELECT user_id, event_id, tus,
      |    CASE WHEN lag(tus) OVER w IS NULL
      |           OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      |y AS (
      |  SELECT user_id, event_id, tus,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |                        ROWS UNBOUNDED PRECEDING) AS session_no
      |  FROM x)""".stripMargin

  /** Per-event session assignment: (user_id, event_id, tus, session_no).
    * One keyed window shuffle, persisted once per (session, dir) in
    * [[graft.SessionCache]]: [[qSessionize]], [[qSessionStats]] and
    * [[qSessionLedger]] aggregate the narrow 4-long cached frame on the
    * same (user_id) clustering instead of re-paying the window pass.
    */
  private[graft] def sessionizedEvents(s: org.apache.spark.sql.SparkSession, d: String) =
    SessionCache.persisted(s, d, "session_frame") {
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"))
        .withColumn("new_sess",
          when(lag(col("tus"), 1).over(w).isNull ||
            col("tus") - lag(col("tus"), 1).over(w) > 1800000000L, 1).otherwise(0))
        .withColumn("session_no",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("user_id", "event_id", "tus", "session_no")
    }

  /** Gap-based sessionization (30-min inactivity) via gaps-and-islands —
    * the batch twin of the stateful streaming sessionizer. Timestamp
    * arithmetic in exact epoch-µs integers.
    */
  val qSessionize: Q = Q(
    "q_sessionize",
    s"""WITH $sessionizedSql
       |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       |  COUNT(*) AS n_events, MIN(tus) AS start_us, MAX(tus) AS end_us
       |FROM y GROUP BY user_id, session_no
       |ORDER BY user_id, session_no""".stripMargin
  ) { (s, d) =>
    sessionizedEvents(s, d)
      .groupBy("user_id", "session_no")
      .agg(count(lit(1)).as("n_events"), min(col("tus")).as("start_us"),
        max(col("tus")).as("end_us"))
      .orderBy("user_id", "session_no")
  }

  /** Labeling-session lifecycle ledger (db_manager.start_label_session:
    * 754, complete_label_session:764, abandon_label_session:783;
    * label_sessions in schema.sql): the reference's session rows are
    * INSERT-then-UPDATE state; a lake derives the same ledger from the
    * event stream — sessions come from the shared gap sessionizer,
    * labels-created/skipped from the queue ops' id-arithmetic status
    * convention (event_id % 3 = 1 → completed label, = 2 → skipped).
    * Lifecycle: a session still inside the 30-min gap horizon of the
    * stream's end CANNOT have provably ended — reported `active` with
    * NULL completed_us (the reference's pre-complete state); ended
    * sessions with zero labels created are `abandoned` (quit early),
    * the rest `completed`. avg_time_per_label is an exact integer
    * division, NULL for zero labels in both engines.
    */
  /** The session-ledger CTE text shared by [[qSessionLedger]] and
    * [[qReportSessions]] — one definition, two reads (the
    * [[graft.operators.Curation]] stagedFlags principle).
    */
  private def sessionLedgerSql: String =
    s"""WITH $sessionizedSql,
       |sess AS (
       |  SELECT user_id, session_no, COUNT(*) AS n_events,
       |    MIN(tus) AS started_us, MAX(tus) AS end_us,
       |    CAST(SUM(CASE WHEN event_id % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS labels_created,
       |    CAST(SUM(CASE WHEN event_id % 3 = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS labels_skipped
       |  FROM y GROUP BY 1, 2),
       |mx AS (SELECT MAX(tus) AS mt FROM e),
       |ledger AS (
       |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       |  user_id % 7 AS annotator, n_events, started_us,
       |  CASE WHEN end_us > mt - 1800000000 THEN NULL ELSE end_us END
       |    AS completed_us,
       |  CASE WHEN end_us > mt - 1800000000 THEN 'active'
       |       WHEN labels_created > 0 THEN 'completed'
       |       ELSE 'abandoned' END AS status,
       |  labels_created, labels_skipped,
       |  ${exactDivSql("end_us - started_us",
                        "labels_created + labels_skipped", 0)}
       |    AS avg_time_per_label_us
       |FROM sess, mx)""".stripMargin

  /** The ledger frame behind both session reports — reads the memoized
    * session frame once; consumers add only their presentation cut.
    */
  private def sessionLedgerFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val sess = sessionizedEvents(s, d)
      .groupBy("user_id", "session_no")
      .agg(
        count(lit(1)).as("n_events"),
        min("tus").as("started_us"), max("tus").as("end_us"),
        sum(when(col("event_id") % 3 === 1, 1).otherwise(0)).as("labels_created"),
        sum(when(col("event_id") % 3 === 2, 1).otherwise(0)).as("labels_skipped"))
    val mx = Tables.events(s, d).agg(max(unix_micros(col("ts"))).as("mt"))
    val active = col("end_us") > col("mt") - lit(1800000000L)
    sess.crossJoin(broadcast(mx))
      .select(
        col("user_id"), col("session_no"),
        (col("user_id") % 7).as("annotator"), col("n_events"),
        col("started_us"),
        when(active, lit(null)).otherwise(col("end_us")).as("completed_us"),
        when(active, "active")
          .when(col("labels_created") > 0, "completed")
          .otherwise("abandoned").as("status"),
        col("labels_created"), col("labels_skipped"),
        exactDiv(col("end_us") - col("started_us"),
          col("labels_created") + col("labels_skipped"), 0)
          .as("avg_time_per_label_us"))
  }

  val qSessionLedger: Q = Q(
    "q_session_ledger",
    s"""$sessionLedgerSql
       |SELECT * FROM ledger ORDER BY user_id, session_no""".stripMargin
  ) { (s, d) =>
    sessionLedgerFrame(s, d).orderBy("user_id", "session_no")
  }

  /** Recent-labeling-sessions report (labeling/reporter.py:181
    * report_sessions; db_manager.py:794 get_recent_sessions — ORDER BY
    * session_id DESC LIMIT 10): the newest 10 ledger rows, newest =
    * session creation order (started_us, with the (user_id, session_no)
    * tiebreak for a total order — the reference's monotonic session_id
    * doesn't exist in a lake, where sessions are derived, not assigned).
    *
    * Scale shape: the [[qRunHistory]] contract applied to sessions — the
    * last-10 cut compiles to TakeOrderedAndProject (per-partition top-k
    * then merge, plan-guarded), never a full ledger sort, and the ledger
    * itself reads the ONE memoized session frame.
    */
  val qReportSessions: Q = Q(
    "q_report_sessions",
    s"""$sessionLedgerSql
       |SELECT * FROM ledger
       |ORDER BY started_us DESC, user_id DESC, session_no DESC
       |LIMIT 10""".stripMargin
  ) { (s, d) =>
    sessionLedgerFrame(s, d)
      .orderBy(col("started_us").desc, col("user_id").desc,
        col("session_no").desc)
      .limit(10)
  }

  /** Semi-structured payload extraction: the event props JSON parsed with
    * an explicit schema (from_json — typed, codegen'd, no sampling-based
    * inference) and rolled up per type. The reference stores raw payload
    * dicts on every scraped review; this is the Spark-native typed-access
    * path. Oracle mirrors the fixed format with a regexp extract.
    */
  val qPropsExtract: Q = Q(
    "q_props_extract",
    // the oracle parses REAL JSON (DuckDB json extension), mirroring
    // from_json's strictness exactly: only an integral JSON number parses
    // (doubles/strings/missing/malformed/null → NULL) — no brittle
    // fixed-serialization regexp that drifts when the generator changes.
    // DUPLICATE-KEY payloads read NULL on BOTH sides (r6 ADVICE, verified
    // divergent on a crafted lake first: Spark's from_json struct takes
    // the LAST duplicate instance, DuckDB's path extraction the FIRST —
    // '{"k": 1, "k": 2}' read 2 vs 1. Which instance "wins" in a
    // contract-violating payload is engine lottery, so neither does.)
    s"""SELECT event_type, COUNT(*) AS n_events,
       |  CAST(MIN(k) AS BIGINT) AS min_k, CAST(MAX(k) AS BIGINT) AS max_k,
       |  ${intAvgSql("k", 2)} AS avg_k
       |FROM (SELECT event_type,
       |        CASE WHEN props IS NULL OR NOT json_valid(props) THEN NULL
       |             WHEN len(json_keys(props)) <>
       |                  len(list_distinct(json_keys(props))) THEN NULL
       |             WHEN json_type(props, '$$.k') IN ('BIGINT', 'UBIGINT')
       |             THEN TRY_CAST(json_extract_string(props, '$$.k') AS INTEGER)
       |             ELSE NULL END AS k
       |      FROM events)
       |GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    // ONE kernel pass (graft.functions.JsonIntKernel, r14) — replaces TWO
    // Jackson parses per row: the dup-key MAP parse plus the typed STRUCT
    // parse (measured 2.7 s each per 1M-event scan at sf1, the query's
    // whole cost). The kernel's contract — dup-key → NULL, strict
    // integral-only typing, Jackson-defaults acceptance grammar — is
    // pinned payload-class-by-payload-class against the exact two-parse
    // form it replaces (JsonIntKernel spec + the crafted-lake props spec)
    val k = graft.functions.GraftFunctions.call("graft_json_int", col("props"), lit("k"))
    Tables.events(s, d)
      .select(col("event_type"), k.as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        min("k").cast("long").as("min_k"), max("k").cast("long").as("max_k"),
        intAvg(col("k"), 2).as("avg_k"))
      .orderBy("event_type")
  }

  /** Semi-structured payload SCHEMA profile — the schema-drift monitor
    * for the JSON props channel ([[qPropsExtract]] reads the keys the
    * pipeline EXPECTS; this reports the keys that actually ARRIVE — a
    * scraper that renames or adds a payload field changes nothing the
    * typed extraction sees until its column silently goes all-NULL):
    * per payload key, how many EVENTS carry it, its presence rate over
    * ALL events (malformed/null props count in the denominator — a
    * payload that stops parsing must DROP the rate, not vanish from
    * it), and the distinct-value count. Values compare in their
    * unquoted scalar string form, in which the engines agree on every
    * probed class (integers, canonicalized floats — both print 1.50 as
    * 1.5 — booleans, unquoted strings, compact nested object/array
    * text; crafted-lake verified).
    *
    * DUPLICATE-instance contract (r6 ADVICE, crafted-lake verified
    * divergent before the fix): presence counts EVENTS carrying the key
    * (once each — Spark's from_json map preserves duplicate entries and
    * DuckDB's json_keys enumerates them, so instance-grain counting
    * agreed only by accident of the corpus), and an event whose payload
    * repeats the key contributes NULL to the value domain — DuckDB's
    * path extraction can only read the FIRST instance while Spark's map
    * carries both, so picking any instance is engine lottery; the
    * monitor reports the key's presence and refuses to pick.
    *
    * Scale shape: the per-event key dedup folds into the explode-side
    * aggregate at (event, key) grain (map-side combinable, bounded by
    * payload width), then the (key) rollup — payload keys are few
    * (schema grain), so the output is post-aggregation-tiny and the
    * global denominator rides a broadcast 1-row aggregate (the
    * [[qQualityMetrics]] pattern).
    */
  val qPropsSchema: Q = Q(
    "q_props_schema",
    s"""WITH tot AS (SELECT COUNT(*) AS n FROM events),
       |kv AS (
       |  SELECT e.event_id, k AS key,
       |    -- QUOTED path segment (escaping embedded quotes): a naive
       |    -- '$$.' || k navigates a dotted/bracketed arriving key as
       |    -- nested structure and reads NULL where Spark's from_json
       |    -- map reads the literal key — and contract-violating keys
       |    -- are exactly what this schema-drift monitor exists to see
       |    json_extract_string(e.props,
       |      '$$."' || replace(k, '"', '\\"') || '"') AS v
       |  FROM (SELECT event_id, props FROM events
       |        WHERE props IS NOT NULL AND json_valid(props)) e,
       |       UNNEST(json_keys(e.props)) AS t(k)),
       |ek AS (
       |  SELECT key, CASE WHEN COUNT(*) > 1 THEN NULL ELSE MIN(v) END AS v
       |  FROM kv GROUP BY event_id, key)
       |SELECT key, COUNT(*) AS n_present,
       |  ${exactDivSql("COUNT(*)", "tot.n", 4)} AS present_rate,
       |  COUNT(DISTINCT v) AS n_distinct_values
       |FROM ek, tot GROUP BY key, tot.n ORDER BY key""".stripMargin
  ) { (s, d) =>
    val tot = Tables.events(s, d).agg(count(lit(1)).as("n"))
    Tables.events(s, d)
      .select(col("event_id"), explode(from_json(col("props"),
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType))).as(Seq("key", "v")))
      // (event, key) grain: one presence per event; a duplicated key's
      // value is NULL by contract (see scaladoc). min() — not first() —
      // for determinism at any parallelism; with exactly one instance it
      // IS that instance's value, and v=NULL single instances stay NULL.
      .groupBy("event_id", "key")
      .agg(when(count(lit(1)) > 1, lit(null)).otherwise(min(col("v"))).as("v"))
      .groupBy("key")
      .agg(count(lit(1)).as("n_present"),
        countDistinct(col("v")).as("n_distinct_values"))
      .crossJoin(broadcast(tot))
      .select(col("key"), col("n_present"),
        exactDiv(col("n_present"), col("n"), 4).as("present_rate"),
        col("n_distinct_values"))
      .orderBy("key")
  }

  /** Run-tracking ledger (db_manager.start_scrape_run:266,
    * complete_scrape_run:295, scrape_runs in schema.sql:83; monitor.py
    * reads its history from this table): the run-lifecycle record the
    * reference keeps as row UPDATEs, re-expressed event-sourced — a lake
    * has no UPDATE, so the ledger is DERIVED from the event stream, one
    * aggregation pass at run grain (runs = daily scrape cohorts, the
    * grain q_run_deltas already reports on). Lifecycle simulation is id
    * arithmetic like the queue ops: event_id % 97 == 0 plays a failed
    * fetch. Status follows the schema's enum: the latest run is still
    * `running` (open-ended, completed_at NULL — exactly the reference's
    * pre-complete state), earlier runs are `completed` / `partial` /
    * `failed` by their failure share. Timestamps stay in exact epoch-µs
    * integers; the only window runs over the run-grain aggregate
    * (O(#days) rows, the qRunDeltas contract).
    */
  val qRunLedger: Q = Q(
    "q_run_ledger",
    s"""WITH runs AS (
       |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS run_id,
       |    MIN(epoch_us(ts)) AS started_us,
       |    MAX(epoch_us(ts)) AS ended_us,
       |    COUNT(*) AS fetched,
       |    CAST(SUM(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS failed,
       |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS apps_processed
       |  FROM events GROUP BY 1),
       |mx AS (SELECT MAX(run_id) AS last_run FROM runs)
       |SELECT run_id, started_us,
       |  CASE WHEN run_id = last_run THEN NULL ELSE ended_us END AS completed_us,
       |  CASE WHEN run_id = last_run THEN NULL
       |       ELSE ended_us - started_us END AS duration_us,
       |  CASE WHEN run_id = last_run THEN 'running'
       |       WHEN failed = 0 THEN 'completed'
       |       WHEN failed < fetched THEN 'partial'
       |       ELSE 'failed' END AS status,
       |  fetched, fetched - failed AS inserted, failed, apps_processed
       |FROM runs, mx ORDER BY run_id""".stripMargin
  ) { (s, d) => runLedgerFrame(s, d).drop("skipped").orderBy("run_id") }

  /** THE run-ledger frame (unordered, plus the `skipped` count the
    * history view's dedup rate needs): derives from the shared
    * [[runCounts]] (run × app) cells — the one statement of the
    * fetched/failed conventions; count(app_id) over the cells ≡ the
    * countDistinct(event_type) it replaces (NULL app excluded), and the
    * cell-grain partial aggregation makes the extra rollup
    * O(#runs · #apps) traffic. Shared by [[qRunLedger]] (full history,
    * run_id order) and [[qRunHistory]] (last-N read) so the
    * status/duration/insert conventions cannot drift between them.
    */
  private def runLedgerFrame(s: org.apache.spark.sql.SparkSession, d: String) = {
    val runs = runCounts(Tables.events(s, d),
        date_format(col("ts"), "yyyy-MM-dd").as("run_id"),
        col("event_type").as("app_id"))
      .groupBy("run_id")
      .agg(
        min(col("started_us")).as("started_us"),
        max(col("ended_us")).as("ended_us"),
        sum(col("fetched")).cast("long").as("fetched"),
        sum(col("skipped")).cast("long").as("skipped"),
        sum(col("error_cnt")).cast("long").as("failed"),
        count(col("app_id")).as("apps_processed"))
    val mx = runs.agg(max("run_id").as("last_run"))
    val open = col("run_id") === col("last_run")
    runs.crossJoin(broadcast(mx))
      .select(
        col("run_id"), col("started_us"),
        when(open, lit(null)).otherwise(col("ended_us")).as("completed_us"),
        when(open, lit(null)).otherwise(col("ended_us") - col("started_us"))
          .as("duration_us"),
        when(open, "running")
          .when(col("failed") === 0, "completed")
          .when(col("failed") < col("fetched"), "partial")
          .otherwise("failed").as("status"),
        col("fetched"), (col("fetched") - col("failed")).as("inserted"),
        col("failed"), col("skipped"), col("apps_processed"))
  }

  /** Run-history report (reporter.report_run_history:90 — the last-N-runs
    * table an operator reads daily): the newest 10 ledger rows with the
    * derived per-run rates the report prints — reviews_per_app
    * (reference's reviews_per_app column) and the run's dedup rate
    * (skipped/fetched, the qIngestMetrics convention). Zero-denominator
    * divisions are NULL in both engines ([[graft.functions.Det.exactDiv]]).
    *
    * Scale shape: the ledger aggregate is O(#runs) rows; the last-10 cut
    * compiles to TakeOrderedAndProject (per-partition top-k then merge —
    * plan-guarded, no global sort even at a million-run history).
    */
  val qRunHistory: Q = Q(
    "q_run_history",
    s"""WITH runs AS (
       |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS run_id,
       |    MIN(epoch_us(ts)) AS started_us,
       |    MAX(epoch_us(ts)) AS ended_us,
       |    COUNT(*) AS fetched,
       |    CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS skipped,
       |    CAST(SUM(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS failed,
       |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS apps_processed
       |  FROM events GROUP BY 1),
       |mx AS (SELECT MAX(run_id) AS last_run FROM runs)
       |SELECT run_id, started_us,
       |  CASE WHEN run_id = last_run THEN NULL ELSE ended_us END AS completed_us,
       |  CASE WHEN run_id = last_run THEN NULL
       |       ELSE ended_us - started_us END AS duration_us,
       |  CASE WHEN run_id = last_run THEN 'running'
       |       WHEN failed = 0 THEN 'completed'
       |       WHEN failed < fetched THEN 'partial'
       |       ELSE 'failed' END AS status,
       |  fetched, fetched - failed AS inserted, failed, apps_processed,
       |  ${exactDivSql("fetched", "apps_processed", 2)} AS reviews_per_app,
       |  ${exactDivSql("skipped", "fetched", 4)} AS dedup_rate
       |FROM runs, mx ORDER BY run_id DESC LIMIT 10""".stripMargin
  ) { (s, d) =>
    runLedgerFrame(s, d)
      .withColumn("reviews_per_app",
        exactDiv(col("fetched"), col("apps_processed"), 2))
      .withColumn("dedup_rate", exactDiv(col("skipped"), col("fetched"), 4))
      .drop("skipped")
      .orderBy(col("run_id").desc)
      .limit(10)
  }

  /** Row-grain scrape provenance (db_manager.log_review_scrape_bulk:488 +
    * review_scrape_log, schema.sql:111 — the (review_id × run_id) junction
    * the reference keeps so "which run first brought this row" is a read,
    * not a recompute; the last reference table without a dedicated
    * operator, r6 verdict item 4). The lake modeling: a review identity is
    * the stable (user, app) pair — the ledger family's app = event_type
    * convention — each event row is one scrape OBSERVATION of that review,
    * and run = ingest day (the qRunDeltas/qRunLedger grain). The log is
    * then the DISTINCT (review, run) set (INSERT OR IGNORE on the
    * composite PK ≙ distinct), and this operator is its row-grain
    * provenance read: first_run_id per review via ONE keyed min-aggregate,
    * plus the re-scrape footprint (n_runs, n_observations) the log exists
    * to answer.
    *
    * Scale shape: one map-side-combinable aggregate at review grain —
    * count(DISTINCT day) carries days as a partial set at ≤30 values per
    * key here and bounded by the run count generally (Spark expands it to
    * a two-level aggregate, no join, no window).
    */
  val qScrapeProvenance: Q = Q(
    "q_scrape_provenance",
    """SELECT user_id, event_type AS app_id,
      |  MIN(strftime(CAST(ts AS DATE), '%Y-%m-%d')) AS first_run_id,
      |  MAX(strftime(CAST(ts AS DATE), '%Y-%m-%d')) AS last_run_id,
      |  CAST(COUNT(DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d')) AS BIGINT)
      |    AS n_runs,
      |  COUNT(*) AS n_observations
      |FROM events GROUP BY 1, 2 ORDER BY user_id, app_id""".stripMargin
  ) { (s, d) =>
    // run ids aggregate at DATE grain and format at OUTPUT grain (r14,
    // guide §2.3 — narrower types through the distinct/min/max
    // machinery: the two-level countDistinct expansion shuffles 4-byte
    // dates instead of 10-byte strings, and min/max compare ints).
    // Exact: 'yyyy-MM-dd' is order-isomorphic with the date and
    // bijective on the domain, so min/max/countDistinct commute with
    // the formatting. Measured 3.72 → 2.34 s at sf1.
    Tables.events(s, d)
      .select(col("user_id"), col("event_type").as("app_id"),
        to_date(col("ts")).as("run_day"))
      .groupBy("user_id", "app_id")
      .agg(
        min(col("run_day")).as("f"),
        max(col("run_day")).as("l"),
        countDistinct(col("run_day")).as("n_runs"),
        count(lit(1)).as("n_observations"))
      .select(col("user_id"), col("app_id"),
        date_format(col("f"), "yyyy-MM-dd").as("first_run_id"),
        date_format(col("l"), "yyyy-MM-dd").as("last_run_id"),
        col("n_runs"), col("n_observations"))
      .orderBy("user_id", "app_id")
  }

  /** Per-run novelty READ FROM the scrape log (monitor.py:557 reads
    * review_scrape_log per run; the backfill path reconstructs run results
    * from it) — the run-grain companion of [[qScrapeProvenance]]: for each
    * run, how many distinct reviews it observed, how many it was the FIRST
    * to bring (novel — the rows q_incremental_ingest would actually
    * insert), how many were re-scrapes of earlier runs' reviews, and the
    * run's re-scrape rate. Derived from the log itself (distinct
    * (review, run) pairs + the keyed first-run min), not recomputed from
    * raw counts — the provenance-table discipline the reference table
    * exists for; the spec reconciles Σ novel = |review space| and the
    * per-run split against an independent recompute.
    *
    * Scale shape: distinct at (review, run) grain, a keyed min window at
    * review grain (no self-join), then one run-grain aggregate — all
    * shuffles on narrow rows, output O(#runs).
    */
  val qRunNovelty: Q = Q(
    "q_run_novelty",
    s"""WITH log AS (
       |  SELECT DISTINCT user_id, event_type,
       |    strftime(CAST(ts AS DATE), '%Y-%m-%d') AS run_id
       |  FROM events),
       |fs AS (
       |  SELECT user_id, event_type, run_id,
       |    MIN(run_id) OVER (PARTITION BY user_id, event_type) AS first_run
       |  FROM log)
       |SELECT run_id,
       |  COUNT(*) AS reviews_seen,
       |  CAST(SUM(CASE WHEN run_id = first_run THEN 1 ELSE 0 END) AS BIGINT)
       |    AS novel,
       |  CAST(SUM(CASE WHEN run_id = first_run THEN 0 ELSE 1 END) AS BIGINT)
       |    AS rescraped,
       |  ${exactDivSql("SUM(CASE WHEN run_id = first_run THEN 0 ELSE 1 END)",
          "COUNT(*)", 4)} AS rescrape_rate
       |FROM fs GROUP BY 1 ORDER BY run_id""".stripMargin
  ) { (s, d) =>
    // DATE-grain internals, formatted at the O(#runs) output grain (the
    // qScrapeProvenance r14 rule): the corpus-sized distinct and the
    // keyed min window shuffle 4-byte dates, not 10-byte strings; the
    // formatting is exact to push through (order-isomorphic, bijective)
    val log = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        to_date(col("ts")).as("run_day"))
      .distinct()
    // keyed min window (partitioned by the review key — scales with the
    // key space, never a global sort); novel ⇔ this run IS the first
    val first = min(col("run_day")).over(
      Window.partitionBy("user_id", "event_type"))
    log.withColumn("novel_flag",
        when(col("run_day") === first, 1L).otherwise(0L))
      .groupBy("run_day")
      .agg(
        count(lit(1)).as("reviews_seen"),
        sum(col("novel_flag")).as("novel"),
        (count(lit(1)) - sum(col("novel_flag"))).as("rescraped"),
        exactDiv(count(lit(1)) - sum(col("novel_flag")), count(lit(1)), 4)
          .as("rescrape_rate"))
      .select(date_format(col("run_day"), "yyyy-MM-dd").as("run_id"),
        col("reviews_seen"), col("novel"), col("rescraped"),
        col("rescrape_rate"))
      .orderBy("run_id")
  }

  /** Per-(run, app) health breakdown (monitor._build_app_health:395 — the
    * table an operator scans when one app's scraper breaks): for every
    * (run_id, app) cell, fetched/skipped/inserted counts, error count,
    * duration, and the reference's exact status rules — `error` when the
    * app hit any error in the run, `stale` when it fetched rows but
    * inserted none (everything deduped away — the scraper is re-reading
    * old pages), else `ok`. Conventions shared with the ledger family:
    * run = ingest day, app = event_type, an error event is event_id %
    * 97 = 0 (qRunLedger), an already-ingested event is event_id % 2 = 0
    * (qIngestMetrics). Duration is exact µs rounded half-up to 2 dp in
    * BOTH engines.
    *
    * Scale shape: ONE map-side-combinable aggregate at (run, app) grain —
    * no windows, no joins; output is O(#runs · #apps) rows.
    */
  /** THE run-ledger counting conventions, in one place: fetched rows,
    * already-ingested (skipped) = event_id % 2 = 0, errored = event_id %
    * 97 = 0, first/last µs — aggregated at whatever grain `keys` gives
    * (run for [[alerts]]; run × app for [[appHealth]] and for the
    * run-grain rollups [[healthReport]]/[[qRunLedger]] that re-aggregate
    * the cells — their apps_processed counts NON-NULL app cells).
    * Each consumer's oracle mirrors the same CASE sums; changing a
    * convention means THIS function plus the oracle strings.
    */
  private[graft] def runCounts(events: org.apache.spark.sql.DataFrame,
      keys: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame =
    runCountsWith(events, Nil, keys: _*)

  /** [[runCounts]] plus caller-specific extra aggregates in the SAME
    * grouping pass ([[alerts]] adds its null-props count here rather than
    * paying a second scan or forking the convention statement).
    */
  private[graft] def runCountsWith(events: org.apache.spark.sql.DataFrame,
      extra: Seq[org.apache.spark.sql.Column],
      keys: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame = {
    val aggs = Seq(
      sum(when(col("event_id") % 2 === 0, 1).otherwise(0)).as("skipped"),
      sum(when(col("event_id") % 97 === 0, 1).otherwise(0)).as("error_cnt"),
      min(unix_micros(col("ts"))).as("started_us"),
      max(unix_micros(col("ts"))).as("ended_us")) ++ extra
    events.groupBy(keys: _*).agg(count(lit(1)).as("fetched"), aggs: _*)
  }

  private def runIdCol = date_format(col("ts"), "yyyy-MM-dd").as("run_id")

  /** The status + derived-column stage over a [[runCounts]] frame carrying
    * (run_id, app_id) — shared by batch [[appHealth]] and the streaming
    * twin ([[graft.streaming.IngestStream.appHealth]]), so the status
    * rules cannot drift between modes. No sort: streaming append mode
    * forbids it; batch adds its own.
    */
  private[graft] def healthStatusSelect(counts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    counts.select(
      col("run_id"), col("app_id"),
      when(col("error_cnt") > 0, "error")
        .when(col("fetched") - col("skipped") === 0 && col("fetched") > 0, "stale")
        .otherwise("ok").as("status"),
      col("fetched"),
      (col("fetched") - col("skipped")).as("inserted"),
      col("skipped"), col("error_cnt"),
      exactDiv(col("ended_us") - col("started_us"), lit(1000000L), 2)
        .as("duration_secs"))

  def appHealth(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    healthStatusSelect(runCounts(events, runIdCol, col("event_type").as("app_id")))
      .orderBy("run_id", "app_id")

  /** Run-grain health report (monitor's HealthReport row — the metrics
    * store_report persists): one row per run with fetched/skipped/
    * inserted/error counts, dedup rate, apps processed/failed, and run
    * duration. Shares every convention with [[appHealth]]/[[qRunLedger]].
    */
  def healthReport(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    // run grain derives from the (run × app) cells — [[runCounts]] is the
    // one statement of the conventions; apps_processed counts the cells,
    // apps_failed the errored ones
    runCounts(events, runIdCol, col("event_type").as("app_id"))
      .groupBy("run_id")
      .agg(
        sum(col("fetched")).cast("long").as("fetched"),
        sum(col("skipped")).cast("long").as("skipped"),
        sum(col("error_cnt")).cast("long").as("error_cnt"),
        // count NON-NULL app cells: the countDistinct(event_type) this
        // replaced — and qRunLedger's convention — excludes a NULL app
        count(col("app_id")).as("apps_processed"),
        sum(when(col("error_cnt") > 0 && col("app_id").isNotNull, 1)
          .otherwise(0)).cast("long").as("apps_failed"),
        min(col("started_us")).as("started_us"),
        max(col("ended_us")).as("ended_us"))
      .select(col("run_id"), col("fetched"),
        (col("fetched") - col("skipped")).as("inserted"),
        col("skipped"), col("error_cnt"),
        exactDiv(lit(100) * col("skipped"), col("fetched"), 2).as("dedup_rate_pct"),
        col("apps_processed"), col("apps_failed"),
        exactDiv(col("ended_us") - col("started_us"), lit(1000000L), 2)
          .as("duration_secs"))

  /** Health-report persistence (monitor.store_report:423 — INSERT OR
    * REPLACE INTO ingestion_metrics keyed by run_id, here as the lake's
    * idempotent keyed append): persist ONE run's report row; re-storing
    * an already-persisted run is a no-op (returns 0). The sink is a
    * plain parquet directory — the queryable metrics history
    * get_recent_health_reports reads back.
    */
  def storeReport(events: org.apache.spark.sql.DataFrame, path: String,
      runId: String): Long =
    graft.sources.Store.appendDeduped(
      healthReport(events).filter(col("run_id") === runId), path, "run_id")

  /** Metrics backfill (monitor.backfill_metrics:510 — reconstruct reports
    * for historical runs with no ingestion_metrics entry): recompute the
    * full run-grain history from the event log and append ONLY the runs
    * missing from the sink ([[graft.sources.Store.appendDeduped]]'s
    * anti-join IS the reference's `LEFT JOIN ingestion_metrics … WHERE
    * im.run_id IS NULL`). Returns the number of backfilled runs; a
    * second call is a no-op.
    */
  def backfillReports(events: org.apache.spark.sql.DataFrame, path: String): Long =
    graft.sources.Store.appendDeduped(healthReport(events), path, "run_id")

  /** Read back the most recent `limit` persisted reports
    * (monitor.get_recent_health_reports:463 — ORDER BY run_id DESC
    * LIMIT ?). A TopK-shaped read: order-by-limit plans as
    * TakeOrderedAndProject, never a full sort of the history.
    */
  def recentReports(s: org.apache.spark.sql.SparkSession, path: String,
      limit: Int): org.apache.spark.sql.DataFrame =
    s.read.parquet(path).orderBy(col("run_id").desc).limit(limit)

  val qAppHealth: Q = Q(
    "q_app_health",
    s"""WITH g AS (
       |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS run_id,
       |    event_type AS app_id,
       |    COUNT(*) AS fetched,
       |    CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS skipped,
       |    CAST(SUM(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS error_cnt,
       |    MIN(epoch_us(ts)) AS started_us,
       |    MAX(epoch_us(ts)) AS ended_us
       |  FROM events GROUP BY 1, 2)
       |SELECT run_id, app_id,
       |  CASE WHEN error_cnt > 0 THEN 'error'
       |       WHEN fetched - skipped = 0 AND fetched > 0 THEN 'stale'
       |       ELSE 'ok' END AS status,
       |  fetched, fetched - skipped AS inserted, skipped, error_cnt,
       |  ${exactDivSql("ended_us - started_us", "1000000", 2)} AS duration_secs
       |FROM g ORDER BY run_id, app_id""".stripMargin
  ) { (s, d) => appHealth(Tables.events(s, d)) }

  /** Threshold alerts (monitor._detect_anomalies:276 with monitor.THRESHOLDS
    * :72 — the alert list evaluate_run emits per run): one row per fired
    * rule with the reference's level/metric/threshold semantics.
    *   1. error_rate   — any app error in the run (> 0.0)       → WARNING
    *   2. dedup_rate   — above the 0.995 staleness ceiling      → WARNING
    *   3. reviews_inserted — ±50% vs the PRECEDING-5-run average → WARNING
    *      on a drop, INFO on a rise (the reference's asymmetric pair)
    *   4. duration     — above 2× the preceding-5-run average   → WARNING
    *   5. props_null_rate — the run's null-props rate shifted by more
    *      than ±5 percentage points vs the preceding-5-run baseline
    *      rate → INFO (the reference's per-field null_rate_shift_pct
    *      check over its current-vs-baseline rates, generalized to the
    *      same rolling window the other rules use; `props` plays the
    *      nullable payload field)
    *   6. reviews_inserted_z_score — |z| > 2 vs the preceding-5-run
    *      mean/stdev → INFO (monitor check 6; like the reference's
    *      `_deviation` a zero-stdev window yields NO z)
    * (alert message strings are presentation, not computed here; the
    * corpus-wide daily z twin lives in [[qAnomalyZscore]].)
    *
    * Every threshold comparison is INTEGER arithmetic — e.g. dedup_rate >
    * 0.995 runs as 1000·skipped > 995·fetched, the ±50% deviation as
    * 100·(inserted·n₅ − Σ₅) vs ±50·Σ₅, the null shift as |100·(nulls·F₅ −
    * N₅·fetched)| vs 5·fetched·F₅ in DECIMAL(38)/HUGEINT (count×count
    * products overflow long at lake scale) — so which alerts fire is
    * exact and engine-identical; reported actual values are [[exactDiv]]
    * roundings of the same integers. The z rule fires on the EXACT
    * integer test [[graft.functions.Det.zOutlier]] (D²·(n−1) > 4·n·V in
    * decimal — no double ever decides firing) and reports
    * [[graft.functions.Det.zScore]], whose cancellation-prone differences
    * are likewise computed exactly before the one sqrt/divide — shared
    * with [[qAnomalyZscore]] so the formulation cannot drift. The rolling
    * window is ROWS 5 PRECEDING..1 PRECEDING over the RUN-grain aggregate
    * (O(#runs) rows through the unpartitioned window — the qRunDeltas
    * contract).
    */
  def alerts(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    alertRuleSelect(withAlertBaseline(alertRunRows(events, runIdCol)))
      .orderBy("run_id", "metric", "level")

  /** The run-grain observation rows the alert rules read: [[runCountsWith]]
    * cells (plus the null-props count, in the same pass) with the derived
    * duration/inserted columns. `runKey` is the one mode difference —
    * batch groups by [[runIdCol]], the [[graft.streaming.IngestStream
    * .alertsSink]] run loop by a day-tumbling event-time window.
    */
  private[graft] def alertRunRows(events: org.apache.spark.sql.DataFrame,
      runKey: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
    runCountsWith(events,
        Seq(sum(when(col("props").isNull, 1).otherwise(0)).cast("long")
          .as("nulls_props")),
        runKey)
      .withColumn("duration_us", col("ended_us") - col("started_us"))
      .withColumn("inserted", col("fetched") - col("skipped"))

  /** Attach the preceding-5-run baseline moments to each run row (ROWS 5
    * PRECEDING..1 PRECEDING over the run-grain aggregate — O(#runs) rows
    * through the unpartitioned window, the qRunDeltas contract). Shared
    * by batch [[alerts]] and the [[graft.streaming.IngestStream
    * .alertsSink]] run loop, which windows the ADVANCING stored history
    * (streaming append mode cannot window over runs).
    */
  private[graft] def withAlertBaseline(runs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    def dec(c: org.apache.spark.sql.Column) =
      c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val w5 = Window.orderBy("run_id").rowsBetween(-5, -1)
    runs
      .withColumn("n5", count(lit(1)).over(w5))
      .withColumn("sum5", sum("inserted").over(w5))
      .withColumn("sumdur5", sum("duration_us").over(w5))
      .withColumn("f5", sum("fetched").over(w5))
      .withColumn("nulls5", sum("nulls_props").over(w5))
      .withColumn("sumsq5", sum(dec(col("inserted")) * col("inserted")).over(w5))
  }

  /** The rule stage over baseline-carrying run rows — ALL seven monitor
    * rules evaluated in one inline struct-array explode, shared verbatim
    * by batch [[alerts]] and the [[graft.streaming.IngestStream.alertsSink]]
    * run loop so the thresholds cannot drift between modes. No sort:
    * streaming append mode forbids it; batch adds its own.
    */
  private[graft] def alertRuleSelect(r: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    def dec(c: org.apache.spark.sql.Column) =
      c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val devNum = lit(100) * (col("inserted") * col("n5") - col("sum5"))
    // null-shift numerator/denominator: decimal — count×count products
    val shiftNum = lit(100) *
      (dec(col("nulls_props")) * col("f5") - dec(col("nulls5")) * col("fetched"))
    val shiftDen = dec(col("fetched")) * col("f5")
    // exact-moment z (shared with qAnomalyZscore): cancellation happens
    // in decimal, doubles only multiply/divide/sqrt
    val z = graft.functions.Det.zScore(
      col("inserted"), col("sum5"), col("sumsq5"), col("n5"))
    // ONE pass: the union-of-filtered-branches formulation planned SEVEN
    // independent scan→aggregate→window pipelines of the event log (one
    // per rule — ReusedExchange cannot dedupe them, the branches prune
    // different columns); instead each run row evaluates all rules into
    // an inline struct array, explodes (O(#rules) structs over O(#runs)
    // rows — nothing like the named-column-explode trap: `r` is tiny and
    // post-aggregate) and keeps the firing ones. Non-firing rows compute
    // their actuals harmlessly (zero denominators are NULL by the
    // exactDiv contract, the unguarded z double is Inf/NaN only where
    // fires=false filters it).
    def rule(fires: org.apache.spark.sql.Column, level: String, metric: String,
        threshold: org.apache.spark.sql.Column,
        actual: org.apache.spark.sql.Column) =
      struct(fires.as("fires"), lit(level).as("level"), lit(metric).as("metric"),
        threshold.as("threshold"), actual.as("actual"))
    val rules = array(
      rule(col("error_cnt") > 0, "WARNING", "error_rate",
        lit(0.0), exactDiv(col("error_cnt"), col("fetched"), 4)),
      rule(col("skipped") * 1000 > col("fetched") * 995, "WARNING", "dedup_rate",
        lit(0.995), exactDiv(col("skipped"), col("fetched"), 4)),
      rule(col("n5") > 0 && col("sum5") > 0 && devNum < lit(-50) * col("sum5"),
        "WARNING", "reviews_inserted",
        lit(-50.0), exactDiv(devNum, col("sum5"), 2)),
      rule(col("n5") > 0 && col("sum5") > 0 && devNum > lit(50) * col("sum5"),
        "INFO", "reviews_inserted",
        lit(50.0), exactDiv(devNum, col("sum5"), 2)),
      rule(col("n5") > 0 && col("sumdur5") > 0 &&
          col("duration_us") * col("n5") > lit(2) * col("sumdur5"),
        "WARNING", "duration",
        exactDiv(lit(2) * col("sumdur5"), col("n5") * lit(1000000L), 2),
        exactDiv(col("duration_us"), lit(1000000L), 2)),
      rule(col("n5") > 0 && abs(shiftNum) > lit(5) * shiftDen,
        "INFO", "props_null_rate",
        lit(5.0), exactDiv(shiftNum, shiftDen, 2)),
      rule(graft.functions.Det.zOutlier(
          col("inserted"), col("sum5"), col("sumsq5"), col("n5"), 2),
        "INFO", "reviews_inserted_z_score",
        lit(2.0), abs(z))) // raw double: bit-identical cross-engine (see qAnomalyZscore)
    r.select(col("run_id"), explode(rules).as("a"))
      .filter(col("a.fires"))
      .select(col("run_id"), col("a.level").as("level"),
        col("a.metric").as("metric"), col("a.threshold").as("threshold"),
        col("a.actual").as("actual"))
  }

  val qAlerts: Q = Q(
    "q_alerts",
    s"""WITH runs AS (
       |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS run_id,
       |    COUNT(*) AS fetched,
       |    CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS skipped,
       |    CAST(SUM(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS error_cnt,
       |    CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS nulls_props,
       |    MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS duration_us
       |  FROM events GROUP BY 1),
       |r AS (
       |  SELECT *, fetched - skipped AS inserted,
       |    COUNT(*) OVER w5 AS n5,
       |    CAST(SUM(fetched - skipped) OVER w5 AS BIGINT) AS sum5,
       |    CAST(SUM(duration_us) OVER w5 AS BIGINT) AS sumdur5,
       |    CAST(SUM(fetched) OVER w5 AS BIGINT) AS f5,
       |    CAST(SUM(nulls_props) OVER w5 AS BIGINT) AS nulls5,
       |    CAST(SUM(CAST(fetched - skipped AS HUGEINT) * (fetched - skipped))
       |      OVER w5 AS HUGEINT) AS sumsq5
       |  FROM runs
       |  WINDOW w5 AS (ORDER BY run_id ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
       |SELECT * FROM (
       |  SELECT run_id, 'WARNING' AS level, 'error_rate' AS metric,
       |    CAST(0.0 AS DOUBLE) AS threshold,
       |    ${exactDivSql("error_cnt", "fetched", 4)} AS actual
       |  FROM r WHERE error_cnt > 0
       |  UNION ALL
       |  SELECT run_id, 'WARNING', 'dedup_rate', CAST(0.995 AS DOUBLE),
       |    ${exactDivSql("skipped", "fetched", 4)}
       |  FROM r WHERE skipped * 1000 > fetched * 995
       |  UNION ALL
       |  SELECT run_id, 'WARNING', 'reviews_inserted', CAST(-50.0 AS DOUBLE),
       |    ${exactDivSql("100 * (inserted * n5 - sum5)", "sum5", 2)}
       |  FROM r WHERE n5 > 0 AND sum5 > 0
       |    AND 100 * (inserted * n5 - sum5) < -50 * sum5
       |  UNION ALL
       |  SELECT run_id, 'INFO', 'reviews_inserted', CAST(50.0 AS DOUBLE),
       |    ${exactDivSql("100 * (inserted * n5 - sum5)", "sum5", 2)}
       |  FROM r WHERE n5 > 0 AND sum5 > 0
       |    AND 100 * (inserted * n5 - sum5) > 50 * sum5
       |  UNION ALL
       |  SELECT run_id, 'WARNING', 'duration',
       |    ${exactDivSql("2 * sumdur5", "n5 * 1000000", 2)},
       |    ${exactDivSql("duration_us", "1000000", 2)}
       |  FROM r WHERE n5 > 0 AND sumdur5 > 0 AND duration_us * n5 > 2 * sumdur5
       |  UNION ALL
       |  SELECT run_id, 'INFO', 'props_null_rate', CAST(5.0 AS DOUBLE),
       |    ${exactDivSql(
             "100 * (CAST(nulls_props AS HUGEINT) * f5 - CAST(nulls5 AS HUGEINT) * fetched)",
             "CAST(fetched AS HUGEINT) * f5", 2)}
       |  FROM r WHERE n5 > 0
       |    AND ABS(100 * (CAST(nulls_props AS HUGEINT) * f5
       |          - CAST(nulls5 AS HUGEINT) * fetched))
       |        > 5 * CAST(fetched AS HUGEINT) * f5
       |  UNION ALL
       |  SELECT run_id, 'INFO', 'reviews_inserted_z_score', CAST(2.0 AS DOUBLE),
       |    ABS(${graft.functions.Det.zScoreSql("inserted", "sum5", "sumsq5", "n5")})
       |  FROM r WHERE ${graft.functions.Det.zOutlierSql("inserted", "sum5", "sumsq5", "n5", 2)})
       |ORDER BY run_id, metric, level""".stripMargin
  ) { (s, d) => alerts(Tables.events(s, d)) }

  /** Conversion funnel (first-touch attribution — the ordered-event
    * question every event pipeline answers: of the users who signed up
    * each day, how many purchased within 7 days, and how fast): first
    * signup per user, earliest purchase inside the 7-day window after
    * it, day-grain conversion rates and exact mean time-to-convert
    * (NULL when nobody converted — zero-denominator exactDiv is NULL in
    * both engines).
    *
    * Scale shape: both sides of the window join key on user_id (one hash
    * shuffle, never a cross product — the qRangeJoin contract); the
    * per-user firsts partial-combine map-side; output is day-grain.
    */
  val qFunnel: Q = Q(
    "q_funnel",
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS tus
       |  FROM events WHERE user_id IS NOT NULL),
       |su AS (SELECT user_id, MIN(tus) AS signup_us
       |       FROM e WHERE event_type = 'signup' GROUP BY 1),
       |cv AS (
       |  SELECT s.user_id, s.signup_us, MIN(p.tus) AS purchase_us
       |  FROM su s LEFT JOIN e p
       |    ON p.user_id = s.user_id AND p.event_type = 'purchase'
       |   AND p.tus > s.signup_us AND p.tus <= s.signup_us + 604800000000
       |  GROUP BY 1, 2)
       |SELECT strftime(make_timestamp(signup_us), '%Y-%m-%d') AS signup_day,
       |  COUNT(*) AS n_signups,
       |  CAST(COUNT(purchase_us) AS BIGINT) AS n_converted,
       |  ${exactDivSql("COUNT(purchase_us)", "COUNT(*)", 4)} AS conversion_rate,
       |  ${exactDivSql("SUM(purchase_us - signup_us)", "COUNT(purchase_us)", 0)}
       |    AS avg_us_to_convert
       |FROM cv GROUP BY 1 ORDER BY signup_day""".stripMargin
  ) { (s, d) =>
    val e = Tables.events(s, d).filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tus"))
    val su = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("tus").as("signup_us")).as("s")
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("tus").as("ptus")).as("p")
    su.join(p,
        col("s.user_id") === col("p.p_user") &&
          col("ptus") > col("signup_us") &&
          col("ptus") <= col("signup_us") + 604800000000L,
        "left")
      .groupBy(col("s.user_id"), col("signup_us"))
      .agg(min("ptus").as("purchase_us"))
      .groupBy(date_format(timestamp_micros(col("signup_us")), "yyyy-MM-dd")
        .as("signup_day"))
      .agg(count(lit(1)).as("n_signups"),
        count(col("purchase_us")).as("n_converted"),
        exactDiv(count(col("purchase_us")), count(lit(1)), 4)
          .as("conversion_rate"),
        exactDiv(sum(col("purchase_us") - col("signup_us")),
          count(col("purchase_us")), 0).as("avg_us_to_convert"))
      .orderBy("signup_day")
  }

  /** Cohort retention triangle (the user-level generalization of
    * report_db_growth's new-user curve — the standard "did the users a
    * scrape/launch day brought stay active" diagnostic): cohort = the
    * user's first active day; for every (cohort, day-offset), the count
    * of cohort users active that day and the exact retention rate.
    *
    * Scale shape: one distinct over (user, day) — map-side combinable —
    * then a user-keyed join against the per-user cohort aggregate (same
    * shuffle key), and everything after is cohort-grain (O(days²/2)
    * rows). No windows over the fact stream, no driver collect.
    */
  val qRetention: Q = Q(
    "q_retention",
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
       |  FROM events WHERE user_id IS NOT NULL),
       |ch AS (SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY 1),
       |sz AS (SELECT cohort_day, COUNT(*) AS n_cohort FROM ch GROUP BY 1),
       |act AS (
       |  SELECT c.cohort_day, u.day - c.cohort_day AS day_offset,
       |    COUNT(*) AS n_active
       |  FROM ud u JOIN ch c USING (user_id) GROUP BY 1, 2)
       |SELECT strftime(a.cohort_day, '%Y-%m-%d') AS cohort,
       |  CAST(day_offset AS BIGINT) AS day_offset, n_active, n_cohort,
       |  ${exactDivSql("n_active", "n_cohort", 4)} AS retention_rate
       |FROM act a JOIN sz ON a.cohort_day = sz.cohort_day
       |ORDER BY cohort, day_offset""".stripMargin
  ) { (s, d) =>
    val ud = Tables.events(s, d).filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
    val cohort = ud.groupBy("user_id").agg(min("day").as("cohort_day"))
    val sizes = cohort.groupBy("cohort_day").agg(count(lit(1)).as("n_cohort"))
    ud.join(cohort, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, "cohort_day")
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort"),
        col("day_offset"), col("n_active"), col("n_cohort"),
        exactDiv(col("n_active"), col("n_cohort"), 4).as("retention_rate"))
      .orderBy("cohort", "day_offset")
  }

  /** Cumulative lake growth (reporter.report_db_growth:72, lifted from a
    * point-in-time snapshot to the full growth curve): per-day new rows,
    * FIRST-SEEN users (each user counted once, on the day of their first
    * event — "active today" would recount returners and overstate
    * growth), and the running cumulative row total. Two full-width
    * aggregates, both partial-combining before their shuffles (per-day
    * counts; per-user min-day); the running sum windows over the
    * day-grain aggregate — O(#days) rows at any corpus size, same
    * contract as [[qRunDeltas]].
    */
  val qDbGrowth: Q = Q(
    "q_db_growth",
    """WITH dly AS (
      |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      |    COUNT(*) AS new_rows
      |  FROM events GROUP BY 1),
      |fs AS (
      |  SELECT strftime(MIN(CAST(ts AS DATE)), '%Y-%m-%d') AS day,
      |    user_id
      |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      |nu AS (SELECT day, COUNT(*) AS new_users FROM fs GROUP BY 1)
      |SELECT d.day, d.new_rows, COALESCE(n.new_users, 0) AS new_users,
      |  CAST(SUM(d.new_rows) OVER (ORDER BY d.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cumulative_rows
      |FROM dly d LEFT JOIN nu n ON d.day = n.day
      |ORDER BY d.day""".stripMargin
  ) { (s, d) =>
    // unpartitioned window over the day-grain aggregate: see qRunDeltas
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = Tables.events(s, d)
    val daily = ev
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("new_rows"))
    val firstSeen = ev.filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(date_format(min(col("ts").cast("date")), "yyyy-MM-dd").as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    daily.join(firstSeen, Seq("day"), "left")
      .select(col("day"), col("new_rows"),
        coalesce(col("new_users"), lit(0L)).as("new_users"),
        sum(col("new_rows")).over(w).as("cumulative_rows"))
      .orderBy("day")
  }

  /** Session-level engagement rollup (labeling session reporting:
    * db_manager.get_recent_sessions:794 / get_labeling_progress:812,
    * generalized to the event sessions): duration and events-per-session
    * statistics over the [[qSessionize]] output. Built ON the registered
    * sessionizer — Spark side runs its DataFrame, the oracle wraps its SQL
    * as a CTE — so the two operators cannot drift. The rollup input is
    * session-grain (already reduced); every ratio is an exact integer
    * division and the median is the same interpolated-percentile pair
    * both engines compute exactly on <2^52 integers.
    */
  val qSessionStats: Q = Q(
    "q_session_stats",
    s"""WITH sess AS (${qSessionize.oracle.get})
       |SELECT COUNT(*) AS n_sessions,
       |  ${exactDivSql("SUM(n_events)", "COUNT(*)", 2)} AS avg_events,
       |  ${exactDivSql("SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)",
            "COUNT(*)", 4)} AS single_event_share,
       |  ${exactDivSql("SUM(end_us - start_us)", "COUNT(*)", 0)} AS avg_duration_us,
       |  quantile_cont(end_us - start_us, 0.5) AS p50_duration_us,
       |  CAST(MAX(end_us - start_us) AS BIGINT) AS max_duration_us
       |FROM sess""".stripMargin
  ) { (s, d) =>
    val dur = col("end_us") - col("start_us")
    qSessionize.run(s, d).agg(
      count(lit(1)).as("n_sessions"),
      exactDiv(sum(col("n_events")), count(lit(1)), 2).as("avg_events"),
      exactDiv(sum(when(col("n_events") === 1, 1).otherwise(0)),
        count(lit(1)), 4).as("single_event_share"),
      exactDiv(sum(dur), count(lit(1)), 0).as("avg_duration_us"),
      expr("percentile(end_us - start_us, 0.5)").as("p50_duration_us"),
      max(dur).as("max_duration_us"))
  }

  /** The zero-event missing-day frame — ONE spelling of the day
    * normalization, calendar generation and anti-join, shared by
    * [[qCoverageGaps]] (which rolls it into gap islands) and
    * [[Curation.qReleaseGate]] (which counts it), so the gate cannot
    * silently disagree with the monitor it summarizes (the
    * mixSourceStats/sourceBucketCounts single-definition rule).
    */
  private[graft] def missingDays(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val days = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"))
      .filter(col("day").isNotNull).distinct()
    days.agg(min("day").as("lo"), max("day").as("hi"))
      .filter(col("lo").isNotNull)
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
      .join(days, Seq("day"), "left_anti")
  }

  /** DuckDB mirror of [[missingDays]]: CTEs `days`, `span`, `miss`
    * (callers embed inside a WITH and read `miss(day)`).
    */
  private[graft] val missingDaysSql: String =
    """days AS (
      |  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day
      |  FROM events WHERE ts IS NOT NULL),
      |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM days),
      |miss AS (
      |  SELECT cal.day
      |  FROM (SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))
      |          AS DATE) AS day
      |        FROM span WHERE lo IS NOT NULL) cal
      |  WHERE cal.day NOT IN (SELECT day FROM days))""".stripMargin

  /** Calendar-gap detector — the completeness monitor the run ledger
    * cannot express (the ledger reports the runs that HAPPENED;
    * a scraper outage, a dropped cron, or a silently failing source
    * shows up as days with NO run and NO events at all — absence has no
    * row to alert on): every maximal run of consecutive days with zero
    * events between the stream's first and last day, as
    * (gap_start, gap_end, n_days). An empty report is the good-news
    * certificate ingestion was continuous.
    *
    * Exactness: day grain is date_trunc in both engines (timestamp
    * normalization per [[graft.Tables.normalizeEventTs]]); gap runs
    * collapse by the islands-and-gaps rule (day − row_number constant
    * within a run — pure date/integer arithmetic); dates emit as
    * yyyy-MM-dd strings (the cross-engine date convention).
    *
    * Scale shape (100 TB): observed days are ONE map-side-combined
    * distinct over the scan (≤ a few thousand rows for any real
    * stream); the calendar generates from a broadcast 1-row min/max
    * frame; the anti-join, the island window and the rollup all run at
    * day grain — post-aggregation only.
    */
  val qCoverageGaps: Q = Q(
    "q_coverage_gaps",
    s"""WITH $missingDaysSql,
      |g AS (
      |  SELECT day,
      |    day - CAST(row_number() OVER (ORDER BY day) AS INTEGER) AS grp
      |  FROM miss)
      |SELECT strftime(MIN(day), '%Y-%m-%d') AS gap_start,
      |  strftime(MAX(day), '%Y-%m-%d') AS gap_end,
      |  COUNT(*) AS n_days
      |FROM g GROUP BY grp ORDER BY gap_start""".stripMargin
  ) { (s, d) =>
    missingDays(s, d)
      .withColumn("grp",
        expr("date_sub(day, row_number() OVER (ORDER BY day))"))
      .groupBy("grp")
      .agg(date_format(min("day"), "yyyy-MM-dd").as("gap_start"),
        date_format(max("day"), "yyyy-MM-dd").as("gap_end"),
        count(lit(1)).as("n_days"))
      .select("gap_start", "gap_end", "n_days")
      .orderBy("gap_start")
  }

  val all: Seq[Q] = Seq(
    qIncrementalIngest, qIngestMetrics, qRunDeltas, qAnomalyZscore,
    qQualityMetrics, qRunDrift, qWindowedCounts, qSessionize, qPropsExtract, qPropsSchema, qDbGrowth,
    qRetention, qFunnel, qSessionStats, qRunLedger, qRunHistory,
    qScrapeProvenance, qRunNovelty,
    qSessionLedger, qReportSessions, qAppHealth, qAlerts, qCoverageGaps)
}
