package graft.operators

import graft.{Q, SessionCache, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Labeling / training-data operators.
  *
  * Re-expresses the reference's labeling system (src/labeling/sampler.py,
  * exporter.py, reporter.py) Spark-first: 4-tier stratified sampling with a
  * growing exclusion set, cross-key proportional-with-minimum balancing,
  * multi-annotator majority-vote conflict resolution, deterministic
  * stratified train/val/test split, and inter-annotator agreement (Cohen's
  * kappa). The reference's `ORDER BY RANDOM()` becomes `ORDER BY
  * md5(id)` — the same "arbitrary but unbiased" order, reproducible across
  * engines and cluster runs.
  *
  * Scale notes: per-tier limits compile to TakeOrderedAndProject
  * (per-partition top-k, then merge — no global sort); the per-key sampler
  * windows partition by the key (parallelism = #keys, which in the
  * reference's domain is #apps ≫ #executors); annotation dedup and the
  * agreement pair-join shuffle on review_id, and pairs are O(k²) in
  * #annotators per review — bounded by the annotator pool, not data size.
  */
object Labeling {

  /** Simulated annotation set derived from events: review_id/annotator from
    * id arithmetic, label = the value bucket; one label per
    * (review, annotator), keeping the earliest event.
    */
  private val annSql =
    """ann0 AS (
      |  SELECT event_id % 199 AS review_id, user_id % 7 AS annotator,
      |    CASE WHEN value >= 100 THEN 'high'
      |         WHEN value >= 10 THEN 'mid' ELSE 'low' END AS label,
      |    event_id
      |  FROM events),
      |ann AS (
      |  SELECT review_id, annotator, label FROM (
      |    SELECT *, row_number() OVER (PARTITION BY review_id, annotator
      |                                 ORDER BY event_id) AS rn
      |    FROM ann0)
      |  WHERE rn = 1)""".stripMargin

  /** Spark side uses min_by (partial-aggregating keep-first — map-side
    * combine, no per-group sort) where the oracle SQL spells the same
    * semantics as a row_number window; event_id is unique so both pick the
    * identical row.
    */
  private def annotations(s: org.apache.spark.sql.SparkSession, d: String) = {
    Tables.events(s, d)
      .select(
        (col("event_id") % 199).as("review_id"),
        (col("user_id") % 7).as("annotator"),
        when(col("value") >= 100, "high").when(col("value") >= 10, "mid")
          .otherwise("low").as("label"),
        col("event_id"))
      .groupBy("review_id", "annotator")
      .agg(min_by(col("label"), col("event_id")).as("label"))
  }

  /** 4-tier stratified sampler (sampler._get_tier_reviews:109): tier 1 =
    * extreme-low first, tier 2 = extreme-high first, tier 3 = mid by id,
    * tier 4 = pseudo-random slice of low-k events NOT already selected
    * (the reference's growing `exclude` set, here a left-anti join).
    * Events with event_id % 7 == 0 play "already labeled" and are excluded
    * up front (sampler._get_already_queued_or_labeled).
    */
  /** The 4-tier queue CTEs, shared by qSampleTiers and qQueueProgress. */
  private val tierSql =
    """pool AS (
      |  SELECT event_id, event_type, value,
      |    TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) AS k
      |  FROM events WHERE event_id % 7 <> 0),
      |t1 AS (SELECT 1 AS tier, event_id, event_type, value FROM pool
      |       WHERE value < 10 ORDER BY value ASC, event_id LIMIT 100),
      |t2 AS (SELECT 2 AS tier, event_id, event_type, value FROM pool
      |       WHERE value >= 100 ORDER BY value DESC, event_id LIMIT 100),
      |t3 AS (SELECT 3 AS tier, event_id, event_type, value FROM pool
      |       WHERE value >= 10 AND value < 100 ORDER BY event_id LIMIT 100),
      |sel AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2
      |        UNION ALL SELECT * FROM t3),
      |t4 AS (SELECT 4 AS tier, p.event_id, p.event_type, p.value FROM pool p
      |       WHERE p.k < 20
      |         AND NOT EXISTS (SELECT 1 FROM sel s WHERE s.event_id = p.event_id)
      |       ORDER BY md5(CAST(p.event_id AS VARCHAR)), p.event_id LIMIT 100),
      |queue AS (SELECT tier, event_id, event_type, value FROM sel
      |          UNION ALL SELECT tier, event_id, event_type, value FROM t4)""".stripMargin

  private[graft] def tiers(s: org.apache.spark.sql.SparkSession, d: String) = {
    val pool = Tables.events(s, d)
      .filter(col("event_id") % 7 =!= 0)
      // try_cast, matching the oracle's TRY_CAST: a payload without a
      // "k" field regexp-extracts '' and a plain ANSI cast would CRASH
      // the job where DuckDB quietly yields NULL (an over-INT k likewise
      // overflows vs NULLs — same crash-vs-clean divergence)
      .withColumn("k", expr(
        """try_cast(regexp_extract(props, '"k": (\\d+)', 1) AS INT)"""))
    val out = Seq(col("event_id"), col("event_type"), col("value"))
    // The three value strata are DISJOINT, so tiers 1-3 ride ONE scan:
    // tier CASE + a per-tier sort key whose (DESC, event_id ASC) heap
    // order IS each tier's selection order (t1 value asc → −value; t2
    // value desc → value; t3 id asc → constant, all ties), through the
    // bounded-heap [[TopK.perKey]]. The per-stratum
    // filter+TakeOrderedAndProject form this replaces planned one FULL
    // EVENT-LOG SCAN PER TIER — and tier 4's anti-join duplicated the
    // three subtrees again (7 scans of the lake for one queue build;
    // plan-guarded at ≤ 2 now). Double negation is exact and
    // order-reversing, and every tie breaks on event_id, so the selected
    // rows are bit-identical to the per-stratum form (the oracle keeps
    // the naive CTE shape).
    val t123 = pool
      .withColumn("tier",
        when(col("value") < 10, 1)
          .when(col("value") >= 100, 2)
          .when(col("value") >= 10 && col("value") < 100, 3))
      .filter(col("tier").isNotNull)
      .withColumn("ord",
        when(col("tier") === 1, -col("value"))
          .when(col("tier") === 2, col("value"))
          .otherwise(lit(0.0)))
    // ≤ 300 rows, persisted once per (session, dir) in SessionCache so
    // tier 4's anti-join reads the heap output instead of re-deriving it
    val sel = SessionCache.persisted(s, d, "tier_selection")(
      TopK.perKey(t123.select(col("tier") +: col("ord") +: out: _*),
        Seq("tier"), "ord", "event_id", 100)
        .select(col("tier") +: out: _*))
    val t4 = pool.filter(col("k") < 20)
      .join(sel.select("event_id"), Seq("event_id"), "left_anti")
      .orderBy(md5(col("event_id").cast("string")), col("event_id")).limit(100)
      .select(lit(4).as("tier") +: out: _*)
    sel.unionByName(t4)
  }

  val qSampleTiers: Q = Q(
    "q_sample_tiers",
    s"""WITH $tierSql
       |SELECT tier, event_id, event_type, value FROM queue
       |ORDER BY tier, event_id""".stripMargin
  ) { (s, d) => tiers(s, d).orderBy("tier", "event_id") }

  /** Queue progress rollup (db_manager.get_queue_stats:?,
    * reporter.report_progress/report_queue_status:90): tier × status
    * counts over the label queue; statuses simulated deterministically
    * from the item id (pending/completed/skipped).
    */
  val qQueueProgress: Q = Q(
    "q_queue_progress",
    s"""WITH $tierSql
       |SELECT tier,
       |  CASE event_id % 3 WHEN 0 THEN 'pending'
       |       WHEN 1 THEN 'completed' ELSE 'skipped' END AS status,
       |  COUNT(*) AS n_items
       |FROM queue GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  ) { (s, d) =>
    tiers(s, d)
      .withColumn("status",
        when(col("event_id") % 3 === 0, "pending")
          .when(col("event_id") % 3 === 1, "completed")
          .otherwise("skipped"))
      .groupBy("tier", "status").agg(count(lit(1)).as("n_items"))
      .orderBy("tier", "status")
  }

  /** Queue batch claim (db_manager.fetch_queue_batch:637): the next
    * batch_size pending items ordered by priority tier then id, joined back
    * to the fact table for annotation context and stamped with the claiming
    * annotator. The reference's UPDATE-and-return becomes the pure claim
    * query — the state transition itself is the sink's job (Store's
    * idempotent append). "Pending" follows qQueueProgress's status model
    * (event_id % 3 = 0), so the claim and the progress rollup describe one
    * consistent queue. Scale: ORDER BY + LIMIT compiles to
    * TakeOrderedAndProject (per-partition top-k, no global sort) and the
    * 50-row claim broadcasts into the context join.
    */
  val qQueueClaim: Q = Q(
    "q_queue_claim",
    s"""WITH $tierSql,
       |claim AS (
       |  SELECT tier, event_id, event_type, value FROM queue
       |  WHERE event_id % 3 = 0
       |  ORDER BY tier ASC, event_id ASC LIMIT 50)
       |SELECT c.tier, c.event_id, c.event_type, c.value, e.user_id,
       |  CAST(3 AS INTEGER) AS assigned_to
       |FROM claim c JOIN events e ON e.event_id = c.event_id
       |ORDER BY c.tier, c.event_id""".stripMargin
  ) { (s, d) =>
    val claim = tiers(s, d)
      .filter(col("event_id") % 3 === 0)
      .orderBy(col("tier").asc, col("event_id").asc).limit(50)
    claim
      .join(Tables.events(s, d).select("event_id", "user_id"), "event_id")
      .select(col("tier"), col("event_id"), col("event_type"), col("value"),
        col("user_id"), lit(3).as("assigned_to"))
      .orderBy("tier", "event_id")
  }

  /** Queue state-transition ledger + current-state view
    * (db_manager.complete_queue_item:693 — the UPDATE-to-completed write
    * side of q_queue_claim — and reset_abandoned_assignments:705, which
    * returns assigned-but-incomplete items to pending). A lake has no
    * UPDATE: transitions are an APPEND-ONLY status log (here derived
    * from the event stream — item_id/action/annotator by the same id
    * arithmetic as the other queue ops), and "current state" is the
    * keep-latest-per-key view (the 17e pattern: one deterministic
    * max_by over (tus, event_id) — partial-aggregating, no per-group
    * sort). The abandoned-assignment reset is a VIEW-side rule, exactly
    * like the reference's bulk UPDATE: a current state of `assigned`
    * whose claim is older than the 24 h TTL (vs the stream's end) reads
    * as pending with its assignment cleared, and is flagged was_reset.
    *
    * Actions (event_id % 5): 0 → claim/assigned, 1 → completed,
    * 2 → skipped, 3/4 → release/requeue → pending.
    */
  val qQueueState: Q = Q(
    "q_queue_state",
    s"""WITH log AS (
       |  SELECT event_id % 499 AS item_id, epoch_us(ts) AS at_us,
       |    event_id,
       |    CASE event_id % 5 WHEN 0 THEN 'assigned' WHEN 1 THEN 'completed'
       |         WHEN 2 THEN 'skipped' ELSE 'pending' END AS status,
       |    CASE WHEN event_id % 5 = 0 THEN user_id % 7 ELSE NULL END
       |      AS assigned_to
       |  FROM events),
       |cur AS (
       |  SELECT item_id, status, assigned_to, at_us,
       |    COUNT(*) OVER (PARTITION BY item_id) AS n_transitions
       |  FROM log
       |  QUALIFY ROW_NUMBER() OVER (
       |    PARTITION BY item_id ORDER BY at_us DESC, event_id DESC) = 1),
       |mx AS (SELECT MAX(epoch_us(ts)) AS mt FROM events)
       |SELECT item_id,
       |  CASE WHEN status = 'assigned' AND at_us < mt - 86400000000
       |       THEN 'pending' ELSE status END AS status,
       |  CASE WHEN status = 'assigned' AND at_us < mt - 86400000000
       |       THEN NULL ELSE assigned_to END AS assigned_to,
       |  at_us AS last_change_us, CAST(n_transitions AS BIGINT) AS n_transitions,
       |  status = 'assigned' AND at_us < mt - 86400000000 AS was_reset
       |FROM cur, mx ORDER BY item_id""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
    val log = ev.select(
      (col("event_id") % 499).as("item_id"),
      unix_micros(col("ts")).as("at_us"),
      col("event_id"),
      when(col("event_id") % 5 === 0, "assigned")
        .when(col("event_id") % 5 === 1, "completed")
        .when(col("event_id") % 5 === 2, "skipped")
        .otherwise("pending").as("status"),
      when(col("event_id") % 5 === 0, col("user_id") % 7).as("assigned_to"))
    // keep-latest via max_by on the (at_us, event_id) struct: ONE partial-
    // aggregating pass (map-side combine), no per-group sort — at lake
    // scale this beats the row_number window the oracle spells the same
    // semantics with
    val cur = log.groupBy("item_id").agg(
      max_by(struct(col("status"), col("assigned_to"), col("at_us")),
        struct(col("at_us"), col("event_id"))).as("last"),
      count(lit(1)).as("n_transitions"))
      .select(col("item_id"), col("last.status").as("status"),
        col("last.assigned_to").as("assigned_to"),
        col("last.at_us").as("at_us"), col("n_transitions"))
    val mx = ev.agg(max(unix_micros(col("ts"))).as("mt"))
    val stale = col("status") === "assigned" &&
      col("at_us") < col("mt") - lit(86400000000L)
    cur.crossJoin(broadcast(mx))
      .select(
        col("item_id"),
        when(stale, "pending").otherwise(col("status")).as("status"),
        when(stale, lit(null)).otherwise(col("assigned_to")).as("assigned_to"),
        col("at_us").as("last_change_us"), col("n_transitions"),
        stale.as("was_reset"))
      .orderBy("item_id")
  }

  /** Label distribution (db_manager.get_label_distribution): per-label
    * counts + exact-integer share over the deduped annotation set.
    */
  val qLabelDistribution: Q = Q(
    "q_label_distribution",
    s"""WITH $annSql,
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM ann)
       |SELECT label, COUNT(*) AS n_labels,
       |  CAST(COUNT(*) AS DOUBLE) / (SELECT t FROM tot) AS share
       |FROM ann GROUP BY label ORDER BY label""".stripMargin
  ) { (s, d) =>
    val ann = annotations(s, d)
    val tot = ann.agg(count(lit(1)).cast("long").as("t"))
    ann.groupBy("label").agg(count(lit(1)).as("n_labels"))
      .crossJoin(broadcast(tot))
      .select(col("label"), col("n_labels"),
        (col("n_labels").cast("double") / col("t")).as("share"))
      .orderBy("label")
  }

  /** Cross-key balanced sampling (sampler._get_cross_app_balance:156):
    * per-key target = max(30, floor(reserve · count/total)), filled in
    * deterministic hash order. The allocation table is tiny → broadcast.
    */
  val qBalancedSample: Q = Q(
    "q_balanced_sample",
    """WITH pool AS (SELECT event_id, event_type FROM events
      |              WHERE event_id % 7 <> 0),
      |cnt AS (SELECT event_type, COUNT(*) AS c FROM pool GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cnt),
      |alloc AS (SELECT event_type, GREATEST(30, (200 * c) // t) AS target
      |          FROM cnt, tot),
      |rk AS (SELECT p.event_id, p.event_type,
      |         row_number() OVER (PARTITION BY p.event_type
      |           ORDER BY md5(CAST(p.event_id AS VARCHAR)), p.event_id) AS rn
      |       FROM pool p)
      |SELECT r.event_type, r.event_id
      |FROM rk r JOIN alloc a USING (event_type)
      |WHERE r.rn <= a.target
      |ORDER BY r.event_type, r.event_id""".stripMargin
  ) { (s, d) =>
    val pool = Tables.events(s, d)
      .filter(col("event_id") % 7 =!= 0).select("event_id", "event_type")
    val cnt = pool.groupBy("event_type").agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum("c").cast("long").as("t"))
    val alloc = cnt.crossJoin(broadcast(tot))
      .select(col("event_type"),
        greatest(lit(30L), expr("(200 * c) div t")).as("target"))
    // two-level [[hashRank]] — event_type has O(few) values; the naive
    // per-type rank window is a single task per type at lake scale
    hashRank(pool, "event_type", md5(col("event_id").cast("string")), "event_id")
      .join(broadcast(alloc), "event_type")
      .filter(col("rn") <= col("target"))
      .select("event_type", "event_id")
      .orderBy("event_type", "event_id")
  }

  /** Majority-vote conflict resolution (exporter._resolve_conflicts:110):
    * winning label by (count desc, label asc); ties keep the winner but
    * demote confidence to 'low'.
    */
  val qMajorityVote: Q = Q(
    "q_majority_vote",
    s"""WITH $annSql,
       |cnts AS (SELECT review_id, label, COUNT(*) AS c FROM ann GROUP BY 1, 2),
       |agg AS (SELECT review_id, CAST(SUM(c) AS BIGINT) AS n_annotators,
       |               MAX(c) AS mx
       |        FROM cnts GROUP BY 1),
       |atmax AS (SELECT cn.review_id, COUNT(*) AS n_at_max
       |          FROM cnts cn JOIN agg a USING (review_id)
       |          WHERE cn.c = a.mx GROUP BY 1),
       |winner AS (SELECT review_id, label FROM (
       |             SELECT review_id, label,
       |               row_number() OVER (PARTITION BY review_id
       |                                  ORDER BY c DESC, label ASC) AS rk
       |             FROM cnts)
       |           WHERE rk = 1)
       |SELECT a.review_id, a.n_annotators, w.label AS majority_label,
       |  CASE WHEN t.n_at_max > 1 THEN 'low' ELSE 'normal' END AS confidence
       |FROM agg a JOIN winner w USING (review_id) JOIN atmax t USING (review_id)
       |ORDER BY a.review_id""".stripMargin
  ) { (s, d) =>
    // one window pass instead of three aggregation subtrees over cnts:
    // the totals, the max tie count and the winner all share the
    // review_id partitioning, so everything after the count shuffle runs
    // in two stacked Window ops with zero additional exchange (the
    // multi-join form re-derived the annotation counts three times)
    val cnts = annotations(s, d)
      .groupBy("review_id", "label").agg(count(lit(1)).as("c"))
    val byR = Window.partitionBy("review_id")
    val ordered = Window.partitionBy("review_id")
      .orderBy(col("c").desc, col("label").asc)
    cnts
      .withColumn("n_annotators", sum("c").over(byR).cast("long"))
      .withColumn("mx", max("c").over(byR))
      .withColumn("rk", row_number().over(ordered))
      .withColumn("n_at_max", sum(when(col("c") === col("mx"), 1)).over(byR))
      .filter(col("rk") === 1)
      .select(col("review_id"), col("n_annotators"),
        col("label").as("majority_label"),
        when(col("n_at_max") > 1, "low").otherwise("normal").as("confidence"))
      .orderBy("review_id")
  }

  /** Deterministic stratified train/val/test split
    * (exporter._stratified_split:161): per class (lang), hash-order rows
    * and cut at floor(0.8n) / floor(0.8n)+floor(0.1n) — the same
    * int(n*ratio) arithmetic as the reference, shuffle replaced by the
    * reproducible hash order.
    */
  /** Two-level hash rank: `row_number() OVER (PARTITION BY part ORDER BY
    * h, id)` plus the per-part total, WITHOUT a single task per part
    * value — `part` here is a class/key column with O(few) distinct
    * values, so the naive window streams a whole class through one task
    * (the q_seq_pack bottleneck shape, fixed the same way):
    *   1. rank WITHIN (part, blk) where blk = the first two hex chars of
    *      h — 256 ordered buckets; lexicographic md5 order refines the
    *      prefix order, so block-local ranks are globally consistent;
    *   2. block counts prefix-summed at BLOCK grain (O(|part|·256) rows
    *      through the per-part window) give each block's rank offset and
    *      the per-part total;
    *   3. a tiny broadcast join carries offset + total back: rn = offset
    *      + local rank.
    * Returns the input plus `rn` and `n` (per-part total). Identical
    * arithmetic to the single-window oracle form.
    */
  private[graft] def hashRank(df: org.apache.spark.sql.DataFrame, part: String,
      h: Column, id: String): org.apache.spark.sql.DataFrame = {
    // working columns are namespaced and reserved (the dedupeByKey
    // contract): withColumn would silently REPLACE a same-named caller
    // column — wrong data, not an error. rn/n are the documented outputs.
    val reserved = Seq("__hr_h", "__hr_blk", "__hr_rnl", "__hr_off",
      "__hr_c", "__hr_p2", "__hr_b2", "rn", "n")
    require(!df.columns.exists(reserved.contains),
      s"hashRank reserves columns $reserved")
    val withH = df.withColumn("__hr_h", h)
      .withColumn("__hr_blk", substring(col("__hr_h"), 1, 2))
    // nulls LAST explicitly: the oracle's single row_number window ranks
    // a NULL hash last (DuckDB default) while Spark asc is nulls FIRST —
    // and since the null block's count feeds every real block's offset,
    // one NULL id would shift every rank in its class by one, moving
    // boundary docs across the 80/10/10 split cuts
    val wLoc = Window.partitionBy(part, "__hr_blk")
      .orderBy(col("__hr_h").asc_nulls_last, col(id).asc_nulls_last)
    val local = withH.withColumn("__hr_rnl", row_number().over(wLoc))
    val wOff = Window.partitionBy(part)
      .orderBy(col("__hr_blk").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = withH.groupBy(part, "__hr_blk").agg(count(lit(1)).as("__hr_c"))
      .withColumn("__hr_off", coalesce(sum("__hr_c").over(wOff), lit(0L)))
      .withColumn("n", sum("__hr_c").over(Window.partitionBy(part)))
      .select(col(part).as("__hr_p2"), col("__hr_blk").as("__hr_b2"),
        col("__hr_off"), col("n"))
    // NULL-SAFE equality: a NULL class key (or NULL id → NULL hash/block)
    // is a legitimate window partition — the single-window form this
    // replaces (and the oracle) keeps those rows, so a plain equi-join
    // silently dropping them would break oracle parity
    local.join(broadcast(offs),
        col(part) <=> col("__hr_p2") && col("__hr_blk") <=> col("__hr_b2"))
      .withColumn("rn", col("__hr_off") + col("__hr_rnl"))
      .drop("__hr_p2", "__hr_b2", "__hr_h", "__hr_blk", "__hr_rnl", "__hr_off")
  }

  /** Shared split-assignment CTE — [[qTrainSplit]] emits it directly,
    * [[qSplitMetadata]] rolls it up; one definition so they cannot drift.
    */
  private val splitSql =
    """rk AS (
      |  SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM documents),
      |sp AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN rn <= (8 * n) // 10 THEN 'train'
      |         WHEN rn <= (8 * n) // 10 + n // 10 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM rk)""".stripMargin

  /** The (doc_id, lang, split) assignment frame behind both split
    * queries.
    */
  /** The 80/10/10 cut over a [[hashRank]]'ed frame (rn, n in scope) —
    * ONE Spark-side definition mirroring [[splitSql]], shared by
    * [[splitFrame]] (doc grain) and [[qSplitLeakproof]] (unit grain) so
    * the cut arithmetic cannot drift between the split operators.
    */
  private def withSplitAssignment(ranked: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    ranked.withColumn("split",
      when(col("rn") <= expr("(8 * n) div 10"), "train")
        .when(col("rn") <= expr("(8 * n) div 10 + n div 10"), "val")
        .otherwise("test"))

  private def splitFrame(s: org.apache.spark.sql.SparkSession, d: String) = {
    // two-level [[hashRank]]: lang has O(few) distinct values, so the
    // naive lang-partitioned rank window would stream each class's whole
    // corpus through ONE task at lake scale
    withSplitAssignment(
        hashRank(Tables.documents(s, d).select("doc_id", "lang"),
          "lang", md5(col("doc_id").cast("string")), "doc_id"))
      .select("doc_id", "lang", "split")
  }

  val qTrainSplit: Q = Q(
    "q_train_split",
    s"""WITH $splitSql
       |SELECT doc_id, lang, split
       |FROM sp ORDER BY doc_id""".stripMargin
  ) { (s, d) => splitFrame(s, d).orderBy("doc_id") }

  /** Export metadata rollup (exporter._build_metadata/split_stats:233 —
    * the summary emitted alongside every export): per (split, label)
    * example counts plus the per-split totals and apps-represented
    * (distinct source) the reference's split_stats computes, flattened to
    * (split, label) grain so it is one relational result instead of
    * nested JSON. label = lang (the stratification class, as in
    * q_train_split); label_pct is the exact half-up share.
    *
    * Scale shape: the split assignment is the shared [[splitFrame]]; the
    * source join keys on doc_id (one shuffle, or zero against a bucketed
    * doc table); both rollups are map-side-combinable aggregates and the
    * per-split totals (3 rows) broadcast back.
    */
  val qSplitMetadata: Q = Q(
    "q_split_metadata",
    s"""WITH $splitSql,
       |j AS (
       |  SELECT sp.split, sp.lang, d.source
       |  FROM sp JOIN documents d ON d.doc_id = sp.doc_id),
       |per AS (
       |  SELECT split, COUNT(*) AS split_total,
       |    CAST(COUNT(DISTINCT source) AS BIGINT) AS apps_represented
       |  FROM j GROUP BY 1)
       |SELECT j.split, j.lang AS label, COUNT(*) AS n_examples,
       |  per.split_total, per.apps_represented,
       |  ${graft.functions.Det.exactDivSql("100 * COUNT(*)", "per.split_total", 2)}
       |    AS label_pct
       |FROM j JOIN per ON j.split = per.split
       |GROUP BY j.split, j.lang, per.split_total, per.apps_represented
       |ORDER BY j.split, label""".stripMargin
  ) { (s, d) =>
    splitMetadataOf(splitFrame(s, d)
      .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id"))
  }

  /** The metadata rollup over any (split, lang, source) row frame — ONE
    * corpus pass: the (split, label) cells carry their distinct source
    * SETS (bounded by #sources, tiny), and the per-split totals +
    * apps-represented derive from split-grain windows over the cells
    * (3×|labels| rows). Shared by [[qSplitMetadata]] (over the live
    * assignment) and [[exportSplits]] (over the written dataset), so the
    * two cannot drift — and neither re-evaluates the split pipeline for
    * a second aggregate subtree.
    */
  private def splitMetadataOf(rows: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.Det.exactDiv
    val wSplit = Window.partitionBy("split")
    rows
      .groupBy(col("split"), col("lang").as("label"))
      .agg(count(lit(1)).as("n_examples"),
        collect_set(col("source")).as("srcs"))
      .withColumn("split_total", sum("n_examples").over(wSplit).cast("long"))
      .withColumn("apps_represented",
        size(array_distinct(flatten(collect_list(col("srcs")).over(wSplit))))
          .cast("long"))
      .select(col("split"), col("label"), col("n_examples"),
        col("split_total"), col("apps_represented"),
        exactDiv(lit(100) * col("n_examples"), col("split_total"), 2)
          .as("label_pct"))
      .orderBy("split", "label")
  }

  /** Split-file export (exporter.export → _write_jsonl:195 + _build_metadata
    * :233): write the labeled corpus as one JSONL dataset partitioned BY
    * SPLIT — the lake-native equivalent of the reference's three
    * train/val/test files (readers select a split via partition pruning:
    * `split=train/` only lists that directory) — plus the
    * [[qSplitMetadata]] rollup as a parquet sidecar, the queryable twin
    * of the reference's metadata JSON. One pass over the corpus for all
    * three splits (the reference writes them sequentially); per-task
    * part-files, no driver collect.
    */
  def exportSplits(s: org.apache.spark.sql.SparkSession, d: String,
      outDir: String): Unit = {
    val rows = splitFrame(s, d)
      .join(Tables.documents(s, d).select("doc_id", "text", "source"), "doc_id")
      .select("doc_id", "text", "lang", "source", "split")
    rows.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("split").json(s"$outDir/dataset")
    // metadata from the WRITTEN dataset (shared splitMetadataOf rollup):
    // describes exactly the files shipped, and the split pipeline runs
    // once per export instead of once per consumer. EXPLICIT schema (the
    // frame just written): inference throws on an empty day-one export
    // (only _SUCCESS on disk) and silently loses all-null columns (JSON
    // omits null fields) — and skips a full inference pass over the
    // text-heavy files
    graft.sources.Store.exportParquet(
      splitMetadataOf(s.read.schema(rows.schema).json(s"$outDir/dataset")),
      s"$outDir/metadata")
  }

  /** Inter-annotator agreement (reporter.report_agreement:111): observed
    * vs chance-expected agreement over same-review annotator pairs, and
    * Cohen's kappa. All ratios are single double divisions of exactly-
    * computed integers (A, P, S=Σc²; T=2P) so the result is bit-identical
    * at any parallelism: po=A/P, pe=S/T², κ=(A·T²−P·S)/(P·(T²−S)).
    */
  val qAgreement: Q = Q(
    "q_agreement",
    s"""WITH $annSql,
       |pairs AS (SELECT a1.label AS l1, a2.label AS l2
       |          FROM ann a1 JOIN ann a2
       |            ON a1.review_id = a2.review_id
       |           AND a1.annotator < a2.annotator),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS p,
       |             CAST(SUM(CASE WHEN l1 = l2 THEN 1 ELSE 0 END) AS BIGINT) AS a
       |      FROM pairs),
       |lab AS (SELECT l1 AS l FROM pairs UNION ALL SELECT l2 FROM pairs),
       |s2 AS (SELECT CAST(SUM(c * c) AS BIGINT) AS s FROM
       |        (SELECT l, COUNT(*) AS c FROM lab GROUP BY l))
       |SELECT p AS n_pairs,
       |  CAST(a AS DOUBLE) / p AS observed_agreement,
       |  CAST(s AS DOUBLE) / (4 * p * p) AS expected_agreement,
       |  CAST(a * 4 * p * p - p * s AS DOUBLE)
       |    / (p * (4 * p * p - s)) AS kappa
       |FROM m, s2""".stripMargin
  ) { (s, d) =>
    // no annotator self-join: everything derives from the per-(review,
    // label) counts in exact integer arithmetic — with n_r annotators on
    // review r and c_rl of them voting label l,
    //   pairs            p = Σ_r C(n_r, 2)
    //   agreeing pairs   a = Σ_r Σ_l C(c_rl, 2)
    //   label-side count occ_l = Σ_r c_rl·(n_r − 1)   (each vote sits in
    //                    n_r−1 pairs), and s = Σ_l occ_l².
    // Identical results to the oracle's pair-join form (hash-verified),
    // without materializing the quadratic pair set.
    // a NULL annotator (NULL user_id) is NOT a participant: the
    // oracle's pair join (a1.annotator < a2.annotator) never pairs a
    // NULL, while the closed form would count its vote in n/occ —
    // filter here so both engines agree the vote never existed
    val cnts = annotations(s, d).filter(col("annotator").isNotNull)
      .groupBy("review_id", "label").agg(count(lit(1)).as("c"))
      .withColumn("n", sum("c").over(Window.partitionBy("review_id")))
    val m = cnts
      .groupBy("review_id").agg(
        first("n").as("n"),
        sum(expr("(c * (c - 1)) div 2")).as("a_r"))
      .agg(sum(expr("(n * (n - 1)) div 2")).cast("long").as("p"),
        sum("a_r").cast("long").as("a"))
    val s2 = cnts
      .groupBy("label").agg(sum(col("c") * (col("n") - 1)).as("occ"))
      .agg(sum(col("occ") * col("occ")).cast("long").as("s"))
    m.crossJoin(broadcast(s2)).select(
      col("p").as("n_pairs"),
      (col("a").cast("double") / col("p")).as("observed_agreement"),
      (col("s").cast("double") / (lit(4) * col("p") * col("p")))
        .as("expected_agreement"),
      ((col("a") * 4 * col("p") * col("p") - col("p") * col("s")).cast("double")
        / (col("p") * (lit(4) * col("p") * col("p") - col("s")))).as("kappa"))
  }

  /** Leakage-proof train/val/test split (rows-only; spec pins cluster
    * cohesion, the unit-grain cut arithmetic and singleton equivalence):
    * [[qTrainSplit]] hash-splits DOCUMENTS, so two near-duplicates can
    * straddle train and test — the classic dedup-leakage failure
    * (memorized near-copies inflating eval). Here the split UNIT is the
    * near-dup cluster ([[Similarity.dedupClusterLabels]] connected
    * components; unit id = the cluster's canonical min doc_id, the doc
    * itself for unclustered docs), so a cluster lands WHOLLY in one
    * split by construction. Stratification class = the unit
    * REPRESENTATIVE's lang: members of one unit can disagree on lang,
    * and a unit must not be split across classes — grouped splitting
    * trades exact per-class ratios for leakage-freedom (the ratios hold
    * exactly at unit grain, approximately at doc grain).
    *
    * Scale shape: the cluster label table is tiny relative to the corpus
    * (near-dup members only — AQE broadcasts it); the unit roster is one
    * distinct over ≤ |corpus| narrow rows; ranking is the two-level
    * [[hashRank]] (no single-task class windows); assignments carry back
    * to members on ONE unit_id-keyed shuffle.
    */
  val qSplitLeakproof: Q = Q.rowsOnly("q_split_leakproof") { (s, d) =>
    val labels = Similarity.dedupClusterLabels(s, d)
      .select(col("id").as("doc_id"), col("label").as("unit_id"))
    val docs = Tables.documents(s, d).select("doc_id", "lang")
    val membered = docs.join(labels, Seq("doc_id"), "left")
      .withColumn("unit_id", coalesce(col("unit_id"), col("doc_id")))
    // unit roster: representative's lang is the stratification class
    // (unit_id IS a doc_id — the cluster's canonical keeper)
    val units = membered.select("unit_id").distinct()
      .join(docs.select(col("doc_id").as("unit_id"), col("lang")), Seq("unit_id"), "left")
    val unitSplit = withSplitAssignment(hashRank(units, "lang",
        md5(col("unit_id").cast("string")), "unit_id"))
      .select(col("unit_id"), col("split"))
    membered.select("doc_id", "lang", "unit_id")
      .join(unitSplit, Seq("unit_id"), "left")
      .select("doc_id", "lang", "unit_id", "split")
      .orderBy("doc_id")
  }

  /** Queue seeding as ONE operation (db_manager.py:614 populate_queue —
    * bulk INSERT OR IGNORE of (review_id, priority_tier) into
    * label_queue): the sampler's selection ([[qSampleTiers]]'s tiers
    * frame, tier = priority) written into the queue store through the
    * keyed-idempotent append ([[graft.sources.Store.appendDeduped]] on
    * review_id ≙ INSERT OR IGNORE). Re-seeding the same selection is a
    * no-op; a widened selection appends only the novel items; seeded
    * items enter 'pending' with no annotator, so the claim/progress ops'
    * ORDER BY priority_tier, review_id read works directly off the
    * store. Returns the number of entries inserted (the reference's
    * rowcount contract).
    *
    * Scale shape: the selection is already bounded (≤ 100/tier) and the
    * append's anti-join reads only the sink's key column — seeding cost
    * is O(queue), never O(corpus).
    */
  def seedQueue(s: org.apache.spark.sql.SparkSession, d: String,
      queuePath: String): Long =
    graft.sources.Store.appendDeduped(
      tiers(s, d).select(
        col("event_id").as("review_id"),
        col("tier").as("priority_tier"),
        lit("pending").as("status")),
      queuePath, "review_id")

  val all: Seq[Q] = Seq(
    qSampleTiers, qBalancedSample, qMajorityVote, qTrainSplit, qAgreement,
    qQueueProgress, qQueueClaim, qLabelDistribution, qQueueState,
    qSplitMetadata, qSplitLeakproof)
}
