package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The end-to-end curation pipeline composed (SURVEY §2.5 capstone): the
  * FineWeb/RefinedWeb-shaped recipe — exact dedup → near-dup dedup →
  * quality floor → blocklist gate → held-out-slice exclusion — run as ONE
  * attrition accounting pass over the corpus. Every stage reuses the
  * standalone operator's OWN definition (the shared-projection helpers:
  * [[TextOps.qualityScored]], [[TextOps.blocklistFlags]],
  * [[Text.evalSlice]], [[Similarity.dedupClusterLabels]], the
  * [[TextOps.qDedupExact]] content key), so the funnel cannot drift from
  * the reports users read per stage.
  */
object Curation {

  /** Quality floor for the funnel's stage 3 — documents scoring below
    * this composite are not trainable text by the pipeline's own quality
    * standard (~16% of the synthetic corpus; a production deployment
    * tunes this against its corpus distribution).
    */
  private[graft] val QualityFloor = 0.5

  private[graft] val StageNames = Seq(
    1 -> "exact_dedup", 2 -> "near_dedup", 3 -> "quality_floor",
    4 -> "blocklist", 5 -> "eval_holdout")

  /** Curation funnel (rows-only; spec pins every stage against an
    * independent driver recompute): per stage, documents entering,
    * dropped AT that stage (first gate that catches them — standard
    * funnel attribution), and remaining. Stage semantics:
    *   1 exact_dedup — not the min doc_id of its normalized-content
    *     group (documents with NULL content key — null text — have no
    *     group and pass);
    *   2 near_dedup — a MinHash near-dup cluster non-keeper
    *     ([[Similarity.qDedupSurvivors]]'s min-id partition; exact
    *     copies are near-dups too, so stage-1 drops are a subset — the
    *     funnel attributes them to the cheaper stage that caught them
    *     first, exactly how a deployed pipeline orders its passes);
    *   3 quality_floor — composite quality_score < [[QualityFloor]],
    *     with unscoreable (null-text) documents dropping HERE: a
    *     document that cannot be scored is not trainable text;
    *   4 blocklist — the token-exact 5% blocklist gate;
    *   5 eval_holdout — the held-out slice ([[Text.evalSlice]]) leaves
    *     the TRAINING corpus (it is what the decontamination passes
    *     protect).
    *
    * Scale shape: ONE corpus scan computes every per-row flag (the
    * quality and blocklist projections chain on the same frame); the
    * exact-dedup keeper is a MIN window over the 16-byte content key —
    * one narrow shuffle, no corpus-sized keeper table to join back;
    * the cluster non-keeper join broadcasts only under the measured
    * [[Similarity.MemberBroadcastMaxRows]] gate (unhinted above — web
    * corpora run 30-50% near-dup members and a forced hint is a driver
    * bomb there); the funnel
    * itself aggregates 5 counter cells map-side (one row per stage out,
    * exploded from ONE aggregate row) and the cumulative arithmetic
    * runs over 5 post-aggregation rows — the [[TextOps]].qSourceMix
    * post-aggregation-window contract.
    */
  /** Per-document first-gate attribution: (doc_id, dropped_at) with
    * dropped_at ∈ 1..5 per [[StageNames]] or NULL for documents that
    * survive every gate — the ONE staging definition behind both the
    * [[qCurationFunnel]] accounting and the [[qCleanCorpus]] artifact,
    * so the counts and the corpus cannot disagree.
    */
  private[graft] def stagedFlags(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    // one scan: every per-row gate as a projection chain
    val perDoc = TextOps.blocklistFlags(TextOps.qualityScored(Tables.documents(s, d)))
      .select(col("doc_id"),
        Text.contentKey(col("text")).as("h"),
        col("quality_score"), col("blocked"),
        Text.evalSlice(col("doc_id")).as("is_eval"))
    // exact keeper per content group as a MIN window riding one narrow
    // shuffle on the 16-byte content key — NOT a groupBy+join-back: the
    // keeper table has one row per DISTINCT content (≈ corpus size), so
    // joining it back means either a corpus-sized broadcast (driver
    // bomb at lake scale) or a second full shuffle. Window partitions =
    // identical-content groups, bounded by exact-dup multiplicity;
    // NULL-text rows share one degenerate partition (rare at scale, and
    // their keep_id is discarded below)
    val wByContent = Window.partitionBy("h")
    // near-dup cluster non-keepers: ~5% of THIS corpus, but 30-50% of a
    // CCNet/FineWeb-rate web corpus — so the broadcast hint is gated on
    // the MEASURED member count (a cache read: the label table is
    // memoized+materialized), unhinted above the threshold so AQE
    // size-decides. See Similarity.MemberBroadcastMaxRows; both physical
    // forms are spec-pinned identical.
    val labels = Similarity.dedupClusterLabels(s, d)
    val gatedNonKeepers = Similarity.gatedMemberBroadcast(labels)(labels
      .filter(col("id") =!= col("label"))
      .select(col("id").as("doc_id"), lit(true).as("near_dup")))
    perDoc
      .withColumn("keep_id",
        when(col("h").isNotNull, min(col("doc_id")).over(wByContent)))
      .join(gatedNonKeepers, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("keep_id").isNotNull && col("doc_id") =!= col("keep_id"), 1)
          .when(coalesce(col("near_dup"), lit(false)), 2)
          .when(coalesce(col("quality_score"), lit(-1.0)) < QualityFloor, 3)
          .when(col("blocked"), 4)
          .when(col("is_eval"), 5)
          .as("dropped_at"))
  }

  val qCurationFunnel: Q = Q.rowsOnly("q_curation_funnel") { (s, d) =>
    val staged = stagedFlags(s, d)
    // 5 counter cells out of the corpus-grain aggregate; the funnel
    // arithmetic runs over post-aggregation rows only
    // coalesce each cell: sum() over an EMPTY corpus is NULL, and the
    // empty lake must report a zeros funnel, not NULL arithmetic
    val cells = staged.agg(
      count(lit(1)).as("n_total"),
      (1 to 5).map(k =>
        coalesce(sum(when(col("dropped_at") === k, 1L).otherwise(0L)), lit(0L))
          .as(s"d$k")): _*)
    // ONE row explodes into the 5 stage rows — a per-stage select union
    // would re-run the whole corpus aggregate once per stage
    val stages = cells
      .select(col("n_total"), explode(array(StageNames.map { case (k, name) =>
        struct(lit(k).as("stage"), lit(name).as("stage_name"),
          col(s"d$k").as("n_dropped"))
      }: _*)).as("s"))
      .select(col("s.stage").as("stage"), col("s.stage_name").as("stage_name"),
        col("n_total"), col("s.n_dropped").as("n_dropped"))
    val w = Window.orderBy("stage")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stages
      .withColumn("n_remaining", col("n_total") - sum("n_dropped").over(w))
      .withColumn("n_in", col("n_remaining") + col("n_dropped"))
      .select("stage", "stage_name", "n_in", "n_dropped", "n_remaining")
      .orderBy("stage")
  }

  /** The training corpus the funnel accounts for — the doc_ids that
    * survive every gate (rows-only; spec pins count identity with the
    * funnel's final n_remaining and the per-gate set algebra). This is
    * the artifact a pipeline ships: [[qCurationFunnel]] is its audit
    * trail, and both derive from ONE [[stagedFlags]] definition.
    */
  val qCleanCorpus: Q = Q.rowsOnly("q_clean_corpus") { (s, d) =>
    stagedFlags(s, d)
      .filter(col("dropped_at").isNull)
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** The corpus DATA CARD — the one-page summary every dataset release
    * ships (the reference's run_full_analysis/print_summary surface,
    * src/analysis/data_quality_analyzer.py:37,490, re-aimed at the
    * training corpus): eleven headline numbers in long format
    * (section, metric, value, rate), each computed by the SAME shared
    * definition as its standalone report — token counting
    * ([[Text.wordCount]]), content keys ([[Text.contentKey]], the
    * exact-dedup rule), PII and blocklist flags ([[TextOps.piiCols]],
    * [[TextOps.blocklistFlags]]), language prediction
    * ([[TextOps.predictedLang]]), quality buckets
    * ([[TextOps.sourceBucketCounts]]) — so the card cannot disagree
    * with any detailed report it summarizes. Sections: volume (docs,
    * sources, predicted languages, tokens, null-text), dedup (distinct
    * contents, exact-dup docs + rate), quality (scored docs, median
    * quality bucket — integer-exact: smallest bucket with 2·cum ≥ n —
    * PII docs, blocklist-flagged docs, each with its exact rate).
    *
    * Scale shape (100 TB): five independent global aggregates — the
    * flags scan (one pass, all per-row kernels chained), the distinct
    * counts (source: tiny; content: the q_dedup_exact 16-byte-key
    * shuffle — the one genuinely wide exchange, and it IS the dedup
    * measurement), the language scan, and the quality histogram read
    * from the shared cache — each collapsing to ONE row before the
    * 1-row cross joins; the 11 card rows explode from that single row
    * (the funnel-cells rule: a per-metric union would re-run the
    * aggregates once per row). Rates are exact half-up divisions; an
    * empty lake yields the 11 rows with zero counts and NULL rates.
    */
  val qDatacard: Q = Q(
    "q_datacard",
    s"""WITH f AS (
       |  SELECT text,
       |    len(list_filter(string_split(${Text.normSql}, ' '), t -> t <> ''))
       |      AS n_tok,
       |    len(list_filter(string_split(${Text.normSql}, ' '),
       |      t -> t IN (${TextOps.Blocklist.map(w => s"'$w'").mkString(", ")})))
       |      AS n_blocked,
       |    ${Text.wordCountSql} AS toks,
       |    len(regexp_extract_all(text, '${TextOps.PiiEmail}'))
       |      + len(regexp_extract_all(text, '${TextOps.PiiIpv4}'))
       |      + len(regexp_extract_all(text, '${TextOps.PiiPhone}'))
       |      + len(regexp_extract_all(text, '${TextOps.PiiIdRun}')) AS npii
       |  FROM documents),
       |a1 AS (
       |  SELECT COUNT(*) AS n_docs,
       |    CAST(COALESCE(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS n_null_text,
       |    CAST(COALESCE(SUM(toks), 0) AS BIGINT) AS n_tokens,
       |    CAST(COALESCE(SUM(CASE WHEN npii > 0 THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS pii_docs,
       |    CAST(COALESCE(SUM(CASE WHEN n_blocked * 20 > n_tok
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS blk_docs
       |  FROM f),
       |a2 AS (SELECT COUNT(DISTINCT source) AS n_sources FROM documents),
       |a3 AS (
       |  SELECT COUNT(DISTINCT CASE WHEN predicted <> 'und' THEN predicted
       |    END) AS n_langs
       |  FROM (${TextOps.predictedLangSql}) lp),
       |a4 AS (
       |  SELECT COUNT(*) AS n_content,
       |    COUNT(DISTINCT md5(${Text.normSql})) AS n_distinct
       |  FROM documents WHERE text IS NOT NULL),
       |qh AS (
       |  SELECT CAST(FLOOR((${TextOps.qualityScoreSql})
       |    * ${TextOps.BudgetBlocks}) AS INT) AS b
       |  FROM documents),
       |qb AS (SELECT b, COUNT(*) AS c FROM qh WHERE b IS NOT NULL GROUP BY 1),
       |sc AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_scored FROM qb),
       |md AS (
       |  SELECT MIN(b) AS median_bucket
       |  FROM (SELECT b, SUM(c) OVER (ORDER BY b) AS cum FROM qb) t, sc
       |  WHERE 2 * cum >= n_scored),
       |one AS (SELECT * FROM a1, a2, a3, a4, sc, md)
       |SELECT * FROM (
       |  SELECT 'volume' AS section, 'n_docs' AS metric,
       |    CAST(n_docs AS BIGINT) AS value, CAST(NULL AS DOUBLE) AS rate
       |  FROM one
       |  UNION ALL SELECT 'volume', 'n_sources',
       |    CAST(n_sources AS BIGINT), NULL FROM one
       |  UNION ALL SELECT 'volume', 'n_langs_predicted',
       |    CAST(n_langs AS BIGINT), NULL FROM one
       |  UNION ALL SELECT 'volume', 'n_tokens', n_tokens, NULL FROM one
       |  UNION ALL SELECT 'volume', 'null_text_docs', n_null_text,
       |    ${exactDivSqlC("n_null_text", "n_docs")} FROM one
       |  UNION ALL SELECT 'dedup', 'distinct_contents',
       |    CAST(n_distinct AS BIGINT), NULL FROM one
       |  UNION ALL SELECT 'dedup', 'exact_dup_docs',
       |    CAST(n_content - n_distinct AS BIGINT),
       |    ${exactDivSqlC("n_content - n_distinct", "n_content")} FROM one
       |  UNION ALL SELECT 'quality', 'scored_docs', n_scored,
       |    ${exactDivSqlC("n_scored", "n_docs")} FROM one
       |  UNION ALL SELECT 'quality', 'median_quality_bucket',
       |    CAST(median_bucket AS BIGINT), NULL FROM one
       |  UNION ALL SELECT 'quality', 'pii_docs', pii_docs,
       |    ${exactDivSqlC("pii_docs", "n_docs")} FROM one
       |  UNION ALL SELECT 'quality', 'blocklist_flagged_docs', blk_docs,
       |    ${exactDivSqlC("blk_docs", "n_docs")} FROM one
       |) card ORDER BY section, metric""".stripMargin
  ) { (s, d) =>
    import graft.functions.Det.exactDiv
    val docs = Tables.documents(s, d)
    val flagged = TextOps.blocklistFlags(docs)
      .select(col("text"), col("blocked"),
        Text.wordCount(col("text")).as("toks"),
        TextOps.nPiiCol(s, col("text")).as("npii"))
    // counts coalesce to 0 on the empty lake (sums over zero rows are
    // NULL) — the release-gate decidability rule, and what makes the
    // "zero counts and NULL rates" empty-lake contract above true
    val a1 = flagged.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(when(col("text").isNull, 1L).otherwise(0L)), lit(0L))
        .cast("long").as("n_null_text"),
      coalesce(sum(col("toks")), lit(0L)).cast("long").as("n_tokens"),
      coalesce(sum(when(col("npii") > 0, 1L).otherwise(0L)), lit(0L))
        .cast("long").as("pii_docs"),
      coalesce(sum(when(col("blocked"), 1L).otherwise(0L)), lit(0L))
        .cast("long").as("blk_docs"))
    val a2 = docs.agg(countDistinct(col("source")).as("n_sources"))
    val a3 = TextOps.predictedLang(s, d)
      .agg(countDistinct(when(col("predicted") =!= "und", col("predicted")))
        .as("n_langs"))
    val a4 = docs.filter(col("text").isNotNull)
      .agg(count(lit(1)).as("n_content"),
        countDistinct(Text.contentKey(col("text"))).as("n_distinct"))
    val qb = TextOps.sourceBucketCounts(s, d).filter(col("b").isNotNull)
      .groupBy("b").agg(sum("c").as("cb"))
    val sc = qb.agg(coalesce(sum("cb"), lit(0L)).cast("long").as("n_scored"))
    val md = qb
      .withColumn("cum", sum("cb").over(Window.orderBy("b")))
      .crossJoin(broadcast(sc.select(col("n_scored").as("nsc"))))
      .filter(col("cum") * 2 >= col("nsc"))
      .agg(min("b").as("median_bucket"))
    val one = a1.crossJoin(broadcast(a2)).crossJoin(broadcast(a3))
      .crossJoin(broadcast(a4)).crossJoin(broadcast(sc))
      .crossJoin(broadcast(md))
    def row(section: String, metric: String, value: Column, rate: Column) =
      struct(lit(section).as("section"), lit(metric).as("metric"),
        value.cast("long").as("value"), rate.cast("double").as("rate"))
    val nullRate = lit(null).cast("double")
    one
      .select(explode(array(
        row("volume", "n_docs", col("n_docs"), nullRate),
        row("volume", "n_sources", col("n_sources"), nullRate),
        row("volume", "n_langs_predicted", col("n_langs"), nullRate),
        row("volume", "n_tokens", col("n_tokens"), nullRate),
        row("volume", "null_text_docs", col("n_null_text"),
          exactDiv(col("n_null_text"), col("n_docs"), 4)),
        row("dedup", "distinct_contents", col("n_distinct"), nullRate),
        row("dedup", "exact_dup_docs", col("n_content") - col("n_distinct"),
          exactDiv(col("n_content") - col("n_distinct"), col("n_content"), 4)),
        row("quality", "scored_docs", col("n_scored"),
          exactDiv(col("n_scored"), col("n_docs"), 4)),
        row("quality", "median_quality_bucket", col("median_bucket"),
          nullRate),
        row("quality", "pii_docs", col("pii_docs"),
          exactDiv(col("pii_docs"), col("n_docs"), 4)),
        row("quality", "blocklist_flagged_docs", col("blk_docs"),
          exactDiv(col("blk_docs"), col("n_docs"), 4)))).as("r"))
      .select(col("r.section").as("section"), col("r.metric").as("metric"),
        col("r.value").as("value"), col("r.rate").as("rate"))
      .orderBy("section", "metric")
  }

  /** The datacard's rate spelling: half-up at 4, NULL on a zero
    * denominator (the [[graft.functions.Det.exactDivSql]] quotient nulls
    * on `// 0` in DuckDB only under a NULLIF guard — counts here can be
    * legitimately zero on an empty lake).
    */
  private def exactDivSqlC(num: String, den: String): String =
    s"CASE WHEN ($den) = 0 THEN NULL ELSE " +
      graft.functions.Det.exactDivSql(num, den, 4) + " END"

  /** [[qReleaseGate]] thresholds, in BASIS POINTS (integer ten-
    * thousandths) so every pass/fail decision is an exact integer
    * cross-multiplication — never a comparison on a rounded double.
    * Declared ABOVE the Q val (the CLAUDE.md oracle-string
    * initialization-order rule). Values are release policy, tuned per
    * deployment; these defaults encode "mostly deduped, scoreable,
    * near-zero PII/blocklist exposure, no single-source capture, no
    * ingest outages".
    */
  private[graft] val GateDupMaxBp = 2000L // exact-dup rate ≤ 20%
  private[graft] val GateNullMaxBp = 500L // null-text rate ≤ 5%
  private[graft] val GatePiiMaxBp = 100L // PII doc rate ≤ 1%
  private[graft] val GateBlockMaxBp = 200L // blocklist flag rate ≤ 2%
  private[graft] val GateScoredMinBp = 9000L // scoreable-doc rate ≥ 90%
  private[graft] val GateTopSourceMaxBp = 8000L // max source token share ≤ 80%

  /** The RELEASE GATE — the [[qDatacard]] turned into a go/no-go
    * checklist (what a dataset release process actually runs: the card
    * informs a human, the gate blocks a pipeline): seven checks, each a
    * row (check, observed, threshold, pass) — exact-dup rate, null-text
    * rate, PII doc rate, blocklist flag rate, scoreable rate, the
    * largest source's token share (single-source capture), and ingest
    * continuity (zero [[Ingest.qCoverageGaps]] gap days). Every pass/
    * fail decision is an exact INTEGER cross-multiplication against the
    * basis-point threshold (`observed` is the rounded display value;
    * the decision never reads it — a rate sitting exactly on the bar
    * must gate identically in both engines). A check with an empty
    * denominator passes vacuously with NULL observed: the gate blocks
    * PROVEN violations, and the volume checks belong to ingest
    * monitoring, not the release gate. The deploy-grade gate unions in
    * the rows-only monitors ([[Similarity.qAnnHealth]] recall floors,
    * [[Ingest]] threshold alerts) the same way.
    *
    * Scale shape (100 TB): the [[qDatacard]] shape minus the language
    * scan — four global aggregates (flags scan, content distinct,
    * source token max/total, the cached quality histogram) plus the
    * day-grain gap count, each ONE row before the 1-row cross joins;
    * the 7 gate rows explode from the single joined row.
    */
  val qReleaseGate: Q = Q(
    "q_release_gate",
    s"""WITH f AS (
       |  SELECT text,
       |    len(list_filter(string_split(${Text.normSql}, ' '), t -> t <> ''))
       |      AS n_tok,
       |    len(list_filter(string_split(${Text.normSql}, ' '),
       |      t -> t IN (${TextOps.Blocklist.map(w => s"'$w'").mkString(", ")})))
       |      AS n_blocked,
       |    ${Text.wordCountSql} AS toks,
       |    len(regexp_extract_all(text, '${TextOps.PiiEmail}'))
       |      + len(regexp_extract_all(text, '${TextOps.PiiIpv4}'))
       |      + len(regexp_extract_all(text, '${TextOps.PiiPhone}'))
       |      + len(regexp_extract_all(text, '${TextOps.PiiIdRun}')) AS npii,
       |    source
       |  FROM documents),
       |a1 AS (
       |  SELECT COUNT(*) AS n_docs,
       |    CAST(COALESCE(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS n_null_text,
       |    CAST(COALESCE(SUM(CASE WHEN npii > 0 THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS pii_docs,
       |    CAST(COALESCE(SUM(CASE WHEN n_blocked * 20 > n_tok
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS blk_docs
       |  FROM f),
       |a4 AS (
       |  SELECT COUNT(*) AS n_content,
       |    COUNT(DISTINCT md5(${Text.normSql})) AS n_distinct
       |  FROM documents WHERE text IS NOT NULL),
       |st AS (
       |  SELECT COALESCE(MAX(s_toks), 0) AS max_toks,
       |    CAST(COALESCE(SUM(s_toks), 0) AS BIGINT) AS tot_toks
       |  FROM (SELECT CAST(SUM(toks) AS BIGINT) AS s_toks
       |        FROM f GROUP BY source) src),
       |qh AS (
       |  SELECT CAST(FLOOR((${TextOps.qualityScoreSql})
       |    * ${TextOps.BudgetBlocks}) AS INT) AS b
       |  FROM documents),
       |sc AS (SELECT CAST(COUNT(b) AS BIGINT) AS n_scored FROM qh),
       |${Ingest.missingDaysSql},
       |gap AS (SELECT CAST(COUNT(*) AS BIGINT) AS gap_days FROM miss),
       |one AS (SELECT * FROM a1, a4, st, sc, gap)
       |SELECT * FROM (
       |  SELECT 'exact_dup_rate' AS "check",
       |    ${exactDivSqlC("n_content - n_distinct", "n_content")}
       |      AS observed,
       |    ${GateDupMaxBp / 10000.0} AS threshold,
       |    (n_content - n_distinct) * 10000 <= $GateDupMaxBp * n_content
       |      AS pass
       |  FROM one
       |  UNION ALL SELECT 'null_text_rate',
       |    ${exactDivSqlC("n_null_text", "n_docs")},
       |    ${GateNullMaxBp / 10000.0},
       |    n_null_text * 10000 <= $GateNullMaxBp * n_docs FROM one
       |  UNION ALL SELECT 'pii_doc_rate',
       |    ${exactDivSqlC("pii_docs", "n_docs")},
       |    ${GatePiiMaxBp / 10000.0},
       |    pii_docs * 10000 <= $GatePiiMaxBp * n_docs FROM one
       |  UNION ALL SELECT 'blocklist_flag_rate',
       |    ${exactDivSqlC("blk_docs", "n_docs")},
       |    ${GateBlockMaxBp / 10000.0},
       |    blk_docs * 10000 <= $GateBlockMaxBp * n_docs FROM one
       |  UNION ALL SELECT 'scored_rate',
       |    ${exactDivSqlC("n_scored", "n_docs")},
       |    ${GateScoredMinBp / 10000.0},
       |    n_scored * 10000 >= $GateScoredMinBp * n_docs FROM one
       |  UNION ALL SELECT 'top_source_token_share',
       |    ${exactDivSqlC("max_toks", "tot_toks")},
       |    ${GateTopSourceMaxBp / 10000.0},
       |    max_toks * 10000 <= $GateTopSourceMaxBp * tot_toks FROM one
       |  UNION ALL SELECT 'ingest_gap_days',
       |    CAST(gap_days AS DOUBLE), 0.0, gap_days = 0 FROM one
       |) g ORDER BY "check"""".stripMargin
  ) { (s, d) =>
    import graft.functions.Det.exactDiv
    val docs = Tables.documents(s, d)
    val flagged = TextOps.blocklistFlags(docs)
      .select(col("text"), col("blocked"), col("source"),
        Text.wordCount(col("text")).as("toks"),
        TextOps.nPiiCol(s, col("text")).as("npii"))
    // empty-lake sums coalesce to 0: a NULL count makes the integer
    // gate comparison NULL and the pass column undecidable
    val a1 = flagged.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(when(col("text").isNull, 1L).otherwise(0L)), lit(0L))
        .cast("long").as("n_null_text"),
      coalesce(sum(when(col("npii") > 0, 1L).otherwise(0L)), lit(0L))
        .cast("long").as("pii_docs"),
      coalesce(sum(when(col("blocked"), 1L).otherwise(0L)), lit(0L))
        .cast("long").as("blk_docs"))
    val a4 = docs.filter(col("text").isNotNull)
      .agg(count(lit(1)).as("n_content"),
        countDistinct(Text.contentKey(col("text"))).as("n_distinct"))
    val st = flagged.groupBy("source")
      .agg(sum(col("toks")).cast("long").as("s_toks"))
      .agg(coalesce(max("s_toks"), lit(0L)).as("max_toks"),
        coalesce(sum("s_toks"), lit(0L)).cast("long").as("tot_toks"))
    val sc = TextOps.sourceBucketCounts(s, d).filter(col("b").isNotNull)
      .agg(coalesce(sum("c"), lit(0L)).cast("long").as("n_scored"))
    val gap = Ingest.missingDays(s, d).agg(count(lit(1)).as("gap_days"))
    val one = a1.crossJoin(broadcast(a4)).crossJoin(broadcast(st))
      .crossJoin(broadcast(sc)).crossJoin(broadcast(gap))
    def row(check: String, observed: Column, thresholdBp: Long,
        pass: Column) =
      struct(lit(check).as("check"),
        observed.cast("double").as("observed"),
        lit(thresholdBp / 10000.0).as("threshold"),
        pass.as("pass"))
    def rate(num: Column, den: Column): Column =
      when(den === 0, lit(null)).otherwise(exactDiv(num, den, 4))
    val nDup = col("n_content") - col("n_distinct")
    one
      .select(explode(array(
        row("exact_dup_rate", rate(nDup, col("n_content")), GateDupMaxBp,
          nDup * 10000 <= lit(GateDupMaxBp) * col("n_content")),
        row("null_text_rate", rate(col("n_null_text"), col("n_docs")),
          GateNullMaxBp,
          col("n_null_text") * 10000 <= lit(GateNullMaxBp) * col("n_docs")),
        row("pii_doc_rate", rate(col("pii_docs"), col("n_docs")),
          GatePiiMaxBp,
          col("pii_docs") * 10000 <= lit(GatePiiMaxBp) * col("n_docs")),
        row("blocklist_flag_rate", rate(col("blk_docs"), col("n_docs")),
          GateBlockMaxBp,
          col("blk_docs") * 10000 <= lit(GateBlockMaxBp) * col("n_docs")),
        row("scored_rate", rate(col("n_scored"), col("n_docs")),
          GateScoredMinBp,
          col("n_scored") * 10000 >= lit(GateScoredMinBp) * col("n_docs")),
        row("top_source_token_share",
          rate(col("max_toks"), col("tot_toks")), GateTopSourceMaxBp,
          col("max_toks") * 10000 <=
            lit(GateTopSourceMaxBp) * col("tot_toks")),
        row("ingest_gap_days", col("gap_days").cast("double"), 0L,
          col("gap_days") === 0))).as("r"))
      .select(col("r.check").as("check"), col("r.observed").as("observed"),
        col("r.threshold").as("threshold"), col("r.pass").as("pass"))
      .orderBy("check")
  }

  val all: Seq[Q] = Seq(qCurationFunnel, qCleanCorpus, qDatacard, qReleaseGate)
}
