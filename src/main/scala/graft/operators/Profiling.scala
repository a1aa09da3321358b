package graft.operators

import graft.{Q, Tables}
import graft.functions.Det._
import graft.functions.GraftFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType}
import org.apache.spark.sql.{Column, DataFrame}

/** Data-quality profiling suite.
  *
  * Re-expresses the reference's analyzers
  * (src/analysis/data_quality_analyzer.py, src/analysis/deep_analysis.py)
  * as single-pass distributed aggregations: completeness profiles, moment
  * statistics, exact percentiles, histograms, duplicate detection, temporal
  * patterns, text-quality flags and script detection. Everything is one
  * groupBy/agg pass over the scan — no driver-side loops — so the same plan
  * profiles a 100 TB table.
  */
object Profiling {

  // single shared definition (Text) so the whitespace/empty semantics
  // cannot drift from TextOps' token counting
  private def wordCount(c: Column): Column = Text.wordCount(c)
  private val wordCountSql = Text.wordCountSql

  /** Per-column completeness profile (analyzer.analyze_missing_values:83,
    * deep_analysis 5c "field completeness"): one output row per column with
    * present/null/empty counts. Computed as a single aggregate pass then
    * unpivoted with stack() — one scan regardless of column count.
    */
  val qProfileCompleteness: Q = {
    val fields = Seq( // documents schema: (name, isString)
      ("doc_id", false), ("text", true), ("lang", true),
      ("source", true), ("n_chars", false))
    val oracle = fields.map { case (f, isStr) =>
      val present =
        if (isStr) s"COUNT(CASE WHEN $f IS NOT NULL AND $f <> '' THEN 1 END)"
        else s"COUNT($f)"
      val empty =
        if (isStr) s"CAST(SUM(CASE WHEN $f = '' THEN 1 ELSE 0 END) AS BIGINT)"
        else "CAST(0 AS BIGINT)"
      s"""SELECT '$f' AS field, $present AS n_present,
         |  COUNT(*) - COUNT($f) AS n_null, COALESCE($empty, 0) AS n_empty
         |FROM documents""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY field")

    Q("q_profile_completeness", oracle) { (s, d) =>
      val df = Tables.documents(s, d)
      val aggs = fields.flatMap { case (f, isStr) =>
        val c = col(f)
        val present =
          if (isStr) count(when(c.isNotNull && c =!= "", 1))
          else count(c)
        val empty =
          if (isStr) coalesce(sum(when(c === "", 1).otherwise(0)), lit(0L))
          else lit(0L)
        Seq(present.as(s"${f}__p"),
          (count(lit(1)) - count(c)).as(s"${f}__n"),
          empty.cast("long").as(s"${f}__e"))
      }
      val wide = df.agg(aggs.head, aggs.tail: _*)
      val stackExpr = fields.map { case (f, _) => s"'$f', ${f}__p, ${f}__n, ${f}__e" }
        .mkString(s"stack(${fields.size}, ", ", ", ") as (field, n_present, n_null, n_empty)")
      wide.selectExpr(stackExpr).orderBy("field")
    }
  }

  /** Distribution moments (deep_analysis §1: mean/median/stdev/skewness/
    * kurtosis with the reference's exact formulas — population 3rd/4th
    * moments over the SAMPLE stdev). Two distributed passes — the minimum
    * for central moments: pass 1 computes BOTH means (the 2-dp anchor and
    * the reported 4-dp mean) in one scan; pass 2 computes the central
    * sums about the anchor. Value is 2-dp, so dv = value − mstar is an
    * exact LONG in 10⁻² units and dv², dv³, dv⁴ are exact integers at
    * scales 4/6/8 — all per-row arithmetic is primitive long math inside
    * whole-stage codegen (the previous per-row DECIMAL multiply chain fell
    * off Spark's primitive aggregate fast path and cost 3.4×), summed in
    * [[graft.functions.Det.longTotal]] lanes and recombined exactly in
    * decimal once per group. dv⁴ would overflow a long per row, so it is
    * split as d2 = a·2²⁰ + b ⇒ dv⁴ = a²·2⁴⁰ + 2ab·2²⁰ + b² with each
    * component summed separately. Only the final stdev/skew/kurt formulas
    * run in doubles, on bit-identical exact inputs, with identical
    * association order in both engines.
    *
    * Exactness headroom (documented contract, fail-LOUD not silently
    * wrong — under ANSI mode an out-of-range narrowing throws
    * NUMERIC_VALUE_OUT_OF_RANGE rather than nulling): |dv·100| < 2¹⁹ per
    * row (|value − mean| ≤ ~5 242 — the events domain is rating-like,
    * max 560), Σ|dv|³ ≤ 10²⁵, Σdv⁴ ≤ 10²¹.
    */
  val qMoments: Q = Q(
    "q_moments",
    s"""WITH s AS (
       |  SELECT CAST(${exactAvgSql("value", 2, 2)} AS DECIMAL(18,2)) AS mstar
       |  FROM events
       |), dd AS (
       |  SELECT value,
       |    CAST(value AS DECIMAL(18,2)) - (SELECT mstar FROM s) AS dv
       |  FROM events
       |), agg AS (
       |  SELECT COUNT(*) AS n,
       |    quantile_cont(value, 0.5) AS med,
       |    CAST(SUM(CAST(dv*dv AS DECIMAL(19,4))) AS DOUBLE) AS m2,
       |    CAST(SUM(CAST(CAST(dv*dv AS DECIMAL(19,4)) * dv AS DECIMAL(24,6))) AS DOUBLE) AS m3,
       |    CAST(SUM(CAST(CAST(dv*dv AS DECIMAL(19,4)) * CAST(dv*dv AS DECIMAL(18,4)) AS DECIMAL(28,8))) AS DOUBLE) AS m4
       |  FROM dd
       |), mv AS (
       |  SELECT ${exactAvgSql("value", 4, 4)} AS mean_value FROM events
       |)
       |SELECT n AS n_values,
       |  mean_value,
       |  ROUND(med, 4) AS median_value,
       |  ROUND(SQRT(m2 / (n - 1)), 4) AS stdev_value,
       |  ROUND((m3 / n) / (SQRT(m2/(n-1)) * SQRT(m2/(n-1)) * SQRT(m2/(n-1))), 4) AS skewness,
       |  ROUND((m4 / n) / ((m2/(n-1)) * (m2/(n-1))) - 3, 4) AS kurtosis
       |FROM agg, mv""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.types.DecimalType
    import graft.functions.Det
    val ev = Tables.events(s, d)
    // pass 1 — ONE scan for both means; mstar becomes an exact integer in
    // 10⁻² units so pass 2 never touches decimals per row
    val means = ev.agg(
      exactAvg(col("value"), 2, 2).cast(DecimalType(18, 2)).as("mstar"),
      exactAvg(col("value"), 4, 4).as("mean_value"))
      .select((col("mstar") * 100).cast("long").as("mstarL"), col("mean_value"))
    val dvL = Det.scaledLong(col("value"), 2).cast("long") - col("mstarL")
    val d2 = dvL * dvL                       // < 2³⁸ under the |dvL| < 2¹⁹ contract
    val a = shiftright(d2, 20)               // d2 = a·2²⁰ + b (both < 2²⁰)
    val b = d2.bitwiseAND(lit((1L << 20) - 1))
    val dd = ev.crossJoin(broadcast(means))
    dd.agg(
      count(lit(1)).as("n"),
      expr("percentile(value, 0.5)").as("med"),
      max(col("mean_value")).as("mean_value"), // constant per the broadcast row
      Det.scaledToDouble(Det.longTotal(d2), 4).as("m2"),
      Det.scaledToDouble(Det.longTotal(d2 * dvL), 6).as("m3"),
      Det.scaledToDouble(
        Det.longTotal(a * a) * lit(1L << 40) +
          Det.longTotal(a * b) * lit(2L << 20) +
          Det.longTotal(b * b), 8).as("m4"))
      .select(
        col("n").as("n_values"),
        col("mean_value"),
        round(col("med"), 4).as("median_value"),
        round(sqrt(col("m2") / (col("n") - 1)), 4).as("stdev_value"),
        round((col("m3") / col("n")) /
          (sqrt(col("m2") / (col("n") - 1)) * sqrt(col("m2") / (col("n") - 1)) * sqrt(col("m2") / (col("n") - 1))), 4)
          .as("skewness"),
        round((col("m4") / col("n")) /
          ((col("m2") / (col("n") - 1)) * (col("m2") / (col("n") - 1))) - 3, 4)
          .as("kurtosis"))
  }

  /** Exact percentiles P5..P99 + IQR for char length and word count
    * (deep_analysis percentile():24 and §2). Spark `percentile` is the
    * exact linear-interpolation aggregate — same definition as DuckDB's
    * quantile_cont.
    */
  val qLengthPercentiles: Q = {
    def duck(metric: String, ex: String) =
      s"""SELECT '$metric' AS metric, COUNT(*) AS n,
         |  ROUND(quantile_cont($ex, 0.05), 4) AS p5,
         |  ROUND(quantile_cont($ex, 0.25), 4) AS p25,
         |  ROUND(quantile_cont($ex, 0.50), 4) AS p50,
         |  ROUND(quantile_cont($ex, 0.75), 4) AS p75,
         |  ROUND(quantile_cont($ex, 0.95), 4) AS p95,
         |  ROUND(quantile_cont($ex, 0.99), 4) AS p99,
         |  ROUND(quantile_cont($ex, 0.75) - quantile_cont($ex, 0.25), 4) AS iqr
         |FROM documents""".stripMargin
    Q("q_length_percentiles",
      duck("char_len", "length(text)") + "\nUNION ALL\n" +
        duck("word_count", wordCountSql) + "\nORDER BY metric") { (s, d) =>
      // ONE aggregation pass computes both metrics' percentile arrays;
      // the two output rows then unfold from the single agg row — the
      // union-of-two-aggs form would scan documents twice
      val df = Tables.documents(s, d)
        .select(length(col("text")).as("char_len"), wordCount(col("text")).as("word_count"))
      df.agg(
          count(lit(1)).as("n"),
          expr("percentile(char_len, array(0.05, 0.25, 0.5, 0.75, 0.95, 0.99))").as("pc"),
          expr("percentile(word_count, array(0.05, 0.25, 0.5, 0.75, 0.95, 0.99))").as("pw"))
        .select(col("n"), explode(array(
          struct(lit("char_len").as("metric"), col("pc").as("ps")),
          struct(lit("word_count").as("metric"), col("pw").as("ps")))).as("m"))
        .select(
          col("m.metric").as("metric"), col("n"),
          round(col("m.ps").getItem(0), 4).as("p5"),
          round(col("m.ps").getItem(1), 4).as("p25"),
          round(col("m.ps").getItem(2), 4).as("p50"),
          round(col("m.ps").getItem(3), 4).as("p75"),
          round(col("m.ps").getItem(4), 4).as("p95"),
          round(col("m.ps").getItem(5), 4).as("p99"),
          round(col("m.ps").getItem(3) - col("m.ps").getItem(1), 4).as("iqr"))
        .orderBy("metric")
    }
  }

  /** Bucketized char-length histogram (deep_analysis §2, analyzer
    * length_distribution) with share-of-total via a window over the tiny
    * grouped result.
    */
  val qLengthHistogram: Q = {
    val edges = Seq( // (bucket_id, label, lo, hi) — hi inclusive, -1 = open
      (0, "empty", 0, 0), (1, "1-10", 1, 10), (2, "11-25", 11, 25),
      (3, "26-50", 26, 50), (4, "51-100", 51, 100), (5, "101-200", 101, 200),
      (6, "201-350", 201, 350), (7, "351-500", 351, 500), (8, "500+", 501, -1))
    val sqlCaseId = edges.map { case (id, _, lo, hi) =>
      if (hi < 0) s"WHEN length(text) >= $lo THEN $id"
      else s"WHEN length(text) BETWEEN $lo AND $hi THEN $id"
    }.mkString("CASE ", " ", " END")
    val sqlCaseLabel = edges.map { case (id, label, _, _) =>
      s"WHEN $id THEN '$label'"
    }.mkString("CASE bucket_id ", " ", " END")
    Q("q_length_histogram",
      s"""WITH b AS (SELECT $sqlCaseId AS bucket_id FROM documents)
         |SELECT CAST(bucket_id AS INTEGER) AS bucket_id,
         |  $sqlCaseLabel AS bucket,
         |  COUNT(*) AS n_docs,
         |  ${exactDivSql("100 * COUNT(*)", "(SELECT COUNT(*) FROM documents)", 2)} AS pct
         |FROM b GROUP BY bucket_id ORDER BY bucket_id""".stripMargin) { (s, d) =>
      val len = length(col("text"))
      val id = edges.foldLeft(lit(null).cast("int")) { case (acc, (bid, _, lo, hi)) =>
        if (hi < 0) when(len >= lo, bid).otherwise(acc)
        else when(len.between(lo, hi), bid).otherwise(acc)
      }
      val label = edges.foldLeft(lit(null).cast(StringType)) { case (acc, (bid, lbl, _, _)) =>
        when(col("bucket_id") === bid, lbl).otherwise(acc)
      }
      val grouped = Tables.documents(s, d)
        .select(id.as("bucket_id"))
        .groupBy("bucket_id").agg(count(lit(1)).as("n_docs"))
      grouped
        .withColumn("bucket", label)
        // unpartitioned window over the BUCKET AGGREGATE (6 rows at any
        // corpus size) — the single-partition warning does not apply to
        // aggregate-grain inputs
        .withColumn("pct",
          exactDiv(lit(100) * col("n_docs"),
            sum(col("n_docs")).over(Window.partitionBy()), 2))
        .select("bucket_id", "bucket", "n_docs", "pct")
        .orderBy("bucket_id")
    }
  }

  /** Per-group length stats (deep_analysis "length by rating", 5e) keyed on
    * document language.
    */
  val qLengthByGroup: Q = Q(
    "q_length_by_group",
    s"""SELECT lang, COUNT(*) AS n_docs,
       |  ${intAvgSql("length(text)", 2)} AS avg_chars,
       |  ROUND(quantile_cont(length(text), 0.5), 4) AS median_chars,
       |  ROUND(quantile_cont(length(text), 0.95), 4) AS p95_chars,
       |  ${intAvgSql(wordCountSql, 2)} AS avg_words,
       |  CAST(SUM(CASE WHEN length(text) <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS short_cnt
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), length(col("text")).as("cl"), wordCount(col("text")).as("wc"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        intAvg(col("cl"), 2).as("avg_chars"),
        round(expr("percentile(cl, 0.5)"), 4).as("median_chars"),
        round(expr("percentile(cl, 0.95)"), 4).as("p95_chars"),
        intAvg(col("wc"), 2).as("avg_words"),
        sum(when(col("cl") <= 10, 1).otherwise(0)).as("short_cnt"))
      .orderBy("lang")
  }

  /** Duplicate-key detection (analyzer.analyze_duplicates:345, deep 5a):
    * keys with more than one row.
    */
  val qDupKeys: Q = Q(
    "q_dup_keys",
    """SELECT user_id, event_type, COUNT(*) AS dup_count
      |FROM events GROUP BY user_id, event_type HAVING COUNT(*) > 1
      |ORDER BY user_id, event_type""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)
      .orderBy("user_id", "event_type")
  }

  /** How many heavy keys [[qSkewKeys]] reports. */
  private[graft] val SkewTopK = 20

  /** Heavy-hitter shuffle-key diagnostic — the measurement behind every
    * SURVEY §4 salting/skew decision (the reference's per-app rollups
    * assume keys distribute evenly; at web scale they never do — one
    * viral user/page/domain makes one shuffle partition the straggler):
    * the top-[[SkewTopK]] `user_id` keys of the event stream by row
    * count, each with its exact corpus share and its skew multiple
    * (count ÷ the mean rows-per-key). A key at skew_x ≫ 1 is precisely
    * the key AQE skew-join splitting or salting exists for; a flat
    * report certifies the key is safe to shuffle on. Reading this BEFORE
    * picking a join/aggregation strategy is the executable form of
    * §4.10's "the operator knows more than the optimizer".
    *
    * Scale shape (100 TB): per-key counts are one map-side-combined
    * aggregate (a hot key's updates are absorbed in partials — a hash
    * aggregate has no hot-partition problem, unlike a window); the
    * top-k is a bounded-heap TakeOrderedAndProject over the
    * post-aggregation key table — never a global sort; the 1-row
    * (total, n_keys) frame broadcasts; the rank window orders
    * [[SkewTopK]] rows. Ratios are exact integer divisions.
    */
  val qSkewKeys: Q = Q(
    "q_skew_keys",
    s"""WITH c AS (
       |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1),
       |g AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_keys FROM c),
       |t AS (SELECT user_id, n FROM c ORDER BY n DESC, user_id NULLS LAST
       |      LIMIT $SkewTopK)
       |SELECT row_number() OVER (ORDER BY n DESC, user_id NULLS LAST)
       |  AS rank,
       |  user_id, n AS n_events,
       |  ${exactDivSql("n", "total", 6)} AS share,
       |  ${exactDivSql("CAST(n AS HUGEINT) * n_keys", "total", 2)} AS skew_x
       |FROM t, g ORDER BY rank""".stripMargin
  ) { (s, d) =>
    val c = Tables.events(s, d)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val g = c.agg(sum("n").cast("long").as("total"),
      count(lit(1)).as("n_keys"))
    c.orderBy(col("n").desc, col("user_id").asc_nulls_last).limit(SkewTopK)
      .crossJoin(broadcast(g))
      .select(
        // nulls LAST explicitly: Spark asc defaults nulls first, DuckDB
        // nulls last — a NULL key tying a real key at the cut would
        // otherwise rank differently per engine (the champion-pick rule)
        row_number().over(
          Window.orderBy(col("n").desc, col("user_id").asc_nulls_last))
          .as("rank"),
        col("user_id"), col("n").as("n_events"),
        exactDiv(col("n"), col("total"), 6).as("share"),
        exactDiv(col("n").cast(DecimalType(38, 0)) * col("n_keys"),
          col("total"), 2).as("skew_x"))
      .orderBy("rank")
  }

  /** Embedding-table health profile — the completeness audit for the
    * VECTOR side of the lake (the text/event profiles 18–29 have no
    * embedding member, yet every similarity/ANN operator quietly assumes
    * vectors are present, finite, non-zero and same-dimension; an
    * upstream encoder bug ships NaNs or zero vectors long before any
    * recall metric notices). Per label: vector count, NULL vectors,
    * NaN-carrying vectors, all-zero vectors (cosine-undefined — a zero
    * vector silently lands wherever the kernel's 0/0 goes), the usable
    * rate, and the min/max dimension (a healthy table has exactly one).
    * The categories are mutually exclusive in rule order
    * null → NaN → zero, so the counts add up.
    *
    * Everything is integer-exact — no float aggregate crosses engines:
    * NaN/zero detection is a per-row lambda (codegen'd HOF, no UDF),
    * counts and the half-up usable rate are exact integers.
    *
    * Scale shape (100 TB): ONE scan, one map-side-combined label-grain
    * aggregate — label cardinality is tiny, and a hash aggregate absorbs
    * any hot label in partials. No shuffle beyond the O(#labels) rows.
    */
  val qEmbedProfile: Q = Q(
    "q_embed_profile",
    s"""SELECT label, COUNT(*) AS n_vecs,
       |  CAST(SUM(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_null_vec,
       |  CAST(SUM(CASE WHEN embedding IS NOT NULL
       |    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) > 0
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_nan_vec,
       |  CAST(SUM(CASE WHEN embedding IS NOT NULL
       |    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0
       |    AND len(list_filter(embedding, x -> x <> 0)) = 0
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vec,
       |  ${exactDivSql(
             "COUNT(*) - SUM(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END)" +
               " - SUM(CASE WHEN embedding IS NOT NULL AND" +
               " len(list_filter(embedding, x -> x IS NULL OR isnan(x))) > 0" +
               " THEN 1 ELSE 0 END)" +
               " - SUM(CASE WHEN embedding IS NOT NULL AND" +
               " len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0 AND" +
               " len(list_filter(embedding, x -> x <> 0)) = 0" +
               " THEN 1 ELSE 0 END)",
             "COUNT(*)", 4)} AS usable_rate,
       |  CAST(MIN(len(embedding)) AS BIGINT) AS min_dim,
       |  CAST(MAX(len(embedding)) AS BIGINT) AS max_dim
       |FROM embeddings GROUP BY 1 ORDER BY label""".stripMargin
  ) { (s, d) =>
    val isNullV = col("embedding").isNull
    // the lambda treats a NULL ELEMENT as non-finite too — Spark's
    // exists() would return NULL on (no true, some null) while DuckDB's
    // list_filter silently DROPS null lambda results; classifying null
    // elements as NaN-like first makes both engines agree (and a vector
    // with missing components is genuinely not usable)
    val hasNan = coalesce(
      exists(col("embedding"), x => x.isNull || isnan(x)), lit(false))
    val isZero = size(filter(col("embedding"), x => x =!= lit(0.0f))) === 0
    val nNull = sum(when(isNullV, 1L).otherwise(0L))
    val nNan = sum(when(!isNullV && hasNan, 1L).otherwise(0L))
    val nZero = sum(when(!isNullV && !hasNan && isZero, 1L).otherwise(0L))
    Tables.table(s, d, "embeddings")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        nNull.as("n_null_vec"), nNan.as("n_nan_vec"), nZero.as("n_zero_vec"),
        exactDiv(count(lit(1)) - nNull - nNan - nZero, count(lit(1)), 4)
          .as("usable_rate"),
        min(size(col("embedding"))).cast("long").as("min_dim"),
        max(size(col("embedding"))).cast("long").as("max_dim"))
      .orderBy("label")
  }

  /** Repeated-content detection (deep 5b "top repeated texts") on the
    * 2-word opening phrase — duplicate-content grouping that still
    * aggregates (never collects) at scale.
    */
  val qDupContent: Q = Q(
    "q_dup_content",
    """SELECT prefix, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
      |FROM (SELECT array_to_string(string_split(text, ' ')[1:2], ' ') AS prefix,
      |             doc_id FROM documents WHERE text IS NOT NULL) t
      |GROUP BY prefix HAVING COUNT(*) > 1
      |ORDER BY n_docs DESC, prefix""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      // null text is excluded in BOTH engines: Spark's concat_ws would fold
      // it into the ''-prefix group while DuckDB keeps a NULL group
      .filter(col("text").isNotNull)
      .select(concat_ws(" ", slice(split(col("text"), " "), 1, 2)).as("prefix"), col("doc_id"))
      .groupBy("prefix")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("n_docs").desc, col("prefix"))
  }

  /** Day-of-week / hour-of-day histograms (deep_analysis §3). */
  val qTemporalHistogram: Q = Q(
    "q_temporal_histogram",
    """SELECT 'dow' AS dim, dayname(ts) AS bucket, COUNT(*) AS n_events
      |FROM events GROUP BY bucket
      |UNION ALL
      |SELECT 'hour' AS dim, lpad(CAST(hour(ts) AS VARCHAR), 2, '0') AS bucket, COUNT(*) AS n_events
      |FROM events GROUP BY bucket
      |ORDER BY dim, bucket""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
    val dow = ev.groupBy(date_format(col("ts"), "EEEE").as("bucket"))
      .agg(count(lit(1)).as("n_events"))
      .select(lit("dow").as("dim"), col("bucket"), col("n_events"))
    val hr = ev.groupBy(lpad(hour(col("ts")).cast("string"), 2, "0").as("bucket"))
      .agg(count(lit(1)).as("n_events"))
      .select(lit("hour").as("dim"), col("bucket"), col("n_events"))
    dow.unionAll(hr).orderBy("dim", "bucket")
  }

  /** Suspicious / low-quality text flags (deep_analysis 5f). The
    * repeated-chars flag would need a regex backreference (Java-only; RE2
    * used by the oracle lacks it) so it lives in [[qRepeatedChars]] below,
    * oracle-checked via the backref-free enumerated alternation.
    */
  val qQualityFlags: Q = Q(
    "q_quality_flags",
    raw"""SELECT COUNT(*) AS total_docs,
      |  CAST(SUM(CASE WHEN trim(text) = '' THEN 1 ELSE 0 END) AS BIGINT) AS empty_cnt,
      |  CAST(SUM(CASE WHEN trim(text) <> '' AND ($wordCountSql) = 1
      |    THEN 1 ELSE 0 END) AS BIGINT) AS single_word_cnt,
      |  CAST(SUM(CASE WHEN trim(text) <> '' AND ($wordCountSql) BETWEEN 2 AND 3
      |    THEN 1 ELSE 0 END) AS BIGINT) AS two_three_word_cnt,
      |  CAST(SUM(CASE WHEN length(text) > 5
      |    AND ${Text.asciiUpperSql("text")} = text
      |    AND ${Text.asciiLowerSql("text")} <> text
      |    THEN 1 ELSE 0 END) AS BIGINT) AS all_caps_cnt,
      |  CAST(SUM(CASE WHEN text <> '' AND NOT regexp_matches(text, '[a-zA-Z]') THEN 1 ELSE 0 END) AS BIGINT) AS no_latin_cnt,
      |  CAST(SUM(CASE WHEN length(text) > 5 AND length(regexp_replace(text, '[^!?.,:;]', '', 'g')) * 1.0 / length(text) > 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS punct_heavy_cnt,
      |  CAST(SUM(CASE WHEN regexp_matches(text, 'https?://|www\.') THEN 1 ELSE 0 END) AS BIGINT) AS url_cnt
      |FROM documents""".stripMargin
  ) { (s, d) =>
    val t = col("text")
    val wc = wordCount(t)
    Tables.documents(s, d).agg(
      count(lit(1)).as("total_docs"),
      sum(when(trim(t) === "", 1).otherwise(0)).as("empty_cnt"),
      sum(when(trim(t) =!= "" && wc === 1, 1).otherwise(0)).as("single_word_cnt"),
      sum(when(trim(t) =!= "" && wc.between(2, 3), 1).otherwise(0)).as("two_three_word_cnt"),
      // ASCII-letter case test by contract (Text.asciiUpper): Spark's
      // upper() is ICU FULL mapping while DuckDB's is utf8proc SIMPLE —
      // a ﬁ-ligature (full-maps to FI, simple-maps to itself) flips the
      // upper(t)=t test between engines
      sum(when(length(t) > 5 && Text.asciiUpper(t) === t &&
        Text.asciiLower(t) =!= t, 1).otherwise(0)).as("all_caps_cnt"),
      sum(when(t =!= "" && !t.rlike("[a-zA-Z]"), 1).otherwise(0)).as("no_latin_cnt"),
      sum(when(length(t) > 5 &&
        length(regexp_replace(t, "[^!?.,:;]", "")) * lit(1.0) / length(t) > 0.3, 1).otherwise(0))
        .as("punct_heavy_cnt"),
      sum(when(t.rlike("https?://|www\\."), 1).otherwise(0)).as("url_cnt"))
  }

  /** Spam-style repeated-character detection (analyzer.analyze_text_quality:193
    * `(.)\1{4,}`). The reference's backreference is inexpressible in the
    * oracle's RE2 — instead of settling for a rows-only check, BOTH
    * engines compute the identical backref-free enumerated-run language,
    * which is hash-exact. The ORACLE runs it as the alternation
    * `a{5,}|b{5,}|…`; the SPARK side runs the codegen'd
    * [[graft.functions.RepeatedRunKernel]] — one O(len) byte scan with
    * early exit, replacing the 87-branch alternation NFA per row the r3
    * promotion paid (~7× the pre-promotion scan). Both derive from ONE
    * char-set definition (RepeatedRunKernel.Alnum/Punct) so they cannot drift;
    * a spec pins kernel ≡ regex on crafted strings AND corpus-wide.
    * The DOCUMENTED narrowing vs the true backref: only the enumerated
    * characters are detected — a run of an unlisted character
    * (non-ASCII, or the 4 regex-structural chars left out) passes
    * unflagged. The synthetic corpus itself contains no 5+ run at any SF.
    */
  private[graft] val RepeatRunPattern: String = {
    import graft.functions.RepeatedRunKernel
    val alnum = RepeatedRunKernel.Alnum.map(c => s"$c{${RepeatedRunKernel.MinRun},}")
    // punctuation via single-char classes — identical semantics in Java
    // regex and RE2 without per-engine escaping rules (see RepeatedRunKernel.Punct
    // for the exclusions)
    val punct = RepeatedRunKernel.Punct.map(c => s"[$c]{${RepeatedRunKernel.MinRun},}")
    (alnum ++ punct).mkString("|")
  }

  val qRepeatedChars: Q = Q(
    "q_repeated_chars",
    s"""SELECT regexp_matches(text, '$RepeatRunPattern') AS has_repeated_run,
       |  COUNT(*) AS n_docs
       |FROM documents WHERE text IS NOT NULL
       |GROUP BY 1 ORDER BY has_repeated_run""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(GraftFunctions.call("graft_repeated_run", col("text"))
        .as("has_repeated_run"))
      .groupBy("has_repeated_run")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("has_repeated_run")
  }

  /** Unicode script distribution (analyzer.analyze_language_issues:388):
    * first-match priority CASE over script ranges.
    */
  val qScriptDistribution: Q = Q(
    "q_script_distribution",
    """SELECT CASE
      |    WHEN regexp_matches(text, '[а-яА-ЯёЁ]') THEN 'cyrillic'
      |    WHEN regexp_matches(text, '[\x{0600}-\x{06FF}]') THEN 'arabic'
      |    WHEN regexp_matches(text, '[\x{0900}-\x{097F}]') THEN 'devanagari'
      |    WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}\x{3400}-\x{4dbf}]') THEN 'cjk'
      |    WHEN regexp_matches(text, '[a-zA-Z]') THEN 'latin'
      |    ELSE 'other' END AS script,
      |  COUNT(*) AS n_docs
      |FROM documents GROUP BY script ORDER BY script""".stripMargin
  ) { (s, d) =>
    val t = col("text")
    Tables.documents(s, d)
      .select(
        when(t.rlike("[а-яА-ЯёЁ]"), "cyrillic")
          .when(t.rlike("[؀-ۿ]"), "arabic")
          .when(t.rlike("[ऀ-ॿ]"), "devanagari")
          .when(t.rlike("[一-鿿㐀-䶿]"), "cjk")
          .when(t.rlike("[a-zA-Z]"), "latin")
          .otherwise("other").as("script"))
      .groupBy("script").agg(count(lit(1)).as("n_docs"))
      .orderBy("script")
  }

  /** Encoding-issues profile (analyze_language_issues:388, the non-script
    * half): docs containing non-ASCII text, U+FFFD replacement characters
    * (mojibake markers), and undecoded HTML entities. Non-ASCII is detected
    * as octet_length > char_length — a byte/char comparison both engines
    * define identically, with no regex-dialect parity risk.
    */
  val qEncodingIssues: Q = Q(
    "q_encoding_issues",
    raw"""SELECT COUNT(*) AS total_docs,
       |  CAST(SUM(CASE WHEN strlen(text) > length(text)
       |       THEN 1 ELSE 0 END) AS BIGINT) AS non_ascii_docs,
       |  ${exactDivSql("100 * SUM(CASE WHEN strlen(text) > length(text) THEN 1 ELSE 0 END)",
                        "COUNT(*)", 1)} AS non_ascii_pct,
       |  CAST(SUM(CASE WHEN position('�' IN text) > 0
       |       THEN 1 ELSE 0 END) AS BIGINT) AS encoding_error_docs,
       |  CAST(SUM(CASE WHEN text LIKE '%&amp;%' OR text LIKE '%&lt;%'
       |       OR text LIKE '%&#%' THEN 1 ELSE 0 END) AS BIGINT) AS html_entity_docs
       |FROM documents""".stripMargin
  ) { (s, d) =>
    val t = col("text")
    Tables.documents(s, d).agg(
      count(lit(1)).as("total_docs"),
      sum(when(octet_length(t) > length(t), 1).otherwise(0)).as("non_ascii_docs"),
      exactDiv(lit(100) * sum(when(octet_length(t) > length(t), 1).otherwise(0)),
        count(lit(1)), 1).as("non_ascii_pct"),
      sum(when(t.contains("�"), 1).otherwise(0)).as("encoding_error_docs"),
      sum(when(t.contains("&amp;") || t.contains("&lt;") || t.contains("&#"), 1)
        .otherwise(0)).as("html_entity_docs"))
  }

  /** Zero-inflation analysis (deep_analysis §6 thumbs-up) on l_discount. */
  val qZeroInflation: Q = Q(
    "q_zero_inflation",
    s"""SELECT COUNT(*) AS total_lines,
       |  CAST(SUM(CASE WHEN l_discount = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_cnt,
       |  ${exactDivSql("100 * SUM(CASE WHEN l_discount = 0 THEN 1 ELSE 0 END)", "COUNT(*)", 1)} AS zero_pct,
       |  ${exactDivSql("CAST(SUM(CAST(ROUND(CASE WHEN l_discount > 0 THEN l_discount END, 4) AS DECIMAL(30,4))) * 10000 AS HUGEINT)",
                     "SUM(CASE WHEN l_discount > 0 THEN 1 ELSE 0 END) * 10000", 4)} AS nonzero_avg,
       |  MAX(l_discount) AS max_discount
       |FROM lineitem""".stripMargin
  ) { (s, d) =>
    val c = col("l_discount")
    Tables.lineitem(s, d).agg(
      count(lit(1)).as("total_lines"),
      sum(when(c === 0, 1).otherwise(0)).as("zero_cnt"),
      exactDiv(lit(100) * sum(when(c === 0, 1).otherwise(0)), count(lit(1)), 1)
        .as("zero_pct"),
      exactDiv(
        (sum(when(c > 0, round(c, 4).cast(DecimalType(30, 4)))) * 10000)
          .cast(DecimalType(38, 0)),
        sum(when(c > 0, 1).otherwise(0)) * 10000, 4).as("nonzero_avg"),
      max(c).as("max_discount"))
  }

  /** Cohort comparison (deep_analysis §7 replied-vs-unreplied) on order
    * status cohorts.
    */
  val qCohortCompare: Q = Q(
    "q_cohort_compare",
    s"""SELECT o_orderstatus AS cohort, COUNT(*) AS n_orders,
       |  ${exactAvgSql("o_totalprice", 2, 2)} AS avg_price,
       |  ${exactSumSql("o_totalprice", 2)} AS total_price
       |FROM orders GROUP BY o_orderstatus ORDER BY cohort""".stripMargin
  ) { (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus").as("cohort"))
      .agg(
        count(lit(1)).as("n_orders"),
        exactAvg(col("o_totalprice"), 2, 2).as("avg_price"),
        exactSum(col("o_totalprice"), 2).as("total_price"))
      .orderBy("cohort")
  }

  /** Sketch-based profile — the 100 TB twin of the exact profiling ops:
    * HyperLogLog++ distinct counts and t-digest-style approx percentiles
    * run in one pass with O(1) state per partition, where the exact
    * versions (q_dup_keys, q_length_percentiles) shuffle every value.
    * Rows-only (sketches are estimation, not SQL-reproducible); the spec
    * pins relative-error bounds against the exact answers.
    */
  val qApproxProfile: Q = Q.rowsOnly("q_approx_profile") { (s, d) =>
    // one array-form sketch pass, then flattened to scalar columns: the
    // driver hash-sorts every output with pandas, and array cells are
    // unhashable there — scalar columns keep the rows-only check clean
    Tables.events(s, d).agg(
      approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
      approx_count_distinct(col("event_id"), 0.02).as("approx_events"),
      // accuracy 1000 = 0.1% rank error, far inside the spec's tolerance;
      // the 10000 default-ish setting cost ~2 s at sf0.1 for no extra
      // certified precision (GK summary merge cost grows with accuracy)
      percentile_approx(col("value"), array(lit(0.5), lit(0.95), lit(0.99)),
        lit(1000)).as("ps"))
      .select(col("approx_users"), col("approx_events"),
        col("ps").getItem(0).as("value_p50"),
        col("ps").getItem(1).as("value_p95"),
        col("ps").getItem(2).as("value_p99"))
  }

  /** Pearson correlation per key (deep_analysis.py:373 "Rating vs. review
    * length" 5e, lifted from per-star tables to the coefficient itself):
    * value vs payload size per event_type. One groupBy pass over raw sums —
    * the textbook n·Σxy−ΣxΣy form — with every sum an exact integer:
    * x = value in cents ([[graft.functions.Det.scaledLong]], 2-dp
    * contract), y = char length. The combination arithmetic runs in
    * DECIMAL/HUGEINT with products capped at precision 37, so both
    * engines reach bit-identical integers before the single sqrt/divide
    * in doubles. Headroom: the closed form needs ≤18-digit sums for the
    * ΣxΣy product to stay exact inside DECIMAL(38), which at the measured
    * per-row magnitudes (x² ≈ 5·10⁷) means ~2·10¹⁰ rows per key; past
    * that the ANSI decimal cast fails LOUDLY rather than drifting from
    * the oracle — at larger per-key volumes, pre-aggregate (e.g. daily
    * sums feeding the same identity) or center first as qMoments does.
    * Zero-variance keys yield NULL (guarded on the exact integers, not
    * the doubles) and singleton keys are dropped — in both engines
    * identically.
    */
  val qCorrPearson: Q = Q(
    "q_corr_pearson",
    """WITH z AS (
      |  SELECT event_type,
      |    CAST(CAST(ROUND(value, 2) AS DECIMAL(18,2)) * 100 AS HUGEINT) AS x,
      |    CAST(length(props) AS HUGEINT) AS y
      |  FROM events WHERE value IS NOT NULL AND props IS NOT NULL
      |), s AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
      |    SUM(x*x) AS sxx, SUM(y*y) AS syy
      |  FROM z GROUP BY event_type
      |)
      |SELECT event_type, n AS n_pairs,
      |  CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN
      |    ROUND(CAST(n*sxy - sx*sy AS DOUBLE) /
      |      (SQRT(CAST(n*sxx - sx*sx AS DOUBLE)) *
      |       SQRT(CAST(n*syy - sy*sy AS DOUBLE))), 4)
      |  END AS corr_value_payload
      |FROM s WHERE n >= 2 ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .where(col("value").isNotNull && col("props").isNotNull)
    val x = graft.functions.Det.scaledLong(col("value"), 2).cast("long")
    val y = length(col("props")).cast("long")
    val sums = ev.select(col("event_type"), x.as("x"), y.as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val n  = col("n").cast(DecimalType(12, 0))
    def d18(c: Column) = c.cast(DecimalType(18, 0))
    val num = n * d18(col("sxy")) - d18(col("sx")) * d18(col("sy"))
    val dx  = n * d18(col("sxx")) - d18(col("sx")) * d18(col("sx"))
    val dy  = n * d18(col("syy")) - d18(col("sy")) * d18(col("sy"))
    sums.where(col("n") >= 2)
      .select(col("event_type"), col("n").as("n_pairs"),
        when(dx > 0 && dy > 0,
          round(num.cast("double") /
            (sqrt(dx.cast("double")) * sqrt(dy.cast("double"))), 4))
          .as("corr_value_payload"))
      .orderBy("event_type")
  }

  val all: Seq[Q] = Seq(qApproxProfile,
    qProfileCompleteness, qMoments, qLengthPercentiles, qLengthHistogram,
    qLengthByGroup, qDupKeys, qSkewKeys, qDupContent, qEmbedProfile, qTemporalHistogram, qQualityFlags,
    qRepeatedChars, qScriptDistribution, qEncodingIssues, qZeroInflation,
    qCohortCompare, qCorrPearson)
}
