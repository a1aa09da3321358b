package graft.operators

import graft.{Q, SessionCache, Tables}
import graft.functions.Det._
import graft.functions.GraftFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Text-analysis operators for the LLM-training-data pipeline (SURVEY §2.5):
  * exact dedup, language ID, quality scoring, token counting, and document
  * fingerprinting. All hot-path expressions are built-in `functions._`
  * (codegen'd); the rolling-hash fingerprint is a native graft kernel
  * ([[graft.functions.RollingHashKernel]]) — no UDFs anywhere.
  *
  * The reference corpus analyzers (src/analysis/data_quality_analyzer.py,
  * deep_analysis.py) motivate the flags/ratios; the dedup/fingerprint/
  * quality ops are the 100 TB-scale extensions a training-data pipeline
  * needs on top.
  */
object TextOps {

  /** Whitespace-collapsed lowercase normalization — the canonical form all
    * content dedup/fingerprints key on.
    */
  private val normSql = Text.normSql
  private def norm = Text.norm(col("text"))


  /** Quality-quantization fan-out for [[qBudgetSelect]]'s two-level
    * running sum (also the [[qQualityKs]] CDF grid): rows partition into
    * ⌊q·BudgetBlocks⌋ blocks, so this bounds the level-1 parallelism.
    * 2000 gives ~2002 possible blocks — block-OFFSET rows stay
    * post-aggregation-tiny while the row-grain work spreads far beyond
    * the executor count whenever quality is dispersed. The honest
    * limitation: balance depends on the score DISTRIBUTION — a score
    * atom (many docs with one exact double, e.g. a clamped component)
    * serializes its block into one task no matter how fine the grid.
    * The lake-scale escape for atomic distributions is
    * range-partitioning the full (q, doc_id) sort key
    * (repartitionByRange + spark_partition_id as the block key), which
    * balances by sampling at any distribution — not taken here because
    * its two consumers must share ONE physical range exchange (sampled
    * boundaries differ per exchange; correctness would ride on
    * ReuseExchange firing) where the deterministic grid needs no such
    * coupling. Declared at the TOP of the object: oracle strings
    * interpolate it at object-init time, and a later-declared val reads
    * as 0 from any Q initialized above it (initialization order, not
    * lexical scope — the q_quality_ks `* 0` incident).
    */
  private[graft] val BudgetBlocks = 2000

  /** Exact content dedup (hash-groupBy keep-min-id): one shuffle on the
    * md5 of normalized text; survivors = min doc_id per group. At 100 TB
    * this is the map-side-combine pattern — the hash is 16 bytes/row into
    * the shuffle regardless of document size.
    */
  val qDedupExact: Q = Q(
    "q_dedup_exact",
    s"""SELECT md5($normSql) AS content_hash,
       |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
       |FROM documents
       |GROUP BY 1 ORDER BY keep_id""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(Text.contentKey(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")
  }

  private val stopwords = Seq(
    "en" -> Seq("the", "and", "is", "of", "to", "a"),
    "es" -> Seq("el", "la", "de", "que", "y", "en"),
    "de" -> Seq("der", "die", "und", "ist", "das", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"))

  /** [[stopwords]] exposed for the kernel-equivalence spec. */
  private[graft] def stopwordLists: Seq[(String, Seq[String])] = stopwords

  private def stopPattern(ws: Seq[String]) = s" (${ws.mkString("|")}) "

  /** Shared language-ID fragments — ONE spelling of the padding, the CJK
    * probe, the per-list scores and the argmax CASE, driving both the
    * [[qLangId]] confusion matrix and [[qDocFeatures]]'s per-document
    * prediction (and their oracles), so the rule cannot drift between
    * consumers. The SQL pieces assume a frame carrying `padded`, `cjk`
    * and the `s_xx` score columns ([[langSignalsSql]] builds them).
    */
  // Text.asciiLowerSql, not lower(): everything outside [a-z] is stripped
  // after the fold and the stopword lists are ASCII, so only A-Z → a-z
  // matters, and lower() would make it depend on the engine and the host.
  // Spark (ICU case maps off) lowercases a string holding any non-ASCII
  // byte with String.toLowerCase() under the JVM's default locale: under
  // tr-TR 'I' → dotless 'ı', which the [a-z] strip then drops. The Spark
  // side folds A-Z inside graft_stop_counts' byte scan, the same map
  private val paddedSql =
    s"' ' || regexp_replace(${Text.asciiLowerSql("text")}, '[^a-z]+', ' ', 'g') || ' '"
  private val cjkSql = "regexp_matches(text, '[\\x{4e00}-\\x{9fff}]')"
  private val langScoresSql = stopwords.map { case (l, ws) =>
    s"len(regexp_extract_all(padded, '${stopPattern(ws)}')) AS s_$l"
  }.mkString(",\n      |    ")
  private val langCaseSql =
    """CASE WHEN padded IS NULL THEN 'und'
      |       WHEN cjk THEN 'zh'
      |       WHEN s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 THEN 'und'
      |       WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
      |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
      |       WHEN s_de >= s_fr THEN 'de'
      |       ELSE 'fr' END""".stripMargin

  /** ADDS cjk and the per-list s_xx score columns (via a transient
    * sc_all array) to any frame with a `text` column; input columns ride
    * along. A `padded` column is NOT created since the r12 kernels —
    * only the DuckDB oracle still names its padded CTE column that way.
    * The working columns are reserved (the hashRank/withSimhashFp
    * contract): withColumn would silently REPLACE a same-named caller
    * column — wrong data, not an error.
    */
  private def withLangSignals(df: DataFrame): DataFrame = {
    val reserved = "cjk" +: "sc_all" +:
      stopwords.map { case (l, _) => s"s_$l" }
    require(!df.columns.exists(reserved.contains),
      s"withLangSignals reserves columns $reserved")
    // one byte-scan kernel for all four per-list counts, ASCII fold
    // included (graft_stop_counts — exactly the padded regexp_count over
    // asciiLower per its scaladoc; see paddedSql for the fold) + the CJK range
    // probe. Replaces the padded-string materialization and four
    // per-list NFA walks per row; the
    // DuckDB oracle keeps the regex spelling, so the hash gate re-proves
    // the kernel every Verify.
    var out = df
      .withColumn("cjk", GraftFunctions.call("graft_cjk", col("text")))
      .withColumn("sc_all", GraftFunctions.call("graft_stop_counts",
        col("text"), typedlit(stopwords.map(_._2))))
    for (((l, _), idx) <- stopwords.zipWithIndex)
      out = out.withColumn(s"s_$l", element_at(col("sc_all"), idx + 1))
    out.drop("sc_all")
  }

  /** The deterministic argmax prediction over [[withLangSignals]]'
    * columns — fixed priority en>es>de>fr, CJK short-circuit, 'und' when
    * nothing hits or the text is null.
    */
  private def langPredCol: Column =
    when(col("text").isNull, "und")
      .when(col("cjk"), "zh")
      .when(col("s_en") === 0 && col("s_es") === 0 &&
        col("s_de") === 0 && col("s_fr") === 0, "und")
      .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") &&
        col("s_en") >= col("s_fr"), "en")
      .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr"), "es")
      .when(col("s_de") >= col("s_fr"), "de")
      .otherwise("fr")

  /** The per-document language prediction as a one-column frame — the
    * [[langPredCol]] rule exported for cross-module consumers (the
    * [[Curation]] datacard's language count) without widening the
    * signal-column internals.
    */
  private[graft] def predictedLang(s: SparkSession, d: String): DataFrame =
    withLangSignals(Tables.documents(s, d).select("text"))
      .select(langPredCol.as("predicted"))

  /** DuckDB mirror of [[predictedLang]]: a full subquery yielding one
    * `predicted` column per document.
    */
  private[graft] val predictedLangSql: String =
    s"""SELECT $langCaseSql AS predicted
       |FROM (SELECT cjk, padded,
       |        $langScoresSql
       |      FROM (SELECT $cjkSql AS cjk, $paddedSql AS padded, text
       |            FROM documents) p0) sc""".stripMargin

  /** Language ID via stopword-hit counting over a letters-only lowercase
    * padding, CJK short-circuit first; deterministic argmax with fixed
    * priority en>es>de>fr, 'und' when no list hits. Output is the
    * lang × predicted confusion matrix. (The synthetic corpus text does not
    * encode its lang label, so this checks the heuristic's determinism
    * across engines — both engines run the identical rule.)
    */
  val qLangId: Q = Q(
    "q_lang_id",
    s"""WITH p AS (
       |  SELECT lang,
       |    $cjkSql AS cjk,
       |    $paddedSql AS padded
       |  FROM documents),
       |sc AS (
       |  SELECT lang, cjk, padded,
       |    $langScoresSql
       |  FROM p)
       |SELECT lang,
       |  $langCaseSql AS predicted,
       |  COUNT(*) AS n_docs
       |FROM sc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  ) { (s, d) =>
    withLangSignals(Tables.documents(s, d).select("lang", "text"))
      .select(col("lang"), langPredCol.as("predicted"))
      .groupBy("lang", "predicted").agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "predicted")
  }

  /** Language × source token mix — the grain multilingual temperature
    * sampling actually operates on (mT5/XLM-R smooth per-LANGUAGE token
    * shares, and [[qSourceMix]]/[[qMixTemperature]]'s per-source tables
    * cannot see that an "en-heavy" mix hides inside balanced sources):
    * per (predicted language, source) cell, doc and token counts plus
    * two exact shares — of the language (which sources supply each
    * language; the low-resource-language supply map) and of the corpus
    * (the cell's absolute weight). The language is the engine's own
    * [[langPredCol]] PREDICTION, not the stored label — the mix a
    * curation decision would act on is the one the classifier sees.
    * Shares over an all-null-token cell stay NULL (unassessed ≠ zero
    * mass).
    *
    * Scale shape (100 TB): ONE corpus scan (lang signals + token count
    * per row, codegen'd map-side) into a map-side-combined
    * (predicted, source) aggregate; both share denominators ride
    * windows over the post-aggregation grain (≤ 6 langs × #sources
    * rows — the [[qSourceMix]] rule). Exact integer divisions.
    */
  val qLangMix: Q = Q(
    "q_lang_mix",
    s"""WITH p AS (
       |  SELECT source, text,
       |    $cjkSql AS cjk,
       |    $paddedSql AS padded,
       |    ${Text.wordCountSql} AS toks
       |  FROM documents),
       |sc AS (
       |  SELECT source, toks, cjk, padded,
       |    $langScoresSql
       |  FROM p),
       |a AS (
       |  SELECT $langCaseSql AS predicted, source,
       |    COUNT(*) AS n_docs,
       |    CAST(SUM(toks) AS BIGINT) AS n_tokens
       |  FROM sc GROUP BY 1, 2),
       |w AS (
       |  SELECT predicted, source, n_docs, n_tokens,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY predicted) AS BIGINT)
       |      AS lang_tot,
       |    CAST(SUM(n_tokens) OVER () AS BIGINT) AS corpus_tot
       |  FROM a)
       |SELECT predicted, source, n_docs, n_tokens,
       |  CASE WHEN n_tokens IS NULL OR lang_tot = 0 THEN NULL
       |    ELSE ${exactDivSql("n_tokens", "lang_tot", 6)} END
       |    AS share_of_lang,
       |  CASE WHEN n_tokens IS NULL OR corpus_tot = 0 THEN NULL
       |    ELSE ${exactDivSql("n_tokens", "corpus_tot", 6)} END
       |    AS share_of_corpus
       |FROM w ORDER BY predicted, source""".stripMargin
  ) { (s, d) =>
    val a = withLangSignals(Tables.documents(s, d).select("source", "text"))
      .select(langPredCol.as("predicted"), col("source"),
        Text.wordCount(col("text")).as("toks"))
      .groupBy("predicted", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).cast("long").as("n_tokens"))
    val lt = sum(col("n_tokens")).over(Window.partitionBy("predicted"))
      .cast("long")
    val gt = sum(col("n_tokens")).over(
      Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)).cast("long")
    a.select(col("predicted"), col("source"), col("n_docs"), col("n_tokens"),
        when(col("n_tokens").isNull || lt === 0, lit(null))
          .otherwise(exactDiv(col("n_tokens"), lt, 6)).as("share_of_lang"),
        when(col("n_tokens").isNull || gt === 0, lit(null))
          .otherwise(exactDiv(col("n_tokens"), gt, 6)).as("share_of_corpus"))
      .orderBy("predicted", "source")
  }

  /** DuckDB fragments of the four quality components and the composite —
    * ONE spelling driving the [[qQualityScore]] oracle and every other
    * oracle that orders or gates on quality ([[qBudgetSelect]]), so the
    * score cannot drift between consumers.
    */
  private val lenScoreSql = "LEAST(1.0, length(text) / 500.0)"
  private val stopScoreSql =
    s"""CASE WHEN trim(text) = '' THEN 0.0
       |       ELSE LEAST(1.0, 5.0 *
       |         len(regexp_extract_all(' ' || regexp_replace(${Text.asciiLowerSql("text")}, '[^a-z]+', ' ', 'g') || ' ',
       |                                '${stopPattern(stopwords.head._2)}'))
       |         / len(string_split_regex(trim(text), '[ \\t\\n\\r\\f]+'))) END""".stripMargin
  private val punctRatioSql =
    """CASE WHEN length(text) = 0 THEN 0.0
      |       ELSE CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \t\n\r\f]')) AS DOUBLE)
      |            / length(text) END""".stripMargin
  private val capsRatioSql =
    """CASE WHEN length(text) = 0 THEN 0.0
      |       ELSE CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE)
      |            / length(text) END""".stripMargin
  private[graft] val qualityScoreSql =
    s"""0.4 * $lenScoreSql
       |  + 0.3 * ($stopScoreSql)
       |  + 0.15 * (1.0 - $punctRatioSql)
       |  + 0.15 * (1.0 - $capsRatioSql)""".stripMargin

  /** Composite text-quality score: length saturation, stopword density,
    * punctuation and all-caps penalties (reference analyze_text_quality /
    * deep 5f, generalized to a single trainable-corpus score). Every ratio
    * is one double division of exact integers and the weighted sum is
    * written in the same association order in both engines → bit-identical.
    */
  val qQualityScore: Q = Q(
    "q_quality_score",
    s"""SELECT doc_id,
       |  $lenScoreSql AS len_score,
       |  $stopScoreSql AS stop_score,
       |  $punctRatioSql AS punct_ratio,
       |  $capsRatioSql AS caps_ratio,
       |  $qualityScoreSql AS quality_score
       |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    qualityScored(Tables.documents(s, d))
      .select("doc_id", "len_score", "stop_score", "punct_ratio",
        "caps_ratio", "quality_score")
      .orderBy("doc_id")
  }

  /** The per-document quality frame behind [[qQualityScore]] — reusable
    * over any frame with (doc_id, text) (e.g. [[graft.operators
    * .Similarity]]'s quality-aware survivor selection scores cluster
    * MEMBERS only; [[Curation]] chains it into its one-scan flag
    * projection). ADDS the four component ratios and the composite
    * quality_score; every input column rides along.
    */
  private[graft] def qualityScored(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // the three regex counters (stopword density numerator, punct/caps
    // numerators + the whitespace-token denominator) now come from two
    // byte-scan kernels over the raw text — graft_stop_counts (which folds
    // A-Z itself) and graft_token_counts — with the DuckDB oracle
    // keeping the regex spelling (the hash gate re-proves kernel ≡ regex
    // every Verify; TextOpsSpec pins the Spark-side equivalence too).
    // Both kernel structs ride as working columns so each evaluates once
    // per row (the two-stage-projection rule: CollapseProject keeps a
    // non-cheap alias referenced more than once split — inlining would
    // re-run the kernels per consumer expression).
    val reserved = Seq("q_tc", "q_sc")
    require(!docs.columns.exists(reserved.contains),
      s"qualityScored reserves columns $reserved")
    val lenScore = least(lit(1.0), length(col("text")) / 500.0)
    val stopScore = when(trim(col("text")) === "", 0.0)
      .otherwise(least(lit(1.0),
        lit(5.0) * element_at(col("q_sc"), 1) / col("q_tc.n_ws")))
    val punct = when(length(col("text")) === 0, 0.0)
      .otherwise(col("q_tc.n_punct").cast("double") / length(col("text")))
    val caps = when(length(col("text")) === 0, 0.0)
      .otherwise(col("q_tc.n_upper").cast("double") / length(col("text")))
    docs
      .withColumn("q_tc", GraftFunctions.call("graft_token_counts", col("text")))
      .withColumn("q_sc", GraftFunctions.call("graft_stop_counts",
        col("text"), typedlit(Seq(stopwords.head._2))))
      .withColumn("len_score", lenScore)
      .withColumn("stop_score", stopScore)
      .withColumn("punct_ratio", punct)
      .withColumn("caps_ratio", caps)
      .withColumn("quality_score",
        lit(0.4) * col("len_score") + lit(0.3) * col("stop_score")
          + lit(0.15) * (lit(1.0) - col("punct_ratio"))
          + lit(0.15) * (lit(1.0) - col("caps_ratio")))
      .drop("q_tc", "q_sc")
  }

  /** Token counting: whitespace tokens and a BPE-ish regex segmentation
    * (letter runs / single digits / single symbols) — the standard corpus
    * budget estimator.
    */
  val qTokenCount: Q = Q(
    "q_token_count",
    s"""SELECT doc_id,
       |  ${Text.wordCountSql} AS n_tokens_ws,
       |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 \\t\\n\\r\\f]')) AS n_tokens_bpe
       |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    // one codegen'd byte scan for both counts ([[graft.functions
    // .TokenCounts]]) — replaces a per-row regex NFA walk plus a full
    // split-array materialization taken only for its size; the DuckDB
    // oracle keeps the regex spelling, so every Verify run re-proves the
    // kernel ≡ regex equivalence corpus-wide (TextOpsSpec pins it
    // against the Spark regex forms and crafted edges too)
    Tables.documents(s, d).select(
      col("doc_id"),
      GraftFunctions.call("graft_token_counts", col("text")).as("tc"))
      .select(col("doc_id"), col("tc.n_ws").as("n_tokens_ws"),
        col("tc.n_bpe").as("n_tokens_bpe"))
      .orderBy("doc_id")
  }

  /** Quality-weighted importance sampling (the data-selection primitive of
    * corpus curation — the stratified samplers draw fixed COUNTS; this
    * keeps each document with probability proportional to a per-document
    * weight): weight = min(n_chars, 500)/500 (a monotone length proxy in
    * [0,1] — swap in any quality model), decision = fixed-width hex
    * compare of md5(doc_id)'s first 4 chars against the weight mapped to
    * a 16-bit threshold. Deterministic, seedless, embarrassingly
    * parallel, and identical in both engines (the hash-Bernoulli trick
    * q_train_split's md5 ordering already relies on, as a per-row
    * threshold instead of a rank). Output is the per-source selection
    * report; the kept set itself is the same predicate unaggregated.
    *
    * Saturation note: the threshold clamps at 0xffff, so a max-weight
    * document (weight 1.0) keeps with probability 65535/65536, not
    * exactly 1 — the strict `u < thresh` compare leaves the single
    * u = 'ffff' hash value out. Identical in both engines (hash-exact),
    * and 2⁻¹⁶ under the stated "proportional to weight" contract; a
    * caller needing keep-always semantics at weight 1.0 should use
    * `u <= thresh` with thresh = weight·65536 − 1.
    */
  val qWeightedSample: Q = Q(
    "q_weighted_sample",
    s"""WITH w AS (
       |  SELECT doc_id, source,
       |    printf('%04x', LEAST(65535, LEAST(n_chars, 500) * 65536 // 500))
       |      AS thresh,
       |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS u
       |  FROM documents)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN u < thresh THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  ${exactDivSql("SUM(CASE WHEN u < thresh THEN 1 ELSE 0 END)",
                        "COUNT(*)", 4)} AS keep_rate
       |FROM w GROUP BY 1 ORDER BY source""".stripMargin
  ) { (s, d) =>
    val thresh = format_string("%04x",
      least(lit(65535), expr("least(n_chars, 500) * 65536 div 500")))
    // coalesce: a null n_chars yields a null comparison — the oracle's
    // CASE lands it in ELSE 0, so the Spark side must count it 0 too
    val kept = coalesce(
      (substring(md5(col("doc_id").cast("string")), 1, 4) < thresh).cast("int"),
      lit(0))
    Tables.documents(s, d)
      .select(col("source"), kept.as("k"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("k")).cast("long").as("n_kept"),
        exactDiv(sum(col("k")), count(lit(1)), 4).as("keep_rate"))
      .orderBy("source")
  }

  /** Sequence packing (concat-and-split, the pretraining batcher's shape):
    * documents are concatenated in deterministic (doc_id) order within
    * each source and split into fixed 2048-token chunks; a document's
    * chunk is where its FIRST token lands (docs may straddle boundaries —
    * exactly how a GPT-style loader packs). Output is chunk grain:
    * packing docs into each chunk with first/last doc, doc count, and
    * the summed token counts of the docs starting there.
    *
    * Scale shape: one whitespace token count per row (no explode), then
    * the running sum via the standard TWO-LEVEL parallel prefix-sum
    * decomposition — `source` has O(few) distinct values, so a window
    * partitioned on source alone would stream a whole source's documents
    * through ONE task (tens of TB at lake scale; the r3 flaw):
    *   1. prefix-sum WITHIN (source, doc_id DIV [[PackBlock]]) blocks —
    *      the doc-grain window partitions on the block key, parallelism
    *      = #blocks (plan-guarded in PlanAuditSpec);
    *   2. block totals prefix-summed at BLOCK grain (O(#blocks) rows
    *      through the per-source window, never documents);
    *   3. a tiny broadcast offset join: start = block offset + local
    *      prefix − own count.
    * Chunk rollup is a map-side-combinable aggregate at (source, chunk)
    * grain. Identical arithmetic to the single-window oracle.
    */
  /** Documents per prefix-sum block (by doc_id value): the parallelism ×
    * block-table-size dial of the two-level pack. 128 keeps every test SF
    * genuinely multi-block (4 blocks/source at sf0.01, 40 at sf0.1); a
    * production lake sets it so #blocks/source sits in the 10⁴–10⁶ range
    * the broadcast offset table tolerates (beyond that, recurse the
    * decomposition one more level — same identity).
    */
  private[graft] val PackBlock = 128

  val qSeqPack: Q = Q(
    "q_seq_pack",
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |    len(list_filter(string_split($normSql, ' '), t -> t <> '')) AS n_tok
       |  FROM documents),
       |cum AS (
       |  SELECT doc_id, source, n_tok,
       |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_tok
       |  FROM toks)
       |SELECT source, CAST(start_tok // 2048 AS BIGINT) AS chunk_id,
       |  COUNT(*) AS n_docs, MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens
       |FROM cum GROUP BY 1, 2 ORDER BY source, chunk_id""".stripMargin
  ) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        // ≡ size(Text.words(text)): the ASCII fold
        // never touches the whitespace class, so the folded text's
        // maximal non-ws runs are the raw text's — the TokenCounts
        // kernel counts them in one byte scan (r13; oracle unchanged)
        Text.wordCount(col("text")).cast("long").as("n_tok"))
      .withColumn("blk", expr(s"doc_id DIV $PackBlock"))
    // level 1: prefix-sum within (source, block) — parallel over blocks
    val wBlk = Window.partitionBy("source", "blk").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = toks.withColumn("local_cum", sum("n_tok").over(wBlk))
    // level 2: block-grain offsets — the per-source window sees only
    // O(#blocks) rows (the exchange reuses level 1's (source, blk)
    // shuffle: same keys)
    val wSrc = Window.partitionBy("source").orderBy("blk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = toks.groupBy("source", "blk")
      .agg(sum("n_tok").as("blk_tot"))
      .withColumn("blk_off", sum("blk_tot").over(wSrc) - col("blk_tot"))
      .select(col("source").as("s2"), col("blk").as("b2"), col("blk_off"))
    // level 3: tiny broadcast join carries each block's offset back to
    // its documents; start = offset + local prefix − own count.
    // NULL-SAFE keys: a NULL source (or NULL doc_id → NULL block) is a
    // legitimate window partition the oracle's single window keeps — a
    // plain equi-join would silently drop those rows
    local.join(broadcast(offsets),
        col("source") <=> col("s2") && col("blk") <=> col("b2"))
      .drop("s2", "b2")
      .withColumn("start_tok", col("blk_off") + col("local_cum") - col("n_tok"))
      .groupBy(col("source"), expr("start_tok DIV 2048").as("chunk_id"))
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
        sum("n_tok").cast("long").as("n_tokens"))
      .orderBy("source", "chunk_id")
  }

  /** Vocabulary-growth curve (Heaps-law accumulation — the corpus-coverage
    * diagnostic of a training-data pipeline: a vocabulary that keeps
    * growing linearly signals unclean/unsaturated data; a flattening curve
    * signals diminishing new-content returns). Docs are bucketed into
    * arrival batches of 100 by doc_id; per batch: docs, total tokens, NEW
    * terms (terms whose corpus-wide first occurrence — min doc_id — falls
    * in the batch) and the running vocabulary size.
    *
    * Scale shape: one explode → groupBy(term) with map-side partial
    * aggregation (the min(doc_id) per term), then all remaining work is
    * at batch grain (O(#batches) rows — the qRunDeltas single-partition
    * window contract). The corpus-wide term aggregate is the same shuffle
    * the TF-IDF df count pays; nothing is quadratic and no driver collect.
    */
  val qVocabGrowth: Q = Q(
    "q_vocab_growth",
    s"""WITH toks AS (
       |  SELECT doc_id, CAST(doc_id // 100 AS BIGINT) AS batch_id,
       |    list_filter(string_split($normSql, ' '), t -> t <> '') AS w
       |  FROM documents),
       |bt AS (
       |  SELECT batch_id, COUNT(*) AS n_docs,
       |    CAST(SUM(len(w)) AS BIGINT) AS n_tokens
       |  FROM toks GROUP BY 1),
       |firstseen AS (
       |  SELECT t AS term, MIN(doc_id) AS first_doc
       |  FROM toks, UNNEST(w) AS u(t) GROUP BY 1),
       |nb AS (
       |  SELECT CAST(first_doc // 100 AS BIGINT) AS batch_id,
       |    COUNT(*) AS n_new_terms
       |  FROM firstseen GROUP BY 1)
       |SELECT b.batch_id, n_docs, n_tokens,
       |  COALESCE(n_new_terms, 0) AS n_new_terms,
       |  CAST(SUM(COALESCE(n_new_terms, 0))
       |       OVER (ORDER BY b.batch_id) AS BIGINT) AS vocab_size
       |FROM bt b LEFT JOIN nb USING (batch_id)
       |ORDER BY batch_id""".stripMargin
  ) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), expr("doc_id DIV 100").as("batch_id"),
        Text.words(col("text")).as("w"))
    val bt = toks.groupBy("batch_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("w"))).cast("long").as("n_tokens"))
    val nb = toks.select(col("doc_id"), explode(col("w")).as("term"))
      .groupBy("term").agg(min("doc_id").as("first_doc"))
      .groupBy(expr("first_doc DIV 100").as("batch_id"))
      .agg(count(lit(1)).as("n_new_terms"))
    // batch grain from here down — the window is over O(#batches) rows
    bt.join(nb, Seq("batch_id"), "left")
      .select(col("batch_id"), col("n_docs"), col("n_tokens"),
        coalesce(col("n_new_terms"), lit(0L)).as("n_new_terms"))
      .withColumn("vocab_size",
        sum("n_new_terms").over(Window.orderBy("batch_id")))
      .orderBy("batch_id")
  }

  /** TF-IDF-style top terms per document (the relevance/keyword-weighting
    * op of a search or dedup-weighting pipeline): term frequency per doc ×
    * inverse document frequency, ranked per doc, top 5. The score is the
    * exact integer floor(tf·10⁹ / df) — within one document N is constant,
    * so ranking by tf/df equals ranking by tf·(N/df), and the log-free
    * integer form is bit-identical across engines (a libm log() can differ
    * in the last ulp between engines and break hash equality). df counts
    * distinct docs containing the term; ties break by term ascending.
    */
  val qTfidfTerms: Q = Q(
    "q_tfidf_terms",
    s"""WITH toks AS (
       |  SELECT doc_id, t AS term
       |  FROM (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
       |       UNNEST(w) AS u(t)
       |  WHERE t <> ''),
       |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |       FROM toks GROUP BY 1, 2),
       |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |    (tf.tf * 1000000000) // df.df AS score
       |  FROM tf JOIN df USING (term))
       |SELECT doc_id, term, tf, df, score FROM scored
       |QUALIFY row_number() OVER (
       |  PARTITION BY doc_id ORDER BY score DESC, term ASC) <= 5
       |ORDER BY doc_id, score DESC, term""".stripMargin
  ) { (s, d) =>
    // r15: spread hashed on doc_id BEFORE the explode — the (doc, term)
    // aggregate's ClusteredDistribution(doc_id, term) is satisfied by
    // HashPartitioning(doc_id) (superset rule), so the exploded
    // token-string stream never crosses an exchange at all (it used to
    // be the operator's largest shuffle: every token occurrence as a
    // string row, hashed on (doc_id, term)).
    val tf = Tables.spreadByDocId(Tables.documents(s, d))
      .select(col("doc_id"), explode(Text.words(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("h", xxhash64(col("term")))
    // document frequency as a map-side-combined aggregate over the
    // SHARED (doc, token-hash) count table ([[tokenCounts]] holds one
    // row per (doc, term), so COUNT is df), joined back on the token
    // hash: a stopword is a hot JOIN key — AQE-skew-splittable — where
    // the previous COUNT-OVER-term window partition serialized every
    // occurrence of a hot term through one task (the [[dupSpansOf]]
    // rule, applied proactively; same hashed-postings collision premise
    // as [[qDupSpans]]). The string side tokenizes once for tf; df
    // rides the prepaid build_token_counts cache.
    val df = tokenCounts(s, d)
      .groupBy("h").agg(count(lit(1)).as("df"))
    // r15: bounded-heap top-5 per doc (TopK.perKey) instead of a full
    // per-partition sort under row_number — the rn ≤ 5 row SET is
    // exactly the top-5 under the identical (score DESC, term ASC)
    // order, and the rank column was never emitted (the I2 precedent).
    val scored = tf.join(df, "h")
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        expr("(tf * 1000000000) div df").as("score"))
    TopK.perKey(scored, Seq("doc_id"), "score", "term", 5)
      .select("doc_id", "term", "tf", "df", "score")
      .orderBy(col("doc_id"), col("score").desc, col("term"))
  }

  /** Document fingerprinting: md5 of the normalized text plus the native
    * codegen'd polynomial rolling hash ([[graft.functions.RollingHashKernel]])
    * over the ASCII-projected text; the oracle mirrors the hash with a
    * list_reduce over ascii codes.
    */
  val qFingerprint: Q = Q(
    "q_fingerprint",
    s"""SELECT doc_id, md5($normSql) AS content_md5,
       |  CASE WHEN a IS NULL THEN NULL ELSE list_reduce(
       |    list_prepend(0, [CAST(ascii(a[i]) AS BIGINT)
       |                     FOR i IN generate_series(1, length(a))]),
       |    (acc, c) -> (acc * 31 + c) % 1000000007) END AS rolling_hash
       |FROM (SELECT doc_id, text,
       |        regexp_replace(text, '[^ -~]', '', 'g') AS a
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      Text.contentKey(col("text")).as("content_md5"),
      GraftFunctions.call("graft_rolling_hash",
        regexp_replace(col("text"), "[^ -~]", "")).as("rolling_hash"))
      .orderBy("doc_id")
  }

  /** Per-document repetition signals (the Gopher/C4-style quality rules a
    * training-data pipeline filters on: Rae et al. 2021 §A1.1 repetition
    * thresholds): duplicate-word fraction, most-frequent-word share, and
    * most-frequent-bigram share over the normalized token stream. One
    * repartition by doc_id feeds every stage — the (doc_id, word) and
    * (doc_id, bigram) counts and the per-doc rollups all cluster on a
    * doc_id-prefixed key, so the whole operator runs with a single
    * shuffle regardless of corpus size. Bigrams come from the token array
    * (no window/ordering shuffle); the size≥2 guard is load-bearing —
    * Spark's sequence(0, n) generates DESCENDING for n<0. Fractions are
    * [[graft.functions.Det.exactDiv]] integer half-up divisions; docs with
    * a single word carry NULL bigram stats in both engines.
    */
  val qRepetitionStats: Q = Q(
    "q_repetition_stats",
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split($normSql, ' '), t -> t <> '') AS w
       |  FROM documents),
       |wc AS (
       |  SELECT doc_id, t AS word, COUNT(*) AS c
       |  FROM toks, UNNEST(w) AS u(t) GROUP BY 1, 2),
       |perdoc AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
       |    COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_c
       |  FROM wc GROUP BY 1),
       |bgc AS (
       |  SELECT doc_id, w[i] || ' ' || w[i+1] AS bg, COUNT(*) AS c
       |  FROM toks, UNNEST(generate_series(1, len(w)-1)) AS t(i)
       |  WHERE len(w) >= 2 GROUP BY 1, 2),
       |perbg AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
       |    CAST(MAX(c) AS BIGINT) AS top_bg_c
       |  FROM bgc GROUP BY 1)
       |SELECT p.doc_id, n_words, n_distinct,
       |  ${exactDivSql("n_words - n_distinct", "n_words", 4)} AS dup_word_frac,
       |  ${exactDivSql("top_c", "n_words", 4)} AS top_word_frac,
       |  ${exactDivSql("top_bg_c", "n_bigrams", 4)} AS top_bigram_frac
       |FROM perdoc p LEFT JOIN perbg b ON p.doc_id = b.doc_id
       |ORDER BY p.doc_id""".stripMargin
  ) { (s, d) =>
    // r15: every per-doc signal comes from ONE kernel pass over the
    // normalized text ([[graft.functions.RepStatsKernel]] — the same
    // GramHashKernel 1-gram/2-gram hash identities the r14 form grouped,
    // counted in a per-row sorted scan instead of two corpus-wide
    // (doc, gram) aggregates + a rollup join). The operator is now
    // map-only up to the presentation sort — no (doc, gram) exchanges at
    // all, which also retires the 32-partition tiny-data fan-out behind
    // the r14 driver's 32-core outlier on this entry. Counts identical
    // modulo xxhash64 collisions — the 2^-64 standing contract (oracles
    // re-proven hash-green at sf0.01 AND sf0.001). Docs with zero kept
    // tokens never produced a (doc, gram) row, so they stay absent —
    // filtered BEFORE the kernel on the exact zero-token predicate
    // (norm = '' ⇔ dropEmpty split is empty ⇔ n_words = 0; null norm ⇔
    // null text, also dropped in both engines). A filter on the kernel
    // STRUCT FIELD instead is alias-substituted and re-sunk to the scan
    // at fixpoint (plan-checked: `repstats(...).n_words > 0` evaluated
    // in the pushed filter AND the projection — the CLAUDE.md
    // column-substitution hazard; Spark 4.1 sinks it past
    // nondeterministic project fields and conditions too). Duplicating
    // the cheap fused NormKernel byte scan in the pushed predicate is
    // the deliberate price of keeping the expensive kernel single.
    // Spread HASHED on doc_id, never keyless: a keyless repartition
    // first locally sorts its whole input (sortBeforeRepartition, guide
    // §2.5) — measured 3.7 → 19.8 s at sf10 when this spread briefly
    // went round-robin (the corpus text sorted in the handful of scan
    // tasks).
    Tables.spreadByDocId(Tables.documents(s, d))
      .filter(norm =!= "")
      .select(col("doc_id"), GraftFunctions.call("graft_rep_stats", norm).as("r"))
      .select(col("doc_id"), col("r.n_words").as("n_words"),
        col("r.n_distinct").as("n_distinct"),
        exactDiv(col("r.n_words") - col("r.n_distinct"),
          col("r.n_words"), 4).as("dup_word_frac"),
        exactDiv(col("r.top_c"), col("r.n_words"), 4).as("top_word_frac"),
        exactDiv(col("r.top_bg_c"), col("r.n_bigrams"), 4)
          .as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Train/eval decontamination (the benchmark-leakage gate every LLM
    * training corpus runs before training): a deterministic 1/16 hash
    * slice of the corpus plays the held-out eval set; any train document
    * sharing a word 5-gram with an eval document contaminates it.
    *
    * SCALE CONTRACT — the eval side must be a bounded held-out set (a
    * benchmark suite), NOT a corpus fraction: its distinct 5-grams grow
    * linearly with eval size, and a corpus-slice eval at 100 TB would
    * blow any broadcast (Spark hard-caps broadcasts at 8 GB). The plan
    * is therefore ADAPTIVE on a probe that runs no job (the corpus
    * document count from the parquet footers, [[graft.Tables.rowsUpTo]]:
    * the eval slice is a fixed 1/16 of it and vocab size is linear in
    * the eval docs), through [[evalJoinHint]]:
    *  - documents ≤ [[EvalBroadcastMaxCorpusDocs]]: the eval vocabulary
    *    broadcasts and the 100 TB train side streams through a map-side
    *    semi-join — train n-grams never shuffle at all;
    *  - above it: the same semi-join runs as a sort-merge join on the
    *    n-gram key — both sides exchange, which is the only correct shape
    *    once the vocabulary exceeds executor memory.
    * In BOTH branches the semi-join runs BEFORE any distinct: per-doc
    * dedup clusters on the doc_id repartition key on the eval side only,
    * and the only train N-GRAMS that ever reach the distinct are the
    * ones already matching eval vocabulary — the corpus-wide n-gram
    * distinct a naive vocab-first formulation would pay never happens.
    * Above [[graft.Tables.SpreadMinDocs]] documents both sides' raw doc
    * rows pass one doc_id-hash spread (a full shuffle) so the tokenizing
    * runs on every core; at or below it a single-split corpus stays one
    * partition and the plan carries no shuffle exchange at all.
    * Zero-hit eval docs are kept with n_hits = 0 (a decontamination
    * report that silently drops the clean docs can't certify anything).
    */
  val qDecontaminate: Q = Q(
    "q_decontaminate",
    s"""WITH toks AS (
       |  SELECT doc_id, ${Text.evalSliceSql("doc_id")} AS is_eval,
       |    list_filter(string_split($normSql, ' '), t -> t <> '') AS w
       |  FROM documents),
       |ng AS (
       |  SELECT DISTINCT doc_id, is_eval,
       |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS ng
       |  FROM toks, UNNEST(generate_series(1, len(w)-4)) AS t(i)
       |  WHERE len(w) >= 5),
       |train_vocab AS (SELECT DISTINCT ng FROM ng WHERE NOT is_eval),
       |eval_ng AS (SELECT doc_id, ng FROM ng WHERE is_eval),
       |hits AS (
       |  SELECT e.doc_id, COUNT(*) AS n_hits
       |  FROM eval_ng e JOIN train_vocab t ON e.ng = t.ng GROUP BY 1),
       |eval_docs AS (
       |  SELECT doc_id, COUNT(*) AS n_ngrams FROM eval_ng GROUP BY 1)
       |SELECT d.doc_id, n_ngrams, COALESCE(n_hits, 0) AS n_hits,
       |  ${exactDivSql("COALESCE(n_hits, 0)", "n_ngrams", 4)} AS contamination_frac,
       |  COALESCE(n_hits, 0) > 0 AS contaminated
       |FROM eval_docs d LEFT JOIN hits h ON d.doc_id = h.doc_id
       |ORDER BY d.doc_id""".stripMargin
  ) { (s, d) => decontaminate(s, d) }

  /** Corpus-document gate under which the eval n-gram vocabulary
    * broadcasts: 16 × 100k, so the 1/16 eval slice holds about 100k
    * documents (≈ tens of MB of 5-gram hashes — far under the broadcast
    * limit). `decontaminate`'s one plan switch: above it every
    * eval-vocabulary join is a sort-merge join.
    */
  private[graft] val EvalBroadcastMaxCorpusDocs = 1600000L

  /** The eval-vocabulary join hint for a corpus of `nDocs` documents:
    * broadcast at or below [[EvalBroadcastMaxCorpusDocs]]. Above it the
    * vocab side is known to be huge, so the spill-safe sort-merge shape
    * is forced rather than left to Catalyst's size estimate (an
    * aggregate's estimate can come out tiny and re-introduce the
    * broadcast).
    */
  private[graft] def evalJoinHint(nDocs: Long): DataFrame => DataFrame =
    if (nDocs <= EvalBroadcastMaxCorpusDocs) broadcast(_) else _.hint("merge")

  private[graft] def decontaminate(s: SparkSession, d: String): DataFrame = {
    val nDocs = Tables.rowsUpTo(s, d, "documents", EvalBroadcastMaxCorpusDocs)
    decontaminated(s, d, evalJoinHint(nDocs),
      if (Tables.spreadsByDocId(nDocs)) Tables.spreadByDocId else identity)
  }

  /** [[decontaminate]] with both sides spread by doc_id at any corpus
    * size: the far side of [[graft.Tables.spreadsByDocId]].
    */
  private[graft] def decontaminateSpread(s: SparkSession, d: String): DataFrame =
    decontaminated(s, d,
      evalJoinHint(Tables.rowsUpTo(s, d, "documents", EvalBroadcastMaxCorpusDocs)),
      Tables.spreadByDocId)

  private def decontaminated(s: SparkSession, d: String,
      hinted: DataFrame => DataFrame, spread: DataFrame => DataFrame): DataFrame = {
    val isEval = Text.evalSlice(col("doc_id"))
    def ngrams(evalSide: Boolean) = {
      // one spread for both sides: the eval side's per-doc distinct and
      // groupBys ride its partitioning (or the corpus' single partition);
      // the train side needs no clustering, so there it only spreads the
      // tokenizing
      val docs = spread(Tables.documents(s, d).filter(if (evalSide) isEval else !isEval))
      // ONE GramHashKernel pass (r14): the tokenize → filter → 5-gram
      // concat lambda chain ran INTERPRETED per row (higher-order
      // functions are CodegenFallback) and every downstream
      // distinct/join carried ~30-byte gram strings; the kernel
      // emits the grams' xxhash64 directly and everything downstream
      // moves 8-byte longs. Same rows modulo xxhash64 collisions — the
      // 2^-64 standing contract the shingle index already relies on
      // (re-proven: oracles hash-green at sf0.01 AND sf0.001).
      docs.select(col("doc_id"), explode(Text.gramHashes(col("text"), 5)).as("ng"))
    }
    // only the (bounded) eval side pays a per-doc distinct — train n-grams
    // feed an existence check, where within-doc duplicates are harmless
    val evalNg = ngrams(evalSide = true).distinct()
    val evalVocab = evalNg.select("ng").distinct()
    // semi-join FIRST (broadcast or shuffled per the probe): train
    // n-grams never dedup unless they already hit eval vocabulary; the
    // distinct then runs on that small contaminated subset only
    val contaminatedNg = ngrams(evalSide = false).select("ng")
      .join(hinted(evalVocab), "ng").distinct()
    val hits = evalNg.join(hinted(contaminatedNg), "ng")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    val evalDocs = evalNg.groupBy("doc_id").agg(count(lit(1)).as("n_ngrams"))
    evalDocs.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        exactDiv(coalesce(col("n_hits"), lit(0L)), col("n_ngrams"), 4)
          .as("contamination_frac"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** PII regexes, one definition feeding the Spark side, the oracle SQL
    * and the crafted-string spec. Backref/lookahead-free by construction:
    * Java (Spark) and RE2 (DuckDB) then implement identical leftmost-first
    * semantics — verified value-for-value on the crafted corpus in
    * TextOpsSpec ("pii kernels: crafted strings match the DuckDB-verified
    * counts/deltas": greedy-domain backtracking, bounded-run rejection and
    * alternation-priority cases included). Categories deliberately
    * OVERLAP (a 16-digit card number is both an id-run and a phone-shaped
    * digit string): a PII scan over-triggers by design; the redaction
    * pass resolves overlap by leftmost-first alternation priority.
    */
  private[graft] val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PiiIpv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[graft] val PiiPhone = "\\+?\\d[\\d() -]{6,}\\d"
  /** 13–19 digit word-bounded run (card/account shaped). NOTE the bounded
    * quantifier + `\b` REJECTS runs of 20+ digits entirely (no 19-digit
    * prefix match) — identical in both engines and pinned in the spec.
    */
  private[graft] val PiiIdRun = "\\b\\d{13,19}\\b"
  /** Redaction alternation, most-specific first; at equal start offsets
    * both engines take the first matching branch.
    */
  private[graft] val PiiAll = s"$PiiEmail|$PiiIpv4|$PiiIdRun|$PiiPhone"

  /** One `graft_pii_counts` kernel call as a struct column — the r13
    * byte-scan replacement for the four per-row regex NFA walks plus the
    * alternation replace (q_doc_features' named 40.1 s sf10 residual).
    * The DuckDB oracles keep the regex spelling, so every Verify
    * re-proves kernel ≡ RE2; [[functions.PiiKernel]] carries the
    * per-pattern equivalence arguments. NULL text → NULL struct →
    * NULL fields (regexp_count's null propagation, which the rollups'
    * CASE/SUM semantics then treat identically).
    */
  private[graft] def piiStruct(s: SparkSession,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    GraftFunctions.call("graft_pii_counts", text)
  }

  /** n_email + n_ipv4 + n_phone + n_idrun as ONE kernel subtree (the
    * categories overlap by design — this is the sum of the four counts,
    * not distinct matches; the kernel's n_pii field, so consumers that
    * only need the total never duplicate the scan).
    */
  private[graft] def nPiiCol(s: SparkSession,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    piiStruct(s, text).getField("n_pii")

  /** Per-document PII hit counts + redaction length delta — the shared
    * projection of [[qPiiScan]] and the crafted-string spec, now field
    * extractions of [[piiStruct]]. Callers projecting several of these
    * into ONE select should materialize the struct first (the two-stage
    * rule) so the kernel runs once per row.
    */
  private[graft] def piiCols(s: SparkSession,
      text: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] = {
    val k = piiStruct(s, text)
    Seq("n_email", "n_ipv4", "n_phone", "n_idrun")
      .map(f => k.getField(f).as(f)) :+
      k.getField("redact_delta").as("redact_delta")
  }

  /** PII exposure scan + redaction accounting (the privacy-filter stage of
    * a training-data pipeline — the one curation pass between dedup and
    * export this engine didn't yet model): per source, how many documents
    * contain email / IPv4 / phone-shaped / card-shaped matches, total
    * match counts, the share of PII-clean documents, and the exact number
    * of characters a `[PII]` redaction pass removes.
    *
    * Scale shape: embarrassingly parallel — four codegen'd regex counts
    * and one replace per row, then ONE map-side-combinable aggregate at
    * source grain; no shuffle wider than (source, 6 longs). The regex
    * kernels are the per-row cost: ~O(len·patterns) with no backtracking
    * blowup possible (no nested quantifiers over the same class).
    *
    * THIS corpus contains no digits or '@' (word-salad synthetic text),
    * so every count is structurally zero and the oracle exercises only
    * the null/CASE plumbing — the regex kernels themselves are pinned by
    * TextOpsSpec's pii-kernels test on crafted strings with expected values cross-checked
    * against DuckDB (the q_repeated_chars precedent).
    */
  val qPiiScan: Q = Q(
    "q_pii_scan",
    s"""WITH p AS (
       |  SELECT source,
       |    len(regexp_extract_all(text, '$PiiEmail')) AS n_email,
       |    len(regexp_extract_all(text, '$PiiIpv4')) AS n_ipv4,
       |    len(regexp_extract_all(text, '$PiiPhone')) AS n_phone,
       |    len(regexp_extract_all(text, '$PiiIdRun')) AS n_idrun,
       |    length(text) - length(regexp_replace(text, '$PiiAll', '[PII]', 'g'))
       |      AS redact_delta
       |  FROM documents)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_email,
       |  CAST(SUM(CASE WHEN n_ipv4 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_ipv4,
       |  CAST(SUM(CASE WHEN n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_phone,
       |  CAST(SUM(CASE WHEN n_idrun > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_idrun,
       |  CAST(SUM(n_email) AS BIGINT) AS n_email,
       |  CAST(SUM(n_ipv4) AS BIGINT) AS n_ipv4,
       |  CAST(SUM(n_phone) AS BIGINT) AS n_phone,
       |  CAST(SUM(n_idrun) AS BIGINT) AS n_idrun,
       |  ${exactDivSql(
             "SUM(CASE WHEN n_email = 0 AND n_ipv4 = 0 AND n_phone = 0 " +
               "AND n_idrun = 0 THEN 1 ELSE 0 END)", "COUNT(*)", 4)} AS clean_rate,
       |  CAST(SUM(redact_delta) AS BIGINT) AS redact_chars
       |FROM p GROUP BY 1 ORDER BY source""".stripMargin
  ) { (s, d) =>
    // two-stage (the qualityScored rule): materialize the kernel struct
    // once, then extract — five field references of one attribute, not
    // five kernel subtrees
    val p = Tables.documents(s, d)
      .select(col("source"), piiStruct(s, col("text")).as("pii"))
      .select(col("source"), col("pii.n_email").as("n_email"),
        col("pii.n_ipv4").as("n_ipv4"), col("pii.n_phone").as("n_phone"),
        col("pii.n_idrun").as("n_idrun"),
        col("pii.redact_delta").as("redact_delta"))
    def docsWith(c: String) = sum(when(col(c) > 0, 1).otherwise(0))
      .cast("long").as(s"docs_${c.stripPrefix("n_")}")
    p.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        docsWith("n_email"), docsWith("n_ipv4"),
        docsWith("n_phone"), docsWith("n_idrun"),
        sum(col("n_email")).cast("long").as("n_email"),
        sum(col("n_ipv4")).cast("long").as("n_ipv4"),
        sum(col("n_phone")).cast("long").as("n_phone"),
        sum(col("n_idrun")).cast("long").as("n_idrun"),
        exactDiv(sum(when(col("n_email") === 0 && col("n_ipv4") === 0 &&
            col("n_phone") === 0 && col("n_idrun") === 0, 1).otherwise(0)),
          count(lit(1)), 4).as("clean_rate"),
        sum(col("redact_delta")).cast("long").as("redact_chars"))
      .orderBy("source")
  }

  /** Cross-source content-overlap matrix — which sources duplicate EACH
    * OTHER (the crawl-overlap diagnostic: successive CommonCrawl-style
    * dumps share most of their content, and a mix that treats them as
    * independent double-counts it; [[qSourceDedup]] charges removals per
    * source — this names the PAIRS responsible): for every source pair
    * sharing at least one normalized content hash, the shared distinct
    * contents, both sides' distinct-content cardinalities, and the exact
    * Jaccard of the two content sets. Null text is unassessed and never
    * enters a content set (the dedup-accounting rule).
    *
    * Scale shape (100 TB): one (source, hash) DISTINCT shuffle of
    * 16-byte keys, then a hash-keyed self-join — a viral page is a hot
    * JOIN key (AQE-skew-splittable, the [[qSourceDedup]] rule) whose
    * fan-out is bounded by C(#sources, 2) per hash, NOT by corpus size;
    * the output is source-pair grain, post-aggregation-tiny. Pairs with
    * zero overlap are absent (an inner join — the matrix is sparse by
    * construction at web scale).
    */
  val qSourceOverlap: Q = Q(
    "q_source_overlap",
    s"""WITH h AS (
       |  SELECT DISTINCT source, md5($normSql) AS ch
       |  FROM documents WHERE text IS NOT NULL),
       |card AS (SELECT source, COUNT(*) AS n FROM h GROUP BY 1),
       |x AS (
       |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS x
       |  FROM h a JOIN h b ON a.ch = b.ch AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, x AS shared_contents,
       |  ca.n AS n_contents_a, cb.n AS n_contents_b,
       |  CAST(x AS DOUBLE) / (ca.n + cb.n - x) AS content_jaccard
       |FROM x
       |JOIN card ca ON ca.source = source_a
       |JOIN card cb ON cb.source = source_b
       |ORDER BY source_a, source_b""".stripMargin
  ) { (s, d) =>
    val h = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("source"), Text.contentKey(col("text")).as("ch")).distinct()
    val card = h.groupBy("source").agg(count(lit(1)).as("n"))
    val x = h.select(col("source").as("source_a"), col("ch"))
      .join(h.select(col("source").as("source_b"), col("ch")), Seq("ch"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("x"))
    x.join(card.select(col("source").as("source_a"), col("n").as("na")),
        "source_a")
      .join(card.select(col("source").as("source_b"), col("n").as("nb")),
        "source_b")
      .select(col("source_a"), col("source_b"),
        col("x").as("shared_contents"),
        col("na").as("n_contents_a"), col("nb").as("n_contents_b"),
        (col("x").cast("double") / (col("na") + col("nb") - col("x")))
          .as("content_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** PII redaction REWRITE — the transform [[qPiiScan]] only accounts
    * for (the [[qSubstringDedup]] contract applied to the privacy
    * stage): every PII match replaced by the uniform `[PII]` token in
    * ONE alternation pass ([[PiiAll]], most-specific-first — at equal
    * start offsets both engines take the same branch), each document
    * rebuilt with a verifiable clean_hash (md5 of the redacted text).
    * n_redactions counts ALTERNATION matches — deliberately NOT the sum
    * of the four per-category counts, which overlap by design (a card
    * number is also phone-shaped); the rewrite resolves overlap by
    * leftmost-first priority and this count is what it actually
    * replaced. redact_delta shares [[piiCols]]' exact definition, so
    * scan and rewrite accounting cannot drift. NULL text stays
    * unassessed (NULL columns), distinct from empty text (0 matches,
    * clean_hash = md5('')) — the line-dedup contract.
    *
    * Scale shape: embarrassingly parallel — one pruned scan, two regex
    * kernels and a hash per row, zero joins/windows/aggregates (the
    * [[qDocFeatures]] map-only shape). THIS corpus is PII-free, so the
    * oracle pins the identity path (clean_hash = md5(text)); the
    * crafted-corpus spec pins real redactions against hand-written
    * expected rewrites including the alternation-priority cases.
    */
  val qPiiRedact: Q = Q(
    "q_pii_redact",
    s"""SELECT doc_id,
       |  len(regexp_extract_all(text, '$PiiAll')) AS n_redactions,
       |  length(text) - length(regexp_replace(text, '$PiiAll', '[PII]', 'g'))
       |    AS redact_delta,
       |  length(regexp_replace(text, '$PiiAll', '[PII]', 'g')) AS clean_len,
       |  md5(regexp_replace(text, '$PiiAll', '[PII]', 'g')) AS clean_hash
       |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    // two-stage projection (the qualityScored rule): three consumers
    // reference the redacted string — materialize the graft_pii_redact
    // struct once (kernel alternation scan runs ONCE per row where the
    // regex form paid the NFA alternation twice: count + replace)
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        GraftFunctions.call("graft_pii_redact", col("text")).as("r"))
      .select(col("doc_id"),
        col("r.n_redactions").as("n_redactions"),
        (length(col("text")) - length(col("r.clean"))).cast("long")
          .as("redact_delta"),
        length(col("r.clean")).as("clean_len"),
        md5(col("r.clean")).as("clean_hash"))
      .orderBy("doc_id")
  }

  /** Demonstration blocklist (injectable in production — the C4 badwords
    * list slot). Chosen from the corpus vocabulary so the operator is
    * non-vacuous on the test tables.
    */
  private[graft] val Blocklist = Seq("slow", "big", "merge")

  /** Blocklist content filter (the C4/FineWeb "badwords" stage — the
    * content-policy member of the curation pipeline): per document,
    * count blocklist tokens over the canonical normalization and flag
    * documents whose blocked-token share exceeds 5%; report per source.
    * Counting is TOKEN-level (split + membership), not a padded-regex
    * scan — adjacent blocklist words share their separating space, so a
    * `' (w1|w2) '` alternation undercounts "slow slow" (the match
    * consumes the middle space); list membership has no such pitfall and
    * is exact in both engines.
    *
    * Scale shape: embarrassingly parallel per-row lambdas over one
    * pruned (text, source) scan, then a single map-side-combinable
    * source-grain aggregate (plan-guarded with q_pii_scan). The 5% flag
    * threshold is integer-exact: n_blocked·20 > n_tokens.
    */
  val qBlocklistScan: Q = Q(
    "q_blocklist_scan",
    s"""WITH t AS (
       |  SELECT source,
       |    len(list_filter(string_split($normSql, ' '), t -> t <> ''))
       |      AS n_tok,
       |    len(list_filter(string_split($normSql, ' '),
       |      t -> t IN (${Blocklist.map(w => s"'$w'").mkString(", ")})))
       |      AS n_blocked
       |  FROM documents)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN n_blocked * 20 > n_tok THEN 1 ELSE 0 END) AS BIGINT)
       |    AS flagged_docs,
       |  CAST(SUM(n_blocked) AS BIGINT) AS blocked_tokens,
       |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       |  ${exactDivSql(
             "SUM(CASE WHEN n_blocked * 20 > n_tok THEN 1 ELSE 0 END)",
             "COUNT(*)", 4)} AS flag_rate
       |FROM t GROUP BY 1 ORDER BY source""".stripMargin
  ) { (s, d) =>
    val t = blocklistFlags(Tables.documents(s, d))
    t.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("blocked"), 1).otherwise(0))
          .cast("long").as("flagged_docs"),
        sum(col("n_blocked")).cast("long").as("blocked_tokens"),
        sum(col("n_tok")).cast("long").as("total_tokens"),
        exactDiv(sum(when(col("blocked"), 1).otherwise(0)),
          count(lit(1)), 4).as("flag_rate"))
      .orderBy("source")
  }

  /** Per-document blocklist counters — ADDS n_tok, n_blocked and the
    * token-exact 5% `blocked` flag (n_blocked · 20 > n_tok) to any frame
    * with a `text` column; input columns ride along. ONE definition of
    * the counting and the threshold shared by [[qBlocklistScan]]'s
    * source rollup and [[Curation]]'s funnel stage, so the flag cannot
    * drift between the per-source report and the pipeline gate.
    */
  private[graft] def blocklistFlags(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // one graft_block_counts byte scan replaces the norm regex collapse,
    // the per-row token-array materialization and TWO interpreted HOF
    // filter lambdas (r13; the kernel scaladoc carries the norm/split
    // equivalence argument — the DuckDB oracles keep the list_filter
    // spelling, so every Verify re-proves it)
    docs
      .withColumn("bc",
        GraftFunctions.call("graft_block_counts", col("text"), typedlit(Blocklist)))
      .withColumn("n_tok", col("bc.n_tok").cast("long"))
      .withColumn("n_blocked", col("bc.n_blocked").cast("long"))
      .withColumn("blocked", col("n_blocked") * 20 > col("n_tok"))
      .drop("bc")
  }

  /** Training-mix table (the data-mixing stage of corpus assembly — Pile/
    * Dolma-style source weighting): per source, document and whitespace-
    * token totals, the source's share of all corpus tokens, and the
    * resampling weight that would flatten the mix to uniform-by-source
    * (weight = total / (K · tokens_s); >1 ⇒ upsample/repeat epochs,
    * <1 ⇒ downsample — exactly the factor a loader multiplies into its
    * per-source sampling probability).
    *
    * Scale shape: ONE map-side-combinable aggregate at source grain (the
    * documents scan runs once — plan-guarded), then the global totals via
    * an unpartitioned window over the O(#sources)-row aggregate (the
    * qRunDeltas single-partition-window contract: post-aggregation grain,
    * never document rows; the naive `t cross join (select sum from t)`
    * form re-scans the corpus for the denominator). All ratios are exact
    * integer divisions ([[exactDiv]]) — bit-identical across engines and
    * at any parallelism.
    */
  val qSourceMix: Q = Q(
    "q_source_mix",
    s"""WITH t AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(${Text.wordCountSql}) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |g AS (
       |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot, COUNT(*) AS k FROM t)
       |SELECT source, n_docs, n_tokens,
       |  ${exactDivSql("n_tokens", "tot", 6)} AS token_share,
       |  ${exactDivSql("tot", "k * n_tokens", 4)} AS mix_weight
       |FROM t, g ORDER BY source""".stripMargin
  ) { (s, d) =>
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val tot = sum(col("n_tokens")).over(w).cast("long")
    val k = count(lit(1)).over(w)
    Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(Text.wordCount(col("text"))).cast("long").as("n_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        exactDiv(col("n_tokens"), tot, 6).as("token_share"),
        exactDiv(tot, k * col("n_tokens"), 4).as("mix_weight"))
      .orderBy("source")
  }

  /** Sub-token scaling of the exact integer square root in
    * [[qMixTemperature]]: sq = isqrt(n_tokens · 10⁴) ≈ 100·√tokens, two
    * extra decimal digits of weight resolution. Magnitude bound: the
    * pre-sqrt product must stay under 2⁶³ → tokens < 9.2·10¹⁴ per source
    * (≈ 4 PB of text in ONE source) before either engine overflows —
    * and the oracle's HUGEINT errors loud, not silently, first.
    */
  private[graft] val MixSqrtScale = 10000L

  /** Per-source token totals plus the exact integer square root
    * sq = ⌊√(n_tokens·[[MixSqrtScale]])⌋ — the (source, n_tokens, sq)
    * frame BOTH temperature-mix operators derive from ([[qMixTemperature]]
    * reports the tempered shares; [[qMixApply]] materializes them as a
    * deterministic subsample). ONE definition so the two cannot disagree
    * about the tempered mass of a source. The ±1 integer correction on
    * the hardware sqrt makes the root exact in both engines (no
    * decimal-tie hazard) — see the [[qMixTemperature]] scaladoc.
    */
  private[graft] def mixSourceStats(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d)
      .groupBy("source")
      .agg(sum(Text.wordCount(col("text"))).cast("long").as("n_tokens"))
    val x = col("n_tokens") * lit(MixSqrtScale)
    val f = floor(sqrt(x.cast("double"))).cast("long")
    t.withColumn("sq", f + when((f + 1) * (f + 1) <= x, 1L)
      .when(f * f > x, -1L).otherwise(0L))
  }

  /** DuckDB mirror of [[mixSourceStats]]: CTEs `t` and `s` (callers embed
    * inside a WITH and read `s(source, n_tokens, sq)`).
    */
  private[graft] val mixSourceStatsSql: String =
    s"""t AS (
       |  SELECT source,
       |    CAST(SUM(${Text.wordCountSql}) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |s AS (
       |  SELECT source, n_tokens,
       |    CAST(f + CASE WHEN (f+1)*(f+1) <= x THEN 1
       |             WHEN f*f > x THEN -1 ELSE 0 END AS BIGINT) AS sq
       |  FROM (SELECT source, n_tokens, n_tokens * $MixSqrtScale AS x,
       |          CAST(FLOOR(SQRT(n_tokens * $MixSqrtScale)) AS BIGINT) AS f
       |        FROM t))""".stripMargin

  /** Temperature-scaled training mix (α = 0.5) — the sampling-smoothing
    * companion of [[qSourceMix]] (mT5/XLM-R-style temperature sampling,
    * Pile-style source re-weighting): raw token share p_s flattens to
    * p'_s ∝ p_s^α, boosting low-resource sources without the full
    * uniform flattening of [[qSourceMix]]'s mix_weight. Per source:
    * tokens, the raw share, the α=0.5 tempered share, and the boost
    * factor p'_s / p_s a loader multiplies into its per-source sampling
    * probability (>1 ⇒ upsampled).
    *
    * Why α is FIXED at 0.5: √x is the one power IEEE-754 requires
    * correctly rounded, and even that is not enough for cross-engine
    * hash equality at a rounding boundary — so the implementation uses
    * an exact INTEGER square root (floor(√(tokens·10⁴)) via hardware
    * sqrt + a ±1 integer correction, exact in both engines — no
    * decimal-tie hazard at any magnitude; the [[Det.exactAvg]]
    * integer-space principle). A general α needs libm pow(), whose last
    * ulp differs between engines — the same reason [[Ingest.qRunDrift]]
    * chose TV distance over KL.
    *
    * Scale shape (100 TB): identical to [[qSourceMix]] — ONE map-side-
    * combined source-grain aggregate over the corpus scan, then the
    * global totals via an unpartitioned window over the O(#sources)-row
    * aggregate (post-aggregation grain only). Ratios are exact integer
    * divisions; the boost cross-products ride DECIMAL(38,0) so
    * lake-scale token counts cannot wrap (the [[Ingest.qRunDrift]]
    * rule). A zero-token source's SHARES are exactly 0 (a defined
    * quantity: zero tokens genuinely hold zero mass) — only its BOOST
    * is NULL, never 0, because the boost is the 0/0 ratio of those
    * shares (no mass ≠ no boost; the spec pins both).
    */
  val qMixTemperature: Q = Q(
    "q_mix_temperature",
    s"""WITH $mixSourceStatsSql,
       |g AS (
       |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot,
       |    CAST(SUM(sq) AS BIGINT) AS stot FROM s)
       |SELECT source, n_tokens,
       |  CASE WHEN tot = 0 THEN NULL
       |    ELSE ${exactDivSql("n_tokens", "tot", 6)} END AS p_raw,
       |  CASE WHEN stot = 0 THEN NULL
       |    ELSE ${exactDivSql("sq", "stot", 6)} END AS p_temp,
       |  CASE WHEN n_tokens = 0 OR stot = 0 THEN NULL
       |    ELSE ${exactDivSql("CAST(sq AS HUGEINT) * tot",
                               "CAST(stot AS HUGEINT) * n_tokens", 4)} END
       |    AS boost
       |FROM s, g ORDER BY source""".stripMargin
  ) { (s, d) =>
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val sq = mixSourceStats(s, d)
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val tot = sum(col("n_tokens")).over(w).cast("long")
    val stot = sum(col("sq")).over(w).cast("long")
    sq.select(col("source"), col("n_tokens"),
        when(tot === 0, lit(null))
          .otherwise(exactDiv(col("n_tokens"), tot, 6)).as("p_raw"),
        when(stot === 0, lit(null))
          .otherwise(exactDiv(col("sq"), stot, 6)).as("p_temp"),
        when(col("n_tokens") === 0 || stot === 0, lit(null))
          .otherwise(exactDiv(col("sq").cast(dec) * tot,
            stot.cast(dec) * col("n_tokens"), 4)).as("boost"))
      .orderBy("source")
  }

  /** Hash-threshold grain of [[qMixApply]]'s Bernoulli draw: the keep
    * decision compares the first 6 md5 hex chars (24 uniform bits,
    * granularity 16⁻⁶ ≈ 6·10⁻⁸) against a per-source integer threshold
    * ⌊rate·16⁶⌋ — fine enough that the realized rate is within one part
    * in 16 million of the exact rational at any corpus size.
    */
  private[graft] val MixHexChars = 6
  private[graft] val MixHexSpace = 1L << (4 * MixHexChars)

  /** ONE epoch of the α=0.5 tempered mix, materialized — [[qMixTemperature]]
    * computes the target shares; this applies them as a deterministic
    * per-document Bernoulli (the [[qBpeMerges]]→[[qBpeEncode]] train/apply
    * pairing, for the mix family). A pure subsample cannot upsample, so
    * rates normalize against the most-boosted source m (the max of
    * sq_s/n_s — lowest-resource): m keeps everything, and source s keeps
    * documents at the exact rational rate (sq_s·n_m)/(n_s·sq_m) ≤ 1, which
    * realizes token mass ∝ the tempered share sq_s. The draw is
    * u = md5("mix:"‖doc_id) — SALTED, because the raw doc_id md5 already
    * carries the [[Text.evalSlice]] holdout semantics (first hex char
    * '0'): an unsalted low-rate source would sample entirely INSIDE the
    * eval slice instead of uniformly. Per source: in/kept doc and token
    * counts, the exact target rate, and the realized doc-grain rate.
    *
    * Exactness: the champion is picked by the IEEE double sq/n (one
    * correctly-rounded division — identical in both engines), ties to the
    * smallest source; the rate and the 24-bit threshold ⌊rate·16⁶⌋ are
    * exact integer arithmetic in DECIMAL(38,0)/HUGEINT; the keep
    * predicate compares fixed-width lowercase hex lexicographically
    * (equal-length hex strings order like their integers, and the
    * rate-1 case short-circuits so the threshold never needs a 7th
    * char). A zero-token source carries no tempered mass: its rate is
    * NULL and it keeps nothing (no mass ≠ full pass-through).
    *
    * Scale shape (100 TB): scan 1 collapses to the O(#sources) stats
    * frame (map-side combined); the champion is a 1-row
    * TakeOrderedAndProject over it; the rate table stays O(#sources) and
    * broadcasts into scan 2, where the keep predicate evaluates map-side
    * (salted md5 + one string compare, codegen'd) — no doc-grain shuffle
    * at all, and the final rollup is again map-side-combined source
    * grain. Two corpus scans total; a lake deployment that materializes
    * per-doc token counts (the [[tokenCounts]] pattern) pays the
    * text parse once.
    */
  val qMixApply: Q = Q(
    "q_mix_apply",
    s"""WITH $mixSourceStatsSql,
       |r AS (SELECT source, n_tokens, sq FROM s WHERE n_tokens > 0),
       |m AS (SELECT sq AS m_sq, n_tokens AS m_tokens FROM r
       |      ORDER BY CAST(sq AS DOUBLE)/n_tokens DESC, source ASC LIMIT 1),
       |rt AS (
       |  SELECT source,
       |    CAST(sq AS HUGEINT) * m_tokens AS a,
       |    CAST(n_tokens AS HUGEINT) * m_sq AS b,
       |    CASE WHEN CAST(sq AS HUGEINT) * m_tokens >=
       |              CAST(n_tokens AS HUGEINT) * m_sq THEN NULL
       |      ELSE lpad(lower(to_hex(CAST(
       |        (CAST(sq AS HUGEINT) * m_tokens * $MixHexSpace) //
       |        (CAST(n_tokens AS HUGEINT) * m_sq) AS BIGINT))),
       |        $MixHexChars, '0') END AS thr
       |  FROM r, m),
       |d AS (
       |  SELECT doc_id, source, ${Text.wordCountSql} AS toks,
       |    substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, $MixHexChars) AS u
       |  FROM documents),
       |j AS (
       |  SELECT d.source, d.toks,
       |    COALESCE(rt.a IS NOT NULL AND (rt.thr IS NULL OR d.u < rt.thr),
       |             FALSE) AS kept
       |  FROM d LEFT JOIN rt ON d.source IS NOT DISTINCT FROM rt.source),
       |g AS (
       |  SELECT source, COUNT(*) AS docs_in,
       |    CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
       |    CAST(SUM(toks) AS BIGINT) AS tokens_in,
       |    CAST(SUM(CASE WHEN kept THEN toks ELSE 0 END) AS BIGINT)
       |      AS tokens_kept
       |  FROM j GROUP BY 1)
       |SELECT g.source, docs_in, docs_kept, tokens_in, tokens_kept,
       |  CASE WHEN rt.a IS NULL THEN NULL
       |    ELSE ${exactDivSql("rt.a", "rt.b", 6)} END AS rate,
       |  ${exactDivSql("docs_kept", "docs_in", 6)} AS realized_rate
       |FROM g LEFT JOIN rt ON g.source IS NOT DISTINCT FROM rt.source
       |ORDER BY g.source""".stripMargin
  ) { (s, d) =>
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val r = mixSourceStats(s, d).filter(col("n_tokens") > 0)
    val m = r
      .orderBy((col("sq").cast("double") / col("n_tokens")).desc,
        col("source").asc_nulls_last)
      .limit(1)
      .select(col("sq").as("m_sq"), col("n_tokens").as("m_tokens"))
    val a = col("sq").cast(dec) * col("m_tokens")
    val b = col("n_tokens").cast(dec) * col("m_sq")
    val num = a * lit(MixHexSpace)
    val thrInt = ((num - pmod(num, b)) / b).cast(dec).cast("long")
    val rt = r.crossJoin(broadcast(m))
      .select(col("source").as("rsrc"), a.as("a"), b.as("b"),
        when(a >= b, lit(null))
          .otherwise(lpad(lower(hex(thrInt)), MixHexChars, "0")).as("thr"))
    val u = substring(
      md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, MixHexChars)
    val j = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        Text.wordCount(col("text")).as("toks"), u.as("u"))
      .join(broadcast(rt.select("rsrc", "a", "thr")),
        col("source") <=> col("rsrc"), "left")
      .select(col("source"), col("toks"),
        coalesce(col("a").isNotNull &&
          (col("thr").isNull || col("u") < col("thr")), lit(false)).as("kept"))
    j.groupBy("source")
      .agg(count(lit(1)).as("docs_in"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("docs_kept"),
        sum(col("toks")).cast("long").as("tokens_in"),
        sum(when(col("kept"), col("toks")).otherwise(0L)).cast("long")
          .as("tokens_kept"))
      .join(broadcast(rt.select("rsrc", "a", "b")),
        col("source") <=> col("rsrc"), "left")
      .select(col("source"), col("docs_in"), col("docs_kept"),
        col("tokens_in"), col("tokens_kept"),
        when(col("a").isNull, lit(null))
          .otherwise(exactDiv(col("a"), col("b"), 6)).as("rate"),
        exactDiv(col("docs_kept"), col("docs_in"), 6).as("realized_rate"))
      .orderBy("source")
  }

  /** The (source, quality-bucket, count) histogram BOTH score-distribution
    * operators derive from ([[qQualityKs]] — the drift statistic;
    * [[qScoreCalibrate]] — the percentile map): ONE corpus evaluation of
    * the quality regexes, collapsed to ≤ #sources × [[BudgetBlocks]]+2
    * rows and persisted once per (session, dir) in [[graft.SessionCache]]
    * (the [[dupSpanCounts]] contract — the b-IS-NOT-NULL filter pushes
    * BELOW the aggregate in the scored-histogram branch, so the
    * consumers' exchanges stop canonicalizing equal and ReuseExchange
    * alone re-scans the corpus once per consumer; measured 12 scans on
    * the KS query). Every consumer — including a different operator in
    * the same session — reads the one entry (plan-guarded). NULL-score
    * docs ride along with b = NULL: unassessed ≠ low-quality, and each
    * consumer decides their treatment explicitly.
    */
  private[graft] def sourceBucketCounts(s: SparkSession, d: String): DataFrame =
    SessionCache.persisted(s, d, "source_bucket_counts")(
      qualityScored(Tables.documents(s, d))
        .select(col("source"),
          floor(col("quality_score") * BudgetBlocks).cast("int").as("b"))
        .groupBy("source", "b").agg(count(lit(1)).as("c")))

  /** Per-source token-count histogram in POWER-OF-TWO buckets — the
    * context-length planning view ([[Profiling.qLengthHistogram]] buckets
    * characters corpus-wide; training consumes TOKENS, context windows
    * come in powers of two, and packing efficiency is per source): per
    * (source, bucket) the doc/token counts, the bucket bounds
    * [2^(k−1), 2^k), the share of the source's measured docs, and the
    * cumulative share up to the bucket — so "what fraction of source S
    * fits a 512-token context un-truncated" ([[qSeqPack]]'s input
    * question) is one row lookup. Bucket k = bit length of the token
    * count (EXACT in both engines: the length of the binary string —
    * never floor(log2(x)), whose libm ulp at exact powers of two is the
    * cross-engine hazard the [[qMixTemperature]] isqrt exists to avoid);
    * zero-token docs land in bucket 0, null-text docs keep a NULL bucket
    * row with NULL shares (unassessed — the [[qLangMix]] rule).
    *
    * Scale shape (100 TB): ONE corpus scan into a map-side-combined
    * (source, bucket) aggregate (≤ #sources × ~20 buckets); totals and
    * cumulative shares ride windows over that post-aggregation grain.
    * Exact integer divisions.
    */
  val qTokenHist: Q = Q(
    "q_token_hist",
    s"""WITH t AS (
       |  SELECT source,
       |    CASE WHEN toks IS NULL THEN NULL
       |      WHEN toks = 0 THEN 0
       |      ELSE CAST(strlen(bin(toks)) AS INT) END AS k,
       |    toks
       |  FROM (SELECT source, ${Text.wordCountSql} AS toks
       |        FROM documents) t0),
       |a AS (
       |  SELECT source, k, COUNT(*) AS n_docs,
       |    CAST(SUM(toks) AS BIGINT) AS n_tokens
       |  FROM t GROUP BY 1, 2),
       |w AS (
       |  SELECT source, k, n_docs, n_tokens,
       |    CASE WHEN k IS NULL THEN NULL ELSE
       |      CAST(SUM(CASE WHEN k IS NOT NULL THEN n_docs END)
       |        OVER (PARTITION BY source) AS BIGINT) END AS src_docs,
       |    CASE WHEN k IS NULL THEN NULL ELSE
       |      CAST(SUM(CASE WHEN k IS NOT NULL THEN n_docs END)
       |        OVER (PARTITION BY source ORDER BY k) AS BIGINT) END
       |      AS cum_docs
       |  FROM a)
       |SELECT source, k AS bucket,
       |  CASE WHEN k IS NULL THEN NULL
       |    WHEN k = 0 THEN 0 ELSE CAST(2 ** (k - 1) AS BIGINT) END AS lo,
       |  CASE WHEN k IS NULL THEN NULL
       |    WHEN k = 0 THEN 0 ELSE CAST(2 ** k - 1 AS BIGINT) END AS hi,
       |  n_docs, n_tokens,
       |  CASE WHEN k IS NULL THEN NULL
       |    ELSE ${exactDivSql("n_docs", "src_docs", 4)} END AS doc_share,
       |  CASE WHEN k IS NULL THEN NULL
       |    ELSE ${exactDivSql("cum_docs", "src_docs", 4)} END
       |    AS cum_doc_share
       |FROM w ORDER BY source, bucket""".stripMargin
  ) { (s, d) =>
    val toks = Text.wordCount(col("text"))
    val k = when(toks.isNull, lit(null))
      .when(toks === 0, 0)
      .otherwise(length(bin(toks)).cast("int"))
    val a = Tables.documents(s, d)
      .select(col("source"), k.as("k"), toks.as("toks"))
      .groupBy("source", "k")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).cast("long").as("n_tokens"))
    val measured = when(col("k").isNotNull, col("n_docs"))
    val srcDocs = sum(measured).over(Window.partitionBy("source"))
      .cast("long")
    val cumDocs = sum(measured)
      .over(Window.partitionBy("source").orderBy("k")).cast("long")
    a.select(col("source"), col("k").as("bucket"),
        when(col("k").isNull, lit(null)).when(col("k") === 0, 0L)
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), k - 1)")).as("lo"),
        when(col("k").isNull, lit(null)).when(col("k") === 0, 0L)
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), k) - 1")).as("hi"),
        col("n_docs"), col("n_tokens"),
        when(col("k").isNull, lit(null))
          .otherwise(exactDiv(col("n_docs"), srcDocs, 4)).as("doc_share"),
        when(col("k").isNull, lit(null))
          .otherwise(exactDiv(cumDocs, srcDocs, 4)).as("cum_doc_share"))
      .orderBy("source", "bucket")
  }

  /** Per-source quality-distribution divergence — the KS (Kolmogorov–
    * Smirnov) member of the drift family ([[Ingest.qRunDrift]] watches
    * the event-type MIX run-over-run; this watches the quality-score
    * SHAPE source-by-source): a source whose mean quality passes every
    * threshold can still ship a bimodal or shifted distribution, and the
    * KS statistic — max CDF gap vs the REST of the corpus — is the
    * classic two-sample test for exactly that. Per source: scored/null
    * doc counts, the KS distance, and the score bucket where the gap
    * peaks (ties → smallest bucket; where to look first).
    *
    * Exactness: scores quantize onto the ⌊q·[[BudgetBlocks]]⌋ grid (the
    * [[qBudgetSelect]] quantization — cross-engine exact on bit-identical
    * doubles), CDFs stay integer counts, and every gap compares as the
    * cross-product |cs·n_rest − c_rest·n_s| in DECIMAL(38,0) — one
    * exact division at the end ([[Ingest.qRunDrift]]'s TV arithmetic,
    * applied at CDF grain). Null-text documents carry no score: they
    * count in n_null and stay OUT of the distribution (unassessed ≠
    * low-quality). A single-source corpus has no "rest": KS is NULL,
    * never 0.
    *
    * Scale shape (100 TB): ONE corpus scan into a map-side-combined
    * (source, bucket) count — everything after is post-aggregation
    * grain (≤ #sources × [[BudgetBlocks]]+2 rows): the source×bucket
    * grid, the per-source CDF windows (≤ 2002 rows per partition), the
    * broadcast global CDF, the per-source max. No document row ever
    * reaches a window.
    */
  val qQualityKs: Q = Q(
    "q_quality_ks",
    s"""WITH q AS (
       |  SELECT source,
       |    CAST(FLOOR(($qualityScoreSql) * $BudgetBlocks) AS INT) AS b
       |  FROM documents),
       |st AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(CASE WHEN b IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_null
       |  FROM q GROUP BY 1),
       |sb AS (SELECT source, b, COUNT(*) AS c FROM q
       |       WHERE b IS NOT NULL GROUP BY 1, 2),
       |ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM sb GROUP BY 1),
       |gt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_g FROM sb),
       |gc AS (
       |  SELECT b, SUM(SUM(c)) OVER (ORDER BY b) AS cg
       |  FROM sb GROUP BY b),
       |grid AS (
       |  SELECT s.source, g.b, g.cg,
       |    SUM(COALESCE(sb.c, 0)) OVER (PARTITION BY s.source ORDER BY g.b)
       |      AS cs
       |  FROM (SELECT DISTINCT source FROM sb) s
       |  CROSS JOIN gc g
       |  LEFT JOIN sb ON sb.source = s.source AND sb.b = g.b),
       |gap AS (
       |  SELECT grid.source, grid.b,
       |    ABS(CAST(grid.cs AS HUGEINT) * (gt.n_g - ns.n_s)
       |      - CAST(grid.cg - grid.cs AS HUGEINT) * ns.n_s) AS num
       |  FROM grid JOIN ns USING (source) CROSS JOIN gt),
       |best AS (
       |  SELECT source, b, num,
       |    row_number() OVER (PARTITION BY source ORDER BY num DESC, b)
       |      AS rn
       |  FROM gap)
       |SELECT st.source, st.n_docs, st.n_null,
       |  CASE WHEN ns.n_s IS NULL OR gt.n_g = ns.n_s THEN NULL
       |    ELSE ${exactDivSql("num",
                "CAST(ns.n_s AS HUGEINT) * (gt.n_g - ns.n_s)", 4)} END
       |    AS ks_drift,
       |  CASE WHEN ns.n_s IS NULL OR gt.n_g = ns.n_s THEN NULL
       |    ELSE best.b END AS peak_bucket
       |FROM st
       |LEFT JOIN ns USING (source)
       |LEFT JOIN (SELECT source, b, num FROM best WHERE rn = 1) best
       |  USING (source)
       |CROSS JOIN gt
       |ORDER BY st.source""".stripMargin
  ) { (s, d) =>
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val sbAll = sourceBucketCounts(s, d)
    val st = sbAll.groupBy("source").agg(
      sum("c").cast("long").as("n_docs"),
      sum(when(col("b").isNull, col("c")).otherwise(0L)).cast("long")
        .as("n_null"))
    val sb = sbAll.filter(col("b").isNotNull)
    val ns = sb.groupBy("source").agg(sum("c").cast("long").as("n_s"))
    val gt = sb.agg(sum("c").cast("long").as("n_g"))
    // global CDF: bucket grain (≤ BudgetBlocks+2 rows), broadcastable
    val gc = sb.groupBy("b").agg(sum("c").as("cb"))
      .withColumn("cg", sum(col("cb")).over(Window.orderBy("b")))
      .select("b", "cg")
    // source × bucket grid + per-source CDF — post-aggregation grain only
    val grid = sb.select("source").distinct()
      .crossJoin(broadcast(gc))
      .join(sb, Seq("source", "b"), "left")
      .withColumn("cs", sum(coalesce(col("c"), lit(0L)))
        .over(Window.partitionBy("source").orderBy("b")))
    val gap = grid.join(ns, "source").crossJoin(broadcast(gt))
      .select(col("source"), col("b"),
        abs(col("cs").cast(dec) * (col("n_g") - col("n_s"))
          - (col("cg") - col("cs")).cast(dec) * col("n_s")).as("num"))
    val best = gap
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("num").desc, col("b"))))
      .filter(col("rn") === 1).select("source", "b", "num")
    st.join(ns, Seq("source"), "left")
      .join(best, Seq("source"), "left")
      .crossJoin(broadcast(gt))
      .select(col("source"), col("n_docs"), col("n_null"),
        when(col("n_s").isNull || col("n_g") === col("n_s"), lit(null))
          .otherwise(exactDiv(col("num"),
            col("n_s").cast(dec) * (col("n_g") - col("n_s")), 4))
          .as("ks_drift"),
        when(col("n_s").isNull || col("n_g") === col("n_s"), lit(null))
          .otherwise(col("b")).as("peak_bucket"))
      .orderBy("source")
  }

  /** Per-document quality-score PERCENTILE calibration — the
    * normalization that makes one quality bar work across sources: a raw
    * threshold tuned on one crawl does not transfer (CCNet's insight —
    * its perplexity filter buckets per language/domain for exactly this
    * reason), and [[qQualityKs]] MEASURES the distribution shift this
    * operator corrects for. Per document: its ⌊q·[[BudgetBlocks]]⌋
    * quality bucket, its percentile WITHIN its source, and its corpus-
    * wide percentile — so "keep the top 30% of every source" and "keep
    * the corpus top 30%" are both one filter on this frame, and the two
    * columns side-by-side show how much a source's internal ranking
    * disagrees with the global one.
    *
    * Percentile = SQL PERCENT_RANK at bucket grain: all docs in a bucket
    * share rank = (scored docs below the bucket), pct = below/(n−1).
    * The division is ONE IEEE double division of exact integers —
    * identical in both engines, no rounding machinery needed. NULL-score
    * docs stay in the report with NULL percentiles (unassessed ≠ rank
    * 0); a source with a single scored doc has no internal ordering —
    * pct_source NULL, never 0.
    *
    * Scale shape (100 TB): the corpus never reaches a window — the
    * percentile map derives from the shared [[sourceBucketCounts]]
    * histogram (post-aggregation grain, ≤ #sources×2002 rows): per-source
    * and global CDFs as bucket-grain windows, then joined BACK to the
    * doc-grain scan (the [[qDupSpans]] df join-back rule). The CDF-side
    * joins ship unhinted — O(#sources×2002) rows is broadcastable for
    * any sane source count and AQE size-decides, the
    * [[Similarity.qDedupSurvivors]] convention — and the 1-row corpus
    * total broadcasts explicitly. A doc-grain PERCENT_RANK window
    * (PARTITION BY source) would serialize each source through one task;
    * this shape never does.
    */
  val qScoreCalibrate: Q = Q(
    "q_score_calibrate",
    s"""WITH q AS (
       |  SELECT doc_id, source,
       |    CAST(FLOOR(($qualityScoreSql) * $BudgetBlocks) AS INT) AS b
       |  FROM documents),
       |sb AS (SELECT source, b, COUNT(*) AS c FROM q
       |       WHERE b IS NOT NULL GROUP BY 1, 2),
       |ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM sb GROUP BY 1),
       |cs AS (
       |  SELECT source, b,
       |    CAST(COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY b
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS below_s
       |  FROM sb),
       |gb AS (
       |  SELECT b,
       |    CAST(COALESCE(SUM(cb) OVER (ORDER BY b
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS below_g
       |  FROM (SELECT b, CAST(SUM(c) AS BIGINT) AS cb FROM sb GROUP BY 1)),
       |gt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_g FROM sb)
       |SELECT q.doc_id, q.source, q.b AS q_bucket,
       |  CASE WHEN q.b IS NULL OR ns.n_s <= 1 THEN NULL
       |    ELSE CAST(cs.below_s AS DOUBLE) / (ns.n_s - 1) END AS pct_source,
       |  CASE WHEN q.b IS NULL OR gt.n_g <= 1 THEN NULL
       |    ELSE CAST(gb.below_g AS DOUBLE) / (gt.n_g - 1) END AS pct_global
       |FROM q
       |LEFT JOIN ns ON ns.source IS NOT DISTINCT FROM q.source
       |LEFT JOIN cs ON cs.source IS NOT DISTINCT FROM q.source
       |  AND cs.b = q.b
       |LEFT JOIN gb ON gb.b = q.b
       |CROSS JOIN gt
       |ORDER BY q.doc_id""".stripMargin
  ) { (s, d) =>
    val sb = sourceBucketCounts(s, d).filter(col("b").isNotNull)
    val ns = sb.groupBy("source").agg(sum("c").cast("long").as("n_s"))
    val wS = Window.partitionBy("source").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cs = sb.select(col("source").as("csrc"), col("b").as("cbk"),
      coalesce(sum(col("c")).over(wS), lit(0L)).cast("long").as("below_s"))
    val wG = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    val gb = sb.groupBy("b").agg(sum("c").as("cb"))
      .select(col("b").as("gbk"),
        coalesce(sum(col("cb")).over(wG), lit(0L)).cast("long").as("below_g"))
    val gt = sb.agg(sum("c").cast("long").as("n_g"))
    qualityScored(Tables.documents(s, d))
      .select(col("doc_id"), col("source"),
        floor(col("quality_score") * BudgetBlocks).cast("int").as("b"))
      .join(ns.withColumnRenamed("source", "nsrc"),
        col("source") <=> col("nsrc"), "left")
      .join(cs, col("source") <=> col("csrc") && col("b") === col("cbk"),
        "left")
      .join(gb, col("b") === col("gbk"), "left")
      .crossJoin(broadcast(gt))
      .select(col("doc_id"), col("source"), col("b").as("q_bucket"),
        when(col("b").isNull || col("n_s") <= 1, lit(null))
          .otherwise(col("below_s").cast("double") / (col("n_s") - 1))
          .as("pct_source"),
        when(col("b").isNull || col("n_g") <= 1, lit(null))
          .otherwise(col("below_g").cast("double") / (col("n_g") - 1))
          .as("pct_global"))
      .orderBy("doc_id")
  }

  /** Quality–length correlation — the score-VALIDITY diagnostic (a
    * composite quality score that correlates ~1 with token count is just
    * a length proxy: its "quality floor" silently becomes a length
    * floor, and short high-quality text — reference answers, headlines,
    * code snippets — gets curated out; Gopher's quality rules were
    * audited for exactly this failure): per source, the Pearson
    * correlation between the ⌊q·[[BudgetBlocks]]⌋ quality bucket and the
    * token count, over scored documents. Near ±1 ⇒ the score adds
    * nothing beyond length for that source; near 0 ⇒ it measures
    * something length doesn't.
    *
    * Exactness: the [[graft.operators.Profiling.qCorrPearson]]
    * machinery — all five sums are exact integers (bucket ≤ 2002,
    * token counts are longs; products recombine in DECIMAL/HUGEINT),
    * the correlation is the one double expression both engines evaluate
    * in identical association order, rounded half-even at 4. A source
    * with < 2 scored docs or zero variance on either side reports NULL
    * (undefined, never 0). Magnitude bound (the [[qMixTemperature]]
    * fail-loud contract): the y² lane sums token-count squares in a
    * LONG — exact to Σy² < 2⁶³ (~10⁶ docs of 10⁶ tokens per source,
    * with 10⁶-fold headroom), and the decimal recombine runs at (38,0)
    * so the SUM is the binding constraint, not a cast; past 2⁶³ Spark
    * ANSI throws ARITHMETIC_OVERFLOW rather than silently wrapping,
    * and the y/y² lanes move to [[graft.functions.Det.longTotal]] if a
    * corpus ever hits it.
    *
    * Scale shape (100 TB): ONE corpus scan (score + token count per
    * row) into a map-side-combined source-grain aggregate of five
    * integer sums — nothing else shuffles.
    */
  val qQualityCorr: Q = Q(
    "q_quality_corr",
    s"""WITH z AS (
       |  SELECT source,
       |    CAST(FLOOR(($qualityScoreSql) * $BudgetBlocks) AS HUGEINT) AS x,
       |    CAST(${Text.wordCountSql} AS HUGEINT) AS y
       |  FROM documents WHERE ($qualityScoreSql) IS NOT NULL
       |), s AS (
       |  SELECT source, COUNT(*) AS n,
       |    SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
       |    SUM(x*x) AS sxx, SUM(y*y) AS syy
       |  FROM z GROUP BY source
       |)
       |SELECT source, n AS n_pairs,
       |  CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN
       |    ROUND(CAST(n*sxy - sx*sy AS DOUBLE) /
       |      (SQRT(CAST(n*sxx - sx*sx AS DOUBLE)) *
       |       SQRT(CAST(n*syy - sy*sy AS DOUBLE))), 4)
       |  END AS corr_quality_tokens
       |FROM s WHERE n >= 2 ORDER BY source""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.types.DecimalType
    val scored = qualityScored(Tables.documents(s, d))
      .filter(col("quality_score").isNotNull)
      .select(col("source"),
        floor(col("quality_score") * BudgetBlocks).cast("long").as("x"),
        Text.wordCount(col("text")).cast("long").as("y"))
    val sums = scored.groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val n = col("n").cast(DecimalType(12, 0))
    // (38,0), not the 29c's (18,0): the token-count squares lane runs to
    // the full long range, and an (18,0) cast would throw ~9x below the
    // documented 2^63 bound (the cast, not the sum, would bind)
    def d38(c: Column) = c.cast(DecimalType(38, 0))
    val num = n * d38(col("sxy")) - d38(col("sx")) * d38(col("sy"))
    val dx = n * d38(col("sxx")) - d38(col("sx")) * d38(col("sx"))
    val dy = n * d38(col("syy")) - d38(col("sy")) * d38(col("sy"))
    sums.where(col("n") >= 2)
      .select(col("source"), col("n").as("n_pairs"),
        when(dx > 0 && dy > 0,
          round(num.cast("double") /
            (sqrt(dx.cast("double")) * sqrt(dy.cast("double"))), 4))
          .as("corr_quality_tokens"))
      .orderBy("source")
  }

  /** Word-gram order for the repeated-span coverage scan — long enough
    * that cross-document collisions mean real shared phrasing, short
    * enough to catch partial copies (RefinedWeb's exact-substring dedup
    * uses 50-token spans on web text; this corpus's ~50-word docs need a
    * finer grain to resolve partial overlap).
    */
  private[graft] val DupSpanN = 5

  /** A span counts as duplicated when it occurs in at least this many
    * DISTINCT documents.
    */
  private[graft] val DupSpanMinDocs = 2

  /** Inter-document repeated-span coverage — the accounting pass of
    * exact-substring deduplication (RefinedWeb/FineWeb's complement to
    * document-level MinHash: near-copies that share long verbatim spans
    * without being whole-document dups). Per document: how many of its
    * word-[[DupSpanN]]-gram positions are covered by a gram that occurs
    * in ≥ [[DupSpanMinDocs]] distinct documents, the exact coverage
    * fraction, and a mostly_dup flag at the ½ threshold (integer-exact:
    * 2·n_dup ≥ n_ngrams — no float compare). Documents shorter than
    * [[DupSpanN]] words stay in the report with zero grams and a NULL
    * fraction — a coverage report that silently drops the short docs
    * can't certify anything (the [[qDecontaminate]] principle).
    *
    * Scale shape (100 TB): grams shuffle as xxhash64 keys — 16-byte rows
    * regardless of document size, the [[qNgramJaccard]] postings trick
    * (cross-gram hash collision would need ~2^32 DISTINCT grams per
    * corpus to matter; its probability is the accepted premise of every
    * hashed-postings index here). Keyed exchanges, all map-side
    * combined: (doc, gram)-grain multiplicity, document frequency, the
    * doc-grain rollup. The gram array is built
    * INLINE in the generator with get()-guarded lambdas — the
    * [[Similarity]] ShingleArrExpr/InferFiltersFromGenerate hazard.
    *
    * Skew accounting — why the JOIN-BACK form is the default (see
    * [[dupSpansOf]]): a BOILERPLATE gram (shared license header,
    * template banner) concentrates every occurrence on one key. Unlike
    * [[qTfidfTerms]] (whose stop-shingle df cap drops hot terms), the
    * hot grams here ARE the signal, so they can't be capped away — and
    * at web scale boilerplate is the norm, not the tail. A hot WINDOW
    * partition cannot be AQE-skew-split; a hot JOIN key can, which is
    * what the shipped df-aggregate + join-back shape buys.
    */
  val qDupSpans: Q = Q(
    "q_dup_spans",
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split($normSql, ' '), t -> t <> '') AS w
       |  FROM documents),
       |pos AS (
       |  SELECT doc_id,
       |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS g
       |  FROM toks, UNNEST(generate_series(1, len(w)-4)) AS t(i)
       |  WHERE len(w) >= 5),
       |cnt AS (SELECT doc_id, g, COUNT(*) AS m FROM pos GROUP BY 1, 2),
       |fl AS (SELECT doc_id, m, COUNT(*) OVER (PARTITION BY g) AS nd FROM cnt),
       |perdoc AS (
       |  SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_ngrams,
       |    CAST(SUM(CASE WHEN nd >= $DupSpanMinDocs THEN m ELSE 0 END) AS BIGINT) AS n_dup
       |  FROM fl GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(n_ngrams, 0) AS n_ngrams,
       |  COALESCE(n_dup, 0) AS n_dup,
       |  ${exactDivSql("COALESCE(n_dup, 0)", "COALESCE(n_ngrams, 0)", 4)} AS dup_frac,
       |  (2 * COALESCE(n_dup, 0) >= COALESCE(n_ngrams, 0)
       |    AND COALESCE(n_ngrams, 0) > 0) AS mostly_dup
       |FROM documents d LEFT JOIN perdoc USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  ) { (s, d) =>
    dupSpansFrom(Tables.documents(s, d), dupSpanCounts(s, d), useWindow = false)
  }

  /** The materialized (doc_id, gram-hash, multiplicity) table of
    * (session, dir) that [[qDupSpans]] and [[qSubstringDedup]] read,
    * persisted once in [[graft.SessionCache]]: the join-back form
    * consumes it from TWO subtrees (df aggregate + join probe side), and
    * without materialization Catalyst prunes the branches differently
    * (the df branch loses `m`), the exchanges stop canonicalizing equal,
    * and the corpus gets tokenized + gram-exploded TWICE (measured —
    * stage reuse does NOT rescue it). At lake scale this is the escape's
    * own premise — "materialize the counts once" — and the cached bytes
    * are the same narrow rows the window form shuffles. Bench pre-pays it
    * as the named `build_dup_span_counts` entry.
    */
  private[graft] def dupSpanCounts(s: SparkSession, d: String): DataFrame =
    SessionCache.persisted(s, d, "dup_span_counts")(
      gramCounts(Tables.documents(s, d), DupSpanN))

  /** The uncached (doc_id, gram hash `h`, multiplicity `m`) plan of the
    * word-`n`-grams ([[Text.gramHashes]]) of any document frame: the
    * builder of both persisted count tables, [[dupSpanCounts]] and
    * [[tokenCounts]]. A document with fewer than `n` words explodes to
    * no rows; the (doc_id, h) aggregate rides the doc_id spread, so the
    * gram stream crosses no exchange. The array expression stays INLINE
    * in the generator (CLAUDE.md invariant).
    */
  private def gramCounts(docs: DataFrame, n: Int): DataFrame =
    Tables.spreadByDocId(docs)
      .select(col("doc_id"), explode(Text.gramHashes(col("text"), n)).as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("m"))

  /** [[dupSpansFrom]] over any document frame, counted by the uncached
    * plan (the spec's strategy cross-check on crafted corpora).
    */
  private[graft] def dupSpansOf(docs: DataFrame, useWindow: Boolean): DataFrame =
    dupSpansFrom(docs, gramCounts(docs, DupSpanN), useWindow)

  /** Both physical strategies of the dup-span accounting, shared so the
    * spec pins them identical on the real corpus AND a crafted
    * boilerplate-heavy one:
    *
    *  - join-back (`useWindow = false`, the SHIPPED default): document
    *    frequency as a map-side-combined aggregate over the (doc, gram)
    *    counts, joined back on the gram hash. A boilerplate gram is a hot
    *    JOIN key — and skewed join partitions split at runtime under AQE,
    *    where a hot WINDOW partition is an un-splittable serialization
    *    point. The (doc, gram) counts `cnt` feed both the df aggregate
    *    and the join probe side; over the materialized [[dupSpanCounts]]
    *    both read the one cached table (plan-guarded).
    *  - window (`useWindow = true`): df as COUNT(*) OVER (PARTITION BY h)
    *    riding the gram-key shuffle — one exchange fewer, the shape a
    *    deploy may pick on a corpus known boilerplate-free; kept as the
    *    spec's cross-check of the shipped form.
    */
  private def dupSpansFrom(docs: DataFrame, cnt: DataFrame,
      useWindow: Boolean): DataFrame = {
    val flagged =
      if (useWindow)
        cnt.withColumn("nd", count(lit(1)).over(Window.partitionBy("h")))
      else
        cnt.join(cnt.groupBy("h").agg(count(lit(1)).as("nd")), "h")
    val perDoc = flagged.groupBy("doc_id").agg(
      sum(col("m")).as("n_ngrams"),
      sum(when(col("nd") >= DupSpanMinDocs, col("m")).otherwise(lit(0L)))
        .as("n_dup"))
    val nNg = coalesce(col("n_ngrams"), lit(0L))
    val nDup = coalesce(col("n_dup"), lit(0L))
    docs.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), nNg.as("n_ngrams"), nDup.as("n_dup"),
        exactDiv(nDup, nNg, 4).as("dup_frac"),
        (nDup * 2 >= nNg && nNg > 0).as("mostly_dup"))
      .orderBy("doc_id")
  }

  /** Exact-substring dedup REWRITE — the removal transform
    * [[qDupSpans]] accounts for (Lee et al. 2021 "Deduplicating Training
    * Data Makes Language Models Better", the ExactSubstr pass;
    * RefinedWeb runs the same shape at 50-token spans): every token
    * position covered by a word-[[DupSpanN]]-gram occurring in ≥
    * [[DupSpanMinDocs]] distinct documents is removed from EVERY
    * occurrence — the symmetric remove-all rule of the released
    * ExactSubstr tool (a keep-first variant adds [[qLineDedup]]'s
    * per-gram argmin plus positional conflict resolution between
    * overlapping grams with different keepers; the loss from removing
    * all copies is the paper's own accepted trade). Per document: token
    * count, covered-position count, exact coverage fraction, and
    * `clean_hash` = md5 of the surviving tokens joined by ' ' in
    * original order — the rebuilt corpus verifiable without shipping a
    * second text column ([[qLineDedup]]'s contract, incl. its NULL-text
    * vs fully-removed = md5('') distinction).
    *
    * Scale shape (100 TB): the duplicated-gram roster derives from the
    * ONE materialized [[dupSpanCounts]] table (prepaid as
    * build_dup_span_counts — no third tokenization for df); positioned
    * grams join it on the gram hash — a boilerplate gram is a hot JOIN
    * key, AQE-skew-splittable, never a hot window ([[dupSpansOf]]'s
    * rule) — and fan out ×[[DupSpanN]] to covered positions only AFTER
    * the dup filter (covered rows ≪ gram rows on a typical corpus). The
    * (doc, pos) distinct and the rebuild aggregate are doc-keyed — no
    * hot keys by construction. The token-position branch pays a second
    * column-pruned scan instead of pinning the exploded corpus (the
    * [[qLineDedup]]/[[qBudgetSelect]] trade, taken the same way).
    */
  val qSubstringDedup: Q = Q(
    "q_substring_dedup",
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split($normSql, ' '), t -> t <> '') AS w
       |  FROM documents WHERE text IS NOT NULL),
       |pos AS (
       |  SELECT doc_id, i,
       |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS g
       |  FROM toks, UNNEST(generate_series(1, len(w)-4)) AS t(i)
       |  WHERE len(w) >= $DupSpanN),
       |dupg AS (
       |  SELECT g FROM (SELECT g, doc_id FROM pos GROUP BY g, doc_id)
       |  GROUP BY g HAVING COUNT(*) >= $DupSpanMinDocs),
       |cov AS (
       |  SELECT DISTINCT doc_id, i + off AS pos
       |  FROM (SELECT p.doc_id, p.i FROM pos p JOIN dupg USING (g)) j,
       |       UNNEST(generate_series(0, ${DupSpanN - 1})) AS o(off)),
       |tok AS (
       |  SELECT doc_id, i AS pos, w[i] AS tok
       |  FROM toks, UNNEST(generate_series(1, len(w))) AS t(i)),
       |per AS (
       |  SELECT t.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |    CAST(SUM(CASE WHEN c.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_covered,
       |    md5(COALESCE(string_agg(CASE WHEN c.pos IS NULL THEN t.tok END,
       |      ' ' ORDER BY t.pos), '')) AS ch
       |  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(n_tokens, 0) AS n_tokens,
       |  COALESCE(n_covered, 0) AS n_covered,
       |  ${exactDivSql("COALESCE(n_covered, 0)", "COALESCE(n_tokens, 0)", 4)}
       |    AS covered_frac,
       |  CASE WHEN d.text IS NULL THEN NULL ELSE COALESCE(ch, md5('')) END
       |    AS clean_hash
       |FROM documents d LEFT JOIN per USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    // duplicated-gram roster off the ONE materialized count table (its
    // per-(doc, gram) grain makes COUNT the document frequency)
    val dup = dupSpanCounts(s, d).groupBy("h")
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= DupSpanMinDocs).select("h")
    // positioned gram hashes: ONE GramHashKernel pass (r14 — bit-identical
    // to the old per-position concat_ws+xxhash64 lambda), posexplode
    // carries the position; array expr INLINE in the generator
    // (CLAUDE.md invariant); empty arrays (< DupSpanN tokens) explode to
    // zero rows like the old size(w) >= DupSpanN filter.
    val grams = Tables.spreadByDocId(docs)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(Text.gramHashes(col("text"), DupSpanN)).as(Seq("i", "h")))
    // r15 (guide §2.3 — ship intervals, not positions): the matched gram
    // STARTS aggregate per doc (narrow longs+ints, map-side combined,
    // ×DupSpanN fewer rows than the old covered-position explode and no
    // corpus-wide (doc, pos) distinct), and the covered-position
    // accounting + surviving-token rebuild run in ONE kernel pass over
    // the normalized text ([[graft.functions.CoverMaskKernel]]) — the
    // full token posexplode, the (doc, pos) left join and the
    // collect_list + array_sort rebuild aggregate are gone. A
    // boilerplate gram stays a hot JOIN key (AQE-skew-splittable), never
    // a hot window ([[dupSpansOf]]'s rule).
    val matchedStarts = grams.join(dup, "h")
      .groupBy("doc_id").agg(sort_array(collect_set(col("i"))).as("ps"))
    val masked = docs
      .join(matchedStarts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text").isNotNull.as("has_text"),
        GraftFunctions.call("graft_cover_mask", norm,
          coalesce(col("ps"), typedlit(Seq.empty[Int])),
          lit(DupSpanN)).as("r"))
    val nT = coalesce(col("r.n_tokens"), lit(0L))
    val nC = coalesce(col("r.n_covered"), lit(0L))
    masked
      .select(col("doc_id"), nT.as("n_tokens"), nC.as("n_covered"),
        exactDiv(nC, nT, 4).as("covered_frac"),
        when(col("has_text"), md5(coalesce(col("r.clean"), lit(""))))
          .as("clean_hash"))
      .orderBy("doc_id")
  }

  /** Token budget for [[qBudgetSelect]] — small enough that every SF
    * selects a strict top slice, large enough to span many documents.
    */
  private[graft] val TokenBudget = 20000L

  /** Data selection under a token budget (the "best B tokens" primitive
    * of pretraining corpus assembly — fill a fixed training budget with
    * the highest-quality documents first): rank the corpus by
    * (quality_score DESC, doc_id), take the maximal prefix whose
    * cumulative whitespace-token count stays within [[TokenBudget]].
    * Unscoreable documents sort last via the -1 coalesce (a total order
    * needs a key for every row — the [[Curation]] null-routing
    * principle); the output quality_score is that coalesced sort key,
    * so the emitted frame is self-describing about WHY a row ranked
    * where it did.
    *
    * Scale shape: the global running sum is TWO-LEVEL, never a
    * single-task corpus window (the [[qSeqPack]]/hashRank
    * decomposition): quality quantizes into ⌊q·[[BudgetBlocks]]⌋ blocks
    * — monotone in q, so (block DESC, q DESC, doc_id) IS the global
    * order — rows cumulate within their block's window partition, block
    * totals prefix-sum at BLOCK grain (≤ [[BudgetBlocks]]+2 rows
    * through the unpartitioned window — post-aggregation grain), and a
    * tiny broadcast join carries each block's offset back. The block
    * totals pay a second column-pruned scan (blk depends on the
    * quality projection); a cached one-scan variant would trade a
    * corpus-sized memory pin for ~0.5 s measured at sf0.1 — not taken.
    */
  val qBudgetSelect: Q = Q(
    "q_budget_select",
    s"""WITH t AS (
       |  SELECT doc_id,
       |    COALESCE($qualityScoreSql, -1.0) AS quality_score,
       |    CAST(${Text.wordCountSql} AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, quality_score, n_tokens,
       |    CAST(SUM(COALESCE(n_tokens, 0)) OVER (
       |      ORDER BY quality_score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens
       |  FROM t)
       |SELECT doc_id, quality_score, n_tokens, cum_tokens
       |FROM c WHERE cum_tokens <= $TokenBudget
       |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val scored = qualityScored(Tables.documents(s, d))
      .select(col("doc_id"),
        coalesce(col("quality_score"), lit(-1.0)).as("quality_score"),
        Text.wordCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("blk", floor(col("quality_score") * BudgetBlocks).cast("int"))
    val wLoc = Window.partitionBy("blk")
      .orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = scored.withColumn("cum_local",
      sum(coalesce(col("n_tokens"), lit(0L))).over(wLoc))
    // block offsets: ≤ BudgetBlocks+2 rows — post-aggregation grain only
    val wOff = Window.orderBy(col("blk").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = scored.groupBy("blk")
      .agg(sum(coalesce(col("n_tokens"), lit(0L))).as("btot"))
      .withColumn("off", coalesce(sum("btot").over(wOff), lit(0L)))
      .select("blk", "off")
    local.join(broadcast(offs), Seq("blk"))
      .withColumn("cum_tokens", col("off") + col("cum_local"))
      .filter(col("cum_tokens") <= TokenBudget)
      .select("doc_id", "quality_score", "n_tokens", "cum_tokens")
      .orderBy("doc_id")
  }

  /** Per-line normalization inside [[qLineDedup]] — [[Text.norm]]'s
    * whitespace class applied to each line (kept adjacent to the Spark
    * side so the class cannot drift between engines).
    */
  private val lineNormSql = Text.normSqlOf("ls[i]")

  /** Line-grain exact dedup (the C4/RefinedWeb line-level pass: a
    * boilerplate line — nav header, cookie banner, license footer — is
    * removed from every document but its FIRST corpus occurrence, then
    * documents are rebuilt from their surviving lines). Per document:
    * content-line count, kept count, removed count, exact removed
    * fraction, and `clean_hash` = md5 of the rebuilt text (the surviving
    * normalized lines joined by newline, in original order) so the
    * rebuilt corpus is verifiable without shipping a second text column.
    * Blank lines (whitespace-only after normalization) are dropped
    * unconditionally and never counted. A null-text document stays in
    * the report with zero lines and a NULL clean_hash — distinguishable
    * from a document whose every line was removed (md5 of the empty
    * string), the [[qDecontaminateSemantic]] three-valued-verdict
    * principle.
    *
    * On a corpus without newlines (this one) every document is a single
    * line and the removal pattern collapses to [[qDedupExact]]'s
    * keep-min-id rule — spec-pinned as a cross-operator identity; the
    * multi-line path is spec-pinned on a crafted corpus (the
    * [[qPiiScan]] crafted-kernel precedent).
    *
    * Scale shape (100 TB): lines shuffle as xxhash64 keys for the
    * first-occurrence argmin (16-byte rows; cross-line hash collision is
    * the accepted hashed-postings premise of [[qDupSpans]]); the keeper
    * table joins BACK on the line hash — a boilerplate line is a hot
    * JOIN key, AQE-skew-splittable, never a hot window partition (the
    * [[dupSpansOf]] skew rule; hot lines here ARE the workload). The
    * rebuild pays a second column-pruned scan instead of pinning the
    * line-exploded corpus in memory — the [[qBudgetSelect]] trade, taken
    * the same way.
    */
  val qLineDedup: Q = Q(
    "q_line_dedup",
    s"""WITH sp AS (
       |  SELECT doc_id, string_split(text, chr(10)) AS ls
       |  FROM documents WHERE text IS NOT NULL),
       |occ AS (
       |  SELECT doc_id, i AS pos, $lineNormSql AS ln
       |  FROM sp, UNNEST(generate_series(1, len(ls))) AS t(i)
       |  WHERE trim($lineNormSql) <> ''),
       |k AS (
       |  SELECT doc_id, pos, ln,
       |    (row_number() OVER (PARTITION BY ln ORDER BY doc_id, pos)) = 1 AS keep
       |  FROM occ),
       |per AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
       |    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |    md5(COALESCE(string_agg(CASE WHEN keep THEN ln END, chr(10) ORDER BY pos), ''))
       |      AS ch
       |  FROM k GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(n_lines, 0) AS n_lines,
       |  COALESCE(n_kept, 0) AS n_kept,
       |  COALESCE(n_lines, 0) - COALESCE(n_kept, 0) AS n_removed,
       |  ${exactDivSql("COALESCE(n_lines, 0) - COALESCE(n_kept, 0)",
                        "COALESCE(n_lines, 0)", 4)} AS removed_frac,
       |  CASE WHEN d.text IS NULL THEN NULL ELSE COALESCE(ch, md5('')) END
       |    AS clean_hash
       |FROM documents d LEFT JOIN per USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    def lines(df: DataFrame) = df
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("pos", "raw")))
      .select(col("doc_id"), col("pos"), Text.norm(col("raw")).as("ln"))
      .filter(trim(col("ln")) =!= "")
    val spread = Tables.spreadByDocId(docs)
    // first occurrence per line hash: one narrow (h, doc_id, pos)
    // aggregate — struct min is lexicographic, so (doc_id, pos) argmin
    val first = lines(spread)
      .select(xxhash64(col("ln")).as("h"),
        struct(col("doc_id").as("d"), col("pos").as("p")).as("o"))
      .groupBy("h").agg(min(col("o")).as("f"))
    val flagged = lines(spread)
      .withColumn("h", xxhash64(col("ln")))
      .join(first, "h")
      .withColumn("keep",
        col("doc_id") === col("f.d") && col("pos") === col("f.p"))
    // collect_list skips nulls, so the CASE collects kept lines only;
    // array_sort on (pos, ln) structs restores original line order
    val per = flagged.groupBy("doc_id").agg(
      count(lit(1)).as("n_lines"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
      md5(concat_ws("\n", expr(
        "transform(array_sort(collect_list(CASE WHEN keep THEN struct(pos, ln) END)), x -> x.ln)")))
        .as("ch"))
    val nL = coalesce(col("n_lines"), lit(0L))
    val nK = coalesce(col("n_kept"), lit(0L))
    docs.select(col("doc_id"), col("text").isNotNull.as("has_text"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), nL.as("n_lines"), nK.as("n_kept"),
        (nL - nK).as("n_removed"),
        exactDiv(nL - nK, nL, 4).as("removed_frac"),
        when(col("has_text"), coalesce(col("ch"), md5(lit(""))))
          .as("clean_hash"))
      .orderBy("doc_id")
  }

  /** A token is "rare" for [[qFamiliarity]] when its whole-corpus
    * occurrence count is at or below this (hapax + dis legomena — the
    * OOV proxy of a closed-vocabulary LM). The synthetic corpus draws
    * from a ~31-token vocabulary whose rarest member occurs 29 times, so
    * rare_frac is identically zero HERE and the discriminating path is
    * spec-pinned on a crafted corpus (the [[qPiiScan]] precedent); the
    * oracle still verifies the arithmetic end-to-end.
    */
  private[graft] val RareMaxCf = 2L

  /** Unigram corpus-familiarity scoring — the log-free form of the
    * CCNet/FineWeb LM-perplexity quality signal (a document whose tokens
    * the corpus has rarely seen is gibberish, OCR noise, or genuinely
    * novel; one whose tokens are all corpus-frequent is boilerplate-like
    * and well-modeled). Per document: token count, the rarest token's
    * corpus frequency (min_cf — the "most surprising token" signal),
    * mean token corpus-frequency (exact 4-dp), and the fraction of token
    * positions holding a rare token ([[RareMaxCf]]). Log-free on
    * purpose: a libm log() can differ in the last ulp between engines
    * (the [[qTfidfTerms]] rule), and the familiarity ORDERING is what a
    * filter consumes — monotone in the mean frequency.
    *
    * Scale shape (100 TB): tokens shuffle once as xxhash64 keys into the
    * (doc, token) multiplicity table — materialized ONCE and persisted
    * (the [[dupSpanCounts]] escape: its two consumers — the corpus-
    * frequency aggregate and the join probe side — otherwise tokenize
    * the corpus twice); corpus frequency is a map-side-combined SUM over
    * it, joined BACK on the token hash. A stopword is a hot JOIN key —
    * AQE-skew-splittable — never a hot window partition (the
    * [[dupSpansOf]] rule; a COUNT-OVER-token window serializes every
    * stopword occurrence through one task). sum(m·cf) stays in the long
    * lane: m·cf ≤ n_tokens·N bounds it under 2^63 through ~10^9-token
    * corpora per doc-token — beyond that the sum lane moves to
    * Decimal(38) like [[graft.functions.Det]]'s documented bounds.
    */
  val qFamiliarity: Q = Q(
    "q_familiarity",
    s"""WITH toks AS (
       |  SELECT doc_id, t AS term
       |  FROM (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
       |       UNNEST(w) AS u(t)
       |  WHERE t <> ''),
       |cnt AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS m
       |        FROM toks GROUP BY 1, 2),
       |cf AS (SELECT term, CAST(SUM(m) AS BIGINT) AS cf FROM cnt GROUP BY 1),
       |per AS (
       |  SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_tokens,
       |    CAST(SUM(m * cf) AS BIGINT) AS sum_cf,
       |    CAST(SUM(CASE WHEN cf <= $RareMaxCf THEN m ELSE 0 END) AS BIGINT)
       |      AS n_rare,
       |    MIN(cf) AS min_cf
       |  FROM cnt JOIN cf USING (term) GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(n_tokens, 0) AS n_tokens, min_cf,
       |  ${exactDivSql("sum_cf", "n_tokens", 4)} AS mean_cf,
       |  ${exactDivSql("n_rare", "n_tokens", 4)} AS rare_frac
       |FROM documents d LEFT JOIN per USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  ) { (s, d) =>
    val cnt = tokenCounts(s, d)
    val cf = cnt.groupBy("h").agg(sum("m").as("cf"))
    val per = cnt.join(cf, "h").groupBy("doc_id").agg(
      sum(col("m")).as("n_tokens"),
      sum(col("m") * col("cf")).as("sum_cf"),
      sum(when(col("cf") <= RareMaxCf, col("m")).otherwise(0L)).as("n_rare"),
      min("cf").as("min_cf"))
    Tables.documents(s, d).select("doc_id")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"), col("min_cf"),
        exactDiv(col("sum_cf"), col("n_tokens"), 4).as("mean_cf"),
        exactDiv(col("n_rare"), col("n_tokens"), 4).as("rare_frac"))
      .orderBy("doc_id")
  }

  /** The materialized (doc_id, token-hash, multiplicity) table of
    * (session, dir) that [[qFamiliarity]]'s two consumers and
    * [[qTfidfTerms]]' df read — the 1-gram twin of [[dupSpanCounts]], same
    * persistence rationale (without it the differently-pruned cf/probe
    * branches tokenize the corpus twice), same [[graft.SessionCache]]
    * lifecycle, named `build_token_counts` in the bench.
    */
  private[graft] def tokenCounts(s: SparkSession, d: String): DataFrame =
    SessionCache.persisted(s, d, "token_counts")(
      gramCounts(Tables.documents(s, d), 1))

  /** Per-document feature frame for quality-classifier training — the
    * featurization pass behind a FineWeb-Edu-style learned quality
    * filter (hand signals → features → train a small classifier → score
    * the lake): composite quality score (+ the rule it would distill),
    * whitespace-token count, blocklist exposure, predicted language and
    * PII hit total, every signal reusing its standalone operator's OWN
    * definition ([[qualityScored]], [[blocklistFlags]],
    * [[withLangSignals]]/[[langPredCol]], [[piiCols]]) so the feature a
    * classifier trains on cannot drift from the gate the pipeline
    * enforces.
    *
    * Scale shape (100 TB): embarrassingly parallel — ONE pruned corpus
    * scan, chained column-preserving projections, zero joins/windows/
    * aggregates (plan-guarded); the only exchange is the presentation
    * sort. This is the map-only shape a 1000-executor featurization run
    * must have: adding a shuffle here would dominate the whole job.
    */
  val qDocFeatures: Q = Q(
    "q_doc_features",
    s"""WITH p AS (
       |  SELECT *, $cjkSql AS cjk, $paddedSql AS padded FROM documents),
       |sc AS (
       |  SELECT *,
       |    $langScoresSql,
       |    len(list_filter(string_split($normSql, ' '), t -> t <> ''))
       |      AS n_tok,
       |    len(list_filter(string_split($normSql, ' '),
       |      t -> t IN (${Blocklist.map(w => s"'$w'").mkString(", ")})))
       |      AS n_blocked
       |  FROM p)
       |SELECT doc_id,
       |  $qualityScoreSql AS quality_score,
       |  CAST(n_tok AS BIGINT) AS n_tokens,
       |  CAST(n_blocked AS BIGINT) AS n_blocked,
       |  (n_blocked * 20 > n_tok) AS blocked,
       |  $langCaseSql AS lang_pred,
       |  CAST(len(regexp_extract_all(text, '$PiiEmail'))
       |    + len(regexp_extract_all(text, '$PiiIpv4'))
       |    + len(regexp_extract_all(text, '$PiiPhone'))
       |    + len(regexp_extract_all(text, '$PiiIdRun')) AS BIGINT) AS n_pii
       |FROM sc ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val base = withLangSignals(
      qualityScored(blocklistFlags(Tables.documents(s, d))))
    // the four PII counters summed — null text propagates NULL (unassessed)
    val nPii = nPiiCol(s, col("text"))
    base.select(col("doc_id"), col("quality_score"),
      col("n_tok").as("n_tokens"), col("n_blocked"), col("blocked"),
      langPredCol.as("lang_pred"),
      nPii.cast("long").as("n_pii"))
      .orderBy("doc_id")
  }

  /** Per-source duplication profile (the curation diagnostic that tells
    * you WHICH crawl/source is flooding the lake with copies — the
    * reference monitors dedup rate per scrape run
    * (monitor._compute_data_quality); a corpus assembler needs it per
    * source): per source, total documents, non-null-content documents,
    * distinct contents, documents belonging to a corpus-wide duplicate
    * group, documents exact-dedup would REMOVE (non-keepers under
    * [[qDedupExact]]'s keep-min-id rule — cross-source duplication
    * charges the source holding the later copy), and the exact removal
    * rate.
    *
    * Scale shape: content keys are 16-byte md5 rows into one group
    * aggregate; the group stats join BACK on the content hash (a viral
    * boilerplate page is a hot JOIN key — AQE-skew-splittable, the
    * [[dupSpansOf]] rule); both rollups are map-side-combined at source
    * grain. Null-text documents are counted but excluded from dedup
    * accounting (no content key), mirrored exactly in the oracle.
    */
  val qSourceDedup: Q = Q(
    "q_source_dedup",
    s"""WITH b AS (
       |  SELECT doc_id, source, md5($normSql) AS ch FROM documents),
       |t AS (
       |  SELECT source, COUNT(*) AS n_docs, COUNT(text) AS n_content
       |  FROM documents GROUP BY 1),
       |c AS (SELECT * FROM b WHERE ch IS NOT NULL),
       |g AS (SELECT ch, MIN(doc_id) AS keep_id,
       |        CAST(COUNT(*) AS BIGINT) AS n_copies
       |      FROM c GROUP BY 1),
       |a AS (
       |  SELECT source,
       |    COUNT(DISTINCT ch) AS n_distinct_contents,
       |    CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_dup_members,
       |    CAST(SUM(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_removed
       |  FROM c JOIN g USING (ch) GROUP BY 1)
       |SELECT t.source, t.n_docs, t.n_content,
       |  COALESCE(n_distinct_contents, 0) AS n_distinct_contents,
       |  COALESCE(n_dup_members, 0) AS n_dup_members,
       |  COALESCE(n_removed, 0) AS n_removed,
       |  ${exactDivSql("COALESCE(n_removed, 0)", "t.n_content", 4)}
       |    AS removed_rate
       |FROM t LEFT JOIN a USING (source)
       |ORDER BY t.source""".stripMargin
  ) { (s, d) =>
    // the totals branch never needs the content hash (ch is null iff
    // text is null) — counting text there keeps the md5 off that scan
    val totals = Tables.documents(s, d).groupBy("source")
      .agg(count(lit(1)).as("n_docs"), count(col("text")).as("n_content"))
    val content = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), Text.contentKey(col("text")).as("ch"))
      .filter(col("ch").isNotNull)
    val groups = content.groupBy("ch")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    val perSource = content.join(groups, "ch").groupBy("source").agg(
      countDistinct(col("ch")).as("n_distinct_contents"),
      sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_members"),
      sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L))
        .as("n_removed"))
    totals.join(perSource, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_content"),
        coalesce(col("n_distinct_contents"), lit(0L)).as("n_distinct_contents"),
        coalesce(col("n_dup_members"), lit(0L)).as("n_dup_members"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        exactDiv(coalesce(col("n_removed"), lit(0L)), col("n_content"), 4)
          .as("removed_rate"))
      .orderBy("source")
  }

  val all: Seq[Q] = Seq(
    qDedupExact, qLangId, qLangMix, qQualityScore, qTokenCount, qTokenHist, qVocabGrowth,
    qSeqPack, qWeightedSample, qTfidfTerms, qFingerprint, qRepetitionStats,
    qDecontaminate, qPiiScan, qPiiRedact, qSourceOverlap, qSourceMix, qMixTemperature, qMixApply,
    qQualityKs, qScoreCalibrate, qQualityCorr,
    qBlocklistScan, qDupSpans,
    qBudgetSelect, qLineDedup, qFamiliarity, qDocFeatures, qSourceDedup,
    qSubstringDedup)
}
