package graft.operators

import graft.{Gates, Q, SessionCache, Tables}
import graft.functions.Det._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import scala.jdk.CollectionConverters._

/** Corpus-assembly operators — the "write the training run's input" end of
  * the pipeline (SURVEY §2.5): deterministic epoch shuffling with
  * token-balanced shard assignment + the per-shard manifest (the sharded
  * dataset layout every large-scale trainer consumes: fixed-size files in
  * a reproducible pseudo-random document order, so any worker can seek to
  * shard k of epoch e without coordination), the physical sharded export,
  * and the adjacent-token-pair counting primitive of tokenizer (BPE merge)
  * training. The reference's exporter (src/labeling/exporter.py:195)
  * writes one flat file per split; sharding is what that step becomes at
  * 100 TB.
  */
object Assembly {

  /** Target tokens per shard. Toy-sized so every SF produces a healthy
    * shard count (~13 at sf0.01, ~132 at sf0.1); a production export sets
    * this to O(10^8) tokens (~a few hundred MB of text per shard file).
    */
  private[graft] val ShardTokens = 2048L

  /** Hex chars of the shuffle key used as the level-1 block of the
    * two-level running sum: 2 → 256 blocks. Unlike [[TextOps.qBudgetSelect]]'s
    * quality-quantized blocks (balance there depends on the score
    * distribution — an atom serializes its block), the md5 prefix is
    * uniform BY CONSTRUCTION, so blocks balance on any corpus and the
    * block key is a monotone prefix of the global order key. A
    * 1000-executor deploy widens this to 3-4 hex chars (4096/65536
    * blocks) — the offset table stays post-aggregation-tiny either way.
    */
  private[graft] val ShardBlockHex = 2

  /** The deterministic epoch-e shuffle key: md5 over (doc_id, epoch).
    * Changing the epoch re-permutes the corpus without any state — the
    * standard seeded-epoch-shuffle contract of a training data loader.
    */
  private def shuffleKey(epoch: Int) =
    md5(concat(col("doc_id").cast("string"), lit(s":$epoch")))

  /** Per-document shard assignment for one epoch: documents order by the
    * [[shuffleKey]] (a deterministic pseudo-random permutation), the
    * cumulative whitespace-token count runs in that order, and
    * `shard_id = ⌊tokens-before-this-doc / ShardTokens⌋` — the greedy
    * fill rule (a shard closes when the next document would start past
    * its boundary; a shard may exceed the target by at most one
    * document, the standard tolerance). Null/empty text carries 0 tokens
    * and still lands in a shard — assignment is a TOTAL function of the
    * corpus (the [[Curation]] null-routing principle), so shard files
    * reconcile against corpus counts.
    *
    * Scale shape (100 TB): the global running sum is TWO-LEVEL (the
    * [[TextOps.qBudgetSelect]] decomposition with a better block key —
    * see [[ShardBlockHex]]): rows cumulate within their md5-prefix
    * block's window partition, block totals prefix-sum at ≤ 256 rows
    * through the unpartitioned window (post-aggregation grain), and the
    * tiny offset table broadcasts back. Never a single-task corpus
    * window; no skew risk because the block key is uniform by
    * construction.
    */
  private[graft] def shardAssigned(docs: DataFrame, epoch: Int = 0): DataFrame = {
    val base = docs.select(
      col("doc_id"),
      shuffleKey(epoch).as("shuffle_key"),
      coalesce(Text.wordCount(col("text")).cast("long"), lit(0L))
        .as("n_tokens"))
      .withColumn("blk", substring(col("shuffle_key"), 1, ShardBlockHex))
    val wLoc = Window.partitionBy("blk")
      .orderBy(col("shuffle_key"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = base.withColumn("cum_in", sum(col("n_tokens")).over(wLoc))
    // block offsets: ≤ 256 rows — post-aggregation grain only
    val wOff = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    val offs = base.groupBy("blk").agg(sum(col("n_tokens")).as("bt"))
      .withColumn("off", coalesce(sum(col("bt")).over(wOff), lit(0L)))
      .select("blk", "off")
    local.join(broadcast(offs), Seq("blk"))
      .withColumn("cum_before", col("off") + col("cum_in") - col("n_tokens"))
      .select(col("doc_id"), col("shuffle_key"), col("n_tokens"),
        expr(s"cum_before div $ShardTokens").as("shard_id"))
  }

  /** DuckDB mirror of the epoch-0 assignment (single-threaded, so the
    * oracle's running sum is one plain window — the two-level Spark
    * decomposition must land on identical numbers).
    */
  private val assignSql =
    s"""  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':0') AS shuffle_key,
       |    CAST(COALESCE(${Text.wordCountSql}, 0) AS BIGINT) AS n_tokens
       |  FROM documents),
       |asg AS (
       |  SELECT doc_id, shuffle_key, n_tokens,
       |    COALESCE(CAST(SUM(n_tokens) OVER (
       |      ORDER BY shuffle_key, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |      // $ShardTokens AS shard_id
       |  FROM t""".stripMargin

  /** Epoch-0 shard assignment, per document. */
  val qShardAssign: Q = Q(
    "q_shard_assign",
    s"""WITH t AS (
       |$assignSql)
       |SELECT doc_id, shuffle_key, n_tokens, shard_id
       |FROM asg ORDER BY doc_id""".stripMargin
  ) { (s, d) => shardAssigned(Tables.documents(s, d)).orderBy("doc_id") }

  /** Per-shard manifest over an assignment frame — the sidecar a trainer
    * reads to plan its data loading (docs/tokens per shard, and the
    * shuffle-key range each shard spans: shards partition the key space
    * into contiguous runs, so first/last key double as a seek index).
    */
  private[graft] def shardManifestOf(assigned: DataFrame): DataFrame =
    assigned.groupBy("shard_id").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      min(col("shuffle_key")).as("first_key"),
      max(col("shuffle_key")).as("last_key"))
      .orderBy("shard_id")

  /** Epoch-0 shard manifest (one map-side-combined aggregate over the
    * assignment — output is shard-grain, post-aggregation-tiny).
    */
  val qShardManifest: Q = Q(
    "q_shard_manifest",
    s"""WITH t AS (
       |$assignSql)
       |SELECT shard_id, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |  MIN(shuffle_key) AS first_key, MAX(shuffle_key) AS last_key
       |FROM asg GROUP BY 1 ORDER BY shard_id""".stripMargin
  ) { (s, d) => shardManifestOf(shardAssigned(Tables.documents(s, d))) }

  /** Physical sharded export: the corpus written as parquet partitioned
    * BY SHARD (readers fetch shard k via partition pruning — one
    * directory listing, the layout a distributed data loader consumes)
    * plus the [[shardManifestOf]] sidecar computed from the WRITTEN
    * dataset (describes exactly the files shipped — the
    * [[Labeling.exportSplits]] contract). Per-task files, no driver
    * collect.
    */
  def exportShards(s: SparkSession, d: String, outDir: String,
      epoch: Int = 0): Unit = {
    val rows = shardAssigned(Tables.documents(s, d), epoch)
      .join(Tables.documents(s, d).select("doc_id", "text", "lang", "source"),
        "doc_id")
    rows.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("shard_id").parquet(s"$outDir/shards")
    graft.sources.Store.exportParquet(
      shardManifestOf(
        s.read.schema(rows.schema).parquet(s"$outDir/shards")),
      s"$outDir/manifest")
  }

  /** How many top pairs [[qPairCounts]] emits. */
  private[graft] val PairTopK = 100

  /** Adjacent-token-pair frequency — the inner loop of BPE/WordPiece
    * tokenizer training (each merge step promotes the corpus's most
    * frequent adjacent pair): the top-[[PairTopK]] pairs by corpus count,
    * ties broken lexicographically so the cut is a total order both
    * engines agree on.
    *
    * Scale shape (100 TB): pairs flow straight from the inline generator
    * into a map-side-combined count — a stopword bigram ("of the") is a
    * hot GROUP key, and hash-aggregate partials absorb hot keys
    * map-side (never a hot window partition); the global top-k is a
    * bounded-heap TakeOrderedAndProject over the post-aggregation pair
    * table, no global sort. One scan, one shuffle.
    */
  val qPairCounts: Q = Q(
    "q_pair_counts",
    s"""WITH toks AS (
       |  SELECT list_filter(string_split(${Text.normSql}, ' '), t -> t <> '') AS w
       |  FROM documents),
       |p AS (
       |  SELECT w[i] || ' ' || w[i+1] AS pair
       |  FROM toks, UNNEST(generate_series(1, len(w)-1)) AS t(i)
       |  WHERE len(w) >= 2)
       |SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
       |FROM p GROUP BY 1
       |ORDER BY n DESC, pair LIMIT $PairTopK""".stripMargin
  ) { (s, d) =>
    val toks = Tables.spreadByDocId(Tables.documents(s, d))
      .select(Text.words(col("text")).as("w"))
    toks.filter(size(col("w")) >= 2)
      // array expr INLINE in the generator (CLAUDE.md invariant); get()
      // not w[i] so index lambdas never evaluate before their size guard
      .select(explode(expr(
        "transform(sequence(0, size(w)-2), " +
          "i -> concat(get(w, i), ' ', get(w, i+1)))")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(PairTopK)
  }

  /** Merge rounds for the registered [[qBpeMerges]] run — enough to
    * exercise cascaded merges (merged symbols re-pairing) on any corpus;
    * a production tokenizer raises this to O(10⁴–10⁵) merges with the
    * same loop.
    */
  private[graft] val BpeMerges = 20

  /** End-of-word marker symbol (classic BPE: lets the tokenizer learn
    * word-final units distinctly from word-internal ones).
    */
  private[graft] val BpeEow = "</w>"

  /** BPE tokenizer TRAINING — the iterative loop whose single step
    * [[qPairCounts]] is: n rounds of (count adjacent symbol pairs →
    * promote the most frequent pair to a new symbol → re-segment every
    * word), producing the ranked merge table a BPE tokenizer IS.
    *
    * Scale shape (100 TB): the corpus is touched ONCE, for BPE training
    * and [[bpeEncode]] together — the map-side-combined (source, word, n)
    * table of [[wordCounts]] (the classic BPE-at-scale move: training
    * runs on word frequencies, O(vocabulary) rows where the corpus is
    * billions; pair counts are freq-weighted so the result is identical
    * to training on the raw corpus). The merge loop then dispatches on
    * the table's size ([[Gates.BpeDriverMaxVocab]]): small vocabularies train
    * on the driver (model-sized data — the merge table is the model);
    * oversized ones run the distributed loop, where each round costs one
    * inline-generator pair explode into a map-side-combined count (a
    * stopword pair is a hot GROUP key — absorbed by hash-aggregate
    * partials), a 1-row bounded-heap argmax collected to the driver (a
    * MODEL decision, the IVF-centroid precedent — never a data-path
    * collect), and one embarrassingly-parallel re-segmentation map.
    * Distributed rounds localCheckpoint (the [[Similarity]]
    * components-loop contract): 20+ nested fold lambdas otherwise pile
    * into one ever-deeper plan that re-runs every prior round per
    * action.
    *
    * Determinism: the argmax is total-ordered (count DESC, left, right)
    * — both loops and any reference recompute pick the same pair at
    * ties, so the dispatch cannot change the answer. Re-segmentation is
    * the standard greedy LEFT-TO-RIGHT non-overlapping replace,
    * expressed distributively as an array fold: a symbol merges with
    * the accumulator's last element iff they spell the promoted pair
    * (so "aaa" under (a,a) becomes [aa, a], and a symbol minted THIS
    * round can immediately pair again next round — the cascade that
    * builds long units). The fold reads the accumulator tail via get()
    * (null-safe on the empty accumulator), never a negative element_at
    * — the ANSI guard rule.
    *
    * Early stop: when every word is one symbol, no pairs remain and the
    * loop ends with however many merges exist — the merge table is the
    * answer, not an error ([[Curation]] empty-funnel principle).
    */
  def bpeTrain(s: SparkSession, d: String, nMerges: Int = BpeMerges): DataFrame = {
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      StructField("rank", IntegerType, nullable = false),
      StructField("left", StringType, nullable = false),
      StructField("right", StringType, nullable = false),
      StructField("merged", StringType, nullable = false),
      StructField("pair_count", LongType, nullable = false)))
    s.createDataFrame(bpeMerges(s, d, nMerges)
      .map { case (rk, l, r, m, n) => Row(rk, l, r, m, n) }.asJava, outSchema)
  }

  /** The (source, word, n) table: how often each [[Text.words]] word occurs
    * in each source — BPE's one corpus pass. Training reads a word's
    * frequency as its n summed over sources; encode reads
    * `n_words = Σ n` and `n_bpe_tokens = Σ n·n_bpe(word)` per source.
    */
  private def wordCounts(s: SparkSession, d: String): DataFrame =
    // spread at every size, unlike decontamination: a warm session
    // reading the word table unspread took 0.26 s at 5k documents, 0.45 s
    // at 10k and 0.86 s at 20k against 0.19, 0.25 and 0.38 s spread
    // (4 cores), and gating it left release_cold's wall unchanged
    Tables.spreadByDocId(Tables.documents(s, d))
      .select(col("source"), explode(Text.words(col("text"))).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("n"))

  /** [[wordCounts]]' rows if at most [[Gates.BpeDriverMaxVocab]], else None:
    * one bounded collect, `limit(gate + 1)`, both measures the table and,
    * under the gate, brings it to the driver for training and encode.
    */
  private def bpeWordRows(s: SparkSession, d: String): Option[Array[(String, String, Long)]] =
    SessionCache(s, d, "bpe_word_rows") {
      val rows = wordCounts(s, d).limit(Gates.BpeDriverMaxVocab.max.toInt + 1)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (Gates.BpeDriverMaxVocab.near(rows.length)) Some(rows) else None
    }

  /** [[wordCounts]] localCheckpointed for the paths above the gate, which
    * thus read the corpus twice: [[bpeWordRows]]' probe, then this.
    */
  private def bpeWordTable(s: SparkSession, d: String): DataFrame =
    SessionCache(s, d, "bpe_word_table")(wordCounts(s, d).localCheckpoint())

  /** Trained merge table per (session, dir, rounds), memoized in
    * [[graft.SessionCache]]: the merge table IS the tokenizer model, and
    * without the memo every consumer ([[qBpeMerges]], [[qBpeEncode]],
    * bench repeats) re-runs the merge loop.
    */
  private[graft] def bpeMerges(s: SparkSession, d: String, nMerges: Int)
      : Seq[(Int, String, String, String, Long)] =
    SessionCache(s, d, ("bpe_merges", nMerges)) {
      bpeWordRows(s, d) match {
        case Some(rows) =>
          val freqs = rows.groupMapReduce(_._2)(_._3)(_ + _)
          driverLoop(freqs.toArray.map { case (w, f) => (codePointSyms(w), f) }, nMerges)
        case None => distributedMerges(s, d, nMerges)
      }
    }

  /** The distributed merge loop over [[bpeWordTable]]. */
  private def distributedMerges(s: SparkSession, d: String, nMerges: Int)
      : Seq[(Int, String, String, String, Long)] =
    distributedLoop(bpeWordTable(s, d).groupBy("word")
      .agg(sum(col("n")).as("freq")).select(col("freq"), wordSyms), nMerges)

  /** The paths above [[Gates.BpeDriverMaxVocab]] on any corpus, unmemoized: the
    * distributed loop's merge table and the encode rows of the distributed
    * cascade under it, for pinning both against the driver path.
    */
  private[graft] def bpeDistributed(s: SparkSession, d: String)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    val merges = distributedMerges(s, d, BpeMerges)
    (merges, encodeFrame(s, distributedEncode(s, d, merges.map(m => (m._2, m._3)))))
  }

  /** The in-driver merge loop — the [[bpeTrain]] small-vocab fast path.
    * Same argmax order and greedy replace as the distributed form.
    */
  private def driverLoop(vocab0: Array[(Array[String], Long)], nMerges: Int)
      : Seq[(Int, String, String, String, Long)] = {
    var vocab = vocab0
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 0
    var exhausted = false
    while (rank < nMerges && !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) += f
      if (counts.isEmpty) exhausted = true
      else {
        // tie-break in UTF-8 BYTE order — exactly the distributed
        // loop's orderBy (Spark compares strings byte-wise)
        implicit val ord: Ordering[String] = Utf8Order
        val ((l, r), n) = counts.toSeq
          .minBy { case ((a, b), m) => (-m, a, b) }
        out += ((rank, l, r, l + r, n))
        vocab = vocab.map { case (syms, f) => (mergeLocal(syms, l, r), f) }
        rank += 1
      }
    }
    out.result()
  }

  /** The distributed merge loop — the [[bpeTrain]] oversized-vocab path. */
  private def distributedLoop(vocab0: DataFrame, nMerges: Int)
      : Seq[(Int, String, String, String, Long)] = {
    var vocab = vocab0
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 0
    var exhausted = false
    while (rank < nMerges && !exhausted) {
      // pair array INLINE in the generator (CLAUDE.md invariant)
      val top = vocab.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(syms)-2), " +
            "i -> struct(get(syms, i) AS l, get(syms, i+1) AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r")).limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, n) = (top.head.getAs[String]("l"),
          top.head.getAs[String]("r"), top.head.getAs[Long]("n"))
        merges += ((rank, l, r, l + r, n))
        vocab = resegment(vocab, vocab0, l, r)
        rank += 1
      }
    }
    if (vocab ne vocab0) SessionCache.release(vocab)
    merges.result()
  }

  /** One checkpointed round of re-segmentation by (l, r); the superseded
    * frame is released unless it is `seed`, a plan over [[bpeWordTable]].
    */
  private def resegment(vocab: DataFrame, seed: DataFrame, l: String, r: String)
      : DataFrame = {
    val next = vocab.withColumn("syms", mergeFold(l, r)).localCheckpoint()
    if (vocab ne seed) SessionCache.release(vocab)
    next
  }

  /** The greedy left-to-right merge of pair (l, r) over a `syms` array —
    * the ONE fold both the training loop's re-segmentation and the
    * distributed encode apply (accumulator tail via null-safe get(),
    * never a negative element_at — the ANSI rule).
    */
  private def mergeFold(l: String, r: String): Column = aggregate(
    col("syms"), typedlit(Seq.empty[String]),
    (acc, sym) => when(
      get(acc, size(acc) - 1) === lit(l) && sym === lit(r),
      concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
      .otherwise(concat(acc, array(sym))))

  /** [[codePointSyms]] in Spark: `split` on "" steps by code point. */
  private def wordSyms: Column =
    concat(array_remove(split(col("word"), ""), ""), array(lit(BpeEow)))
      .as("syms")

  /** Code-POINT segmentation of a word plus the end-of-word marker — the
    * driver mirror of [[wordSyms]]. `w.map(_.toString)` would split
    * UTF-16 code units instead, so an emoji word would segment
    * differently on the two gate paths and merges learned over
    * whole-code-point symbols could never fire on the driver path.
    */
  private def codePointSyms(w: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    (out += BpeEow).toArray
  }

  /** UTF-8 byte-wise string order — Spark's binary string comparison.
    * The driver loop's argmax tie-break must sort EXACTLY as the
    * distributed loop's `orderBy` does; Scala's default String ordering
    * compares UTF-16 code units, which disagrees with UTF-8 byte order
    * for supplementary characters vs U+E000..U+FFFF.
    */
  private[graft] val Utf8Order: Ordering[String] = (a: String, b: String) => {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    var cmp = 0
    while (cmp == 0 && i < n) {
      cmp = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff); i += 1
    }
    if (cmp != 0) cmp else java.lang.Integer.compare(x.length, y.length)
  }

  /** The driver-side greedy merge — the same fold as [[mergeFold]], the
    * shared encode of [[driverLoop]] and the driver encode path.
    */
  private def mergeLocal(syms: Array[String], l: String, r: String)
      : Array[String] = {
    val acc = scala.collection.mutable.ArrayBuffer.empty[String]
    for (sym <- syms) {
      if (acc.nonEmpty && acc.last == l && sym == r)
        acc(acc.length - 1) = l + r
      else acc += sym
    }
    acc.toArray
  }

  /** The ranked merge table of a [[BpeMerges]]-round BPE training run —
    * rows-only (an iterative fixpoint is not SQL-expressible; the spec
    * pins the whole loop against a driver-side reference BPE on both a
    * crafted corpus and the real one).
    */
  val qBpeMerges: Q = Q.rowsOnly("q_bpe_merges") { (s, d) => bpeTrain(s, d) }

  /** BPE ENCODE — the trained tokenizer applied back to the corpus,
    * closing the loop [[qBpeMerges]] opens (train → encode → corpus
    * statistics): per source, whitespace words, the exact BPE token
    * count under the learned merges, and tokens-per-word — the
    * compression a tokenizer buys, measured on its own training corpus
    * (the fertility statistic of tokenizer evaluation).
    *
    * Scale shape (100 TB): tokenization is a pure function of the WORD,
    * so the corpus never re-segments and is never re-read: encode works
    * on training's own (source, word, n) table ([[wordCounts]]). Each
    * distinct word segments once — driver-side under
    * [[Gates.BpeDriverMaxVocab]] (model-sized work), above it the training
    * loop's own distributed [[mergeFold]] cascade in rank order, joined
    * back to the table and rolled up per source. Either way the result
    * is one row per source, memoized per (session, dir).
    */
  val qBpeEncode: Q = Q.rowsOnly("q_bpe_encode") { (s, d) => bpeEncode(s, d) }

  /** [[qBpeEncode]]'s implementation. */
  def bpeEncode(s: SparkSession, d: String): DataFrame =
    encodeFrame(s, SessionCache(s, d, "bpe_encode_counts") {
      val merges = bpeMerges(s, d, BpeMerges).sortBy(_._1).map(m => (m._2, m._3))
      bpeWordRows(s, d) match {
        case Some(rows) =>
          // model-sized: segment each distinct word on the driver
          val nBpe = rows.map(_._2).distinct.map { w =>
            w -> merges.foldLeft(codePointSyms(w)) {
              case (syms, (l, r)) => mergeLocal(syms, l, r)
            }.length.toLong
          }.toMap
          rows.groupBy(_._1).toSeq.map { case (src, rs) =>
            Row(src, rs.map(_._3).sum, rs.map(r => r._3 * nBpe(r._2)).sum)
          }
        case None => distributedEncode(s, d, merges)
      }
    })

  /** The oversized encode: the training loop's own cascade over the
    * distinct words in rank order, then the per-source rollup joins the
    * word table. A (source, n_words, n_bpe_tokens) row per source.
    */
  private def distributedEncode(s: SparkSession, d: String, merges: Seq[(String, String)])
      : Seq[Row] = {
    val table = bpeWordTable(s, d)
    val seed = table.select("word").distinct().select(col("word"), wordSyms)
    val segs = merges.foldLeft(seed) { case (v, (l, r)) => resegment(v, seed, l, r) }
    try table.join(segs.select(col("word"), size(col("syms")).as("n_bpe")), "word")
      .groupBy("source")
      .agg(sum(col("n")), sum(col("n") * col("n_bpe")))
      .collect().toSeq
    finally if (segs ne seed) SessionCache.release(segs)
  }

  /** The encode frame over per-source (source, n_words, n_bpe_tokens) rows. */
  private def encodeFrame(s: SparkSession, counts: Seq[Row]): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("source", StringType),
      StructField("n_words", LongType, nullable = false),
      StructField("n_bpe_tokens", LongType)))
    s.createDataFrame(counts.asJava, schema)
      .select(col("source"), col("n_words"), col("n_bpe_tokens"),
        graft.functions.Det.exactDiv(col("n_bpe_tokens"), col("n_words"), 4)
          .as("bpe_per_word"))
      .orderBy("source")
  }

  val all: Seq[Q] =
    Seq(qShardAssign, qShardManifest, qPairCounts, qBpeMerges, qBpeEncode)
}
