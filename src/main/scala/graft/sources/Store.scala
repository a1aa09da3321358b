package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** File export/import sinks — the Spark-native re-expression of the
  * reference's storage layer (src/storage/file_storage.py): JSON and CSV
  * export with in-batch dedup by key (file_storage._seen_ids /
  * _deduplicate_reviews), idempotent incremental append (the file-level
  * INSERT OR IGNORE), and schema-explicit load-back.
  *
  * Scale notes: all writers are distributed partitioned writes (one file
  * per task — no driver-side collect); the incremental append anti-joins
  * the new batch against only the key column of the existing sink, which
  * for parquet sinks is a pruned columnar scan. JSONL/CSV are kept for
  * interchange parity with the reference; parquet is the recommended
  * at-scale sink and the default.
  */
object Store {

  /** In-batch dedup by key, keep-first in `orderCol` order (deterministic
    * twin of the reference's insertion-order _seen_ids set). Ties on
    * `orderCol` among different rows are broken by the hash of the full
    * row, so the survivor is stable across runs and task retries.
    */
  def dedupeByKey(df: DataFrame, key: String, orderCol: String): DataFrame = {
    require(!df.columns.contains("__rn") && !df.columns.contains("__h"),
      "dedupeByKey reserves the __rn/__h column names")
    val w = Window.partitionBy(key)
      .orderBy(col(orderCol), col("__h"))
    // contentHash skips map-typed columns (xxhash64 rejects MapType) — the
    // tie-break stays deterministic over the remaining row content
    df.withColumn("__h", graft.functions.RowHash.contentHash(df))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__h")
  }

  /** Export as JSON-lines (one object per line, per-task files). */
  def exportJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Export as CSV with header. */
  def exportCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** Export as parquet (the at-scale sink). */
  def exportParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  def loadJsonl(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).json(path)

  /** Lenient JSONL ingest: parse what parses, QUARANTINE what doesn't —
    * the at-scale analog of the reference scraper dropping malformed
    * reviews while the monitor counts them (pipeline.py boundary +
    * monitor.py malformed-rate). PERMISSIVE mode with a corrupt-record
    * column splits the stream in one pass: `good` rows have every
    * schema field parsed and no corrupt payload; `bad` rows carry the
    * raw line for quarantine/inspection. Dropping malformed rows
    * silently (DROPMALFORMED) loses the signal a data-quality monitor
    * needs; failing the job (FAILFAST) lets one bad line kill a 100 TB
    * ingest.
    *
    * Runs `f` over (good, bad). Both frames read through ONE cached
    * relation of the raw input (Spark refuses to filter on the corrupt
    * column of a lazy json relation — it is only populated during
    * parsing), so the results must be consumed (written/counted) inside
    * `f`: the cache is released in a finally when it returns — the
    * pattern [[appendDeduped]] uses. At lake scale caching the whole raw
    * input is itself the dominant cost, so no caller holds it longer.
    */
  def withJsonlLenient[T](s: SparkSession, path: String, schema: StructType)(
      f: (DataFrame, DataFrame) => T): T = {
    import org.apache.spark.sql.functions.col
    val corrupt = "_corrupt_record"
    val withCorrupt = StructType(schema.fields :+
      StructField(corrupt, org.apache.spark.sql.types.StringType, nullable = true))
    val raw = s.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .json(path)
      .cache()
    try f(raw.filter(col(corrupt).isNull).drop(corrupt),
      raw.filter(col(corrupt).isNotNull).select(col(corrupt).as("raw")))
    finally raw.unpersist()
  }

  /** A named field-level validation rule: `valid` must evaluate TRUE for
    * a row to pass — NULL counts as a violation (a NULL rating is out of
    * range, not unknown-but-admitted), which is exactly the semantics a
    * bare `col.between(1, 5)` predicate gives.
    */
  final case class ValidationRule(name: String, valid: Column)

  /** The reference's review admission contract as rules
    * (models/review.py Review.from_dict + schema.sql:54-66 constraints):
    * required non-null identity/time fields, the `rating BETWEEN 1 AND 5`
    * CHECK, and — when the timestamp travels as an ISO string (the
    * from_dict `fromisoformat` path) — a parseability rule via
    * [[tsParseRule]]. Column names are parameters because graft's test
    * tables spell them differently (event_id/event_type/value/ts).
    */
  def reviewRules(id: String = "review_id", app: String = "app_id",
      rating: String = "rating", ts: String = "ts"): Seq[ValidationRule] = Seq(
    ValidationRule(s"${id}_missing", col(id).isNotNull),
    ValidationRule(s"${app}_missing", col(app).isNotNull),
    ValidationRule(s"${ts}_missing", col(ts).isNotNull),
    ValidationRule(s"${rating}_out_of_range", col(rating).between(1, 5)))

  /** ISO-timestamp parseability as a rule (Review.from_dict's
    * `datetime.fromisoformat` raising → the record is rejected): fires
    * only on PRESENT-but-unparseable strings — absence is the
    * `_missing` rule's job. try_to_timestamp, not to_timestamp: under
    * ANSI the latter would kill the job on the first bad row, the
    * FAILFAST failure mode the lenient path exists to avoid.
    */
  def tsParseRule(tsCol: String): ValidationRule =
    ValidationRule(s"${tsCol}_unparseable",
      col(tsCol).isNull || try_to_timestamp(col(tsCol)).isNotNull)

  /** Field-level validation split (the scraper→store contract the corrupt
    * split can't see): structurally WELL-FORMED rows that break a field
    * rule — value out of range, required field null, unparseable
    * timestamp — quarantine like corrupt ones instead of passing through
    * silently. ONE pass, codegen-friendly (the rules evaluate inline in
    * an array expression — no UDF, no second scan): every row computes
    * its violated-rule names; `valid` rows have none, `invalid` rows
    * carry them in a `violations` array column for the quarantine
    * inspector (the monitor's malformed-rate input).
    */
  def validSplit(df: DataFrame, rules: Seq[ValidationRule])
      : (DataFrame, DataFrame) = {
    require(rules.nonEmpty, "validSplit needs at least one rule")
    require(!df.columns.contains("violations"),
      "validSplit reserves the violations column name")
    val vio = filter(
      array(rules.map(r =>
        when(r.valid, lit(null)).otherwise(lit(r.name))): _*),
      v => v.isNotNull)
    val flagged = df.withColumn("violations", vio)
    (flagged.filter(size(col("violations")) === 0).drop("violations"),
      flagged.filter(size(col("violations")) > 0))
  }

  /** [[withJsonlLenient]] + [[validSplit]] in one read: runs `f` over
    * the full admission contract — `valid` rows parsed AND rule-clean,
    * `invalid` rows parsed but rule-breaking (with `violations`),
    * `corrupt` rows structurally unparseable (raw line). All three frames
    * read the one cached relation, released when `f` returns.
    */
  def withJsonlValidated[T](s: SparkSession, path: String,
      schema: StructType, rules: Seq[ValidationRule])(
      f: (DataFrame, DataFrame, DataFrame) => T): T =
    withJsonlLenient(s, path, schema) { (good, bad) =>
      val (valid, invalid) = validSplit(good, rules)
      f(valid, invalid, bad)
    }

  /** multiLine: the writer quotes embedded newlines, so the reader must
    * parse quoted multi-line records or such rows come back malformed.
    */
  def loadCsv(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).option("header", "true")
      .option("multiLine", "true").csv(path)

  /** Hive-style partitioned layout (the standard lake arrangement for a
    * time-series ingest): one directory per partition value; scans with a
    * partition predicate read only the matching directories
    * (PartitionFilters in the plan — verified by spec).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed managed table (SURVEY §4.2: bucketing for co-located joins):
    * both sides of a recurring fact-fact join written with the same bucket
    * spec join WITHOUT a shuffle — the per-bucket layout replaces the
    * exchange. At 100 TB this converts the repeated orderkey-join shuffle
    * into a one-time write-side cost.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Idempotent incremental append: write only the batch rows whose key is
    * not already present in the sink (reference append=True +
    * _deduplicate_reviews, and pipeline INSERT OR IGNORE). Re-running the
    * same batch is a no-op. Returns the number of appended rows.
    *
    * Contract notes:
    *  - Rows with a NULL key are DROPPED (a null key has no identity; the
    *    anti-join would re-admit them every run) and are not counted in the
    *    returned total.
    *  - Single writer at a time: the exists→scan→append sequence is not
    *    atomic, so concurrent writers over overlapping batches can both
    *    admit a key. Plain-file sinks cannot check-and-append atomically —
    *    under concurrency, front with a queue or use a transactional table
    *    format.
    *
    * The existing-keys scan reads only `key` (columnar-pruned on parquet);
    * the anti-join shuffles on the key unless the sink side is small
    * enough for AQE to broadcast it.
    */
  def appendDeduped(df0: DataFrame, path: String, key: String,
      format: String = "parquet"): Long = {
    val df = df0.filter(col(key).isNotNull)
    val s = df.sparkSession
    // filesystem errors must propagate: treating them as "no sink" would
    // append already-ingested keys and silently break idempotency
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // "exists" means COMMITTED DATA exists, not just the directory: a
    // crashed first write leaves path/ (+_temporary) with zero data
    // files, and a schemaless CSV read over that throws on schema
    // inference — permanently wedging every retry of exactly the
    // crash-recovery append this function exists to make idempotent.
    // Filesystem ERRORS still propagate (treating them as "no sink"
    // would append already-ingested keys and break idempotency). The
    // probe requires an actual data FILE (isFile), not any non-hidden
    // directory entry: a crash can leave stray subdirectories or marker
    // dirs under path/ and those would re-wedge the schemaless CSV read
    // exactly like the _temporary-only case. One listing level suffices —
    // every writer this store uses lays part files flat under path/.
    val sinkExists = fs.exists(p) && fs.listStatus(p).exists { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    // CSV is header-named but POSITION-mapped when a schema is forced, and
    // appended files must keep the sink's column order: read the existing
    // header as-is, take just the key (cast to the batch's key type), and
    // later align the appended batch to the sink's layout
    val existingLayout: Option[Seq[String]] = if (!sinkExists) None
    else if (format == "csv") {
      val raw = s.read.option("header", "true").option("multiLine", "true")
        .csv(path)
      Some(raw.columns.toSeq)
    } else None
    // Recent-horizon pruning: existing keys OUTSIDE the batch's
    // [min, max] key range cannot equal any batch key, so the anti-join's
    // store-side scan filters to that range. On parquet this pushes to
    // row-group min/max stats — and because every append writes files
    // covering exactly its own batch's key range, a stream with
    // monotonic-ish keys (doc ids, run dates, windowed report keys — all
    // of this engine's streaming stores) skips every old file's data
    // pages: the per-trigger scanned bytes stay bounded by the recent
    // horizon as the store grows, instead of re-reading the whole store
    // each trigger (footer reads are still O(files) — pair with
    // [[compact]] on long-lived sinks). Non-monotonic keys degrade
    // gracefully to the old full scan; correctness is unaffected either
    // way. Costs one extra job over the batch (the min/max agg) —
    // trivial beside the store scan it prunes.
    val keyRange = df.agg(min(col(key)), max(col(key))).head()
    val novel = if (!sinkExists || keyRange.isNullAt(0)) df
    else df.join(
      existingKeyScan(s, path, key, df.schema(key).dataType, format,
        keyRange.get(0), keyRange.get(1)),
      Seq(key), "left_anti")
    val deduped0 = dedupeByKey(novel, key, key)
    val deduped = existingLayout match {
      case Some(cols) =>
        require(cols.toSet == df.columns.toSet,
          s"batch columns ${df.columns.toSet} do not match sink columns ${cols.toSet}")
        deduped0.select(cols.map(col): _*)
      case None => deduped0
    }
    val cached = deduped.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = cached.count() // also materializes: the write below reuses it
      if (n > 0) {
        val writer = cached.write.mode(SaveMode.Append).format(format)
        (if (format == "csv") writer.option("header", "true") else writer).save(path)
      }
      n
    } finally cached.unpersist()
  }

  /** The existing-keys scan [[appendDeduped]] anti-joins against: the key
    * column only, filtered to the batch's [mn, mx] key range so the range
    * predicate pushes to the parquet scan (row-group min/max stats skip
    * every file whose key range misses the batch's). Package-visible so
    * the recent-horizon pruning spec measures the REAL code path (the
    * [[compactPlan]] precedent) — a hand-built scan in the test would
    * stay green if this regressed to an unfiltered full-store read.
    */
  private[graft] def existingKeyScan(s: SparkSession, path: String,
      key: String, keyType: org.apache.spark.sql.types.DataType,
      format: String, mn: Any, mx: Any): DataFrame = {
    val raw = format match {
      case "csv" =>
        s.read.option("header", "true").option("multiLine", "true").csv(path)
          .select(col(key).cast(keyType).as(key))
      case _ =>
        s.read.format(format)
          .schema(StructType(Seq(StructField(key, keyType))))
          .load(path).select(key)
    }
    raw.filter(col(key) >= lit(mn) && col(key) <= lit(mx))
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetFileBytes` output files, sized from the ACTUAL on-disk bytes
    * (not a row-count guess — row width varies). Returns the output file
    * count. Uses `coalesce`, not `repartition`: compaction only ever
    * reduces file count, and coalesce merges input splits without a
    * shuffle — at 100 TB a repartition-based compactor would pay a full
    * shuffle of the table for nothing. A streaming-ingest lake needs this
    * periodically: every micro-batch commit writes one file per task, and
    * thousands of KB-scale files make every downstream scan
    * listing/open-call bound.
    *
    * Writes to `outPath` (a fresh directory), never in place: an
    * in-place rewrite that fails mid-job destroys the input. Swapping the
    * compacted directory over the original is the caller's (atomic
    * rename / metastore) move.
    */
  /** The exact plan [[compact]] executes — exposed so the plan-shape spec
    * guards the REAL code path (a hand-built coalesce in the test would
    * stay green if compact regressed to a shuffling repartition).
    */
  private[graft] def compactPlan(s: SparkSession, inPath: String,
      targetFileBytes: Long): DataFrame = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val p = new org.apache.hadoop.fs.Path(inPath)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // fail LOUD on a Hive-partitioned layout (the writePartitioned
    // shape): partition discovery would inline the partition columns as
    // data and the flat compacted output would silently lose the layout
    // and every downstream partition-pruned scan — compact partitions
    // one directory at a time instead
    require(!fs.listStatus(p).exists(f =>
        f.isDirectory && f.getPath.getName.contains("=")),
      s"$inPath is Hive-partitioned; compact each partition directory " +
        "separately or the layout (and scan pruning) is silently lost")
    val bytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    s.read.parquet(inPath).coalesce(nFiles)
  }

  def compact(s: SparkSession, inPath: String, outPath: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    compactPlan(s, inPath, targetFileBytes)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    val out = new org.apache.hadoop.fs.Path(outPath)
    out.getFileSystem(s.sparkContext.hadoopConfiguration)
      .listStatus(out).count(f => f.getPath.getName.endsWith(".parquet"))
  }
}
