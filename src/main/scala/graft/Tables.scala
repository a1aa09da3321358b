package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * All operators take the scale-factor directory as a parameter so the same
  * plan runs unchanged at sf0.001 (smoke), sf0.01 (oracle) and sf0.1 (bench)
  * — and, on a real cluster, against a 100 TB lake path. Reads are plain
  * `spark.read.parquet` so Catalyst handles column pruning and filter
  * pushdown into the scan.
  */
object Tables {
  /** Memoized per (session, dir, table) in [[SessionCache]], which
    * re-resolves it once the dir's files are rewritten:
    * `spark.read.parquet` re-lists the files and re-reads the parquet
    * footer schema on every call — a driver job per table per query.
    *
    * A table whose data files total at most Spark's own split size
    * (`FilePartition.maxSplitBytes` over the files the read's index has
    * already listed) is returned as `coalesce(1)`. It reads as one
    * partition either way, but a `CoalesceExec(1)` reports
    * `SinglePartition`, which satisfies every required distribution, so
    * aggregates, windows, sorts and sort-merge joins over it plan no
    * exchange. At that size an exchange buys no parallelism (AQE folds a
    * sub-MB shuffle back into one partition) and costs a job and a stage
    * boundary per query. The decision is free: no listing and no job,
    * and filters and column pruning still push through the `Repartition`
    * into the scan. A table above one split reads as it is, with its
    * parallel scan. The decision is part of the cache entry, so a
    * rewritten table is decided again on its next lookup.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    SessionCache(spark, dir, s"table:$name") {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      val listed = df.queryExecution.analyzed.collect {
        case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location.listFiles(Nil, Nil)
      }.flatten
      val bytes = listed.iterator.flatMap(_.files).map(_.getLen).sum
      if (bytes <= FilePartition.maxSplitBytes(spark, listed)) df.coalesce(1) else df
    }

  /** A table's row count from its parquet footers, read on the driver
    * file by file until the count passes `atMost`: exact when it is at
    * most `atMost`, otherwise some count above it. No job, and the files
    * are the ones [[table]]'s read has already listed.
    */
  def rowsUpTo(s: SparkSession, d: String, name: String, atMost: Long): Long = {
    val conf = s.sessionState.newHadoopConf()
    val files = table(s, d, name).inputFiles.iterator
    var rows = 0L
    while (rows <= atMost && files.hasNext) {
      val footer = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(files.next()), conf))
      try rows += footer.getRecordCount finally footer.close()
    }
    rows
  }

  /** `docs` hash-spread by `doc_id` over the session's default
    * parallelism, so the tokenizing after it runs on every core: a full
    * shuffle at any lake size (a single-split corpus otherwise reads as
    * one partition, [[table]]). The one spread of the corpus operators;
    * decontamination takes it only above [[Gates.SpreadMinDocs]], the
    * others at every size.
    */
  private[graft] def spreadByDocId(docs: DataFrame): DataFrame =
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** `events.ts` normalizes to a µs TimestampType whatever the generator
    * wrote, so every consumer (and the `unix_micros`/`epoch_us` oracle
    * convention) sees one type across testdata generations:
    *  - parquet TIMESTAMP(NANOS) (earlier generations) — Spark's
    *    TimestampType (µs) cannot hold it; read as a raw nanos long and
    *    floor-truncate. DuckDB oracles mirror with
    *    `date_trunc('microseconds', ts)` / `epoch_us(ts)` (µs no-ops).
    *  - parquet timestamp[us] with isAdjustedToUTC=false (current
    *    generation) — Spark reads TIMESTAMP_NTZ; cast to TimestampType,
    *    exact because sessions pin spark.sql.session.timeZone=UTC
    *    ([[Sessions]]), matching DuckDB's naive reading.
    * The nanos-as-long read is a session conf set once, in
    * [[Sessions.build]]; reading a table changes no conf.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(table(s, d, "events"))

  /** The per-generation `ts` dispatch of [[events]], shared with the
    * streaming file-source path (which reads the same parquet through
    * `readStream` and must apply the identical normalization).
    *
    * Documented TIMESTAMP DOMAIN contract (cross-engine date strings):
    * operators that emit formatted dates (q_daily_stats, q_global_stats,
    * q_rollup_events, q_coverage_gaps, ...) pair Spark's
    * date_format('yyyy-MM-dd') with DuckDB's strftime('%Y-%m-%d'),
    * which agree for years 1–9999 (both zero-pad below 1000 — verified)
    * but DIVERGE outside: Java's EXCEEDS_PAD prints '+10000-…' for year
    * ≥ 10000 and 'yyyy' is year-of-era for pre-AD-1. A lake with
    * corrupt far-out timestamps should gate them at ingest
    * (q_quality_metrics' ts-bounds rule is the place); within the
    * documented domain the string cells are identical.
    */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // FLOOR division in exact integer arithmetic: DIV truncates toward
        // zero, which for a pre-epoch (negative-ns) timestamp lands one µs
        // off the oracle's date_trunc/epoch_us floor; pmod is non-negative
        // so subtracting it floors. (floor(ts/1000.0) would lose precision
        // — ns values exceed a double's 2^53 integer range.)
        raw.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw // already a µs TimestampType
    }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
