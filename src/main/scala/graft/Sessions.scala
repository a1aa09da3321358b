package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** The one SparkSession recipe every driver main shares. Verify and Bench
  * MUST run under identical semantics — correctness validated under one
  * config and performance measured under another would be meaningless —
  * so the builder lives in exactly one place.
  */
object Sessions {

  /** Spark's generated-class cache cap (`spark.sql.codegen.cache.maxEntries`,
    * default 100). The cap is a static conf, read once per JVM when
    * `CodeGenerator` initializes at the first code generation, so it can
    * only be set here, before the session exists. The whole registry
    * compiles 1,675 classes (Verify at sf0.01; an entry is keyed by class
    * loader too, and local mode compiles each class under the application
    * class loader and again under the executor's) and the 17-query
    * analyst mix about 151, so at 100 every round of warm queries evicted
    * the classes the next round needed and re-ran Janino on each call.
    * 4,096 is more than twice the registry's working set, so a session
    * compiles each class once.
    */
  val CodegenCacheEntries = 4096

  def build(cores: String, shufflePartitions: String): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheEntries.toLong)
      // split size matched to the lake layout (SURVEY §4): the testdata
      // convention is ONE parquet file per table, so scan parallelism
      // comes from intra-file splits at row-group boundaries — with the
      // 128 MB default a 107 MB sf1 lineitem reads as ONE task and every
      // scan-bound operator serializes on one core, which a real cluster
      // (thousands of files) never does. 16 MB matches GenData's
      // row-group size; sub-16 MB files still read as one task each.
      // Spark's split (FilePartition.maxSplitBytes) is at most this and at
      // least spark.sql.files.openCostInBytes (4 MB); a table that fits
      // one split is planned as one partition (Tables.table), so queries
      // over it pay no exchange.
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      // parquet TIMESTAMP(NANOS) reads as a raw long, which
      // Tables.normalizeEventTs floors to µs (earlier testdata generations
      // wrote events.ts that way)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // lower/upper/initcap through the JVM's case mapping instead of
      // ICU's, without ICU's seconds-long JVM-global case-map init
      // (CaseMapSpec pins the strings). Non-ASCII text then maps under
      // the JVM's default locale: a Turkish, Azeri or Lithuanian one
      // maps I and İ differently.
      .config(SQLConf.ICU_CASE_MAPPINGS_ENABLED.key, "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    quietUnpartitionedWindows()
    s
  }

  /** Silence WindowExec's "No Partition Defined for Window operation"
    * WARN, raised on every execution of an unpartitioned window. Every
    * such window in the registry sits over an Aggregate or a Limit
    * (WindowGuardSpec checks the optimized plans), so the WARN names no
    * large single-partition sort, and a run logs it thousands of times.
    */
  def quietUnpartitionedWindows(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

  /** SPARK_GRAFT_CPUS-sized session (default local[32], 32 shuffle parts). */
  def buildDefault(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    build(cpus, cpus)
  }
}
