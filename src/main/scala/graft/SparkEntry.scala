package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 + §7.
  *
  * Every operator in the SURVEY §2 inventory registers a [[Q]] here; SQL-
  * expressible ones also carry a DuckDB oracle with matching column aliases
  * (the driver sorts columns by name and hash-compares values).
  */
object SparkEntry {

  /** All registered operators, grouped by module. */
  def registry: Seq[Q] =
    operators.Relational.all ++ operators.Profiling.all ++
      operators.Ingest.all ++ operators.Temporal.all ++
      operators.Labeling.all ++ operators.TextOps.all ++
      operators.Similarity.all ++ operators.Multimodal.all ++
      operators.TopK.all ++ operators.Curation.all ++ operators.Assembly.all

  /** Every shared intermediate Bench prices, in build order (a build may
    * read the ones above it): its `build_*` bench name, which is a
    * round-over-round artifact key, and the [[SessionCache]] accessor
    * that builds it for (session, lake dir). A second call is a cache
    * hit, so a consumer query's timing excludes the build.
    */
  val builds: Seq[(String, (SparkSession, String) => Any)] = {
    import operators._, Similarity._
    Seq(
      "build_quantized" -> quantized _,
      "build_lsh_buckets" -> lshBuckets _,
      "build_ivf_assign" -> ((s, d) => if (ivfModel(s, d).nonEmpty) ivfAssigned(s, d)),
      "build_pq_codes" -> ((s, d) => if (pqModel(s, d).nonEmpty) pqCodesFrame(s, d)),
      // the list-resident knn-K index, under its historical name
      "build_knn_ivf_assign" -> { (s, d) =>
        val n = nQuantized(s, d)
        if (n > 0) ivfMembersKnnK(s, d, knnIvfK(n))
      },
      // also read by Bench's own quadratic-skip policy
      "build_knn_geometry" -> knnGeometryStats _,
      "build_shingle_cache" -> docShingleHashes _,
      "build_minhash_bands" -> minhashBands _,
      "build_minhash_candidates" -> minhashCandidates _,
      "build_minhash_pairs" -> minhashPairs _,
      "build_ngram_postings" -> shingles _,
      "build_ngram_pairs" -> keptPairStats _,
      "build_simhash_fp" -> simhashFingerprints _,
      "build_dedup_clusters" -> dedupClusterLabels _,
      "build_ngram_clusters" -> ngramClusterLabels _,
      "build_session_frame" -> Ingest.sessionizedEvents _,
      "build_sample_selection" -> Labeling.tiers _,
      "build_dup_span_counts" -> TextOps.dupSpanCounts _,
      "build_token_counts" -> TextOps.tokenCounts _,
      "build_bpe_merges" -> ((s, d) =>
        Assembly.bpeMerges(s, d, Assembly.BpeMerges)))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.qStarRollup.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
