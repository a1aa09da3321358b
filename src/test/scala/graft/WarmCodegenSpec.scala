package graft

/** A warm session compiles nothing: Spark's generated-class cache is sized
  * to graft's working set (`Sessions.CodegenCacheEntries`), so a second
  * pass over queries the session has already run finds every class cached.
  * The 17 analyst queries need about 150 classes, more than Spark's default
  * cap of 100; under that cap each pass evicts the classes the next one
  * needs and re-runs Janino on most calls. The second pass runs in reverse
  * order, so an LRU cache too small for the set misses on every query.
  */
class WarmCodegenSpec extends SparkSpec {

  private val analystMix = Seq(
    "q_filter_query", "q_filter_page", "q_search_text", "q_key_stats",
    "q_daily_stats", "q_bucket_distribution", "q_bucket_by_key",
    "q_join_enrich", "q_topk_per_group", "q_global_stats",
    "q_length_percentiles", "q_moments", "q_profile_completeness",
    "q_ingest_metrics", "q_run_deltas", "q_anomaly_zscore", "q_topk_native")

  private def run(name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()

  test("a second pass over the analyst queries compiles no generated class") {
    analystMix.foreach(run)
    CodegenGuard.clear()
    analystMix.reverse.foreach(run)
    assert(CodegenGuard.compiles == 0,
      s"warm pass compiled ${CodegenGuard.compiles} class(es) " +
        f"(${CodegenGuard.compileMs}%.0f ms): the codegen cache evicts the working set")
  }
}
