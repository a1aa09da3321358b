package graft

/** Plan-shape regression guards for the SURVEY §4 scale rules: these
  * assert the *physical plan*, so a future edit that silently drops a
  * broadcast, un-pushes a filter, or widens a scan fails here rather than
  * at 100 TB.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("join-enrich and star-rollup broadcast their dimension tables") {
    assert(plan("q_join_enrich").contains("BroadcastHashJoin"))
    assert(plan("q_star_rollup").contains("BroadcastHashJoin"))
  }

  test("filter query pushes its predicates into the parquet scan") {
    val p = plan("q_filter_query")
    val scans = p.split("\n").filter(_.contains("PushedFilters"))
    assert(scans.exists(s => s.contains("GreaterThan") || s.contains("EqualTo")
      || s.contains("LessThan")), "no comparison pushed:\n" + p)
  }

  test("pricing summary scan is pruned to the aggregated columns") {
    val p = plan("q_pricing_summary")
    val scan = p.split("\n").find(_.contains("ReadSchema")).get
    assert(!scan.contains("l_comment") && !scan.contains("l_shipmode"),
      "unused lineitem columns not pruned: " + scan)
  }

  test("top-k per group avoids a global sort of the fact table") {
    // rank-within-partition + filter: the only full sort allowed is the
    // final (tiny) presentation sort after the rank filter
    assert(plan("q_topk_per_group").contains("Window"))
  }

  test("per-tier sampling compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan("q_sample_tiers")
    assert(p.contains("TakeOrderedAndProject")) // tier 4's md5 slice
    // tiers 1-3 ride ONE bounded-heap pass over one scan, and tier 4's
    // anti-join reads the CACHED selection (the per-stratum form planned
    // 7 event-log scans). Raw FileScan counts are unusable here — the
    // InMemoryRelation dumps embed their build plans — so assert the
    // structure: both sel consumers hit the cache, and no TopKPerKey
    // re-derivation outside it.
    assert(p.split("\n").count(_.contains("InMemoryTableScan")) >= 2,
      "sel must be read from cache by the union AND the tier-4 anti-join:\n" + p)
    assert(p.contains("TopKPerKey"),
      "tiers 1-3 must ride the bounded-heap pass:\n" + p)
  }

  test("queue claim: per-partition top-k, then the tiny batch broadcasts") {
    val p = plan("q_queue_claim")
    assert(p.contains("TakeOrderedAndProject"), "claim must not global-sort:\n" + p)
    assert(p.contains("BroadcastHashJoin"), "50-row claim must broadcast:\n" + p)
  }

  test("ivf ann: query probes and query vectors broadcast into the list joins") {
    assert(plan("q_ann_ivf").contains("BroadcastHashJoin"))
  }

  test("token counting runs the byte-scan kernel, not the regex forms") {
    // the r12 kernel is ~20× the regex path at sf10 — a revert to
    // regexp_count / split-for-size must fail here, not in a bench
    val p = plan("q_token_count")
    assert(p.contains("TokenCountsKernel"),
      "q_token_count must run the TokenCounts kernel:\n" + p)
    assert(!p.contains("regexp_count") && !p.contains("RegExpCount"),
      "regex tokenizer resurfaced in q_token_count:\n" + p)
  }

  test("ivf assignment and probes run the bounded-selection kernel, not array_sort") {
    // the r12 centTopK kernel retired the interpreted per-centroid
    // lambdas (~22% of the r11 sf10 wall); a revert to
    // transform+array_min/array_sort over the centroid table must fail
    // here. q_ann_ivf's plan embeds both the assignment build and the
    // probe side.
    val p = plan("q_ann_ivf")
    assert(p.contains("VecKernel.centTopK"),
      "IVF paths must run the centTopK kernel:\n" + p)
    assert(!p.contains("array_sort") && !p.contains("sort_array"),
      "full-K sort resurfaced in the IVF probe path:\n" + p)
  }

  test("simhash half-probe join broadcasts its exact-key side under the gate") {
    // the rewrite's premise — the 66·D probe rows never shuffle — holds
    // only while the 2·D exact-key side is the hinted build side; a lost
    // hint silently reverts to shuffling the probe fan-out (r10 advice)
    val p = plan("q_dedup_simhash")
    assert(p.split("\n").exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("hk#")),
      "hk join must be a BroadcastHashJoin under the fp gate:\n" + p)
  }

  test("asof join is one keyed window pass — no self-join of the event stream") {
    val p = plan("q_asof_join")
    assert(p.contains("Window"), "asof must compile to a running window:\n" + p)
    assert(!p.contains("Join"), "asof must not self-join the stream:\n" + p)
    // exactly one scan of events feeds the window
    assert(p.split("\n").count(_.contains("Scan parquet")) == 1,
      "asof must read the stream once:\n" + p)
  }

  test("range join keys on user_id equality — never a cross product") {
    val p = plan("q_range_join")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "range join must be a keyed join:\n" + p)
    assert(!p.contains("NestedLoop"), "range join degenerated to NL:\n" + p)
  }

  test("rollup runs as one Expand pass, and prunes the props column") {
    val p = plan("q_rollup_events")
    assert(p.contains("Expand"), "rollup must use grouping-set Expand:\n" + p)
    val scan = p.split("\n").find(_.contains("ReadSchema")).get
    assert(!scan.contains("props"), "rollup scan not pruned: " + scan)
  }

  test("latest-per-key ranks within partitions, only the snapshot is sorted") {
    assert(plan("q_latest_per_key").contains("Window"))
  }

  test("native top-k queries plan the bounded-heap exec, not a window sort") {
    Seq("q_topk_native", "q_sample_per_key").foreach { q =>
      val p = plan(q)
      assert(p.contains("TopKPerKey"), s"$q lost the native operator:\n" + p)
      assert(!p.contains("Window"), s"$q fell back to Window:\n" + p)
    }
  }

  test("tfidf prunes the documents scan; df joins back — no hot-term window") {
    val p = plan("q_tfidf_terms")
    val scan = p.split("\n").find(_.contains("ReadSchema")).get
    assert(!scan.contains("source") && !scan.contains("n_chars"),
      "tfidf scan not pruned: " + scan)
    // a stopword is a hot key: df must ride the AQE-skew-splittable hash
    // JOIN, never a COUNT window over the term partition; r15 — the
    // per-doc top-5 is the bounded-heap exec now, so NO window survives
    // anywhere in the plan
    assert(p.contains("TopKPerKey"), "tfidf lost the bounded-heap top-5:\n" + p)
    assert(!p.contains("windowspecdefinition"),
      "a window crept back into tfidf:\n" + p)
  }

  test("vocab growth: pruned scans and a partial-aggregated term shuffle") {
    val p = plan("q_vocab_growth")
    val scans = p.split("\n").filter(_.contains("ReadSchema"))
    assert(scans.nonEmpty && scans.forall(s =>
      !s.contains("source") && !s.contains("n_chars") && !s.contains("lang")),
      "vocab-growth scans not pruned to doc_id+text:\n" + scans.mkString("\n"))
    // the corpus-wide term aggregate must partial-combine map-side
    // (HashAggregate below AND above its Exchange), or hot terms flood
    // one reducer at 100 TB — assert the SPECIFIC partial (a bare
    // "partial" matches the batch-grain aggregates and guards nothing)
    assert(p.contains("partial_min"),
      "term min(doc_id) aggregate has no map-side partial:\n" + p)
  }

  test("embed clusters: rollup stays at cluster grain — no corpus-wide window") {
    val p = plan("q_embed_clusters")
    // the only Window ops allowed run AFTER the (cid,label) aggregate
    // (K×L rows); a Window directly over the vec-grain assignment would
    // single-partition the corpus
    val lines = p.split("\n")
    val aggIdx = lines.indexWhere(l => l.contains("HashAggregate"))
    val winIdx = lines.indexWhere(l => l.contains("Window"))
    assert(winIdx >= 0 && aggIdx >= 0 && winIdx < aggIdx,
      s"window must sit above the cluster-grain aggregate (win@$winIdx agg@$aggIdx):\n" + p)
  }

  test("retention: user-keyed aggregates partial-combine; triangle stays cohort-grain") {
    val p = plan("q_retention")
    // the (user, day) distinct and the per-user min must partial-combine
    // map-side or hot users flood one reducer at 100 TB
    assert(p.contains("partial_min") || p.contains("partial_count"),
      "retention aggregates lost their map-side partials:\n" + p)
    // no window over the fact stream — everything after the joins is
    // cohort-grain aggregation
    assert(!p.contains("Window"), "retention must not window the fact stream:\n" + p)
  }

  test("scd2 history: one keyed window pass, no self-join of the stream") {
    val p = plan("q_scd2_history")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "SCD-2 must derive validity intervals from a window, not a join:\n" + p)
    assert(p.split("\n").count(_.trim.startsWith("Window")) <= 1 ||
      p.split("Window").length <= 3, // lead + row_number may fuse into one Window op
      "more window passes than the single keyed shuffle contract:\n" + p)
  }

  test("app health: one partial-combined aggregate over a pruned scan") {
    val p = plan("q_app_health")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "run×app aggregate lost its map-side partial:\n" + p)
    val scan = p.split("\n").find(_.contains("ReadSchema")).get
    assert(!scan.contains("user_id") && !scan.contains("props") &&
      !scan.contains("value"), "health scan not pruned: " + scan)
    assert(!p.contains("windowspecdefinition"),
      "health must not window the event stream:\n" + p)
  }

  test("alerts: one event scan, windows only at run grain") {
    val p = plan("q_alerts")
    // ONE pass over the event log: the union-of-filtered-branches shape
    // planned one scan→aggregate→window pipeline PER RULE (seven)
    assert(p.split("\n").count(_.contains("Scan parquet")) == 1,
      "alerts must read the event log once:\n" + p)
    // every window spec orders by run_id (the run-grain rolling frame) —
    // a window over the raw event stream would order by ts/event_id
    val wins = p.split("\n").filter(_.contains("windowspecdefinition"))
    assert(wins.nonEmpty && wins.forall(_.contains("run_id")),
      "a window escaped run grain:\n" + wins.mkString("\n"))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "run aggregate lost its map-side partial:\n" + p)
  }

  test("run history: last-N cut is a bounded top-k, never a full ledger sort") {
    val p = plan("q_run_history")
    assert(p.contains("TakeOrderedAndProject"),
      "last-10 read must plan per-partition top-k + merge:\n" + p)
    // a physical Sort node prints as `Sort [order], global, offset` —
    // "Sort [" cannot false-match SortAggregate/SortMergeJoin
    assert(!p.contains("Sort ["),
      "a global sort crept into the last-N read:\n" + p)
  }

  test("report sessions: last-N cut is a bounded top-k over the session ledger") {
    val p = plan("q_report_sessions")
    assert(p.contains("TakeOrderedAndProject"),
      "last-10 read must plan per-partition top-k + merge:\n" + p)
    // the memoized session frame's cached build plan (its InMemoryRelation
    // dump) legitimately contains the sessionize window's sort; OUTSIDE
    // the cache the consumer must stay sort-free
    val outside = p.split("\n").takeWhile(!_.contains("InMemoryRelation"))
    assert(!outside.exists(_.contains("Sort [")),
      "a global sort crept into the last-N read:\n" + p)
  }

  test("session consumers read the ONE memoized session frame") {
    // force the memoized build, then check every consumer reads the cache
    // instead of re-running the keyed sessionize window
    SparkEntry.queries("q_sessionize")(spark, sfDir).count()
    for (q <- Seq("q_sessionize", "q_session_stats", "q_session_ledger",
      "q_report_sessions")) {
      val p = plan(q)
      assert(p.contains("InMemoryTableScan"),
        s"$q must read the shared session cache:\n" + p)
      // the only windows allowed are INSIDE the cached build (its dump);
      // outside it the consumer is aggregate-only
      val outside = p.split("\n").takeWhile(!_.contains("InMemoryRelation"))
      assert(!outside.exists(_.contains("windowspecdefinition")),
        s"$q re-runs the sessionize window outside the cache:\n" + p)
    }
  }

  test("preconditioned knn: bounded-heap top-k, no cartesian, cached assignment") {
    val p = plan("q_knn_join_ivf")
    assert(p.contains("TopKPerKey"),
      "top-5 cut must ride the bounded heap, not a corpus-wide sort:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation degenerated to a cross product:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "the IVF assignment must be read from the written index cache:\n" + p)
  }

  test("split metadata: one corpus aggregate; totals derive at cell grain") {
    val p = plan("q_split_metadata")
    assert(p.contains("BroadcastHashJoin")) // hashRank offsets + doc join
    // the split-grain totals/apps derive from WINDOWS over the
    // (split,label) cells, not a second corpus-wide aggregate subtree —
    // bounded scan count is the regression tripwire (the r4 review found
    // the rollup evaluating the whole split pipeline twice)
    val scans = p.split("\n").count(_.contains("Scan parquet"))
    assert(scans <= 3, // rank input + source join (+ exchange-reused rank side)
      s"corpus scanned $scans times — split pipeline re-evaluated:\n" + p)
  }

  for (q <- Seq("q_train_split", "q_balanced_sample"))
  test(s"$q: row-grain rank windows partition on the hash block key") {
    // the two-level hashRank contract: any window that orders the row
    // stream (tiebreak on the row id) must carry the 256-bucket block
    // key — a class-only partition is the single-task-per-class shape
    val p = plan(q)
    val rowWins = p.split("\n").filter(l =>
      l.contains("windowspecdefinition") &&
        (l.contains("doc_id#") || l.contains("event_id#")))
    assert(rowWins.nonEmpty, s"no row-grain rank window found in $q:\n" + p)
    assert(rowWins.forall(_.contains("__hr_blk#")),
      s"a row-grain window in $q lost its block partition key:\n" +
        rowWins.mkString("\n"))
  }

  test("seq pack: doc-grain window partitions on the block key, never source alone") {
    val p = plan("q_seq_pack")
    // the two-level prefix sum: every window spec that orders by doc_id
    // (the document stream) must partition on BOTH source and blk — a
    // source-only document window is the single-task-per-source
    // bottleneck the decomposition exists to remove. The block-grain
    // window (orders by blk) legitimately partitions by source alone:
    // it sees O(#blocks) rows.
    val docWindows = p.split("\n").filter(l =>
      l.contains("windowspecdefinition") && l.contains("doc_id#"))
    assert(docWindows.nonEmpty, "no document-stream window found:\n" + p)
    assert(docWindows.forall(_.contains("blk#")),
      "a doc-grain window lost its block partition key (single task per source):\n" +
        docWindows.mkString("\n"))
    // the offset table must broadcast back to the document stream
    assert(p.contains("BroadcastHashJoin"),
      "block offsets must broadcast, not shuffle the doc stream:\n" + p)
  }

  test("pii and blocklist scans: one pruned scan, one aggregate exchange") {
    Seq("q_pii_scan", "q_blocklist_scan").foreach { q =>
      val p = plan(q)
      val scans = p.split("\n").filter(_.contains("Scan parquet"))
      assert(scans.length == 1, s"$q must read documents once:\n" + p)
      val schema = p.split("\n").find(_.contains("ReadSchema")).get
      assert(!schema.contains("n_chars") && !schema.contains("lang"),
        s"$q not pruned to (text, source): " + schema)
    }
  }

  test("source mix reads the corpus once — totals ride the source-grain aggregate") {
    // the naive denominator (t CROSS JOIN (SELECT SUM FROM t)) re-scans
    // all documents; the window form computes totals over O(#sources)
    // post-aggregation rows
    val p = plan("q_source_mix")
    assert(p.split("\n").count(_.contains("Scan parquet")) == 1,
      "source mix must read documents once:\n" + p)
    assert(p.contains("Window"), "global totals must ride a window:\n" + p)
  }

  test("mix temperature reads the corpus once — totals ride the source-grain aggregate") {
    // same contract as q_source_mix: the global token/sqrt totals must
    // come from a window over the O(#sources) aggregate, never a second
    // corpus scan for the denominator
    val p = plan("q_mix_temperature")
    assert(p.split("\n").count(_.contains("Scan parquet")) == 1,
      "mix temperature must read documents once:\n" + p)
    assert(p.contains("Window"), "global totals must ride a window:\n" + p)
  }

  test("quality ks: consumers share the one materialized bucket table; windows at bucket grain") {
    // execute first: InMemoryTableScan only appears in the finalized plan
    val df = SparkEntry.queries("q_quality_ks")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // every consumer (per-source totals, histogram CDFs, source list)
    // must read the ONE persisted (source, bucket) aggregate — the
    // b-IS-NOT-NULL filter pushes below the aggregate otherwise and each
    // branch re-scans the corpus + re-runs the quality regexes
    // (measured 12 parquet scans without the persist)
    assert(p.split("\n").count(_.contains("InMemoryTableScan")) >= 3,
      "consumers must read the materialized (source,bucket) table:\n" + p)
    // CDF windows run at post-aggregation grain: every window partition
    // key set must be empty (global bucket CDF, <= 2002 rows) or source
    // (per-source CDF over the bucket grid) — never a document column
    assert(!p.contains("windowspecdefinition(doc_id") &&
      !p.contains("windowspecdefinition(text"),
      "a document-grain window crept into the KS plan:\n" + p)
  }

  test("pii redact: the alternation kernel evaluates once per row") {
    // three consumers (delta, len, hash) read the redacted string; the
    // two-stage projection keeps ONE graft_pii_redact kernel in the
    // plan — Catalyst does not CSE duplicated heavy aliases (measured on
    // the quality ratios), so a flattened select silently pays 3x; and a
    // revert to the regexp_replace/regexp_count forms is a ~10x bench
    // regression that must fail HERE (the r12 silent-fallback class)
    val p = plan("q_pii_redact")
    val kernels = "PiiKernel.redact".r.findAllIn(p).length
    assert(kernels == 1,
      s"expected ONE redaction kernel in the plan, found $kernels:\n" + p)
    assert(!p.contains("regexp_replace") && !p.contains("RegExpReplace")
      && !p.contains("regexp_count") && !p.contains("RegExpCount"),
      "regex redaction forms resurfaced in q_pii_redact:\n" + p)
    assert(p.split("\n").count(_.contains("Scan parquet")) == 1)
  }

  test("pii counts run the byte-scan kernel in scan, doc-features and gates") {
    // the r13 PiiCounts kernel retired q_doc_features' named 40.1 s sf10
    // residual; a revert of ANY consumer to the 4-pattern regexp_count
    // chain must fail here, not in a bench
    Seq("q_pii_scan", "q_doc_features", "q_release_gate").foreach { q =>
      val p = plan(q)
      assert(p.contains("PiiKernel.counts"),
        s"$q must run the PiiCounts kernel:\n" + p)
      assert(!p.contains("regexp_count") && !p.contains("RegExpCount"),
        s"regex PII forms resurfaced in $q:\n" + p)
    }
    // the scan's two-stage projection keeps the kernel single-evaluated
    val scan = plan("q_pii_scan")
    assert("PiiKernel.counts".r.findAllIn(scan).length == 1,
      "q_pii_scan must evaluate the counts kernel once:\n" + scan)
  }

  test("lang-id and quality score run the stop-counts kernels, not regex chains") {
    // r12 verdict gap: only 2 of 5 kernel sites were plan-guarded; a
    // revert of these to the padded-regex forms passes every oracle and
    // only shows as a 10x bench delta
    val lang = plan("q_lang_id")
    assert(lang.contains("StopCountsKernel"),
      "q_lang_id must run the StopCounts kernel:\n" + lang)
    assert(lang.contains("CjkKernel"),
      "q_lang_id must run the CjkProbe kernel:\n" + lang)
    val qual = plan("q_quality_score")
    assert(qual.contains("StopCountsKernel"),
      "q_quality_score must run the StopCounts kernel:\n" + qual)
    Seq("q_lang_id" -> lang, "q_quality_score" -> qual).foreach { case (q, p) =>
      assert(!p.contains("regexp_count") && !p.contains("RegExpCount")
        && !p.contains("regexp_replace") && !p.contains("RegExpReplace"),
        s"padded-regex chain resurfaced in $q:\n" + p)
    }
  }

  test("blocklist counting runs the block-counts kernel, no HOF lambdas") {
    // the r13 kernel replaced norm-regex + token-array + two interpreted
    // filter lambdas in blocklistFlags; a revert passes every oracle and
    // only shows as a bench delta — ban the lambda marker outright in
    // the four consumers (their remaining regexp_replace uses are the
    // content-hash norm, a different and legitimate site)
    Seq("q_blocklist_scan", "q_doc_features", "q_datacard",
      "q_release_gate").foreach { q =>
      val p = plan(q).toLowerCase
      assert(p.contains("blockcountskernel"),
        s"$q must run the BlockCounts kernel:\n" + p)
      assert(!p.contains("lambdafunction"),
        s"interpreted HOF lambdas resurfaced in $q:\n" + p)
    }
    // q_seq_pack's n_tok rides the TokenCounts kernel, not split+filter
    val sp = plan("q_seq_pack").toLowerCase
    assert(sp.contains("tokencountskernel") && !sp.contains("lambdafunction"),
      "q_seq_pack must count tokens via the kernel:\n" + sp)
  }

  test("pq encoder runs the per-block argmin kernel, not HOF lambdas") {
    // q_ann_pq's plan embeds the codes build (the cache child plan); the
    // only transform( allowed is the cheap float->long quantization —
    // an array_min(transform(...)) encoder revert must fail here
    val p = plan("q_ann_pq")
    assert(p.contains("VecKernel.pqCodes"),
      "PQ paths must run the PqCodesQ encoder kernel:\n" + p)
    assert(!p.contains("array_min"),
      "interpreted per-block argmin lambdas resurfaced in the PQ encoder:\n" + p)
  }

  test("pq ann: LUTs broadcast; the ADC sweep reads the narrow codes index") {
    val df = SparkEntry.queries("q_ann_pq")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the per-query lookup tables are a driver-built model: they must
    // ride a broadcast, never shuffle against the corpus
    assert(p.contains("Broadcast"), "query LUTs must broadcast:\n" + p)
    // the sweep side reads the materialized (vec_id, codes, n2pq) index —
    // 16-byte rows, the point of PQ — not the full quantized vectors
    assert(p.contains("InMemoryTableScan"),
      "ADC sweep must read the written codes index:\n" + p)
  }

  test("source overlap: pair fan-out rides the hash join, no corpus-grain window") {
    val p = plan("q_source_overlap")
    // (source, hash) distinct + hash-keyed self-join + source-pair
    // aggregate — all shuffle machinery; a window would mean a
    // corpus-grain ranking crept in
    assert(!p.contains("windowspecdefinition"),
      "no window belongs in the overlap matrix:\n" + p)
    assert(p.contains("partial_count"),
      "pair counts must partial-combine map-side:\n" + p)
  }

  test("dup spans: inline gram hashes; df join-back over the one materialized count table") {
    // execute first: ReusedExchange only appears in the finalized AQE plan
    val df = SparkEntry.queries("q_dup_spans")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the gram array must stay INLINE in the generator (the GramHashes
    // kernel inside explode, r14 — previously the xxhash64 lambda) — a
    // named projected column triggers the InferFiltersFromGenerate
    // re-evaluation hazard (CLAUDE.md)
    val gen = p.split("\n").filter(_.contains("Generate"))
    assert(gen.exists(_.contains("GramHashKernel")),
      "gram hashes must be built inside the generator:\n" + p)
    // the shipped default is the AQE-skew-splittable df JOIN-BACK — a
    // hot-gram window partition cannot be skew-split, so no window may
    // touch the gram stream
    assert(!p.contains("windowspecdefinition"),
      "hot-gram window crept back into the default dup-spans form:\n" + p)
    // the df aggregate must partial-combine map-side (hot grams would
    // otherwise flood one reducer before the join can skew-split)
    assert(p.contains("partial_count"),
      "df aggregate lost its map-side partial:\n" + p)
    // the (doc, gram) counts feed the df aggregate AND the join probe
    // side: both consumers must read the ONE materialized count table
    // (differently-pruned branches would otherwise tokenize + explode
    // the corpus twice — measured; stage reuse does not rescue it)
    assert(p.split("\n").count(_.contains("InMemoryTableScan")) >= 2,
      "df aggregate and join probe must both read the materialized counts:\n" + p)
  }

  test("substring dedup: dup roster off the materialized counts, no hot-gram window") {
    // execute first: InMemoryTableScan only appears in the finalized plan
    val df = SparkEntry.queries("q_substring_dedup")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // positioned gram hashes must stay INLINE in the generator (the
    // GramHashes kernel, r14 — the InferFiltersFromGenerate
    // re-evaluation hazard, CLAUDE.md)
    assert(p.split("\n").filter(_.contains("Generate"))
      .exists(_.contains("GramHashKernel")),
      "gram hashes must be built inside the generator:\n" + p)
    // a boilerplate gram is a hot key: the dup decision joins back on
    // the gram hash (AQE-skew-splittable) — no window may touch grams
    assert(!p.contains("windowspecdefinition"),
      "hot-gram window crept into the substring-dedup plan:\n" + p)
    // the df roster must read the ONE materialized (doc, gram) count
    // table, not re-tokenize the corpus a third time
    assert(p.contains("InMemoryTableScan"),
      "dup roster must read the materialized dup-span counts:\n" + p)
    assert(p.contains("partial_count"),
      "df aggregate lost its map-side partial:\n" + p)
  }

  test("line dedup: first-occurrence join-back, no hot-line window") {
    val p = plan("q_line_dedup")
    // a boilerplate line is a hot key: the keeper decision must ride an
    // AQE-skew-splittable JOIN on the line hash, never a window over it
    // (the dup-spans rule applied at line grain)
    assert(!p.contains("windowspecdefinition"),
      "hot-line window crept into line dedup:\n" + p)
    // the first-occurrence argmin must partial-combine map-side
    assert(p.contains("partial_min"),
      "first-occurrence aggregate lost its map-side partial:\n" + p)
  }

  test("familiarity: cf join-back over the one materialized count table") {
    val df = SparkEntry.queries("q_familiarity")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // a stopword is a hot key: corpus frequency joins back on the token
    // hash (AQE-splittable), never a COUNT window over the token stream
    assert(!p.contains("windowspecdefinition"),
      "hot-token window crept into familiarity:\n" + p)
    assert(p.contains("partial_sum"),
      "cf aggregate lost its map-side partial:\n" + p)
    // cf aggregate and join probe must both read the ONE materialized
    // token-count table (the dup-spans double-tokenize hazard)
    assert(p.split("\n").count(_.contains("InMemoryTableScan")) >= 2,
      "cf aggregate and probe must both read the materialized counts:\n" + p)
  }

  test("doc features: one map-only corpus scan — no joins, windows or aggregates") {
    val p = plan("q_doc_features")
    assert(p.split("\n").count(_.contains("Scan parquet")) == 1,
      "featurization must read documents once:\n" + p)
    assert(!p.contains("Join"), "featurization must not join:\n" + p)
    assert(!p.contains("windowspecdefinition"),
      "featurization must not window:\n" + p)
    assert(!p.contains("HashAggregate"),
      "featurization must not aggregate:\n" + p)
  }

  test("source dedup: group-stat join-back on the content hash, no hot-key window") {
    val p = plan("q_source_dedup")
    // a viral boilerplate page is a hot content key: group stats join
    // back (AQE-skew-splittable), never a window over the hash
    assert(!p.contains("windowspecdefinition"),
      "hot-hash window crept into source dedup:\n" + p)
    assert(p.contains("partial_min") && p.contains("partial_count"),
      "group aggregate lost its map-side partial:\n" + p)
  }

  test("curation funnel: one corpus scan; keeper rides a content-key window") {
    val p = plan("q_curation_funnel")
    // every per-row gate (quality, blocklist, content key, eval slice)
    // must chain onto ONE documents scan; a groupBy+join-back keeper or a
    // per-stage union would multiply it
    assert(p.split("\n").count(_.contains("Scan parquet")) == 1,
      "funnel must read documents once:\n" + p)
    assert(p.split("\n").count(_.contains("Window")) >= 2,
      "content-key keeper window + post-aggregation funnel window:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "cluster non-keepers must broadcast:\n" + p)
  }

  test("budget select: the corpus running sum is block-partitioned, never one task") {
    val p = plan("q_budget_select")
    // the ROW-grain cumulative window is the one whose spec orders by
    // (quality_score, doc_id): it must carry the blk partition key. The
    // block-OFFSET window's spec contains blk# but not quality_score#,
    // so matching on both pins the corpus-grain window specifically —
    // a bare blk# check would stay green if the row window lost its
    // partitioning while the offset machinery survived
    val rowSpecs = p.split("\n").filter(s =>
      s.contains("windowspecdefinition") && s.contains("quality_score#"))
    assert(rowSpecs.nonEmpty, "row-grain cumulative window missing:\n" + p)
    assert(rowSpecs.forall(_.contains("blk#")),
      "row-grain running sum lost its block partition key:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "block offsets must broadcast back:\n" + p)
  }

  test("shard assign: the corpus running sum is block-partitioned, never one task") {
    val p = plan("q_shard_assign")
    // the row-grain cumulative window orders by (shuffle_key, doc_id):
    // it must carry the md5-prefix blk partition key (the q_budget_select
    // guard shape — a bare blk# check would stay green if the corpus
    // window lost its partitioning while the offset machinery survived)
    val rowSpecs = p.split("\n").filter(s =>
      s.contains("windowspecdefinition") && s.contains("shuffle_key#"))
    assert(rowSpecs.nonEmpty, "row-grain cumulative window missing:\n" + p)
    assert(rowSpecs.forall(_.contains("blk#")),
      "row-grain running sum lost its block partition key:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "block offsets must broadcast back:\n" + p)
  }

  test("pair counts: bounded-heap top-k over map-side-combined counts, no global sort") {
    val p = plan("q_pair_counts")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must not global-sort the pair table:\n" + p)
    assert(p.split("\n").count(_.contains("HashAggregate")) >= 2,
      "pair counts must partial-aggregate map-side:\n" + p)
  }

  test("lang mix: one corpus scan; share windows run at post-aggregation grain") {
    val p = plan("q_lang_mix")
    assert(p.split("\n").count(l =>
      l.contains("Scan parquet") || l.contains("FileScan")) == 1,
      "lang mix must read the corpus exactly once:\n" + p)
    assert(!p.contains("windowspecdefinition(doc_id") &&
      !p.contains("windowspecdefinition(text"),
      "share windows must run over the (lang, source) aggregate:\n" + p)
  }

  test("skew keys: bounded top-k over map-side-combined counts; rank window over k rows only") {
    val p = plan("q_skew_keys")
    assert(p.contains("TakeOrderedAndProject"),
      "the heavy-key cut must be a bounded heap, not a global sort:\n" + p)
    assert(p.split("\n").count(_.contains("HashAggregate")) >= 2,
      "per-key counts must partial-aggregate map-side:\n" + p)
  }

  test("score calibrate: CDFs ride the shared bucket histogram; the corpus never reaches a window") {
    val df = SparkEntry.queries("q_score_calibrate")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the per-source totals + both CDF branches read the ONE persisted
    // (source, bucket) histogram — the sourceBucketCounts contract
    assert(p.split("\n").count(_.contains("InMemoryTableScan")) >= 3,
      "CDF branches must read the materialized (source,bucket) table:\n" + p)
    // percentiles join BACK to the doc grain — a PERCENT_RANK window
    // partitioned by source would serialize each source into one task
    assert(!p.contains("windowspecdefinition(doc_id") &&
      !p.contains("windowspecdefinition(text"),
      "a document-grain window crept into the calibrate plan:\n" + p)
  }

  test("mix apply: rate table broadcasts into the corpus scan; champion is a bounded top-1") {
    val p = plan("q_mix_apply")
    assert(p.split("\n").count(_.contains("BroadcastHashJoin")) >= 2,
      "both rate-table joins must broadcast the O(#sources) side:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "no doc-grain shuffle join — the rate table is tiny by grain:\n" + p)
    assert(p.contains("TakeOrderedAndProject"),
      "the champion pick must be a bounded top-1, not a global sort:\n" + p)
  }

  test("token hist: one corpus scan; share windows at bucket grain") {
    val p = plan("q_token_hist")
    assert(p.split("\n").count(l =>
      l.contains("Scan parquet") || l.contains("FileScan")) == 1,
      "token hist must read the corpus exactly once:\n" + p)
    assert(!p.contains("windowspecdefinition(doc_id") &&
      !p.contains("windowspecdefinition(text"),
      "share windows must run over the (source, bucket) aggregate:\n" + p)
  }

  test("datacard: quality section reads the shared bucket histogram; card rows explode from one row") {
    val df = SparkEntry.queries("q_datacard")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.split("\n").exists(_.contains("InMemoryTableScan")),
      "the median/scored metrics must read the cached quality histogram:\n" + p)
    // the AdaptiveSparkPlan string prints the explode once per plan
    // rendering (final + initial) — assert the SHAPE: explode present,
    // and no Union of per-metric branches (which would re-run every
    // aggregate once per card row)
    assert(p.contains("Generate explode"),
      "the 11 card rows must explode from ONE joined row:\n" + p)
    // contains, not startsWith: nested plan lines render as "+- Union"
    assert(!p.contains("Union"),
      "a per-metric union re-runs every aggregate:\n" + p)
  }

  test("quality corr: one scan into a map-side-combined source aggregate") {
    val p = plan("q_quality_corr")
    assert(p.split("\n").count(l =>
      l.contains("Scan parquet") || l.contains("FileScan")) == 1,
      "quality corr must read the corpus exactly once:\n" + p)
    assert(p.split("\n").count(_.contains("HashAggregate")) >= 2,
      "the five integer sums must partial-aggregate map-side:\n" + p)
  }

  test("props extraction runs the json-int kernel, not Jackson parses") {
    // the r14 kernel replaced TWO from_json Jackson parses per event
    // (measured 2.7 s each per 1M-event scan at sf1 — the query's whole
    // cost); a revert passes every oracle and only shows as a bench
    // delta, so the Jackson marker is banned here
    val p = plan("q_props_extract")
    assert(p.contains("JsonIntKernel"),
      "q_props_extract must run the JsonIntField kernel:\n" + p)
    assert(!p.contains("from_json") && !p.contains("JsonToStructs"),
      "Jackson parses resurfaced in q_props_extract:\n" + p)
  }

  test("content normalization runs the norm kernel across the dedup family") {
    // Text.norm is the shared front of every content-keyed operator; the
    // r14 kernel replaced its regexp_replace(translate(trim)) chain
    // (measured 0.94 vs 0.24 s per 50k-doc scan at sf1). These consumers
    // have NO other regex in their plans, so the marker ban is exact; a
    // revert re-pays a per-row NFA walk on every md5/shingle path.
    Seq("q_dedup_exact", "q_source_dedup", "q_line_dedup", "q_fingerprint")
      .foreach { q =>
        val p = plan(q)
        assert(p.contains("NormKernel"),
          s"$q must run the NormText kernel:\n" + p)
      }
    // these three have NO other regex in their plans, so the ban is exact
    // (q_fingerprint legitimately keeps its own '[^ -~]' printable filter)
    Seq("q_dedup_exact", "q_source_dedup", "q_line_dedup").foreach { q =>
      val p = plan(q)
      assert(!p.contains("regexp_replace") && !p.contains("RegExpReplace"),
        s"the regex norm chain resurfaced in $q:\n" + p)
    }
  }

  test("hot expressions stay inside whole-stage codegen") {
    // execute first: codegen spans only appear in the finalized AQE plan
    val df = SparkEntry.queries("q_quality_score")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // "*(n) Operator" is the codegen marker in the compact plan form
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      "no codegen span:\n" + p)
  }
}
