package graft

import graft.sources.Store
import org.apache.spark.sql.functions._

class StoreSpec extends SparkSpec {

  private def tmp(name: String): String =
    tempDir(s"graft_$name").resolve("out").toString

  // ordered limit: an unordered limit(200) has no determinism guarantee
  // across evaluations, so round-trip comparisons could select different
  // row subsets on each side
  private def sample = Tables.documents(spark, sfDir)
    .select("doc_id", "lang", "source", "n_chars")
    .orderBy("doc_id").limit(200)

  test("jsonl round-trip preserves rows") {
    val path = tmp("jsonl")
    val df = sample
    Store.exportJsonl(df, path)
    val back = Store.loadJsonl(spark, path, df.schema)
    assert(back.count() == df.count())
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("lenient jsonl ingest splits parsed rows from quarantined corrupt lines") {
    val path = tmp("lenient")
    val df = sample
    Store.exportJsonl(df, path)
    // corrupt the sink: append a malformed file alongside the good ones
    val badLines = Seq("{not json at all", """{"doc_id": "notanumber"}""",
      "", """{"doc_id": 1, "lang": "xx" """)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "part-corrupt.json"),
      badLines.mkString("\n").getBytes("UTF-8"))
    // compare against the pre-call persistent set — the shared test
    // session legitimately holds other caches, e.g. memoized similarity
    // indexes
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Store.withJsonlLenient(spark, path, df.schema) { (good, bad) =>
      // every original row parses; blank lines are skipped by the reader,
      // the three malformed payloads land in quarantine with their raw text
      assert(good.count() == df.count())
      assert(good.exceptAll(df).isEmpty && df.exceptAll(good).isEmpty)
      val quarantined = bad.collect().map(_.getString(0)).toSet
      assert(quarantined.size == 3, s"got $quarantined")
      assert(quarantined.contains("{not json at all"))
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "withJsonlLenient leaked a cached relation")
  }

  test("field-level validation quarantines invalid-but-well-formed records") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("review_id", LongType), StructField("app_id", StringType),
      StructField("rating", IntegerType), StructField("ts", StringType)))
    val path = tmp("validated")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    val lines = Seq(
      """{"review_id": 1, "app_id": "a", "rating": 5, "ts": "2024-01-01T00:00:00"}""", // valid
      """{"review_id": 2, "app_id": "a", "rating": 0, "ts": "2024-01-01T00:00:00"}""", // rating low
      """{"review_id": 3, "app_id": "a", "rating": 6, "ts": "2024-01-01T00:00:00"}""", // rating high
      """{"review_id": 4, "app_id": "a", "ts": "2024-01-01T00:00:00"}""",              // rating null
      """{"review_id": 5, "app_id": null, "rating": 3, "ts": "2024-01-01T00:00:00"}""", // app null
      """{"app_id": "a", "rating": 3, "ts": "2024-01-01T00:00:00"}""",                 // id missing
      """{"review_id": 7, "app_id": "a", "rating": 3}""",                              // ts missing
      """{"review_id": 8, "app_id": "a", "rating": 3, "ts": "not-a-time"}""",          // ts unparseable
      """{"review_id": 9, "app_id": null, "rating": 99, "ts": "nope"}""",              // 3 rules at once
      """{definitely not json""")                                                      // corrupt
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "part-0.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    val rules = Store.reviewRules(id = "review_id") :+ Store.tsParseRule("ts")
    Store.withJsonlValidated(spark, path, schema, rules) { (valid, invalid, corrupt) =>
      // one structurally corrupt line; exactly one fully-clean row
      assert(corrupt.count() == 1)
      assert(valid.collect().map(_.getLong(0)).toSeq == Seq(1L))
      // every violation is named; a row can break several rules at once
      val vio = invalid.collect()
        .map(r => Option(r.getAs[Any]("review_id")) ->
          r.getAs[scala.collection.Seq[String]]("violations").toSet).toMap
      assert(vio(Some(2L)) == Set("rating_out_of_range"))
      assert(vio(Some(3L)) == Set("rating_out_of_range"))
      assert(vio(Some(4L)) == Set("rating_out_of_range")) // NULL rating IS out of range
      assert(vio(Some(5L)) == Set("app_id_missing"))
      assert(vio(None) == Set("review_id_missing"))
      assert(vio(Some(7L)) == Set("ts_missing")) // absent ≠ unparseable
      assert(vio(Some(8L)) == Set("ts_unparseable"))
      assert(vio(Some(9L)) == Set("app_id_missing", "rating_out_of_range", "ts_unparseable"))
    }
    // batch path: validSplit over an in-memory frame, same rules
    val df = spark.range(1, 4).toDF("review_id")
      .withColumn("app_id", when(col("review_id") === 2, lit(null)).otherwise(lit("a")))
      .withColumn("rating", when(col("review_id") === 3, 7).otherwise(3))
      .withColumn("ts", lit("2024-01-01T00:00:00"))
    val (v, inv) = Store.validSplit(df, rules)
    assert(v.collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(inv.count() == 2)
    // the split is one projection pass — valid carries no extra column
    assert(v.columns.toSeq == df.columns.toSeq)
  }

  test("csv round-trip preserves rows") {
    val path = tmp("csv")
    val df = sample
    Store.exportCsv(df, path)
    val back = Store.loadCsv(spark, path, df.schema)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("in-batch dedup keeps exactly one row per key") {
    val df = sample.unionByName(sample) // every key duplicated
    val deduped = Store.dedupeByKey(df, "doc_id", "doc_id")
    assert(deduped.count() == sample.count())
  }

  test("incremental append is idempotent and appends only novel keys") {
    val path = tmp("append")
    val b1 = sample.filter(col("doc_id") < 100)
    val b2 = sample.filter(col("doc_id") < 150) // overlaps b1
    val n1 = Store.appendDeduped(b1, path, "doc_id")
    assert(n1 == b1.count())
    val again = Store.appendDeduped(b1, path, "doc_id")
    assert(again == 0, "re-running the same batch must be a no-op")
    val n2 = Store.appendDeduped(b2, path, "doc_id")
    assert(n2 == b2.count() - b1.count())
    val sink = spark.read.parquet(path)
    assert(sink.count() == b2.count())
    assert(sink.select("doc_id").distinct().count() == b2.count())
  }

  test("append anti-join scan is recent-horizon pruned: scanned rows stay bounded as the store grows") {
    // r7 verdict item 4: every streaming sink here pays an anti-join
    // against its keyed store per trigger; unpruned, that scan grows with
    // the store and the per-trigger cost of a long-running stream is
    // quadratic in stream length. appendDeduped filters the store side to
    // the batch's [min, max] key range, and because each append's files
    // carry exactly their own batch's key range in the parquet footer
    // stats, a monotonic-key stream's scan skips every old file's rows.
    import spark.implicits._
    val path = tmp("pruned")
    def batch(lo: Long, hi: Long) = spark.range(lo, hi).toDF("doc_id")
      .withColumn("payload", concat(lit("p"), col("doc_id")))
    // a store grown by 8 sequential-range appends (the streaming shape)
    (0 until 8).foreach(i =>
      Store.appendDeduped(batch(i * 25000L, (i + 1) * 25000L), path, "doc_id"))
    // the probe range a next trigger would carry: recent keys only
    def scanRows(mn: Long, mx: Long): Long = {
      val df = Store.existingKeyScan(spark, path, "doc_id",
        org.apache.spark.sql.types.LongType, "parquet", mn, mx)
      df.collect()
      // rows EMITTED by the file scan (post row-group pruning): the leaf
      // metric, not the post-filter count — an unfiltered full-store
      // read would emit every stored row here
      val leaf = df.queryExecution.executedPlan.collectLeaves().head
      leaf.metrics("numOutputRows").value
    }
    val small = scanRows(190000L, 191000L)
    assert(small <= 50000L,
      s"scan emitted $small rows for a 1k-key probe over a 200k store — " +
        "row-group pruning is not reaching the parquet footers")
    // grow the store 2x with LATER key ranges; the same probe must not
    // scan more than before — bounded per-trigger cost as the store grows
    (8 until 16).foreach(i =>
      Store.appendDeduped(batch(i * 25000L, (i + 1) * 25000L), path, "doc_id"))
    val grown = scanRows(190000L, 191000L)
    assert(grown <= small,
      s"per-trigger scan grew with the store ($small -> $grown rows)")
    // and the range predicate is genuinely PUSHED, not post-scan only
    val plan = Store.existingKeyScan(spark, path, "doc_id",
      org.apache.spark.sql.types.LongType, "parquet", 0L, 1L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(doc_id") &&
      plan.contains("LessThanOrEqual(doc_id"),
      s"key-range predicate not pushed to the scan:\n$plan")
    // correctness under pruning: an overlapping re-append is still a no-op
    assert(Store.appendDeduped(batch(399000L, 401000L), path, "doc_id") == 1000L)
    assert(spark.read.parquet(path).count() == 401000L)
  }

  test("csv append stays idempotent with embedded newlines and reordered columns") {
    import spark.implicits._
    val path = tmp("csvappend")
    val b1 = Seq((1L, "plain", "x"), (2L, "has\nnewline", "y"))
      .toDF("id", "body", "tag")
    assert(Store.appendDeduped(b1, path, "id", "csv") == 2)
    // the quoted multi-line record must round-trip, not break the key scan
    assert(Store.appendDeduped(b1, path, "id", "csv") == 0,
      "rerun must be a no-op even with embedded newlines")
    // a batch with a different column ORDER must align to the sink layout
    val b2 = Seq(("z", 3L, "third"), ("w", 1L, "dup")).toDF("tag", "id", "body")
    assert(Store.appendDeduped(b2, path, "id", "csv") == 1)
    val back = Store.loadCsv(spark, path, b1.schema)
    assert(back.count() == 3)
    assert(back.filter(col("id") === 2L).select("body").as[String].head() == "has\nnewline")
    assert(back.filter(col("id") === 3L).select("body").as[String].head() == "third",
      "reordered batch must not land values in the wrong columns")
  }

  test("orc sink: round-trip + idempotent append through the generic format path") {
    // appendDeduped's format parameter claims any Spark format; ORC is
    // the other columnar lake format in the distribution — exercise the
    // generic (non-csv) branch with it so the claim is tested, not
    // assumed from the parquet default
    val path = tmp("orcappend")
    val b1 = sample.filter(col("doc_id") < 100)
    val b2 = sample.filter(col("doc_id") < 150)
    assert(Store.appendDeduped(b1, path, "doc_id", "orc") == b1.count())
    assert(Store.appendDeduped(b1, path, "doc_id", "orc") == 0,
      "orc re-append must be a per-key no-op")
    assert(Store.appendDeduped(b2, path, "doc_id", "orc") ==
      b2.count() - b1.count())
    val sink = spark.read.orc(path)
    assert(sink.count() == b2.count())
    // round-trip cell fidelity vs the source frame
    val want = b2.collect().map(_.toSeq).toSet
    assert(sink.collect().map(_.toSeq).toSet == want,
      "orc round-trip changed cell values")
  }

  test("a crashed first write (directory, no data files) does not wedge the sink") {
    import spark.implicits._
    // a failed job leaves path/ with only _temporary: the next append
    // must treat it as a FRESH sink — a schemaless CSV read over zero
    // data files throws on schema inference and would wedge every retry
    // of exactly the crash-recovery append this function exists for
    val dir = tempDir("graft_wedge").toString
    val path = s"$dir/sink"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path, "_temporary"))
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(graft.sources.Store.appendDeduped(batch, path, "id", "csv") == 2L)
    // and the sink works normally from then on
    assert(graft.sources.Store.appendDeduped(batch, path, "id", "csv") == 0L)
    // a stray NON-hidden subdirectory (crash debris, marker dir) must not
    // read as committed data either: only actual data FILES count
    val path2 = s"$dir/sink2"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path2, "debris"))
    assert(graft.sources.Store.appendDeduped(batch, path2, "id", "csv") == 2L)
    assert(graft.sources.Store.appendDeduped(batch, path2, "id", "csv") == 0L)
  }

  test("compact refuses a Hive-partitioned layout instead of silently flattening it") {
    import spark.implicits._
    val dir = tempDir("graft_cpart").toString
    graft.sources.Store.writePartitioned(
      Seq((1L, "a"), (2L, "b")).toDF("id", "day"), s"$dir/lake", Seq("day"))
    val e = intercept[IllegalArgumentException] {
      graft.sources.Store.compact(spark, s"$dir/lake", s"$dir/out")
    }
    assert(e.getMessage.contains("partition"),
      "the guard must explain the pruning loss")
  }

  test("dedupeByKey tolerates map-typed columns") {
    import spark.implicits._
    val df = Seq((1L, Map("a" -> 1)), (1L, Map("b" -> 2)), (2L, Map.empty[String, Int]))
      .toDF("id", "props")
    assert(Store.dedupeByKey(df, "id", "id").count() == 2)
  }

  test("bucketed tables join without a shuffle exchange") {
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    val ord = Tables.orders(spark, sfDir).select("o_orderkey", "o_totalprice")
    Store.writeBucketed(li, "b_lineitem", "l_orderkey", 8)
    Store.writeBucketed(ord, "b_orders", "o_orderkey", 8)
    // force a non-broadcast join so the test proves the bucket layout
    // (not the broadcast planner) eliminated the shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_lineitem").join(
        spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), "expected SMJ:\n" + plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        "bucketed join still shuffles:\n" + plan)
      assert(joined.count() == li.count(), "inner join must hit every lineitem")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned layout prunes non-matching partitions at the scan") {
    val path = tmp("part")
    val events = Tables.events(spark, sfDir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    Store.writePartitioned(events, path, Seq("day"))
    val firstDay = events.agg(min("day")).collect()(0).getString(0)
    val q = spark.read.parquet(path).filter(col("day") === firstDay)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains(s"isnotnull(day"), "no partition pruning:\n" + plan)
    // pruned scan reads exactly the one day
    assert(q.count() == events.filter(col("day") === firstDay).count())
  }

  test("compaction merges a many-file layout without losing or changing rows") {
    val in = tmp("compact_in")
    val out = tmp("compact_out")
    val events = Tables.events(spark, sfDir).select("event_id", "user_id", "value")
    events.repartition(32).write.mode("overwrite").parquet(in)
    val fs = new org.apache.hadoop.fs.Path(in)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val inFiles = fs.listStatus(new org.apache.hadoop.fs.Path(in))
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(inFiles == 32, s"setup expected 32 input files, got $inFiles")
    val outFiles = Store.compact(spark, in, out, targetFileBytes = 512L * 1024)
    assert(outFiles < inFiles, s"no reduction: $inFiles -> $outFiles")
    // row-level identity, not just counts
    val a = spark.read.parquet(in)
    val b = spark.read.parquet(out)
    assert(b.count() == a.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // compaction must not shuffle: assert on the plan compact itself runs
    val plan = Store.compactPlan(spark, in, 512L * 1024)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "compaction plan shuffles:\n" + plan)
  }

  test("extensions entry point installs without error") {
    new graft.plans.GraftExtensions()
      .apply(new org.apache.spark.sql.SparkSessionExtensions)
  }
}
