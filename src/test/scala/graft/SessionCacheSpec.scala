package graft

import graft.operators.{Assembly, Similarity, TextOps}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The session registry ([[SessionCache]]): a lake rewritten under a live
  * session is re-read with no clear call, an unchanged lake is a hit by
  * reference, [[SessionCache.clear]] leaves no persistent RDD behind, no
  * frame is persisted outside it beyond one scoped call, and no module
  * keeps a memo of its own.
  */
class SessionCacheSpec extends SparkSpec {
  import spark.implicits._

  private def lake(): String =
    tempDir("graft_session_cache").toString

  /** Writes a table the way an outside writer would: into a side dir,
    * then swapped in with a rename. A Spark overwrite of the path itself
    * would also refresh, in place, the file index of any cached plan
    * that reads it — and so hide a stale listing from this spec.
    */
  private def land(dir: String, table: String, df: org.apache.spark.sql.DataFrame): Unit = {
    val side = s"$dir/_side_$table"
    df.write.parquet(side)
    val target = java.nio.file.Paths.get(dir, s"$table.parquet")
    if (java.nio.file.Files.exists(target)) {
      val old = java.nio.file.Files.walk(target)
      try old.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally old.close()
    }
    java.nio.file.Files.move(java.nio.file.Paths.get(side), target)
  }

  private def writeDocs(dir: String, texts: Seq[String]): Unit =
    land(dir, "documents", texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", s"src${i % 2}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars"))

  private def writeEmbeddings(dir: String, n: Long): Unit =
    land(dir, "embeddings", GenData.embeddingsDf(spark, n))

  private def bucketTotal(dir: String): Long =
    TextOps.sourceBucketCounts(spark, dir).agg(sum("c")).head().getLong(0)

  test("a lake rewritten under a live session is re-read with no clear call") {
    val dir = lake()
    writeDocs(dir, Seq("ab ab ab", "ab cd"))
    writeEmbeddings(dir, 20)
    assert(Tables.documents(spark, dir).count() == 2)
    val merges = Assembly.bpeMerges(spark, dir, 5)
    assert(merges.head._2 == "a" && merges.head._3 == "b")
    assert(Similarity.nQuantized(spark, dir) == 20)
    assert(bucketTotal(dir) == 2)

    writeDocs(dir, Seq("xy xy xy zz", "xy", "zz zz"))
    writeEmbeddings(dir, 30)
    assert(Tables.documents(spark, dir).count() == 3)
    val fresh = Assembly.bpeMerges(spark, dir, 5)
    assert(fresh.head._2 == "x" && fresh.head._3 == "y", fresh)
    assert(Similarity.nQuantized(spark, dir) == 30)
    // the shared quality histogram over the rewritten table is fresh too
    assert(bucketTotal(dir) == 3)
  }

  test("an unchanged lake is a hit by reference") {
    val dir = lake()
    writeDocs(dir, Seq("ab ab ab", "ab cd"))
    writeEmbeddings(dir, 20)
    val docs = Tables.documents(spark, dir)
    val q = Similarity.quantized(spark, dir)
    val merges = Assembly.bpeMerges(spark, dir, 5)
    // files the fingerprint skips: hidden names and non-table directories
    spark.range(3).write.parquet(s"$dir/results/q_x")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "_SUCCESS"))
    assert(Tables.documents(spark, dir) eq docs)
    assert(Similarity.quantized(spark, dir) eq q)
    assert(Assembly.bpeMerges(spark, dir, 5) eq merges)
  }

  test("SessionCache.clear() leaves no persistent RDD behind") {
    val dir = lake()
    writeDocs(dir, Seq("the slow big merge", "a big slow merge of the slow", "merge big"))
    writeEmbeddings(dir, 40)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Similarity.lshBuckets(spark, dir).count()
    // the distributed localCheckpoint cascade
    Assembly.bpeDistributed(spark, dir)._2.collect()
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty, "the builds persisted nothing")
    SessionCache.clear()
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.isEmpty, s"left behind: ${left.values.mkString(", ")}")
  }

  test("SessionCache.clear() releases the frames the queries share") {
    val dir = lake()
    writeDocs(dir, Seq("the slow big merge of the day", "a big slow merge of the slow day",
      "merge big slow day of the merge", "the day"))
    writeEmbeddings(dir, 40)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Seq("q_quality_ks", "q_dup_spans", "q_familiarity", "q_ann_health")
      .foreach(q => SparkEntry.queries(q)(spark, dir).collect())
    assert(sc.getPersistentRDDs.keys.exists(!before(_)), "the queries persisted nothing")
    SessionCache.clear()
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.isEmpty, s"left behind: ${left.values.mkString(", ")}")
  }

  test("release frees a checkpointed entry's blocks without the lineage WARN") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.sql.execution.LogicalRDD
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-release-spec", null, null, false,
        Property.EMPTY_ARRAY) {
      override def append(ev: LogEvent): Unit = {
        val m = ev.getMessage.getFormattedMessage
        if (m != null && m.contains("locally checkpointed")) warns.add(m)
      }
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    appender.start()
    root.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try {
      val dir = lake()
      writeDocs(dir, Seq("ab ab", "cd"))
      val ckpt = SessionCache(spark, dir, "release_spec")(
        Tables.documents(spark, dir).localCheckpoint())
      val rdd = ckpt.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }.get
      val bm = org.apache.spark.SparkEnv.get.blockManager
      def blocks = bm.getMatchingBlockIds(_.asRDDId.exists(_.rddId == rdd.id))
      assert(blocks.nonEmpty, "the checkpoint stored no block")
      SessionCache.release(ckpt)
      val deadline = System.nanoTime() + 30e9.toLong
      while (blocks.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(blocks.isEmpty, s"blocks left: $blocks")
      assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
      assert(warns.isEmpty, warns.asScala.mkString("\n"))
    } finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
  }

  /** [[SparkSpec.callSites]] outside SessionCache.scala. */
  private def callSites(call: scala.util.matching.Regex): List[(String, String)] =
    SparkSpec.callSites(call).filterNot(_._1 == "SessionCache.scala")

  test("no frame is persisted outside SessionCache but in a scoped try/finally") {
    // (file, enclosing object member) of each persist that is released
    // in a finally (or by the caller's scoped wrapper) before it returns
    val allowed = Set(
      ("Similarity.scala", "propagateComponents"),
      ("Similarity.scala", "knnGeometryStatsUncached"),
      ("Similarity.scala", "minhashIncrementScoped"),
      ("IngestStream.scala", "neardupBatch"),
      ("IngestStream.scala", "curationLoop"),
      ("IngestStream.scala", "runLoopSink"),
      ("Store.scala", "appendDeduped"),
      ("Store.scala", "withJsonlLenient"))
    val offenders = callSites(raw"\.persist\(|\.cache\(\)".r).filterNot(allowed)
      .map { case (n, o) => s"$n: $o" }
    assert(offenders.isEmpty, offenders.distinct.mkString("; "))
  }

  test("localCheckpoint only cuts the lineage of an iterative loop") {
    // a checkpoint is one more job and a block-manager copy: only a loop
    // that would otherwise re-plan every earlier round pays for one
    val allowed = Set(
      // label propagation's per-round label table
      ("Similarity.scala", "propagateComponents"),
      // each round of the distributed BPE training loop and encode cascade
      ("Assembly.scala", "resegment"),
      // the word table both distributed BPE loops start from
      ("Assembly.scala", "bpeWordTable"))
    val offenders = callSites(raw"\.localCheckpoint\(".r).filterNot(allowed)
      .map { case (n, o) => s"$n: $o" }
    assert(offenders.isEmpty, offenders.distinct.mkString("; "))
  }

  test("no module keeps a concurrent.TrieMap memo outside SessionCache") {
    // the one exception: a width-keyed constant table that touches no
    // session or lake
    val allowed = Set(("Similarity.scala", "hyperplaneBanks"))
    val decl = raw"val\s+(\w+)\s*=\s*(?:scala\.collection\.concurrent\.)?TrieMap".r
    val offenders = SparkSpec.mainSources().filterNot(_._1 == "SessionCache.scala").flatMap { case (name, src) =>
      val declared = decl.findAllMatchIn(src).map(_.group(1)).toList
      val uses = "TrieMap".r.findAllMatchIn(src).size
      declared.filterNot(v => allowed((name, v))).map(v => s"$name: $v") ++
        (if (uses > declared.size) Seq(s"$name: TrieMap outside a val declaration") else Nil)
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
