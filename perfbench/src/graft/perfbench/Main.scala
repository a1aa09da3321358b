package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, CodegenGuard, Sessions, SparkEntry, Tables, Warm}
import graft.operators.{Assembly, Ingest, Profiling, Relational, TopK}
import graft.sources.Store
import graft.streaming.IngestStream

/** One benchmark run in a fresh JVM: build the session, run one workload
  * against inputs `perfbench/run.py` generated from the seed, and write
  * every raw measurement (spans, listener events when traced) as JSON.
  * Metrics and checks against DuckDB are computed by `perfbench/run.py`.
  * The run is stamped with `graft.Bench`'s host preflight and contended
  * verdict, sampled before the session is built and after the workload.
  *
  * Usage: graft.perfbench.Main <plan.json> <result.json>
  */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val plan = mapper.readValue(new File(args(0)), classOf[Map[String, Any]])
    def str(k: String) = plan(k).toString
    def num(k: String) = plan(k).toString.toDouble
    val traced = num("trace") == 1
    val spans = new Spans
    val probes = new Probes
    val result = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val hostStart = spans("host.preflight")(Bench.preflight())
    CodegenGuard.install()
    val cores = num("cores").toInt.toString
    val spark = spans("sessions.build")(Sessions.build(cores, cores))
    spans("sessions.icu_warm")(Warm.icu(spark))
    result("setup_done_ms") = spans.nowMs
    if (traced) probes.register(spark)
    try {
      val checks = str("workload") match {
        case "release_cold" =>
          // the streaming twin feeds per-layer metrics only: its trigger
          // latency (~18 small jobs a trigger) spreads between runs on a
          // shared host by more than an end-to-end bound may allow
          release(spark, spans, str("lake"), str("work")) ++ (if (!traced) Map.empty
          else stream(spark, spans, probes, str("feed"), str("work"),
            num("trigger_docs").toInt, num("warm_triggers").toInt,
            num("timed_triggers").toInt))
        case "analyst_mix" => analyst(spark, spans, probes, str("lake"), str("work"),
          plan("queries").asInstanceOf[Seq[String]], plan("calls").asInstanceOf[Seq[String]],
          num("warm_rounds").toInt, num("rounds").toInt)
        case w => sys.error(s"unknown workload $w")
      }
      result("checks") = checks
    } catch {
      case NonFatal(e) =>
        result("error") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    }
    if (traced) {
      probes.drain(spark)
      result("probes") = probes.toJson
    }
    val hostEnd = Bench.preflight()
    val (contended, reasons) = Bench.contendedVerdict(hostStart, hostEnd)
    result("host") = Map(
      "start" -> mapper.readValue(hostStart.json, classOf[Map[String, Any]]),
      "end" -> mapper.readValue(hostEnd.json, classOf[Map[String, Any]]),
      "contended" -> contended, "reasons" -> reasons,
      "steal_share" -> Bench.stealShare(hostStart, hostEnd))
    result("spans") = spans.toJson
    result("codegen_fallbacks") = CodegenGuard.report("perfbench")
    result("oracle_sql") = SparkEntry.oracleSql
    Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(result))
    spark.stop()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // ---- release_cold ----------------------------------------------------

  /** The cold release path, each stage reading the previous stage's
    * output. Where a stage takes a lake directory, the previous output is
    * landed through `Store` as that directory's `documents.parquet`:
    * L1 = clean corpus plus the held-out eval documents (what
    * decontamination compares), L2 = the clean corpus alone (what is
    * tokenized and shipped).
    */
  private def release(spark: SparkSession, spans: Spans, lake: String,
      work: String): Map[String, Any] = {
    val out = s"$work/release"
    val (l1, l2) = (s"$work/lake_l1", s"$work/lake_l2")
    val q = SparkEntry.queries
    spans("release") {
      spans("release.near_dup_clusters")(
        q("q_dedup_clusters")(spark, lake).write.parquet(s"$out/clusters"))
      spans("release.clean_corpus")(
        q("q_clean_corpus")(spark, lake).write.parquet(s"$out/clean_ids"))
      spans("release.land") {
        val clean = spark.read.parquet(s"$out/clean_ids")
        // the held-out slice: the first md5 hex digit of the id is '0'
        val evalIds = Tables.documents(spark, lake).select("doc_id")
          .filter(substring(md5(col("doc_id").cast("string")), 1, 1) === "0")
        Store.exportParquet(Tables.documents(spark, lake)
          .join(clean.union(evalIds), Seq("doc_id"), "left_semi"),
          s"$l1/documents.parquet")
      }
      spans("release.decontaminate")(
        q("q_decontaminate")(spark, l1).write.parquet(s"$out/decontamination"))
      spans("release.land")(
        Store.exportParquet(Tables.documents(spark, l1).join(
          spark.read.parquet(s"$out/clean_ids"), Seq("doc_id"), "left_semi"),
          s"$l2/documents.parquet"))
      spans("release.bpe_encode")(
        Assembly.bpeEncode(spark, l2).write.parquet(s"$out/bpe_stats"))
      spans("release.shard_export")(Assembly.exportShards(spark, l2, out))
    }
    Map("input_docs" -> Tables.documents(spark, lake).count(),
      "l1" -> l1, "l2" -> l2, "out" -> out)
  }

  // ---- analyst_mix -----------------------------------------------------

  private val moduleOf: Map[String, String] =
    Seq("relational" -> Relational.all, "profiling" -> Profiling.all,
      "ingest" -> Ingest.all, "topk" -> TopK.all)
      .flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  /** One warm session, one closed-loop client. The cold pass resolves the
    * lake's tables and runs every distinct query once, in a fixed order
    * (its result is kept for the oracle check). The seeded call sequence
    * follows, each call forced through a `noop` sink: `warmRounds` untimed
    * warm-up rounds (a round still runs about 15% slower than the fourth
    * one after it while the JIT catches up), then `rounds` timed rounds, a
    * fixed count, so the sample size and the tail percentile do not
    * depend on how fast the host is. In a traced run each query is
    * recorded in every other timed round, so every query is timed both
    * ways.
    */
  private def analyst(spark: SparkSession, spans: Spans, probes: Probes, lake: String,
      work: String, queries: Seq[String], calls: Seq[String], warmRounds: Int, rounds: Int)
      : Map[String, Any] = {
    spans("analyst.cold") {
      Seq("events", "documents", "orders", "customer", "nation", "region")
        .foreach(t => spans("tables.resolve", Map("table" -> t))(
          if (t == "events") Tables.events(spark, lake) else Tables.table(spark, lake, t)))
      queries.foreach { n =>
        try spans("analyst.first", Map("q" -> n))(
          SparkEntry.queries(n)(spark, lake).write.parquet(s"$work/results/$n"))
        catch { case NonFatal(e) => System.err.println(s"[perfbench] first $n: $e") }
      }
    }
    val byRound = calls.grouped(queries.size).toSeq
    byRound.take(warmRounds).flatten.foreach { n =>
      try spans("analyst.warmup", Map("q" -> n))(noop(SparkEntry.queries(n)(spark, lake)))
      catch { case NonFatal(e) => System.err.println(s"[perfbench] warm-up $n: $e") }
    }
    byRound.drop(warmRounds).take(rounds).zipWithIndex.foreach { case (round, r) =>
      round.foreach { n =>
        val record = (queries.indexOf(n) + r) % 2 == 0
        try probes.op(spark, record)(spans("analyst.call", Map("q" -> n,
            "module" -> moduleOf.getOrElse(n, "other"), "traced" -> probes.records(record)))(
          noop(SparkEntry.queries(n)(spark, lake))))
        catch { case NonFatal(e) => System.err.println(s"[perfbench] call $n: $e") }
      }
    }
    Map("results" -> s"$work/results", "queries" -> queries)
  }

  // ---- stream_ingest ---------------------------------------------------

  /** The release path's streaming twin, run in traced runs. One
    * closed-loop feeder: each
    * trigger's documents go into a `MemoryStream` feeding
    * `IngestStream.curationLoop`, and the feeder waits in
    * `processAllAvailable` before offering the next trigger.
    * The first `warm` triggers are untimed; `timed` timed triggers follow
    * (fewer if the feed is used up). In a traced run every other timed
    * trigger is recorded.
    */
  private def stream(spark: SparkSession, spans: Spans, probes: Probes, feed: String,
      work: String, triggerDocs: Int, warm: Int, timed: Int)
      : Map[String, Any] = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val triggers = spark.read.parquet(feed).orderBy("trigger", "doc_id").collect()
      .map(r => (r.getAs[Int]("trigger"), (r.getAs[Long]("doc_id"),
        new java.sql.Timestamp(r.getAs[Long]("ts_ms")), r.getAs[String]("text"))))
      .groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2).toSeq)
    val (fp, lake, audit) = (s"$work/store_fp", s"$work/store_lake", s"$work/store_audit")
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = spans("stream.start")(IngestStream.withStatePartitions(spark, triggerDocs) {
      IngestStream.curationLoop(mem.toDF().toDF("doc_id", "ts", "text"), fp, lake, audit)
        .option("checkpointLocation", s"$work/checkpoint").start()
    })
    var offered = 0
    try {
      triggers.iterator.take(warm + timed).zipWithIndex.foreach { case (docs, i) =>
        val record = (i - warm) % 2 == 0
        probes.op(spark, record)(spans("stream.trigger", Map("n" -> i,
            "docs" -> docs.size, "warm" -> (i < warm), "traced" -> probes.records(record))) {
          mem.addData(docs)
          q.processAllAvailable()
        })
        offered += docs.size
      }
    } finally {
      q.stop()
    }
    // the batch gate recomputed over every audited document
    val audited = spark.read.parquet(audit)
    val recomputed = IngestStream.curationGate(audited.select("doc_id", "ts", "text"))
      .select(col("doc_id"), col("gate").as("batch_gate"))
    val gateMismatches = audited.join(recomputed, Seq("doc_id"), "full_outer")
      .filter(!(col("gate") <=> col("batch_gate"))).count()
    Map("offered" -> offered, "store_fp" -> fp, "store_lake" -> lake,
      "store_audit" -> audit, "gate_mismatches" -> gateMismatches)
  }
}
