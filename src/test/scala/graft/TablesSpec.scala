package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** [[Tables.table]]'s single-split rule: a table whose files fit one input
  * split is planned as one partition, so aggregates, joins and sorts over
  * it need no exchange; filters and column pruning still reach its scan;
  * a table above one split keeps its parallel scan and its exchanges; and
  * a rewritten table is decided again on its next lookup.
  */
class TablesSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val SplitKey = "spark.sql.files.maxPartitionBytes"

  private def coalesced(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists {
      case Repartition(1, false, _) => true
      case _ => false
    }

  /** Two group-bys over `events`, joined, then ordered. */
  private def query(events: DataFrame): DataFrame = {
    val counts = events.groupBy("event_type").agg(count(lit(1)).as("n"))
    val peaks = events.filter(col("value") > 0)
      .groupBy("event_type").agg(max("value").as("peak"))
    counts.join(peaks, "event_type").orderBy("event_type")
  }

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) { case s: ShuffleExchangeExec => s }

  /** The jobs `body` starts, counted by a listener. A marker job, started
    * after `body` under its own group, drains the listener bus: events
    * arrive in order, so every earlier job start has been seen by then.
    */
  private def jobs(body: => Unit): Int = {
    val group = "graft-tables-spec-drain"
    val drained = new CountDownLatch(1)
    val started = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          drained.countDown()
        else started.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(group, "drain the listener bus")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      started.get
    } finally sc.removeSparkListener(listener)
  }

  /** `body` with the split size at `bytes` and a fresh registry, whose
    * entries decided under that size are dropped again afterwards.
    */
  private def withSplit[T](bytes: String)(body: => T): T = {
    val prev = spark.conf.getOption(SplitKey)
    SessionCache.clear()
    spark.conf.set(SplitKey, bytes)
    try body
    finally {
      prev.fold(spark.conf.unset(SplitKey))(spark.conf.set(SplitKey, _))
      SessionCache.clear()
    }
  }

  test("a single-split table plans no exchange: aggregates, join and sort in at most 2 jobs") {
    val events = Tables.events(spark, sfDir)
    assert(coalesced(events))
    val q = query(events)
    var rows = Array.empty[org.apache.spark.sql.Row]
    val n = jobs { rows = q.collect() }
    assert(shuffles(q).isEmpty, q.queryExecution.executedPlan.toString)
    assert(n <= 2, s"$n jobs:\n${q.queryExecution.executedPlan}")
    val plain = query(Tables.normalizeEventTs(spark.read.parquet(s"$sfDir/events.parquet")))
    assert(rows.toSeq == plain.collect().toSeq)
  }

  test("filters and column pruning still reach the scan of a coalesced table") {
    val q = Tables.events(spark, sfDir).filter(col("value") > 5.0).select("event_type", "value")
    val plan = q.queryExecution.executedPlan.toString
    val scan = plan.split("\n").find(_.contains("FileScan")).getOrElse(fail(plan))
    assert(scan.contains("GreaterThan(value,5.0)"), scan)
    assert(scan.contains("ReadSchema: struct<event_type:string,value:double>"), scan)
  }

  test("above one split the table keeps its parallel scan, exchange and partial aggregate") {
    withSplit("8k") {
      val events = Tables.events(spark, sfDir)
      assert(!coalesced(events))
      assert(events.rdd.getNumPartitions > 1)
      val q = query(events)
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(shuffles(q).nonEmpty, plan)
      assert(plan.contains("partial_count") && plan.contains("partial_max"), plan)
    }
  }

  test("a table rewritten above one split is decided again on its next lookup") {
    val dir = tempDir("graft_tables").toString
    // hex digests barely compress: 2,000 rows are far above an 8 KB split
    def write(rows: Int): Unit = spark.range(rows)
      .select(col("id").as("doc_id"), sha2(col("id").cast("string"), 256).as("text"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    withSplit("8k") {
      write(10)
      assert(coalesced(Tables.documents(spark, dir)))
      write(2000)
      val docs = Tables.documents(spark, dir)
      assert(!coalesced(docs))
      assert(docs.rdd.getNumPartitions > 1)
      assert(docs.count() == 2000)
    }
  }

  test("reading events changes no session conf") {
    // a session without the nanos-as-long conf: Sessions.build sets it
    // once, and a table read must leave a session's confs as they are
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val s = spark.newSession()
    s.conf.unset(key)
    val before = s.conf.getAll
    Tables.events(s, sfDir)
    assert(s.conf.getAll == before)
    assert(s.conf.getOption(key) != Some("true"))
  }
}
