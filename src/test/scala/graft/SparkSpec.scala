package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{JoinStrategyHint, ResolvedHint}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** A fresh temp directory, deleted with its contents when the spec ends. */
  protected def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.synchronized(tempDirs += dir)
    dir
  }

  /** The shuffle exchanges of `df`'s executed plan, adaptive stages included. */
  protected def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    SparkSpec.Plans.collect(df.queryExecution.executedPlan) { case s: ShuffleExchangeExec => s }

  /** The jobs `body` starts, counted by a listener. A marker job, started
    * after `body` under its own group, drains the listener bus: events
    * arrive in order, so every earlier job start has been seen by then.
    */
  protected def jobs(body: => Unit): Int = {
    val group = "graft-spec-drain"
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

  /** The join strategies `df`'s analyzed plan is hinted with. */
  protected def joinHints(df: DataFrame): Seq[JoinStrategyHint] =
    df.queryExecution.analyzed.collect { case h: ResolvedHint => h.hints.strategy }.flatten

  /** The far side of a size-gated join hint: `df` rebuilt from its
    * analyzed plan with every hint removed, collected by `f` with Spark's
    * automatic broadcast joins off (static and adaptive), so no join of it
    * broadcasts.
    */
  protected def unhinted[T](df: DataFrame)(f: DataFrame => T): T = {
    val plan = df.queryExecution.analyzed.transform { case h: ResolvedHint => h.child }
    val keys = Seq(SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.key,
      SQLConf.ADAPTIVE_AUTO_BROADCASTJOIN_THRESHOLD.key)
    val old = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try f(GraftSqlBridge.ofRows(spark, plan))
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  // Spark sizes its generated-class cache from the conf active at the
  // first code generation in the JVM: with the shared session active
  // before any spec runs, the cap is the session's whatever the spec order
  override protected def beforeAll(): Unit = {
    SparkSession.setActiveSession(spark)
    super.beforeAll()
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally tempDirs.synchronized(tempDirs.foreach(SparkSpec.deleteTree))
}

object SparkSpec {
  private object Plans extends AdaptiveSparkPlanHelper

  /** (file name, source) of every Scala file under `src/main/scala`, for
    * the specs that scan the sources for a banned spelling.
    */
  def mainSources(): List[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val it = Files.walk(root)
    try it.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(f => (f.getFileName.toString, new String(Files.readAllBytes(f), "UTF-8")))
    finally it.close()
  }

  /** (file name, enclosing object member) of each match of `call` in
    * [[mainSources]]; members are declared at the object's two-space
    * indent.
    */
  def callSites(call: scala.util.matching.Regex): List[(String, String)] = {
    val member = raw"(?m)^  (?:[\w\[\]]+ )*(?:def|val) (\w+)".r
    mainSources().flatMap { case (name, src) =>
      call.findAllMatchIn(src).map { m =>
        val owner = member.findAllMatchIn(src.substring(0, m.start)).toList
          .lastOption.fold("<top level>")(_.group(1))
        (name, owner)
      }
    }
  }

  /** Deletes `root` and everything under it; a missing root is a no-op. */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val all = Files.walk(root)
      try all.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally all.close()
    }

  lazy val session: SparkSession = {
    val warehouse = Files.createTempDirectory("graft_wh")
    sys.addShutdownHook(deleteTree(warehouse))
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, Sessions.CodegenCacheEntries.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(SQLConf.ICU_CASE_MAPPINGS_ENABLED.key, "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Sessions.quietUnpartitionedWindows()
    s
  }
}
