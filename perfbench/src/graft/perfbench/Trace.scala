package graft.perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span; `end` is NaN while it is open. */
final case class Span(id: Int, parent: Int, name: String, start: Double,
    var end: Double, var ok: Boolean, attrs: Map[String, Any])

/** Spans the benchmark records around each call it makes into a graft
  * layer. Times are epoch milliseconds at sub-millisecond resolution (a
  * nanoTime offset from one wall-clock anchor), so they compare directly
  * with the millisecond timestamps Spark stamps on listener events.
  * Spans are opened and closed on the client thread only.
  */
final class Spans {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private val all = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  /** Run `body` inside a span; a throw closes the span as failed and
    * rethrows, so a failure is never recorded as a success.
    */
  def apply[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    val s = Span(all.size, open.headOption.map(_.id).getOrElse(-1), name,
      nowMs, Double.NaN, ok = false, attrs)
    all += s
    open = s :: open
    try {
      val r = body
      s.ok = true
      r
    } finally {
      s.end = nowMs
      open = open.tail
    }
  }

  def toJson: Seq[Map[String, Any]] = all.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_ms" -> s.start, "end_ms" -> s.end, "ok" -> s.ok, "attrs" -> s.attrs))
}

/** Task-metric totals of one Spark stage. */
final class StageAgg {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var maxTaskMs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
  var spill = 0L; var peakMem = 0L; var inputBytes = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
    tasks += 1
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    maxTaskMs = math.max(maxTaskMs, m.executorRunTime)
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    spill += m.memoryBytesSpilled + m.diskBytesSpilled
    peakMem = math.max(peakMem, m.peakExecutionMemory)
    inputBytes += m.inputMetrics.bytesRead
  }

  def toJson: Map[String, Any] = synchronized(Map(
    "tasks" -> tasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "max_task_ms" -> maxTaskMs, "shuffle_write" -> shuffleWrite,
    "shuffle_read" -> shuffleRead, "spill" -> spill, "peak_mem" -> peakMem,
    "input_bytes" -> inputBytes))
}

/** The three listeners of a traced run, registered from the benchmark's
  * own code (graft itself carries no instrumentation):
  *  - a `SparkListener` for jobs and per-stage task metrics;
  *  - a `QueryExecutionListener` for each execution's planning phases
  *    (`QueryExecution.tracker`), its duration, and the paths it writes
  *    and scans;
  *  - a `StreamingQueryListener` for per-trigger progress.
  * Events are kept raw; the benchmark's Python side attributes them to
  * spans by time, since a single closed-loop client issues all work.
  */
final class Probes {
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = TrieMap.empty[Int, StageAgg]
  val execs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()

  /** Off during the untraced operations of a traced run: the callbacks
    * then return at once and those operations pay no recording.
    */
  @volatile var recording = true
  @volatile private var marker = new CountDownLatch(0)
  private val MarkerGroup = "perfbench-drain"
  private val MarkerCol = "perfbench_drain"

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      if (recording && group != MarkerGroup)
        jobs.add(Map("job" -> e.jobId, "time_ms" -> e.time,
          "stages" -> e.stageIds))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (recording && e.taskMetrics != null)
        stages.getOrElseUpdate(e.stageId, new StageAgg).add(e.taskMetrics)
  }

  val sql: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs / 1e6, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(funcName, qe, Double.NaN, ok = false)
  }

  private def record(funcName: String, qe: QueryExecution, ms: Double, ok: Boolean): Unit = {
    if (qe.analyzed.output.exists(_.name == MarkerCol)) { marker.countDown(); return }
    if (!recording) return
    val tracked = qe.tracker.phases
    val phases = tracked.map { case (k, v) => k -> v.durationMs }
    val written = qe.analyzed.collect {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }
    val scanned = qe.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten
    // the first planning phase's start: when the client issued the action
    val issued = if (tracked.isEmpty) -1L else tracked.values.map(_.startTimeMs).min
    execs.add(Map("issued_ms" -> issued, "func" -> funcName, "ms" -> ms, "ok" -> ok,
      "phases_ms" -> phases, "written" -> written, "scanned" -> scanned.distinct))
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    // progress is kept whatever `recording` says: it arrives on its own
    // bus queue, which `drain` does not wait for, and costs one row a trigger
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Map(
        "batch" -> p.batchId,
        "timestamp" -> p.timestamp,
        "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state" -> p.stateOperators.toSeq.map(o => Map(
          "op" -> o.operatorName, "rows" -> o.numRowsTotal,
          "memory_bytes" -> o.memoryUsedBytes, "commit_ms" -> o.commitTimeMs))))
    }
  }

  private var registered = false

  def register(s: SparkSession): Unit = {
    registered = true
    s.sparkContext.addSparkListener(spark)
    s.listenerManager.register(sql)
    s.streams.addListener(streams)
  }

  /** Whether an operation run with `op(_, record)` is recorded. */
  def records(record: Boolean): Boolean = registered && record

  /** Run one timed operation, recorded or not; without registered
    * listeners it just runs. A recorded one is drained before the next
    * operation may switch recording off, so none of its events is lost.
    */
  def op[T](s: SparkSession, record: Boolean)(body: => T): T =
    if (!registered) body
    else {
      recording = record
      try body finally if (record) drain(s)
    }

  /** Block until every event posted before this call has been delivered:
    * the marker action's execution callback queues behind them on the
    * shared listener-bus queue both listeners sit on.
    */
  def drain(s: SparkSession): Unit = {
    marker = new CountDownLatch(1)
    s.sparkContext.setJobGroup(MarkerGroup, "drain listener bus")
    try s.range(1).toDF(MarkerCol).collect()
    finally s.sparkContext.clearJobGroup()
    if (!marker.await(60, TimeUnit.SECONDS))
      System.err.println("[perfbench] listener bus did not drain in 60 s")
  }

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq,
    "stages" -> stages.toSeq.map { case (k, v) => k.toString -> v.toJson }.toMap,
    "execs" -> execs.asScala.toSeq,
    "progress" -> progress.asScala.toSeq)
}
