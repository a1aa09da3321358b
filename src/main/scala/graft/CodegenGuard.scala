package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.Try

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** In-context codegen-fallback detector (r13 verdict item 3).
  *
  * KernelCodegenSpec proves each kernel's OWN code Janino-compiles
  * standalone, but a WholeStageCodegen context (splitExpressions,
  * subexpression elimination) can still mangle the surrounding generated
  * code, and Spark then falls back — interpreted expression eval or a
  * non-codegen plan — with only a WARN/ERROR log line while results stay
  * correct and tests stay green (the r12 `||`-margin incident ran a 10×
  * slower kernel for most of a round this way). Kernels no longer write
  * generated code at all: each is replaced by Spark's `StaticInvoke` of
  * a Scala static core, and KernelCodegenSpec fails any replacement that
  * is not one static call — the context mangling stays this guard's
  * job. This guard turns those
  * log lines into a hard signal: a log4j2 appender on the root logger
  * records every occurrence of the three fallback messages Spark 4.1
  * emits (string constants verified against the shipped jars):
  *
  *  - `Failed to compile the generated Java code.`
  *    (codegen.CodeGenerator — Janino rejected a generated class)
  *  - `Expr codegen error and falling back to interpreter mode`
  *    (CodeGeneratorWithInterpretedFallback — an expression tree now
  *    evaluates INTERPRETED)
  *  - `Whole-stage codegen disabled for plan `
  *    (WholeStageCodegenExec — a whole stage fell back, compile error or
  *    `spark.sql.codegen.hugeMethodLimit`; either way a perf cliff that
  *    must be looked at, never silent)
  *
  * Verify installs it and EXITS NON-ZERO if any query tripped it (the
  * correctness gate is also the only run that executes every registered
  * query — the right net). Bench installs it and stamps the count into
  * the artifact JSON so a fallback can never hide inside a slow number.
  * Local mode runs executors in this JVM, so executor-side fallbacks
  * route to the same log4j context.
  *
  * It also counts Janino compiles: the number Spark's
  * `CodegenMetrics.METRIC_COMPILATION_TIME` histogram has recorded and
  * their total time (`CodeGenerator.compileTime`) since `install`/`clear`.
  * A warm session that keeps compiling is evicting generated classes it
  * will need again (see `Sessions.CodegenCacheEntries`). Spark caches a
  * compiled class under (context class loader, source), so a source
  * compiled on a driver thread is compiled again on a task thread, whose
  * loader differs: [[distinctSources]] counts the sources among the
  * classes cached since install/clear, and the report prints the
  * compiles that repeat a cached source (a loader change, or a class
  * compiled again after its eviction). That cache is a private field, so
  * the count reads n/a if Spark renames it; the fallback gate still runs.
  */
object CodegenGuard {
  private val hits = new ConcurrentLinkedQueue[String]()
  @volatile private var installed = false
  // (compiles, compile ns) and the codegen cache's keys at the last install/clear
  @volatile private var mark = (0L, 0L)
  @volatile private var markKeys = Option(Set.empty[Any])

  /** JVM-wide (compiles, compile ns). `CodeGenerator` sizes its class cache
    * from the conf active when it initializes, so it is not touched before
    * the first compile: guards install before the session is built.
    */
  private def totals: (Long, Long) = {
    val n = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    (n, if (n == 0) 0L else CodeGenerator.compileTime)
  }

  /** Spark's codegen class cache, a private field of `CodeGenerator`;
    * a Failure if Spark's internals no longer match.
    */
  private lazy val classCache: Try[java.util.Map[_, _]] = Try {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator)
    val guava = cache.getClass.getMethod("loadingCache").invoke(cache)
    guava.asInstanceOf[org.sparkproject.guava.cache.Cache[_, _]].asMap()
  }

  /** The (class loader, source) keys of the compiled classes Spark holds,
    * empty before the first compile (as in [[totals]]); None if the cache
    * cannot be read.
    */
  private def cachedKeys: Option[Set[Any]] = {
    import scala.jdk.CollectionConverters._
    if (CodegenMetrics.METRIC_COMPILATION_TIME.getCount == 0) Some(Set.empty)
    else classCache.flatMap(c => Try(c.keySet.asScala.toSet[Any])).toOption
  }

  private val Needles = Seq(
    "Failed to compile the generated Java code",
    "falling back to interpreter mode",
    "Whole-stage codegen disabled for plan")

  private object Guard extends AbstractAppender(
      "graft-codegen-guard", null, null, false, Property.EMPTY_ARRAY) {
    override def append(ev: LogEvent): Unit = {
      val m = ev.getMessage.getFormattedMessage
      if (m != null && Needles.exists(m.contains)) {
        // first line only: the WSCG message carries the whole tree string
        hits.add(s"${ev.getLoggerName}: ${m.linesIterator.next()}")
      }
    }
  }

  /** Attach to the root logger config (additivity routes every child
    * logger's WARN+ events here under Spark's default log4j2 profile).
    * Idempotent; safe before or after SparkSession construction.
    */
  def install(): Unit = synchronized {
    if (!installed) {
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      Guard.start()
      ctx.getConfiguration.getRootLogger.addAppender(Guard, Level.WARN, null)
      ctx.updateLoggers()
      mark = totals
      markKeys = cachedKeys
      installed = true
    }
  }

  def clear(): Unit = {
    hits.clear()
    mark = totals
    markKeys = cachedKeys
  }

  /** Generated classes Janino compiled since install/clear. */
  def compiles: Long = totals._1 - mark._1

  /** Distinct generated sources among the classes cached since
    * install/clear, None if Spark's cache cannot be read;
    * `compiles - distinctSources` compiles repeated a cached source under
    * another class loader or after its eviction.
    */
  def distinctSources: Option[Long] =
    for (now <- cachedKeys; before <- markKeys)
      yield (now -- before).collect { case (_, code) => code }.size.toLong

  /** Their total compile time in ms. */
  def compileMs: Double = (totals._2 - mark._2) / 1e6

  /** Distinct captured fallback lines since install/clear. */
  def violations: Seq[String] = {
    import scala.jdk.CollectionConverters._
    hits.iterator().asScala.toSeq.distinct
  }

  /** Print the compile counts and the violations (if any) to stderr with a
    * greppable marker and return the distinct violation count — callers
    * decide the failure mode (Verify exits non-zero, Bench stamps the
    * artifact).
    */
  def report(context: String): Int = {
    val n = compiles
    val repeats = distinctSources.fold("n/a")(d => math.max(0L, n - d).toString)
    System.err.println(f"[codegen-guard] $context: $n%d compile(s) ($repeats repeat a " +
      f"cached source: loader change or eviction), $compileMs%.1f ms in Janino")
    val v = violations
    if (v.nonEmpty) {
      System.err.println(
        s"[codegen-guard] $context: ${v.size} codegen fallback(s) detected " +
          "— a kernel or plan is running interpreted/non-codegen:")
      v.foreach(l => System.err.println(s"[codegen-guard]   $l"))
    }
    v.size
  }
}
