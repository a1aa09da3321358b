package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** In-context codegen-fallback detector (r13 verdict item 3).
  *
  * KernelCodegenSpec proves each kernel's OWN code string Janino-compiles
  * standalone, but a WholeStageCodegen context (splitExpressions,
  * subexpression elimination) can still mangle the surrounding generated
  * code, and Spark then falls back — interpreted expression eval or a
  * non-codegen plan — with only a WARN/ERROR log line while results stay
  * correct and tests stay green (the r12 `||`-margin incident ran a 10×
  * slower kernel for most of a round this way; kernels now keep every
  * loop in a Scala static core, so their own fragments are one static
  * call each, and KernelCodegenSpec fails any that is not — the context
  * mangling stays this guard's job). This guard turns those
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
  */
object CodegenGuard {
  private val hits = new ConcurrentLinkedQueue[String]()
  @volatile private var installed = false

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
      installed = true
    }
  }

  def clear(): Unit = hits.clear()

  /** Distinct captured fallback lines since install/clear. */
  def violations: Seq[String] = {
    import scala.jdk.CollectionConverters._
    hits.iterator().asScala.toSeq.distinct
  }

  /** Print violations (if any) to stderr with a greppable marker and
    * return the distinct count — callers decide the failure mode (Verify
    * exits non-zero, Bench stamps the artifact).
    */
  def report(context: String): Int = {
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
