package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: restrict the dump to the named queries (dev
    // iteration); a leading '-' EXCLUDES instead (the sf10+ studies run
    // everything except the quadratic-routing entries without having to
    // enumerate all 138 names). The driver always passes exactly two
    // args → full dump.
    val (excl, incl) = args.drop(2).partition(_.startsWith("-"))
    val only = incl.toSet
    val excluded = excl.map(_.drop(1)).toSet
    CodegenGuard.install()
    val spark = Sessions.buildDefault()
    Warm.icu(spark)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) =>
        (only.isEmpty || only(name)) && !excluded(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // the in-context fallback gate (r13 verdict item 3): every registered
    // query just ran — if ANY tripped a codegen fallback, fail the whole
    // run loudly instead of leaving a WARN in a log nobody reads. The
    // report also prints the run's Janino compile count and time.
    if (CodegenGuard.report("verify") > 0) sys.exit(2)
  }
}
