package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-time JVM warm-up helpers shared by the driver mains. */
object Warm {

  /** Pre-pay the session's first job: task launch, the first code
    * generation and the first class loading of the string case-mapping
    * path, so none of it lands on the first real query. (With ICU case
    * maps off — [[Sessions.build]] — there is no multi-second ICU init
    * left to pay; the name is kept for the harnesses that time it.)
    */
  def icu(spark: SparkSession): Unit = {
    // the case expressions must (a) depend on a non-constant column and
    // (b) feed the aggregate — a bare count() lets ColumnPruning delete a
    // foldable projection before it ever evaluates, skipping the init
    val s = concat(
      lower(concat(lit("Aİ ß"), col("id"))),
      upper(concat(lit("ıa ß"), col("id"))),
      initcap(concat(lit("ß x"), col("id"))))
    spark.range(8).select(s.as("s")).agg(max(length(col("s")))).collect()
    ()
  }
}
