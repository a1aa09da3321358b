package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  // Spark sizes its generated-class cache from the conf active at the
  // first code generation in the JVM: with the shared session active
  // before any spec runs, the cap is the session's whatever the spec order
  override protected def beforeAll(): Unit = {
    SparkSession.setActiveSession(spark)
    super.beforeAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
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
