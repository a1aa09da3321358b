package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

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
