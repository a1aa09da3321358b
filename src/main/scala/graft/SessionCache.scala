package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

/** The one session-scoped memo registry: every value derived from a lake
  * dir and reused across queries (resolved tables, similarity indexes and
  * models, the session frame, the tier selection, TextOps' count tables
  * and quality histogram, BPE models) lives here, keyed by (session, dir,
  * key), and no frame is persisted outside it for longer than one call.
  * The builds Bench prices are listed once, in [[SparkEntry.builds]].
  *
  * Invalidation is automatic: each entry keeps the [[fingerprint]] of its
  * dir at build time and every lookup recomputes it, so a rewritten table
  * releases and rebuilds what was derived from the old files — no REFRESH
  * TABLE by hand. [[clear]] only releases memory.
  *
  * Builds may nest (`lshBits` → `nQuantized` → `quantized`):
  * `TrieMap.getOrElseUpdate` runs a build outside any lock, so it may look
  * up other entries.
  */
object SessionCache {
  private type Fingerprint = Seq[(String, Long, Long)]
  private final class Entry(val fingerprint: Fingerprint, val value: Any)

  private val entries = TrieMap.empty[(SparkSession, String, Any), Entry]

  /** The value under (s, dir, key), built on a miss or when the files
    * under `dir` changed since it was built.
    */
  def apply[V](s: SparkSession, dir: String, key: Any)(build: => V): V = {
    val k = (s, dir, key)
    val fp = fingerprint(s, dir)
    entries.get(k) match {
      case Some(e) if e.fingerprint == fp => e.value.asInstanceOf[V]
      case _ =>
        invalidate(s, dir, fp)
        entries.getOrElseUpdate(k, new Entry(fp, build)).value.asInstanceOf[V]
    }
  }

  /** [[apply]] for a DataFrame persisted MEMORY_AND_DISK and materialized
    * eagerly: join planning then sees real cached-size stats (an
    * unmaterialized cache plans as huge), and consumers reading it from
    * several aliased subtrees pay the build once.
    */
  def persisted(s: SparkSession, dir: String, key: Any)(build: => DataFrame): DataFrame =
    apply(s, dir, key) {
      val df = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }

  /** Release and forget every entry. */
  def clear(): Unit =
    entries.keys.foreach(k => entries.remove(k).foreach(e => release(e.value)))

  /** Frees a DataFrame's CacheManager entry and the RDDs of the local
    * checkpoints its plan reads: `Dataset.unpersist` alone leaves a
    * `localCheckpoint`ed frame in the block manager. A memoized DataFrame
    * owns the checkpoints in its plan; other values hold nothing. The
    * blocks are dropped through the SparkContext, not `RDD.unpersist`,
    * which WARNs that a local checkpoint cannot be recomputed — true, and
    * the point of releasing it.
    */
  def release(value: Any): Unit = value match {
    case df: Dataset[_] =>
      try {
        df.unpersist()
        df.queryExecution.logical.foreach {
          case r: LogicalRDD => GraftSqlBridge.unpersistRDD(r.rdd)
          case _ =>
        }
      } catch { case NonFatal(_) => }
    case _ =>
  }

  /** Drops every entry of (s, dir) built under another fingerprint.
    * Every frame shared across queries is an entry (none is persisted
    * outside the registry), so this also drops each CacheManager entry
    * whose plan read the old files.
    */
  private def invalidate(s: SparkSession, dir: String, fp: Fingerprint): Unit =
    entries.foreach { case (k @ (s1, d1, _), e) =>
      if ((s1 eq s) && d1 == dir && e.fingerprint != fp && entries.remove(k, e))
        release(e.value)
    }

  /** (path under `dir`, length, mtime) of each data file: top-level files
    * and everything inside `*.parquet` table dirs. `_`/`.` names are
    * skipped (Spark's hidden-file rule); a missing dir is empty. A
    * `listStatus` walk: on the local FS `listFiles` forks a process per
    * file to load permissions, ~200× the cost.
    */
  private[graft] def fingerprint(s: SparkSession, dir: String): Fingerprint = {
    val fs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    def visible(st: FileStatus): Boolean =
      !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith(".")
    def walk(p: Path, rel: String): Fingerprint =
      fs.listStatus(p).toSeq.filter(visible).flatMap { st =>
        val name = rel + st.getPath.getName
        if (!st.isDirectory) Seq((name, st.getLen, st.getModificationTime))
        else if (rel.nonEmpty || name.endsWith(".parquet")) walk(st.getPath, s"$name/")
        else Nil
      }
    try walk(new Path(dir), "").sorted
    catch { case _: java.io.FileNotFoundException => Nil }
  }
}
