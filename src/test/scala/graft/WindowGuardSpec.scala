package graft

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** An unpartitioned window moves its whole input into one task, which
  * WindowExec flags with a "No Partition Defined" WARN on every run.
  * Sessions silence that WARN; this guard is what makes that safe: in
  * every registry query, every unpartitioned Window sits over an
  * Aggregate or a Limit on every path down to a scan. Plan-only — it
  * reads the optimized plans and executes no query.
  */
class WindowGuardSpec extends SparkSpec {

  /** Every path from `p` to a leaf that reads data crosses an Aggregate
    * or a Limit. Driver-literal relations are small by construction; a
    * cached frame is judged by the plan it caches.
    */
  private def bounded(p: LogicalPlan): Boolean = p match {
    case _: Aggregate | _: GlobalLimit | _: LocalLimit => true
    case _: LocalRelation | _: OneRowRelation => true
    case m: InMemoryRelation => bounded(m.cacheBuilder.logicalPlan)
    case leaf if leaf.children.isEmpty => false
    case other => other.children.forall(bounded)
  }

  test("every unpartitioned Window in the registry sits over an Aggregate or a Limit") {
    val windows = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      q(spark, sfDir).queryExecution.optimizedPlan.collectWithSubqueries {
        case w: Window if w.partitionSpec.isEmpty => name -> w.children.forall(bounded)
      }
    }
    assert(windows.nonEmpty, "the registry has no unpartitioned window to guard")
    val offenders = windows.collect { case (name, false) => name }.distinct
    assert(offenders.isEmpty, s"unpartitioned Window over an unbounded input: $offenders")
  }
}
