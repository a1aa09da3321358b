package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one kernel wrapper ([[graft.functions.GraftKernel]]): a wrapper
  * canonicalizes to its replacement, so a folded model must compare by
  * content or exchange reuse and CacheManager matching silently stop
  * matching equal plans; and no kernel keeps a hand-written eval path.
  */
class GraftKernelSpec extends SparkSpec {

  private val str = BoundReference(0, StringType, nullable = true)
  private val vec = BoundReference(0, ArrayType(LongType), nullable = true)

  /** Per model kernel, its arguments over a model that `seed` varies;
    * every call builds new literals.
    */
  private val modelArgs: Seq[(String, Int => Seq[Expression])] = Seq(
    "graft_cent_topk" -> (seed => Seq(Literal.create(
      Seq(Seq(1L, 2L), Seq(3L, seed.toLong)), ArrayType(ArrayType(LongType))), vec, Literal(1))),
    "graft_pq_codes" -> (seed => Seq(Literal.create(
      Seq(Seq(Seq(1L), Seq(seed.toLong)), Seq(Seq(5L), Seq(7L))),
      ArrayType(ArrayType(ArrayType(LongType)))), vec)),
    "graft_stop_counts" -> (seed => Seq(str, Literal.create(
      Seq(Seq("the", "and"), Seq("x" * seed)), ArrayType(ArrayType(StringType))))))

  test("kernels over separately built equal model literals are semanticEquals") {
    modelArgs.foreach { case (name, args) =>
      val a = GraftFunctions.kernel(name, args(4): _*)
      val b = GraftFunctions.kernel(name, args(4): _*)
      assert(a.semanticEquals(b), s"$name: equal models must compare equal")
      assert(a.semanticHash() == b.semanticHash(), name)
      assert(!a.semanticEquals(GraftFunctions.kernel(name, args(5): _*)),
        s"$name: different models must not compare equal")
    }
  }

  test("two independently built graft_matvec_q frames are sameResult") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val vs = Seq(Array(1L, 2L), Array(3L, 4L)).toDF("v")
    def frame = vs.select(call_function("graft_matvec_q",
      typedlit(Array(Array(1L, 0L), Array(0L, 1L))), col("v")).as("p"))
    val (a, b) = (frame, frame)
    assert(a.sameSemantics(b))
    assert(a.queryExecution.optimizedPlan.sameResult(b.queryExecution.optimizedPlan))
    assert(a.collect().map(_.getSeq[Long](0)).toSeq == Seq(Seq(1L, 2L), Seq(3L, 4L)))
  }

  test("no doGenCode or nullSafeEval override under src/main/scala") {
    val decl = raw"override\s+(?:protected\s+)?def\s+(?:doGenCode|nullSafeEval)\b".r
    val owner = raw"(?:class|object|trait)\s+(\w+)".r
    val offenders = SparkSpec.mainSources().flatMap { case (name, src) =>
      decl.findAllMatchIn(src).map { m =>
        val cls = owner.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
        s"$name: ${cls.fold("?")(_.group(1))}"
      }
    }.distinct
    assert(offenders.isEmpty,
      s"${offenders.size} hand-written eval paths (one static core per kernel, " +
        s"wrapped by GraftKernel): ${offenders.mkString("; ")}")
  }

  test("src/main builds kernels with GraftFunctions.call, never call_function") {
    // call_function resolves through the session's function registry,
    // which an operator would have to fill first; GraftFunctions.call
    // builds the kernel directly, on any session
    val offenders = SparkSpec.mainSources().flatMap { case (name, src) =>
      src.linesIterator.zipWithIndex.collect {
        case (line, i) if line.contains("call_function(\"graft_") => s"$name:${i + 1}"
      }
    }
    assert(offenders.isEmpty, s"call_function sites: ${offenders.mkString("; ")}")
  }
}
