package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The one kernel wrapper ([[graft.functions.GraftKernel]]): a wrapper
  * canonicalizes to its replacement, so a folded model must compare by
  * content or exchange reuse and CacheManager matching silently stop
  * matching equal plans; and no kernel keeps a hand-written eval path.
  */
class GraftKernelSpec extends SparkSpec {

  private val str = BoundReference(0, StringType, nullable = true)
  private val vec = BoundReference(0, ArrayType(LongType), nullable = true)

  private def bloomBytes(items: String*): Array[Byte] = {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(64, 0.01)
    items.foreach(bf.putString)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

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
      Seq(Seq("the", "and"), Seq("x" * seed)), ArrayType(ArrayType(StringType))))),
    "graft_bloom_contains" -> (seed =>
      Seq(Literal.create(bloomBytes("the", "x" * seed), BinaryType), str)))

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
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val files = {
      val it = java.nio.file.Files.walk(root)
      try it.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally it.close()
    }
    val offenders = files.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      decl.findAllMatchIn(src).map { m =>
        val cls = owner.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
        s"${f.getFileName}: ${cls.fold("?")(_.group(1))}"
      }
    }.distinct
    assert(offenders.isEmpty,
      s"${offenders.size} hand-written eval paths (one static core per kernel, " +
        s"wrapped by GraftKernel): ${offenders.mkString("; ")}")
  }
}
