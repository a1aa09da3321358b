package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnaryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Pins CodegenGuard's capture path with a DELIBERATELY broken kernel
  * (r13 verdict item 3): an expression whose doGenCode emits invalid Java
  * compiles fine in Scala, fails Janino at runtime, and Spark falls back
  * to interpreted eval with only a log line — exactly the silent class
  * the guard exists to catch. `UnsafeProjection.create` routes through
  * `CodeGeneratorWithInterpretedFallback`, the same production path a
  * mangled WholeStageCodegen context takes.
  */
class CodegenGuardSpec extends SparkSpec {

  /** Interpreted eval works; generated code is not Java. */
  private case class BrokenKernel(child: Expression) extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override protected def nullSafeEval(input: Any): Any = 42
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, _ => s"${ev.value} = this is not java;")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  private val strRef = BoundReference(0, StringType, nullable = true)
  private val row = InternalRow(UTF8String.fromString("x"))

  test("a broken kernel's interpreted fallback trips the guard") {
    CodegenGuard.install()
    CodegenGuard.clear()
    val proj = UnsafeProjection.create(Seq[Expression](BrokenKernel(strRef)))
    // the fallback still computes the right answer — that is the trap:
    // results stay green while the kernel runs interpreted
    assert(proj(row).getInt(0) == 42)
    val v = CodegenGuard.violations
    assert(v.nonEmpty,
      "guard missed the interpreted fallback of a Janino-rejected kernel")
    assert(CodegenGuard.report("spec") == v.size)
  }

  test("a healthy kernel leaves the guard clean") {
    CodegenGuard.install()
    CodegenGuard.clear()
    val proj = UnsafeProjection.create(
      Seq(graft.functions.GraftFunctions.kernel("graft_pii_counts", strRef).replacement))
    assert(proj(row).numFields == 1)
    assert(CodegenGuard.violations.isEmpty,
      s"healthy kernel tripped the guard: ${CodegenGuard.violations}")
  }
}
