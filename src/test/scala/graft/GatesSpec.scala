package graft

import org.apache.spark.sql.catalyst.plans.logical.BROADCAST

/** [[Gates]]: every size gate decides at its constant for the near path
  * and one past it for the far path, and no source outside Gates.scala
  * compares a count with a gate's constant itself. Each gate's far-side
  * identity stays in its module's spec, reached through that path's
  * builder or `unhinted`.
  */
class GatesSpec extends SparkSpec {

  test("every gate: near path at its constant, far path one past it") {
    val df = spark.range(3).toDF("id")
    for (g <- Gates.all) {
      assert(g.near(g.max) && !g.near(g.max + 1), g.name)
      assert(joinHints(g.broadcastNear(g.max)(df)) == Seq(BROADCAST), g.name)
      assert(joinHints(g.broadcastNear(g.max + 1)(df)).isEmpty, g.name)
    }
  }

  /** `src` with its block and line comments removed. */
  private def code(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  /** The order comparisons in `src` with a gate's constant on either side
    * (`<`, `<=`, `>`, `>=`; not `=>`, `<-`, `->` or `<:`).
    */
  private def gateComparisons(src: String): List[String] = {
    val gate = raw"\b(?:${Gates.all.map(_.name).mkString("|")})\b(?:\.max\b)?"
    val cmp = raw"(?<![=<>\-])[<>]=?(?![=>\-:])"
    raw"$cmp\s*(?:[\w.]*\.)?$gate|$gate\s*$cmp".r
      .findAllMatchIn(code(src)).map(_.matched.replaceAll("\\s+", " ")).toList
  }

  test("no source outside Gates.scala compares a count with a gate's constant") {
    assert(gateComparisons(
      """if (n > Gates.SpreadMinDocs.max) a
        |if (rows.length <= BpeDriverMaxVocab) b
        |case _ => Gates.SpreadMinDocs.near(n)
        |xs.filter(x => Gates.MemberBroadcastMaxRows.near(x))
        |// n >= Gates.SpreadMinDocs.max
        |""".stripMargin) == List("> Gates.SpreadMinDocs.max", "<= BpeDriverMaxVocab"))
    val offenders = SparkSpec.mainSources().filterNot(_._1 == "Gates.scala")
      .flatMap { case (name, src) => gateComparisons(src).map(c => s"$name: `$c`") }
    assert(offenders.isEmpty, s"decide through Gates.X.near: ${offenders.mkString("; ")}")
  }

  test("Gates.all lists each gate once, named as its constant") {
    val src = SparkSpec.mainSources().collectFirst { case ("Gates.scala", s) => s }.get
    val declared = raw"""val (\w+) = Gate\("(\w+)"""".r.findAllMatchIn(src)
      .map(m => m.group(1) -> m.group(2)).toList
    assert(declared.forall { case (v, n) => v == n }, declared)
    assert(Gates.all.map(_.name) == declared.map(_._1))
  }
}
