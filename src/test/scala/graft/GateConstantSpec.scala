package graft

/** A size gate is a constant read in one place, never a parameter: a
  * parameter that only a spec ever moves off its constant keeps a second,
  * untested path open to library callers. Nor is a gate's decision: a
  * Boolean `broadcast…` parameter hands the hint choice to each caller,
  * when it belongs in one decision function of the gate's count. A spec
  * reaches a gate's far side through a function that builds that path
  * (`Similarity.nearDupDistributed`, `Assembly.bpeDistributed`,
  * `Similarity.propagateComponents`, `Similarity.ivfListScored`) or
  * through the hinted frame's plan with its hints stripped.
  */
class GateConstantSpec extends SparkSpec {

  /** A parameter named like a gate. */
  private val gateName = raw"gate|\w+MaxRows|\w+Threshold|max\w*Vocab|max\w*Docs".r

  /** A default that names a gate constant (`Long.MaxValue` is none). */
  private val gateConstant = raw"\b(?!MaxValue\b)\w*(?:Max|Threshold)\w*".r

  /** A hint decision passed in (the parameter's whitespace-normalized text). */
  private val hintDecision = raw"broadcast\w*: Boolean\b.*".r

  /** The text of each balanced bracket group opened by `open` from
    * `from` on (skipping whitespace between groups), and the index after
    * the last.
    */
  private def groups(src: String, from: Int, open: Char): (List[String], Int) = {
    var i = from
    val out = List.newBuilder[String]
    var more = true
    while (more) {
      var j = i
      while (j < src.length && src(j).isWhitespace) j += 1
      if (j < src.length && src(j) == open) {
        var (depth, k, quoted) = (0, j, false)
        while (k < src.length && (depth > 0 || k == j)) {
          val c = src(k)
          if (c == '"') quoted = !quoted
          else if (!quoted && "([{".contains(c)) depth += 1
          else if (!quoted && ")]}".contains(c)) depth -= 1
          k += 1
        }
        out += src.substring(j + 1, k - 1)
        i = k
      } else more = false
    }
    (out.result(), i)
  }

  /** `s` split at its top-level commas. */
  private def topLevel(s: String): List[String] = {
    val parts = List.newBuilder[String]
    var (depth, start, quoted) = (0, 0, false)
    for (k <- s.indices) s(k) match {
      case '"' => quoted = !quoted
      case c if !quoted && "([{".contains(c) => depth += 1
      case c if !quoted && ")]}".contains(c) => depth -= 1
      case ',' if !quoted && depth == 0 => parts += s.substring(start, k); start = k + 1
      case _ =>
    }
    (parts += s.substring(start)).result()
  }

  /** "def name: param" for each gate-like parameter of a def in `src`. */
  private def gateParams(src: String): List[String] =
    raw"\bdef\s+(\w+)".r.findAllMatchIn(src).toList.flatMap { m =>
      val (_, afterTypes) = groups(src, m.end, '[')
      groups(src, afterTypes, '(')._1.flatMap(topLevel).flatMap { p =>
        val param = p.trim.stripPrefix("implicit ").trim
        val name = param.takeWhile(c => c.isLetterOrDigit || c == '_')
        val text = param.replaceAll("\\s+", " ")
        val default = raw"[^=<>!]=(?!>)(.*)".r.findFirstMatchIn(text).map(_.group(1)).getOrElse("")
        if (gateName.matches(name) || gateConstant.findFirstIn(default).nonEmpty ||
            hintDecision.matches(text)) Some(s"def ${m.group(1)}: $text")
        else None
      }
    }

  test("the gate scan flags gate-named parameters and gate-constant defaults") {
    val flagged = gateParams(
      """def a(s: SparkSession, d: String, gate: Long) = 1
        |def b[T](pairs: DataFrame, maxIters: Int = 20,
        |         edgeThreshold: Long = 2000000L, memberMaxRows: Long): DataFrame = ???
        |def c(s: SparkSession)(rows: Long = Similarity.MemberBroadcastMaxRows) = 2
        |def d(s: SparkSession, maxWordVocab: Long, maxHeldDocs: Long) = 3
        |def e(f: Long => Long = identity, n: Long = Long.MaxValue, threshold: Double = 0.5,
        |      dist: => DataFrame, xs: Seq[(Int, Int)] = Seq((1, 2))) = 4
        |def f(q: Column, broadcastProbes: Boolean, broadcast: Boolean = true,
        |      broadcastKeys: Seq[String], small: Boolean) = 5
        |""".stripMargin)
    assert(flagged == List(
      "def a: gate: Long",
      "def b: edgeThreshold: Long = 2000000L",
      "def b: memberMaxRows: Long",
      "def c: rows: Long = Similarity.MemberBroadcastMaxRows",
      "def d: maxWordVocab: Long",
      "def d: maxHeldDocs: Long",
      "def f: broadcastProbes: Boolean",
      "def f: broadcast: Boolean = true"), flagged)
  }

  test("no def under src/main/scala takes a size gate as a parameter") {
    // TopK.perKey's retention rails are public API, and the spill path
    // they select is chosen per partition at run time, not from a count
    val allowed = raw"TopK\.scala: def perKey: maxRetained\w*PerPartition: .*".r
    val offenders = SparkSpec.mainSources().flatMap { case (name, src) =>
      gateParams(src).map(p => s"$name: $p")
    }.filterNot(allowed.matches)
    assert(offenders.isEmpty,
      s"size gates are constants, not parameters: ${offenders.mkString("; ")}")
  }
}
