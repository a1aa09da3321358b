package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.functions._
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, BoundReference, Expression, InterpretedUnsafeProjection, Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty

/** Differential property suite for graft's native kernels.
  *
  *  1. Interpreted ≡ codegen, every registered kernel: the same
  *     replacement (the static core call a query runs, built by name)
  *     through `eval` and through a Janino-compiled
  *     `GenerateUnsafeProjection` (no interpreted fallback) must agree on
  *     every generated row — nulls, invalid UTF-8 and all.
  *  2. Kernel ≡ the spelling it replaced, for the kernels whose core doc
  *     names one: the regex/`split` forms for graft_token_counts,
  *     graft_stop_counts (over `Text.asciiLower`), graft_cjk,
  *     graft_repeated_run, graft_block_counts, NormKernel and
  *     GramHashKernel, the `from_json` form for graft_json_int
  *     (evaluated as analyzed Catalyst expressions, no job per case), and
  *     a plain Scala reference for the vector kernels.
  *  3. `Text.words` ≡ the filter-lambda tokenizer it replaced, through
  *     both eval paths.
  *
  * Generators mix ASCII words, whitespace runs, punctuation, multi-byte
  * and supplementary code points, CJK range boundaries, invalid and
  * overlong UTF-8, empty strings, nulls and long documents; vectors come
  * with mismatched lengths and small coordinates so `centTopK` /
  * `pqCodes` rank ties. Fixed seed, 200 cases per property.
  */
class KernelPropertySpec extends SparkSpec {

  private val params = Test.Parameters.default
    .withMinSuccessfulTests(200).withInitialSeed(20261017L).withWorkers(1)

  private def check(p: Prop): Unit = {
    val r = Test.check(params, p)
    assert(r.passed, Pretty.pretty(Pretty.prettyTestRes(r), Pretty.Params(1)))
  }

  private def agree(a: Any, b: Any, what: => String): Prop =
    if (a == b) Prop.passed else Prop.falsified :| s"$what: $a vs $b"

  // ---------------------------------------------------------------- inputs

  private val validPiece: Gen[String] = Gen.frequency(
    8 -> Gen.choose(1, 8).flatMap(Gen.listOfN(_, Gen.alphaChar)).map(_.mkString),
    3 -> Gen.oneOf(" ", "  ", "     ", "\t", "\n", "\r\n", "\f", "\u000b", " \t "),
    2 -> Gen.choose(1, 20).flatMap(Gen.listOfN(_, Gen.numChar)).map(_.mkString),
    2 -> Gen.oneOf("!?.,;:-_*#@$%&+=/()<>~`|'\"[]^\\{}".map(_.toString)),
    2 -> Gen.oneOf("é", "ü", "ß", "ﬁ", "İ", "Σ", "日本語", "テスト", "снег",
      "𝄞", "😀", "\u00a0", "\u2028", "\u4dff", "\u4e00", "\u9fff", "\ua000"),
    1 -> Gen.oneOf("aaaaa", "AAAA", "!!!!!", "....", "ééééé", "11111", "[[[[["),
    1 -> Gen.oneOf("the", "and", "slow", "big", "merge", "SLOW", "der", "und"),
    1 -> Gen.oneOf("a.b@example.com", "192.168.0.1", "+1 (555) 123-4567",
      "4111111111111111"))

  /** Malformed UTF-8: lone continuation/lead bytes, truncated and
    * overlong sequences, encoded surrogates, bytes never valid in UTF-8,
    * and CJK-range lead bytes followed by non-continuation bytes.
    */
  private val invalidPiece: Gen[Array[Byte]] = Gen.oneOf(
    Seq(0x80), Seq(0xbf), Seq(0xc3), Seq(0xe4), Seq(0xe4, 0xb8),
    Seq(0xc0, 0xaf), Seq(0xc1, 0xbf), Seq(0xe0, 0x80, 0xaf),
    Seq(0xf0, 0x80, 0x80, 0xaf), Seq(0xed, 0xa0, 0x80), Seq(0xff), Seq(0xfe),
    Seq(0xf8, 0x88, 0x80, 0x80, 0x80), Seq(0xe9, 0xff, 0xff),
    Seq(0xe4, 0x41, 0x41), Seq(0xe4, 0xb8, 0x80, 0x80), Seq(0xf4, 0x90, 0x80, 0x80)
  ).map(_.map(_.toByte).toArray)

  private def text(valid: Boolean): Gen[UTF8String] = {
    val piece =
      if (valid) validPiece.map(_.getBytes(UTF_8))
      else Gen.frequency(6 -> validPiece.map(_.getBytes(UTF_8)), 1 -> invalidPiece)
    Gen.frequency(1 -> Gen.const(0), 10 -> Gen.choose(1, 30),
        1 -> Gen.choose(300, 3000))
      .flatMap(Gen.listOfN(_, piece))
      .map(ps => UTF8String.fromBytes(ps.toArray.flatten))
  }

  private def orNull[T](g: Gen[T]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 12 -> g)

  private def longs(n: Int, lim: Long): Gen[Array[Long]] =
    Gen.listOfN(n, Gen.choose(-lim, lim)).map(_.toArray)

  /** A vector meant for width `d`: usually `d` long, sometimes off by one
    * or empty; coordinates small enough for exact-long references.
    */
  private def vecFor(d: Int): Gen[Array[Long]] =
    Gen.frequency(8 -> Gen.const(d), 1 -> Gen.const(d + 1),
        1 -> Gen.const(math.max(d - 1, 0)), 1 -> Gen.const(0))
      .flatMap(n => Gen.oneOf(longs(n, 2), longs(n, 10000)))

  private def arr(xs: Array[Long]): ArrayData = ArrayData.toArrayData(xs)

  // Folded models, fixed by seed: small coordinates and duplicated rows
  // make rank ties common; the empty and NULL literals pin the inert paths.
  private val rng = new scala.util.Random(7)
  private def matrix(rows: Int, d: Int, lim: Int): Array[Array[Long]] = {
    val m = Array.fill(rows)(Array.fill(d)((rng.nextInt(2 * lim + 1) - lim).toLong))
    if (rows > 2) m(rows - 1) = m(0).clone()
    m
  }
  private val mats: Seq[Array[Array[Long]]] = Seq(
    matrix(0, 0, 2), matrix(1, 3, 2), matrix(5, 3, 2), matrix(20, 8, 2),
    matrix(12, 4, 10000))
  private val books: Seq[Array[Array[Array[Long]]]] = Seq(
    Array.fill(2)(matrix(3, 2, 2)), Array.fill(4)(matrix(8, 3, 1)),
    Array.fill(1)(matrix(1, 1, 2)), Array.fill(3)(matrix(5, 2, 10000)))
  private val matType = ArrayType(ArrayType(LongType))
  private val bookType = ArrayType(ArrayType(ArrayType(LongType)))
  private def matLit(m: Array[Array[Long]]) = Literal.create(m.map(_.toSeq).toSeq, matType)
  private def bookLit(b: Array[Array[Array[Long]]]) =
    Literal.create(b.map(_.map(_.toSeq).toSeq).toSeq, bookType)

  private def ref(dt: DataType, ord: Int = 0): Expression =
    BoundReference(ord, dt, nullable = true)
  private val str = ref(StringType)
  private val vecL = ref(ArrayType(LongType))

  /** The kernel `name` over `args`, as the static call it is replaced with. */
  private def byName(name: String, args: Expression*): Expression =
    GraftFunctions.kernel(name, args: _*).replacement

  private val jsonValue: Gen[String] = Gen.oneOf(
    "7", "-3", "0", "-0", "2147483647", "2147483648", "-2147483648",
    "-2147483649", "017", "+1", "1e2", "7.0", "1.5E3", "NaN", "Infinity",
    "-Infinity", "\"7\"", "'x'", "\"a\\u00e9\"", "\"\\ud800\"", "\"q\\zq\"",
    "\"tab\tin\"", "true", "false", "null", "[1, {\"k\": 2}]", "{\"k\": 99}",
    "{}", "[]", "-", "--1", "1-", "\"é\"")
  private val jsonKey: Gen[String] = Gen.oneOf(
    "\"k\"", "\"a\"", "\"K\"", "\"\"", "'k'", "\"\\u006b\"", "\"k2\"", "k")
  private val jsonWs: Gen[String] = Gen.oneOf("", "", " ", "\t", "\n", "\r", "\f")
  private val jsonDoc: Gen[Array[Byte]] = {
    val pair = for (k <- jsonKey; w <- jsonWs; v <- jsonValue) yield s"$k:$w$v"
    val obj = for {
      n <- Gen.choose(0, 5)
      ps <- Gen.listOfN(n, pair)
      w <- jsonWs
      pre <- Gen.frequency(12 -> "", 1 -> "\ufeff", 1 -> "[", 1 -> " ")
      post <- Gen.frequency(10 -> "", 1 -> " x", 1 -> ",", 1 -> "}", 1 -> ",}")
    } yield s"$pre{$w${ps.mkString(s",$w")}$w}$post"
    Gen.frequency(
      10 -> obj.map(_.getBytes(UTF_8)),
      1 -> jsonValue.map(_.getBytes(UTF_8)),
      1 -> Gen.const(Array.emptyByteArray),
      2 -> (for (o <- obj; b <- invalidPiece) yield {
        val s = o.getBytes(UTF_8)
        val cut = s.indexOf('"'.toByte) + 1 // inside the first quoted token
        s.take(cut) ++ b ++ s.drop(cut)
      }))
  }

  // ------------------------------------------- interpreted ≡ codegen (all)

  /** One foldable-argument variant of a kernel plus its input rows. */
  private case class Variant(e: Expression, rows: Gen[Seq[Any]])

  private val anyText: Gen[Seq[Any]] = orNull(text(valid = false)).map(Seq(_))
  private def vecRow(d: Int): Gen[Seq[Any]] = orNull(vecFor(d).map(arr)).map(Seq(_))

  private val kernels: Seq[(String, Seq[Variant])] = {
    val dims = Seq(0, 1, 3, 8)
    val words = Seq(Seq("slow", "big", "merge"), Seq("the", "é", "a1"))
    Seq(
      "graft_dot_q" -> Seq(Variant(byName("graft_dot_q", vecL, ref(ArrayType(LongType), 1)),
        for (d <- Gen.oneOf(dims); a <- vecFor(d); b <- vecFor(d);
             na <- orNull(Gen.const(arr(a))); nb <- orNull(Gen.const(arr(b))))
        yield Seq(na, nb))),
      "graft_rolling_hash" -> Seq(Variant(byName("graft_rolling_hash", str), anyText)),
      "graft_simhash64" -> Seq(Variant(byName("graft_simhash64", vecL),
        orNull(Gen.choose(0, 40).flatMap(longs(_, Long.MaxValue)).map(arr)).map(Seq(_)))),
      "graft_matvec_q" -> (mats.map(m => Variant(byName("graft_matvec_q", matLit(m), vecL),
        vecRow(if (m.isEmpty) 3 else m(0).length))) :+
        Variant(byName("graft_matvec_q", Literal.create(null, matType), vecL), vecRow(3))),
      "graft_repeated_run" -> Seq(Variant(byName("graft_repeated_run", str), anyText)),
      "graft_cent_topk" -> (for (m <- mats; k <- Seq(1, 2, 3, 8)) yield
        Variant(byName("graft_cent_topk", matLit(m), vecL, Literal(k)),
          vecRow(if (m.isEmpty) 3 else m(0).length))),
      "graft_pq_codes" -> (books.map(b => Variant(byName("graft_pq_codes", bookLit(b), vecL),
        vecRow(b.length * b(0)(0).length))) :+
        Variant(byName("graft_pq_codes", Literal.create(null, bookType), vecL), vecRow(2))),
      "graft_token_counts" -> Seq(Variant(byName("graft_token_counts", str), anyText)),
      "graft_stop_counts" -> Seq(
        Variant(byName("graft_stop_counts", str, Literal.create(
          graft.operators.TextOps.stopwordLists.map(_._2), ArrayType(ArrayType(StringType)))),
          anyText),
        Variant(byName("graft_stop_counts", str, Literal.create(Seq.empty[Seq[String]],
          ArrayType(ArrayType(StringType)))), anyText)),
      "graft_cjk" -> Seq(Variant(byName("graft_cjk", str), anyText)),
      "graft_pii_counts" -> Seq(Variant(byName("graft_pii_counts", str), anyText)),
      "graft_pii_redact" -> Seq(Variant(byName("graft_pii_redact", str), anyText)),
      "graft_block_counts" -> words.map(ws =>
        Variant(byName("graft_block_counts", str, Literal.create(ws, ArrayType(StringType))), anyText)),
      "graft_norm" -> Seq(Variant(byName("graft_norm", str), anyText)),
      "graft_json_int" -> Seq("k", "a", "").map(k =>
        Variant(byName("graft_json_int", str, Literal.create(k, StringType)),
          orNull(jsonDoc.map(UTF8String.fromBytes)).map(Seq(_)))),
      "graft_gram_hashes" -> (for (n <- Seq(1, 2, 3); ke <- Seq(true, false))
        yield Variant(byName("graft_gram_hashes", str, Literal(n), Literal(ke)), anyText)),
      "graft_minhash_bands" -> Seq((8, 2), (32, 4)).map { case (k, r) =>
        Variant(byName("graft_minhash_bands", vecL, Literal(k), Literal(r)),
          orNull(Gen.choose(0, 30).flatMap(longs(_, Long.MaxValue)).map(arr))
            .map(Seq(_)))
      },
      "graft_rep_stats" -> Seq(Variant(byName("graft_rep_stats", str), anyText)),
      "graft_cover_mask" -> Seq(1, 3, 5).map(n =>
        Variant(byName("graft_cover_mask", str, ref(ArrayType(IntegerType), 1), Literal(n)),
          for (t <- orNull(text(valid = false));
               ps <- Gen.listOf(Gen.choose(0, 40)))
          yield Seq(t, ArrayData.toArrayData(ps.sorted.toArray)))))
  }

  test("property kernel list covers every registered graft function") {
    assert(kernels.map(_._1).toSet == GraftFunctions.all.map(_._1.funcName).toSet)
  }

  private def scalaOf(r: InternalRow, dt: DataType): Any =
    CatalystTypeConverters.convertToScala(r.get(0, dt), dt)

  kernels.foreach { case (name, variants) =>
    test(s"$name: interpreted eval ≡ compiled codegen") {
      val paths = variants.map { v =>
        (InterpretedUnsafeProjection.createProjection(Seq(v.e)),
          GenerateUnsafeProjection.generate(Seq(v.e)))
      }
      check(Prop.forAllNoShrink(Gen.choose(0, variants.size - 1)
          .flatMap(i => variants(i).rows.map(i -> _))) { case (i, in) =>
        val (interp, compiled) = paths(i)
        val row = InternalRow.fromSeq(in)
        val dt = variants(i).e.dataType
        agree(scalaOf(interp(row), dt), scalaOf(compiled(row), dt),
          s"${variants(i).e} on $in")
      })
    }
  }

  // --------------------------------------- kernel ≡ the replaced spelling

  /** The built-in Spark spelling over one string column `t`, analyzed
    * once, RuntimeReplaceable forms inlined, and bound to ordinal 0 — each
    * case then evaluates in-process instead of launching a job.
    */
  private def spelling(cols: Column*): UTF8String => Seq[Any] = {
    val exprs = bound(cols: _*)
    val proj = UnsafeProjection.create(exprs)
    s => {
      val out = proj(InternalRow(s))
      exprs.indices.map(i => CatalystTypeConverters.convertToScala(
        out.get(i, exprs(i).dataType), exprs(i).dataType))
    }
  }

  /** `cols` over one string column `t`, analyzed, RuntimeReplaceable
    * forms inlined, and bound to ordinal 0.
    */
  private def bound(cols: Column*): Seq[Expression] = {
    val schema = StructType(Seq(StructField("t", StringType)))
    val df = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      .select(cols: _*)
    val project = ReplaceExpressions(df.queryExecution.analyzed).asInstanceOf[Project]
    project.projectList.map(BindReferences.bindReference(_, project.child.output))
  }

  private def kernelOf(e: Expression): Any => Any = {
    val p = InterpretedUnsafeProjection.createProjection(Seq(e))
    in => scalaOf(p(InternalRow(in)), e.dataType)
  }

  /** Flattens a struct result; a NULL struct reads as all-NULL fields (the
    * regex spellings propagate null field by field).
    */
  private def fields(v: Any, n: Int): Seq[Any] = v match {
    case null => Seq.fill(n)(null)
    case r: Row => r.toSeq
  }

  private def againstSpelling(e: Expression, valid: Boolean, n: Int,
      cols: Column*): Unit = {
    val kernel = kernelOf(e)
    val reference = spelling(cols: _*)
    check(Prop.forAllNoShrink(orNull(text(valid))) { in =>
      val s = in.asInstanceOf[UTF8String]
      val k = kernel(s)
      agree(if (n == 1) Seq(k) else fields(k, n), reference(s), s"<$s>")
    })
  }

  private val t = col("t")

  // TokenCounts, CjkProbe, NormKernel and GramHashKernel run against their
  // spelling on valid UTF-8 only: their core docs state the
  // malformed-UTF-8 caveat (the regex/split side decodes malformed bytes
  // to U+FFFD); the other text kernels agree on invalid bytes too.

  test("TokenCounts ≡ the split/regexp_count forms it replaced (valid UTF-8)") {
    againstSpelling(byName("graft_token_counts", str), valid = true, 4,
      when(trim(t) === "", 0).otherwise(size(split(trim(t), "[ \\t\\n\\r\\f]+"))),
      regexp_count(t, lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 \\t\\n\\r\\f]")),
      regexp_count(t, lit("[^a-zA-Z0-9 \\t\\n\\r\\f]")),
      regexp_count(t, lit("[A-Z]")))
  }

  test("CjkProbe ≡ rlike '[一-鿿]' (valid UTF-8)") {
    againstSpelling(byName("graft_cjk", str), valid = true, 1, t.rlike("[一-鿿]"))
  }

  test("RepeatedRun ≡ rlike over the enumerated run pattern") {
    againstSpelling(byName("graft_repeated_run", str), valid = false, 1,
      t.rlike(graft.operators.Profiling.RepeatRunPattern))
  }

  test("BlockCounts ≡ the split+filter forms over the regex norm") {
    val words = graft.operators.TextOps.Blocklist
    val toks = split(graft.operators.Text.normRegex(t), " ")
    againstSpelling(byName("graft_block_counts", str, Literal.create(words, ArrayType(StringType))),
      valid = false, 2,
      size(filter(toks, w => w =!= "")), size(filter(toks, w => w.isin(words: _*))))
  }

  test("NormKernel ≡ Text.normRegex (valid UTF-8)") {
    againstSpelling(byName("graft_norm", str), valid = true, 1, graft.operators.Text.normRegex(t))
  }

  // StopCounts folds A-Z in its byte scan: over raw text it must equal the
  // kernel over Text.asciiLower (the translate pass it absorbed, which
  // leaves the text already folded) on any bytes, and the padded
  // regexp_count over asciiLower on valid UTF-8. Stopwords with random
  // letters upper-cased make case-variant hits common.
  test("StopCounts on raw text ≡ over Text.asciiLower ≡ the padded regexp_count") {
    val lists = graft.operators.TextOps.stopwordLists.map(_._2)
    val lowered = graft.operators.Text.asciiLower(t)
    val padded = concat(lit(" "), regexp_replace(lowered, "[^a-z]+", " "), lit(" "))
    val kernel = kernelOf(byName("graft_stop_counts", str,
      Literal.create(lists, ArrayType(ArrayType(StringType)))))
    val reference = spelling(
      GraftFunctions.call("graft_stop_counts", lowered, typedlit(lists)),
      when(t.isNull, lit(null)).otherwise(array(
        lists.map(ws => regexp_count(padded, lit(s" (${ws.mkString("|")}) "))): _*)))
    val mixedCase = Gen.oneOf(lists.flatten).flatMap(w =>
      Gen.listOfN(w.length, Gen.prob(0.4)).map(up =>
        w.zip(up).map { case (c, u) => if (u) c.toUpper else c }.mkString))
    def doc(valid: Boolean): Gen[UTF8String] = {
      val piece = Gen.frequency(3 -> mixedCase.map(_.getBytes(UTF_8)),
        2 -> Gen.const(Array(' '.toByte)), 4 -> validPiece.map(_.getBytes(UTF_8)))
      val any = if (valid) piece else Gen.frequency(8 -> piece, 1 -> invalidPiece)
      Gen.choose(0, 40).flatMap(Gen.listOfN(_, any))
        .map(ps => UTF8String.fromBytes(ps.toArray.flatten))
    }
    Seq(false, true).foreach { valid =>
      check(Prop.forAllNoShrink(orNull(doc(valid))) { in =>
        val s = in.asInstanceOf[UTF8String]
        val Seq(overLowered, regex) = reference(s)
        agree(kernel(s), overLowered, s"kernel over asciiLower, <$s>") &&
          (if (valid) agree(kernel(s), regex, s"padded regex, <$s>") else Prop.passed)
      })
    }
  }

  // GramHashKernel against the per-position concat_ws + xxhash64 lambda it
  // replaced, over split tokens (keepEmpty) or filter(split) (dropEmpty).
  // The generator's whitespace runs and leading/trailing spaces leave
  // empty tokens between kept ones, so dropEmpty takes the scratch-buffer
  // path as well as the in-place one. Valid UTF-8 only: split decodes
  // malformed bytes to U+FFFD, the kernel hashes the bytes as they are.
  Seq(true, false).foreach { keepEmpty =>
    test(s"GramHashKernel ≡ the transform/concat_ws/xxhash64 spelling (keepEmpty = $keepEmpty)") {
      val w = if (keepEmpty) "split(t, ' ')" else "filter(split(t, ' '), x -> x <> '')"
      val ns = Seq(1, 2, 3, 5)
      val paths = ns.map { n =>
        val gram = (0 until n).map(j => s"get($w, i + $j)").mkString(", ")
        (kernelOf(byName("graft_gram_hashes", str, Literal(n), Literal(keepEmpty))),
          spelling(expr(s"CASE WHEN t IS NULL THEN NULL WHEN size($w) >= $n " +
            s"THEN transform(sequence(0, size($w) - $n), " +
            s"i -> xxhash64(concat_ws(' ', $gram))) ELSE array() END")))
      }
      check(Prop.forAllNoShrink(Gen.choose(0, ns.size - 1), orNull(text(valid = true))) {
        (i, in) =>
          val s = in.asInstanceOf[UTF8String]
          val (kernel, reference) = paths(i)
          agree(Seq(kernel(s)), reference(s), s"n = ${ns(i)} on <$s>")
      })
    }
  }

  // Text.words replaced the filter-lambda tokenizer, whose ArrayFilter is
  // CodegenFallback: both forms through eval and through a compiled
  // projection must give one answer on every generated text, and the
  // words expression must compile without a fallback node.
  test("Text.words ≡ the filter(split(Text.norm)) lambda, interpreted and codegen") {
    val exprs = bound(graft.operators.Text.words(t),
      filter(split(graft.operators.Text.norm(t), " "), w => w =!= ""))
    assert(!exprs.head.exists(_.isInstanceOf[CodegenFallback]), exprs.head)
    val paths = Seq(InterpretedUnsafeProjection.createProjection(exprs),
      GenerateUnsafeProjection.generate(exprs))
    check(Prop.forAllNoShrink(orNull(text(valid = false))) { in =>
      val outs = paths.flatMap { p =>
        val r = p(InternalRow(in))
        exprs.indices.map(i => CatalystTypeConverters.convertToScala(
          r.get(i, exprs(i).dataType), exprs(i).dataType))
      }
      agree(outs.distinct.size, 1, s"$outs on <$in>")
    })
  }

  test("JsonIntField ≡ the dup-key guarded from_json form") {
    Seq("k", "a").foreach { key =>
      val keys = map_keys(from_json(t, MapType(StringType, StringType)))
      val reference = spelling(
        when(size(keys) =!= size(array_distinct(keys)), lit(null))
          .otherwise(from_json(t, StructType(Seq(StructField(key, IntegerType))))
            .getField(key)))
      val kernel = kernelOf(byName("graft_json_int", str, Literal.create(key, StringType)))
      check(Prop.forAllNoShrink(orNull(jsonDoc.map(UTF8String.fromBytes))) { in =>
        val s = in.asInstanceOf[UTF8String]
        agree(Seq(kernel(s)), reference(s), s"key $key on <$s>")
      })
    }
  }

  // plain Scala references for the vector kernels

  private def dot(a: Array[Long], b: Array[Long], off: Int = 0): Long =
    a.indices.map(i => a(i) * b(off + i)).sum
  private def sq(a: Array[Long], b: Array[Long], off: Int): Long =
    a.indices.map(i => (a(i) - b(off + i)) * (a(i) - b(off + i))).sum

  test("DotQ ≡ Scala dot, null on length mismatch") {
    val kernel = byName("graft_dot_q", vecL, ref(ArrayType(LongType), 1))
    check(Prop.forAllNoShrink(Gen.choose(0, 8).flatMap(d =>
        Gen.zip(vecFor(d), vecFor(d)))) { case (a, b) =>
      val expect = if (a.length != b.length) null else dot(a, b)
      agree(kernel.eval(InternalRow(arr(a), arr(b))), expect,
        s"${a.toSeq} · ${b.toSeq}")
    })
  }

  test("RollingHash ≡ Scala fold over the bytes") {
    val kernel = kernelOf(byName("graft_rolling_hash", str))
    check(Prop.forAllNoShrink(text(valid = false)) { s =>
      val expect = s.getBytes.foldLeft(0L)((h, b) => (h * 31L + (b & 0xffL)) % 1000000007L)
      agree(kernel(s), expect, s"<$s>")
    })
  }

  test("SimHash64 ≡ Scala per-bit majority") {
    val kernel = kernelOf(byName("graft_simhash64", vecL))
    check(Prop.forAllNoShrink(Gen.choose(0, 40).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf(Gen.long, Gen.choose(-3L, 3L))))) { hs =>
      val expect = (0 until 64).foldLeft(0L) { (fp, b) =>
        val ones = hs.count(h => ((h >>> b) & 1L) == 1L)
        if (ones > hs.size - ones) fp | (1L << b) else fp
      }
      agree(kernel(arr(hs.toArray)), expect, s"$hs")
    })
  }

  private def width(m: Array[Array[Long]]) = if (m.isEmpty) 3 else m(0).length

  test("MatVecQ ≡ Scala row dots, null on width mismatch") {
    mats.foreach { m =>
      val kernel = kernelOf(byName("graft_matvec_q", matLit(m), vecL))
      check(Prop.forAllNoShrink(vecFor(width(m))) { x =>
        val expect = if (m.nonEmpty && x.length != m(0).length) null
          else m.toSeq.map(dot(_, x))
        agree(kernel(arr(x)), expect, s"${x.toSeq}")
      })
    }
  }

  test("CentTopKQ ≡ Scala full-distance sort, cid tie-break") {
    for (m <- mats; k <- Seq(1, 2, 3, 8)) {
      val kernel = kernelOf(byName("graft_cent_topk", matLit(m), vecL, Literal(k)))
      check(Prop.forAllNoShrink(vecFor(width(m))) { x =>
        val expect = if (m.nonEmpty && x.length != m(0).length) null
          else m.indices.sortBy(j => (sq(m(j), x, 0), j)).take(k)
        agree(kernel(arr(x)), expect, s"k=$k ${x.toSeq}")
      })
    }
  }

  test("PqCodesQ ≡ Scala per-block argmin, smaller code on ties") {
    books.foreach { b =>
      val sub = b(0)(0).length
      val kernel = kernelOf(byName("graft_pq_codes", bookLit(b), vecL))
      check(Prop.forAllNoShrink(vecFor(b.length * sub)) { x =>
        val expect = if (x.length != b.length * sub) null else {
          val codes = b.indices.map(j =>
            b(j).indices.minBy(c => (sq(b(j)(c), x, j * sub), c)))
          Row(codes, b.indices.map(j => dot(b(j)(codes(j)), b(j)(codes(j)))).sum)
        }
        agree(kernel(arr(x)), expect, s"${x.toSeq}")
      })
    }
  }
}
