package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{DataTypeMismatch, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ExpressionInfo, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, LongType, ObjectType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst kernels for graft's hot paths — per SURVEY §4.7: no
  * UDFs in hot loops; a kernel keeps the similarity joins inside
  * WholeStageCodegen where a Scala UDF would box every row.
  *
  * One implementation per kernel: its loops live in a Scala static core
  * (an `XxxKernel` object), and one wrapper serves every kernel.
  * [[GraftKernel]] type-checks a call against its row of the
  * [[GraftFunctions]] table and is replaced, before optimization, by a
  * `StaticInvoke` of the core — the interpreted and the generated path
  * call the same method, so they cannot drift (KernelCodegenSpec fails a
  * kernel whose generated code loops). A core returns null (boxed, for
  * primitive results) where the kernel yields SQL NULL; a NULL argument
  * yields NULL without calling it.
  */

/** A foldable model argument, folded once at plan time into the
  * primitive form its core reads, and passed to the core as a literal.
  * A wrapper canonicalizes to its replacement, so exchange reuse and
  * CacheManager matching compare these holders: two are equal exactly
  * when their folded contents are, as two equal source literals always
  * fold to equal contents.
  */
final class Folded[+T <: AnyRef](val value: T) extends Serializable {
  @transient private lazy val hash = java.util.Arrays.deepHashCode(Array[AnyRef](value))
  override def hashCode: Int = hash
  override def equals(o: Any): Boolean = o match {
    case f: Folded[_] => java.util.Objects.deepEquals(value, f.value)
    case _ => false
  }
  override def toString: String = s"folded ${value.getClass.getSimpleName}"
}

object Folded {
  /** The holder literal of a folded value; a NULL model (null `v`) stays
    * a NULL argument, so its rows null-propagate like any other.
    */
  def literal(v: AnyRef): Literal =
    Literal(if (v == null) null else new Folded(v), ObjectType(classOf[Folded[_]]))
}

/** Static cores of the exact-long vector kernels — dot, simHash64,
  * matVec, centTopK and pqCodes — plus the model folds their foldable
  * matrix arguments share.
  */
object VecKernel {

  /** Exact integer dot product of two ArrayType(LongType) columns — the
    * inner kernel of the quantized-embedding similarity operators
    * (SURVEY §2.5 #39-41). Inputs are embeddings quantized to integer
    * units (round(x·10⁴)), so the product is exact, order-independent,
    * and bit-identical to the DuckDB oracle's list_dot_product at any
    * parallelism.
    *
    * Mismatched lengths return null — a truncated "plausible" dot product
    * would mask malformed vectors (and DuckDB's list_dot_product errors on
    * the same input, so silence here would also split the engines). Null
    * ELEMENTS remain a precondition: graft quantizes from non-null floats.
    */
  def dot(x: ArrayData, y: ArrayData): java.lang.Long = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  /** 64-bit SimHash fingerprint of a token-hash array (SURVEY §2.5 #38):
    * bit b of the result is set iff more input hashes have bit b set than
    * clear (ties → 0, matching `sum(±1) > 0`). As a per-row expression over
    * `array_distinct(transform(tokens, xxhash64))`, the whole fingerprint
    * stage is embarrassingly parallel — no token explode, no distinct
    * shuffle, no 64-column aggregate; only the band join that follows
    * shuffles, which is the shape that scales to 100 TB. Equivalent by spec
    * to the 64-aggregate DataFrame formulation it replaced.
    */
  def simHash64(a: ArrayData): Long = {
    val n = a.numElements()
    val cnt = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = a.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) cnt(b) += 1 else cnt(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (cnt(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }

  /** Exact integer matrix–vector product: the dot of `vec`
    * (ArrayType(LongType)) against EVERY row of a foldable matrix literal
    * (ArrayType(ArrayType(LongType))) in one codegen'd pass, returning
    * array<long> of the row dots. This is the bulk form of [[dot]] for
    * model-against-row evaluation (LSH hyperplane banks, centroid tables):
    * shipping a K-row model as K separate array literals with one dot each
    * makes the analyzed tree O(K·D) nodes — at K=256, D=64 that cost tens
    * of seconds of driver-side analysis + codegen per plan. Here the model
    * folds ONCE into a primitive long[][] held in the codegen references
    * array, and the per-row work is identical arithmetic to K dot calls
    * (exact, order-independent, bit-identical to the oracle at any
    * parallelism).
    *
    * Null vec → null (like dot); a vec whose length differs from the
    * matrix row width → null (a truncated "plausible" result would mask
    * malformed vectors). The matrix argument must be foldable (checked
    * at analysis) and uniform — enforced at plan time by [[foldMatrix]],
    * since a jagged model is a construction bug, not a data condition.
    */
  def matVec(model: Folded[Array[Array[Long]]], x: ArrayData): ArrayData = {
    val m = model.value
    if (m.nonEmpty && x.numElements() != m(0).length) return null
    val out = new Array[Long](m.length)
    var j = 0
    while (j < m.length) { out(j) = dotRow(m(j), x, 0); j += 1 }
    ArrayData.toArrayData(out)
  }

  /** Bounded top-k nearest-centroid selection in ONE codegen'd kernel
    * (SURVEY §2.5 #41/41f): for a quantized vector `vec` against a foldable
    * centroid matrix `mat` (rows indexed by cid), return the cids of the
    * `k` nearest rows by squared distance, ascending, cid as the
    * tie-break — exactly the head of
    * `array_sort(transform(cents, c -> struct(dist, cid)))` and, at k = 1,
    * exactly `array_min(...).cid`. The distance ranked is
    * `‖c‖² − 2·⟨vec, c⟩`: the per-row `‖vec‖²` shift is constant across
    * centroids, so ordering AND ties are bit-identical to the full
    * `‖vec‖² + ‖c‖² − 2·⟨vec, c⟩` form (exact long arithmetic throughout).
    *
    * Why a kernel and not `transform` + `array_sort`/`array_min`:
    * higher-order functions evaluate their lambda INTERPRETED per element —
    * at K = ⌈6·√n⌉ lists that is K boxed struct allocations + an
    * interpreted dot per row, then a full K·log K sort to keep 1–32 heads
    * (measured ~22 % of the sf10 bench wall across the IVF family). Here
    * the model folds once into a primitive long[][] (+ precomputed row
    * norms) in the codegen references array — the [[matVec]] rule — and
    * the per-row work is K primitive dots + a bounded insertion into k
    * slots, inside whole-stage codegen. (The round-5
    * matVec-inside-lambda rewrite was 6× SLOWER because element_at over
    * the kernel output re-evaluated per lambda element; this form has no
    * lambda at all.)
    *
    * Null vec → null; vec length ≠ model width → null (the [[matVec]]
    * malformed-vector rule). `k` must be a foldable positive int; fewer
    * than k centroids return all of them, an empty model returns an empty
    * array.
    */
  def centTopK(model: Folded[Array[Array[Long]]], norms: Folded[Array[Long]],
      x: ArrayData, k: Int): ArrayData = {
    val m = model.value
    val nm = norms.value
    if (m.nonEmpty && x.numElements() != m(0).length) return null
    val bd = new Array[Long](k)
    val bc = new Array[Int](k)
    var filled = 0
    var j = 0
    while (j < m.length) {
      val dist = nm(j) - 2L * dotRow(m(j), x, 0)
      if (filled < k || dist < bd(filled - 1)) {
        var p = if (filled < k) filled else k - 1
        while (p > 0 && dist < bd(p - 1)) {
          bd(p) = bd(p - 1); bc(p) = bc(p - 1); p -= 1
        }
        bd(p) = dist; bc(p) = j
        if (filled < k) filled += 1
      }
      j += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(bc, filled))
  }

  /** Product-quantization encoder in ONE codegen'd kernel (SURVEY §2.5
    * #41e): for a quantized vector against a foldable 3-level codebook
    * `cents[block][code][dim]`, return
    * `struct(codes: array<int>, n2pq: long)` — per block, the code of the
    * nearest codeword to that block's coordinate slice of the vector
    * (squared distance, smaller code as the tie-break — the same exact-long
    * `‖c‖² − 2·⟨sub, c⟩` ranking as [[centTopK]], the block-constant
    * `‖sub‖²` dropped), plus the reconstruction's exact squared norm
    * `Σ_j ‖c_{j,code_j}‖²` (blocks are orthogonal coordinate slices, so
    * the sum IS the reconstructed vector's norm). Replaces a nested
    * `transform(sequence(...), j -> array_min(transform(...)))` whose
    * lambdas evaluated INTERPRETED per (block × codeword) with boxed
    * structs and per-block array slices, plus a second interpreted
    * `aggregate` for the norm.
    *
    * Null vec → null; vec length ≠ blocks·subdim → null. Codebook must be
    * foldable and rectangular (uniform codes per block, uniform dims per
    * codeword) — enforced at plan time by [[foldCodebook]]. An empty
    * codebook has width 0, so every non-empty vector mismatches → null
    * (callers guard emptiness).
    */
  def pqCodes(book: Folded[Array[Array[Array[Long]]]],
      norms: Folded[Array[Array[Long]]], x: ArrayData): InternalRow = {
    val b = book.value
    val nm = norms.value
    val subDim = if (b.isEmpty) 0 else b(0)(0).length
    if (x.numElements() != b.length * subDim) return null
    val codes = new Array[Int](b.length)
    var n2pq = 0L
    var j = 0
    while (j < b.length) {
      val block = b(j)
      var best = 0L
      var bestC = -1
      var c = 0
      while (c < block.length) {
        val dist = nm(j)(c) - 2L * dotRow(block(c), x, j * subDim)
        if (bestC < 0 || dist < best) { best = dist; bestC = c }
        c += 1
      }
      codes(j) = bestC
      n2pq += nm(j)(bestC)
      j += 1
    }
    InternalRow(ArrayData.toArrayData(codes), n2pq)
  }

  /** ⟨row, x[off, off + row.length)⟩ in exact long arithmetic. */
  private def dotRow(row: Array[Long], x: ArrayData, off: Int): Long = {
    var acc = 0L
    var i = 0
    while (i < row.length) { acc += row(i) * x.getLong(off + i); i += 1 }
    acc
  }

  /** The primitive rows of an array<array<bigint>> value. */
  def rows(m: ArrayData): Array[Array[Long]] =
    Array.tabulate(m.numElements())(j => m.getArray(j).toLongArray())

  /** Squared norm of each row. */
  def norms(m: Array[Array[Long]]): Array[Long] = m.map(_.map(x => x * x).sum)

  /** Folds a foldable ArrayType(ArrayType(LongType)) model once at plan
    * time; a NULL model folds to null. A jagged model is a construction
    * bug, so it fails here.
    */
  def foldMatrix(mat: Expression, fn: String): Array[Array[Long]] = {
    val raw = mat.eval()
    if (raw == null) null
    else {
      val m = rows(raw.asInstanceOf[ArrayData])
      require(m.forall(_.length == m(0).length),
        s"$fn: matrix rows must have uniform length")
      m
    }
  }

  /** Folds a foldable codebook [block][code][dim] once at plan time; a
    * NULL codebook folds to null.
    */
  def foldCodebook(cents: Expression): Array[Array[Array[Long]]] = {
    val raw = cents.eval()
    if (raw == null) null
    else {
      val m = raw.asInstanceOf[ArrayData]
      val blocks = Array.tabulate(m.numElements())(j => rows(m.getArray(j)))
      // a zero-codeword first block would make the rectangularity
      // predicate itself throw a raw AIOOBE (blocks(0)(0)) — guard the
      // shape explicitly so future callers get the intended message
      require(blocks.isEmpty || blocks(0).nonEmpty,
        "graft_pq_codes: codebook blocks must have at least one codeword")
      require(blocks.forall(b => b.length == blocks(0).length &&
        b.forall(_.length == blocks(0)(0).length)),
        "graft_pq_codes: codebook must be rectangular")
      blocks
    }
  }
}

/** Polynomial rolling hash over the bytes of an (ASCII-normalized) string:
  * h = fold(0, b => (h·31 + b) mod 1e9+7). Document fingerprinting kernel
  * (SURVEY §2.5 #45; reference deep_analysis duplicate detection works on
  * whole-content equality — the rolling hash is the scale-friendly stand-in
  * that also supports windowed/chunked fingerprints). The DuckDB oracle
  * mirrors it with list_reduce over ascii codes, so it is exactly checkable.
  */
object RollingHashKernel {
  def eval(s: UTF8String): Long = {
    val bytes = s.getBytes
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      acc = (acc * 31L + (bytes(i) & 0xffL)) % 1000000007L
      i += 1
    }
    acc
  }
}

/** Repeated-character-run detector (SURVEY §2.3 #26): true iff the string
  * contains ≥ [[MinRun]] CONSECUTIVE occurrences of one
  * enumerated ASCII character — exactly the language of the oracle's
  * backref-free alternation `a{5,}|b{5,}|…` (built from the same
  * [[Alnum]]/[[Punct]] definition, so the two
  * cannot drift). The regex form costs an 87-branch alternation NFA per
  * row on the Spark side (~7× the pre-promotion scan, the one real r3
  * bench regression); this kernel is ONE O(len) byte scan with early
  * exit, codegen'd into the whole-stage pipeline.
  *
  * Scanning UTF-8 BYTES is exact for an ASCII character class: a
  * multi-byte code point's bytes are all ≥ 0x80, so an enumerated ASCII
  * byte can only occur as that ASCII character, and a 5-byte run of it is
  * precisely a 5-char run in the decoded string.
  */
object RepeatedRunKernel {
  /** Run length that flags (the reference's `(.)\1{4,}` = 5 total). */
  val MinRun = 5

  /** Characters whose regex form is the bare `c{5,}` branch. */
  val Alnum: Seq[Char] = ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++ Seq(' ')

  /** Characters embedded as single-char classes `[c]{5,}` ('[', ']', '^',
    * '\' stay out: their class form is itself structural; the two quote
    * chars stay out because the oracle pattern embeds in a single-quoted
    * SQL literal).
    */
  val Punct: String = "!?.,;:-_*#@$%&+=/()<>~`|"

  /** Byte-indexed membership of the enumerated set (non-ASCII all false). */
  val Allowed: Array[Boolean] = {
    val a = new Array[Boolean](256)
    (Alnum ++ Punct).foreach(c => a(c.toInt) = true)
    a
  }

  /** One byte scan with early exit. */
  def eval(s: UTF8String): Boolean = {
    val bs = s.getBytes
    val allowed = Allowed
    var run = 1
    var i = 1
    while (i < bs.length) {
      if (bs(i) == bs(i - 1)) {
        run += 1
        if (run >= MinRun && allowed(bs(i) & 0xff)) return true
      } else run = 1
      i += 1
    }
    false
  }
}

/** The corpus token-budget and quality counters in ONE byte scan
  * (SURVEY §2.5 #44 / §2.3 quality family):
  * `struct(n_ws: int, n_bpe: int, n_punct: int, n_upper: int)` over a
  * string —
  *
  *  - `n_ws` = the whitespace token count, exactly
  *    `size(split(trim(text), '[ \\t\\n\\r\\f]+'))` with the empty-trim
  *    → 0 special case (Python str.split semantics as spelled by the
  *    engine-shared [[graft.operators.Text.wordCount]]): space-only trim
  *    (Spark/DuckDB `trim` strips 0x20 only), then split-with-empties —
  *    the count is (whitespace runs inside the trimmed region) + 1, so a
  *    leading `\t` after trim still contributes the leading empty part
  *    both regex engines keep.
  *  - `n_bpe` = the BPE-ish segmentation count, exactly
  *    `regexp_count(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 \\t\\n\\r\\f]')`:
  *    one token per ASCII-letter RUN, per digit, and per other
  *    non-whitespace CODE POINT (both java.util.regex and DuckDB's RE2
  *    match a negated class per code point, which a UTF-8 scan counts as
  *    leading bytes — continuation bytes 0x80–0xBF never start a token).
  *  - `n_punct` = exactly
  *    `regexp_count(text, '[^a-zA-Z0-9 \\t\\n\\r\\f]')`: one per
  *    non-alphanumeric non-whitespace CODE POINT (the punctuation-ratio
  *    numerator of the quality score).
  *  - `n_upper` = exactly `regexp_count(text, '[A-Z]')` (the caps-ratio
  *    numerator) — ASCII-only by the quality contract.
  *
  * The alternation branches are disjoint character sets, so the regex's
  * leftmost-longest walk and this single-pass scan count identical
  * tokens. Why a kernel: the regex forms cost a per-row NFA walk
  * plus (for n_ws) materializing every split token into an array just to
  * take its size — q_token_count was the second-steepest non-output-law
  * bench entry at sf10 (53.5 s, exponent 1.31) for what is one O(bytes)
  * scan. Results stay oracle-hash-checked against the unchanged DuckDB
  * regex SQL, and a spec pins kernel ≡ regex forms on the real corpus +
  * crafted edges.
  *
  * Malformed-UTF-8 caveat (the [[NormKernel]] convention): the regex forms
  * decode through java.lang.String, which turns each malformed sequence
  * into one U+FFFD code point; the kernel counts lead bytes, so a stray
  * continuation byte counts nothing and a truncated sequence counts once.
  * Valid UTF-8 — every lake this engine reads or writes — is identical.
  *
  * One pass for n_bpe / n_punct / n_upper over the full string, one for
  * n_ws over the space-trimmed region.
  */
object TokenCountsKernel {
  def eval(s: UTF8String): InternalRow = {
    val bs = s.getBytes
    var bpe = 0
    var punct = 0
    var upper = 0
    var inLetter = false
    var i = 0
    while (i < bs.length) {
      val b = bs(i) & 0xff
      if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) {
        if (!inLetter) { bpe += 1; inLetter = true }
        if (b <= 'Z' && b >= 'A') upper += 1
      } else {
        inLetter = false
        if (b >= '0' && b <= '9') bpe += 1
        else if (b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f') ()
        else if (b < 0x80) { bpe += 1; punct += 1 } // other ASCII symbol
        else if (b >= 0xc0) { bpe += 1; punct += 1 } // UTF-8 leading byte
        // else continuation byte: part of an already-counted code point
      }
      i += 1
    }
    var lo = 0
    var hi = bs.length - 1
    while (lo <= hi && bs(lo) == ' ') lo += 1
    while (hi >= lo && bs(hi) == ' ') hi -= 1
    var ws = 0
    if (lo <= hi) {
      ws = 1
      var inWs = false
      var j = lo
      while (j <= hi) {
        val b = bs(j) & 0xff
        val isWs = b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f'
        if (isWs && !inWs) ws += 1
        inWs = isWs
        j += 1
      }
    }
    InternalRow(ws, bpe, punct, upper)
  }
}

/** Per-list stopword-hit counts over a string in one byte scan, with the
  * ASCII case fold inside it (SURVEY §2.3 lang-ID / quality family): for
  * a foldable `lists` argument (array of word lists, each word nonempty
  * [a-z]+), returns `array<int>` where element l is exactly
  * `regexp_count(' ' || regexp_replace(asciiLower(text), '[^a-z]+', ' ')
  * || ' ', ' (w_l1|w_l2|…) ')` — the engine-shared padded-stopword-density
  * rule, `asciiLower` being `Text.asciiLower` (A-Z → a-z, nothing else).
  *
  * Equivalence: in the padded form, tokens are maximal [a-z] runs with
  * single-space boundaries (the replace collapses every non-[a-z] run,
  * the concat pads the ends), and the pattern ` (w…) ` consumes BOTH
  * spaces, so of two ADJACENT stopword tokens only the first matches
  * (the second lost its leading space). That is precisely an
  * alternating walk over the [a-z]-run token stream: a token counts
  * for list l iff it equals one of l's words AND the previous token did
  * not count for l. Prefix/suffix containment can't false-match (the
  * trailing-space requirement forces whole-token equality), and both
  * engines' regexes agree because only exact token matches succeed
  * (leftmost-first vs leftmost-longest is moot). The fold happens in the
  * scan: a byte in A-Z is a letter and compares as its lowercase, which
  * is exactly `asciiLower` first, since no UTF-8 multibyte sequence holds
  * a byte in 0x41-0x5A. So the kernel replaces the `translate` pass, the
  * regexp_replace materialization and the per-list NFA walks.
  *
  * Null text → null; a null lists argument yields a NULL result
  * (StaticInvoke null propagation short-circuits before the core
  * sees it) — only an empty list LITERAL yields an empty array.
  */
object StopCountsKernel {
  def eval(s: UTF8String, lists: Folded[Array[Array[Array[Byte]]]]): ArrayData = {
    val words = lists.value
    val bs = s.getBytes
    val n = words.length
    val counts = new Array[Int](n)
    val avail = new Array[Boolean](n)
    java.util.Arrays.fill(avail, true)
    var i = 0
    var done = false
    while (!done) {
      // find the next [a-zA-Z] run [i, j)
      while (i < bs.length && !letter(bs(i))) i += 1
      if (i >= bs.length) done = true
      else {
        var j = i
        while (j < bs.length && letter(bs(j))) j += 1
        var l = 0
        while (l < n) {
          var matched = false
          if (avail(l)) {
            val ws = words(l)
            var w = 0
            while (!matched && w < ws.length) {
              val word = ws(w)
              if (word.length == j - i) {
                var k = 0
                while (k < word.length && word(k) == (bs(i + k) | 0x20)) k += 1
                matched = k == word.length
              }
              w += 1
            }
            if (matched) counts(l) += 1
          }
          avail(l) = !matched
          l += 1
        }
        i = j
      }
    }
    ArrayData.toArrayData(counts)
  }

  private def letter(b: Byte): Boolean = (b | 0x20) >= 'a' && (b | 0x20) <= 'z'

  /** Folds the foldable word lists once at plan time, as byte arrays; a
    * NULL argument folds to null. Malformed words fail here.
    */
  def foldWords(lists: Expression): Array[Array[Array[Byte]]] = {
    val raw = lists.eval()
    if (raw == null) null
    else {
      val m = raw.asInstanceOf[ArrayData]
      Array.tabulate(m.numElements()) { l =>
        val ws = m.getArray(l)
        Array.tabulate(ws.numElements()) { w =>
          val bytes = ws.getUTF8String(w).getBytes
          require(bytes.nonEmpty && bytes.forall(b => b >= 'a' && b <= 'z'),
            "graft_stop_counts: words must be nonempty [a-z]+")
          bytes
        }
      }
    }
  }
}

/** CJK-presence probe (SURVEY §2.3 lang-ID): true iff the string contains
  * a code point in [U+4E00, U+9FFF] — exactly `rlike '[一-鿿]'` (both
  * engines' regex classes range over code points), as a byte scan with
  * early exit: only 3-byte UTF-8 sequences with leading byte 0xE4–0xE9
  * can encode the range, so ASCII-heavy corpora scan at memory speed.
  *
  * Malformed-UTF-8 caveat (the [[NormKernel]] convention): the kernel
  * reads the two bytes after a 0xE4–0xE9 lead without checking that they
  * are continuation bytes, so a malformed sequence can decode into the
  * range where the regex (which sees U+FFFD) does not match. Valid UTF-8
  * is identical.
  */
object CjkKernel {
  def eval(s: UTF8String): Boolean = {
    val bs = s.getBytes
    var i = 0
    while (i < bs.length) {
      val b = bs(i) & 0xff
      if (b >= 0xe4 && b <= 0xe9 && i + 2 < bs.length) {
        val cp = ((b & 0x0f) << 12) | ((bs(i + 1) & 0x3f) << 6) | (bs(i + 2) & 0x3f)
        if (cp >= 0x4e00 && cp <= 0x9fff) return true
      }
      i += 1
    }
    false
  }
}

/** Token + blocklist-membership counts in one byte scan (SURVEY §2.4 #43h
  * blocklist filter; shared by q_blocklist_scan, q_doc_features,
  * q_datacard and q_release_gate through TextOps.blocklistFlags): for a
  * foldable word list, returns struct(n_tok, n_blocked) ≡
  * (`size(array_remove(split(norm, ' '), ''))`,
  *  `size(filter(array_remove(split(norm, ' '), ''), t -> t IN (words)))`)
  * where norm is the canonical Text.norm
  * (`regexp_replace(translate(trim(text), A-Z, a-z), '[ \t\n\r\f]+', ' ')`).
  *
  * Equivalence: norm's collapse maps every maximal [ \t\n\r\f]+ run to one
  * space, so split-on-space tokens ≠ '' are exactly the maximal non-ws
  * runs of the folded text; trim only strips leading/trailing SPACES,
  * whose split artifacts are empty tokens the filter drops — so the scan
  * can walk the RAW bytes: find maximal non-ws runs, fold A-Z→a-z per
  * byte during comparison (translate is ASCII-only by the Text.norm
  * contract; non-ASCII bytes pass through both sides untouched), count
  * every run and the runs byte-equal to a word. Replaces one regex NFA
  * walk, a per-row token-array materialization and TWO interpreted HOF
  * lambda filters. Null text → null struct (split(null) → null → the
  * sizes are null under sizeOfNull=false, same propagation).
  */
object BlockCountsKernel {
  def eval(s: UTF8String, wordList: Folded[Array[Array[Byte]]]): InternalRow = {
    val words = wordList.value
    @inline def ws(c: Int): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'
    val bs = s.getBytes
    var tok = 0
    var blocked = 0
    var i = 0
    while (i < bs.length) {
      if (ws(bs(i) & 0xff)) i += 1
      else {
        var j = i
        while (j < bs.length && !ws(bs(j) & 0xff)) j += 1
        tok += 1
        var w = 0
        var hit = false
        while (!hit && w < words.length) {
          val word = words(w)
          if (word.length == j - i) {
            var k = 0
            var ok = true
            while (ok && k < word.length) {
              var c = bs(i + k) & 0xff
              if (c >= 'A' && c <= 'Z') c += 32
              ok = (word(k) & 0xff) == c
              k += 1
            }
            hit = ok
          }
          w += 1
        }
        if (hit) blocked += 1
        i = j
      }
    }
    InternalRow(tok, blocked)
  }

  /** Folds the foldable word list once at plan time, as byte arrays; a
    * NULL list folds to null. An empty word fails here.
    */
  def foldWords(words: Expression): Array[Array[Byte]] = {
    val raw = words.eval()
    if (raw == null) null
    else {
      val m = raw.asInstanceOf[ArrayData]
      Array.tabulate(m.numElements()) { w =>
        val bytes = m.getUTF8String(w).getBytes
        require(bytes.nonEmpty, "graft_block_counts: words must be nonempty")
        bytes
      }
    }
  }
}

/** Shared byte-scan core of `graft_pii_counts` / `graft_pii_redact` —
  * ONE implementation serving BOTH eval paths: the interpreted path and
  * the generated code call the same methods, so an interpreted
  * fallback cannot silently diverge or decelerate (the `||`-margin trap
  * class is structurally impossible here: no per-byte logic lives in
  * generated strings).
  *
  * Implements the four PII patterns (TextOps.PiiEmail/PiiIpv4/PiiPhone/
  * PiiIdRun — ASCII-class, backref/lookahead-free) and their
  * most-specific-first alternation as deterministic linear scans.
  * Equivalence to Java-regex leftmost-first semantics (shared with RE2 —
  * pinned cross-engine by TextOpsSpec's DuckDB-verified crafted corpus),
  * pattern by pattern:
  *
  * EMAIL `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}`: '@' is not a
  * local char, so the greedy local+ at start s is exactly the maximal
  * local run from s, which matches iff it is nonempty and followed by
  * '@'; every start inside a failed run fails identically (same run end),
  * so candidate starts are one per local run (or `pos` itself mid-run).
  * After '@', greedy domain+ with backtracking picks the LARGEST q with
  * text[q]='.' followed by ≥2 alphas; because '.' and alpha are domain
  * chars, both the dot search and the alpha run are bounded by the
  * maximal domain run — the scan iterates q from the run end downward,
  * first hit wins, match ends at the end of that alpha run. On domain
  * failure the next candidate start is the byte after '@' (domain chars
  * ⊂ local chars, so new local runs inside the failed domain are tried,
  * exactly as the regex engine does).
  *
  * IPV4 `\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b`: Java's \b without
  * UNICODE_CHARACTER_CLASS is NOT the ASCII \w class — Pattern's Bound
  * node tests `ch == '_' || Character.isLetterOrDigit(ch)`, so 'é' or a
  * fullwidth digit adjacent to a run suppresses the boundary where RE2's
  * ASCII \b would not. The kernel reproduces the JAVA semantics it
  * replaces (the non-regression contract; the spec compares against the
  * regex forms value-for-value): a boundary byte ≥ 0x80 is decoded
  * (backward to its lead byte for the preceding side) and classified
  * with Character.isLetterOrDigit; a malformed sequence decodes the way
  * String conversion would — U+FFFD, non-word. The cross-engine
  * divergence class (non-ASCII letter/digit touching a digit run) is
  * unreachable in the oracle corpus (digit-free), identical to the
  * pre-kernel state. A match forces every group to be a MAXIMAL
  * digit run of length 1–3 (a longer run cannot backtrack into a '.' and
  * a shorter prefix is followed by a digit, failing either the literal
  * dot or the final \b), the first preceded by non-word/start and the
  * last followed by non-word/end. Starts inside a run fail \b, so
  * candidates are run starts only.
  *
  * ID-RUN `\b\d{13,19}\b`: a maximal digit run of length 13–19 with
  * non-word on both sides; a 20+ run matches NOTHING (every {13..19}
  * prefix is followed by a digit, failing \b) — the bounded-run
  * rejection the crafted spec pins.
  *
  * PHONE `\+?\d[\d() -]{6,}\d`: from first digit p, the phone-char
  * region ends at the first non-phone byte e; greedy {6,} backtracks to
  * the LAST digit q in [p+7, e-1] (the final `\d` cannot sit at e since
  * digits are phone chars); if p is directly preceded by '+' at or after
  * the scan start, the match begins at the '+' (the engine tries that
  * start first). If the first digit of a region fails, every later digit
  * start in the same region sees a subset window [p'+7, e-1] and fails
  * too, so the scan skips to e — linear overall.
  *
  * ALTERNATION email|ipv4|idrun|phone (the redaction pass): the engine
  * takes the smallest matching start, branch order breaking start ties.
  * The merge keeps one cached next-match per branch, recomputed only
  * when the consumed position passes its start (each branch's scan
  * pointer is monotone ⇒ O(4·len) per document), replaces each match
  * with `[PII]` and counts it. Matched spans are pure ASCII, so byte
  * lengths equal char lengths and the redacted string is built by
  * verbatim copy of the unmatched (possibly multibyte) gaps — a match
  * can never split a code point.
  */
object PiiKernel {
  @inline private def dig(b: Int): Boolean = b >= '0' && b <= '9'
  @inline private def alpha(b: Int): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')
  @inline private def word(b: Int): Boolean = alpha(b) || dig(b) || b == '_'
  @inline private def local(b: Int): Boolean =
    alpha(b) || dig(b) || b == '.' || b == '_' || b == '%' || b == '+' || b == '-'
  @inline private def domc(b: Int): Boolean =
    alpha(b) || dig(b) || b == '.' || b == '-'
  @inline private def phc(b: Int): Boolean =
    dig(b) || b == '(' || b == ')' || b == ' ' || b == '-'
  @inline private def at(bs: Array[Byte], i: Int): Int = bs(i) & 0xff
  @inline private def pack(s: Int, e: Int): Long = (s.toLong << 32) | e.toLong

  /** Decode the code point whose UTF-8 sequence starts at i; -1 on a
    * malformed/truncated/non-shortest-form/surrogate/out-of-range
    * sequence (everything String conversion turns into U+FFFD —
    * non-word either way). The shortest-form check matters: an overlong
    * encoding like E0 80 B0 would otherwise decode to '0' (a word char)
    * where the regex path sees U+FFFD, flipping a trailing `\b` after a
    * digit run (the r13 advice case 'x 1.2.3.4'+E0 80 B0).
    */
  private def cpAt(bs: Array[Byte], i: Int): Int = {
    val n = bs.length
    val b0 = at(bs, i)
    val len =
      if (b0 < 0x80) 1
      else if (b0 >= 0xc2 && b0 <= 0xdf) 2
      else if (b0 >= 0xe0 && b0 <= 0xef) 3
      else if (b0 >= 0xf0 && b0 <= 0xf4) 4
      else return -1
    if (i + len > n) return -1
    var cp = b0 & (0xff >> (len + 1))
    var k = 1
    while (k < len) {
      val c = at(bs, i + k)
      if ((c & 0xc0) != 0x80) return -1
      cp = (cp << 6) | (c & 0x3f)
      k += 1
    }
    if (len == 1) b0
    // reject what java.nio's UTF-8 decoder rejects: overlong forms
    // (canonical length < consumed bytes; the 2-byte floor is already
    // guaranteed by b0 ≥ 0xc2), CESU-8 surrogate halves, and cp beyond
    // U+10FFFF (reachable via b0 = 0xf4)
    else if (len == 3 && (cp < 0x800 || (cp >= 0xd800 && cp <= 0xdfff))) -1
    else if (len == 4 && (cp < 0x10000 || cp > 0x10ffff)) -1
    else cp
  }

  /** Java Pattern Bound.isWord WITHOUT UNICODE_CHARACTER_CLASS:
    * `ch == '_' || Character.isLetterOrDigit(ch)` — Unicode-letter-aware
    * even though \w is ASCII (the documented Java inconsistency the
    * kernel must reproduce).
    */
  @inline private def wordCp(cp: Int): Boolean =
    cp >= 0 && (cp == '_' || Character.isLetterOrDigit(cp))

  /** Is the code point ENDING at byte i-1 a \b word char? (false at i=0) */
  private def wordBefore(bs: Array[Byte], i: Int): Boolean = {
    if (i <= 0) false
    else {
      val b = at(bs, i - 1)
      if (b < 0x80) word(b)
      else {
        var s = i - 1
        var k = 0
        while (s > 0 && (at(bs, s) & 0xc0) == 0x80 && k < 3) { s -= 1; k += 1 }
        // the decoded sequence must end exactly at i: cpAt's shortest-form
        // rejection is NOT enough here, because the backward scan can land
        // on an earlier VALID lead byte when the byte at i-1 is a stray
        // continuation (e.g. C3 A9 80 — cpAt(s) decodes 'é' but the stray
        // 0x80 ending at i-1 is U+FFFD in the regex path)
        val cp = cpAt(bs, s)
        val len = if (cp < 0) -1
          else if (cp < 0x80) 1 else if (cp < 0x800) 2
          else if (cp < 0x10000) 3 else 4
        len == i - s && wordCp(cp)
      }
    }
  }

  /** Is the code point STARTING at byte i a \b word char? (false at end) */
  private def wordAt(bs: Array[Byte], i: Int): Boolean = {
    if (i >= bs.length) false
    else {
      val b = at(bs, i)
      if (b < 0x80) word(b) else wordCp(cpAt(bs, i))
    }
  }

  /** Leftmost email match with start ≥ from, packed (start<<32|end); -1 if none. */
  private def nextEmail(bs: Array[Byte], from: Int): Long = {
    val n = bs.length
    var s = from
    while (s < n) {
      if (!local(at(bs, s))) s += 1
      else {
        var j = s
        while (j < n && local(at(bs, j))) j += 1
        if (j < n && at(bs, j) == '@') {
          val m = j + 1
          var e = m
          while (e < n && domc(at(bs, e))) e += 1
          if (e > m) {
            var q = e - 1
            while (q >= m + 1) {
              if (at(bs, q) == '.') {
                var r = q + 1
                while (r < e && alpha(at(bs, r))) r += 1
                if (r - (q + 1) >= 2) return pack(s, r)
              }
              q -= 1
            }
          }
          s = j + 1 // domain failed: retry from the byte after '@'
        } else s = j // run not followed by '@': every start inside fails
      }
    }
    -1L
  }

  /** IPv4 match at exactly s (caller checked \b before s); end or -1. */
  private def ipv4At(bs: Array[Byte], s: Int): Int = {
    val n = bs.length
    var p = s
    var g = 0
    while (g < 4) {
      if (p >= n || !dig(at(bs, p))) return -1
      var l = 0
      while (p + l < n && dig(at(bs, p + l))) l += 1
      if (l > 3) return -1
      if (g < 3) {
        if (p + l >= n || at(bs, p + l) != '.') return -1
        p = p + l + 1
      } else {
        if (wordAt(bs, p + l)) return -1
        return p + l
      }
      g += 1
    }
    -1 // unreachable
  }

  private def nextIpv4(bs: Array[Byte], from: Int): Long = {
    val n = bs.length
    var s = from
    while (s < n) {
      if (!dig(at(bs, s))) s += 1
      else if (wordBefore(bs, s)) {
        while (s < n && dig(at(bs, s))) s += 1 // \b fails for the whole run
      } else {
        val e = ipv4At(bs, s)
        if (e > 0) return pack(s, e)
        while (s < n && dig(at(bs, s))) s += 1 // run starts a failed match
      }
    }
    -1L
  }

  private def nextIdRun(bs: Array[Byte], from: Int): Long = {
    val n = bs.length
    var s = from
    while (s < n) {
      if (!dig(at(bs, s))) s += 1
      else {
        val predOk = !wordBefore(bs, s)
        var e = s
        while (e < n && dig(at(bs, e))) e += 1
        if (predOk && e - s >= 13 && e - s <= 19 && !wordAt(bs, e))
          return pack(s, e)
        s = e
      }
    }
    -1L
  }

  private def nextPhone(bs: Array[Byte], from: Int): Long = {
    val n = bs.length
    var s = from
    while (s < n) {
      if (!dig(at(bs, s))) s += 1
      else {
        val p = s
        var e = p + 1
        while (e < n && phc(at(bs, e))) e += 1
        var q = e - 1
        while (q >= p + 7 && !dig(at(bs, q))) q -= 1
        if (q >= p + 7) {
          val start = if (p - 1 >= from && at(bs, p - 1) == '+') p - 1 else p
          return pack(start, q + 1)
        }
        s = e // every later digit start in this region sees a subset window
      }
    }
    -1L
  }

  private def next(which: Int, bs: Array[Byte], from: Int): Long = which match {
    case 0 => nextEmail(bs, from)
    case 1 => nextIpv4(bs, from)
    case 2 => nextIdRun(bs, from)
    case _ => nextPhone(bs, from)
  }

  private def countOf(bs: Array[Byte], which: Int): Int = {
    var pos = 0
    var c = 0
    var m = next(which, bs, pos)
    while (m != -1L) {
      c += 1
      pos = (m & 0xffffffffL).toInt
      m = next(which, bs, pos)
    }
    c
  }

  /** PiiAll alternation scan. Returns (nMatches<<32 | deltaChars); when
    * `out` is non-null additionally writes the redacted bytes (redacted
    * length = bs.length − delta, always ≤ bs.length since every matched
    * span is ≥ 6 bytes and `[PII]` is 5).
    */
  private def merge(bs: Array[Byte], out: Array[Byte]): Long = {
    val n = bs.length
    var pos = 0
    var outLen = 0
    var delta = 0
    var nm = 0
    // cached next match per branch: -2 = stale, -1 = exhausted
    var em = -2L; var ip = -2L; var id = -2L; var ph = -2L
    var done = false
    while (!done) {
      if (em != -1L && (em == -2L || (em >>> 32).toInt < pos)) em = nextEmail(bs, pos)
      if (ip != -1L && (ip == -2L || (ip >>> 32).toInt < pos)) ip = nextIpv4(bs, pos)
      if (id != -1L && (id == -2L || (id >>> 32).toInt < pos)) id = nextIdRun(bs, pos)
      if (ph != -1L && (ph == -2L || (ph >>> 32).toInt < pos)) ph = nextPhone(bs, pos)
      var best = em // strict < keeps branch priority on equal starts
      if (ip != -1L && (best == -1L || (ip >>> 32) < (best >>> 32))) best = ip
      if (id != -1L && (best == -1L || (id >>> 32) < (best >>> 32))) best = id
      if (ph != -1L && (best == -1L || (ph >>> 32) < (best >>> 32))) best = ph
      if (best == -1L) done = true
      else {
        val s = (best >>> 32).toInt
        val e = (best & 0xffffffffL).toInt
        if (out != null) {
          System.arraycopy(bs, pos, out, outLen, s - pos)
          outLen += s - pos
          out(outLen) = '['; out(outLen + 1) = 'P'; out(outLen + 2) = 'I'
          out(outLen + 3) = 'I'; out(outLen + 4) = ']'
          outLen += 5
        }
        delta += (e - s) - 5
        nm += 1
        pos = e
      }
    }
    if (out != null) System.arraycopy(bs, pos, out, outLen, n - pos)
    (nm.toLong << 32) | (delta.toLong & 0xffffffffL)
  }

  /** PII counts in one kernel pass (SURVEY §2.4 #44e/#44j, the
    * q_doc_features residual named by the r12 bench): struct(n_email,
    * n_ipv4, n_phone, n_idrun, n_pii, n_redactions, redact_delta) ≡ the
    * four `regexp_count(text, P)` columns, their sum, `regexp_count(text,
    * PiiAll)`, and `length(text) − length(regexp_replace(text, PiiAll,
    * '[PII]'))` — see the object doc for the per-pattern equivalence
    * arguments. Null text → null struct (regexp_count's null
    * propagation). The counts half; no output string is built.
    */
  def counts(s: UTF8String): InternalRow = {
    val bs = s.getBytes
    val e = countOf(bs, 0)
    val i = countOf(bs, 1)
    val d = countOf(bs, 2) // id-run before phone: the PiiAll branch order
    val p = countOf(bs, 3)
    val m = merge(bs, null)
    InternalRow(
      e, i, p, d, e + i + p + d, (m >>> 32).toInt, m & 0xffffffffL)
  }

  /** PII redaction rewrite in one kernel pass (SURVEY §2.4 #44j):
    * struct(clean, n_redactions) ≡ (`regexp_replace(text, PiiAll, '[PII]')`,
    * `regexp_count(text, PiiAll)`) — the alternation scan run once per row
    * with the output buffer attached. Null text → null. The rewrite half.
    */
  def redact(s: UTF8String): InternalRow = {
    val bs = s.getBytes
    val out = new Array[Byte](bs.length)
    val m = merge(bs, out)
    val delta = (m & 0xffffffffL).toInt
    InternalRow(
      UTF8String.fromBytes(out, 0, bs.length - delta), (m >>> 32).toInt)
  }
}

/** The shared content normalization as one kernel pass, registered as
  * `graft_norm`; built by [[graft.operators.Text.norm]] so every
  * consumer — batch and streaming — switches with the definition. It is
  * the canonical content normalization
  * `regexp_replace(translate(trim(text), 'A-Z', 'a-z'), '[ \t\n\r\f]+', ' ')`
  * fused into ONE byte scan with one output allocation (r14, guide §1.2
  * per-task work: the regex form paid a per-row NFA walk plus two
  * intermediate string materializations — trim and translate — on the
  * shared front of EVERY content-keyed operator: the md5 dedup family,
  * the shingle/minhash builds, tokenization, fingerprints; measured
  * 0.94 s vs 0.24 s baseline per 50k-doc scan at sf1).
  *
  * Equivalence argument, step by step over the composed pipeline:
  *  - `trim` strips 0x20 ONLY (UTF8String.trim — the engine-verified
  *    contract the TokenCounts kernel already pins); the kernel's lo/hi
  *    clamp is that exact rule.
  *  - `translate('A'..'Z' → 'a'..'z')` is a 1:1 single-byte ASCII map:
  *    it never creates, destroys or moves whitespace, so it commutes
  *    with the collapse and folds into the same pass. Multi-byte UTF-8
  *    units have the high bit set on every byte, so the `'A' <= b <= 'Z'`
  *    test (signed bytes — lead/continuation bytes are negative) can
  *    never touch them.
  *  - `regexp_replace('[ \t\n\r\f]+', ' ')` rewrites each maximal run of
  *    exactly {0x20, 0x09, 0x0A, 0x0D, 0x0C} to one 0x20 anywhere in the
  *    string (the class is pure ASCII, so the regex engine's code-point
  *    walk and a byte walk agree on valid UTF-8); runs at the ends
  *    survive as single leading/trailing spaces because the trim before
  *    it strips spaces only — the kernel emits exactly that.
  * Null propagates (all three wrapped functions are null-intolerant).
  * Malformed-UTF-8 caveat (the PiiKernel convention): the regex path
  * round-trips through java.lang.String and rewrites malformed bytes to
  * U+FFFD; the kernel passes non-ASCII bytes through untouched. Valid
  * UTF-8 — every lake this engine reads or writes — is byte-identical,
  * and the spec pins kernel ≡ regex form on corpus + crafted edges.
  */
object NormKernel {
  def norm(s: UTF8String): UTF8String = {
    val bs = s.getBytes
    var lo = 0
    var hi = bs.length - 1
    while (lo <= hi && bs(lo) == ' ') lo += 1
    while (hi >= lo && bs(hi) == ' ') hi -= 1
    if (lo > hi) return UTF8String.EMPTY_UTF8
    val out = new Array[Byte](hi - lo + 1)
    var n = 0
    var inWs = false
    var i = lo
    while (i <= hi) {
      val b = bs(i)
      val isWs = b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f'
      if (isWs) {
        if (!inWs) { out(n) = ' '; n += 1 }
        inWs = true
      } else {
        inWs = false
        out(n) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
        n += 1
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, n)
  }
}

/** Positional word-n-gram hash array:
  * `graft_gram_hashes(text, n, keepEmpty)` ≡ the xxhash64-of-concat_ws
  * forms over split tokens, element-for-element. n and keepEmpty must be
  * foldable. Positional word-n-gram xxhash64 arrays
  * over a string, in ONE pass with no per-position string materialization
  * (r14, guide §1.2 per-task work). Replaces the
  * `transform(sequence(0, size(w)-n), i -> xxhash64(concat_ws(' ',
  * get(w,i)..get(w,i+n-1))))` spelling over `w = split(text, ' ')`
  * (keepEmpty) or `w = array_remove(split(text, ' '), '')`
  * (dropEmpty), which materialized the token array plus one concatenated
  * string per position just to hash it.
  *
  * Equivalence argument: `split(s, ' ')` segments s at EVERY 0x20, so
  * consecutive split tokens are separated by exactly one space and
  * `concat_ws(' ', w[i..j])` (empties included — concat_ws keeps empty
  * strings) is EXACTLY the byte substring of s from start(w_i) to
  * end(w_j). The keepEmpty grams therefore hash in place over the input
  * bytes — zero copies, any input. With dropEmpty, the same substring
  * identity holds whenever no EMPTY token sits strictly between two kept
  * tokens (i.e. no two consecutive spaces and gram doesn't span a
  * leading/trailing space) — true for every whitespace-collapsed
  * ([[NormKernel]]) input, which is what all consumers feed; inputs that
  * violate it take a scratch-buffer join path that reproduces
  * filter+concat_ws byte-for-byte. xxhash64(string) is
  * XXH64(bytes, seed 42) — the hash of the same bytes is the same long,
  * so consumers' values (and their DuckDB string-gram oracles) are
  * bit-identical. Null text → null (split's propagation).
  * Malformed-UTF-8 caveat (the [[NormKernel]] convention): `split`
  * round-trips through java.lang.String, which rewrites malformed bytes
  * to U+FFFD before they are hashed; the kernel hashes the input bytes as
  * they are. Valid UTF-8 hashes bit-identically.
  */
object GramHashKernel {
  private val Seed = 42L // Spark's xxhash64 seed

  def hashes(s: UTF8String, n: Int, keepEmpty: Boolean)
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      raw(s, n, keepEmpty))

  /** The hash array as a bare Array[Long] — for kernel callers
    * ([[RepStatsKernel]]) that sort/scan it in place without the
    * ArrayData wrapper.
    */
  def raw(s: UTF8String, n: Int, keepEmpty: Boolean): Array[Long] = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes
    // token boundaries at every 0x20: starts/ends as offsets into s
    var nTok = 1
    var i = 0
    while (i < len) { if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == ' ') nTok += 1; i += 1 }
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var t = 0
    var p = 0
    i = 0
    while (i <= len) {
      if (i == len || org.apache.spark.unsafe.Platform.getByte(base, off + i) == ' ') {
        starts(t) = p; ends(t) = i; t += 1; p = i + 1
      }
      i += 1
    }
    // dropEmpty: keep non-empty segments; substring identity holds iff
    // kept neighbors are exactly one byte apart (no interior empties)
    var kept = starts
    var keptEnds = ends
    var m = nTok
    if (!keepEmpty) {
      val ks = new Array[Int](nTok)
      val ke = new Array[Int](nTok)
      m = 0
      t = 0
      while (t < nTok) {
        if (ends(t) > starts(t)) { ks(m) = starts(t); ke(m) = ends(t); m += 1 }
        t += 1
      }
      kept = ks; keptEnds = ke
    }
    val nGrams = m - n + 1
    if (nGrams <= 0) return Array.empty[Long]
    var contiguous = true
    if (!keepEmpty) {
      t = 1
      while (t < m && contiguous) {
        if (kept(t) != keptEnds(t - 1) + 1) contiguous = false
        t += 1
      }
    }
    val out = new Array[Long](nGrams)
    if (keepEmpty || contiguous) {
      // every gram IS a substring of s: hash in place
      var g = 0
      while (g < nGrams) {
        val a = kept(g)
        val b = keptEnds(g + n - 1)
        out(g) = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(base, off + a, b - a, Seed)
        g += 1
      }
    } else {
      // weird (non-collapsed) input: join kept tokens with single spaces
      // into a scratch buffer — the filter+concat_ws bytes exactly
      var maxLen = 0
      var g = 0
      while (g < nGrams) {
        var bl = n - 1
        var j = g
        while (j < g + n) { bl += keptEnds(j) - kept(j); j += 1 }
        if (bl > maxLen) maxLen = bl
        g += 1
      }
      val scratch = new Array[Byte](maxLen)
      g = 0
      while (g < nGrams) {
        var w = 0
        var j = g
        while (j < g + n) {
          if (j > g) { scratch(w) = ' '; w += 1 }
          val tl = keptEnds(j) - kept(j)
          org.apache.spark.unsafe.Platform.copyMemory(base, off + kept(j),
            scratch, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + w, tl)
          w += tl
          j += 1
        }
        out(g) = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(scratch,
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, w, Seed)
        g += 1
      }
    }
    out
  }
}

/** Strict integral top-level JSON field extraction as one kernel pass:
  * `graft_json_int(json, key)` — key must be foldable. A strict
  * single-pass extraction of one
  * integral top-level field from a JSON payload, replacing TWO Jackson
  * parses per row in q_props_extract (the duplicate-key map parse plus
  * the typed struct parse — measured 2.7 s EACH per 1M-event scan at
  * sf1, the query's entire cost).
  *
  * Contract (pinned empirically against the exact `when(dup-keys, null)
  * .otherwise(from_json(struct<k:int>).k)` form it replaces, payload
  * class by payload class — see the JsonIntKernel spec):
  *  - null / not-JSON / non-object top level (array, scalar) → null;
  *  - a valid object with ANY duplicated top-level key → null (keys
  *    compared DECODED: `"k"` duplicates `"k"`);
  *  - else the target key's value if it is an integral JSON number in
  *    Int32 range — floats (1e2, 7.0), strings ("7"), booleans, null,
  *    nested values, overflow (2147483648) and missing keys → null.
  *    Key match is exact and case-sensitive (probed: from_json struct
  *    fields do not case-fold).
  * Acceptance grammar = RFC 8259 plus Spark's Jackson defaults, probed
  * one by one on this Spark build: single-quoted strings PARSE
  * (allowSingleQuotes=true); NaN / Infinity / -Infinity parse as
  * non-integral numbers (allowNonNumericNumbers=true — the doc stays
  * valid, the field reads null); leading zeros (017), a leading '+',
  * raw control bytes inside strings, non-standard escapes, trailing
  * commas, and a BOM prefix are all INVALID (whole payload → null);
  * content after the first complete value is IGNORED (Jackson reads one
  * value and from_json never looks past it — probed: '{"k": 7} x'
  * parses). Nesting beyond 1000 levels is invalid (Jackson's
  * StreamReadConstraints default). Whitespace between tokens is
  * {space, \t, \n, \r}.
  *
  * Skipped values only need VALIDATION, not materialization, so nested
  * objects/arrays cost a bounded walk and the whole extraction is one
  * O(bytes) pass with zero allocation on the fast path (keys allocate
  * only their decoded forms for the duplicate check).
  */
object JsonIntKernel {
  private val MaxDepth = 1000

  def eval(json: UTF8String, key: UTF8String): java.lang.Integer = {
    val p = new Parser(json.getBytes)
    p.run(key.toString)
  }

  private final class Parser(bs: Array[Byte]) {
    private var i = 0
    private val n = bs.length
    private var bad = false

    private def fail(): Unit = { bad = true; i = n }

    private def skipWs(): Unit = {
      while (i < n && (bs(i) == ' ' || bs(i) == '\t' || bs(i) == '\n' ||
        bs(i) == '\r')) i += 1
    }

    /** Decoded string at an opening quote; null on malformed. Raw UTF-8
      * segments decode with java.lang.String's U+FFFD replacement — the
      * same form Jackson sees, because from_json parses the UTF8String's
      * own toString.
      */
    private def parseString(): String = {
      val q = bs(i)
      i += 1
      val sb = new java.lang.StringBuilder()
      var seg = i // start of the current raw (escape-free) segment
      def flush(): Unit =
        if (i > seg) {
          sb.append(new String(bs, seg, i - seg,
            java.nio.charset.StandardCharsets.UTF_8)); ()
        }
      while (i < n) {
        val b = bs(i)
        if (b == q) {
          flush(); i += 1
          return sb.toString
        } else if (b == '\\') {
          flush()
          if (i + 1 >= n) { fail(); return null }
          bs(i + 1) match {
            case '"' => sb.append('"'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case '/' => sb.append('/'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'u' =>
              if (i + 5 >= n) { fail(); return null }
              var cp = 0
              var j = i + 2
              while (j < i + 6) {
                val h = bs(j)
                val d =
                  if (h >= '0' && h <= '9') h - '0'
                  else if (h >= 'a' && h <= 'f') h - 'a' + 10
                  else if (h >= 'A' && h <= 'F') h - 'A' + 10
                  else -1
                if (d < 0) { fail(); return null }
                cp = (cp << 4) | d
                j += 1
              }
              sb.append(cp.toChar); i += 6
            case _ => fail(); return null // non-standard escape: invalid
          }
          seg = i
        } else if ((b & 0xff) < 0x20) {
          fail(); return null // raw control char: allowUnquotedControlChars=false
        } else i += 1
      }
      fail(); null // unterminated
    }

    /** Validates one value; when `capture`, returns the integral Int32
      * value or null (null also for valid-but-non-integral). Callers
      * check `bad` for document validity.
      */
    private def parseValue(depth: Int, capture: Boolean): java.lang.Integer = {
      if (depth > MaxDepth) { fail(); return null }
      if (i >= n) { fail(); return null }
      bs(i) match {
        case '{' =>
          i += 1; skipWs()
          if (i < n && bs(i) == '}') { i += 1; return null }
          var more = true
          while (more && !bad) {
            skipWs()
            if (i >= n || (bs(i) != '"' && bs(i) != '\'')) { fail(); return null }
            parseString()
            if (bad) return null
            skipWs()
            if (i >= n || bs(i) != ':') { fail(); return null }
            i += 1; skipWs()
            parseValue(depth + 1, capture = false)
            if (bad) return null
            skipWs()
            if (i < n && bs(i) == ',') i += 1
            else if (i < n && bs(i) == '}') { i += 1; more = false }
            else { fail(); return null }
          }
          null
        case '[' =>
          i += 1; skipWs()
          if (i < n && bs(i) == ']') { i += 1; return null }
          var more = true
          while (more && !bad) {
            skipWs()
            parseValue(depth + 1, capture = false)
            if (bad) return null
            skipWs()
            if (i < n && bs(i) == ',') i += 1
            else if (i < n && bs(i) == ']') { i += 1; more = false }
            else { fail(); return null }
          }
          null
        case '"' | '\'' => parseString(); null
        case 't' => literal("true"); null
        case 'f' => literal("false"); null
        case 'n' => literal("null"); null
        case 'N' => literal("NaN"); null // allowNonNumericNumbers
        case 'I' => literal("Infinity"); null
        case '-' if i + 1 < n && bs(i + 1) == 'I' =>
          i += 1; literal("Infinity"); null
        case b if b == '-' || (b >= '0' && b <= '9') => parseNumber(capture)
        case _ => fail(); null
      }
    }

    private def literal(lit: String): Unit = {
      var j = 0
      while (j < lit.length) {
        if (i >= n || bs(i) != lit.charAt(j)) { fail(); return }
        i += 1; j += 1
      }
    }

    /** Strict JSON number; returns the Int32 value when `capture` and the
      * token is integral in range, else null.
      */
    private def parseNumber(capture: Boolean): java.lang.Integer = {
      val neg = bs(i) == '-'
      if (neg) i += 1
      if (i >= n || bs(i) < '0' || bs(i) > '9') { fail(); return null }
      // int part: single 0, or [1-9][0-9]* (leading zeros invalid —
      // allowNumericLeadingZeros=false, probed)
      var acc = 0L
      var digits = 0
      if (bs(i) == '0') {
        i += 1; digits = 1
        if (i < n && bs(i) >= '0' && bs(i) <= '9') { fail(); return null }
      } else {
        while (i < n && bs(i) >= '0' && bs(i) <= '9') {
          if (digits < 19) acc = acc * 10 + (bs(i) - '0')
          digits += 1
          i += 1
        }
      }
      var integral = true
      if (i < n && bs(i) == '.') {
        integral = false
        i += 1
        if (i >= n || bs(i) < '0' || bs(i) > '9') { fail(); return null }
        while (i < n && bs(i) >= '0' && bs(i) <= '9') i += 1
      }
      if (i < n && (bs(i) == 'e' || bs(i) == 'E')) {
        integral = false
        i += 1
        if (i < n && (bs(i) == '+' || bs(i) == '-')) i += 1
        if (i >= n || bs(i) < '0' || bs(i) > '9') { fail(); return null }
        while (i < n && bs(i) >= '0' && bs(i) <= '9') i += 1
      }
      if (!capture || !integral || digits > 10) return null
      val v = if (neg) -acc else acc
      if (v < Int.MinValue || v > Int.MaxValue) null
      else java.lang.Integer.valueOf(v.toInt)
    }

    def run(key: String): java.lang.Integer = {
      skipWs()
      if (i >= n || bs(i) != '{') return null
      // top-level object: collect decoded keys, capture the target field
      i += 1; skipWs()
      val keys = new java.util.ArrayList[String]()
      var kVal: java.lang.Integer = null
      if (i < n && bs(i) == '}') i += 1
      else {
        var more = true
        while (more && !bad) {
          skipWs()
          if (i >= n || (bs(i) != '"' && bs(i) != '\'')) { fail(); return null }
          val k = parseString()
          if (bad) return null
          keys.add(k)
          skipWs()
          if (i >= n || bs(i) != ':') { fail(); return null }
          i += 1; skipWs()
          val v = parseValue(1, capture = k == key)
          if (bad) return null
          if (k == key) kVal = v
          skipWs()
          if (i < n && bs(i) == ',') i += 1
          else if (i < n && bs(i) == '}') { i += 1; more = false }
          else { fail(); return null }
        }
      }
      // NO trailing-content check: Jackson reads ONE value and from_json
      // never looks past it (probed: '{"k": 7} x' parses, k = 7)
      if (bad) return null
      // duplicate top-level keys → null by the dup-instance contract
      var a = 0
      while (a < keys.size) {
        var b = a + 1
        while (b < keys.size) {
          if (keys.get(a) == keys.get(b)) return null
          b += 1
        }
        a += 1
      }
      kVal
    }
  }
}

/** Banded MinHash signature hashes: `graft_minhash_bands(hs, k, rows)` ≡
  * the nested-transform spelling, element-for-element. k and rows must be
  * foldable, rows must divide k. Banded MinHash signatures of a
  * shingle-hash array in ONE primitive pass (r15, guide §1.2). Replaces
  * the `transform(sequence(0, K-1), i -> array_min(transform(hs, h ->
  * xxhash64(i, h))))` + per-band `xxhash64(sig[4b], ..)` spelling, whose
  * nested higher-order lambdas evaluate INTERPRETED (HOFs are
  * CodegenFallback) and materialize a boxed K-long signature array per
  * document.
  *
  * Bit-identity argument: Spark's `xxhash64(i, h)` with i: INT, h: LONG
  * folds XXH64.hashInt(i, 42) then XXH64.hashLong(h, ·) — this kernel
  * calls the SAME static functions in the same order, with the hashInt
  * prefix precomputed once per i (it is constant across rows). The band
  * hash folds hashLong over the `rows` signature minima from seed 42,
  * exactly `xxhash64(sig[rb], .., sig[rb+rows-1])`. Empty hs: the old
  * form's array_min over an empty transform is NULL per lane, and
  * XxHash64 skips null children, so every band hashes to the bare seed —
  * reproduced explicitly. Output values (and the band join/oracle
  * behavior downstream) are bit-for-bit the r2 aggregate form's.
  */
object MinhashBandKernel {
  private val Seed = 42L
  @volatile private var seedCache: (Int, Array[Long]) = (0, Array.empty)
  private def seeds(k: Int): Array[Long] = {
    val c = seedCache
    if (c._1 == k) c._2
    else {
      val a = Array.tabulate(k)(i =>
        org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(i, Seed))
      seedCache = (k, a)
      a
    }
  }

  def bands(hs: ArrayData, k: Int,
      rows: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val nBands = k / rows
    val n = hs.numElements()
    if (n == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.fill(nBands)(Seed))
    val s = seeds(k)
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = hs.getLong(j)
      var i = 0
      while (i < k) {
        val v = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(h, s(i))
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    val out = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var acc = Seed
      var r = 0
      while (r < rows) {
        acc = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashLong(sig(rows * b + r), acc)
        r += 1
      }
      out(b) = acc
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** One-pass per-document repetition stats: `graft_rep_stats(text)` →
  * struct(n_words, n_distinct, top_c, n_bigrams, top_bg_c). Null text →
  * null row (split's propagation). Every per-document repetition signal of
  * q_repetition_stats in ONE pass over the normalized text (r15, guide
  * §2.3/§1.2): word total/distinct/top-count and bigram total/top-count.
  * Replaces two corpus explodes + two (doc, gram) hash aggregates + one
  * per-doc rollup join — the whole operator becomes a map-only scan
  * (its only exchange left is the presentation sort), which also removes
  * the 32-partition tiny-data fan-out behind the r14 driver's 32-core
  * outlier on this entry.
  *
  * Identity contract: gram identities are the SAME xxhash64 values
  * [[GramHashKernel]] produced for n=1/n=2 dropEmpty (this kernel calls
  * it), and counting equal hashes in a sorted array is exactly the
  * groupBy-count over those hash keys — counts identical modulo the
  * standing 2⁻⁶⁴ collision contract. Documents with zero kept tokens
  * produced no (doc, gram) rows and vanished from the old aggregate;
  * consumers reproduce that by filtering n_words > 0. Single-token
  * documents carry NULL bigram fields (the old LEFT JOIN miss).
  */
object RepStatsKernel {
  def eval(s: UTF8String): InternalRow = {
    val words = GramHashKernel.raw(s, 1, keepEmpty = false)
    val nWords = words.length.toLong
    if (nWords == 0L) return InternalRow(
      0L, 0L, 0L, null, null)
    java.util.Arrays.sort(words)
    var distinct = 0L
    var top = 0L
    var run = 0L
    var i = 0
    while (i < words.length) {
      if (i == 0 || words(i) != words(i - 1)) { distinct += 1; run = 1 }
      else run += 1
      if (run > top) top = run
      i += 1
    }
    if (nWords < 2L) return InternalRow(
      nWords, distinct, top, null, null)
    val bigrams = GramHashKernel.raw(s, 2, keepEmpty = false)
    java.util.Arrays.sort(bigrams)
    var topBg = 0L
    run = 0L
    i = 0
    while (i < bigrams.length) {
      if (i == 0 || bigrams(i) != bigrams(i - 1)) run = 1 else run += 1
      if (run > topBg) topBg = run
      i += 1
    }
    InternalRow(
      nWords, distinct, top, bigrams.length.toLong, topBg)
  }
}

/** One-pass covered-position accounting + corpus rebuild:
  * `graft_cover_mask(text, ps, n)` → struct(n_tokens, n_covered, clean).
  * `ps` must be the ASCENDING matched-gram start positions (pass an empty
  * array, not null, for documents with no matches); n must be foldable.
  * The covered-position accounting and
  * corpus rebuild of q_substring_dedup in ONE pass over the normalized
  * text plus the document's SORTED matched-gram start positions (r15,
  * guide §2.3 — ship intervals, not positions). Replaces: the ×n
  * covered-position explode + corpus-wide (doc, pos) DISTINCT, the full
  * token posexplode (every token a row through an exchange), the
  * (doc, pos) join of those two streams, and the collect_list +
  * array_sort + transform rebuild aggregate.
  *
  * Equivalence: tokens are the dropEmpty space-split of the input (the
  * exact tokenization [[GramHashKernel]] uses, so a gram start position
  * p from its posexplode indexes THIS token sequence); covered =
  * ∪ₚ [p, p+n-1], swept with one pointer over the ascending starts;
  * n_covered = Σ merged interval lengths (every gram end < token count
  * by construction); the rebuilt string is the surviving tokens joined
  * by single spaces IN ORDER — byte-identical to
  * `concat_ws(' ', transform(array_sort(collect_list(struct(pos, tok)
  * where uncovered)), x -> x.tok))` because the kept-token subsequence
  * of a whitespace-collapsed input already carries single separators.
  */
object CoverMaskKernel {
  def eval(s: UTF8String, ps: ArrayData,
      n: Int): InternalRow = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes
    // kept-token boundaries: dropEmpty split at every 0x20 (the
    // GramHashKernel tokenization, restated)
    var nTok = 0
    var p = 0
    var i = 0
    while (i <= len) {
      if (i == len || org.apache.spark.unsafe.Platform.getByte(base, off + i) == ' ') {
        if (i > p) nTok += 1
        p = i + 1
      }
      i += 1
    }
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var t = 0
    p = 0
    i = 0
    while (i <= len) {
      if (i == len || org.apache.spark.unsafe.Platform.getByte(base, off + i) == ' ') {
        if (i > p) { starts(t) = p; ends(t) = i; t += 1 }
        p = i + 1
      }
      i += 1
    }
    val nPs = ps.numElements()
    val outBytes = new Array[Byte](len)
    var w = 0
    var covered = 0L
    var pi = 0
    var curEnd = -1 // rightmost covered token index from starts seen so far
    t = 0
    while (t < nTok) {
      while (pi < nPs && ps.getInt(pi) <= t) {
        val e = ps.getInt(pi) + n - 1
        if (e > curEnd) curEnd = e
        pi += 1
      }
      if (t <= curEnd) covered += 1L
      else {
        if (w > 0) { outBytes(w) = ' '; w += 1 }
        val tl = ends(t) - starts(t)
        org.apache.spark.unsafe.Platform.copyMemory(base, off + starts(t),
          outBytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + w, tl)
        w += tl
      }
      t += 1
    }
    InternalRow(nTok.toLong, covered,
      UTF8String.fromBytes(outBytes, 0, w))
  }
}

/** One row of the kernel table: everything Catalyst needs to type-check
  * a graft function and replace it with a static call into its core.
  *
  * @param args        (name, expected type) per argument; also the arity
  * @param core        the object whose `method` runs per row
  * @param returnsNull the core may return null (boxed, for a primitive
  *                    result) on non-null arguments; otherwise a row is
  *                    null exactly when an argument is
  * @param foldable    arguments that must be foldable, checked at analysis
  * @param fold        the core's arguments from the checked children:
  *                    folds a foldable model once into its holder literal
  *                    and validates foldable values
  */
final case class KernelDef(
    name: String,
    args: Seq[(String, DataType)],
    dataType: DataType,
    core: Class[_],
    method: String,
    returnsNull: Boolean = false,
    foldable: Set[String] = Set.empty,
    fold: Seq[Expression] => Seq[Expression] = identity)

/** The one Catalyst wrapper of every graft kernel. A call type-checks
  * against its [[KernelDef]] row — input types, foldable arguments — and
  * prints, and names its unaliased column, by its SQL name; before
  * optimization it is replaced by a `StaticInvoke` of the row's core,
  * which runs on both eval paths and is a single static call in
  * generated code. A NULL argument yields NULL without calling the core.
  */
case class GraftKernel(name: String, children: Seq[Expression])
    extends RuntimeReplaceable with ExpectsInputTypes {

  private lazy val kernel = GraftFunctions.byName(name)

  override def prettyName: String = name
  override def inputTypes = kernel.args.map(_._2)
  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = kernel.returnsNull || children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult = super.checkInputDataTypes() match {
    case TypeCheckSuccess =>
      kernel.args.map(_._1).zip(children).collectFirst {
        case (arg, c) if kernel.foldable(arg) && !c.foldable =>
          DataTypeMismatch("NON_FOLDABLE_INPUT", Map("inputName" -> s"`$arg`",
            "inputType" -> s""""${c.dataType.sql}"""", "inputExpr" -> s""""${c.sql}""""))
      }.getOrElse(TypeCheckSuccess)
    case failure => failure
  }

  override lazy val replacement: Expression = StaticInvoke(kernel.core,
    kernel.dataType, kernel.method, kernel.fold(children),
    returnNullable = kernel.returnsNull)

  override protected def stringArgs: Iterator[Any] = children.iterator
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GraftKernel = copy(children = newChildren)
}

/** graft's native function surface: the kernel table, the by-name
  * builder operators call ([[call]], which needs no registry), and runtime
  * registration so SQL and `call_function` resolve the kernels on any
  * already-built session. Registration is idempotent — re-registering
  * replaces the same builder.
  * [[graft.plans.GraftExtensions]] consumes the same [[GraftFunctions.all]]
  * list for the session-build path, so the two cannot drift.
  */
object GraftFunctions {
  private val LongVec = ArrayType(LongType)
  private val LongMatrix = ArrayType(LongVec)
  private val Longs = ArrayType(LongType, containsNull = false)
  private val Ints = ArrayType(IntegerType, containsNull = false)
  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  /** The single source of truth for graft's native function surface. */
  val table: Seq[KernelDef] = Seq(
    KernelDef("graft_dot_q", Seq("x" -> LongVec, "y" -> LongVec), LongType,
      VecKernel.getClass, "dot", returnsNull = true),
    KernelDef("graft_rolling_hash", Seq("text" -> StringType), LongType,
      RollingHashKernel.getClass, "eval"),
    KernelDef("graft_simhash64", Seq("hashes" -> LongVec), LongType,
      VecKernel.getClass, "simHash64"),
    KernelDef("graft_matvec_q", Seq("model" -> LongMatrix, "vec" -> LongVec), Longs,
      VecKernel.getClass, "matVec", returnsNull = true, foldable = Set("model"),
      fold = c => Seq(Folded.literal(VecKernel.foldMatrix(c(0), "graft_matvec_q")), c(1))),
    KernelDef("graft_repeated_run", Seq("text" -> StringType), BooleanType,
      RepeatedRunKernel.getClass, "eval"),
    KernelDef("graft_cent_topk",
      Seq("model" -> LongMatrix, "vec" -> LongVec, "k" -> IntegerType), Ints,
      VecKernel.getClass, "centTopK", returnsNull = true, foldable = Set("model", "k"),
      fold = { c =>
        val k = c(2).eval()
        require(k != null && k.asInstanceOf[Int] >= 1, s"graft_cent_topk: k must be >= 1, got $k")
        val m = VecKernel.foldMatrix(c(0), "graft_cent_topk")
        Seq(Folded.literal(m), Folded.literal(if (m == null) null else VecKernel.norms(m)),
          c(1), c(2))
      }),
    KernelDef("graft_pq_codes", Seq("cents" -> ArrayType(LongMatrix), "vec" -> LongVec),
      struct("codes" -> Ints, "n2pq" -> LongType),
      VecKernel.getClass, "pqCodes", returnsNull = true, foldable = Set("cents"),
      fold = { c =>
        val b = VecKernel.foldCodebook(c(0))
        Seq(Folded.literal(b), Folded.literal(if (b == null) null else b.map(VecKernel.norms)),
          c(1))
      }),
    KernelDef("graft_token_counts", Seq("text" -> StringType),
      struct("n_ws" -> IntegerType, "n_bpe" -> IntegerType, "n_punct" -> IntegerType,
        "n_upper" -> IntegerType),
      TokenCountsKernel.getClass, "eval"),
    KernelDef("graft_stop_counts",
      Seq("text" -> StringType, "lists" -> ArrayType(ArrayType(StringType))), Ints,
      StopCountsKernel.getClass, "eval", returnsNull = true, foldable = Set("lists"),
      fold = c => Seq(c(0), Folded.literal(StopCountsKernel.foldWords(c(1))))),
    KernelDef("graft_cjk", Seq("text" -> StringType), BooleanType,
      CjkKernel.getClass, "eval"),
    KernelDef("graft_pii_counts", Seq("text" -> StringType),
      struct("n_email" -> IntegerType, "n_ipv4" -> IntegerType, "n_phone" -> IntegerType,
        "n_idrun" -> IntegerType, "n_pii" -> IntegerType, "n_redactions" -> IntegerType,
        "redact_delta" -> LongType),
      PiiKernel.getClass, "counts"),
    KernelDef("graft_pii_redact", Seq("text" -> StringType),
      struct("clean" -> StringType, "n_redactions" -> IntegerType),
      PiiKernel.getClass, "redact"),
    KernelDef("graft_block_counts",
      Seq("text" -> StringType, "words" -> ArrayType(StringType)),
      struct("n_tok" -> IntegerType, "n_blocked" -> IntegerType),
      BlockCountsKernel.getClass, "eval", returnsNull = true, foldable = Set("words"),
      fold = c => Seq(c(0), Folded.literal(BlockCountsKernel.foldWords(c(1))))),
    KernelDef("graft_norm", Seq("text" -> StringType), StringType,
      NormKernel.getClass, "norm"),
    KernelDef("graft_json_int", Seq("json" -> StringType, "key" -> StringType), IntegerType,
      JsonIntKernel.getClass, "eval", returnsNull = true, foldable = Set("key")),
    KernelDef("graft_gram_hashes",
      Seq("text" -> StringType, "n" -> IntegerType, "keep_empty" -> BooleanType), Longs,
      GramHashKernel.getClass, "hashes", foldable = Set("n", "keep_empty")),
    KernelDef("graft_minhash_bands",
      Seq("hs" -> LongVec, "k" -> IntegerType, "rows" -> IntegerType), Longs,
      MinhashBandKernel.getClass, "bands", foldable = Set("k", "rows")),
    KernelDef("graft_rep_stats", Seq("text" -> StringType),
      StructType(struct("n_words" -> LongType, "n_distinct" -> LongType, "top_c" -> LongType) ++
        Seq("n_bigrams", "top_bg_c").map(StructField(_, LongType, nullable = true))),
      RepStatsKernel.getClass, "eval"),
    KernelDef("graft_cover_mask",
      Seq("text" -> StringType, "ps" -> ArrayType(IntegerType), "n" -> IntegerType),
      struct("n_tokens" -> LongType, "n_covered" -> LongType, "clean" -> StringType),
      CoverMaskKernel.getClass, "eval", foldable = Set("n")))

  lazy val byName: Map[String, KernelDef] = table.map(k => k.name -> k).toMap

  /** The by-name builder, with arity validation — a wrong-arity call must
    * surface as a clear analysis-time error naming the function, not an
    * opaque IndexOutOfBoundsException from inside the registry.
    */
  def kernel(name: String, args: Expression*): GraftKernel = {
    val n = byName(name).args.size
    if (args.size != n) throw new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map(
        "functionName" -> name, "expectedNum" -> n.toString,
        "actualNum" -> args.size.toString, "docroot" -> ""))
    GraftKernel(name, args.toIndexedSeq)
  }

  /** [[kernel]] over columns: how operators build a kernel, on any session. */
  def call(name: String, args: Column*): Column =
    GraftSqlBridge.column(kernel(name, args.map(GraftSqlBridge.expression): _*))

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    table.map(k => (FunctionIdentifier(k.name),
      new ExpressionInfo(classOf[GraftKernel].getCanonicalName, k.name),
      (c: Seq[Expression]) => kernel(k.name, c: _*)))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (id, inf, builder) =>
      reg.registerFunction(id, inf, builder)
    }
  }
}
