package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared text metrics used by both the profiling and text-ops modules —
  * one definition per metric so the whitespace class / empty-string
  * semantics cannot drift between the modules' Spark and oracle sides.
  */
private[graft] object Text {

  /** Word count matching Python's str.split() (empty → 0) — the
    * [[graft.functions.TokenCountsKernel]] byte-scan kernel's n_ws field
    * (spec-pinned ≡ the r11-and-earlier
    * `when(trim(c) === "", 0).otherwise(size(split(trim(c), ws+)))`
    * regex form, which materialized every split token into an array
    * only to take its size). Built as a direct Catalyst expression so
    * callers need no function-registry session handle.
    */
  def wordCount(c: Column): Column =
    graft.functions.GraftFunctions.call("graft_token_counts", c).getField("n_ws")

  private val AsciiUpper = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
  private val AsciiLower = "abcdefghijklmnopqrstuvwxyz"

  /** Whitespace-collapsed, ASCII-case-folded normalization — the
    * canonical form all content dedup/fingerprints key on (batch
    * [[graft.operators.TextOps]] AND the streaming ingest-time dedup
    * share this one definition).
    *
    * Case folding is ASCII-ONLY by contract (translate, not lower()):
    * full Unicode lowercasing is engine-divergent — Spark's lower() (ICU
    * case maps off in [[graft.Sessions]]) is the JVM's
    * `String.toLowerCase` under the default locale ('İ' → i + combining
    * dot, 2 codepoints; under tr-TR 'I' → dotless 'ı') while DuckDB's is
    * the utf8proc SIMPLE 1:1 map ('İ' → 'i') — so a corpus containing
    * those characters would split content-identity groups differently
    * per engine and silently break every md5-keyed dedup/gram oracle.
    * For a CONTENT KEY, deterministic beats linguistically complete:
    * non-ASCII case variants simply stay distinct contents. A
    * multilingual deployment that wants full folding plugs one pinned
    * ICU-versioned fold into BOTH sides — the contract stays "one
    * spelling, two engines".
    */
  def norm(c: Column): Column = {
    // ONE kernel pass (graft.functions.NormKernel, r14) — replaces
    // regexp_replace(translate(trim(c), A-Z, a-z), '[ \t\n\r\f]+', ' '):
    // byte-identical on valid UTF-8 (equivalence argument + spec pin at
    // the kernel), built directly so callers need no registry handle
    graft.functions.GraftFunctions.call("graft_norm", c)
  }

  /** The words of `c`: [[norm]] split at single spaces, minus split's
    * empty tokens (a leading or trailing space, an empty text). The one
    * string tokenizer of the corpus operators. `array_remove` keeps the
    * rows `filter(…, t => t =!= "")` kept (split yields no null
    * elements) and, unlike `ArrayFilter`'s lambda, has generated code.
    */
  def words(c: Column): Column = array_remove(split(norm(c), " "), "")

  /** The xxhash64 of each word-`n`-gram of [[words]]`(c)`, in position
    * order ([[graft.functions.GramHashKernel]], drop-empty): the
    * tokenizer of every operator that needs only gram hashes, never the
    * strings. Null text → null; fewer than `n` words → empty. On valid
    * UTF-8 the hashes are bit-identical to `xxhash64` over the
    * space-joined words; malformed bytes are hashed as they are, where
    * `split` would first rewrite them to U+FFFD.
    */
  def gramHashes(c: Column, n: Int): Column =
    graft.functions.GraftFunctions.call("graft_gram_hashes", norm(c), lit(n), lit(false))

  /** The content key of a text: md5 of [[norm]]. The one definition the
    * batch exact-dedup operators and the streaming ingest dedup
    * ([[graft.streaming.IngestStream.dedupeContent]]) key on, so the two
    * tiers cannot disagree about which documents are the same content.
    */
  def contentKey(c: Column): Column = md5(norm(c))

  /** The pre-kernel regex spelling of [[norm]] (spec use: the kernel's
    * equivalence pin compares against this exact form).
    */
  private[graft] def normRegex(c: Column): Column =
    regexp_replace(translate(trim(c), AsciiUpper, AsciiLower),
      "[ \\t\\n\\r\\f]+", " ")

  /** ASCII-only case maps (Column + SQL) — the [[norm]] contract's
    * building blocks, exported for flags that compare a string against
    * its own case-fold (q_quality_flags' all-caps test: full-vs-simple
    * Unicode mappings diverge per engine on ﬁ/ß/ΐ-class characters, so
    * the cross-engine-exact test is ASCII-letter-only by contract).
    */
  def asciiUpper(c: Column): Column = translate(c, AsciiLower, AsciiUpper)
  def asciiLower(c: Column): Column = translate(c, AsciiUpper, AsciiLower)
  def asciiUpperSql(e: String): String =
    s"translate($e, '$AsciiLower', '$AsciiUpper')"
  def asciiLowerSql(e: String): String =
    s"translate($e, '$AsciiUpper', '$AsciiLower')"

  /** DuckDB mirror of [[norm]] over `expr` ([[normSql]]: over the `text`
    * column) — kept adjacent so the whitespace and case-fold classes
    * cannot drift between the engines' sides.
    */
  def normSqlOf(expr: String): String =
    s"regexp_replace(translate(trim($expr), '$AsciiUpper', '$AsciiLower'), " +
      "'[ \\t\\n\\r\\f]+', ' ', 'g')"

  val normSql: String = normSqlOf("text")

  /** DuckDB mirror of [[wordCount]] over the `text` column. */
  val wordCountSql: String =
    "CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '[ \\t\\n\\r\\f]+')) END"

  /** The deterministic held-out slice rule shared by BOTH decontamination
    * passes ([[TextOps]] verbatim n-gram on doc_id, [[Similarity]]
    * semantic on vec_id): a member is eval iff its id's md5 hex starts
    * with '0' — a stable 1/16 sample. ONE definition so the passes
    * cannot silently disagree about which members are eval.
    */
  def evalSlice(id: Column): Column =
    substring(md5(id.cast("string")), 1, 1) === "0"

  /** DuckDB mirror of [[evalSlice]]. */
  def evalSliceSql(idCol: String): String =
    s"substr(md5(CAST($idCol AS VARCHAR)), 1, 1) = '0'"
}
