package graft

import org.apache.spark.sql.functions._

/** graft's string case mapping, pinned on the non-ASCII cases where
  * case-mapping libraries disagree: dotted and dotless i, ß, ŉ, the
  * titlecase digraph ǅ and the Greek final sigma. Sessions run with ICU
  * case maps off, so these are the JVM's full mappings; a change of
  * mapping library or conf shows up here as a changed string.
  */
class CaseMapSpec extends SparkSpec {

  test("lower/upper/initcap map non-ASCII samples to pinned strings") {
    import spark.implicits._
    // input → (lower, upper, initcap)
    val expected = Map(
      "İstanbul" -> ("i̇stanbul", "İSTANBUL", "İstanbul"),
      "ıiIİ" -> ("ıiii̇", "IIIİ", "Iiii̇"),
      "straße x" -> ("straße x", "STRASSE X", "Straße X"),
      "ŉ" -> ("ŉ", "ʼN", "ŉ"),
      "ǅemal ǆ" -> ("ǆemal ǆ", "ǄEMAL Ǆ", "ǅemal ǅ"),
      "ΟΔΟΣ ΣΟΦΟΣ" -> ("οδος σοφος", "ΟΔΟΣ ΣΟΦΟΣ", "Οδος Σοφος"))
    val got = expected.keys.toSeq.toDF("s")
      .select(col("s"), lower(col("s")), upper(col("s")), initcap(col("s")))
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2), r.getString(3))))
      .toMap
    assert(got == expected)
  }
}
