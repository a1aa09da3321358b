package graft

import graft.functions.GraftFunctions
import graft.operators.{Similarity, Text, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The corpus front every text operator shares: the documents are spread
  * by [[Tables.spreadByDocId]], tokenized by [[Text.words]] or
  * [[Text.gramHashes]] and content-keyed by [[Text.contentKey]], each
  * spelled once.
  */
class CorpusFrontSpec extends SparkSpec {

  /** `src` with its block and line comments removed: a scaladoc that
    * names a replaced spelling is not a use of it.
    */
  private def code(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  test("src/main spreads, tokenizes and content-keys the corpus only through the shared helpers") {
    val banned = Seq(
      // (what, pattern, the one file allowed to spell it)
      ("inline doc_id spread", raw"""(?s)repartition\([^)]*col\("doc_id"\)""".r, Some("Tables.scala")),
      ("tokenizer lambda", raw"filter\(split\(|transform\(filter\(".r, None),
      ("inline content key", raw"md5\((?:[\w.]+\.)?norm\b".r, Some("Text.scala")))
    val offenders = SparkSpec.mainSources().flatMap { case (name, src) =>
      val body = code(src)
      banned.filterNot(_._3.contains(name)).flatMap { case (what, re, _) =>
        re.findAllMatchIn(body).map(m => s"$name: $what `${m.matched.replaceAll("\\s+", " ")}`")
      }
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  /** The tokenizer the helpers replaced: an interpreted filter lambda. */
  private def lambdaWords = filter(split(Text.norm(col("text")), " "), t => t =!= "")

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("token_counts ≡ the split/filter/xxhash64 spelling it replaced") {
    val lambda = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(lambdaWords).as("tok"))
      .groupBy(col("doc_id"), xxhash64(col("tok")).as("h"))
      .agg(count(lit(1)).as("m"))
    sameRows(TextOps.tokenCounts(spark, sfDir), lambda)
  }

  test("simhash_fp ≡ the transform/filter/xxhash64 spelling it replaced") {
    val lambda = Tables.documents(spark, sfDir)
      .select(col("doc_id"), array_distinct(transform(lambdaWords, t => xxhash64(t))).as("hs"))
      .filter(size(col("hs")) >= 1)
      .select(col("doc_id"), GraftFunctions.call("graft_simhash64", col("hs")).as("fp"))
    sameRows(Similarity.simhashFingerprints(spark, sfDir), lambda)
  }
}
