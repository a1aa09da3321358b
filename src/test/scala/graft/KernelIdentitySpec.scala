package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** r15 kernel-identity pins — each new kernel against the exact Spark
  * expression spelling it replaced (the r14 GramHashKernel convention:
  * bit-identical values, proven element-for-element on the corpus plus
  * crafted edges, so consumers and their oracles are untouched by
  * construction).
  */
class KernelIdentitySpec extends SparkSpec {
  import spark.implicits._

  private def bandsKernel(c: org.apache.spark.sql.Column) =
    GraftFunctions.call("graft_minhash_bands", c, lit(32), lit(4))

  private val bandsOld =
    "transform(sequence(0, 7), b -> xxhash64(sig[4*b], sig[4*b+1], sig[4*b+2], sig[4*b+3]))"
  private val sigOld =
    "transform(sequence(0, 31), i -> array_min(transform(hs, h -> xxhash64(i, h))))"

  test("MinhashBands ≡ the nested transform/array_min spelling, corpus-wide") {
    val docs = Tables.documents(spark, sfDir).filter(col("text").isNotNull)
    val hs = operators.Text.norm(col("text"))
    // the pipeline's own shingle-hash arrays (keepEmpty mode)
    val withHs = docs.select(
      GraftFunctions.call("graft_gram_hashes", hs, lit(3), lit(true)).as("hs"))
      .filter(size(col("hs")) > 0)
    val both = withHs
      .withColumn("sig", expr(sigOld))
      .select(expr(bandsOld).as("old"), bandsKernel(col("hs")).as("neu"))
    assert(both.filter(not(col("old") === col("neu"))).count() === 0)
    assert(both.count() > 0)
  }

  test("MinhashBands edges: empty and single-hash arrays match the old form") {
    val df = Seq(Seq.empty[Long], Seq(7L), Seq(1L, 2L, 3L)).toDF("hs")
    val both = df
      .withColumn("sig", expr(sigOld))
      .select(col("hs"), expr(bandsOld).as("old"), bandsKernel(col("hs")).as("neu"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2),
        s"hs=${r.getSeq[Long](0)}")
    }
  }

  test("RepStats ≡ the (doc, gram-hash) groupBy counts, corpus-wide + edges") {
    val corpus = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("string").as("id"), col("text")).collect() ++
      Seq(Row("e1", ""), Row("e2", "   "), Row("e3", null),
        Row("e4", "one"), Row("e5", "a a a b"), Row("e6", "x\ty \n z"))
        .map(r => r)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(corpus.toSeq),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    graft.functions.GraftFunctions.register(spark)
    val norm = operators.Text.norm(col("text"))
    val kernel = df.select(col("id"),
        call_function("graft_rep_stats", norm).as("r"))
      .filter(col("r").isNotNull && col("r.n_words") > 0)
      .select(col("id"), col("r.n_words"), col("r.n_distinct"), col("r.top_c"),
        col("r.n_bigrams"), col("r.top_bg_c"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) null else r.getLong(4),
          if (r.isNullAt(5)) null else r.getLong(5))).toMap
    def gh(n: Int) = GraftFunctions.call("graft_gram_hashes", norm, lit(n), lit(false))
    val wc = df.select(col("id"), explode(gh(1)).as("g"))
      .groupBy("id", "g").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(sum("c").as("nw"), count(lit(1)).as("nd"),
        max("c").as("tc"))
    val bg = df.select(col("id"), explode(gh(2)).as("g"))
      .groupBy("id", "g").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(sum("c").as("nb"), max("c").as("tb"))
    val old = wc.join(bg, Seq("id"), "left").collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4),
        if (r.isNullAt(5)) null else r.getLong(5))).toMap
    assert(kernel === old)
    assert(kernel.nonEmpty && kernel.contains("e5") && !kernel.contains("e1")
      && !kernel.contains("e2") && !kernel.contains("e3"))
    assert(kernel("e4") === ((1L, 1L, 1L, null, null)))
  }

  test("CoverMask ≡ tokens/covered-union/rebuild reference, incl. edges") {
    graft.functions.GraftFunctions.register(spark)
    val n = 5
    val cases: Seq[(String, Seq[Int])] = Seq(
      ("a b c d e f g h", Seq(0)),          // head gram
      ("a b c d e f g h", Seq(0, 1)),       // overlapping grams merge
      ("a b c d e f g h", Seq(0, 3)),       // overlap chain to the end
      ("a b c d e f g h i j k l", Seq(0, 7)), // disjoint intervals
      ("a b c d e", Seq(0)),                // fully covered
      ("a b c d e f", Seq.empty),           // no matches
      ("", Seq.empty),                      // empty text
      ("solo", Seq.empty))
    val df = cases.toDF("text", "ps")
    val out = df.select(col("text"), col("ps"),
        call_function("graft_cover_mask", col("text"), col("ps"), lit(n)).as("r"))
      .collect()
    out.foreach { r =>
      val text = r.getString(0)
      val ps = r.getSeq[Int](1)
      val toks = text.split(" ", -1).filter(_.nonEmpty)
      val covered = ps.flatMap(p => p until (p + n)).toSet
      val surviving = toks.zipWithIndex.collect {
        case (t, i) if !covered.contains(i) => t
      }.mkString(" ")
      val res = r.getStruct(2)
      assert(res.getLong(0) === toks.length.toLong, s"n_tokens for '$text'")
      assert(res.getLong(1) ===
        covered.count(_ < toks.length).toLong, s"n_covered for '$text'")
      assert(res.getString(2) === surviving, s"clean for '$text' ps=$ps")
    }
  }
}
