package graft

/** Every registered operator must plan and execute against an empty (but
  * schema-correct) dataset — the day-one state of any new lake — without
  * throwing. Empty-input results may legitimately be empty.
  */
class EdgeCaseSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = tempDir("graft_empty").toString
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      Tables.table(spark, sfDir, t).limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    // events is read pre-ts-conversion: copy the raw schema
    spark.read.parquet(s"$sfDir/events.parquet").limit(0)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("every query runs on empty tables without throwing") {
    val failures = SparkEntry.registry.flatMap { q =>
      try { q.run(spark, emptyDir).collect(); None }
      catch { case e: Throwable => Some(s"${q.name}: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  private lazy val nullyDir: String = {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_nully").toString
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach { t =>
      Tables.table(spark, sfDir, t).limit(50)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    // null embedding vectors and labels exercise the similarity ops'
    // null guards (quantization, dot kernel, IVF probe/assignment);
    // null ELEMENTS inside surviving vectors exercise the per-element
    // lambda guards — the engine-divergence class where Spark's HOFs
    // null-propagate while DuckDB's list_filter drops null lambda
    // results (the q_embed_profile incident)
    Tables.embeddings(spark, sfDir).limit(50)
      .withColumn("embedding",
        when(col("vec_id") % 7 === 0, lit(null)).otherwise(col("embedding")))
      .withColumn("embedding",
        when(col("vec_id") % 11 === 0,
          expr("transform(embedding, (x, i) -> IF(i = 0, NULL, x))"))
          .otherwise(col("embedding")))
      .withColumn("label",
        when(col("vec_id") % 5 === 0, lit(null: String)).otherwise(col("label")))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // null/empty text, lang and source on slices of the corpus
    Tables.documents(spark, sfDir)
      .withColumn("text",
        when(col("doc_id") % 3 === 0, lit(null: String))
          .when(col("doc_id") % 3 === 1, lit("")).otherwise(col("text")))
      .withColumn("lang",
        when(col("doc_id") % 5 === 0, lit(null: String)).otherwise(col("lang")))
      .withColumn("source",
        when(col("doc_id") % 7 === 0, lit(null: String)).otherwise(col("source")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("props",
        org.apache.spark.sql.functions.when(col("event_id") % 4 === 0,
          lit(null: String)).otherwise(col("props")))
      .withColumn("value",
        org.apache.spark.sql.functions.when(col("event_id") % 6 === 0,
          lit(null: java.lang.Double)).otherwise(col("value")))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("every query tolerates null text/lang/props without throwing") {
    val failures = SparkEntry.registry.flatMap { q =>
      try { q.run(spark, nullyDir).collect(); None }
      catch { case e: Throwable => Some(s"${q.name}: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every query runs on an adversarially SKEWED lake without throwing") {
    import org.apache.spark.sql.functions._
    // r7 verdict item 7: the AQE-skew claims were plan-shape-asserted but
    // never EXECUTED against actual skew. GenData's skew mode puts 50% of
    // events on one hot event_type, 90% of documents on one hot source
    // and 30% of events on one hot user — the hot keys dominate every
    // groupBy/window/join on those columns. The full registry must still
    // plan and execute (the sf0.1-scale skewed lake additionally goes
    // through the full Verify + DuckDB oracle gate out-of-band — §8).
    val dir = tempDir("graft_skewed").toString
    GenData.write(spark, dir, 0.001, skew = true)
    // the skew is real, not a no-op flag
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val hotType = ev.filter(col("event_type") === "click").count().toDouble / ev.count()
    assert(hotType > 0.55 && hotType < 0.65, s"hot event_type share $hotType")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val hotSrc = docs.filter(col("source") === "src0").count().toDouble / docs.count()
    assert(hotSrc > 0.88, s"hot source share $hotSrc")
    val hotUser = ev.filter(col("user_id") === 0L).count().toDouble / ev.count()
    assert(hotUser > 0.28, s"hot user share $hotUser")
    val failures = SparkEntry.registry.flatMap { q =>
      try { q.run(spark, dir).collect(); None }
      catch { case e: Throwable => Some(s"${q.name}: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("null class keys are ranked/packed, not silently dropped") {
    import org.apache.spark.sql.functions._
    // the two-level decompositions replace class-partitioned windows with
    // block joins: the join keys must be NULL-SAFE, because a NULL lang /
    // source is a legitimate window partition the single-window oracle
    // keeps — an equi-join would drop those rows and break oracle parity
    val nDocs = spark.read.parquet(s"$nullyDir/documents.parquet").count()
    val split = SparkEntry.queries("q_train_split")(spark, nullyDir)
    assert(split.count() == nDocs,
      "train split must assign every document, including NULL lang")
    assert(split.filter(col("lang").isNull).count() ==
      spark.read.parquet(s"$nullyDir/documents.parquet")
        .filter(col("lang").isNull).count())
    val packed = SparkEntry.queries("q_seq_pack")(spark, nullyDir)
      .agg(sum("n_docs")).collect()(0).getLong(0)
    assert(packed == nDocs,
      "seq pack must chunk every document, including NULL source")
  }
}
