package graft

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty

/** The MinHash near-dup chain's two physical paths give the same answer.
  * Under `Gates.MinhashDriverMaxDocs` and `MinhashDriverMaxPairs` the
  * accessors build four of the five entries from one driver pass; every
  * spec corpus (sf0.001/sf0.01) is under both gates, so the other specs pin
  * the driver path. This one pins it to `Similarity.nearDupDistributed`,
  * the distributed chain's unpersisted plans, and checks both gates.
  */
class NearDupPathSpec extends SparkSpec {

  /** The five accessors by cache name. */
  private val entries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "doc_shingle_hashes" -> Similarity.docShingleHashes _,
    "minhash_bands" -> Similarity.minhashBands _,
    "minhash_candidates" -> Similarity.minhashCandidates _,
    "minhash_pairs" -> Similarity.minhashPairs _,
    "dedup_cluster_labels" -> Similarity.dedupClusterLabels _)

  /** The distributed chain's entry `name` over `dir`. */
  private def dist(dir: String, name: String): DataFrame =
    Similarity.nearDupDistributed(spark, dir).toMap.apply(name)

  /** Rows as comparable cell lists (arrays as Seqs), in a fixed order. */
  private def cells(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  private def pairSet(df: DataFrame): Set[(Long, Long)] = df.collect()
    .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet

  /** Built on the driver: a local frame, not a plan over the documents. */
  private def local(df: DataFrame): Boolean = df.queryExecution.analyzed.collectFirst {
    case r: LocalRelation => r
  }.nonEmpty

  /** The accessors took the driver path, and every entry has the
    * distributed chain's schema and rows.
    */
  private def samePaths(dir: String): Option[String] =
    if (!local(Similarity.dedupClusterLabels(spark, dir))) Some("driver path not taken")
    else Similarity.nearDupDistributed(spark, dir).iterator.zip(entries.iterator).map {
      case ((name, dist), (entryName, entry)) =>
        val driver = entry(spark, dir)
        if (name != entryName) Some(s"entry order: $name vs $entryName")
        else if (driver.schema != dist.schema)
          Some(s"$name schema: ${driver.schema.simpleString} vs ${dist.schema.simpleString}")
        else if (cells(driver) != cells(dist))
          Some(s"$name rows: ${cells(driver).take(5)} vs ${cells(dist).take(5)}")
        else None
    }.collectFirst { case Some(e) => e }

  test("near-dup entries: the driver pass and the distributed chain agree on every entry") {
    samePaths(sfDir).foreach(e => fail(e))
    assert(Similarity.minhashPairs(spark, sfDir).count() > 0, "corpus has near-dup pairs")
  }

  test("near-dup queries: q_dedup_minhash, survivors and weights are equal on both paths") {
    val distLabels = dist(sfDir, "dedup_cluster_labels")
    val minhash = Similarity.qDedupMinhash.run(spark, sfDir)
    // ordered rows, jaccard included
    assert(minhash.collect().toSeq ==
      dist(sfDir, "minhash_pairs").orderBy("id_a", "id_b").collect().toSeq)
    assert(Similarity.qDedupSurvivors.run(spark, sfDir).collect().toSeq ==
      Similarity.survivorsOverLabels(spark, sfDir, distLabels).collect().toSeq)
    assert(Similarity.qDedupWeights.run(spark, sfDir).collect().toSeq ==
      Similarity.weightsOverLabels(spark, sfDir, distLabels).collect().toSeq)
  }

  test("minhash recall and precision hold on the distributed path") {
    // the driver path is pinned by SimilaritySpec's recall test
    val exact = Similarity.exactJaccardUnpruned(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard")))
    val mh = dist(sfDir, "minhash_pairs").collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard")))
    val exactSet = exact.map(t => (t._1, t._2)).toSet
    val found = mh.map(m => (m._1, m._2)).toSet
    exact.filter(_._3 == 1.0).foreach { case (a, b, _) =>
      assert(found((a, b)), s"missed exact dup ($a,$b)")
    }
    mh.foreach { case (a, b, j) =>
      assert(exactSet((a, b)), s"false positive ($a,$b)")
      assert(j >= 0.5)
    }
  }

  test("incremental minhash: pairs(old ∪ new) = pairs(old) ∪ increment on both paths") {
    val docs = Tables.documents(spark, sfDir)
    val oldDocs = docs.filter(col("doc_id") % 3 =!= 0)
    val newDocs = docs.filter(col("doc_id") % 3 === 0)
    val oldOnly = pairSet(Similarity.minhashIncrement(oldDocs.filter(lit(false)), oldDocs))
    val inc = Similarity.minhashIncrementScoped(oldDocs, newDocs)(pairSet)
    assert(inc.nonEmpty)
    for ((path, pairs) <- Seq("driver" -> Similarity.minhashPairs(spark, sfDir),
        "distributed" -> dist(sfDir, "minhash_pairs"))) {
      val full = pairSet(pairs)
      assert((oldOnly ++ inc) == full, s"$path: old ${oldOnly.size} + inc ${inc.size} != ${full.size}")
    }
  }

  test("the document gate counts document rows from the footers: at the gate the driver path runs, above it not") {
    // two near-dup documents among one-word ones: only two rows have a
    // shingle, yet every row counts
    def docs(rows: Long): Seq[(Option[Long], String)] =
      Seq(Some(1L) -> "a b c d", Some(2L) -> "a b c d", Some(3L) -> null) ++
        (4L to rows).map(i => Some(i) -> "x")
    for (rows <- Seq(Gates.MinhashDriverMaxDocs.max, Gates.MinhashDriverMaxDocs.max + 1)) {
      val dir = tempDir("graft_neardup_gate").toString
      writeDocs(dir, docs(rows))
      assert(Tables.rowsUpTo(spark, dir, "documents", rows) == rows)
      val labels = Similarity.dedupClusterLabels(spark, dir)
      assert(local(labels) == (rows <= Gates.MinhashDriverMaxDocs.max), s"$rows rows")
      assert(cells(labels) == Seq("1|1", "2|1"))
      assert(cells(Similarity.minhashPairs(spark, dir)) == Seq("1|2|1.0"))
    }
    SessionCache.clear()
  }

  test("the pair gate: exact copies whose band buckets exceed it take the distributed chain") {
    // m exact copies fill one bucket in each of the 8 bands: 8·C(m, 2)
    // bucket pairs. The largest m at the gate runs on the driver, one more
    // copy goes distributed; both give one cluster of every copy.
    val cap = Gates.MinhashDriverMaxPairs.max
    val atGate = Iterator.from(2).takeWhile(m => 8L * m * (m - 1) / 2 <= cap).max
    for (m <- Seq(atGate, atGate + 1)) {
      val dir = tempDir("graft_neardup_copies").toString
      writeDocs(dir, (1 to m).map(i => Some(i.toLong) -> "the same boilerplate page footer") :+
        (Some(m + 1L) -> "one other page of text"))
      val labels = Similarity.dedupClusterLabels(spark, dir)
      assert(local(labels) == (m == atGate), s"$m copies")
      assert(cells(labels) == (1 to m).map(i => s"$i|1").sorted, s"$m copies")
      assert(Similarity.minhashPairs(spark, dir).count() == m.toLong * (m - 1) / 2)
    }
    SessionCache.clear()
  }

  // ------------------------------------------------------------ property

  private def writeDocs(dir: String, docs: Seq[(Option[Long], String)]): Unit = {
    import spark.implicits._
    docs.map { case (id, t) => (id, t) }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private val vocab = Seq("the", "slow", "big", "merge", "of", "day", "Red", "fox",
    "jumps", "lazy", "dog", "over", "ÉTÉ", "日本語", "a", "b")

  private val baseDoc: Gen[Vector[String]] =
    Gen.choose(3, 25).flatMap(Gen.listOfN(_, Gen.oneOf(vocab))).map(_.toVector)

  /** A near-dup variant: two words swapped, one dropped, or one appended. */
  private def variant(w: Vector[String]): Gen[Vector[String]] = Gen.oneOf(
    for (i <- Gen.choose(0, w.size - 1); j <- Gen.choose(0, w.size - 1))
      yield w.updated(i, w(j)).updated(j, w(i)),
    Gen.choose(0, w.size - 1).map(i => w.patch(i, Nil, 1)),
    Gen.oneOf(vocab).map(w :+ _))

  /** A small corpus of base docs, their near-dup variants and exact
    * copies, docs under 3 tokens (no shingle), empty and null texts, a
    * repeated doc_id and a null doc_id.
    */
  private val corpus: Gen[Seq[(Option[Long], String)]] = for {
    bases <- Gen.choose(2, 12).flatMap(Gen.listOfN(_, baseDoc))
    variants <- Gen.sequence[Seq[Vector[String]], Vector[String]](bases.map(b =>
      Gen.frequency(2 -> variant(b), 1 -> Gen.const(b),
        2 -> variant(b).flatMap(variant), 2 -> variant(b).flatMap(variant).flatMap(variant))))
    short <- Gen.listOfN(3, Gen.choose(0, 2).flatMap(Gen.listOfN(_, Gen.oneOf(vocab))))
    repeat <- Gen.choose(0, 1)
  } yield {
    val texts = (bases ++ variants ++ short).map(w => w.mkString(" ")) ++ Seq("", null)
    val ids = texts.indices.map(i => Option(10L + i))
    // the first variant reuses a base's doc_id, the second has none
    ids.updated(bases.size, ids(repeat)).updated(bases.size + 1, None).zip(texts)
  }

  test("driver near-dup core equals the distributed chain on generated corpora [property]") {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(25).withInitialSeed(20261019L).withWorkers(1)
    var withPairs = 0
    val prop = Prop.forAllNoShrink(corpus) { docs =>
      val dir = tempDir("graft_neardup_prop").toString
      writeDocs(dir, docs)
      if (Similarity.minhashPairs(spark, dir).count() > 0) withPairs += 1
      samePaths(dir).fold(Prop.passed)(e => Prop.falsified :| e)
    }
    val r = Test.check(params, prop)
    SessionCache.clear()
    assert(r.passed, Pretty.pretty(Pretty.prettyTestRes(r), Pretty.Params(1)))
    assert(withPairs >= 12, s"only $withPairs generated corpora had a near-dup pair")
  }
}
