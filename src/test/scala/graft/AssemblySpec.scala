package graft

import graft.operators.Assembly
import org.apache.spark.sql.functions._

/** Corpus-assembly operators: shard assignment recomputed row-by-row from
  * the greedy fill rule, manifest/export reconciliation, epoch
  * re-permutation, and the pair-count primitive on a crafted corpus.
  */
class AssemblySpec extends SparkSpec {
  // mirror of Text.norm's ASCII-only case fold (the canonical content
  // normalization deliberately does NOT full-Unicode-lowercase — see
  // Text.norm's scaladoc)
  private def asciiFold(s: String): String =
    s.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
  import spark.implicits._

  private def assigned() =
    SparkEntry.queries("q_shard_assign")(spark, sfDir).collect()

  test("shard assignment: greedy fill rule recomputed over the full corpus") {
    val rows = assigned()
      .map(r => (r.getAs[String]("shuffle_key"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("shard_id")))
      .sortBy(t => (t._1, t._2))
    assert(rows.nonEmpty)
    var cum = 0L
    rows.foreach { case (k, id, n, sid) =>
      assert(sid == cum / Assembly.ShardTokens,
        s"doc $id (key $k): shard $sid, expected ${cum / Assembly.ShardTokens}")
      cum += n
    }
    // total function of the corpus: every document assigned exactly once
    assert(rows.length ==
      Tables.documents(spark, sfDir).count().toInt)
    // shard ids are a contiguous 0-based run in key order
    val sids = rows.map(_._4)
    assert(sids.head == 0L && sids.distinct.sorted.sameElements(
      0L to sids.max))
  }

  test("shard manifest: reconciles with the assignment and spans disjoint key ranges") {
    val asg = assigned()
    val man = SparkEntry.queries("q_shard_manifest")(spark, sfDir).collect()
      .sortBy(_.getAs[Long]("shard_id"))
    val byShard = asg.groupBy(_.getAs[Long]("shard_id"))
    assert(man.length == byShard.size)
    man.foreach { r =>
      val docs = byShard(r.getAs[Long]("shard_id"))
      assert(r.getAs[Long]("n_docs") == docs.length.toLong)
      assert(r.getAs[Long]("n_tokens") == docs.map(_.getAs[Long]("n_tokens")).sum)
      assert(r.getAs[String]("first_key") == docs.map(_.getAs[String]("shuffle_key")).min)
      assert(r.getAs[String]("last_key") == docs.map(_.getAs[String]("shuffle_key")).max)
    }
    // shards partition the key space into contiguous increasing runs
    man.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[String]("last_key") < b.getAs[String]("first_key"))
      case _ =>
    }
  }

  test("epoch changes re-permute the corpus deterministically") {
    val docs = Tables.documents(spark, sfDir)
    val e0 = Assembly.shardAssigned(docs, 0).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("shuffle_key")).toMap
    val e1 = Assembly.shardAssigned(docs, 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("shuffle_key")).toMap
    assert(e0.keySet == e1.keySet, "assignment stays total across epochs")
    assert(e0.count { case (id, k) => e1(id) != k } > e0.size / 2,
      "epoch 1 must re-permute most of the corpus")
    val e0again = Assembly.shardAssigned(docs, 0).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("shuffle_key")).toMap
    assert(e0again == e0, "same epoch replays the same permutation")
  }

  test("export shards: partitioned parquet round-trips and matches its manifest") {
    val dir = tempDir("graft_shards").toString
    Assembly.exportShards(spark, sfDir, dir)
    val back = spark.read.parquet(s"$dir/shards")
    assert(back.count() == Tables.documents(spark, sfDir).count(),
      "every document lands in exactly one shard file")
    val man = spark.read.parquet(s"$dir/manifest").collect()
      .map(r => r.getAs[Long]("shard_id") -> r.getAs[Long]("n_docs")).toMap
    val written = back.groupBy("shard_id").count().collect()
      .map(r => r.getAs[Long]("shard_id") -> r.getAs[Long]("count")).toMap
    assert(written == man,
      s"written per-shard counts $written diverge from manifest $man")
    // partition pruning: a shard-filtered read lists only that directory
    val plan = back.filter(col("shard_id") === 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("shard_id"),
      "shard filter must prune partitions:\n" + plan)
  }

  test("pair counts: crafted corpus matches a driver recompute, ties lexicographic") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ate"),
      (3L, "zz aa zz aa zz"),  // "zz aa" x2, "aa zz" x2 — a tie
      (4L, ""), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val toks = Seq("the cat sat on the mat", "the cat ate", "zz aa zz aa zz")
      .map(_.split(" ").toSeq)
    val expected = toks.flatMap(w => w.zip(w.tail).map(p => s"${p._1} ${p._2}"))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val res = {
      // run the registered plan against the crafted frame via a temp dir
      val dir = tempDir("graft_pairs").toString
      docs.withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      SparkEntry.queries("q_pair_counts")(spark, dir).collect()
    }
    val gotPairs = res.map(r => r.getAs[String]("pair") -> r.getAs[Long]("n"))
    assert(gotPairs.toMap == expected,
      s"pair counts ${gotPairs.toMap} != $expected")
    // ordering: count desc, then pair asc — and the tie is adjacent
    assert(gotPairs.sameElements(
      gotPairs.sortBy { case (p, n) => (-n, p) }))
  }

  /** Driver-side reference BPE over a (word, freq) table — the exact loop
    * bpeTrain distributes: freq-weighted pair counts, argmax at (count
    * DESC, left, right), greedy left-to-right non-overlapping replace.
    */
  private def refBpe(words: Map[String, Long], n: Int)
      : Seq[(Int, String, String, String, Long)] = {
    var vocab: Seq[(Vector[String], Long)] = words.toSeq.map {
      case (w, f) => (w.map(_.toString).toVector :+ Assembly.BpeEow, f)
    }
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < n && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) += f
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.toSeq.minBy { case ((a, b), m) => (-m, a, b) }
        out += ((rank, l, r, l + r, c))
        vocab = vocab.map { case (syms, f) =>
          val acc = scala.collection.mutable.ArrayBuffer.empty[String]
          for (sym <- syms) {
            if (acc.nonEmpty && acc.last == l && sym == r)
              acc(acc.length - 1) = l + r
            else acc += sym
          }
          (acc.toVector, f)
        }
        rank += 1
      }
    }
    out.result()
  }

  private def gotMerges(dir: String) =
    SparkEntry.queries("q_bpe_merges")(spark, dir).collect().map(r =>
      (r.getAs[Int]("rank"), r.getAs[String]("left"),
        r.getAs[String]("right"), r.getAs[String]("merged"),
        r.getAs[Long]("pair_count"))).sortBy(_._1)

  test("bpe training: crafted corpus — cascaded merges and ties match the reference loop") {
    val dir = tempDir("graft_bpe").toString
    // 'aaab' x3 forces (a,a) first, then the MINTED 'aa' must re-pair
    // (cascade); 'cb ca' are an all-count-1 tie resolved lexicographically
    Seq((1L, "aaab aaab aaab cb ca"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .withColumn("source", lit("s"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val words = Map("aaab" -> 3L, "cb" -> 1L, "ca" -> 1L)
    val expect = refBpe(words, Assembly.BpeMerges)
    val got = gotMerges(dir)
    assert(got.toSeq == expect, s"merge tables differ:\n$got\nvs\n$expect")
    // the hand-checkable prefix: counting sees every adjacent POSITION,
    // so (a,a) scores 2 per 'aaab' x 3 words = 6 and wins round 0
    assert(got(0) == ((0, "a", "a", "aa", 6L)))
    // the cascade: a later round must consume the minted 'aa' (round 3
    // merges aa+ab</w> by the reference arithmetic)
    assert(got.exists(m => m._2 == "aa" || m._3 == "aa"),
      s"no merge consumed the minted symbol:\n${got.toSeq}")
  }

  /** A crafted lake whose words hold a supplementary-plane character:
    * the driver path seeds each word's symbols with its code points, the
    * distributed path with Spark's `split(word, "")`, and the two must
    * agree on whole code points.
    */
  private lazy val astralDir: String = {
    val dir = tempDir("graft_bpe_astral").toString
    Seq((1L, "a\uD83D\uDE00\uD83D\uDE00 a\uD83D\uDE00\uD83D\uDE00 a\uD83D\uDE00\uD83D\uDE00 \uD83D\uDE00b", "s1"),
      (2L, "\uD83D\uDE00\uD83D\uDE00x \uD83D\uDE00b", "s2"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** The paths above the vocabulary gate, per lake, run once. */
  private lazy val distributed = Seq(sfDir, astralDir)
    .map(d => d -> Assembly.bpeDistributed(spark, d)).toMap

  test("bpe training: distributed and driver loops land the identical merge table") {
    // the size gate must be invisible in the result — run the
    // distributed loop and compare with the gated default
    for (dir <- Seq(sfDir, astralDir)) {
      val dist = distributed(dir)._1
      assert(dist == gotMerges(dir).toSeq,
        s"$dir: physical strategy changed the merge table")
    }
    // (U+1F600, U+1F600) occurs 3× in 'a' + 2 + 2 and once in 2 + 2 + 'x':
    // a whole-code-point pair, so it wins round 0 with count 4
    val smile = "\uD83D\uDE00"
    assert(gotMerges(astralDir).head == ((0, smile, smile, smile + smile, 4L)))
  }

  test("bpe encode: source stats match a driver recompute; both segmentation paths identical") {
    val docs = Tables.documents(spark, sfDir).select("source", "text")
      .collect().flatMap(r => Option(r.getAs[String]("text"))
        .map(t => r.getAs[String]("source") -> t))
    def toks(t: String) =
      asciiFold(t.trim).split("[ \t\n\r\f]+").filter(_.nonEmpty)
    val freqs = docs.flatMap(p => toks(p._2))
      .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    val merges = refBpe(freqs, Assembly.BpeMerges).map(m => (m._2, m._3))
    // reference encode: segment each distinct word by the merges in rank
    // order (greedy left-to-right), then roll up per source
    val segLen = freqs.keys.map { w =>
      var syms = w.map(_.toString).toArray :+ Assembly.BpeEow
      for ((l, r) <- merges) {
        val acc = scala.collection.mutable.ArrayBuffer.empty[String]
        for (sym <- syms) {
          if (acc.nonEmpty && acc.last == l && sym == r)
            acc(acc.length - 1) = l + r
          else acc += sym
        }
        syms = acc.toArray
      }
      w -> syms.length.toLong
    }.toMap
    val expect = docs.groupBy(_._1).map { case (src, ds) =>
      val ws = ds.flatMap(p => toks(p._2))
      val nb = ws.map(segLen).sum
      val n = ws.length.toLong
      (src, n, nb, ((2L * nb * 10000L + n) / (2L * n)).toDouble / 10000.0)
    }.toSet
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[String]("source"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_bpe_tokens"), r.getAs[Double]("bpe_per_word"))).toSet
    val got = rows(SparkEntry.queries("q_bpe_encode")(spark, sfDir))
    assert(got == expect, s"encode stats diverge:\n got=$got\n exp=$expect")
    // a merge strictly compresses: fewer BPE tokens than chars+EOW,
    // but never fewer than one token per word
    got.foreach { case (src, n, nb, _) =>
      assert(nb >= n, s"$src: fewer BPE tokens than words") }
    // the vocab-size gate must be invisible in the result
    assert(rows(distributed(sfDir)._2) == got,
      "distributed segmentation diverged from the driver path")
    val (astralDriver, astralDist) = (Assembly.bpeEncode(spark, astralDir),
      distributed(astralDir)._2)
    assert(rows(astralDist) == rows(astralDriver),
      "supplementary-plane words segment differently on the two paths")
    assert(astralDist.schema == astralDriver.schema)
  }

  test("bpe encode: a cold run over a fresh lake reads documents.parquet once") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = tempDir("graft_bpe_scans").toString
    Tables.documents(spark, sfDir).write.parquet(s"$dir/documents.parquet")
    val scans = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val markerCol = "graft_bpe_scan_marker"
    object Plans extends AdaptiveSparkPlanHelper
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == markerCol)) drained.countDown()
        else scans.addAndGet(Plans.collectWithSubqueries(qe.executedPlan) {
          case scan: FileSourceScanExec
              if scan.relation.location.rootPaths.exists(_.toString.contains(dir)) => scan
        }.size)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = Assembly.bpeEncode(spark, dir).collect()
      assert(out.nonEmpty)
      // listener events arrive in order: once the marker query's has,
      // every scan of the encode has been counted
      spark.range(1).toDF(markerCol).collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    assert(scans.get == 1, s"${scans.get} scans of $dir/documents.parquet")
  }

  test("bpe training: real corpus matches the reference loop end-to-end") {
    // independent word-frequency recount (same normalization as the SUT)
    val words = Tables.documents(spark, sfDir).select("text").collect()
      .flatMap(r => Option(r.getAs[String]("text")))
      .flatMap(t => asciiFold(t.trim).split("[ \t\n\r\f]+").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    val expect = refBpe(words, Assembly.BpeMerges)
    val got = gotMerges(sfDir)
    assert(got.toSeq == expect,
      s"merge tables differ on the real corpus:\n$got\nvs\n$expect")
    assert(got.length == Assembly.BpeMerges,
      "the real corpus must sustain all configured merge rounds")
  }
}
