package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("every similarity query runs") {
    Similarity.all.foreach { q =>
      val df = q.run(spark, sfDir)
      assert(df.columns.nonEmpty, s"${q.name} has no columns")
      df.collect()
    }
  }

  test("cent-topk kernel: head of the full (dist, cid) sort, ties to smaller cid") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // rows 1 and 3 are identical → equal distance to every vector: the
    // tie must resolve to the smaller cid, in every position of the list
    val mat = Array(
      Array(3L, -1L, 2L), Array(0L, 5L, 1L), Array(-2L, 4L, 7L),
      Array(3L, -1L, 2L), Array(1L, 1L, 1L), Array(9L, 0L, -3L))
    val vecs = Seq(
      (1L, Array(2L, 3L, 5L)), (2L, Array(-4L, 0L, 1L)),
      (3L, Array(0L, 0L, 0L)), (4L, Array(3L, -1L, 2L)))
    for (k <- Seq(1, 2, 3, 6, 10)) { // 10 > K: must return all 6
      val got = vecs.toDF("id", "v")
        .select(col("id"),
          call_function("graft_cent_topk", typedlit(mat), col("v"), lit(k)))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
      val expect = vecs.map { case (id, v) =>
        val n2 = v.map(x => x * x).sum
        id -> mat.zipWithIndex.map { case (c, cid) =>
          (n2 + c.map(x => x * x).sum -
            2L * c.zip(v).map { case (a, b) => a * b }.sum, cid)
        }.sorted.take(k).map(_._2).toList
      }.toMap
      assert(got == expect, s"k=$k: $got vs $expect")
    }
  }

  test("cent-topk kernel: null vec, length mismatch, null/empty model") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val mat = Array(Array(1L, 2L), Array(3L, 4L))
    val rows = Seq(
      (1, Option(Array(1L, 1L))),
      (2, Option(Array(1L, 1L, 1L))), // width mismatch -> null
      (3, Option.empty[Array[Long]])) // null vec -> null
      .toDF("id", "v")
      .select(col("id"),
        call_function("graft_cent_topk", typedlit(mat), col("v"), lit(2)).as("t"),
        call_function("graft_cent_topk",
          lit(null).cast("array<array<bigint>>"), col("v"), lit(2)).as("nm"),
        call_function("graft_cent_topk",
          typedlit(Array.empty[Array[Long]]), col("v"), lit(2)).as("em"))
      .orderBy("id").collect()
    assert(rows(0).getSeq[Int](1).toList == List(0, 1))
    assert(rows(1).isNullAt(1), "vec wider than model rows must yield null")
    assert(rows(2).isNullAt(1), "null vec must yield null")
    assert(rows(0).isNullAt(2), "foldable null model must yield null, not NPE")
    assert(rows(0).getSeq[Int](3).isEmpty, "empty model must yield empty list")
  }

  test("incremental minhash: pairs(old ∪ new) = pairs(old) ∪ increment(old, new)") {
    // split the corpus into an "existing lake" and a "daily increment";
    // the incremental path must produce exactly the full-corpus pair set
    // when unioned with the old-only pairs — no missed cross pairs, no
    // re-verified old pairs leaking in
    val docs = Tables.documents(spark, sfDir)
    val oldDocs = docs.filter(col("doc_id") % 3 =!= 0)
    val newDocs = docs.filter(col("doc_id") % 3 === 0)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val full = pairSet(Similarity.qDedupMinhash.run(spark, sfDir))
    val oldOnly = pairSet(Similarity.minhashIncrement(
      oldDocs.filter(lit(false)), oldDocs)) // empty old ⇒ plain self-pairs of old
    val inc = Similarity.minhashIncrementScoped(oldDocs, newDocs)(pairSet)
    assert(inc.nonEmpty, "increment must surface cross/new pairs on this corpus")
    assert(inc.forall { case (a, b) => a % 3 == 0 || b % 3 == 0 },
      "every incremental pair must involve a new doc")
    assert((oldOnly ++ inc) == full,
      s"identity broken: old ${oldOnly.size} + inc ${inc.size} != full ${full.size}")
    // re-ingestion: doc_ids present in BOTH slices resolve new-version-
    // wins (old side anti-joined away). With complete overlap the old
    // slice contributes nothing — the increment must equal the plain
    // self-pairs, with no duplicate rows from the per-doc set joins
    val reingested = Similarity.minhashIncrementScoped(docs, docs) { df =>
      val rows = df.collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      assert(rows.length == rows.toSet.size,
        "duplicate pair rows — the disjointness guard regressed")
      rows.toSet
    }
    assert(reingested == full,
      "full-overlap re-ingestion must equal the corpus self-pairs")
  }

  test("embed clusters: assignment + purity rollup match a driver-side recompute") {
    // full-chain pin: quantization, the deterministic IVF model (exposed
    // private[graft]), nearest-centroid argmin with cid tie-break, and
    // the purity rollup — recomputed independently on the driver
    val model = Similarity.ivfModel(spark, sfDir)
    assert(model.nonEmpty)
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .collect().map { r =>
        val emb = r.getSeq[Float](1)
        (r.getLong(0), r.getInt(2),
          if (emb == null) null
          else emb.map(x => math.round(x.toDouble * 10000)).toArray)
      }
    val expected = vecs.filter(_._3 != null).map { case (_, label, qv) =>
      val n2 = qv.map(x => x * x).sum
      val cid = model.map { case (c, cent, n2c) =>
        (n2 + n2c - 2L * qv.zip(cent).map { case (a, b) => a * b }.sum, c)
      }.min._2
      (cid, label)
    }.groupBy(_._1).map { case (cid, members) =>
      val byLabel = members.groupBy(_._2).view.mapValues(_.length)
      val (topLabel, topN) = byLabel.toSeq.minBy { case (l, n) => (-n, l) }
      val n = members.length
      // Det.exactDiv half-up at 4 dp: floor((2·num·10⁴ + den) / (2·den))
      (cid, n.toLong, topLabel, topN.toLong,
        ((2L * topN * 10000L + n) / (2L * n)).toDouble / 10000.0)
    }.toSet
    val got = Similarity.qEmbedClusters.run(spark, sfDir).collect().map { r =>
      (r.getAs[Int]("cluster_id"), r.getAs[Long]("n_vectors"),
        r.getAs[Int]("top_label"), r.getAs[Long]("top_label_n"),
        r.getAs[Double]("purity"))
    }.toSet
    assert(got == expected, s"cluster rollup mismatch:\n got=$got\n exp=$expected")
  }

  test("knn join: corpus-wide top-5 recall >= 0.8 vs brute force; candidates bounded") {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .collect().flatMap { r =>
        Option(r.getSeq[Float](1)).map(emb =>
          (r.getLong(0), emb.map(x => math.round(x.toDouble * 10000)).toArray))
      }
    val n2 = vecs.map { case (id, v) => id -> v.map(x => x * x).sum }.toMap
    def cos(a: Array[Long], b: Array[Long], na: Long, nb: Long): Double =
      a.zip(b).map { case (x, y) => x * y }.sum.toDouble /
        (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    val brute = vecs.map { case (id, v) =>
      id -> vecs.filter(_._1 != id)
        .map { case (jd, w) => (jd, cos(v, w, n2(id), n2(jd))) }
        .sortBy { case (jd, c) => (-c, jd) }.take(5).map(_._1).toSet
    }.toMap
    val got = Similarity.qKnnJoin.run(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    assert(got.keySet == brute.keySet, "every non-null vector must get neighbors")
    val recall = got.map { case (id, nbrs) =>
      (nbrs & brute(id)).size.toDouble / brute(id).size
    }.sum / got.size
    info(f"knn-join recall@5 = $recall%.2f over ${got.size} queries")
    assert(recall >= 0.8, f"recall $recall%.2f below floor")
    // the exact-rescore volume is the shortlist itself: it must stay a
    // budgeted fraction of all pairs — the self-join must not degenerate
    // to all-pairs
    def knnFraction(dir: String): Double = {
      val shortlist = Similarity.knnShortlist(spark, dir).count()
      val n = spark.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("embedding").isNotNull).count()
      shortlist.toDouble / (n * (n - 1))
    }
    val frac = knnFraction(sfDir)
    info(f"knn-join candidate fraction = $frac%.3f")
    assert(frac <= 0.2, f"candidate volume $frac%.2f of all-pairs — not budgeted")
    // the budget is CONSTANT per query, so the candidate fraction must
    // FALL as the corpus grows — the Θ(n²)-by-construction guard (a
    // fractional budget would hold these equal)
    val frac001 = knnFraction("/root/testdata/sf0.01")
    val frac01 = knnFraction("/root/testdata/sf0.1")
    info(f"knn-join candidate fraction sf0.01 = $frac001%.4f, sf0.1 = $frac01%.4f")
    assert(frac01 < frac001,
      f"fraction must fall with corpus size: sf0.1 $frac01%.4f !< sf0.01 $frac001%.4f")
  }

  test("knn join preconditioned: recall >= 0.8 on a CLUSTERED corpus at sub-√n candidates/query") {
    import spark.implicits._
    // deterministic 200-cluster corpus in 64-dim — the geometry real
    // embedding corpora occupy (class/topic structure), vs the
    // near-isotropic driver corpus where the collision-count path is
    // the measured deployment. ids interleave across clusters so the
    // K-lowest-id seeding spreads over every cluster.
    val nClusters = 200; val perCluster = 10; val dim = 64
    val n = nClusters * perCluster
    def mix(seed: Long): Long = {
      var z = seed + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def uni(seed: Long): Double = // uniform [-1, 1)
      math.floorMod(mix(seed), 1000000L) / 500000.0 - 1.0
    val rows = for (m <- 0 until perCluster; c <- 0 until nClusters) yield {
      val id = (m * nClusters + c).toLong
      val emb = Array.tabulate(dim) { i =>
        (uni(c * 7919L + i) + 0.08 * uni(id * 104729L + i + 13)).toFloat
      }
      (id, emb, c)
    }
    val dir = tempDir("graft_clustered").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // driver-side exact brute force (same quantization as the operator)
    val vecs = rows.map { case (id, emb, _) =>
      id -> emb.map(x => math.round(x.toDouble * 10000)) }.toArray
    val n2 = vecs.map { case (id, v) => id -> v.map(x => x * x).sum }.toMap
    def cos(a: Array[Long], b: Array[Long], na: Long, nb: Long): Double =
      a.zip(b).map { case (x, y) => x * y }.sum.toDouble /
        (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    val brute = vecs.map { case (id, v) =>
      id -> vecs.filter(_._1 != id)
        .map { case (jd, w) => (jd, cos(v, w, n2(id), n2(jd))) }
        .sortBy { case (jd, c) => (-c, jd) }.take(5).map(_._1).toSet
    }.toMap
    val got = Similarity.qKnnJoinIvf.run(spark, dir).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    assert(got.keySet == brute.keySet, "every vector must get neighbors")
    val recall = got.map { case (id, nbrs) =>
      (nbrs & brute(id)).size.toDouble / brute(id).size
    }.sum / got.size
    info(f"preconditioned knn recall@5 (clustered) = $recall%.3f")
    assert(recall >= 0.8, f"recall $recall%.2f below floor on clustered data")
    // THE quadratic-term escape: candidate traffic is sub-√n PER QUERY
    // (nprobe·n/K = 0.5·√n by the K = ⌈6·√n⌉ law), so the whole join is
    // Θ(n^1.5) narrow rows — no geometry makes it all-pairs
    val candPerQuery =
      Similarity.knnIvfCandidates(spark, dir).count().toDouble / n
    info(f"preconditioned knn candidates/query = $candPerQuery%.1f (√n = ${math.sqrt(n)}%.1f)")
    assert(candPerQuery < math.sqrt(n),
      f"candidate work $candPerQuery%.1f/query is not sub-√n")

    // EXECUTABLE geometry dispatch (§4.10 runtime re-planning): the probe
    // must read this corpus as clustered and route knnGraph through the
    // preconditioned path — identical output, so the recall floor above
    // carries through the dispatcher
    val (t5c, p90c, _) = Similarity.knnGeometryStats(spark, dir)
    info(f"geometry probe (clustered corpus): top5=$t5c%.3f bulkP90=$p90c%.3f")
    assert(Similarity.knnGeometryIsClustered(spark, dir),
      f"probe misread the clustered corpus (gap ${t5c - p90c}%.3f)")
    val viaDispatch = Similarity.knnGraph(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    val direct = Similarity.qKnnJoinIvf.run(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    assert(viaDispatch == direct, "dispatcher must route to the IVF path here")
  }

  test("knn geometry dispatch: near-isotropic corpus takes the collision path") {
    // the driver corpus is the adversarial regime (top-5 cosine is just
    // the tail of the bulk distribution): the probe must read it as NOT
    // clustered and knnGraph must produce the collision path's output
    val (t5, p90, p50) = Similarity.knnGeometryStats(spark, sfDir)
    info(f"geometry probe (driver corpus): top5=$t5%.3f bulkP90=$p90%.3f bulkP50=$p50%.3f")
    assert(!Similarity.knnGeometryIsClustered(spark, sfDir),
      f"probe misread the near-isotropic corpus (gap ${t5 - p90}%.3f)")
    // drive through the REGISTERED entry (r6 verdict item 3): the same
    // dispatch the driver's Verify/Bench now execute, not a direct call
    val viaDispatch = SparkEntry.queries("q_knn_graph")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    val direct = Similarity.qKnnJoin.run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    assert(viaDispatch == direct, "dispatcher must route to the collision path here")
  }

  test("knn geometry dispatch: LARGE isotropic corpus still takes the collision path") {
    // the r7 scaling-study regression, pinned: an isotropic corpus's
    // top-5 cosines are extreme order statistics of its own bulk, so
    // they GROW with n (σ·√(2 ln n)) — the old fixed 0.25 gap margin
    // read an n=20000 isotropic corpus as clustered (gap ≈ 0.30) and
    // routed it to the IVF path whose recall there is the documented
    // 0.37. The null-model rule must hold the route at ANY n.
    val dir = tempDir("graft_bigiso").toString
    GenData.embeddingsDf(spark, 20000)
      .write.parquet(s"$dir/embeddings.parquet")
    val (t5, p90, p50) = Similarity.knnGeometryStats(spark, dir)
    info(f"geometry probe (n=20000 isotropic): top5=$t5%.3f bulkP90=$p90%.3f bulkP50=$p50%.3f")
    // the raw gap really does cross the old margin — otherwise this
    // corpus would not exercise the regression at all
    assert(t5 - p90 > 0.25,
      f"corpus no longer exercises the old-margin regression (gap ${t5 - p90}%.3f)")
    assert(!Similarity.knnGeometryIsClustered(spark, dir),
      f"null model misread a large isotropic corpus as clustered " +
        f"(top5=$t5%.3f p90=$p90%.3f p50=$p50%.3f)")
  }

  test("ngram jaccard: symmetric-free (a<b), jaccard in (0,1], dups found") {
    val rows = Similarity.qNgramJaccard.run(spark, sfDir).collect()
    assert(rows.nonEmpty, "expected near-dup pairs (corpus has exact dups)")
    rows.foreach { r =>
      assert(r.getAs[Long]("id_a") < r.getAs[Long]("id_b"))
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.5 && j <= 1.0)
    }
  }

  test("containment: catches a wholly-embedded doc Jaccard misses; superset of jaccard pairs") {
    import spark.implicits._
    val dir = tempDir("graft_contain").toString
    // doc 1 is a verbatim PREFIX of doc 2 (a quoted post inside a long
    // wrapper): every 3-gram of 1 appears in 2 → containment(1→2) = 1.0,
    // while Jaccard(1,2) = 8/28 ≈ 0.29 — below the 0.5 near-dup bar
    val core = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val wrapper = core + " " + (1 to 20).map(i => s"w$i").mkString(" ")
    Seq((1L, core), (2L, wrapper), (3L, "totally unrelated text here now"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Similarity.qNgramContainment.run(spark, dir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Long]("n_grams_a"), r.getAs[Long]("n_shared"),
          r.getAs[Double]("containment"))).toMap
    assert(got.contains((1L, 2L)), s"embedded doc not flagged: $got")
    assert(got((1L, 2L)) == ((8L, 8L, 1.0)),
      s"prefix containment must be exactly 1.0: ${got((1L, 2L))}")
    // the reverse direction is NOT contained (the wrapper has 20 extra
    // grams), and the Jaccard join misses the pair entirely
    assert(!got.contains((2L, 1L)), "container must not read as contained")
    val jac = Similarity.qNgramJaccard.run(spark, dir).collect()
    assert(!jac.exists(r => r.getAs[Long]("id_a") == 1L &&
      r.getAs[Long]("id_b") == 2L),
      "crafted pair must sit below the Jaccard bar to mean anything")

    // real corpus: C(a→b) = x/na >= x/(na+nb-x) = J(a,b), so every
    // Jaccard pair at tau >= ContainmentTau must reappear here (both
    // reports read the same df-capped index)
    val jacReal = Similarity.qNgramJaccard.run(spark, sfDir).collect()
      .filter(_.getAs[Double]("jaccard") >= Similarity.ContainmentTau)
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val contReal = Similarity.qNgramContainment.run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(jacReal.forall(contReal.contains),
      "containment lost a high-Jaccard pair")
    assert(jacReal.nonEmpty, "real corpus must exercise the relation")
  }

  test("ngram jaccard: stop-shingle cap bounds candidate-pair fan-out") {
    // every shingle entering the self-join has df <= cap, so the join's
    // output is bounded by C(cap,2) pairs per shingle TYPE — linear in
    // index size, constant per shingle (the quadratic skew-bomb guard)
    val cap = Similarity.StopShingleDf
    val bigSf = "/root/testdata/sf0.1" // where the cap is actually active
    val kept = Similarity.keptShingles(spark, bigSf)
    val dfs = kept.groupBy("sh_h").agg(count(lit(1)).as("df"))
      .agg(max("df").as("mx"), count(lit(1)).as("nsh"),
        sum(expr("df * (df - 1) div 2")).as("pairBound"))
      .collect()(0)
    assert(dfs.getAs[Long]("mx") <= cap, s"kept shingle df ${dfs.getAs[Long]("mx")} > cap $cap")
    // the cap must be ACTIVE at this sf: pruning strictly shrank the index
    val rawPostings = Similarity.shingles(spark, bigSf).count()
    assert(kept.count() < rawPostings,
      s"cap $cap pruned nothing at $bigSf — guard is untested there")
    // actual candidate pairs (pre-threshold) respect the arithmetic bound
    val sh = kept.select(col("doc_id").as("id_a"), col("sh_h"))
    val cand = sh.join(kept.select(col("doc_id").as("id_b"), col("sh_h")), Seq("sh_h"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct().count()
    assert(cand <= dfs.getAs[Long]("pairBound"),
      s"candidate pairs $cand exceed per-shingle bound ${dfs.getAs[Long]("pairBound")}")
    assert(cand <= dfs.getAs[Long]("nsh") * cap.toLong * (cap - 1) / 2,
      "candidate pairs exceed nShingleTypes * C(cap,2)")
  }

  test("minhash recall: finds every exact-duplicate (j=1) pair; no false positives") {
    // baseline = UNPRUNED exact Jaccard: minhash verification scores full
    // shingle sets, so the stop-shingle-capped query is not its oracle
    val exact = Similarity.exactJaccardUnpruned(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard")))
    val mh = Similarity.qDedupMinhash.run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard")))
    val exactSet = exact.map(t => (t._1, t._2)).toSet
    // j=1.0 pairs share every shingle, hence every band: recall 1 guaranteed
    exact.filter(_._3 == 1.0).foreach { case (a, b, _) =>
      assert(mh.exists(m => m._1 == a && m._2 == b), s"missed exact dup ($a,$b)")
    }
    // verification step makes precision exact
    mh.foreach { case (a, b, j) =>
      assert(exactSet.contains((a, b)), s"false positive ($a,$b)")
      assert(j >= 0.5)
    }
  }

  test("simhash: identical docs collide at hamming 0; all pairs <= 3") {
    val rows = Similarity.qDedupSimhash.run(spark, sfDir).collect()
    assert(rows.nonEmpty, "exact dups must collide")
    rows.foreach(r => assert(r.getAs[Int]("hamming") <= 3))
    // every exact-content duplicate pair must appear with hamming 0
    val dups = Tables.documents(spark, sfDir)
      .groupBy("text").agg(collect_list("doc_id").as("ids"), count(lit(1)).as("n"))
      .filter(col("n") > 1 && trim(col("text")) =!= "")
      .collect().flatMap { r =>
        val ids = r.getAs[Seq[Long]]("ids").sorted
        ids.combinations(2).map(p => (p(0), p(1)))
      }
    val got = rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    dups.foreach { case (a, b) =>
      assert(got.contains((a, b)), s"identical docs ($a,$b) not found")
    }
  }

  test("simhash pair set equals all-pairs brute force exactly (distinct-fp rewrite guard)") {
    // the r8 distinct-fingerprint rewrite (hot identical-fp band buckets
    // made the doc-grain band join Θ(n²) rows at sf10) must emit EXACTLY
    // the pairs the definition names: every unordered doc pair whose
    // fingerprints sit within Hamming ≤ 3, each exactly once
    graft.functions.GraftFunctions.register(spark)
    val fps = Similarity.withSimhashFp(Tables.documents(spark, sfDir))
      .select("doc_id", "fp").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("fp")))
    val expected = (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 3
    } yield ((a, b), h)).toMap
    val rows = Similarity.qDedupSimhash.run(spark, sfDir).collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Int]("hamming")))
    assert(rows.length == rows.toMap.size, "a pair must be emitted exactly once")
    assert(rows.toMap == expected,
      s"pair sets differ: got ${rows.length}, expected ${expected.size}")
  }

  test("SimHash64 expression equals the 64-aggregate DataFrame formulation") {
    import org.apache.spark.sql.functions.{filter => afilter, _}
    graft.functions.GraftFunctions.register(spark)
    // reference: the explode → distinct → 64 bit-sum shuffle pipeline the
    // per-row expression replaced — fingerprints must be bit-identical
    val toksRef = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(split(regexp_replace(lower(trim(col("text"))), "[ \\t\\n\\r\\f]+", " "), " "))
          .as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
      .distinct()
    val bitSums = (0 until 64).map(b =>
      sum(when(shiftrightunsigned(col("h"), b).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"s$b"))
    val ref = toksRef.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(b =>
          when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ bitwiseOR _)
          .as("fp"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fp")).toMap
    val toks = split(
      regexp_replace(lower(trim(col("text"))), "[ \\t\\n\\r\\f]+", " "), " ")
    val hs = array_distinct(transform(afilter(toks, t => t =!= ""), t => xxhash64(t)))
    val got = Tables.documents(spark, sfDir)
      .select(col("doc_id"), hs.as("hs"))
      .filter(size(col("hs")) >= 1)
      .select(col("doc_id"), call_function("graft_simhash64", col("hs")).as("fp"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fp")).toMap
    assert(got == ref, "fingerprints diverge between expression and aggregate forms")
  }

  test("dedup clusters: components equal a driver-side union-find closure") {
    val pairs = Similarity.qDedupMinhash.run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.nonEmpty, "corpus has near-dup pairs")
    // reference union-find over the same pair graph
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(x => x -> find(x)).toSeq
      .groupBy(_._2).map { case (_, m) => m.map(_._1).toSet }
      .filter(_.size > 1).toSet
    val rows = Similarity.qDedupClusters.run(spark, sfDir).collect()
    def memberSet(r: org.apache.spark.sql.Row): Set[Long] =
      r.getAs[String]("members").split(",").map(_.toLong).toSet
    val got = rows.map(memberSet).toSet
    assert(got == expected, s"cluster partitions differ:\n got=$got\n exp=$expected")
    // canonical keeper is the cluster minimum
    rows.foreach { r =>
      assert(r.getAs[Long]("keep_id") == memberSet(r).min)
    }
  }

  // both physical strategies must produce the identical labeling: the
  // single-task union-find (what components runs under its gate) and the
  // shuffle min-label-propagation loop (the branch that runs at 100 TB)
  private val componentStrategies: Seq[(String, DataFrame => DataFrame)] = Seq(
    "union-find" -> Similarity.components _,
    "propagation-loop" -> Similarity.propagateComponents _)

  for ((branch, strategy) <- componentStrategies)
  test(s"components [$branch]: chain, star and disjoint cliques collapse to min labels") {
    import spark.implicits._
    // a 60-node chain (worst case for hop-only propagation), a star, and
    // two disjoint cliques — every node must end at its component minimum
    val chain = (100L until 159L).map(i => (i, i + 1))
    val star = Seq((500L, 501L), (500L, 502L), (500L, 503L))
    val cliqueA = Seq((700L, 701L), (700L, 702L), (701L, 702L))
    val cliqueB = Seq((800L, 801L))
    val pairs = (chain ++ star ++ cliqueA ++ cliqueB).toDF("id_a", "id_b")
    val labels = strategy(pairs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("label")).toMap
    (100L to 159L).foreach(i => assert(labels(i) == 100L, s"chain node $i"))
    Seq(500L, 501L, 502L, 503L).foreach(i => assert(labels(i) == 500L))
    Seq(700L, 701L, 702L).foreach(i => assert(labels(i) == 700L))
    Seq(800L, 801L).foreach(i => assert(labels(i) == 800L))
    assert(labels.size == 60 + 4 + 3 + 2)
  }

  test("components [randomized]: both strategies equal a driver union-find on random graphs") {
    import spark.implicits._
    // seeded: failures replay exactly; random topologies cover the
    // shapes the fixed chain/star/clique test cannot enumerate
    val rnd = new scala.util.Random(20260813L)
    (1 to 5).foreach { round =>
      val ids = Seq.fill(40)(rnd.nextLong().abs % 1000L).distinct
      val edges = Seq.fill(60) {
        val a = ids(rnd.nextInt(ids.size)); val b = ids(rnd.nextInt(ids.size))
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      assert(edges.nonEmpty)
      // driver reference: classic union-find, then min id per component
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
      }
      val members = parent.keys.toSeq.groupBy(find)
      val expected = members.values.flatMap { ms =>
        val keep = ms.min; ms.map(_ -> keep)
      }.toMap
      for ((branch, strategy) <- componentStrategies) {
        val labels = strategy(edges.toDF("id_a", "id_b"))
          .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("label")).toMap
        assert(labels == expected,
          s"round $round $branch diverged from the reference")
      }
    }
  }

  test("embed neardup: pairs respect threshold and label blocking") {
    val rows = Similarity.qEmbedNeardup.run(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("cosine") >= 0.4)
      assert(r.getAs[Long]("id_a") < r.getAs[Long]("id_b"))
    }
    // label blocking: both members of every pair share a label — a dropped
    // block join (the O(n²) regression) would emit cross-label pairs
    val labels = Tables.embeddings(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Any]("label")).toMap
    rows.foreach { r =>
      assert(labels(r.getAs[Long]("id_a")) == labels(r.getAs[Long]("id_b")),
        s"cross-label pair (${r.getAs[Long]("id_a")}, ${r.getAs[Long]("id_b")})")
    }
  }

  test("cosine topk: 5 ranked neighbors per query, descending") {
    val rows = Similarity.qCosineTopk.run(spark, sfDir).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 10)
    byQ.foreach { case (_, rs) =>
      assert(rs.length == 5)
      val cs = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y }, "not descending")
    }
  }

  test("ivf ann: recall@5 vs brute force is nontrivial, results ranked per query") {
    val brute = Similarity.qCosineTopk.run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.qAnnIvf.run(spark, sfDir).collect()
    ivf.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      assert(rs.length <= 5)
      val cs = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y }, "not descending")
    }
    val pairs = ivf
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (brute & pairs).size.toDouble / brute.size
    info(s"IVF recall@5 = $recall")
    assert(recall >= 0.8, s"recall $recall regressed (0.94 at pin time)")
  }

  test("lsh ann: recall@5 >= 0.8 AND candidate fraction <= 0.2") {
    val brute = Similarity.qCosineTopk.run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val lsh = Similarity.qAnnLsh.run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    info(s"LSH recall@5 = $recall")
    assert(recall >= 0.8, s"recall $recall regressed (0.90 at pin time)")
    // selectivity: the exact-scored shortlist is hard-capped — measure it
    val nVec = Tables.embeddings(spark, sfDir).count()
    val nQueries = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 10).count()
    val shortlisted = Similarity.annLshShortlist(spark, sfDir, col("vec_id") < 10).count()
    val frac = shortlisted.toDouble / (nQueries * (nVec - 1))
    info(s"LSH candidate fraction = $frac")
    assert(frac <= 0.2, s"candidate fraction $frac exceeds 0.2")
  }

  test("lsh shortlists: the budgets' corpus count runs once per lake") {
    val queries = col("vec_id") < 10
    Similarity.annLshShortlist(spark, sfDir, queries)
    Similarity.knnShortlist(spark, sfDir)
    assert(Similarity.nQuantizedRows(spark, sfDir) == Similarity.quantized(spark, sfDir).count())
    assert(jobs(Similarity.annLshShortlist(spark, sfDir, queries)) == 0)
    assert(jobs(Similarity.knnShortlist(spark, sfDir)) == 0)
  }

  test("neardup cross-source: rollup matches a driver recompute from the pinned labels") {
    val labels = Similarity.dedupClusterLabels(spark, sfDir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("label"))
    assert(labels.nonEmpty, "corpus must have near-dup clusters")
    val srcOf = Tables.documents(spark, sfDir).select("doc_id", "source")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source"))
      .toMap
    val pairs = labels.map { case (id, l) => (l, srcOf(id)) }.distinct
    val crossClusters = pairs.groupBy(_._1).collect {
      case (l, ms) if ms.map(_._2).distinct.length > 1 => l
    }.toSet
    val expect = pairs.groupBy(_._2).map { case (src, cs) =>
      val n = cs.length.toLong
      val x = cs.count(p => crossClusters(p._1)).toLong
      (src, n, x, ((2L * x * 10000L + n) / (2L * n)).toDouble / 10000.0)
    }.toSet
    val got = Similarity.qNeardupCrossSource.run(spark, sfDir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_clusters"),
        r.getAs[Long]("n_cross_clusters"), r.getAs[Double]("cross_rate")))
      .toSet
    assert(got == expect, s"cross-source rollup off:\n got=$got\n exp=$expect")
    assert(got.nonEmpty)
  }

  test("ivf increment: frozen-model assignment equals driver argmin; index append idempotent") {
    import spark.implicits._
    val model = Similarity.ivfModel(spark, sfDir)
    assert(model.nonEmpty)
    // new vectors the corpus has never seen: perturbed copies of real ones
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .limit(20).collect().map(r =>
        (r.getLong(0) + 1000000L, r.getSeq[Float](1).map(x => x + 0.05f)))
    val newVecs = base.toSeq.toDF("vec_id", "embedding")
    val got = Similarity.ivfAssignIncrement(spark, sfDir, newVecs)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cid")).toMap
    // driver argmin against the same frozen model + quantization
    val expect = base.map { case (id, emb) =>
      val qv = emb.map(x => math.round(x.toDouble * 10000)).toArray
      val n2 = qv.map(x => x * x).sum
      id -> model.map { case (c, cent, n2c) =>
        (n2 + n2c - 2L * qv.zip(cent).map { case (a, b) => a * b }.sum, c)
      }.min._2
    }.toMap
    assert(got == expect, s"increment assignment diverged:\n$got\nvs\n$expect")
    // the written index: first append lands all, replay is a per-key no-op
    val path = tempDir("graft_ivfinc")
      .resolve("index").toString
    Similarity.ivfIndexAppend(spark, sfDir, newVecs, path)
    assert(spark.read.parquet(path).count() == base.length.toLong)
    Similarity.ivfIndexAppend(spark, sfDir, newVecs, path)
    val stored = spark.read.parquet(path).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cid")).toMap
    assert(stored == expect, "replay changed the landed index")
  }

  test("pq codebook + codes match a full driver recompute") {
    val vecs = Tables.embeddings(spark, sfDir)
      .filter(col("embedding").isNotNull).orderBy("vec_id").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding"))
          .map(x => math.round(x.toDouble * 10000)).toArray)
    val m = Similarity.PqBlocks; val sd = Similarity.PqSubDim
    val kk = Similarity.PqCodes
    // reference codebook: 16 lowest-id seeds per block, one Lloyd pass
    // with the operator's own arithmetic (argmin by n2c - 2·dot, ties to
    // smallest k; floor of the double mean — the ivfModelK precedent)
    val seeds = vecs.take(kk).map(_._2)
    def sub(v: Array[Long], j: Int) = v.slice(j * sd, (j + 1) * sd)
    def dot(a: Array[Long], b: Array[Long]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    var model: Array[Array[Array[Long]]] =
      Array.tabulate(m)(j => seeds.map(sub(_, j)))
    def argmin(j: Int, s0: Array[Long]) =
      (0 until model(j).length).minBy { k =>
        val c = model(j)(k); (dot(c, c) - 2 * dot(s0, c), k)
      }
    val sums = scala.collection.mutable.Map
      .empty[(Int, Int), (Array[Long], Long)]
    for ((_, v) <- vecs; j <- 0 until m) {
      val s0 = sub(v, j); val k = argmin(j, s0)
      val (acc, n) = sums.getOrElse((j, k), (Array.fill(sd)(0L), 0L))
      sums((j, k)) = (acc.zip(s0).map { case (a, b) => a + b }, n + 1)
    }
    model = Array.tabulate(m)(j => Array.tabulate(model(j).length)(k =>
      sums.get((j, k)).map { case (acc, n) =>
        acc.map(x => math.floor(x.toDouble / n).toLong)
      }.getOrElse(model(j)(k))))
    val gotModel = Similarity.pqModel(spark, sfDir)
    assert(gotModel.length == m)
    for (j <- 0 until m; k <- 0 until gotModel(j).length) {
      assert(gotModel(j)(k)._1.sameElements(model(j)(k)),
        s"codebook cell ($j,$k) differs")
      assert(gotModel(j)(k)._2 == dot(model(j)(k), model(j)(k)),
        s"codebook norm ($j,$k) differs")
    }
    // reference encode vs the written codes frame
    val gotCodes = Similarity.pqCodesFrame(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getSeq[Int](r.fieldIndex("codes")).toList,
          r.getAs[Long]("n2pq"))).toMap
    assert(gotCodes.keySet == vecs.map(_._1).toSet)
    for ((id, v) <- vecs) {
      val codes = (0 until m).map(j => argmin(j, sub(v, j))).toList
      assert(gotCodes(id)._1 == codes, s"codes differ for $id")
      val n2pq = (0 until m).map(j =>
        dot(model(j)(codes(j)), model(j)(codes(j)))).sum
      assert(gotCodes(id)._2 == n2pq, s"n2pq differs for $id")
      assert(codes.forall(c => c >= 0 && c < kk), "codes must be 4-bit")
    }
  }

  test("pq survives a corpus narrower than PqCodes (short codebook, valid codes)") {
    import spark.implicits._
    // 5 vectors < 16 seeds: the codebook trains at width 5 and every
    // stride (codes frame n2lut, query LUTs) must follow the ACTUAL
    // width — a hard-coded 16 reads the wrong block's norms or overruns
    val dir = tempDir("graft_pqsmall").toString
    val rnd = new scala.util.Random(7)
    (0 until 5).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f).toSeq, i % 2))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val model = Similarity.pqModel(spark, dir)
    assert(model.forall(_.length == 5), "codebook must be 5 wide")
    val codes = Similarity.pqCodesFrame(spark, dir).collect()
    assert(codes.length == 5)
    codes.foreach { r =>
      val cs = r.getSeq[Int](r.fieldIndex("codes"))
      assert(cs.forall(c => c >= 0 && c < 5), s"code out of range: $cs")
    }
    val out = Similarity.qAnnPq.run(spark, dir).collect()
    assert(out.nonEmpty, "small-corpus ANN must still answer")
    out.foreach(r => assert(!r.isNullAt(r.fieldIndex("cosine"))))
  }

  test("pq ann: recall@5 >= 0.8 vs brute force from 16-byte rows") {
    val brute = Similarity.qCosineTopk.run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val pq = Similarity.qAnnPq.run(spark, sfDir).collect()
    pq.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      assert(rs.length <= 5)
      val cs = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y }, "not descending")
    }
    val pairs = pq
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (brute & pairs).size.toDouble / brute.size
    info(s"PQ recall@5 = $recall")
    assert(recall >= 0.8, s"recall $recall regressed")
    // the reported cosines are EXACT (re-ranked), not reconstructions:
    // every (query, neighbor) cosine must equal the brute-force value
    val bruteCos = Similarity.qCosineTopk.run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("cosine")).toMap
    pq.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      bruteCos.get(key).foreach { c =>
        assert(r.getAs[Double]("cosine") == c,
          s"re-ranked cosine not exact for $key")
      }
    }
  }

  test("quality-aware survivors: same partition as min-id policy, keeper is argmax") {
    val best = Similarity.qDedupSurvivorsBest.run(spark, sfDir).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val minid = Similarity.qDedupSurvivors.run(spark, sfDir).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(best.size == minid.size,
      "both policies keep one member per cluster plus every singleton")
    val clusters = Similarity.qDedupClusters.run(spark, sfDir).collect()
    assert(clusters.nonEmpty)
    val clustered = clusters
      .flatMap(_.getAs[String]("members").split(",").map(_.toLong)).toSet
    assert((best -- clustered) == (minid -- clustered), "singletons identical")
    val quality = graft.operators.TextOps.qQualityScore.run(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (if (r.isNullAt(r.fieldIndex("quality_score"))) -1.0
         else r.getAs[Double]("quality_score"))).toMap
    clusters.foreach { c =>
      val members = c.getAs[String]("members").split(",").map(_.toLong)
      val kept = members.filter(best)
      assert(kept.length == 1, s"cluster ${c.getAs[Long]("keep_id")} keeps one member")
      val want = members.map(m => (quality(m), m))
        .sortBy { case (sc, id) => (-sc, id) }.head._2
      assert(kept.head == want,
        s"cluster ${c.getAs[Long]("keep_id")}: kept ${kept.head}, argmax is $want")
    }
  }

  test("withSimhashFp rejects frames that already carry a __hs/fp column") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      Similarity.withSimhashFp(Seq((1L, "a b", 7L)).toDF("doc_id", "text", "fp"))
    }
    intercept[IllegalArgumentException] {
      Similarity.withSimhashFp(
        Seq((1L, "a b", "x")).toDF("doc_id", "text", "__hs"))
    }
  }

  test("simhash: size-gated broadcasts — the unhinted far side emits the same pairs") {
    val hinted = Similarity.qDedupSimhash.run(spark, sfDir)
    assert(joinHints(hinted).nonEmpty, "under both gates the joins must be hinted")
    val far = unhinted(hinted) { df =>
      assert(!df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "far side still statically broadcasts a join")
      df.collect().toSet
    }
    val rows = hinted.collect()
    assert(rows.nonEmpty && rows.toSet == far, "physical strategies disagree on the pairs")
  }

  // under the measured gate the member joins carry the hint; the far side
  // (the >Gates.MemberBroadcastMaxRows web-corpus case) is the same plan
  // unhinted, with nothing broadcast by size either. Both forms are
  // pinned to one set of rows
  for ((family, query) <- Seq("survivors-best" -> Similarity.qDedupSurvivorsBest,
      "dedup weights" -> Similarity.qDedupWeights))
  test(s"$family: size-gated broadcast — both physical forms identical") {
    val hinted = query.run(spark, sfDir)
    assert(joinHints(hinted).nonEmpty, "gated-on branch lost its broadcast hint")
    val far = unhinted(hinted) { df =>
      assert(joinHints(df).isEmpty, "far side must ship unhinted")
      assert(!df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "far side still statically broadcasts a member join")
      df.collect().toSeq
    }
    assert(hinted.collect().toSeq == far, "physical strategies disagree on the rows")
  }

  test("IVF point scorer: the shuffled list join scores the broadcast form's rows") {
    // the far side of Gates.SemanticEvalBroadcastMaxDocs: eval probes carrying their
    // vectors into a shuffled cid join against the train members
    val isEval = graft.operators.Text.evalSlice(col("vec_id"))
    val k = Similarity.knnIvfK(Similarity.nQuantized(spark, sfDir))
    val shuffled = Similarity.ivfListScored(spark, sfDir,
        Similarity.quantized(spark, sfDir).filter(isEval && col("qv").isNotNull),
        Similarity.ivfMembersKnnK(spark, sfDir, k).filter(!isEval),
        math.min(Similarity.PointIvfProbe, k))
      .select("query_id", "vec_id", "label", "cosine")
    val far = unhinted(shuffled) { df =>
      assert(!df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "the list join must shuffle")
      df.collect().toSet
    }
    val hinted = Similarity.annIvfScoredPoint(spark, sfDir)
    assert(joinHints(hinted).nonEmpty, "under the gate the probes must broadcast")
    val rows = hinted.collect()
    assert(rows.nonEmpty && rows.toSet == far, "the two shapes disagree on the scored rows")
  }

  test("semantic decon: approx maxima never exceed exact; flagged recall >= 0.8") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val raw = spark.read.parquet(s"$sfDir/embeddings.parquet").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Float](1))
        .map(_.map(x => math.round(x.toDouble * 10000)).toArray))
    val evalIds = raw.map(_._1).filter(id => md5hex(id.toString).startsWith("0")).toSet
    val vecs = raw.collect { case (id, Some(v)) => id -> v }
    val n2 = vecs.map { case (id, v) => id -> v.map(x => x * x).sum }.toMap
    def cos(a: Array[Long], b: Array[Long], na: Long, nb: Long): Double =
      a.zip(b).map { case (x, y) => x * y }.sum.toDouble /
        (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    val (evalV, trainV) = vecs.partition { case (id, _) => evalIds(id) }
    // exact brute-force maximum train cosine per eval vector
    val exact = evalV.map { case (id, v) =>
      id -> trainV.map { case (jd, w) => cos(v, w, n2(id), n2(jd)) }.max
    }.toMap
    val rows = Similarity.qDecontaminateSemantic.run(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("vec_id")).toSet == evalIds,
      "every eval vector must stay in the report")
    // verdict contract: NULL iff unembeddable; an embeddable vector is
    // always assessed (false even when its shortlist came back empty)
    val hasVec = raw.toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      assert(r.isNullAt(r.fieldIndex("contaminated")) == hasVec(id).isEmpty,
        s"vec $id: NULL verdict iff null embedding")
    }
    rows.filter(r => !r.isNullAt(r.fieldIndex("max_train_cosine"))).foreach { r =>
      val id = r.getAs[Long]("vec_id")
      // candidates are a subset and rescoring is exact, so the reported
      // maximum can only fall short of the true one, never exceed it
      assert(r.getAs[Double]("max_train_cosine") <= exact(id) + 1e-9,
        s"vec $id reported above the exact maximum")
    }
    val exactFlagged = exact.filter(_._2 >= Similarity.SemanticTau).keySet
    assert(exactFlagged.nonEmpty, "spec corpus must contain semantic contamination")
    val gotFlagged = rows.filter(r => !r.isNullAt(r.fieldIndex("contaminated"))
      && r.getAs[Boolean]("contaminated")).map(_.getAs[Long]("vec_id")).toSet
    // approx max <= exact max means a flag IMPLIES exact contamination:
    // the operator can under-flag, never over-flag
    assert((gotFlagged -- exactFlagged).isEmpty, "false positive flags")
    val recall = (gotFlagged & exactFlagged).size.toDouble / exactFlagged.size
    info(f"semantic-decon flagged recall = $recall%.2f " +
      s"(${exactFlagged.size} exact-contaminated of ${evalIds.size} eval)")
    assert(recall >= 0.8, f"recall $recall%.2f below floor")
  }

  test("label centroids: every (label, dim) cell, within quantization of float mean") {
    import org.apache.spark.sql.functions._
    val rows = Similarity.qLabelCentroids.run(spark, sfDir).collect()
    val emb = Tables.embeddings(spark, sfDir)
    val labels = emb.select("label").distinct().collect().map(_.getInt(0))
    val dims = emb.select(size(col("embedding"))).distinct().collect()
    assert(dims.length == 1)
    assert(rows.length == labels.length * dims(0).getInt(0))
    // spot-check one label against a driver-side float mean: the exact
    // integer path must land within one quantization step (1e-4) + the
    // float accumulation noise of the naive mean
    val lbl = labels.min
    val naive = emb.filter(col("label") === lbl)
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos").agg(avg(col("x").cast("double")).as("m"))
      .collect().map(r => (r.getAs[Int]("pos") + 1).toLong -> r.getAs[Double]("m")).toMap
    rows.filter(r => r.getAs[Int]("label") == lbl).foreach { r =>
      val d = r.getAs[Long]("dim")
      assert(math.abs(r.getAs[Double]("centroid") - naive(d)) < 2e-4,
        s"dim $d: ${r.getAs[Double]("centroid")} vs ${naive(d)}")
    }
  }

  test("dedup weights: 1/|cluster| exact, total corpus weighting, conserved per cluster") {
    val rows = Similarity.qDedupWeights.run(spark, sfDir).collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(rows.length == nDocs, "every document gets a weight row")
    val byId = rows.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"),
        r.getAs[Double]("weight")))).toMap
    // partition identity with the cluster view
    val clusters = Similarity.qDedupClusters.run(spark, sfDir).collect()
    assert(clusters.nonEmpty)
    val clustered = scala.collection.mutable.Set.empty[Long]
    clusters.foreach { c =>
      val keep = c.getAs[Long]("keep_id")
      val members = c.getAs[String]("members").split(",").map(_.toLong)
      clustered ++= members
      members.foreach { m =>
        val (cid, sz, w) = byId(m)
        assert(cid == keep, s"member $m must carry its cluster's label")
        assert(sz == members.length, s"member $m cluster size")
        // exact half-up 4-dp of 1/size — the operator's contract
        val want = BigDecimal(1).setScale(4) / BigDecimal(sz)
        assert(math.abs(w - want.setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12,
          s"member $m weight $w != 1/$sz")
      }
      // soft dedup conserves one document's worth of weight per cluster
      val sum = members.map(byId(_)._3).sum
      assert(math.abs(sum - 1.0) <= members.length * 1e-4,
        s"cluster $keep weight sum $sum")
    }
    // singleton identity: weight 1.0, cluster_id = own doc_id
    byId.foreach { case (id, (cid, sz, w)) =>
      if (!clustered(id))
        assert(cid == id && sz == 1L && w == 1.0, s"singleton $id: ($cid,$sz,$w)")
    }
  }

  test("diverse sample: round-robin water-filling over IVF clusters, fully auditable") {
    val rows = Similarity.qDiverseSample.run(spark, sfDir).collect()
    assert(rows.length == Tables.embeddings(spark, sfDir).count())
    val assessed = rows.filter(r => !r.isNullAt(r.fieldIndex("cluster_id")))
    val sel = rows.filter(_.getAs[Boolean]("selected"))
    assert(sel.length == math.min(200, assessed.length),
      s"budget: ${sel.length} selected of ${assessed.length} assessed")
    // the selection IS the N smallest (rank, cluster) keys — recomputed
    // from the emitted frame itself
    val want = assessed
      .map(r => (r.getAs[Long]("cluster_rank"), r.getAs[Int]("cluster_id"),
        r.getAs[Long]("vec_id")))
      .sortBy { case (rn, c, _) => (rn, c) }.take(sel.length)
      .map(_._3).toSet
    assert(sel.map(_.getAs[Long]("vec_id")).toSet == want,
      "selected set must be the lexicographic (rank, cluster) prefix")
    // within-cluster ranks are a contiguous 1..size permutation
    val perCluster = assessed.groupBy(_.getAs[Int]("cluster_id"))
    perCluster.foreach { case (c, rs) =>
      assert(rs.map(_.getAs[Long]("cluster_rank")).sorted.toSeq ==
        (1L to rs.length).toSeq, s"cluster $c ranks not contiguous")
    }
    // round-robin balance: every non-empty cluster represented, live
    // clusters within one selection of each other, exhausted clusters
    // smaller than the deepest live round
    val selCount = perCluster.view.mapValues(_.count(_.getAs[Boolean]("selected"))).toMap
    val tot = perCluster.view.mapValues(_.size).toMap
    assert(selCount.values.forall(_ >= 1), "every non-empty cluster represented")
    val live = selCount.filter { case (c, n) => n < tot(c) }.values
    if (live.nonEmpty) {
      assert(live.max - live.min <= 1,
        s"live clusters must differ by <= 1: ${selCount}")
      selCount.foreach { case (c, n) =>
        if (n == tot(c)) assert(n <= live.max,
          s"exhausted cluster $c larger than the live round")
      }
    }
  }

  test("label propagation: clustered corpus — accurate, and exactly the brute-force vote") {
    import spark.implicits._
    // labeled/held split on the shared evalSlice rule over a clustered
    // corpus (label = cluster): nearest labeled neighbors share the
    // cluster, so the majority vote must recover the held labels
    val nClusters = 100; val perCluster = 8; val dim = 64
    def mix(seed: Long): Long = {
      var z = seed + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def uni(seed: Long): Double =
      math.floorMod(mix(seed), 1000000L) / 500000.0 - 1.0
    val rows = for (m <- 0 until perCluster; c <- 0 until nClusters) yield {
      val id = (m * nClusters + c).toLong
      val emb = Array.tabulate(dim) { i =>
        (uni(c * 7919L + i) + 0.08 * uni(id * 104729L + i + 13)).toFloat
      }
      (id, emb, c)
    }
    val dir = tempDir("graft_propagate").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.qLabelPropagate.run(spark, dir).collect()
    def isHeld(id: Long): Boolean = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      "%02x".format(h(0)).startsWith("0")
    }
    val heldIds = rows.map(_._1).filter(isHeld).toSet
    assert(got.map(_.getAs[Long]("vec_id")).toSet == heldIds,
      "every held vector appears exactly once")
    // vote arithmetic holds row by row
    got.foreach { r =>
      val v = r.getAs[Long]("n_votes"); val n = r.getAs[Long]("n_neighbors")
      assert(n <= 5 && v <= n, s"votes $v / neighbors $n out of range")
      if (n > 0) {
        val conf = BigDecimal(v).setScale(4) / BigDecimal(n)
        assert(math.abs(r.getAs[Double]("confidence") -
          conf.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
      }
    }
    // accuracy on the geometry labels occupy in practice
    val acc = got.count(r => !r.isNullAt(r.fieldIndex("correct")) &&
      r.getAs[Boolean]("correct")).toDouble / got.length
    info(f"label propagation accuracy (clustered corpus) = $acc%.3f")
    assert(acc >= 0.9, f"accuracy $acc%.2f below floor on clustered data")
    // exact agreement with a driver brute force of the SAME rule: top-5
    // labeled neighbors by quantized cosine (ties: smaller id), majority
    // vote (ties: smaller label)
    val vecs = rows.map { case (id, emb, l) =>
      (id, emb.map(x => math.round(x.toDouble * 10000)), l) }
    val n2 = vecs.map { case (id, v, _) => id -> v.map(x => x * x).sum }.toMap
    def cos(a: Array[Long], b: Array[Long], na: Long, nb: Long): Double =
      a.zip(b).map { case (x, y) => x * y }.sum.toDouble /
        (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    val labeled = vecs.filterNot(v => isHeld(v._1))
    val brute = vecs.filter(v => isHeld(v._1)).map { case (id, v, _) =>
      val top = labeled
        .map { case (jd, w, l) => (jd, l, cos(v, w, n2(id), n2(jd))) }
        .sortBy { case (jd, _, c) => (-c, jd) }.take(5)
      val vote = top.groupBy(_._2).view.mapValues(_.size).toSeq
        .sortBy { case (l, c) => (-c, l) }.head._1
      id -> vote
    }.toMap
    val agree = got.count(r => !r.isNullAt(r.fieldIndex("predicted_label")) &&
      r.getAs[Int]("predicted_label") == brute(r.getAs[Long]("vec_id")))
      .toDouble / got.length
    info(f"agreement with brute-force vote = $agree%.3f")
    assert(agree >= 0.9,
      f"approx vote drifts from the exact rule: agreement $agree%.2f")
  }

  test("shingle df profile: crafted boilerplate corpus lands exact pair-work accounting") {
    import spark.implicits._
    val dir = tempDir("graft_dfprof").toString
    // 20 copies of one boilerplate gram (df=20 > cap 16), one gram shared
    // by 3 docs (df=3), two unique grams (df=1)
    val docs =
      (1L to 20L).map(i => (i, "A", "boil er plate")) ++
        (21L to 23L).map(i => (i, "A", "share gram one")) ++
        Seq((24L, "A", "unique alpha text"), (25L, "A", "unique beta words"))
    docs.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Similarity.qShingleDfProfile.run(spark, dir).collect()
      .map(r => r.getAs[Int]("bucket") -> r).toMap
    assert(got.keySet == Set(1, 2, 5), s"buckets: ${got.keySet}")
    def halfUp(num: Long, den: Long): Double =
      ((2L * num * 10000L + den) / (2L * den)).toDouble / 10000.0
    val b1 = got(1) // df = 1: the two unique grams
    assert(b1.getAs[Long]("n_shingles") == 2L &&
      b1.getAs[Long]("n_postings") == 2L && b1.getAs[Long]("n_pairs") == 0L &&
      b1.getAs[Long]("n_capped") == 0L)
    val b2 = got(2) // df ∈ [2,3]: the shared gram, C(3,2) = 3 pairs
    assert(b2.getAs[Long]("lo") == 2L && b2.getAs[Long]("hi") == 3L)
    assert(b2.getAs[Long]("n_shingles") == 1L &&
      b2.getAs[Long]("n_postings") == 3L && b2.getAs[Long]("n_pairs") == 3L)
    assert(b2.getAs[Double]("pair_share") == halfUp(3, 193))
    val b5 = got(5) // df ∈ [16,31]: boilerplate, C(20,2) = 190 pairs, capped
    assert(b5.getAs[Long]("n_shingles") == 1L &&
      b5.getAs[Long]("n_postings") == 20L &&
      b5.getAs[Long]("n_pairs") == 190L)
    assert(b5.getAs[Long]("n_capped") == 1L,
      "the boilerplate gram must show as cap-removed")
    assert(b5.getAs[Double]("pair_share") == halfUp(190, 193),
      "one boilerplate gram carries 98% of the pair work — the cap's case")
  }

  test("ann health: reported recalls equal a driver recompute; the monitor separates geometries") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    // the operator's own sample rule (shared spelling), then everything
    // downstream recomputed independently in the driver
    val q = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val ids = q.filter(col("embedding").isNotNull).select(col("vec_id"))
      .orderBy(xxhash64(col("vec_id").cast("string")), col("vec_id"))
      .limit(Similarity.AnnHealthQueries).collect().map(_.getLong(0)).toSet
    val vecs = q.collect().flatMap { r =>
      Option(r.getSeq[Float](1)).map(emb =>
        (r.getLong(0), emb.map(x => math.round(x.toDouble * 10000)).toArray))
    }
    val n2 = vecs.map { case (id, v) => id -> v.map(x => x * x).sum }.toMap
    def cos(a: Array[Long], b: Array[Long], na: Long, nb: Long): Double =
      a.zip(b).map { case (x, y) => x * y }.sum.toDouble /
        (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    val truth = vecs.filter(p => ids(p._1)).map { case (id, v) =>
      id -> vecs.filter(_._1 != id)
        .map { case (jd, w) => (jd, cos(v, w, n2(id), n2(jd))) }
        .sortBy { case (jd, c) => (-c, jd) }.take(5).map(_._1).toSet
    }.toMap
    val nTruth = truth.values.map(_.size).sum
    val qf = col("vec_id").isin(ids.toSeq: _*)
    def matched(approx: org.apache.spark.sql.DataFrame): Long =
      approx.collect().count(r =>
        truth(r.getAs[Long]("query_id"))
          .contains(r.getAs[Long]("neighbor_id"))).toLong
    val mLsh = matched(Similarity.annLshTop5(spark, sfDir, qf))
    val mIvf = matched(Similarity.annIvfTop5(spark, sfDir, qf))
    val got = Similarity.qAnnHealth.run(spark, sfDir).collect()
      .map(r => r.getAs[String]("index_kind") -> r).toMap
    for ((kind, m) <- Seq("lsh" -> mLsh, "ivf" -> mIvf)) {
      val r = got(kind)
      assert(r.getAs[Long]("n_queries") == ids.size.toLong, s"$kind queries")
      assert(r.getAs[Long]("n_truth") == nTruth.toLong, s"$kind truth pairs")
      assert(r.getAs[Long]("n_matched") == m, s"$kind matched pairs")
      assert(r.getAs[Double]("recall_at_5") ==
        ((2L * m * 10000L + nTruth) / (2L * nTruth)).toDouble / 10000.0,
        s"$kind recall arithmetic")
    }
    // the monitor must read a healthy LSH index as healthy on this corpus
    assert(got("lsh").getAs[Double]("recall_at_5") >= 0.7,
      "LSH recall floor on the real corpus")
    // ...and SEPARATE the geometries: on this near-isotropic corpus IVF
    // lists carry no similarity signal (the documented ~0.37 regime that
    // motivates the knnGraph dispatch) — the health report is exactly
    // where that shows up in production
    assert(got("ivf").getAs[Double]("recall_at_5") <
      got("lsh").getAs[Double]("recall_at_5"),
      "the monitor should expose the isotropic-corpus IVF weakness")
  }

  test("ann health: a clustered corpus reads the IVF index as healthy") {
    import spark.implicits._
    // the qKnnJoinIvf spec's deterministic 200-cluster corpus
    val nClusters = 200; val perCluster = 10; val dim = 64
    def mix(seed: Long): Long = {
      var z = seed + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def uni(seed: Long): Double =
      math.floorMod(mix(seed), 1000000L) / 500000.0 - 1.0
    val rows = for (m <- 0 until perCluster; c <- 0 until nClusters) yield {
      val id = (m * nClusters + c).toLong
      val emb = Array.tabulate(dim) { i =>
        (uni(c * 7919L + i) + 0.08 * uni(id * 104729L + i + 13)).toFloat
      }
      (id, emb, c)
    }
    val dir = tempDir("graft_annhealth").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.qAnnHealth.run(spark, dir).collect()
      .map(r => r.getAs[String]("index_kind") ->
        r.getAs[Double]("recall_at_5")).toMap
    info(f"clustered-corpus health: ivf=${got("ivf")}%.3f lsh=${got("lsh")}%.3f")
    assert(got("ivf") >= 0.8,
      "a healthy IVF index on clustered data must read healthy")
  }

  test("adaptive LSH bucket width: 8-bit floor through 2^16 vectors, then the sqrt-n law") {
    // the r8 sf1→sf10 study measured the collision-count aggregate of the
    // corpus-scale query ops going Θ(n²/256) under FIXED 256-bucket
    // tables (q_decontaminate_semantic exponent 1.73 at the second decade
    // despite the √n rescore budget) — bucket count must grow as √n so
    // expected bucket load (= collision rows per probe) is O(√n).
    // Every spec/test SF and driver lake up to sf1 sits under the floor:
    // buckets there are bit-identical to the historical fixed width.
    for (n <- Seq(0L, 1L, 500L, 2000L, 5000L, 20000L, 65536L))
      assert(Similarity.lshBitsFor(n) == 8, s"floor violated at n=$n")
    assert(Similarity.lshBitsFor(65537L) == 9)   // first width step
    assert(Similarity.lshBitsFor(200000L) == 9)  // the sf10 lake
    assert(Similarity.lshBitsFor(2000000L) == 11)
    assert(Similarity.lshBitsFor(300000000L) == 15)
    // monotone, and load n/2^bits stays within [√n/2, 2√n] above the floor
    var prev = 8
    for (e <- 17 to 40) {
      val n = 1L << e
      val b = Similarity.lshBitsFor(n)
      assert(b >= prev, s"width must be monotone in n (n=2^$e)")
      prev = b
      val load = n.toDouble / (1L << b)
      val root = math.sqrt(n.toDouble)
      assert(load <= root && load >= root / 2.0,
        f"load $load%.0f off the √n law ($root%.0f) at n=2^$e")
    }
    // the wider bank's first-8-bit prefix is NOT the 8-bit bank (it is a
    // fresh deterministic family), but the 8-bit bank itself must be
    // byte-stable: pinned recalls depend on its exact planes
    val b8 = Similarity.hyperplanesFor(8)
    assert(b8.length == 256 && b8.forall(_.length == 64))
    val pinned = Seq((0, 0) -> 620L, (0, 1) -> 78L, (0, 63) -> 698L,
      (1, 0) -> 152L, (128, 32) -> 835L, (255, 63) -> -440L)
    for (((j, i), v) <- pinned) assert(b8(j)(i) == v, s"8-bit bank plane $j component $i")
    assert(Similarity.hyperplanesFor(9).length == 32 * 9)
  }

  test("simhashHalfKeys: probe keys of a hit the exact key of b for every pair within hamming <= 3") {
    // the r10 half-probe join's soundness invariant, probed at the
    // adversarial placements: flips ON the 32-bit half border, all three
    // diffs in ONE half (the other half must carry the identity hit),
    // and diffs split 2+1 / 1+2 across halves (the ≤1-diff half must be
    // reached by exactly one probe flip)
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val bases = Seq.fill(25)(rnd.nextLong())
    val flips: Seq[Seq[Int]] = Seq(
      Seq(0), Seq(31), Seq(32), Seq(63),
      Seq(0, 1), Seq(31, 32), Seq(0, 63), Seq(33, 34),
      Seq(0, 1, 2), Seq(61, 62, 63), Seq(0, 1, 32), Seq(0, 32, 33),
      Seq(31, 32, 63), Seq(5, 17, 29), Seq(36, 47, 58), Seq(15, 31, 47))
    val pairs = for { b <- bases; f <- flips }
      yield (b, f.foldLeft(b)((x, i) => x ^ (1L << i)))
    val fps = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    def keysOf(probe: Boolean): Map[Long, Set[Long]] =
      Similarity.simhashHalfKeys(fps.toDF("fp"), probe).collect()
        .groupBy(_.getAs[Long]("fp"))
        .view.mapValues(_.map(_.getAs[Long]("hk")).toSet).toMap
    val probeKeys = keysOf(probe = true)
    val exactKeys = keysOf(probe = false)
    fps.foreach { f =>
      assert(exactKeys(f).size == 2, s"fp $f must emit 2 exact half keys")
      assert(exactKeys(f).subsetOf(probeKeys(f)),
        "identity probes must include the exact keys")
      assert(probeKeys(f).size == 66,
        s"fp $f must emit 66 distinct probe keys (identity + 32 flips per half)")
    }
    pairs.filter(p => p._1 != p._2).foreach { case (a, b) =>
      val h = java.lang.Long.bitCount(a ^ b)
      assert(h <= 3, "crafted pairs stay within the guarantee's premise")
      assert(probeKeys(a).intersect(exactKeys(b)).nonEmpty,
        s"hamming-$h pair: a's probes miss b's exact half keys: $a $b")
      assert(probeKeys(b).intersect(exactKeys(a)).nonEmpty,
        s"hamming-$h pair: b's probes miss a's exact half keys: $a $b")
    }
  }

  test("simhash: NO-concentration corpus (distinct fp ≈ n) — pair set still exact") {
    // the adversarial regime for the r8 distinct-fp rewrite ITSELF: on a
    // corpus where fingerprints do NOT concentrate (distinct-fp count ≈ n,
    // every doc's token set unique), the rewrite's distinct+expand stages
    // are pure overhead — this pins that in that regime the emitted pair
    // set is still EXACTLY the brute-force definition (every unordered
    // pair within Hamming ≤ 3, once), with both branches exercised:
    // hamming-0 via three planted exact dups (3 distinct fps lost out of
    // 915 docs keeps the regime), and the cross-fp band path via planted
    // one-token-extended neighbors whose hamming straddles the ≤3 bar
    // (whichever side each deterministic fingerprint lands, brute force
    // and the operator must agree on it — including hamming 0, where a
    // near-dup's fp may coincide with its base and cost a distinct fp).
    import spark.implicits._
    val dir = tempDir("graft_nofp").toString
    val n = 900
    def toks(i: Int): Seq[String] = (0 until 60).map(j => s"t${i}_$j")
    val base = (0 until n).map(i => (i.toLong, toks(i).mkString(" ")))
    val exactDups = (0 until 3).map(i => ((n + i).toLong, toks(i).mkString(" ")))
    val nearDups = (10 until 22).map(i =>
      ((n + 100 + i).toLong, (toks(i) :+ s"extra_$i").mkString(" ")))
    (base ++ exactDups ++ nearDups).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.functions.GraftFunctions.register(spark)
    val fps = Similarity.withSimhashFp(Tables.documents(spark, dir))
      .select("doc_id", "fp").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("fp")))
    // the regime premise, asserted: distinct fps ≈ n (no concentration).
    // Guaranteed losses: the 3 exact dups; additionally each of the 12
    // one-token-extended near-dups MAY land at hamming 0 from its base
    // (a legitimate outcome the pair-set check must handle), so the
    // bound allows for them without weakening the ≈ n premise
    val distinctFp = fps.map(_._2).distinct.length
    assert(distinctFp >= fps.length - 3 - nearDups.size,
      s"corpus stopped being concentration-free: $distinctFp distinct of ${fps.length}")
    val expected = (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 3
    } yield ((a, b), h)).toMap
    assert(expected.exists(_._2 == 0), "planted exact dups missing from truth")
    val got = Similarity.qDedupSimhash.run(spark, dir).collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Int]("hamming")))
    val nNear = expected.count(_._2 > 0)
    info(s"no-concentration corpus: ${fps.length} docs, $distinctFp distinct fps, " +
      s"${expected.size} true pairs (${nNear} at hamming 1..3)")
    assert(got.length == got.toMap.size, "a pair must be emitted exactly once")
    assert(got.toMap == expected,
      s"pair sets differ: got ${got.length}, expected ${expected.size}")
  }

  test("lsh recall floor holds past the 8→9-bit adaptive-width boundary (n > 2^16)") {
    // r8 made the bucket width n-adaptive (√n buckets above 2^16 vectors)
    // on an asymptotic argument; every pinned recall measurement sits in
    // the 8-bit floor regime, so the recall COST of the first width step
    // was an argument, not a number. This generates the smallest corpus
    // past the step (70 000 > 2^16 isotropic vectors — the hard regime:
    // real clustered embeddings only collide more), asserts the 9-bit
    // bank is actually in use (bucket ids past the 8-bit ceiling), and
    // pins recall@5 of the production point-query path against an exact
    // driver-side brute force over a hash-picked probe sample.
    val dir = tempDir("graft_width9").toString
    val n = 70000L
    GenData.embeddingsDf(spark, n).write.parquet(s"$dir/embeddings.parquet")
    assert(Similarity.lshBitsFor(n) == 9)
    val maxBucket = Similarity.lshBuckets(spark, dir)
      .agg(max(col("bucket"))).collect()(0).getLong(0)
    assert(maxBucket > 255L && maxBucket <= 511L,
      s"9-bit bank not in use (max bucket $maxBucket)")
    // exact truth, driver-side, over the SAME 10⁻⁴ integer quantization
    // the index path scores with (ties must break identically)
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))")
        .as("qv"))
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Long]]("qv").toArray))
    val byId = vecs.toMap
    val probeIds = Tables.embeddings(spark, dir).select(col("vec_id"))
      .orderBy(xxhash64(col("vec_id").cast("string")), col("vec_id"))
      .limit(32).collect().map(_.getLong(0))
    def cos(a: Array[Long], b: Array[Long]): Double = {
      var d = 0L; var na = 0L; var nb = 0L; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    val truth: Map[Long, Set[Long]] = probeIds.map { qid =>
      val q = byId(qid)
      qid -> vecs.iterator.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(q, v)) }.toSeq
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
    }.toMap
    val got = Similarity.annLshTop5(spark, dir,
        col("vec_id").isin(probeIds.toIndexedSeq: _*)).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val matched = probeIds.map(q => (truth(q) & got.getOrElse(q, Set.empty)).size).sum
    val recall = matched.toDouble / (probeIds.length * 5)
    info(f"recall@5 at 9-bit width (n=$n isotropic): $recall%.3f")
    // floor: the registered qAnnLsh spec pins ≥ 0.8 in the 8-bit regime;
    // the width step must not collapse it (multiprobe compensation claim)
    assert(recall >= 0.8, f"9-bit recall $recall%.3f below floor")
    SessionCache.clear()
  }
}
