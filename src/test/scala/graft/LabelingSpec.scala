package graft

import graft.operators.Labeling

class LabelingSpec extends SparkSpec {

  test("every labeling query runs") {
    Labeling.all.foreach { q =>
      val df = q.run(spark, sfDir)
      assert(df.columns.nonEmpty, s"${q.name} has no columns")
      df.collect()
    }
  }

  test("tier sampler: tiers disjoint, respect limits and exclusions") {
    val rows = Labeling.qSampleTiers.run(spark, sfDir).collect()
    val ids = rows.map(_.getAs[Long]("event_id"))
    assert(ids.distinct.length == ids.length, "event sampled twice")
    ids.foreach(id => assert(id % 7 != 0, s"excluded id $id sampled"))
    rows.groupBy(_.getAs[Int]("tier")).foreach { case (t, rs) =>
      assert(rs.length <= 100, s"tier $t over limit: ${rs.length}")
    }
    rows.filter(_.getAs[Int]("tier") == 1)
      .foreach(r => assert(r.getAs[Double]("value") < 10))
    rows.filter(_.getAs[Int]("tier") == 2)
      .foreach(r => assert(r.getAs[Double]("value") >= 100))
  }

  test("balanced sample: every key hits max(30, proportional) target cap") {
    import org.apache.spark.sql.functions.col
    val rows = Labeling.qBalancedSample.run(spark, sfDir).collect()
    // independent reference for the allocation: pool excludes %7 ids,
    // target = max(30, floor(200·count/total)), per-key take = min(pool, target)
    val poolCounts = Tables.events(spark, sfDir)
      .filter(col("event_id") % 7 =!= 0)
      .groupBy("event_type").count().collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("count")).toMap
    val total = poolCounts.values.sum
    val perKey = rows.groupBy(_.getAs[String]("event_type")).view.mapValues(_.length)
    assert(perKey.keySet == poolCounts.keySet)
    perKey.foreach { case (k, n) =>
      val target = math.max(30L, 200L * poolCounts(k) / total)
      assert(n == math.min(poolCounts(k), target),
        s"$k: took $n, expected min(pool=${poolCounts(k)}, target=$target)")
    }
    // the excluded simulated-labeled ids never appear
    assert(!rows.exists(_.getAs[Long]("event_id") % 7 == 0))
  }

  test("majority vote: winner label has max count, confidence marks ties") {
    val rows = Labeling.qMajorityVote.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(Set("low", "normal").contains(r.getAs[String]("confidence")))
      assert(Set("low", "mid", "high").contains(r.getAs[String]("majority_label")))
    }
  }

  test("train split: partitions all docs, per-class ratios ~80/10/10") {
    val rows = Labeling.qTrainSplit.run(spark, sfDir).collect()
    assert(rows.length == Tables.documents(spark, sfDir).count())
    val byClass = rows.groupBy(_.getAs[String]("lang"))
    byClass.foreach { case (lang, rs) =>
      val n = rs.length
      val train = rs.count(_.getAs[String]("split") == "train")
      val vl = rs.count(_.getAs[String]("split") == "val")
      assert(train == (8 * n) / 10, s"$lang train $train of $n")
      assert(vl == n / 10, s"$lang val $vl of $n")
    }
  }

  test("hashRank equals the single-window rank, null classes included") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // randomized pin of the two-level decomposition identity against the
    // naive class-partitioned window it replaced — including NULL class
    // keys (a legitimate partition) and multiple physical partitions
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val n = 300 + rnd.nextInt(300)
      val rows = (1 to n).map { i =>
        val cls = if (rnd.nextInt(10) == 0) null
          else s"c${rnd.nextInt(4)}"
        (i.toLong, cls)
      }
      val df = rows.toDF("id", "cls").repartition(7)
      val w = W.partitionBy("cls").orderBy(md5(col("id").cast("string")), col("id"))
      val expect = df
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(W.partitionBy("cls")))
        .collect().map(r => r.getLong(0) -> (r.getInt(2), r.getLong(3))).toMap
      val got = graft.operators.Labeling.hashRank(
          df, "cls", md5(col("id").cast("string")), "id")
        .collect().map(r => r.getAs[Long]("id") ->
          (r.getAs[Long]("rn").toInt, r.getAs[Long]("n"))).toMap
      assert(got == expect, s"trial $trial: two-level rank diverged")
    }
  }

  test("split metadata: reconciles exactly with the split assignment") {
    import org.apache.spark.sql.functions.col
    val split = Labeling.qTrainSplit.run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("split")))
    val srcOf = Tables.documents(spark, sfDir).select("doc_id", "source")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source"))
      .toMap
    val meta = Labeling.qSplitMetadata.run(spark, sfDir).collect()
    val byCell = split.groupBy(t => (t._3, t._2))
    meta.foreach { r =>
      val key = (r.getAs[String]("split"), r.getAs[String]("label"))
      assert(r.getAs[Long]("n_examples") == byCell(key).length.toLong,
        s"cell $key count mismatch")
    }
    assert(meta.map(r => (r.getAs[String]("split"), r.getAs[String]("label")))
      .toSet == byCell.keySet, "metadata must cover every (split, label) cell")
    // per-split totals and apps-represented match a driver recompute
    val bySplit = split.groupBy(_._3)
    meta.groupBy(_.getAs[String]("split")).foreach { case (sp, rs) =>
      val docs = bySplit(sp)
      assert(rs.head.getAs[Long]("split_total") == docs.length.toLong)
      assert(rs.map(_.getAs[Long]("n_examples")).sum == docs.length.toLong,
        s"label cells must partition split $sp")
      assert(rs.head.getAs[Long]("apps_represented") ==
        docs.map(t => srcOf(t._1)).distinct.length.toLong)
    }
  }

  test("export splits: partitioned JSONL round-trips and matches its metadata") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft_export").toString
    Labeling.exportSplits(spark, sfDir, dir)
    val back = spark.read.json(s"$dir/dataset")
    assert(back.count() == Tables.documents(spark, sfDir).count(),
      "every document lands in exactly one split file")
    val meta = spark.read.parquet(s"$dir/metadata")
    val totals = meta.select("split", "split_total").distinct().collect()
      .map(r => r.getAs[String]("split") -> r.getAs[Long]("split_total")).toMap
    val written = back.groupBy("split").count().collect()
      .map(r => r.getAs[String]("split") -> r.getAs[Long]("count")).toMap
    assert(written == totals,
      s"written per-split counts $written diverge from metadata $totals")
    // partition pruning: a split-filtered read lists only that directory
    val plan = back.filter(col("split") === "val")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("split"),
      "split filter must prune partitions:\n" + plan)
  }

  test("queue progress: statuses partition the queue") {
    val prog = Labeling.qQueueProgress.run(spark, sfDir).collect()
    val queueTotal = Labeling.qSampleTiers.run(spark, sfDir).count()
    assert(prog.map(_.getAs[Long]("n_items")).sum == queueTotal)
    prog.foreach(r =>
      assert(Set("pending", "completed", "skipped")
        .contains(r.getAs[String]("status"))))
  }

  test("label distribution: shares sum to 1") {
    val rows = Labeling.qLabelDistribution.run(spark, sfDir).collect()
    assert(rows.map(_.getAs[String]("label")).toSet == Set("low", "mid", "high"))
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-9)
  }

  test("agreement: kappa consistent with po/pe identity") {
    val r = Labeling.qAgreement.run(spark, sfDir).collect()(0)
    val po = r.getAs[Double]("observed_agreement")
    val pe = r.getAs[Double]("expected_agreement")
    val kappa = r.getAs[Double]("kappa")
    assert(po >= 0 && po <= 1); assert(pe > 0 && pe < 1)
    assert(math.abs(kappa - (po - pe) / (1 - pe)) < 1e-9)
  }

  test("leakproof split: clusters cohere, unit-grain cuts exact, singletons self-unit") {
    val rows = Labeling.qSplitLeakproof.run(spark, sfDir).collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(rows.length.toLong == nDocs, "one row per document")
    val byDoc = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byDoc.size.toLong == nDocs, "doc_id unique")
    // cohesion vs the INDEPENDENT cluster view: every near-dup cluster's
    // members share one unit (the cluster keeper) and hence one split —
    // the leakage q_train_split permits by hashing doc ids directly
    val clusters = graft.operators.Similarity.qDedupClusters.run(spark, sfDir).collect()
    assert(clusters.nonEmpty, "spec corpus must contain near-dup clusters")
    clusters.foreach { c =>
      val members = c.getAs[String]("members").split(",").map(_.toLong)
      assert(members.map(byDoc(_).getAs[Long]("unit_id")).toSet ==
        Set(c.getAs[Long]("keep_id")), "cluster members must share the keeper unit")
      assert(members.map(byDoc(_).getAs[String]("split")).toSet.size == 1,
        s"cluster ${c.getAs[Long]("keep_id")} straddles splits")
    }
    // unclustered docs are their own unit
    val clustered = clusters
      .flatMap(_.getAs[String]("members").split(",").map(_.toLong)).toSet
    rows.filterNot(r => clustered(r.getAs[Long]("doc_id"))).foreach { r =>
      assert(r.getAs[Long]("unit_id") == r.getAs[Long]("doc_id"))
    }
    // the 80/10/10 cut arithmetic holds EXACTLY at unit grain, per the
    // representative's stratification class
    val unitSplit = rows.groupBy(_.getAs[Long]("unit_id"))
      .map { case (u, rs) => (u, byDoc(u).getAs[String]("lang"), rs.head.getAs[String]("split")) }
    unitSplit.groupBy(_._2).foreach { case (lang, us) =>
      val n = us.size.toLong
      val got = us.groupBy(_._3).view.mapValues(_.size.toLong).toMap
      assert(got.getOrElse("train", 0L) == 8 * n / 10, s"$lang train cut")
      assert(got.getOrElse("val", 0L) == n / 10, s"$lang val cut")
      assert(got.getOrElse("test", 0L) == n - 8 * n / 10 - n / 10, s"$lang test cut")
    }
  }

  test("queue seeding: selection lands pending with priorities; re-seed is a no-op") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft_seed").toString
    val queuePath = s"$dir/label_queue.parquet"
    // the sampler's selection, as (review_id -> tier) ground truth
    val want = Labeling.qSampleTiers.run(spark, sfDir).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Int]("tier")).toMap
    val n1 = Labeling.seedQueue(spark, sfDir, queuePath)
    assert(n1 == want.size.toLong,
      s"first seed must insert the full selection ($n1 != ${want.size})")
    // re-seed: INSERT OR IGNORE semantics — zero inserted, store unchanged
    val n2 = Labeling.seedQueue(spark, sfDir, queuePath)
    assert(n2 == 0L, s"re-seed must be a no-op (inserted $n2)")
    val stored = spark.read.parquet(queuePath).collect()
    assert(stored.length == want.size, "re-seed must not grow the store")
    // every stored item: pending, with the sampler's own priority tier
    stored.foreach { r =>
      val id = r.getAs[Long]("review_id")
      assert(r.getAs[String]("status") == "pending", s"item $id not pending")
      assert(r.getAs[Int]("priority_tier") == want(id), s"item $id tier")
    }
    // priority-order case (fetch_queue_batch's read): pending items by
    // (priority_tier ASC, review_id ASC) — the stored columns support the
    // reference's claim read directly
    val batch = spark.read.parquet(queuePath)
      .filter(col("status") === "pending")
      .orderBy(col("priority_tier").asc, col("review_id").asc)
      .limit(50).collect()
      .map(r => (r.getAs[Int]("priority_tier"), r.getAs[Long]("review_id")))
    val expected = want.toSeq.map { case (id, t) => (t, id) }.sorted.take(50)
    assert(batch.toSeq == expected, "claim read must follow priority order")
  }
}
