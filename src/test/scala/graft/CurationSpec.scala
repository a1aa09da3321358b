package graft

import graft.operators.{Curation, Similarity, TextOps}

/** The composed curation funnel vs an independent driver-side recount of
  * every stage from the standalone operators' own outputs.
  */
class CurationSpec extends SparkSpec {

  /** The full funnel ↔ recount ↔ clean-corpus pin, parameterized on the
    * lake dir so it runs at BOTH the spec SF and the bench SF (sf0.1) —
    * the capstone's numbers are pinned where the bench measures them.
    */
  private def assertFunnelMatchesRecount(d: String): Unit = {
    val rows = Curation.qCurationFunnel.run(spark, d).collect()
    assert(rows.map(_.getAs[Int]("stage")).toSeq == (1 to 5),
      "five ordered stages")
    // funnel arithmetic: in = dropped + remaining, chained across stages
    rows.foreach { r =>
      assert(r.getAs[Long]("n_in") ==
        r.getAs[Long]("n_dropped") + r.getAs[Long]("n_remaining"),
        s"stage ${r.getAs[Int]("stage")} arithmetic")
    }
    rows.sliding(2).foreach { w =>
      assert(w(0).getAs[Long]("n_remaining") == w(1).getAs[Long]("n_in"),
        "stages must chain")
    }
    val nDocs = Tables.documents(spark, d).count()
    assert(rows.head.getAs[Long]("n_in") == nDocs, "stage 1 sees the raw corpus")

    // independent recount of each gate
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // mirror Spark's trim (strips SPACES only — Java String.trim strips
    // every char <= U+0020, which would merge content groups the operator
    // keeps distinct when text has leading/trailing \t\n\r\f)
    def normed(t: String) =
      t.replaceAll("^ +", "").replaceAll(" +$", "")
        .toLowerCase.replaceAll("[ \\t\\n\\r\\f]+", " ")
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[String]("text")))
    val exactKeeper = docs.collect { case (id, Some(t)) => (normed(t), id) }
      .groupBy(_._1).map { case (_, xs) => xs.map(_._2).min }.toSet
    val nearNonKeepers = Similarity.qDedupClusters.run(spark, d).collect()
      .flatMap { c =>
        c.getAs[String]("members").split(",").map(_.toLong)
          .filter(_ != c.getAs[Long]("keep_id"))
      }.toSet
    val quality = TextOps.qQualityScore.run(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (if (r.isNullAt(r.fieldIndex("quality_score"))) -1.0
         else r.getAs[Double]("quality_score"))).toMap
    val blocked = docs.collect { case (id, Some(t)) =>
      val toks = normed(t).split(" ").filter(_.nonEmpty)
      id -> (toks.count(TextOps.Blocklist.contains) * 20 > toks.length)
    }.toMap
    // recount stage attribution exactly as the operator defines it
    val firstDrop = docs.map { case (id, t) =>
      val exactDup = t.isDefined && !exactKeeper.contains(id)
      val stage =
        if (exactDup) Some(1)
        else if (nearNonKeepers(id)) Some(2)
        else if (quality.getOrElse(id, -1.0) < Curation.QualityFloor) Some(3)
        else if (t.isDefined && blocked(id)) Some(4)
        else if (md5hex(id.toString).startsWith("0")) Some(5)
        else None
      id -> stage
    }.toMap
    val wantDropped = (1 to 5).map(k => k -> firstDrop.values.count(_.contains(k)))
    rows.foreach { r =>
      val k = r.getAs[Int]("stage")
      assert(r.getAs[Long]("n_dropped") == wantDropped(k - 1)._2.toLong,
        s"stage $k dropped count diverges from the recount")
    }
    // something must drop at the dedup and quality gates on this corpus
    assert(rows(0).getAs[Long]("n_dropped") > 0 ||
      rows(1).getAs[Long]("n_dropped") > 0, "dedup stages inert")
    assert(rows(2).getAs[Long]("n_dropped") > 0, "quality stage inert")
    assert(rows(4).getAs[Long]("n_dropped") > 0, "holdout stage inert")

    // the clean corpus is exactly the never-dropped set: count-identical
    // to the funnel's final n_remaining and equal to the recount's
    // survivors
    val clean = Curation.qCleanCorpus.run(spark, d).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(clean.size.toLong == rows.last.getAs[Long]("n_remaining"),
      "clean corpus count diverges from the funnel's final n_remaining")
    val wantClean = firstDrop.collect { case (id, None) => id }.toSet
    assert(clean == wantClean, "clean corpus diverges from the recount")
  }

  test("curation funnel: stage counts match an independent recount; arithmetic coheres") {
    assertFunnelMatchesRecount(sfDir)
  }

  test("scale: curation funnel parity holds at sf0.1 (the bench SF)") {
    // the same full pin — every stage count, the chain arithmetic and the
    // clean-corpus identity — recounted independently at the SF the bench
    // quotes, so the capstone's published numbers are themselves verified
    assertFunnelMatchesRecount("/root/testdata/sf0.1")
  }

  test("datacard: every headline number matches the standalone report it summarizes") {
    val card = Curation.qDatacard.run(spark, sfDir).collect()
      .map(r => (r.getAs[String]("section"), r.getAs[String]("metric")) ->
        (Option(r.getAs[java.lang.Long]("value")).map(_.toLong),
          Option(r.getAs[java.lang.Double]("rate")).map(_.toDouble))).toMap
    def v(s: String, m: String): Long = card((s, m))._1.get
    val docs = Tables.documents(spark, sfDir)
    assert(v("volume", "n_docs") == docs.count())
    assert(v("volume", "n_sources") ==
      docs.select("source").distinct().count())
    assert(v("volume", "null_text_docs") ==
      docs.filter(org.apache.spark.sql.functions.col("text").isNull).count())
    // cross-operator identities: the card must agree with the detailed
    // reports users read — the "one shared definition" claim, verified
    val mix = TextOps.qSourceMix.run(spark, sfDir).collect()
    assert(v("volume", "n_tokens") ==
      mix.map(_.getAs[Long]("n_tokens")).sum, "card vs q_source_mix tokens")
    val langs = TextOps.qLangId.run(spark, sfDir).collect()
      .map(_.getAs[String]("predicted")).distinct.filter(_ != "und")
    assert(v("volume", "n_langs_predicted") == langs.length.toLong,
      "card vs q_lang_id predicted languages")
    val dedup = TextOps.qDedupExact.run(spark, sfDir).collect()
      .filter(!_.isNullAt(0)) // non-null content groups only
    assert(v("dedup", "distinct_contents") == dedup.length.toLong,
      "card vs q_dedup_exact distinct contents")
    assert(v("dedup", "exact_dup_docs") ==
      dedup.map(_.getAs[Long]("n_copies") - 1).sum,
      "card vs q_dedup_exact dup members")
    val ks = TextOps.qQualityKs.run(spark, sfDir).collect()
    assert(v("quality", "scored_docs") ==
      ks.map(r => r.getAs[Long]("n_docs") - r.getAs[Long]("n_null")).sum,
      "card vs q_quality_ks scored docs")
    val blk = TextOps.qBlocklistScan.run(spark, sfDir).collect()
    assert(v("quality", "blocklist_flagged_docs") ==
      blk.map(_.getAs[Long]("flagged_docs")).sum,
      "card vs q_blocklist_scan flags")
    val feats = TextOps.qDocFeatures.run(spark, sfDir).collect()
    assert(v("quality", "pii_docs") ==
      feats.count(r => !r.isNullAt(r.fieldIndex("n_pii")) &&
        r.getAs[Long]("n_pii") > 0).toLong,
      "card vs q_doc_features pii docs")
    // median bucket: integer-exact smallest b with 2·cum ≥ n, recomputed
    val buckets = feats.flatMap(r =>
      Option(r.getAs[java.lang.Double]("quality_score"))
        .map(q => math.floor(q * 2000).toInt)).sorted
    val medWant = buckets(((buckets.length + 1) / 2) - 1)
    assert(v("quality", "median_quality_bucket") == medWant.toLong,
      "card vs driver median bucket")
  }

  test("release gate: integer-exact boundary decisions, outage fail, vacuous pass on empty lake") {
    import spark.implicits._
    val dir = tempDir("graft_gate").toString
    // 10 docs, 8 distinct contents → dup rate EXACTLY 0.2000 = the bar:
    // the ≤ decision must pass via integer cross-multiply, never a
    // rounded-double compare. One blocklisted doc → 10% > 2% fails.
    val texts = (1 to 8).map(i => s"unique document number $i body") ++
      Seq("unique document number 1 body", "unique document number 2 body")
    val docs = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, "A", if (i == 7) "slow slow slow ok" else t)
    }
    docs.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    Seq(1, 2, 4).zipWithIndex.map { case (day, i) =>
      (i.toLong, ts(day), 1L, "t", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Curation.qReleaseGate.run(spark, dir).collect()
      .map(r => r.getAs[String]("check") -> r).toMap
    assert(got.size == 7)
    val dup = got("exact_dup_rate")
    assert(dup.getAs[Double]("observed") == 0.2)
    assert(dup.getAs[Boolean]("pass"),
      "a rate sitting EXACTLY on the bar must pass the ≤ gate")
    assert(!got("blocklist_flag_rate").getAs[Boolean]("pass"),
      "one flagged doc in ten breaches the 2% bar")
    val gap = got("ingest_gap_days")
    assert(gap.getAs[Double]("observed") == 1.0 &&
      !gap.getAs[Boolean]("pass"),
      "the Jan-3 outage day must fail continuity")
    assert(!got("top_source_token_share").getAs[Boolean]("pass"),
      "a single-source corpus is 100% capture")
    // empty lake: every check passes vacuously (the gate blocks PROVEN
    // violations; volume checks belong to ingest monitoring)
    val empty = tempDir("graft_gate_e").toString
    spark.read.parquet(s"$dir/documents.parquet").limit(0)
      .write.parquet(s"$empty/documents.parquet")
    spark.read.parquet(s"$dir/events.parquet").limit(0)
      .write.parquet(s"$empty/events.parquet")
    val e = Curation.qReleaseGate.run(spark, empty).collect()
    assert(e.length == 7 && e.forall(_.getAs[Boolean]("pass")),
      "an empty lake proves no violation — vacuous pass")
    assert(e.filter(_.getAs[String]("check") != "ingest_gap_days")
      .forall(r => r.isNullAt(r.fieldIndex("observed"))),
      "empty denominators report NULL observed, not 0")
  }

  test("stagedFlags: size-gated broadcast — both physical forms identical") {
    // gate on → non-keeper join hinted; the far side (the web-corpus
    // 30-50%-dup case) is the same plan unhinted, with nothing broadcast
    // by size either. Same attribution either way.
    val hinted = Curation.stagedFlags(spark, sfDir)
    assert(joinHints(hinted).nonEmpty, "gated-on branch lost its broadcast hint")
    def staging(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int)] =
      df.collect().map(r => (r.getAs[Long]("doc_id"),
        if (r.isNullAt(r.fieldIndex("dropped_at"))) 0
        else r.getAs[Int]("dropped_at"))).toSeq.sorted
    val far = unhinted(hinted) { df =>
      assert(joinHints(df).isEmpty, "far side must ship unhinted")
      assert(!df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "far side still statically broadcasts the non-keeper join")
      staging(df)
    }
    assert(staging(hinted) == far,
      "physical strategies disagree on stage attribution")
  }
}
