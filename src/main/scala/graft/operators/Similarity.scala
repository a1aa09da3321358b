package graft.operators

import graft.{Gates, Q, SessionCache, Tables}
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Near-duplicate detection and similarity search (SURVEY §2.5 #36-41).
  *
  * Scale rules (SURVEY §4.4): nothing here materializes O(n²) of the corpus.
  * - Jaccard joins go through an inverted shingle index (pairs only where a
  *   shingle is shared); MinHash/SimHash go through band buckets first and
  *   verify exactly only within buckets.
  * - Embedding ops are quantized to integer units (round(x·10⁴)) so every
  *   dot product is exact integer arithmetic — bit-identical to the DuckDB
  *   oracle at any parallelism — evaluated by the codegen'd
  *   [[graft.functions.VecKernel.dot]] kernel (stays inside WholeStageCodegen).
  * - The brute-force variants are guarded correctness baselines: neardup is
  *   blocked by the label column; top-k broadcasts a tiny query set and
  *   scans the corpus once.
  */
object Similarity {

  // Shared indexes persist through SessionCache.persisted: each op reads
  // its index from 2-4 aliased subtrees, which defeats exchange reuse.
  // Bench prices each one as a row of graft.SparkEntry.builds.

  // (r14) The 3-gram string-array expression over split tokens and its
  // `tokenized` front are retired: [[shingleHashesOf]] computes the same
  // hashes in one GramHashKernel pass. The historical
  // InferFiltersFromGenerate hazard note lives on at shingleHashesOf and
  // in CLAUDE.md (the explode consumers read a materialized cache, where
  // inferred generator predicates land on the InMemoryRelation).

  /** Distinct shingle POSTINGS per document as (doc_id, sh_h) — the
    * inverted index the exact n-gram Jaccard join consumes. Derived by
    * exploding [[docShingleHashes]]'s per-doc hash arrays (the same cache
    * the MinHash pipeline reads): the corpus is tokenized and hashed
    * ONCE, the distinct shuffle and every downstream join key carry an
    * 8-byte long instead of the ~20-byte shingle string, and no second
    * string-shingle index exists at all (the r3 form materialized one
    * just for this query — its build WAS the query's cost).
    *
    * Shingle identity is the xxhash64 of the string: two distinct
    * shingles collide with probability 2⁻⁶⁴ (the same modulo-collision
    * contract the MinHash verification sets already rely on), and the
    * hash is deterministic, so oracle hash-equality against the
    * string-grain DuckDB form is exact on any real corpus — checked at
    * all three SFs. Exploding the NAMED `hs` column is safe here
    * (unlike the fenced InferFiltersFromGenerate trap) because it reads
    * a persisted cache: inferred generator predicates land on top of
    * the InMemoryRelation, never re-evaluating the shingling pipeline.
    */
  private[graft] def shingles(s: SparkSession, d: String): DataFrame =
    SessionCache.persisted(s, d, "shingles")(
      docShingleHashes(s, d)
        .select(col("doc_id"), explode(col("hs")).as("sh_h"))
        .distinct())

  private val shinglesSql =
    s"""toks AS (
      |  SELECT doc_id,
      |    string_split(${Text.normSql}, ' ') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
      |  FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)
      |  WHERE len(w) >= 3)""".stripMargin

  /** Shared candidate-pair machinery over a (doc_id, sh_h) shingle
    * index: one row per unordered pair (id_a < id_b) with its
    * shared-shingle intersection count (x) and both endpoints'
    * post-prune cardinalities (na, nb) — the ONE definition both the
    * symmetric Jaccard and the directed containment score read (the
    * directed view mirrors it, [[keptPairStatsDirected]]), so the
    * candidate join/df-cap interaction cannot drift between them.
    */
  private def shinglePairStats(sh: DataFrame): DataFrame = {
    val card = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = sh.select(col("doc_id").as("id_a"), col("sh_h"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh_h"))
    a.join(b, Seq("sh_h")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("x"))
      .join(card.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(card.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
  }

  /** Exact Jaccard (τ = 0.5) of every pair of a [[shinglePairStats]]
    * table: one double division of exact integers per pair.
    */
  private def jaccardPairs(stats: DataFrame): DataFrame =
    stats.select(col("id_a"), col("id_b"),
        (col("x").cast("double") / (col("na") + col("nb") - col("x"))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)

  /** Stop-shingle document-frequency cap for the exact Jaccard join: a
    * shingle present in more than this many documents contributes C(df,2)
    * candidate pairs — a hot shingle ("of the and") is a quadratic skew
    * bomb beyond what AQE's skew split repairs. Capping df bounds the
    * self-join output at C(cap,2) pairs PER SHINGLE TYPE (linear in index
    * size, constant per shingle), the standard stop-shingle rule of
    * near-dup pipelines. An ABSOLUTE cap, not a corpus fraction: a
    * fractional cap re-admits quadratic growth as the corpus grows.
    * Jaccard is then computed consistently over the pruned shingle space
    * (cardinalities and intersections both post-prune), mirrored exactly
    * in the oracle. Active at sf0.1 (shingle df there maxes at 25).
    */
  private[graft] val StopShingleDf = 16

  /** The unpruned exact-Jaccard baseline (spec use): MinHash verification
    * scores pairs over FULL shingle sets, so its recall/precision spec
    * must compare against this, not the stop-shingle-capped query.
    */
  private[graft] def exactJaccardUnpruned(s: SparkSession, d: String): DataFrame =
    jaccardPairs(shinglePairStats(shingles(s, d)))

  /** N-gram Jaccard similarity join (τ=0.5): inverted shingle index →
    * stop-shingle df cap → shared-shingle candidate pairs → exact Jaccard.
    * The shuffle key is the shingle; the df cap above bounds per-shingle
    * join fan-out, AQE's skew split handles residual imbalance below the
    * cap, and the MinHash variant below is the scale path that never
    * joins on raw shingles at all. The hot-shingle set is a tiny residue
    * (it shrinks as the cap rises) → broadcast anti-join, so the pruning
    * itself adds no shuffle to the index stream.
    */
  val qNgramJaccard: Q = Q(
    "q_ngram_jaccard",
    s"""WITH $shinglesSql,
       |hot AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) > $StopShingleDf),
       |kept AS (SELECT doc_id, sh FROM sh
       |         WHERE sh NOT IN (SELECT sh FROM hot)),
       |card AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS x
       |  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  CAST(x AS DOUBLE) / (ca.n + cb.n - x) AS jaccard
       |FROM inter
       |JOIN card ca ON ca.doc_id = id_a
       |JOIN card cb ON cb.doc_id = id_b
       |WHERE CAST(x AS DOUBLE) / (ca.n + cb.n - x) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin
  ) { (s, d) =>
    // the SHARED undirected pair-stats table (already id_a < id_b grain)
    // — x/na/nb are direction-independent, so the corpus pays the
    // shingle-keyed candidate join once across both n-gram operators
    jaccardPairs(keptPairStats(s, d)).orderBy("id_a", "id_b")
  }

  /** Containment threshold for [[qNgramContainment]] — the partial-copy
    * bar of exact-substring pipelines (RefinedWeb flags documents whose
    * content is mostly contained in another at ~0.8).
    */
  private[graft] val ContainmentTau = 0.8

  /** N-gram CONTAINMENT join (τ=[[ContainmentTau]]) — the ASYMMETRIC
    * member of the near-dup family: containment(a→b) = |A∩B| / |A| over
    * distinct word-3-gram sets. Jaccard normalizes by the UNION, so a
    * short document wholly embedded in a longer one (a quoted article
    * inside a wrapper page, a post plus its comment thread) scores
    * arbitrarily low on [[qNgramJaccard]] while its containment is 1.0 —
    * this operator emits exactly those DIRECTED (contained, container)
    * pairs. Since C(a→b) = x/na ≥ x/(na+nb−x) = J(a,b), the containment
    * report is always a superset of the Jaccard report at equal τ —
    * spec-pinned.
    *
    * Scale shape: identical to [[qNgramJaccard]] — same df-capped
    * shingle index ([[keptShingles]]: the stop-shingle rule bounds the
    * self-join at C(cap,2) pairs per shingle type; containment is then
    * computed consistently over the pruned shingle space, mirrored in
    * the oracle), same shingle-keyed shuffle of 16-byte rows; the only
    * delta is the a ≠ b filter (both directions survive — the report is
    * directed) and the single-cardinality denominator.
    */
  val qNgramContainment: Q = Q(
    "q_ngram_containment",
    s"""WITH $shinglesSql,
       |hot AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) > $StopShingleDf),
       |kept AS (SELECT doc_id, sh FROM sh
       |         WHERE sh NOT IN (SELECT sh FROM hot)),
       |card AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS x
       |  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, ca.n AS n_grams_a, x AS n_shared,
       |  CAST(x AS DOUBLE) / ca.n AS containment
       |FROM inter JOIN card ca ON ca.doc_id = id_a
       |WHERE CAST(x AS DOUBLE) / ca.n >= $ContainmentTau
       |ORDER BY id_a, id_b""".stripMargin
  ) { (s, d) =>
    keptPairStatsDirected(s, d)
      .select(col("id_a"), col("id_b"), col("na").as("n_grams_a"),
        col("x").as("n_shared"),
        (col("x").cast("double") / col("na")).as("containment"))
      .filter(col("containment") >= ContainmentTau)
      .orderBy("id_a", "id_b")
  }

  /** The df-capped UNDIRECTED pair statistics (one row per id_a < id_b
    * pair with the shared-shingle count x and both cardinalities) —
    * materialized ONCE and read by BOTH n-gram join operators:
    * [[qNgramJaccard]] directly, [[qNgramContainment]] through the lazy
    * mirrored view [[keptPairStatsDirected]]. Before this the two
    * operators each ran the full shingle-keyed candidate join (~1.9 s
    * each at sf0.1); the shared table pays it once, and the pair table
    * itself is small by the [[StopShingleDf]] bound (C(cap,2) pairs per
    * shingle type).
    *
    * r14: the materialized grain switched from DIRECTED (a ≠ b, both
    * orders) to UNDIRECTED (a < b) — x, na, nb are direction-independent,
    * so the directed view is the union with the (id_b, id_a, x, nb, na)
    * mirror, a map-side projection over the cache. The self-join's
    * a < b predicate emits HALF the pre-aggregation rows of a ≠ b
    * (guide §2.3: shuffle/aggregate fewer bytes — 2.32M → 1.16M rows
    * at sf0.1), the pair aggregate and both cardinality joins process
    * half the rows, and the cached table halves.
    */
  private[graft] def keptPairStats(s: SparkSession, d: String): DataFrame =
    SessionCache.persisted(s, d, "shingle_pair_stats")(
      shinglePairStats(keptShingles(s, d)))

  /** The DIRECTED (a ≠ b, both orders) view over [[keptPairStats]]:
    * cache ∪ mirror. Row-for-row equal to the old directed
    * materialization because x(a,b) = x(b,a) and na/nb swap with the
    * endpoints.
    */
  private def keptPairStatsDirected(s: SparkSession, d: String): DataFrame = {
    val und = keptPairStats(s, d)
    und.unionByName(und.select(col("id_b").as("id_a"),
      col("id_a").as("id_b"), col("x"), col("nb").as("na"),
      col("na").as("nb")))
  }

  /** The df-capped shingle index feeding [[qNgramJaccard]] (package-
    * visible for the pair-count-bound spec). The df aggregate partial-
    * combines map-side; only the tiny hot set crosses the broadcast.
    */
  private[graft] def keptShingles(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d)
    val hot = sh.groupBy("sh_h").agg(count(lit(1)).as("df"))
      .filter(col("df") > StopShingleDf).select("sh_h")
    sh.join(broadcast(hot), Seq("sh_h"), "left_anti")
  }

  /** Shingle document-frequency PROFILE — the measurement behind the
    * [[StopShingleDf]] cap (the [[graft.operators.Profiling.qSkewKeys]]
    * principle applied to the similarity join's own key space): the
    * candidate-pair work of the inverted-index join is Σ C(df, 2) per
    * shingle type, so a handful of boilerplate shingles (license
    * headers, templates) carry almost all of it while contributing no
    * similarity signal. Per power-of-two df bucket: shingle types,
    * postings, the EXACT pair work Σ df·(df−1)/2, its share of all pair
    * work, and how many of the bucket's types the cap removes — the
    * report that justifies (or re-tunes) the cap on a new corpus
    * instead of trusting a constant chosen on this one.
    *
    * Bucket = bit length of df (the [[TextOps.qTokenHist]] rule — exact
    * both engines as the binary-string length). The Spark side profiles
    * the HASHED shingle index (the 8-byte keys the join actually
    * shuffles); the oracle profiles the raw strings — identical absent
    * xxhash64 collisions, the same standing assumption the Jaccard
    * oracle itself makes.
    *
    * Scale shape (100 TB): df is one map-side-combined aggregate over
    * the materialized shingle index (hot types absorb in partials);
    * everything after is bucket grain (≤ ~40 rows) — windows and the
    * 1-row total broadcast are post-aggregation only.
    */
  val qShingleDfProfile: Q = Q(
    "q_shingle_df_profile",
    s"""WITH $shinglesSql,
       |df AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY 1),
       |b AS (SELECT CAST(strlen(bin(df)) AS INT) AS k, df FROM df),
       |a AS (
       |  SELECT k, COUNT(*) AS n_shingles,
       |    CAST(SUM(df) AS BIGINT) AS n_postings,
       |    CAST(SUM(df * (df - 1) // 2) AS BIGINT) AS n_pairs,
       |    CAST(SUM(CASE WHEN df > $StopShingleDf THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_capped
       |  FROM b GROUP BY 1),
       |g AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS tot FROM a)
       |SELECT k AS bucket,
       |  CAST(2 ** (k - 1) AS BIGINT) AS lo,
       |  CAST(2 ** k - 1 AS BIGINT) AS hi,
       |  n_shingles, n_postings, n_pairs,
       |  CASE WHEN tot = 0 THEN NULL
       |    ELSE ${graft.functions.Det.exactDivSql("n_pairs", "tot", 4)} END
       |    AS pair_share,
       |  n_capped
       |FROM a, g ORDER BY bucket""".stripMargin
  ) { (s, d) =>
    import graft.functions.Det.exactDiv
    val df = shingles(s, d).groupBy("sh_h").agg(count(lit(1)).as("df"))
    val a = df
      .select(length(bin(col("df"))).cast("int").as("k"), col("df"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("df")).cast("long").as("n_postings"),
        // DIV, not `/`: Spark `/` on longs is DOUBLE division (df·(df−1)
        // is always even, so integer DIV is exact)
        sum(expr("df * (df - 1) DIV 2")).cast("long").as("n_pairs"),
        sum(when(col("df") > StopShingleDf, 1L).otherwise(0L)).cast("long")
          .as("n_capped"))
    val tot = sum(col("n_pairs")).over(
      Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)).cast("long")
    a.select(col("k").as("bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), k - 1)").as("lo"),
        expr("shiftleft(CAST(1 AS BIGINT), k) - 1").as("hi"),
        col("n_shingles"), col("n_postings"), col("n_pairs"),
        when(tot === 0, lit(null))
          .otherwise(exactDiv(col("n_pairs"), tot, 4)).as("pair_share"),
        col("n_capped"))
      .orderBy("bucket")
  }

  private val MinhashK = 32
  private val BandRows = 4 // 8 bands × 4 rows

  /** MinHash + LSH near-dup (rows-only; spec checks vs exact Jaccard):
    * k=32 min-hashes per doc (one pass over the shingle index, 32 partial
    * min aggregates over the precomputed shingle hash — each permutation
    * mixes the fixed-width long, never re-hashes the string), 8 bands of 4
    * → band-hash bucket join → exact Jaccard verification ONLY on
    * bucket-collision pairs. This is the 100 TB dedup path: the shuffle
    * carries 32 longs per doc, never the shingles.
    */
  val qDedupMinhash: Q = Q.rowsOnly("q_dedup_minhash") { (s, d) =>
    minhashPairs(s, d).orderBy("id_a", "id_b")
  }

  /** The verified MinHash near-dup pairs (id_a < id_b, jaccard ≥ 0.5),
    * unsorted — shared by q_dedup_minhash and the clustering pass. Above
    * the gates the exact-verification join is materialized too
    * (candidates alone being cached still re-ran the collect_set +
    * intersect pass per consumer).
    */
  private[graft] def minhashPairs(s: SparkSession, d: String): DataFrame =
    nearDupEntry(s, d, "minhash_pairs")(
      nd => nd.pairsFrame(s, verifyPairs(candidatesOf(bandsOf(docShingles(s, d))),
        docShingles(s, d)).schema),
      // exact verification within buckets only ([[verifyPairs]]): the
      // candidate docs' shingle-hash SETS are per-row array_distinct over
      // the cached arrays
      verifyPairs(minhashCandidates(s, d), docShingleHashes(s, d)))

  /** Per-document shingle-hash ARRAYS — the zero-shuffle feed of the
    * MinHash pipeline: shingling, hashing, the 32 permutation minima and
    * the verification sets are all per-row array expressions over this,
    * so NOTHING shuffles before the band-bucket join (the r2 formulation
    * exploded ~100 rows per doc into a keyed cache and ran the signature
    * and collect_set passes as co-partitioned aggregates — zero exchange
    * too, but it materialized the corpus × shingle fan-out and paid the
    * aggregation machinery; at 100 TB this form caches one narrow row
    * per doc and keeps the whole signature stage embarrassingly
    * parallel). The hash is xxhash64 of the word-3-gram string — one
    * strong 64-bit key per shingle, computed once; every consumer (the
    * 32 minhash permutations, verification sets, the exact Jaccard
    * postings via [[shingles]]) mixes or joins this fixed-width long
    * instead of re-hashing/carrying the string.
    */
  /** Per-doc shingle-hash arrays for an arbitrary (doc_id, text) frame —
    * the DataFrame-parameterized core [[docShingleHashes]] memoizes per
    * dir, and the incremental path feeds with just the new slice.
    *
    * r14: ONE kernel pass ([[graft.functions.GramHashKernel]],
    * keepEmpty = the split-without-filter tokenization this pipeline has
    * always used) replaces tokenize → 3-gram string array → per-element
    * xxhash64 — bit-identical hash values (the kernel hashes the same
    * bytes with the same seed), no token array or per-shingle string
    * materialized. The `size(hs) > 0` filter is exactly the old
    * `size(w) >= 3` doc filter: grams ≥ 1 ⇔ split tokens ≥ 3.
    */
  private def shingleHashesOf(docs: DataFrame): DataFrame =
    Tables.spreadByDocId(docs)
      .select(col("doc_id"), shingleHashCol.as("hs"))
      .filter(size(col("hs")) > 0)

  /** A document's shingle hashes: the one expression both near-dup paths
    * evaluate, so their hashes are bit-identical. It keeps empty tokens,
    * unlike [[Text.gramHashes]]: [[Text.norm]] trims only spaces and maps
    * an edge tab, newline, CR or form feed to one space, so "abc def ghi\n"
    * keeps an edge space and two trigrams where dropping empties gives
    * one. Folding the two would change such documents' MinHash shingles.
    */
  private def shingleHashCol: Column =
    GraftFunctions.call("graft_gram_hashes", Text.norm(col("text")), lit(3), lit(true))

  /** Banded MinHash signatures of a shingle-hash frame: per-row minhash i
    * = min over the doc's shingle hashes of xxhash64(i, h) — bit-identical
    * to the r2 min-aggregate form (same int-literal + long hash inputs),
    * just computed without a groupBy. A row depends on ITS document only,
    * which is what makes the incremental path exact by construction.
    */
  private def bandsOf(sh: DataFrame): DataFrame = {
    // r15: the 32 permutation minima + 8 band hashes are ONE primitive
    // kernel pass ([[graft.functions.MinhashBandKernel]]) — the nested
    // transform/array_min lambdas were CodegenFallback (interpreted per
    // element) and boxed a K-long signature array per doc; the kernel
    // calls the same XXH64 static functions in the same fold order, so
    // every band hash is bit-identical (build_minhash_bands sf10:
    // 19.5 → 4.0 s). Kernel INLINE in the generator (CLAUDE.md rule).
    val bands = GraftFunctions.call("graft_minhash_bands",
      col("hs"), lit(MinhashK), lit(BandRows))
    sh.select(col("doc_id"), posexplode(bands).as(Seq("band", "bhash")))
  }

  /** Exact Jaccard verification of candidate pairs against shingle-hash
    * sets drawn from `sh` (set sizes equal the string-shingle sets modulo
    * 2^-64 collisions).
    */
  private def verifyPairs(candidates: DataFrame, sh: DataFrame): DataFrame = {
    val ids = candidates.select(col("id_a").as("doc_id"))
      .unionByName(candidates.select(col("id_b").as("doc_id"))).distinct()
    val sets = sh.join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), array_distinct(col("hs")).as("shs"))
    candidates
      .join(sets.select(col("doc_id").as("id_a"), col("shs").as("sa")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("shs").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          (size(col("sa")) + size(col("sb"))
            - size(array_intersect(col("sa"), col("sb"))))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** Incremental near-dup maintenance — the production "index the daily
    * increment" path: given the EXISTING corpus and a NEW slice, emit
    * exactly the verified near-dup pairs that involve at least one new
    * document (new-vs-new and new-vs-old), WITHOUT re-banding or
    * re-verifying old-vs-old. Because signatures and verification sets
    * are per-row (no corpus-level state), this is exact by construction:
    * pairs(old ∪ new) = pairs(old) ∪ increment(old, new) — the spec pins
    * that identity. At 100 TB the old bands/sets live as written index
    * tables (Store.appendDeduped's lake pattern); each increment
    * re-hashes only its own documents and band-joins against the index.
    *
    * Re-ingested doc_ids (present in BOTH slices) resolve new-version-wins:
    * the old slice is anti-joined against the new slice's ids first —
    * without it, a duplicated id would fan out the per-doc set joins in
    * verification and emit duplicate candidate pairs, silently breaking
    * the pairs(old)∪increment identity.
    */
  def minhashIncrement(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val (shOld, shNew) = incrementShingles(oldDocs, newDocs)
    incrementPairs(shOld, shNew)
  }

  /** Scoped form of [[minhashIncrement]] (the Store.withJsonlLenient
    * pattern): the shingle-hash frames feed BOTH the band join and the
    * verification pass from multiple aliased subtrees, so the plain form
    * re-shingles the slices per consumer (acceptable for one-shot calls;
    * exchange reuse absorbs some of it). This form persists them for the
    * duration of `f` and unpersists in a finally — the shape a production
    * daily-increment job wants (at 100 TB the old side would instead be a
    * WRITTEN band/set index, making the persist unnecessary).
    */
  def minhashIncrementScoped[T](oldDocs: DataFrame, newDocs: DataFrame)
      (f: DataFrame => T): T = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val (old, fresh) = incrementShingles(oldDocs, newDocs)
    val shOld = old.persist(lvl)
    val shNew = fresh.persist(lvl)
    try f(incrementPairs(shOld, shNew))
    finally { shOld.unpersist(); shNew.unpersist() }
  }

  /** Shingle-hash frames of the old and new slices, new-version-wins on
    * re-ingested doc_ids (the old slice is anti-joined against the new
    * slice's ids).
    */
  private def incrementShingles(oldDocs: DataFrame, newDocs: DataFrame)
      : (DataFrame, DataFrame) = {
    val old = oldDocs.join(newDocs.select("doc_id"), Seq("doc_id"), "left_anti")
    (shingleHashesOf(old), shingleHashesOf(newDocs))
  }

  /** The band join of the new slice against both slices, verified. */
  private def incrementPairs(shOld: DataFrame, shNew: DataFrame): DataFrame = {
    val bNew = bandsOf(shNew)
    val bAll = bandsOf(shOld).unionByName(bNew)
    // one side is always NEW; normalize to id_a < id_b, dedup multi-band
    val candidates = bNew.select(col("doc_id").as("id_n"), col("band"), col("bhash"))
      .join(bAll.select(col("doc_id").as("id_o"), col("band"), col("bhash")),
        Seq("band", "bhash"))
      .filter(col("id_n") =!= col("id_o"))
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"))
      .distinct()
    verifyPairs(candidates, shOld.unionByName(shNew))
  }

  /** Per-document shingle-hash arrays (see [[shingleHashesOf]]), persisted
    * on both sides of the gates: the near-dup driver pass reads the
    * documents itself, so this entry's readers are the distributed chain
    * and the n-gram family ([[shingles]]).
    */
  private[graft] def docShingleHashes(s: SparkSession, d: String): DataFrame =
    SessionCache.persisted(s, d, "doc_shingle_hashes")(docShingles(s, d))

  // above the gates bands are materialized: the bucket self-join reads
  // them from two aliased sides — without it the signature pass runs twice
  private[graft] def minhashBands(s: SparkSession, d: String): DataFrame =
    nearDupEntry(s, d, "minhash_bands")(
      nd => nd.bandsFrame(s, bandsOf(docShingles(s, d)).schema),
      bandsOf(docShingleHashes(s, d)))

  // above the gates candidates are materialized: consumed three times
  // downstream (two id-side semi-joins + the final pair filter); it is
  // tiny (collision pairs only)
  private[graft] def minhashCandidates(s: SparkSession, d: String): DataFrame =
    nearDupEntry(s, d, "minhash_candidates")(
      nd => nd.candidatesFrame(s, candidatesOf(bandsOf(docShingles(s, d))).schema),
      candidatesOf(minhashBands(s, d)))

  /** Band-bucket collisions of a bands frame as distinct (id_a < id_b). */
  private def candidatesOf(bands: DataFrame): DataFrame =
    bands.select(col("doc_id").as("id_a"), col("band"), col("bhash"))
      .join(bands.select(col("doc_id").as("id_b"), col("band"), col("bhash")),
        Seq("band", "bhash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

  /** The distributed chain's shingle frame over the documents, unbuilt:
    * the driver path reads its entries' schemas off plans over it (an
    * analysis, no job).
    */
  private def docShingles(s: SparkSession, d: String): DataFrame =
    shingleHashesOf(Tables.documents(s, d))

  /** The distributed chain's five entries by cache name, unpersisted: the
    * plans the accessors persist above the gates, for comparing the two
    * paths on one corpus. The labels run [[components]], which is eager.
    */
  private[graft] def nearDupDistributed(s: SparkSession, d: String): Seq[(String, DataFrame)] = {
    val sh = docShingles(s, d)
    val bands = bandsOf(sh)
    val pairs = verifyPairs(candidatesOf(bands), sh)
    Seq("doc_shingle_hashes" -> sh, "minhash_bands" -> bands,
      "minhash_candidates" -> candidatesOf(bands), "minhash_pairs" -> pairs,
      "dedup_cluster_labels" -> components(pairs))
  }

  /** One entry of the near-dup chain: under the gates a local frame of the
    * driver pass's rows ([[nearDupLocal]]), built when first called, with
    * no job; above them `dist`, persisted and counted.
    */
  private def nearDupEntry(s: SparkSession, d: String, name: String)(
      local: NearDupLocal => DataFrame, dist: => DataFrame): DataFrame =
    nearDupLocal(s, d) match {
      case Some(nd) => SessionCache(s, d, name)(local(nd))
      case None => SessionCache.persisted(s, d, name)(dist)
    }

  /** The driver pass, or None above either gate. The documents' footer
    * row count meets [[Gates.MinhashDriverMaxDocs]] first, with no job;
    * under it one collect brings the (doc_id, shingle hashes) rows of
    * every document with a shingle to the driver ([[shingleHashCol]], the
    * expression the distributed chain evaluates), and their band buckets'
    * pair count meets [[Gates.MinhashDriverMaxPairs]], before any pair is
    * built. Memoized, as [[Assembly]]'s BPE word rows are.
    */
  private def nearDupLocal(s: SparkSession, d: String): Option[NearDupLocal] =
    SessionCache(s, d, "near_dup_rows") {
      val gate = Gates.MinhashDriverMaxDocs
      if (!gate.near(Tables.rowsUpTo(s, d, "documents", gate.max))) None
      else {
        import s.implicits._
        val rows = Tables.documents(s, d)
          .select(col("doc_id"), shingleHashCol.as("hs"))
          .filter(size(col("hs")) > 0)
          .as[(Option[Long], Array[Long])].collect()
        Some(new NearDupLocal(rows))
          .filter(nd => Gates.MinhashDriverMaxPairs.near(nd.bucketPairs))
      }
    }

  /** The near-dup chain over the driver pass's rows, on primitive arrays.
    * Every stage calls what its distributed twin calls and keeps its row
    * semantics (a null doc_id has bands but no pair; a doc_id on two rows
    * verifies each row), so each local frame holds the rows of its
    * distributed entry. Each stage runs when first read.
    */
  private final class NearDupLocal(rows: Array[(Option[Long], Array[Long])]) {
    private val n = rows.length
    private val hs: Array[Array[Long]] = rows.map(_._2)
    private val hasId: Array[Boolean] = rows.map(_._1.isDefined)
    private val ids: Array[Long] = rows.map(_._1.getOrElse(0L))
    private val withId: Array[Int] = (0 until n).filter(hasId).toArray

    /** Distinct non-null doc_ids ascending: a pair is packed into one long
      * as rank(id_a) << 32 | rank(id_b), so sorting packed pairs sorts by
      * (id_a, id_b). Ranks fit an int: there are at most
      * [[Gates.MinhashDriverMaxDocs]] rows.
      */
    private lazy val byRank: Array[Long] = sortedDistinct(withId.map(ids))
    private lazy val rank: Array[Int] =
      Array.tabulate(n)(i => if (hasId(i)) java.util.Arrays.binarySearch(byRank, ids(i)) else -1)

    /** [[MinhashBandKernel.bands]] of each row: what `graft_minhash_bands` calls. */
    lazy val bands: Array[Array[Long]] = hs.map(h => graft.functions.MinhashBandKernel
      .bands(UnsafeArrayData.fromPrimitiveArray(h), MinhashK, BandRows).toLongArray())

    /** Per band, the band hashes of the rows with a doc_id, sorted: each
      * run of equal hashes is one bucket.
      */
    private lazy val sortedBands: Array[Array[Long]] =
      Array.tabulate(MinhashK / BandRows) { b =>
        val k = withId.map(i => bands(i)(b))
        java.util.Arrays.sort(k)
        k
      }

    /** Σ C(m, 2) over every band's buckets of m rows: the pairs
      * [[candidates]] would build, counted without building one.
      */
    lazy val bucketPairs: Long = sortedBands.iterator.map { k =>
      var (sum, lo) = (0L, 0)
      while (lo < k.length) {
        var hi = lo + 1
        while (hi < k.length && k(hi) == k(lo)) hi += 1
        sum += (hi - lo).toLong * (hi - lo - 1) / 2
        lo = hi
      }
      sum
    }.sum

    /** Packed (id_a, id_b) pairs that share a (band, bhash) bucket, sorted
      * and distinct. Per band, sort-based grouping: the hashes held by two
      * or more rows, then (bucket, row) packed and sorted; each band's
      * pairs are deduplicated before the bands merge.
      */
    lazy val candidates: Array[Long] = sortedDistinct(sortedBands.indices.toArray.flatMap { b =>
      val k = sortedBands(b)
      val shared = Array.newBuilder[Long]
      var j = 1
      while (j < k.length) {
        if (k(j) == k(j - 1) && (j == 1 || k(j - 1) != k(j - 2))) shared += k(j)
        j += 1
      }
      val hot = shared.result()
      val members = Array.newBuilder[Long]
      withId.foreach { i =>
        val x = java.util.Arrays.binarySearch(hot, bands(i)(b))
        if (x >= 0) members += x.toLong << 32 | i
      }
      val m = members.result()
      java.util.Arrays.sort(m)
      val out = Array.newBuilder[Long]
      var lo = 0
      while (lo < m.length) {
        var hi = lo + 1
        while (hi < m.length && (m(hi) >>> 32) == (m(lo) >>> 32)) hi += 1
        for (x <- lo until hi; y <- x + 1 until hi) {
          val (ra, rb) = (rank(m(x).toInt), rank(m(y).toInt))
          if (ra != rb) out += math.min(ra, rb).toLong << 32 | math.max(ra, rb)
        }
        lo = hi
      }
      sortedDistinct(out.result())
    })

    /** Verified pairs (id_a, id_b, jaccard), sorted by (id_a, id_b):
      * [[verifyPairs]]' arithmetic over each candidate's row sets.
      */
    lazy val pairs: (Array[Long], Array[Long], Array[Double]) = {
      // the rows of each rank, as linked lists
      val first = Array.fill(byRank.length)(-1)
      val next = new Array[Int](n)
      for (i <- n - 1 to 0 by -1 if hasId(i)) { next(i) = first(rank(i)); first(rank(i)) = i }
      val sets = new Array[Array[Long]](n)
      def set(i: Int): Array[Long] = {
        if (sets(i) == null) sets(i) = sortedDistinct(hs(i))
        sets(i)
      }
      val (as, bs, js) = (Array.newBuilder[Long], Array.newBuilder[Long], Array.newBuilder[Double])
      candidates.foreach { p =>
        var i = first((p >>> 32).toInt)
        while (i >= 0) {
          var j = first(p.toInt)
          while (j >= 0) {
            val (sa, sb) = (set(i), set(j))
            val inter = intersectSize(sa, sb)
            val jac = inter.toDouble / (sa.length + sb.length - inter)
            if (jac >= 0.5) { as += ids(i); bs += ids(j); js += jac }
            j = next(j)
          }
          i = next(i)
        }
      }
      (as.result(), bs.result(), js.result())
    }

    /** (id, label) over the verified pairs: the one union-find. */
    lazy val labels: Seq[(Long, Long)] = {
      val (as, bs, _) = pairs
      unionFindLabels(as.indices.iterator.map(k => (as(k), bs(k))))
    }

    def bandsFrame(s: SparkSession, schema: StructType): DataFrame =
      GraftSqlBridge.localFrame(s, schema, for (i <- 0 until n; b <- bands(i).indices)
        yield InternalRow(if (hasId(i)) ids(i) else null, b, bands(i)(b)))

    // candidates, pairs and labels are a few hundred rows: planned as one
    // partition (`Tables.table`'s reasoning), the aggregates, sorts and
    // joins over them plan no exchange. The bands, 8 rows per document,
    // keep the local scan's spread.
    def candidatesFrame(s: SparkSession, schema: StructType): DataFrame =
      GraftSqlBridge.localFrame(s, schema, candidates.toSeq.map(p =>
        InternalRow(byRank((p >>> 32).toInt), byRank(p.toInt)))).coalesce(1)

    def pairsFrame(s: SparkSession, schema: StructType): DataFrame = {
      val (as, bs, js) = pairs
      GraftSqlBridge.localFrame(s, schema, as.indices.map(k => InternalRow(as(k), bs(k), js(k))))
        .coalesce(1)
    }

    def labelsFrame(s: SparkSession): DataFrame = {
      import s.implicits._
      labels.toDF("id", "label").coalesce(1)
    }
  }

  /** `a` sorted ascending without repeats (a new array). */
  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    val c = a.clone()
    java.util.Arrays.sort(c)
    var m = 0
    var i = 0
    while (i < c.length) {
      if (m == 0 || c(i) != c(m - 1)) { c(m) = c(i); m += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(c, m)
  }

  /** |a ∩ b| of two sorted, distinct arrays. */
  private def intersectSize(a: Array[Long], b: Array[Long]): Int = {
    var (i, j, k) = (0, 0, 0)
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { k += 1; i += 1; j += 1 }
    }
    k
  }

  /** SimHash near-dup (rows-only; spec): 64-bit fingerprint where bit b is
    * the sign of the ±1 sum over distinct-token hashes, then the pigeonhole
    * band join (4×16-bit chunks — Hamming ≤ 3 ⇒ at least one chunk equal)
    * and exact Hamming ≤ 3 via bit_count(xor) within buckets.
    *
    * The fingerprint is ONE per-row codegen'd expression
    * ([[graft.functions.VecKernel.simHash64]]) over the doc's distinct token hashes
    * — no token explode, no distinct shuffle, no 64-column aggregate (the
    * previous formulation shuffled twice before banding). The signature
    * stage is embarrassingly parallel; only the band join shuffles. The
    * spec pins bit-equality against the 64-aggregate DataFrame
    * formulation.
    */
  // materialized: both band-join sides read the fingerprints
  /** Add the 64-bit SimHash fingerprint column `fp` to any frame with a
    * `text` column, dropping zero-token rows (they have no signature) —
    * the ONE fingerprint definition batch [[qDedupSimhash]] and the
    * streaming near-dup ingest front share, so the two modes cannot
    * disagree about what a document's fingerprint is. All other input
    * columns ride along (the streaming caller keeps its ts).
    */
  private[graft] def withSimhashFp(docs: DataFrame): DataFrame = {
    // working column __hs and output fp are reserved (the hashRank
    // contract): withColumn would silently REPLACE a same-named caller
    // column — wrong data, not an error — and streaming callers pass
    // arbitrary ingest frames
    val reserved = Seq("__hs", "fp")
    require(!docs.columns.exists(reserved.contains),
      s"withSimhashFp reserves columns $reserved")
    // word hashes over Text.norm — the SAME canonical normalization the
    // exact content key uses, so a widened whitespace class moves the
    // exact and near-dup tiers together (the funnel's stage-1 ⊆ stage-2
    // premise)
    val hs = array_distinct(Text.gramHashes(col("text"), 1))
    docs
      .withColumn("__hs", hs)
      .filter(size(col("__hs")) >= 1) // docs with zero tokens have no signature
      .withColumn("fp", GraftFunctions.call("graft_simhash64", col("__hs")))
      .drop("__hs")
  }

  /** 4×16-bit pigeonhole band explode over a frame with an `fp` column:
    * adds (band, chunk) — any pair within Hamming ≤ 3 shares at least
    * one exact (band, chunk) key. Shared by [[qDedupSimhash]] and the
    * streaming front's store join.
    */
  private[graft] def simhashBands(fp: DataFrame): DataFrame =
    fp.select(col("*"), posexplode(array(
      (0 until 4).map(k =>
        shiftrightunsigned(col("fp"), k * 16).bitwiseAND(0xffff)): _*))
      .as(Seq("band", "chunk")))

  /** Half-probe keys for the Hamming ≤ 3 candidate join (r10 —
    * block-probing in the spirit of Manku et al., WWW'07 §3, re-expressed
    * as a Spark equi-join): split the 64-bit fingerprint into two 32-bit
    * halves. A pair within Hamming ≤ 3 has ≤ 1 differing bit in ONE half
    * (3 diffs across 2 halves ⇒ min ≤ 1), so if the PROBE side enumerates
    * each half's identity plus all 32 single-bit flips (66 keys/fp) and
    * the CORPUS side keeps each half exactly (2 keys/fp), the probe hits
    * the corpus key of every true pair. Keys pack (half, value) into one
    * long: value | half << 32.
    *
    * Why 33-bit exact keys instead of the 16-bit pigeonhole bands
    * (measured at sf10, Diag artifacts in SURVEY §8): fingerprints of a
    * shared-vocabulary corpus CORRELATE, so 16-bit band values concentrate
    * — 500k docs → 274k distinct fps but only ~8–13k distinct values per
    * band, hot buckets of 16.7k fps, Σ C(load,2) ≈ 1.0e9 candidate pairs
    * (2405.6 s). A 28-bit two-level band⊕sub-chunk key still measured
    * 209M candidates (1685 s) — correlated bits don't spread. EXACT
    * 32-bit halves are near-unique (max bucket 735, Σ C(load,2) = 7.8M),
    * and the flip enumeration moves the fan-out to the PROBE side where
    * it is a fixed ×66 on narrow rows, not a bucket-load square. The
    * corpus key side is 2 rows/fp — at this scale a broadcastable build
    * side, so the 66·D probe rows never shuffle.
    */
  private[graft] def simhashHalfKeys(fp: DataFrame, probe: Boolean): DataFrame = {
    val lo = col("fp").bitwiseAND(lit(0xffffffffL))
    val hi = shiftrightunsigned(col("fp"), 32)
    def key(h: Int, v: Column): Column = v.bitwiseOR(lit(h.toLong << 32))
    val keys =
      if (!probe) Seq(key(0, lo), key(1, hi))
      else for { h <- 0 to 1; k <- -1 until 32 } yield {
        val base = if (h == 0) lo else hi
        key(h, if (k < 0) base else base.bitwiseXOR(lit(1L << k)))
      }
    fp.select(col("*"), explode(array(keys: _*)).as("hk"))
  }

  private[graft] def simhashFingerprints(s: SparkSession, d: String): DataFrame =
    SessionCache.persisted(s, d, "simhash_fp") {
      withSimhashFp(Tables.spreadByDocId(Tables.documents(s, d)))
        .select("doc_id", "fp")
    }

  /** Cheap LOWER bound on [[qDedupSimhash]]'s emitted pair count: the
    * Hamming-0 term Σ_fp m·(m−1)/2 over exact-fingerprint group sizes —
    * one narrow groupBy over the fingerprint cache, no pair join. At
    * sf10 this term alone is ~1.5e9 of the measured 2.065e9 total
    * (`Diag pairs`), so it is the right trigger for the output-law
    * bench skip policy: when even the exact-duplicate floor exceeds the
    * cap, the flood is certain. m·(m−1) is always even, so DIV 2 is
    * exact.
    */
  private[graft] def simhashPairFloorEstimate(s: SparkSession,
      d: String): Long = {
    val r = simhashFingerprints(s, d).groupBy("fp")
      .agg(count(lit(1)).as("m"))
      .agg(sum(expr("m * (m - 1) DIV 2")).as("p"))
      .collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** SimHash near-dup pairs (Hamming ≤ 3), band-joined over DISTINCT
    * fingerprints.
    *
    * Why distinct-first (measured, r8 sf1→sf10): the naive doc-grain band
    * self-join is Θ(Σ load²) over (band, chunk) buckets, and fingerprints
    * CONCENTRATE on real corpora — exact duplicates, boilerplate, and any
    * bounded-vocabulary text collapse many documents onto few fps, so hot
    * buckets carry Θ(n) docs and the join is Θ(n²) rows BEFORE the
    * Hamming filter (17.8 s at sf1 → killed past 35 min at sf10 on the
    * doc-grain form). Collapsing to distinct fps first bounds the join by
    * distinct-fp bucket loads, then expands fp-grain matches back to doc
    * pairs: same-fp groups to hamming-0 pairs, and distinct cross-fp
    * matches (deduped at fp grain, which is also what retires the old
    * post-expansion `distinct()` over the pair flood) to member cross
    * products. Every surviving expansion row is OUTPUT — that quadratic
    * term is the answer itself (a dup-dense corpus genuinely HAS Θ(n²)
    * near-dup pairs; a lake-scale deployment reports clusters —
    * [[qDedupClusters]] — precisely to avoid materializing that).
    *
    * r10 CORRECTION (measured at sf10): the r8 premise "D is
    * vocabulary-bound" does NOT hold on corpora of mostly-unique
    * documents — at sf10 D/n = 0.547 — and band VALUES concentrate
    * because fingerprint bits correlate across a shared vocabulary, so
    * the single-level 16-bit band self-join over distinct fps measured
    * Θ(D²) anyway (2405.6 s at sf10, exponent 2.08 over sf1; Σ C(load,2)
    * = 1.0e9 candidate pairs). The candidate join now runs on
    * [[simhashHalfKeys]]'s exact-32-bit-half probe keys, whose load
    * profile is corpus-measured near-unique; the exact Hamming filter
    * and the expansion stages are unchanged, so the emitted pair set is
    * identical (spec-pinned against brute force on both the concentrated
    * and the no-concentration crafted corpora).
    */
  val qDedupSimhash: Q = Q.rowsOnly("q_dedup_simhash") { (s, d) =>
    val fp = simhashFingerprints(s, d)
    // size gate for the half-probe join's build side (cheap count off the
    // materialized fingerprint cache; D ≤ n so gating on n is
    // conservative): the exact-key side is 2 rows/fp — broadcastable far
    // past this corpus — but an unbounded hint would OOM the driver on a
    // web-scale D, and an UNHINTED join silently reverts to shuffling the
    // 66·D probe rows once 2·D crosses autoBroadcastJoinThreshold (the
    // r10 advice finding). Below the gate the hint is explicit (and
    // plan-audited); above it AQE size-decides, like dedupSurvivorsBest.
    val nFp = fp.count()
    val m = fp.select(col("doc_id"), col("fp"))
    // member-map side of every doc-grain expansion join, size-gated
    // broadcast (16 B/row — ~8 MB at sf10, borderline vs the 10 MB
    // autoBroadcast threshold): these joins EXPLODE (2.065e9 output rows
    // at sf10) and fp group sizes are corpus-skewed (one sf10 fp carries
    // 31,643 docs = 5.0e8 pairs). Planned as shuffle joins they
    // co-locate each hot fp on ONE task — and AQE's skew splitter can't
    // help, because it balances INPUT partition bytes (the whole map is
    // 8 MB) while the skew here is in OUTPUT rows. Under a broadcast
    // join the stream side keeps its doc_id-hash partitioning, which
    // spreads every hot group's members evenly across all tasks
    // (measured at sf10 — SURVEY §8). Above the gate (web-scale corpora) the
    // stream side must pre-spread on a salt instead; at that scale the
    // pair-flood materializer is the wrong consumer anyway (clusters —
    // [[qDedupClusters]] — are the lake-scale contract).
    val gatedM = Gates.SimhashMemberBroadcastMaxDocs.broadcastNear(nFp)
    // hamming-0: all pairs within an identical-fp group (pure expansion)
    val same = m.as("x").join(gatedM(m.as("y")),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        lit(0).as("hamming"))
    // hamming 1..3: half-probe join over distinct fps (a pair within
    // Hamming ≤ 3 has a half with ≤ 1 diff, so a probe-side 1-flip
    // enumeration hits the corpus-side exact half key — see
    // [[simhashHalfKeys]] for why exact 33-bit keys replace the 16-bit
    // pigeonhole bands that correlated fingerprints concentrate),
    // deduped at fp grain
    val dfp = fp.select("fp").distinct()
    val exactKeys = simhashHalfKeys(dfp, probe = false)
      .select(col("fp").as("fp_b"), col("hk"))
    val fpPairs = simhashHalfKeys(dfp, probe = true)
      .select(col("fp").as("fp_a"), col("hk"))
      .join(Gates.SimhashHalfBroadcastMaxFps.broadcastNear(nFp)(exactKeys), Seq("hk"))
      .filter(col("fp_a") < col("fp_b"))
      .select("fp_a", "fp_b").distinct()
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("int"))
      .filter(col("hamming").between(1, 3))
    val cross = fpPairs
      .join(gatedM(m.select(col("fp").as("fp_a"), col("doc_id").as("ida"))), "fp_a")
      .join(gatedM(m.select(col("fp").as("fp_b"), col("doc_id").as("idb"))), "fp_b")
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"), col("hamming"))
    // NO global orderBy (r11, measured at sf10): the emitted pair set is
    // Θ(dup-pairs) — 2.065e9 rows on the sf10 corpus (Diag `pairs`:
    // 5.64e8 same-fp + 1.50e9 cross-fp; one hot fp carries 31,643 docs)
    // — and every stage ABOVE streams it (the member map broadcasts at
    // 8 MB, so the expansion joins never shuffle doc-grain rows); a
    // final sort was the ONLY full shuffle+spill of the flood, paid for
    // a cosmetic ordering no consumer needs (specs compare SETS, the
    // clustering consumer re-shuffles by component anyway). A lake-scale
    // pair flood is returned unordered; callers that want order pay for
    // theirs.
    same.unionByName(cross)
  }

  /** Embeddings with integer-quantized vectors (units of 10⁻⁴) and their
    * exact squared norm.
    */
  /** The ONE spelling of the 10⁻⁴ integer quantization, shared by the
    * corpus index build and [[ivfAssignIncrement]]'s new-vector path so
    * an increment cannot quantize differently from the index it joins.
    */
  private val QuantizeExpr =
    "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))"

  private[graft] def quantized(s: SparkSession, d: String): DataFrame =
    SessionCache.persisted(s, d, "quantized") {
      Tables.embeddings(s, d)
        // the embeddings lake is ONE parquet file: a 200k-vector corpus
        // scans as ~3 row-group splits, and every map-only consumer of
        // this cache (the Lloyd training pass, the n×K centroid-argmin
        // assignment, the LSH bank dots — each Θ(n·K·dim) integer mults)
        // inherits THAT parallelism and serializes on 3 of 32 cores
        // (r11 finding: the sf10 IVF build ran 3 concurrent tasks).
        // Spread rows before quantizing — the simhashFingerprints
        // precedent; a full shuffle at any lake size
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .select(
          col("vec_id"), col("label"),
          expr(QuantizeExpr).as("qv"))
        .withColumn("n2", GraftFunctions.call("graft_dot_q", col("qv"), col("qv")))
    }

  private val quantizedSql =
    """q AS (
      |  SELECT vec_id, label,
      |    [CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) FOR x IN embedding] AS qv
      |  FROM embeddings)""".stripMargin

  private def cosine(dot: Column, n2a: Column, n2b: Column): Column =
    dot.cast("double") / (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double")))

  // The embedding-neighbor family below shares one two-stage shape (the
  // REPOSE / incremental top-k split): a candidate stage (brute force,
  // LSH collision counts, IVF lists or PQ distances) yields query/corpus
  // pairs, and one exact stage scores and ranks them. Each stage is
  // spelled once here.

  /** Quantized rows as the query side of a rescore: (query_id, qq, n2q),
    * then `extra`.
    */
  private def queryVecs(q: DataFrame, extra: Column*): DataFrame =
    q.select(Seq(col("vec_id").as("query_id"), col("qv").as("qq"),
      col("n2").as("n2q")) ++ extra: _*)

  /** The exact cosine of a query vector (qq, n2q) and a corpus vector
    * (qv, n2).
    */
  private def queryCosine: Column =
    cosine(GraftFunctions.call("graft_dot_q", col("qq"), col("qv")),
      col("n2q"), col("n2"))

  /** The exact stage over candidate (query_id, vec_id) ids: the corpus
    * vector joins on vec_id and the [[queryVecs]] frame `queries` on
    * query_id, so the candidate stage shuffles three longs, never a
    * vector. Emits (query_id, neighbor_id, cosine).
    */
  private def rescored(q: DataFrame, candIds: DataFrame,
      queries: DataFrame): DataFrame =
    candIds.join(q.select(col("vec_id"), col("qv"), col("n2")), "vec_id")
      .join(queries, "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        queryCosine.as("cosine"))

  /** The rank stage: the bounded-heap top-5 per query (r14 — the scored
    * frame never passes a full partition sort), then a rank window over
    * ≤ 5 rows per key. Same rows as a row_number ≤ 5 form: top-5 under
    * (cosine DESC, neighbor_id) is exactly the rank ≤ 5 set, and the
    * window re-derives rank under the identical order.
    */
  private def top5Ranked(scored: DataFrame): DataFrame =
    TopK.perKey(scored, Seq("query_id"), "cosine", "neighbor_id", 5)
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .select("query_id", "neighbor_id", "rank", "cosine")
      .orderBy("query_id", "rank")

  /** Every corpus vector of `q` scored against a broadcast [[queryVecs]]
    * sample, self-pairs dropped: (query_id, vec_id, c) — the linear S·n
    * brute force of the index-health truth and the geometry probe.
    */
  private def sampleScored(q: DataFrame, sample: DataFrame): DataFrame =
    q.join(broadcast(sample), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), queryCosine.as("c"))

  /** A neighbor report with no rows (the day-one empty lake). */
  private def noNeighbors(q: DataFrame): DataFrame =
    q.filter(lit(false))
      .select(col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        lit(1).as("rank"), lit(0.0).as("cosine"))

  /** Embedding cosine near-dup (τ=0.4), exact within label blocks — the
    * guarded correctness baseline (SURVEY §4.4); q_ann_lsh is the unblocked
    * scale path. Quantized integer dots → bit-identical to the oracle.
    *
    * COST LAW (measured sf1→sf10): per-label all-pairs ⇒ Θ(n²) by design
    * — exponent 1.96, 125.8 s at sf10 (~200k vectors). Like [[qKnnJoin]]
    * it is therefore under the bench's quadratic policy: above the
    * KnnQuadCap vector count its bench entry is `skipped_quadratic`
    * (Verify still runs it at every SF; the honest above-cap wall is
    * QTime-measured once per study and published in SURVEY §8).
    */
  val qEmbedNeardup: Q = Q(
    "q_embed_neardup",
    s"""WITH $quantizedSql
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  list_dot_product(a.qv, b.qv)
       |    / (sqrt(list_dot_product(a.qv, a.qv))
       |       * sqrt(list_dot_product(b.qv, b.qv))) AS cosine
       |FROM q a JOIN q b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE list_dot_product(a.qv, b.qv)
       |    / (sqrt(list_dot_product(a.qv, a.qv))
       |       * sqrt(list_dot_product(b.qv, b.qv))) >= 0.4
       |ORDER BY id_a, id_b""".stripMargin
  ) { (s, d) =>
    val q = quantized(s, d)
    val a = q.select(col("label"), col("vec_id").as("id_a"),
      col("qv").as("qa"), col("n2").as("n2a"))
    val b = q.select(col("label"), col("vec_id").as("id_b"),
      col("qv").as("qb"), col("n2").as("n2b"))
    a.join(b, Seq("label")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine(GraftFunctions.call("graft_dot_q", col("qa"), col("qb")),
          col("n2a"), col("n2b")).as("cosine"))
      .filter(col("cosine") >= 0.4)
      .orderBy("id_a", "id_b")
  }

  /** Brute-force cosine top-k (k=5) for a small query set (vec_id < 10):
    * broadcast the queries, scan the corpus once, per-query top-k. The
    * per-query window partitions by query_id — parallelism scales with the
    * query batch, the corpus scan itself is embarrassingly parallel.
    */
  val qCosineTopk: Q = Q(
    "q_cosine_topk",
    s"""WITH $quantizedSql,
       |sc AS (
       |  SELECT qr.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    list_dot_product(qr.qv, c.qv)
       |      / (sqrt(list_dot_product(qr.qv, qr.qv))
       |         * sqrt(list_dot_product(c.qv, c.qv))) AS cosine
       |  FROM q qr JOIN q c ON qr.vec_id < 10 AND c.vec_id <> qr.vec_id)
       |SELECT query_id, neighbor_id, rank, cosine FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM sc)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  ) { (s, d) =>
    val q = quantized(s, d)
    top5Ranked(q.crossJoin(broadcast(queryVecs(q.filter(col("vec_id") < 10))))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        queryCosine.as("cosine")))
  }

  /** Deterministic pseudo-random hyperplanes (splitmix64 → integer
    * components in [-1000, 1000]); 32 tables × [[lshBitsFor]](n) bits
    * (≥ 256 buckets per table). The query side runs query-directed
    * multiprobe (Lv et al., VLDB'07): per table it also probes the
    * buckets reached by flipping ≤ 2 of its [[ProbeBits]]
    * LEAST-CONFIDENT sign bits (smallest |dot| — the hyperplanes the
    * query sits closest to, the dominant miss mode).
    */
  private[operators] val Tables_ = 32
  private[operators] val BitsPerTable = 8

  /** n-ADAPTIVE bucket width: bits = max(8, ⌈½·log₂ n⌉), i.e. 2^bits ≈
    * √n buckets per table once the corpus outgrows 2^16 vectors.
    *
    * Why the bucket count must scale (measured, r8 sf1→sf10 step): the
    * collision join emits Θ(|queries| · probes · n/2^bits) rows — with a
    * FIXED 256-bucket table and a query set ∝ n (the self-join, semantic
    * decontamination, label propagation), that is Θ(n²/256) shuffle
    * traffic no matter how tight the exact-rescore budget is. The √n
    * budget fix bounded the rescore stage at Θ(n^1.5) but the sf10 bench
    * measured the COLLISION-COUNT aggregate taking over (the n² term's
    * constant is 1/256, invisible at sf1, dominant at sf10). Expected
    * bucket load n/2^bits = O(√n) restores Θ(|queries|·probes·√n) =
    * Θ(n^1.5) END-TO-END — the ANN family's law — for corpus-scale query
    * sets, and leaves point queries linear as before.
    *
    * Below 2^16 vectors (EVERY spec/test SF and the driver lakes up to
    * sf1) the floor keeps 8 bits, so buckets — and the pinned
    * recall/fraction measurements — are BIT-IDENTICAL to the fixed-width
    * form there. Recall cost of each extra bit: a true neighbor's
    * per-table collision odds shrink ~(1 − θ/π), compensated by the 22
    * multiprobe flips targeting exactly the least-confident bits.
    * Measured on the first width step: recall@5 = 0.975 on a
    * 70 000-vector isotropic corpus (the SimilaritySpec boundary spec —
    * the smallest corpus past 2^16, and the hard regime: real clustered
    * embeddings only collide more); q_ann_health reports the
    * production-path reading on any deployed lake.
    */
  private[graft] def lshBitsFor(n: Long): Int =
    math.max(BitsPerTable,
      math.ceil(math.log(math.max(2L, n).toDouble) / (2.0 * math.log(2.0))).toInt)

  /** How many least-confident bits are eligible for probe flips (probes
    * per table = 1 + m + C(m,2) = 22 at m=6 — tiny vs the corpus side).
    */
  private[operators] val ProbeBits = 6

  /** Exact-scored shortlist per query: the top `max(75, 15% · corpus)`
    * candidates by TABLE-COLLISION COUNT. Collision count across 32
    * tables is a strong similarity proxy (true neighbors collide in many
    * tables, random bucket-mates in ~1), so ranking candidates by it and
    * HARD-CAPPING the exact-evaluation budget bounds candidate fraction
    * by construction — the recall/selectivity knob the raw candidate
    * union lacks. The fractional budget is a POINT-QUERY cost dial only:
    * the corpus-wide self-join uses [[knnBudget]].
    */
  private[operators] val ShortlistMin = 75
  private[operators] val ShortlistFrac = 0.15

  /** Per-query exact-rescore budget of the k-NN SELF-join: max(75,
    * ⌈3.4·√n⌉). With every vector a query, a budget PROPORTIONAL to n
    * makes exact work Θ(0.15·n²) by construction (the r3 flaw); a flat
    * constant was measured at recall 0.76 at sf0.1 — below floor. The
    * √n law is the measured knee: exact work is Θ(n^1.5) (subquadratic),
    * the candidate FRACTION falls as 3.4/√n (spec-pinned: fraction at
    * sf0.1 < fraction at sf0.01), and recall holds at 0.87/0.84
    * (sf0.001/sf0.1) with the symmetric collision fold ranking on both
    * probe directions' signal.
    */
  private[graft] def knnBudget(n: Long): Int =
    math.max(ShortlistMin, math.ceil(3.4 * math.sqrt(n.toDouble)).toInt)

  /** Probe-flip bits of the SELF-join (vs [[ProbeBits]] = 6 for point
    * queries): m = 4 → 1 + 4 + C(4,2) = 11 probe buckets per (query,
    * table), HALF the collision-join volume of the point-query 22. The
    * symmetric fold recovers the lost signal (both directions' collisions
    * sum), measured recall 0.871/0.836 at sf0.001/sf0.1 vs 0.902/0.875
    * for m = 6 at twice the traffic — the knee of the volume/recall
    * curve.
    */
  private[graft] val KnnProbeBits = 4

  /** The hyperplane bank for a given bucket width — row (t, b) is plane
    * j = t·bits + b, so at bits = 8 the bank is BIT-IDENTICAL to the
    * historical fixed-width one (every pinned recall measurement keeps
    * its exact buckets); wider banks are a different (equally valid)
    * deterministic hash family. Memoized per width: the bank literal is
    * also the codegen reference object of the matvec kernel, and a
    * stable array identity lets plan/kernel caches hit.
    */
  private val hyperplaneBanks =
    scala.collection.concurrent.TrieMap.empty[Int, Array[Array[Long]]]
  private[graft] def hyperplanesFor(bits: Int): Array[Array[Long]] =
    hyperplaneBanks.getOrElseUpdate(bits, {
      def splitmix(seed: Long): Long = {
        var z = seed + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^ (z >>> 31)
      }
      Array.tabulate(Tables_ * bits) { j =>
        Array.tabulate(64) { i =>
          math.floorMod(splitmix(j * 64L + i), 2001L) - 1000L
        }
      }
    })

  /** LSH-bucketed ANN (rows-only; spec pins recall ≥ 0.8 AND candidate
    * fraction ≤ 0.2): random-hyperplane sign buckets over 32 tables ×
    * 8 bits, query-directed multiprobe, then a collision-count-ranked
    * shortlist that hard-caps the exact-evaluation budget.
    *
    * Honest accounting on THIS corpus (synthetic, near-isotropic: true
    * top-5 neighbors sit at cosine ≈ 0.33 vs a 0.17 bulk p90 — close to
    * the random regime where any LSH family's ρ-exponent nears 1):
    * plain Hamming-1 multiprobe peaked at recall 0.82 @ 37% candidates
    * (r2) and no probe-union config reached 0.8 under 20%. The
    * collision-COUNT shortlist breaks that frontier because counts
    * across 32 tables rank candidates by similarity before any exact
    * work: measured recall@5 = 0.90 (sf0.001) / 0.84 (sf0.01) / 0.94
    * (sf0.1) at exactly 15% candidate fraction. At 100 TB the bucketed
    * probe join and the per-query top-K shortlist both shuffle narrow
    * (query_id, vec_id, count) rows — never vectors — and the budget is
    * the operator's explicit cost dial; for sub-percent candidate
    * fractions on a lake-scale corpus the IVF variant below remains the
    * better-conditioned path.
    */
  val qAnnLsh: Q = Q.rowsOnly("q_ann_lsh") { (s, d) =>
    annLshTop5(s, d, col("vec_id") < 10)
  }

  /** The LSH point-query path parameterized on the query set — the
    * registered [[qAnnLsh]] demo (ids < 10) and the [[qAnnHealth]]
    * hash-picked probe sample share this one spelling.
    */
  private[graft] def annLshTop5(s: SparkSession, d: String,
      queryFilter: Column): DataFrame = {
    val q = quantized(s, d)
    top5Ranked(rescored(q, annLshShortlist(s, d, queryFilter).select("query_id", "vec_id"),
      broadcast(queryVecs(q.filter(queryFilter)))))
  }

  // the whole (32·bits)×64 hyperplane bank rides the plan as ONE literal
  // into the codegen'd graft_matvec_q kernel (32·bits dots per vector in
  // two generated loops). The earlier formulation shipped 256 separate
  // 64-element array literals (one DotQ each) — an O(K·D)-node analyzed
  // tree that cost ~30 s of driver-side analysis/codegen per cold plan.
  private def bankDots(bits: Int): Column =
    GraftFunctions.call("graft_matvec_q", typedlit(hyperplanesFor(bits)), col("qv"))

  /** Non-null (indexed) vector count per (session, dir) — the similarity
    * family's n — memoized in [[graft.SessionCache]]. Six operators consult
    * it per invocation (budget/K laws, empty-lake gates, the geometry
    * dispatch), each re-running a count job off the materialized quantized
    * cache that repeats every bench run (r14, guide §1.2: don't re-compute
    * what a model-sized memo already holds).
    */
  private[graft] def nQuantized(s: SparkSession, d: String): Long =
    SessionCache(s, d, "n_quantized")(
      quantized(s, d).filter(col("qv").isNotNull).count())

  /** Row count of the quantized cache, null vectors included — the LSH
    * shortlist budgets' corpus size — memoized beside [[nQuantized]], so
    * a shortlist call runs no count job after the first.
    */
  private[graft] def nQuantizedRows(s: SparkSession, d: String): Long =
    SessionCache(s, d, "n_quantized_rows")(quantized(s, d).count())

  /** Bucket width for (session, dir) = [[lshBitsFor]] of the indexed
    * (non-null) vector count, memoized in [[graft.SessionCache]] beside
    * the index it shapes.
    */
  private def lshBits(s: SparkSession, d: String): Int =
    SessionCache(s, d, "lsh_bits")(lshBitsFor(nQuantized(s, d)))

  // materialized: the probe side and the corpus side both read the
  // bucket table, and the 256 hyperplane dots per vector should run
  // once (this is the written LSH index of a production deployment).
  // A null vector has no signs: EXCLUDED from the index (it would sit
  // in bucket 0 of every table, enter collision shortlists and reach
  // exact rescoring where its cosine evaluates to null — a null-cosine
  // neighbor row could then surface when a query has few real
  // candidates). Dropping it here covers every consumer: shortlists
  // only ever emit vec_ids that are in the bucket table.
  private[graft] def lshBuckets(s: SparkSession, d: String): DataFrame =
    SessionCache.persisted(s, d, "lsh_buckets") {
      val bits = lshBits(s, d)
      quantized(s, d).filter(col("qv").isNotNull)
        .select(col("vec_id"), bankDots(bits).as("ds256"))
        .select(col("vec_id"), posexplode(expr(
          s"transform(sequence(0, ${Tables_ - 1}), t -> " +
            s"aggregate(sequence(0, ${bits - 1}), 0L, " +
            s"(acc, b) -> acc + IF(ds256[t * $bits + b] >= 0, " +
            s"shiftleft(1L, b), 0L)))"))
          .as(Seq("table_id", "bucket")))
    }

  /** The multiprobe rows (query_id, table_id, bucket) of the
    * `queryFilter` queries. Query-directed multiprobe, QUERY side only
    * (the corpus index is untouched): per table keep the signed dots,
    * rank bits by |dot| ascending (least confident first) and probe every
    * flip of ≤ 2 of the `probeBits` least-confident bits — 1 + m + C(m,2)
    * probe rows per (query, table), targeted where a near neighbor most
    * likely fell across. A null-vector query has no meaningful signs:
    * dropped (like IVF).
    */
  private def lshProbes(s: SparkSession, d: String, queryFilter: Column,
      probeBits: Int): DataFrame = {
    val bits = lshBits(s, d)
    quantized(s, d).filter(queryFilter && col("qv").isNotNull)
      .select(col("vec_id").as("query_id"), bankDots(bits).as("ds256"))
      .select(col("query_id"), posexplode(expr(
        s"transform(sequence(0, ${Tables_ - 1}), t -> " +
          s"slice(ds256, t * $bits + 1, $bits))"))
        .as(Seq("table_id", "ds")))
      .withColumn("bucket", expr(
        s"aggregate(sequence(0, ${bits - 1}), 0L, " +
          s"(acc, b) -> acc + IF(ds[b] >= 0, shiftleft(1L, b), 0L))"))
      .withColumn("fl", expr(
        s"slice(transform(array_sort(transform(sequence(0, ${bits - 1}), " +
          s"b -> struct(abs(ds[b]) AS a, b AS b))), s -> s.b), 1, $probeBits)"))
      // masks: no flip, each single flip, each pair flip (distinct bits ⇒
      // + is exact); XOR against the base bucket yields the probe buckets
      .withColumn("mask", explode(expr(
        s"concat(array(0L), transform(fl, b -> shiftleft(1L, b)), " +
          s"flatten(transform(sequence(0, ${probeBits - 2}), i -> " +
          s"transform(sequence(i + 1, ${probeBits - 1}), j -> " +
          s"shiftleft(1L, fl[i]) + shiftleft(1L, fl[j])))))")))
      .select(col("query_id"), col("table_id"),
        col("bucket").bitwiseXOR(col("mask")).as("bucket"))
  }

  /** The bucket index joined to `probes` on (table_id, bucket), self-hits
    * dropped. A corpus vector occupies ONE bucket per table and probe
    * buckets are distinct within a table, so the join hits each (query,
    * vec, table) at most once: a pair's row count IS its table-collision
    * count.
    */
  private def lshHits(s: SparkSession, d: String, probes: DataFrame): DataFrame =
    lshBuckets(s, d).join(probes, Seq("table_id", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))

  /** The LSH candidate shortlist of the `queryFilter` point queries:
    * (query_id, vec_id, n_tables) — the top `max(ShortlistMin,
    * ShortlistFrac · corpus)` corpus vectors per query by table-collision
    * count (ties broken by vec_id — deterministic). The probe rows of a
    * small query set broadcast. The budget's corpus count is
    * [[nQuantizedRows]]. Package-visible so the spec can
    * assert the candidate-fraction cap directly.
    */
  private[graft] def annLshShortlist(s: SparkSession, d: String,
      queryFilter: Column): DataFrame = {
    val hits = lshHits(s, d, broadcast(lshProbes(s, d, queryFilter, ProbeBits)))
      .groupBy("query_id", "vec_id").agg(count(lit(1)).as("n_tables"))
    val b = math.max(ShortlistMin,
      math.ceil(nQuantizedRows(s, d) * ShortlistFrac).toInt)
    TopK.perKey(hits, Seq("query_id"), "n_tables", "vec_id", b)
  }

  /** The k-NN self-join's shortlist, every vector a query: (query_id,
    * vec_id, n_tables), the top [[knnBudget]] per query. The probe table
    * (|corpus|·T·11 narrow rows at [[KnnProbeBits]]) is linear in the
    * corpus and too big to broadcast, so the bucket join shuffles both
    * sides on (table_id, bucket). Hits fold to UNORDERED pairs before the
    * count — c_sym(a,b) = c(a→b) + c(b→a) sums both probe directions'
    * collision evidence (2× the ranking signal at the same join volume,
    * which is what lets the √n budget hold recall), and the aggregate
    * carries half the groups; the pair counts are mirrored back per query
    * AFTER aggregation (tiny).
    */
  private[graft] def knnShortlist(s: SparkSession, d: String): DataFrame = {
    val sym = lshHits(s, d, lshProbes(s, d, lit(true), KnnProbeBits))
      .select(least(col("query_id"), col("vec_id")).as("id_a"),
        greatest(col("query_id"), col("vec_id")).as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_tables"))
    val hits = sym.select(col("id_a").as("query_id"), col("id_b").as("vec_id"), col("n_tables"))
      .unionByName(sym.select(col("id_b").as("query_id"),
        col("id_a").as("vec_id"), col("n_tables")))
    TopK.perKey(hits, Seq("query_id"), "n_tables", "vec_id",
      knnBudget(nQuantizedRows(s, d)))
  }

  private val IvfK = 16
  private val IvfProbe = 2

  /** Array of (squared-distance, cid) structs to every centroid —
    * lexicographic struct ordering makes array_min/array_sort a
    * deterministic argmin with cid as the tie-break. The model ships as
    * ONE typedlit constant (a codegen reference object): the generated
    * source is identical whatever the centroid values, so the compiled
    * kernel is reused across models/SFs — the previous form inlined
    * K×dim literal nodes and recompiled per model.
    */
  /** The cids of qv's `k` nearest centroids, ascending by (squared
    * distance, cid) — the r12 bounded-selection replacement for the
    * centDists `transform` + `array_min`/`slice(array_sort(...))` forms
    * that every argmin/probe site used through r11. Bit-identical by
    * construction — [[graft.functions.VecKernel.centTopK]] ranks
    * `‖c‖² − 2·⟨qv, c⟩`, the same exact-long distance minus the per-row
    * constant `‖qv‖²`, with the same cid tie-break — and ~K× cheaper in
    * constants: higher-order functions evaluate their lambda INTERPRETED
    * per element, so the old form paid K boxed structs + an interpreted
    * dot per row, then a full K-sort to keep ≤ 32 heads (measured ~22 %
    * of the sf10 bench wall across the IVF family). The kernel is K
    * primitive dots + a k-slot insertion inside whole-stage codegen.
    * (History: the round-5 MatVecQ-inside-lambda attempt was 6× SLOWER
    * than the transform form because Spark does not hoist loop-invariant
    * subtrees out of lambda bodies — the dedicated expression sidesteps
    * lambdas entirely.) Model rows ship once as a codegen reference
    * object (the [[graft.functions.VecKernel.matVec]] typedlit rule); cid = row index,
    * which the model array satisfies by construction (asserted here — a
    * permuted model would silently mis-assign).
    */
  private def centTopK(model: Array[(Int, Array[Long], Long)], qv: Column,
      k: Int): Column = {
    require(model.iterator.zipWithIndex.forall { case ((cid, _, _), i) => cid == i },
      "centTopK: model rows must be indexed by cid")
    GraftFunctions.call("graft_cent_topk",
      typedlit(model.toSeq.map(_._2.toSeq)), qv, lit(k))
  }

  /** k = 1 [[centTopK]]: the nearest-centroid cid (int). try_element_at
    * so an empty model yields null (the pre-kernel array_min behavior)
    * instead of an ANSI INVALID_ARRAY_INDEX — unreachable for current
    * callers (empty model ⇒ empty row stream) but a foreign-vector
    * caller against a possibly-empty model must get the null.
    */
  private def centArgmin(model: Array[(Int, Array[Long], Long)],
      qv: Column): Column =
    try_element_at(centTopK(model, qv, 1), lit(1))

  /** Driver-held IVF model per (session, dir), memoized in
    * [[graft.SessionCache]]: K centroids as quantized integer vectors plus
    * their squared norms — K×64 longs, the same "tiny broadcast model"
    * footprint as [[hyperplanesFor]]. Built deterministically: seeds = the
    * K lowest vec_ids, then ONE Lloyd refinement with exact integer sums
    * and floor division (bit-identical at any parallelism). At 100 TB the
    * model would be trained on a sample and broadcast exactly like this.
    */
  private[graft] def ivfModel(s: SparkSession, d: String): Array[(Int, Array[Long], Long)] =
    ivfModelK(s, d, IvfK)

  /** [[ivfModel]] at an explicit list count — the preconditioned k-NN
    * self-join trains at K ∝ √n where the ANN point queries keep the
    * fixed [[IvfK]]. Same deterministic build (K lowest-id seeds + ONE
    * exact-integer Lloyd pass), same K×64-long broadcast-model footprint
    * scaled by K.
    */
  private[graft] def ivfModelK(s: SparkSession, d: String,
      k: Int): Array[(Int, Array[Long], Long)] =
    SessionCache(s, d, ("ivf_model", k)) {
      val q = quantized(s, d).filter(col("qv").isNotNull)
      val seeds = q.orderBy("vec_id").limit(k)
        .select("qv").collect().map(_.getSeq[Long](0).toArray)
      if (seeds.isEmpty) Array.empty
      else {
        val seedModel = seeds.zipWithIndex.map { case (v, i) =>
          (i, v, v.map(x => x * x).sum)
        }
        // one Lloyd pass: nearest-seed assignment, exact per-position
        // integer means (sum/count in longs, floor division)
        val refined = q
          .withColumn("cid", centArgmin(seedModel, col("qv")))
          .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "v")))
          .groupBy("cid", "pos")
          .agg(floor(sum(col("v")) / count(lit(1))).cast("long").as("c"))
          .groupBy("cid")
          .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)")
            .as("cent"))
          .collect()
          .map(r => r.getAs[Int]("cid") -> r.getAs[Seq[Long]]("cent").toArray)
          .toMap
        // a cluster that lost every member keeps its seed vector
        seedModel.map { case (cid, seed, _) =>
          val c = refined.getOrElse(cid, seed)
          (cid, c, c.map(x => x * x).sum)
        }
      }
    }

  /** Every non-null vector's nearest-centroid assignment (vec_id, cid) —
    * the written IVF index; shared by [[qAnnIvf]] and [[qEmbedClusters]].
    * Narrow per-row argmin over the typedlit model; co-partitioned with
    * the corpus, nothing shuffles.
    */
  private[graft] def ivfAssigned(s: SparkSession, d: String): DataFrame = {
    val model = ivfModel(s, d)
    SessionCache.persisted(s, d, "ivf_assign") {
      quantized(s, d).filter(col("qv").isNotNull)
        .withColumn("cid", centArgmin(model, col("qv")))
        .select("vec_id", "cid")
    }
  }

  /** Incremental IVF index maintenance — the embedding-side member of
    * the incremental family ([[minhashIncrement]] for MinHash,
    * [[graft.streaming.IngestStream.neardupSink]] for SimHash): a daily
    * increment of new vectors is assigned against the FROZEN coarse
    * quantizer (production IVF contract: the codebook retrains offline
    * on a schedule, never per batch — FAISS's add-vs-train split) and
    * the rows land in the written index keyed-idempotent, so re-ingests
    * and crash replays are per-key no-ops ([[graft.sources
    * .Store.appendDeduped]]). Assignment is the same narrow per-row
    * argmin over the typedlit model as the batch index build — nothing
    * shuffles, the increment never touches the existing corpus.
    */
  def ivfAssignIncrement(s: SparkSession, d: String,
      newVecs: DataFrame): DataFrame = {
    val model = ivfModel(s, d)
    require(model.nonEmpty,
      "ivfAssignIncrement: no IVF model — train on a non-empty corpus first")
    newVecs.select(col("vec_id"),
        expr(QuantizeExpr).as("qv"))
      .filter(col("qv").isNotNull)
      .withColumn("cid", centArgmin(model, col("qv")))
      .select("vec_id", "cid")
  }

  /** [[ivfAssignIncrement]] composed with the keyed-idempotent index
    * write: the complete maintenance operation a nightly embedding
    * ingest runs. A vec_id seen before keeps its FIRST assignment (the
    * INSERT OR IGNORE contract — assignments under one frozen model are
    * identical anyway; after an offline retrain a deploy rewrites the
    * index wholesale rather than mixing models in one store).
    */
  def ivfIndexAppend(s: SparkSession, d: String, newVecs: DataFrame,
      path: String): Unit = {
    graft.sources.Store.appendDeduped(
      ivfAssignIncrement(s, d, newVecs), path, "vec_id")
    ()
  }

  /** Corpus clustering rollup (rows-only; spec pins the full model +
    * assignment chain against a driver-side recompute): every vector
    * assigned to its nearest IVF centroid, rolled up to cluster grain
    * with label purity — the curation diagnostic of an embedding-space
    * partitioning (a low-purity cluster means the embedding space and
    * the labels disagree there; a tiny purity-1.0 cluster is a
    * candidate near-dup clique). Columns: cluster_id, n_vectors,
    * top_label (smallest label on count ties — deterministic),
    * top_label_n, purity (= top_label_n / n_vectors, exact 4-dp).
    *
    * Scale shape: the assignment is the same narrow per-row argmin the
    * ANN index pays (shared cache); the rollup is two map-side-combine
    * aggregations at (cluster × label) then cluster grain — O(K) rows
    * out. No driver collect beyond the K×64-long model build.
    */
  val qEmbedClusters: Q = Q.rowsOnly("q_embed_clusters") { (s, d) =>
    val q = quantized(s, d)
    val model = ivfModel(s, d)
    if (model.isEmpty) {
      // day-one empty lake: keep the schema, emit no rows
      q.filter(lit(false)).select(
        lit(0).as("cluster_id"), lit(0L).as("n_vectors"),
        col("label").as("top_label"), lit(0L).as("top_label_n"),
        lit(0.0).as("purity"))
    } else {
      val byLabel = ivfAssigned(s, d)
        .join(q.select("vec_id", "label"), "vec_id")
        .groupBy("cid", "label").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("cid")
        .orderBy(col("n").desc, col("label").asc)
      byLabel
        .withColumn("n_vectors", sum("n").over(Window.partitionBy("cid")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("cid").as("cluster_id"), col("n_vectors"),
          col("label").as("top_label"), col("n").as("top_label_n"),
          graft.functions.Det.exactDiv(col("n"), col("n_vectors"), 4)
            .as("purity"))
        .orderBy("cluster_id")
    }
  }

  /** IVF-bucketed ANN (rows-only; spec checks recall vs brute force): the
    * complement of [[qAnnLsh]] on the same quantized index. K=16 inverted
    * lists from deterministic k-means-lite centroids; every vector is
    * assigned to its nearest list once (cached, like a written IVF index);
    * queries probe their 2 nearest lists and run exact cosine + top-k on
    * those lists only. At 100 TB the probed lists replace the full corpus
    * scan with ~nprobe/K of the data, and the assignment is a narrow
    * (vec_id, cid) table co-partitioned with the corpus.
    */
  val qAnnIvf: Q = Q.rowsOnly("q_ann_ivf") { (s, d) =>
    annIvfTop5(s, d, col("vec_id") < 10)
  }

  /** The IVF point-query path parameterized on the query set — the
    * registered [[qAnnIvf]] demo (ids < 10) and the [[qAnnHealth]]
    * hash-picked probe sample share this one spelling.
    */
  private[graft] def annIvfTop5(s: SparkSession, d: String,
      queryFilter: Column): DataFrame = {
    val q = quantized(s, d)
    val model = ivfModel(s, d)
    if (model.isEmpty) noNeighbors(q)
    else {
      // nprobe nearest lists per query: bounded top-nprobe selection over
      // the K centroids — no sort, no window. A query with a null vector
      // has no meaningful probes: drop it here (the assignment side
      // already does), or it would emit null-cosine rows
      val queries = q.filter(queryFilter && col("qv").isNotNull)
      val qprobe = queries.select(col("vec_id").as("query_id"),
        explode(centTopK(model, col("qv"), IvfProbe)).as("cid"))
      val candIds = ivfAssigned(s, d).join(broadcast(qprobe), Seq("cid"))
        .filter(col("vec_id") =!= col("query_id"))
        .select("query_id", "vec_id").distinct()
      top5Ranked(rescored(q, candIds, broadcast(queryVecs(queries))))
    }
  }

  /** Probe-sample size for [[qAnnHealth]] — the [[KnnProbeQueries]]
    * convention: a hash-picked spread sample, large enough for a stable
    * recall estimate, small enough that the exact ground truth stays
    * linear (S·n dots).
    */
  private[graft] val AnnHealthQueries = 64

  /** ANN index HEALTH monitor — recall@5 of the written LSH and IVF
    * indexes measured IN PRODUCTION, not just in the test suite ("measure,
    * don't guess" applied to the indexes themselves): embedding drift is
    * silent — a new encoder version or a domain shift can collapse
    * bucket/list selectivity while every query still returns 5 plausible
    * neighbors, and nothing downstream errors. This query hash-picks
    * [[AnnHealthQueries]] spread queries (the [[knnGeometryStats]]
    * sampling rule — a lowest-id sample would bias toward one ingest
    * batch), computes their EXACT brute-force top-5 (S·n dots — linear,
    * tiny beside any index build), runs the same queries through both
    * index paths ([[annLshTop5]]/[[annIvfTop5]] — the registered
    * operators' own spellings, so the monitor measures exactly what
    * users query), and reports per index: queries probed, truth pairs,
    * matched pairs, and the exact recall@5. A deploy alerts on this the
    * way it alerts on [[graft.operators.Ingest]]'s run metrics.
    *
    * The sampled query ids are a driver collect — [[AnnHealthQueries]]
    * longs, a model-sized probe (the IVF-model convention), never
    * corpus data.
    *
    * Scale shape (100 TB): ground truth is one corpus scan against a
    * broadcast 64-row sample into a bounded-heap top-k
    * ([[TopK.perKey]]); the index paths are the production point-query
    * plans themselves (bucketed/listed, broadcast probes); the
    * truth⋈answer match is a semi-join over ≤ 5·S rows. The truth
    * frame is a [[graft.SessionCache]] entry (tiny; 4 consumers would
    * otherwise re-run the linear scan each, and repeat runs share it).
    */
  val qAnnHealth: Q = Q.rowsOnly("q_ann_health") { (s, d) =>
    import graft.functions.Det.exactDiv
    val q = quantized(s, d).filter(col("qv").isNotNull)
    val ids = q.select(col("vec_id"))
      .orderBy(xxhash64(col("vec_id").cast("string")), col("vec_id"))
      .limit(AnnHealthQueries).collect().map(_.getLong(0))
    if (ids.isEmpty) {
      import s.implicits._
      Seq.empty[(String, Long, Long, Long, Option[Double])]
        .toDF("index_kind", "n_queries", "n_truth", "n_matched", "recall_at_5")
    } else {
      val qf = col("vec_id").isin(ids.toIndexedSeq: _*)
      val scored = sampleScored(q, queryVecs(q.filter(qf)))
      val truth = SessionCache.persisted(s, d, "ann_health_truth")(
        TopK.perKey(scored, Seq("query_id"), "c", "vec_id", 5)
          .select(col("query_id"), col("vec_id").as("nid")))
      def statsFor(name: String, approx: DataFrame): DataFrame = {
        val t = truth
          .agg(countDistinct(col("query_id")).as("n_queries"),
            count(lit(1)).as("n_truth"))
        val m = truth
          .join(approx.select(col("query_id"),
            col("neighbor_id").as("nid")), Seq("query_id", "nid"), "left_semi")
          .agg(count(lit(1)).as("n_matched"))
        t.crossJoin(broadcast(m))
          .select(lit(name).as("index_kind"), col("n_queries"),
            col("n_truth"), col("n_matched"),
            exactDiv(col("n_matched"), col("n_truth"), 4).as("recall_at_5"))
      }
      statsFor("ivf", annIvfTop5(s, d, qf))
        .unionByName(statsFor("lsh", annLshTop5(s, d, qf)))
        .orderBy("index_kind")
    }
  }

  /** Product-quantization geometry: [[PqBlocks]] sub-blocks of
    * [[PqSubDim]] dims each over the 64-dim vectors, [[PqCodes]]
    * codewords per block → a vector compresses to 8 four-bit codes.
    * Why PQ exists next to IVF/LSH: those prune WHICH vectors a query
    * scores; PQ shrinks WHAT a scored vector costs — 8 codes ≈ 4 bytes
    * against 256 bytes of float32 (64×), so a 10⁹-vector index fits in
    * ~10 GB and a full ADC sweep does m=8 table adds per candidate
    * instead of d=64 multiplies. At 100 TB the two compose (IVF lists of
    * PQ codes — the FAISS IVFPQ layout); here PQ is exercised as the
    * standalone full-sweep so its distortion is measured unconfounded.
    */
  private[graft] val PqBlocks = 8
  private[graft] val PqSubDim = 8
  private[graft] val PqCodes = 16

  /** ADC shortlist depth: approximate scores rank the corpus, the top
    * [[PqShortlist]] per query are re-scored exactly from the full
    * quantized vectors (the standard PQ re-rank stage — distortion
    * decides the shortlist, never the reported neighbors/cosines).
    */
  private[graft] val PqShortlist = 50

  /** Driver-held PQ codebook per (session, dir), in [[graft.SessionCache]]:
    * model(j)(k) = (centroid of block j code k, its squared norm).
    * Built deterministically like [[ivfModelK]]: per block, seeds = the
    * [[PqCodes]] lowest vec_ids' sub-vectors, then ONE Lloyd refinement
    * with exact integer means (floor division) — bit-identical at any
    * parallelism; empty codes keep their seed. m·K·8 longs ≈ 1 KB — the
    * same broadcast-model footprint family as [[hyperplanesFor]]/IVF; a
    * lake-scale build trains on a sample exactly like this.
    */
  private[graft] def pqModel(s: SparkSession, d: String)
      : Array[Array[(Array[Long], Long)]] =
    SessionCache(s, d, "pq_model") {
      val q = quantized(s, d).filter(col("qv").isNotNull)
      val seeds = q.orderBy("vec_id").limit(PqCodes)
        .select("qv").collect().map(_.getSeq[Long](0).toArray)
      if (seeds.isEmpty) Array.empty
      else {
        val seedModel: Array[Array[(Array[Long], Long)]] =
          Array.tabulate(PqBlocks) { j =>
            seeds.map { v =>
              val c = v.slice(j * PqSubDim, (j + 1) * PqSubDim)
              (c, c.map(x => x * x).sum)
            }
          }
        // one Lloyd pass, all blocks in one job: nearest-seed code per
        // (vector, block) — all PqBlocks argmins in one codegen'd
        // kernel call ([[graft.functions.VecKernel.pqCodes]]) — then exact
        // per-position integer means. The posexplode generator child
        // stays the INLINE slice transform (the CLAUDE.md generator
        // rule); the codes array rides alongside as a plain projection
        val refined = q
          .withColumn("codes", GraftFunctions.call("graft_pq_codes",
            typedlit(seedModel.toSeq.map(_.toSeq.map(_._1.toSeq))),
            col("qv")).getField("codes"))
          .select(col("codes"), posexplode(expr(
            s"transform(sequence(0, ${PqBlocks - 1}), " +
              s"j -> slice(qv, j * $PqSubDim + 1, $PqSubDim))"))
            .as(Seq("j", "sub")))
          .withColumn("code", element_at(col("codes"), col("j") + 1))
          .select(col("j"), col("code"), posexplode(col("sub")).as(Seq("pos", "v")))
          .groupBy("j", "code", "pos")
          .agg(floor(sum(col("v")) / count(lit(1))).cast("long").as("c"))
          .groupBy("j", "code")
          .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)")
            .as("cent"))
          .collect()
          .map(r => (r.getAs[Int]("j"), r.getAs[Int]("code")) ->
            r.getAs[Seq[Long]]("cent").toArray)
          .toMap
        Array.tabulate(PqBlocks) { j =>
          seedModel(j).zipWithIndex.map { case ((seed, _), k) =>
            val c = refined.getOrElse((j, k), seed)
            (c, c.map(x => x * x).sum)
          }
        }
      }
    }

  /** The written PQ index: (vec_id, codes[8], n2pq) — codes are the
    * per-block argmin codewords, n2pq the reconstruction's exact squared
    * norm Σ_j ‖c_{j,code_j}‖² (blocks are orthogonal coordinate slices,
    * so the sum IS the reconstructed vector's norm). Narrow per-row
    * argmin over the typedlit codebook; nothing shuffles.
    */
  private[graft] def pqCodesFrame(s: SparkSession, d: String): DataFrame = {
    val model = pqModel(s, d)
    SessionCache.persisted(s, d, "pq_codes") {
      // one codegen'd kernel per row: all PqBlocks argmins + the exact
      // reconstruction norm ([[graft.functions.VecKernel.pqCodes]]) — replaces a
      // nested transform/array_min whose lambdas ran interpreted per
      // (block × codeword) plus a second interpreted aggregate for n2pq
      quantized(s, d).filter(col("qv").isNotNull)
        .withColumn("enc", GraftFunctions.call("graft_pq_codes",
          typedlit(model.toSeq.map(_.toSeq.map(_._1.toSeq))), col("qv")))
        .select(col("vec_id"), col("enc.codes").as("codes"),
          col("enc.n2pq").as("n2pq"))
    }
  }

  /** PQ-compressed ANN (rows-only; spec pins the codebook + codes against
    * a full driver recompute and recall ≥ 0.8 vs brute force): asymmetric
    * distance computation — each query precomputes its m×K lookup table
    * of sub-dot-products (built on the DRIVER from the codebook: a
    * model-sized artifact like the codebook itself, never a data-path
    * collect), every corpus vector scores as m table adds over its
    * codes, the approximate cosine ranks a [[PqShortlist]] shortlist,
    * and the shortlist re-scores EXACTLY from the full quantized
    * vectors. Reported neighbors and cosines are exact values —
    * distortion only decides who makes the shortlist.
    *
    * Scale shape (100 TB): the sweep side reads only (vec_id, codes,
    * n2pq) ≈ 16 bytes/vector — the point of PQ; the shortlist shuffles
    * narrow id pairs; the exact pass touches [[PqShortlist]] full
    * vectors per query. Queries broadcast with their LUTs (64 queries ×
    * 128 longs).
    */
  val qAnnPq: Q = Q.rowsOnly("q_ann_pq") { (s, d) =>
    val q = quantized(s, d)
    val model = pqModel(s, d)
    if (model.isEmpty) noNeighbors(q)
    else {
      // stride = the ACTUAL per-block code count (a small corpus trains
      // a narrower codebook — the pqCodesFrame contract)
      val nk = model(0).length
      val queries = q.filter(col("vec_id") < 10 && col("qv").isNotNull)
      val lutRows = queries.select("vec_id", "qv", "n2").collect().map { r =>
        val qv = r.getSeq[Long](1).toArray
        val lut = Array.tabulate(PqBlocks * nk) { i =>
          val (j, k) = (i / nk, i % nk)
          val c = model(j)(k)._1
          var dot = 0L
          var p = 0
          while (p < PqSubDim) { dot += qv(j * PqSubDim + p) * c(p); p += 1 }
          dot
        }
        org.apache.spark.sql.Row(r.getLong(0), lut.toSeq, r.getLong(2))
      }
      val lutSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("lut",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, containsNull = false),
          nullable = false),
        org.apache.spark.sql.types.StructField("n2q",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val luts = s.createDataFrame(
        s.sparkContext.parallelize(lutRows.toSeq, 1), lutSchema)
      // ADC sweep: m table adds per (vector, query) over the codes table
      val approx = pqCodesFrame(s, d).crossJoin(broadcast(luts))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), col("n2q"), col("n2pq"),
          aggregate(sequence(lit(0), lit(PqBlocks - 1)), lit(0L),
            (acc, j) => acc + element_at(col("lut"),
              j * lit(nk) + element_at(col("codes"), j + 1) + 1))
            .as("sdot"))
        .select(col("query_id"), col("vec_id"),
          (col("sdot").cast("double") /
            (sqrt(col("n2q").cast("double")) * sqrt(col("n2pq").cast("double"))))
            .as("approx"))
      // bounded-heap shortlist: the full ADC sweep never passes a
      // partition sort — top-[[PqShortlist]] per query under
      // (approx DESC, vec_id), the window form's exact row set (r14)
      val shortlist = TopK.perKey(approx, Seq("query_id"), "approx",
        "vec_id", PqShortlist).select("query_id", "vec_id")
      // exact re-rank of the shortlist from the full quantized vectors
      top5Ranked(rescored(q, shortlist, broadcast(queryVecs(queries))))
    }
  }

  /** Semantic contamination threshold = the family's embedding near-dup
    * τ ([[qEmbedNeardup]]): an eval member is contaminated when the train
    * corpus contains a vector this close — the embedding-space complement
    * of [[graft.operators.TextOps.qDecontaminate]]'s verbatim-5-gram
    * rule (paraphrases and translations share no n-grams but land close
    * in embedding space).
    */
  private[graft] val SemanticTau = 0.4

  /** Semantic train/eval decontamination (rows-only; spec pins the
    * approximate maxima against a brute-force exact recompute — never
    * above the exact value, flagged-set recall floored): for every eval
    * vector (same md5-prefix eval slice rule as the n-gram pass, on
    * vec_id), the nearest TRAIN vector by cosine over the IVF list
    * shortlist, and a contaminated flag at τ = [[SemanticTau]].
    *
    * Scale shape (r11 — rerouted through [[annIvfScoredPoint]]):
    * queries are the eval slice only and candidates are train-only —
    * the list members are filtered to the train side BEFORE the list
    * join, so eval–eval neighbors never reach the exact pass. The
    * shortlist is every train vector in the eval vector's
    * [[PointIvfProbe]] nearest IVF lists: Θ(|eval|·√n) candidate rows
    * by construction, vs the LSH collision-count join this operator
    * rode through r10, whose bucket-load-bound volume measured exponent
    * 1.89 over sf1→sf10 (3437 s at sf10 — the collision load ran 2.4×
    * above the √n-bucket model; see SURVEY §8). Probe rows broadcast
    * while the eval slice is small (the production case: held-out
    * benchmark suites), shuffle past [[Gates.SemanticEvalBroadcastMaxDocs]];
    * exact rescoring pays ≈ |eval|·5.3√n integer dots, not
    * |eval|·|train|. Null-embedding eval rows stay in the report with a
    * NULL verdict — an unembeddable member is UNASSESSED, not clean
    * (the short-doc principle of [[graft.operators.TextOps.qDupSpans]]);
    * an embeddable vector with an EMPTY shortlist is assessed-clean at
    * this probe set (contaminated = false, n_candidates = 0) — the two
    * cases are deliberately distinguishable.
    */
  val qDecontaminateSemantic: Q = Q.rowsOnly("q_decontaminate_semantic") { (s, d) =>
    // r15: the shortlist arrives already scored inside the list-join
    // stage (annIvfScoredPoint — vectors never cross an exchange); the
    // per-query rollup below is the first and only shuffle, and it
    // map-side-combines narrow (query_id, cosine, vec_id) rows
    val rescored = annIvfScoredPoint(s, d)
      // struct max is lexicographic: the per-query maximum cosine, ties
      // broken deterministically by the larger neighbor id
      .groupBy("query_id").agg(
        count(lit(1)).as("n_candidates"),
        max(struct(col("cosine").as("c"), col("vec_id").as("nid"))).as("m"))
    quantized(s, d).filter(Text.evalSlice(col("vec_id")))
      .select(col("vec_id"), col("qv").isNotNull.as("assessable"))
      .join(rescored.select(col("query_id").as("vec_id"),
        col("n_candidates"), col("m.nid").as("nearest_train_id"),
        col("m.c").as("max_train_cosine")), Seq("vec_id"), "left")
      // three-valued verdict, distinguished on purpose: NULL only for
      // UNEMBEDDABLE rows; an embeddable vector whose shortlist came back
      // empty was ASSESSED and found collision-free at this budget —
      // contaminated=false with n_candidates=0, not conflated with the
      // rows no detector could evaluate
      .select(col("vec_id"), coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("nearest_train_id"), col("max_train_cosine"),
        when(col("assessable"),
          coalesce(col("max_train_cosine") >= SemanticTau, lit(false)))
          .as("contaminated"))
      .orderBy("vec_id")
  }

  /** ANN k-NN SELF-join (rows-only; spec pins recall ≥ 0.8 and candidate
    * fraction ≤ 0.2 vs a full brute-force driver recompute): every
    * non-null vector's top-5 cosine neighbors — the semantic-dedup /
    * nearest-neighbor-graph pass of a curation pipeline run corpus-wide
    * (the q_ann_* ops answer point queries; dedup needs the whole graph).
    *
    * Uses the LSH shortlist ([[knnShortlist]]) with EVERY vector as a
    * query: collision-count ranking across the 32 hyperplane tables
    * shortlists each vector's [[knnBudget]] most-colliding peers, and only
    * those pay an exact integer dot. (The IVF-list formulation was measured at recall
    * 0.37 @ 12.5% candidates on this near-isotropic corpus — its probe-2
    * lists are a coarse 16-way partition, while collision COUNTS give a
    * per-pair similarity proxy; at equal candidate budgets the shortlist
    * recalls 0.84.)
    *
    * Scale shape: the probe table is |corpus|·32·11 narrow rows
    * ([[KnnProbeBits]] m=4 masks — half the point-query probe volume;
    * the symmetric fold recovers the signal) — too big to broadcast, so
    * the bucket join shuffles BOTH sides on (table_id, bucket), linear
    * in corpus size. The exact-rescore budget is [[knnBudget]] =
    * max(75, ⌈3.4·√n⌉) per query: the r3 fractional budget made exact
    * work Θ(0.15·n²) by construction, a flat constant was measured at
    * recall 0.76 at sf0.1 (below floor) — the √n law keeps exact work
    * Θ(n^1.5) and the candidate FRACTION falls as 3.4/√n (spec-pinned:
    * fraction at sf0.1 < fraction at sf0.01). Recall holds at the
    * smaller budget/probe set because collision counts are folded over
    * UNORDERED pairs first — both probe directions' hits sum into one
    * c_sym(a,b) ranking signal (measured: the fold alone lifted recall
    * 0.85 → 0.90 at the r3 budget; the shipped m=4/√n point sits at
    * 0.871 sf0.001 / 0.836 sf0.1). The top-5 cut runs on the
    * bounded-heap [[TopK.perKey]] operator — no corpus-wide window sort.
    *
    * Honest cost accounting: on a NEAR-ISOTROPIC corpus the collision
    * join emits ~T·probes/2^bits ≈ 1.4 hit-rows per vector PAIR (5.5M at
    * n=2000) — narrow count-aggregate rows, map-side combinable, ~10×
    * cheaper than brute force's 64-wide dots but still Θ(n²) traffic;
    * this is the ρ→1 regime where no LSH family is sublinear (single-flip
    * multiprobe was measured at 0.73 recall even with the symmetric fold
    * — below floor — so the pair flips stay). On REAL clustered
    * embeddings collisions concentrate in near pairs and the hit volume
    * drops toward the budget·n shortlist bound; for lake-scale corpora
    * the right preconditioner is coarse partitioning BEFORE this pass —
    * which is exactly [[qKnnJoinIvf]] (K ∝ √n IVF lists, Θ(n^1.5)
    * candidate traffic by construction, recall 1.00 measured / ≥ 0.8
    * spec-floored on a CLUSTERED corpus — the geometry real embeddings
    * occupy). The
    * IVF form measures 0.37 recall on THIS isotropic corpus, which is
    * why the collision-count form ships for the adversarial regime; see
    * the twin's scaladoc for the per-geometry deployment rule.
    */
  val qKnnJoin: Q = Q.rowsOnly("q_knn_join") { (s, d) =>
    val q = quantized(s, d)
    top5Ranked(rescored(q, knnShortlist(s, d).select("query_id", "vec_id"), queryVecs(q)))
  }

  /** Lists-per-corpus law of the PRECONDITIONED k-NN self-join: K =
    * max(16, ⌈6·√n⌉) IVF lists, [[KnnIvfProbe]] = 3 probed lists per
    * query → expected per-query candidate work nprobe·n/K = 0.5·√n —
    * SUB-√n even after list-size unevenness (glommed lists on a
    * clustered corpus measured ~1.5× the even-split size, which is why
    * the constant is 6, not 4) — and the candidate join emits Θ(n^1.5)
    * narrow rows total where the collision-count path's bucket join
    * emits Θ(n²) on an isotropic corpus (spec-asserted on the clustered
    * corpus).
    */
  private[graft] def knnIvfK(n: Long): Int =
    math.max(IvfK, math.ceil(6.0 * math.sqrt(n.toDouble)).toInt)
  private[graft] val KnnIvfProbe = 3

  /** The knn-K IVF index in LIST-RESIDENT form: (cid, vec_id, label, qv,
    * n2) — the member vectors live WITH their inverted list, the layout a
    * production IVF index writes (FAISS stores vectors/codes inside the
    * lists for exactly this reason). r15: every consumer used to derive
    * candidate-ID pairs from a narrow (vec_id, cid) assignment and then
    * join the 500-byte vectors back on — first by vec_id, then by
    * query_id — so the Θ(n^1.5) candidate stream crossed an exchange
    * CARRYING the vector payload (guide §8's anti-pattern; measured
    * 30.3 s of the 36.6 s sf10 q_knn_join_ivf wall). With the vectors
    * resident in the list, the list join streams members once, scores in
    * the SAME stage, and only narrow (query_id, neighbor_id, cosine)
    * rows ever reach an exchange. Cache bytes: n·(dim·8 + ~24) — the
    * same rows the quantized cache already holds, reordered by list;
    * at lake scale this is the written index, not a new cost.
    * Bench prepays it under the historical `build_knn_ivf_assign` name.
    */
  private[graft] def ivfMembersKnnK(s: SparkSession, d: String,
      k: Int): DataFrame = {
    val model = ivfModelK(s, d, k)
    SessionCache.persisted(s, d, "ivf_members_knn") {
      quantized(s, d).filter(col("qv").isNotNull)
        .withColumn("cid", centArgmin(model, col("qv")))
        .select("cid", "vec_id", "label", "qv", "n2")
    }
  }

  /** The IVF list join, scored: each vector of `queries` probes its
    * `nprobe` nearest lists of the knn-K model CARRYING its own query
    * vector into the cid join (nprobe·|queries| vector rows — linear),
    * the list-resident `members` stream in, and the cosine is computed
    * inside the list-join stage — the exchanges downstream of this frame
    * see only narrow scored rows, never a vector (§8: decide with small
    * rows after moving the heavy bytes once). A vector occupies ONE
    * primary list and the probed lists are distinct, so each (query,
    * vec) pair joins at most once — no distinct pass. Emits (cid,
    * query_id, vec_id, label, cosine); package-visible so the spec pins
    * [[annIvfScoredPoint]]'s shuffled shape against its broadcast one.
    */
  private[graft] def ivfListScored(s: SparkSession, d: String,
      queries: DataFrame, members: DataFrame, nprobe: Int): DataFrame = {
    val model = ivfModelK(s, d, knnIvfK(nQuantized(s, d)))
    members.join(queryVecs(queries,
        explode(centTopK(model, col("qv"), nprobe)).as("cid")), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("cid"), col("query_id"), col("vec_id"), col("label"),
        queryCosine.as("cosine"))
  }

  /** The IVF-preconditioned k-NN self-join's scored candidates: every
    * embeddable vector against its [[KnnIvfProbe]] nearest lists.
    */
  private def knnIvfScored(s: SparkSession, d: String): DataFrame =
    ivfListScored(s, d, quantized(s, d).filter(col("qv").isNotNull),
      ivfMembersKnnK(s, d, knnIvfK(nQuantized(s, d))), KnnIvfProbe)

  /** The preconditioned path's candidate pairs (query_id, vec_id):
    * probes ⋈ member lists on cid — package-visible so the spec asserts
    * the sub-√n per-query candidate bound directly.
    */
  private[graft] def knnIvfCandidates(s: SparkSession, d: String): DataFrame =
    knnIvfScored(s, d).select("query_id", "vec_id")

  /** Probed-list count of the POINT-QUERY IVF shortlist
    * ([[annIvfScoredPoint]]) — far wider than the self-join's
    * [[KnnIvfProbe]] = 3 because its consumers are high-stakes gates
    * (a missed contamination ships a tainted eval member; a missed
    * labeled neighbor mis-votes a queue routing) and their query sets
    * are the SMALL side. Measured on the sf1 lake (n = 19.7k, the
    * adversarial regime where τ = 0.4 sits BELOW the isotropic bulk-max
    * order statistic, so every eval member is exact-contaminated and
    * the shortlist must find ≥ τ needles in pure noise — `Diag
    * semdecon`): flagged recall 0.841 / 0.926 / 0.973 at nprobe
    * 8/16/32, wall FLAT at ~27 s (the shared model build dominates; the
    * list join is noise). At 32 the per-query exact work is nprobe·n/K
    * = (32/6)·√n ≈ 5.3·√n integer dots — the same order as the
    * 2·knnBudget = 6.8·√n budget the LSH collision path paid — but the
    * candidate-GENERATION stage is Θ(|queries|·√n) narrow rows by
    * construction instead of a collision join whose volume tracks
    * bucket loads (measured 2.4× above its own √n-bucket model at
    * sf10). Planted genuine near-dups (the spec regime) recall at 1.00
    * from nprobe = 8 up.
    */
  private[graft] val PointIvfProbe = 32

  /** The IVF point scorer of the eval slice ([[graft.operators.Text
    * .evalSlice]] on vec_id) against the rest: (query_id, vec_id, label,
    * cosine) for every train vector in an embeddable eval vector's
    * [[PointIvfProbe]] nearest IVF lists, scored inside the list join.
    * The r11 reroute of [[qDecontaminateSemantic]] / [[qLabelPropagate]],
    * which until then rode the LSH collision-count join — measured
    * exponents 1.89/1.85 over sf1→sf10 (3437 s / 3461 s — together 57% of
    * the sf10 wall) because the 9-bit-bucket collision volume ran 2.4×
    * above the √n-bucket model, while [[qKnnJoinIvf]] measured 1.15 on
    * the same decade with the same K = ⌈6·√n⌉ coarse quantizer this
    * scorer reuses (the `ivf_members_knn` list-resident cache and the
    * memoized model are SHARED — one training pass serves the self-join
    * and both point gates).
    *
    * Scale shape: probes are |eval|·nprobe rows, broadcast while the
    * eval slice is small (the production case: held-out suites) and
    * shuffled on cid past [[Gates.SemanticEvalBroadcastMaxDocs]] embeddable
    * eval vectors; the list join emits Θ(|eval|·nprobe·n/K) =
    * Θ(|eval|·√n) candidate rows BY CONSTRUCTION, no term tracks
    * bucket-load concentration. The members are filtered to the train
    * side before the join (the shared index scan is untouched), so eval
    * vectors never reach the exact pass. Null-vector queries have no list
    * distances: dropped here, reported unassessed by the consumers.
    */
  private[graft] def annIvfScoredPoint(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d)
    val n = nQuantized(s, d)
    if (n == 0)
      return q.filter(lit(false))
        .select(col("vec_id").as("query_id"), col("vec_id"),
          col("label"), lit(0.0).as("cosine"))
    val k = knnIvfK(n)
    val isEval = Text.evalSlice(col("vec_id"))
    // list-resident members (r15): the candidate vector is already ON
    // the list row, so the shortlist scores inside the list-join stage
    // and emits narrow (query_id, vec_id, label, cosine) rows — the old
    // ID-only shortlist re-attached vectors by joining the corpus on
    // vec_id, shuffling the Θ(|queries|·√n) candidate stream (measured
    // 7.6 s of q_decontaminate_semantic's 9.5 s sf10 wall in that join).
    val members = ivfMembersKnnK(s, d, k).filter(not(isEval))
    val queries = q.filter(isEval && col("qv").isNotNull)
    val nprobe = math.min(PointIvfProbe, k)
    if (Gates.SemanticEvalBroadcastMaxDocs.near(queries.count())) {
      // the (query_id, cid) probes AND the query vectors broadcast;
      // members stream through both map-side joins, nothing shuffles
      val probes = queries.select(col("vec_id").as("query_id"),
        explode(centTopK(ivfModelK(s, d, k), col("qv"), nprobe)).as("cid"))
      members.join(broadcast(probes), Seq("cid"))
        .filter(col("vec_id") =!= col("query_id"))
        .join(broadcast(queryVecs(queries)), Seq("query_id"))
        .select(col("query_id"), col("vec_id"), col("label"),
          queryCosine.as("cosine"))
    } else
      // probes carry their own query vector into the cid exchange — a
      // factor n/K FEWER heavy rows than letting the candidate stream
      // cross an exchange with vectors attached
      ivfListScored(s, d, queries, members, nprobe)
        .select("query_id", "vec_id", "label", "cosine")
  }

  /** IVF-PRECONDITIONED ANN k-NN self-join (rows-only; spec pins recall
    * ≥ 0.8 on a CLUSTERED corpus at sub-√n per-query candidate work) —
    * the scale path of the corpus-wide neighbor graph, and the escape
    * hatch from [[qKnnJoin]]'s quadratic collision-count traffic:
    * coarse-partition the corpus into K = ⌈6·√n⌉ IVF lists (K ∝ √n —
    * list size Θ(√n)), then each vector rescores exactly against its 3
    * nearest lists only. Total candidate traffic is Θ(n^1.5) narrow
    * rows BY CONSTRUCTION — no term in the plan is quadratic at any
    * corpus geometry — vs the collision-count form whose bucket join
    * emits ~1.4 rows per vector PAIR in the isotropic ρ→1 regime.
    *
    * WHICH PATH A LAKE DEPLOYS (measured, per corpus geometry):
    *  - CLUSTERED embeddings — the regime real embedding corpora occupy
    *    (class/topic structure; a deterministic 200-cluster synthetic
    *    here): THIS operator. Near neighbors are cluster-mates, the
    *    coarse partition aligns with the clusters, and recall measures
    *    1.00 at 21.6 candidates/query — the sub-√n bound and the 0.8
    *    recall floor are spec-pinned.
    *  - NEAR-ISOTROPIC corpora (adversarial/synthetic, neighbors barely
    *    above bulk cosine): [[qKnnJoin]]'s collision-count shortlist —
    *    the IVF lists are a coarse 16..K-way partition with no
    *    similarity signal inside (measured 0.37 recall at IvfK on the
    *    isotropic test corpus), while collision COUNTS still rank; its
    *    Θ(n²) narrow traffic is the price of that regime (no LSH family
    *    is sublinear at ρ→1).
    * A deploy inspects geometry cheaply: sample pairwise cosine — if the
    * top-5-neighbor cosine ≈ the bulk p90 (isotropic), take the
    * collision path; otherwise precondition.
    */
  val qKnnJoinIvf: Q = Q.rowsOnly("q_knn_join_ivf") { (s, d) =>
    // emptiness probe = the memoized count off the materialized quantized
    // cache — NOT ivfModel(s, d).isEmpty, which would train the fixed-IvfK
    // model this operator never uses (a full Lloyd pass paid purely as a test)
    if (nQuantized(s, d) == 0) noNeighbors(quantized(s, d))
    else {
      // r15: scoring happens inside the list join (vectors never cross an
      // exchange — see ivfListScored), and the top-5 folds in TWO levels:
      // first at (cid, query) grain, which the list join's existing cid
      // hash partitioning already satisfies (ClusteredDistribution over a
      // SUPERSET of the partitioning keys — no exchange), so the global
      // per-query cut exchanges at most KnnIvfProbe·5 rows per query —
      // Θ(n) narrow rows where the candidate stream is Θ(n^1.5). Exact:
      // a (query, neighbor) pair exists in exactly one cid (one primary
      // list, distinct probes), and top-5 under (cosine DESC, id ASC) of
      // a union is contained in the union of per-part top-5s.
      val scored = knnIvfScored(s, d).select(col("cid"), col("query_id"),
        col("vec_id").as("neighbor_id"), col("cosine"))
      top5Ranked(TopK.perKey(scored, Seq("cid", "query_id"),
        "cosine", "neighbor_id", 5))
    }
  }

  /** Sampled-geometry probe for the k-NN dispatch: [[KnnProbeQueries]]
    * hash-picked query vectors scored against the FULL corpus (linear —
    * S·n narrow dot rows, the per-query work [[qCosineTopk]] already
    * pays), returning (mean top-5 neighbor cosine, bulk p90, bulk p50).
    * On a clustered corpus the top-5 are cluster-mates far above the
    * bulk; on a near-isotropic one they are the tail of the SAME
    * distribution and sit just above p90.
    */
  private[graft] val KnnProbeQueries = 64

  /** Dispatch rule for [[knnGraph]] — an ISOTROPIC NULL MODEL, not a
    * fixed gap margin (the r7 scaling study caught the fixed form
    * misrouting): on a corpus with no cluster structure the probe's
    * top-5 cosines ARE the extreme order statistics of its own bulk
    * score distribution, so their expected level GROWS with corpus size
    * (≈ σ·√(2 ln n)). The old `top5 − p90 > 0.25` split measured 0.16
    * at n = 500 but crossed 0.25 by n = 20000 on the SAME isotropic
    * geometry — sending the sf1 corpus down the IVF path whose recall
    * there is the documented 0.37. The test is therefore RELATIVE to
    * the null: clustered ⇔ (top5 − p50) > [[KnnNullFactor]] · σ̂ ·
    * z(1 − 2.5/n), with σ̂ = (p90 − p50)/z(0.9) estimated from the
    * probe's own bulk sample and z the standard normal quantile. On
    * isotropic corpora the measured ratio sits ≈ 1.0 at ANY n (the
    * top-5 are literally draws from the null — measured 0.99 at n=500
    * and 1.00 at n=20000); on the 200-cluster spec corpus it measures
    * ≫ 1.5. Factor 1.5 splits with wide slack both sides; the spec
    * pins the dispatch on each geometry.
    */
  private[graft] val KnnNullFactor = 1.5

  /** Upper-tail standard normal quantile z with P(Z > z) = p, for
    * p ≤ 0.5 (Hastings' rational approximation, |err| < 4.5e-4 — far
    * inside the 1.5× decision slack).
    */
  private[graft] def zUpper(p: Double): Double = {
    val pc = math.min(0.5, math.max(1e-300, p))
    val t = math.sqrt(-2.0 * math.log(pc))
    t - (2.30753 + 0.27061 * t) / (1.0 + 0.99229 * t + 0.04481 * t * t)
  }

  /** [[knnGeometryStatsUncached]] per (session, dir), memoized in
    * [[graft.SessionCache]] — the probe is a corpus-geometry MODEL (three
    * scalars), the same class as the IVF centroids / PQ codebook / LSH
    * width: deterministic from the corpus, model-sized, and consulted by
    * every [[knnGraph]] invocation plus the bench's quadratic-skip policy.
    * Re-running the S·n probe join per call re-measured an unchanged
    * corpus (r14, guide §1.2).
    */
  private[graft] def knnGeometryStats(s: SparkSession, d: String): (Double, Double, Double) =
    SessionCache(s, d, "knn_geometry")(knnGeometryStatsUncached(s, d))

  private[graft] def knnGeometryStatsUncached(s: SparkSession, d: String): (Double, Double, Double) = {
    val q = quantized(s, d).filter(col("qv").isNotNull)
    // deterministic spread sample: hash-order the ids (a lowest-id or
    // per-file head sample would bias toward one ingest batch's geometry)
    val sample = queryVecs(q)
      .orderBy(xxhash64(col("query_id").cast("string")), col("query_id"))
      .limit(KnnProbeQueries)
    // ONE action over ONE computed scored frame (r14, guide §1.2): the
    // bulk percentiles and the top-5 mean previously ran as two driver
    // actions, each re-computing the S·n probe join; the scored frame
    // persists for the two aggregate subtrees and both land in a single
    // 1×1 cross-joined head()
    val scored = sampleScored(q, sample)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val row = scored.agg(expr(
          "percentile_approx(c, array(0.5, 0.9), 10000)").as("p"))
        .crossJoin(TopK.perKey(scored, Seq("query_id"), "c", "vec_id", 5)
          .agg(avg(col("c")).as("t5")))
        .head()
      if (row.isNullAt(0)) (0.0, 0.0, 0.0) // empty/degenerate corpus
      else {
        val ps = row.getSeq[Double](0)
        (row.getDouble(1), ps(1), ps(0))
      }
    } finally { scored.unpersist(); () }
  }

  /** Corpus-wide k-NN graph with EXECUTABLE geometry dispatch — the §4.10
    * runtime-re-planning principle (the operator knows more than the
    * optimizer) applied to the [[qKnnJoin]]/[[qKnnJoinIvf]] twin pair,
    * which until now shipped as a documented BY-HAND deployment rule:
    * probe the corpus geometry on a sample ([[knnGeometryStats]]) and
    * take the Θ(n^1.5) IVF-preconditioned path when neighbors rise above
    * the bulk (clustered — the regime real embedding corpora occupy), the
    * collision-count path when the top-5 cosine is just the tail of the
    * bulk distribution (near-isotropic, where IVF lists carry no
    * similarity signal and recall collapses to 0.37). Probe cost is
    * linear (S·n) and tiny beside either path; the spec pins the
    * dispatch decision on both corpus geometries and each path's recall
    * floor is pinned by its own spec.
    */
  def knnGraph(s: SparkSession, d: String): DataFrame =
    if (knnGeometryIsClustered(s, d)) qKnnJoinIvf.run(s, d)
    else qKnnJoin.run(s, d)

  /** [[knnGraph]] as a REGISTERED query (rows-only) — r6 verdict item 3:
    * the dispatcher was executable but lived outside `SparkEntry.queries`,
    * so Verify/Bench never exercised the route decision ("measure, don't
    * guess" applies to the probe itself). Registering it runs the linear
    * geometry probe + the routed path under the driver's own harness; on
    * the near-isotropic driver corpus it must route to the collision-count
    * path (the [[KnnNullFactor]] null-model test reads the isotropic
    * corpus's top-5 as draws from its own bulk: (top5 − p50) ≈ 1.0 · σ̂ ·
    * z(2.5/n) < 1.5·σ̂·z), so its rows equal [[qKnnJoin]]'s —
    * the spec pins BOTH the route and that row identity, and the clustered
    * route is pinned by the dispatch spec on the 200-cluster corpus.
    */
  val qKnnGraph: Q = Q.rowsOnly("q_knn_graph")(knnGraph)

  private[graft] def knnGeometryIsClustered(s: SparkSession, d: String): Boolean = {
    val (top5, p90, p50) = knnGeometryStats(s, d)
    // n drives the null's order-statistic level; the memoized count off
    // the materialized quantized frame. Tiny corpora route to the
    // collision path unconditionally — at n < 50 both paths are trivial
    // and the null model's tail quantile is meaningless.
    val n = nQuantized(s, d)
    if (n < 50) return false
    val sigma = math.max((p90 - p50) / zUpper(0.1), 1e-9)
    (top5 - p50) > KnnNullFactor * sigma * zUpper(2.5 / n)
  }

  /** Connected components over an undirected pair graph (columns id_a <
    * id_b). Output: (id, label) with label = the component's minimum id —
    * the canonical keeper in a dedup pipeline.
    *
    * Two physical strategies behind one result, picked at runtime from the
    * edge count (the near-dup pair graph is a small residue of the
    * corpus, but nothing guarantees that at 100 TB). The count is of
    * `pairs`, which both callers pass cached, so it reads the cache; the
    * gate is [[Gates.ComponentsSingleTaskMaxEdges]] directed edges, two
    * per pair.
    *
    *  - at or below it: one narrow single-task union-find via
    *    mapPartitions over each pair once — no driver collect (the graph
    *    never leaves the executors), no per-round job scheduling. This is
    *    the branch every realistic post-LSH residue takes. The result is
    *    not materialized: the caller's cache entry is its one copy.
    *  - above it: [[propagateComponents]], the shuffle loop.
    */
  def components(pairs: DataFrame): DataFrame =
    if (Gates.ComponentsSingleTaskMaxEdges.near(2 * pairs.count())) {
      val spark = pairs.sparkSession
      import spark.implicits._
      // through an RDD, so the plan a caller caches is one leaf and not
      // the pair graph's whole lineage
      pairs.select(col("id_a"), col("id_b")).as[(Long, Long)].rdd
        .coalesce(1)
        .mapPartitions(it => unionFindLabels(it).iterator)
        .toDF("id", "label")
    } else propagateComponents(pairs)

  /** [[components]] above its gate: min-label propagation with pointer
    * jumping — each node repeatedly adopts the smallest label among
    * itself and its one-hop neighbors, then jumps to its label's label
    * (O(log diameter) rounds). Each round is one shuffle of (node, label)
    * pairs — the GraphX-free, DataFrame-native shape of web-scale dedup
    * clustering. Iterations are driver-bounded: the cap of 20 is a
    * safety rail; hitting it on a pathological chain still yields a
    * refinement, never a wrong merge.
    */
  private[graft] def propagateComponents(pairs: DataFrame): DataFrame = {
    // the pair graph is read twice per round: materialize it once, or an
    // expensive upstream (the minhash verification join) re-executes every
    // iteration
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // localCheckpoint (not persist) each round: the self-referential joins
    // would otherwise double the LOGICAL plan every iteration and Catalyst
    // analysis time explodes exponentially even on a tiny graph — the
    // standard iterative-DataFrame trap. On a fault-sensitive cluster
    // (dynamic allocation, long jobs) swap for reliable checkpoint() to
    // the cluster store — same lineage truncation, executor-loss safe
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < 20) {
      // hop: smallest label among self + one-hop neighbors. Plain plan (no
      // checkpoint): with labels an RDD leaf and edges cache-replaced at
      // planning, its tree is constant-size per round — only `next`, the
      // value carried across rounds, needs the lineage cut. Superseded
      // round RDDs are dereferenced here and reclaimed by the
      // ContextCleaner; only the live label table stays pinned.
      val nbr = edges
        .join(labels.select(col("id").as("src"), col("label")), "src")
        .groupBy(col("dst").as("id")).agg(min("label").as("nbr_label"))
      // prev rides along so the convergence check is a filter over the
      // checkpointed result — no extra join/shuffle per round
      val hop = labels.join(nbr, Seq("id"), "left")
        .select(col("id"), col("label").as("prev"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      // pointer jump: adopt the label's own label (labels are node ids, so
      // the self-join always resolves) — turns O(diameter) convergence
      // into O(log diameter) on chain-shaped clusters
      val ptr = hop.select(col("id").as("p_id"), col("label").as("p_label"))
      val next = hop.join(ptr, hop("label") === ptr("p_id"), "left")
        .select(hop("id"), col("prev"),
          coalesce(col("p_label"), hop("label")).as("label"))
        .localCheckpoint()
      val changed = next.filter(col("label") < col("prev")).limit(1).count() > 0
      labels = next.select("id", "label")
      converged = !changed
      iter += 1
    }
    edges.unpersist()
    labels
  }

  /** (id, label) of every node of an undirected edge list, label = the
    * smallest id of its component: union-find with path compression, each
    * root its component's minimum. The one union-find: [[components]]'
    * small branch runs it in one task, the driver near-dup path
    * ([[dedupClusterLabels]] under the gates) on the driver.
    */
  private[graft] def unionFindLabels(edges: Iterator[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keysIterator.map(x => (x, find(x))).toSeq
  }

  /** Transitive near-dup clustering (rows-only; spec checks the partition
    * against a driver-side union-find): MinHash near-dup pairs →
    * connected components → one row per cluster with its canonical keeper
    * (min doc_id), member count, and members. A~B and B~C land in ONE
    * cluster even when (A,C) itself never collided in a band — the closure
    * every dedup pipeline needs before choosing survivors.
    */
  // NOTE components() is eager by nature (an iterative driver loop), so
  // the cluster consumers depart from the lazy plan-builder contract;
  // memoizing the label table means repeat calls (specs, Explain,
  // re-runs, both consumers) pay it once. Under the gates the labels are
  // the driver pass's union-find over its verified pairs: one small local
  // frame, and the only near-dup entry the release path reads.
  private[graft] def dedupClusterLabels(s: SparkSession, d: String): DataFrame =
    nearDupEntry(s, d, "dedup_cluster_labels")(
      _.labelsFrame(s), components(minhashPairs(s, d)))

  /** Near-dup cross-source exposure — the near-dup-tier complement of
    * [[graft.operators.TextOps.qSourceOverlap]]'s exact matrix (exact
    * hashes only see verbatim copies; a templated or lightly-edited page
    * shared between two crawls lands HERE, in a MinHash cluster
    * spanning both): per source touching any near-dup cluster, how many
    * clusters it touches, how many of those span ANOTHER source too,
    * and the exact cross rate. A source whose near-dup exposure is
    * mostly cross-source duplicates other crawls rather than itself —
    * the mix double-counting signal at the paraphrase tier.
    *
    * Scale shape: the memoized cluster labels join the corpus's
    * (doc_id, source) — a big cluster is a hot JOIN key
    * (AQE-splittable); everything after is (cluster, source)-DISTINCT
    * grain, post-aggregation-small (bounded by cluster count ×
    * sources-touched, not corpus size). Rows-only (MinHash clustering
    * is not SQL-expressible); the spec recomputes the rollup from the
    * spec-pinned cluster labels and the raw sources.
    */
  val qNeardupCrossSource: Q = Q.rowsOnly("q_neardup_cross_source") { (s, d) =>
    val cs = dedupClusterLabels(s, d)
      .join(Tables.documents(s, d).select(col("doc_id").as("id"),
        col("source")), "id")
      .select(col("label"), col("source")).distinct()
    val spanning = cs.groupBy("label")
      .agg(count(lit(1)).as("n_sources"))
      .filter(col("n_sources") > 1).select("label")
    cs.join(spanning.withColumn("cross", lit(1L)), Seq("label"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_clusters"),
        sum(coalesce(col("cross"), lit(0L))).as("n_cross_clusters"))
      .select(col("source"), col("n_clusters"), col("n_cross_clusters"),
        graft.functions.Det.exactDiv(col("n_cross_clusters"),
          col("n_clusters"), 4).as("cross_rate"))
      .orderBy("source")
  }

  /** Transitive clustering with an EXACT CROSS-ENGINE ORACLE (r6 verdict
    * item 7) — the clustering keystone anchored: [[components]]' labels
    * were until now pinned only by the driver-side union-find spec, while
    * the whole survivor/weights/leakproof family builds on them. The
    * MinHash pair graph itself cannot be mirrored in SQL (xxhash64
    * permutations), but the EXACT n-gram Jaccard graph can — it already
    * has a hash-green oracle — so this operator runs the SAME
    * [[components]] min-label closure over THAT graph, and the oracle
    * recomputes the components in DuckDB as a WITH RECURSIVE min-label
    * walk to fixpoint: walk(id, label) enumerates every (node,
    * reachable-start) pair over the symmetrized edges (the UNION
    * dedupes, so the recursion terminates at the reachability closure)
    * and MIN(label) per node is exactly the min-id component label.
    * Cluster rosters, member counts and keepers then compare cell-exact
    * — the connected-components ALGORITHM is cross-engine-anchored, on
    * both its physical strategies (the adaptive dispatch spec pins
    * small ≡ large on random topologies; this pins small ≡ DuckDB).
    *
    * Scale note: the oracle's path-enumeration recursion is O(reachable
    * pairs) — fine at oracle SFs (the near-dup residue is tiny),
    * exponential nowhere, but NOT the lake-scale algorithm; the Spark
    * side stays [[components]]' pointer-jumping form. τ and the df cap
    * are [[qNgramJaccard]]'s own (shared [[keptPairStats]] table — the
    * pair graph is a cache read in the bench).
    */
  /** The shared DuckDB CTE chain deriving min-label component labels over
    * the exact n-gram Jaccard pair graph (τ=0.5, df-capped) — the common
    * prefix of every *_ngram oracle: [[qDedupClustersNgram]]'s rosters
    * plus the r13-promoted survivor/weights anchors read different tails
    * off the SAME `labels` relation, so the closure the oracles verify is
    * one spelling, not three.
    */
  private lazy val ngramClosureSql: String =
    s"""$shinglesSql,
       |hot AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) > $StopShingleDf),
       |kept AS (SELECT doc_id, sh FROM sh
       |         WHERE sh NOT IN (SELECT sh FROM hot)),
       |card AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS x
       |  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN card ca ON ca.doc_id = id_a
       |  JOIN card cb ON cb.doc_id = id_b
       |  WHERE CAST(x AS DOUBLE) / (ca.n + cb.n - x) >= 0.5),
       |edges AS (SELECT id_a AS s, id_b AS t FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |walk(id, label) AS (
       |  SELECT s, s FROM edges
       |  UNION
       |  SELECT e.t, w.label FROM walk w JOIN edges e ON e.s = w.id),
       |labels AS (SELECT id, MIN(label) AS label FROM walk GROUP BY id)""".stripMargin

  /** The τ-filtered undirected n-gram Jaccard pair graph (one row per
    * id_a < id_b pair) — [[keptPairStats]]' cache read, shared by the
    * three *_ngram closure consumers.
    */
  private[graft] def ngramPairs(s: SparkSession, d: String): DataFrame =
    keptPairStats(s, d)
      .filter((col("x").cast("double") / (col("na") + col("nb") - col("x")))
        >= 0.5)
      .select("id_a", "id_b")

  /** Min-label component labels over [[ngramPairs]], memoized+materialized
    * like [[dedupClusterLabels]] — clusters/survivors/weights each read
    * the closure as a cache hit instead of re-running pointer jumping.
    */
  private[graft] def ngramClusterLabels(s: SparkSession, d: String): DataFrame =
    SessionCache.persisted(s, d, "ngram_cluster_labels")(
      components(ngramPairs(s, d)))

  val qDedupClustersNgram: Q = Q(
    "q_dedup_clusters_ngram",
    s"""WITH RECURSIVE $ngramClosureSql
       |SELECT label AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_members,
       |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
       |FROM labels GROUP BY label HAVING COUNT(*) > 1
       |ORDER BY keep_id""".stripMargin
  ) { (s, d) => clustersOverLabels(ngramClusterLabels(s, d)) }

  val qDedupClusters: Q = Q.rowsOnly("q_dedup_clusters") { (s, d) =>
    clustersOverLabels(dedupClusterLabels(s, d))
  }

  /** The cluster roster over any (id, label) component table — ONE
    * spelling read by the MinHash entry ([[qDedupClusters]], rows-only)
    * and the exact n-gram entry ([[qDedupClustersNgram]], hash-green
    * against the WITH RECURSIVE closure oracle), as
    * [[survivorsOverLabels]] and [[weightsOverLabels]] are for their
    * families. Members are a sorted CSV string, not array<long>: the
    * driver hash-sorts every output with pandas, and array cells are
    * unhashable there.
    */
  private[graft] def clustersOverLabels(labels: DataFrame): DataFrame =
    labels
      .groupBy(col("label").as("keep_id"))
      .agg(count(lit(1)).as("n_members"),
        array_join(sort_array(collect_list(col("id"))), ",").as("members"))
      .filter(col("n_members") > 1)
      .orderBy("keep_id")

  /** End-to-end deduped corpus (rows-only; spec): the document ids that
    * survive near-dup removal — every cluster keeps only its canonical
    * keeper (min doc_id). One anti-join of the corpus against the cluster
    * non-keepers: at 100 TB the label table is the small side of the join
    * and the corpus streams through unbuffered.
    */
  /** The survivor ALGORITHM over any (id, label) component table — ONE
    * spelling read by both graphs: the MinHash entry ([[qDedupSurvivors]],
    * rows-only — xxhash64 permutations are not SQL-expressible) and the
    * exact n-gram entry ([[qDedupSurvivorsNgram]], hash-green against the
    * WITH RECURSIVE closure oracle), so the oracle anchors the exact code
    * path the MinHash entry runs — the [[qDedupClustersNgram]] precedent
    * extended to the survivor family (r13 verdict item 6).
    */
  private[graft] def survivorsOverLabels(
      s: SparkSession, d: String, labels: DataFrame): DataFrame = {
    val nonKeepers = labels.filter(col("id") =!= col("label"))
      .select(col("id").as("doc_id"))
    Tables.documents(s, d).select("doc_id")
      .join(nonKeepers, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  val qDedupSurvivors: Q = Q.rowsOnly("q_dedup_survivors") { (s, d) =>
    survivorsOverLabels(s, d, dedupClusterLabels(s, d))
  }

  /** Near-dup survivor corpus over the EXACT n-gram pair graph, with a
    * cell-exact DuckDB oracle: the same [[survivorsOverLabels]] anti-join
    * over [[ngramClusterLabels]], the oracle recomputing the closure with
    * the shared WITH RECURSIVE walk and dropping non-keepers. Anchors the
    * keep-min-id survivor rule cross-engine at the algorithm level (the
    * MinHash entry stays spec-pinned on its own graph).
    */
  val qDedupSurvivorsNgram: Q = Q(
    "q_dedup_survivors_ngram",
    s"""WITH RECURSIVE $ngramClosureSql
       |SELECT d.doc_id FROM documents d
       |WHERE d.doc_id NOT IN (SELECT id FROM labels WHERE id <> label)
       |ORDER BY d.doc_id""".stripMargin
  ) { (s, d) => survivorsOverLabels(s, d, ngramClusterLabels(s, d)) }

  /** [[Gates.MemberBroadcastMaxRows]]' hint for a label table, counted —
    * ONE spelling for every consumer of the cluster-member tables
    * ([[qDedupSurvivorsBest]], [[weightsOverLabels]],
    * [[Curation.stagedFlags]]). The tables are memoized and materialized,
    * so the count is a cache read (the components() precedent).
    */
  private[graft] def gatedMemberBroadcast(labels: DataFrame): DataFrame => DataFrame =
    Gates.MemberBroadcastMaxRows.broadcastNear(labels.count())

  /** Quality-aware near-dup survivor corpus (rows-only; spec pins the
    * partition identity with [[qDedupSurvivors]] and per-cluster argmax
    * selection): [[qDedupSurvivors]] keeps each cluster's MIN doc_id —
    * the reference's policy, blind to content; production curation keeps
    * the cluster's BEST member (CCNet/FineWeb keep-longest lineage).
    * Keeper = argmax quality_score (the [[graft.operators.TextOps]]
    * composite), ties and unscoreable (null-text) members falling back
    * to min doc_id — an all-null cluster selects exactly the min-id
    * keeper, so this strictly generalizes the reference policy.
    *
    * Scale shape: the member semi-join keeps quality regexes off the
    * non-member corpus; its small side broadcasts only under the
    * measured [[Gates.MemberBroadcastMaxRows]] gate (unhinted above — see
    * the gate's scaladoc for why a forced hint is a driver bomb on
    * CCNet/FineWeb-rate corpora); the per-cluster argmax is one
    * map-side-combinable struct-max aggregate; the final anti-join
    * streams the corpus against the non-keeper set.
    */
  val qDedupSurvivorsBest: Q = Q.rowsOnly("q_dedup_survivors_best") { (s, d) =>
    val table = dedupClusterLabels(s, d)
    val labels = table.select(col("id").as("doc_id"), col("label"))
    val gated = gatedMemberBroadcast(table)
    val memberScores = graft.operators.TextOps.qualityScored(
        Tables.documents(s, d).join(gated(labels.select("doc_id")), "doc_id"))
      .select("doc_id", "quality_score")
    // keepers has one row per CLUSTER ≤ nMembers rows, so the member
    // count gates its hint soundly too
    val keepers = labels.join(memberScores, "doc_id")
      // struct max is lexicographic: highest score wins; within a score
      // tie the LARGER negid — i.e. the SMALLEST doc_id — wins, and null
      // scores coalesce below every real score
      .groupBy("label").agg(max(struct(
        coalesce(col("quality_score"), lit(-1.0)).as("s"),
        (-col("doc_id")).as("negid"))).as("m"))
      .select(col("label"), (-col("m.negid")).as("keep_id"))
    val nonKeepers = labels.join(gated(keepers), "label")
      .filter(col("doc_id") =!= col("keep_id"))
      .select("doc_id")
    Tables.documents(s, d).select("doc_id")
      .join(nonKeepers, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Per-label centroid of the embedding corpus (the class-prototype /
    * cluster-seed computation an IVF index or a nearest-centroid labeler
    * starts from): exact integer mean per (label, dimension) over the
    * shared quantized vectors. One explode + one groupBy — the shuffle
    * key (label, dim) has |labels|·64 groups, so partial aggregation
    * collapses the traffic to a constant regardless of corpus size. The
    * mean itself is [[graft.functions.Det.exactDiv]] on the exact integer
    * sum, then one exact-integer-double division by the quantization
    * scale — no float summation order anywhere.
    */
  val qLabelCentroids: Q = Q(
    "q_label_centroids",
    s"""WITH $quantizedSql,
       |e AS (
       |  SELECT label, i AS dim, qv[i] AS x
       |  FROM q, UNNEST(generate_series(1, len(qv))) AS t(i))
       |SELECT label, dim, COUNT(*) AS n_vecs,
       |  ${graft.functions.Det.exactDivSql("SUM(x)", "COUNT(*)", 0)} / 10000.0 AS centroid
       |FROM e GROUP BY label, dim
       |ORDER BY label, dim""".stripMargin
  ) { (s, d) =>
    import graft.functions.Det.exactDiv
    quantized(s, d)
      .select(col("label"), posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy(col("label"), (col("pos") + lit(1)).cast("long").as("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        (exactDiv(sum(col("x")), count(lit(1)), 0) / lit(10000.0)).as("centroid"))
      .orderBy("label", "dim")
  }

  /** Soft dedup — per-document training weight 1/|cluster| (rows-only;
    * spec pins partition identity with [[qDedupClusters]], the exact
    * rounding, singleton identity, and per-cluster weight conservation):
    * the SemDeDup-lineage ALTERNATIVE to dropping near-duplicates —
    * instead of keeping one survivor ([[qDedupSurvivors]]), every member
    * ships with weight 1/cluster_size, so a duplicated document
    * contributes ONE document's worth of gradient regardless of how many
    * near-copies the crawl found, while paraphrase diversity inside the
    * cluster is retained. Singletons keep weight 1.0 and cluster_id =
    * their own doc_id, so the emitted frame is a total weighting of the
    * corpus (Σ weight = effective corpus size = #clusters + #singletons,
    * up to 4-dp rounding).
    *
    * Scale shape: cluster sizes are one map-side-combined aggregate over
    * the memoized label table; the member join is size-gated through the
    * same [[Gates.MemberBroadcastMaxRows]] rule as the survivor family
    * (broadcast under the measured count, unhinted above it — 30–50%-dup
    * web corpora must not force a driver-bomb hint); the corpus left-join
    * streams unbuffered.
    */
  /** The weights ALGORITHM over any (id, label) component table — like
    * [[survivorsOverLabels]], one spelling for both graphs so the n-gram
    * oracle anchors the code path the MinHash entry runs.
    */
  private[graft] def weightsOverLabels(
      s: SparkSession, d: String, labelTable: DataFrame): DataFrame = {
    import graft.functions.Det.exactDiv
    val labels = labelTable.select(col("id").as("doc_id"), col("label"))
    val gated = gatedMemberBroadcast(labelTable)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    val members = labels.join(gated(sizes), "label")
    val sz = coalesce(col("cluster_size"), lit(1L))
    Tables.documents(s, d).select("doc_id")
      .join(gated(members), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"),
        sz.as("cluster_size"),
        exactDiv(lit(1L), sz, 4).as("weight"))
      .orderBy("doc_id")
  }

  val qDedupWeights: Q = Q.rowsOnly("q_dedup_weights") { (s, d) =>
    weightsOverLabels(s, d, dedupClusterLabels(s, d))
  }

  /** Soft-dedup weights over the EXACT n-gram pair graph, with a
    * cell-exact DuckDB oracle: the same [[weightsOverLabels]] pipeline
    * over [[ngramClusterLabels]]; the oracle recomputes the closure via
    * the shared WITH RECURSIVE walk, sizes each component, and emits the
    * identical 1/|cluster| half-up-4dp weighting ([[graft.functions.Det
    * .exactDivSql]] on both engines). Anchors the weight arithmetic and
    * singleton totality cross-engine (r13 verdict item 6).
    */
  val qDedupWeightsNgram: Q = Q(
    "q_dedup_weights_ngram",
    s"""WITH RECURSIVE $ngramClosureSql,
       |sizes AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |          FROM labels GROUP BY label)
       |SELECT d.doc_id,
       |  COALESCE(l.label, d.doc_id) AS cluster_id,
       |  CAST(COALESCE(s2.cluster_size, 1) AS BIGINT) AS cluster_size,
       |  ${graft.functions.Det.exactDivSql("1", "COALESCE(s2.cluster_size, 1)", 4)} AS weight
       |FROM documents d
       |LEFT JOIN labels l ON l.id = d.doc_id
       |LEFT JOIN sizes s2 ON s2.label = l.label
       |ORDER BY d.doc_id""".stripMargin
  ) { (s, d) => weightsOverLabels(s, d, ngramClusterLabels(s, d)) }

  /** k-NN label propagation (rows-only; spec pins accuracy ≥ 0.9 AND
    * exact agreement with a driver brute-force recompute of the same
    * vote rule on a clustered corpus, plus the vote arithmetic
    * everywhere): the weak-supervision/auto-labeling pass of a labeling
    * pipeline — every HELD-OUT vector (the shared md5-prefix
    * [[graft.operators.Text.evalSlice]] rule: pretend its label is
    * unknown) takes the majority label of its 5 nearest LABELED
    * neighbors by cosine; confidence = votes/k exact, ties break to the
    * smallest label (deterministic). The reference's labeling system
    * routes unlabeled reviews to human annotators; at lake scale this is
    * the machine pre-label that seeds those queues
    * (labeling/sampler.py's tiers choose WHAT to label; this proposes
    * the label).
    *
    * Scale shape — identical to [[qDecontaminateSemantic]]'s (r11:
    * both rerouted through [[annIvfScoredPoint]]): queries are the
    * held slice only, candidates labeled-only (the list members are
    * filtered before the join, so held–held neighbors never reach the
    * exact pass), probe rows broadcast while the held slice is small
    * (shuffled past [[Gates.SemanticEvalBroadcastMaxDocs]]); candidates are
    * the held vector's [[PointIvfProbe]] nearest lists — Θ(|held|·√n)
    * rows by construction, retiring the LSH collision join whose
    * bucket-load-bound volume measured exponent 1.85 over sf1→sf10
    * (3461 s at sf10; SURVEY §8) — and exact work is ≈ |held|·5.3√n
    * integer dots, never |held|·|corpus|. A null-vector
    * held row stays in the report unassessed (NULL prediction, zero
    * neighbors) — distinguishable from an assessed row whose shortlist
    * came back empty (also NULL prediction, but the spec pins
    * n_neighbors = 0 with assessable semantics via the decon principle).
    */
  val qLabelPropagate: Q = Q.rowsOnly("q_label_propagate") { (s, d) =>
    import graft.functions.Det.exactDiv
    // r15: the shortlist arrives already scored (and label-carrying)
    // from the list-resident index — annIvfScoredPoint scores inside
    // the list join, so only narrow (query_id, label, cosine, vec_id)
    // rows reach the bounded-heap cut below
    val rescored = annIvfScoredPoint(s, d)
      .select(col("query_id"), col("label"), col("cosine"), col("vec_id"))
    // top-5 labeled neighbors per held vector — bounded-heap selection
    // (r14): the vote only needs the top-5 ROW SET, never a rank, so
    // TopK.perKey replaces the rank window outright (same rows: top-5
    // under (cosine DESC, vec_id) is exactly the rk ≤ 5 set)
    val top = TopK.perKey(rescored, Seq("query_id"), "cosine", "vec_id", 5)
    // majority vote: struct max is lexicographic — most votes wins, a
    // vote tie breaks to the SMALLEST label via the negated field
    val votes = top.groupBy("query_id", "label")
      .agg(count(lit(1)).as("v"))
    val per = votes.groupBy("query_id").agg(
      sum(col("v")).as("n_neighbors"),
      max(struct(col("v").as("v"), (-col("label")).as("nl"))).as("m"))
      .select(col("query_id"), col("n_neighbors"),
        (-col("m.nl")).as("predicted_label"), col("m.v").as("n_votes"))
    quantized(s, d).filter(Text.evalSlice(col("vec_id")))
      .select(col("vec_id"), col("label").as("actual_label"))
      .join(per.select(col("query_id").as("vec_id"), col("predicted_label"),
        col("n_votes"), col("n_neighbors")), Seq("vec_id"), "left")
      .select(col("vec_id"), col("actual_label"), col("predicted_label"),
        coalesce(col("n_votes"), lit(0L)).as("n_votes"),
        coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
        exactDiv(col("n_votes"), col("n_neighbors"), 4).as("confidence"),
        when(col("predicted_label").isNotNull,
          col("predicted_label") === col("actual_label")).as("correct"))
      .orderBy("vec_id")
  }

  /** Selection budget for [[qDiverseSample]] — small enough that every
    * SF selects a strict subset, large enough to exercise multiple
    * round-robin rounds per cluster.
    */
  private[graft] val DiverseSampleN = 200

  /** Diversity-preserving subsample (rows-only; spec recomputes the
    * whole rule from the emitted frame): select [[DiverseSampleN]]
    * vectors maximizing embedding-space coverage — the cluster-balanced
    * data-selection pass (SemDeDup/DiverseEvol lineage: a uniform
    * subsample over-represents dense regions; round-robin over clusters
    * keeps the tails). Members rank within their IVF cluster by a
    * deterministic hash; the selection order is lexicographic
    * (cluster_rank, cluster_id) — exactly round-robin water-filling:
    * round r takes one member from every cluster still holding an r-th
    * member, so every non-empty cluster is represented once the budget
    * reaches the cluster count, and non-exhausted clusters never differ
    * by more than one selection. Every vector is emitted with its
    * (cluster, rank, selected) so the selection is auditable; null
    * vectors stay unassessed (NULL cluster, never selected).
    *
    * Scale shape: the within-cluster rank is the two-level
    * [[graft.operators.Labeling.hashRank]] decomposition (256 hash
    * blocks + broadcast block offsets — an IVF cluster is corpus/K rows
    * at lake scale, far too hot for one window partition); the selection
    * threshold is the max of a bounded TakeOrderedAndProject over the
    * (rank, cid) keys — a 1-row broadcast, no driver collect; the flag
    * join streams the corpus once.
    */
  val qDiverseSample: Q = Q.rowsOnly("q_diverse_sample") { (s, d) =>
    val q = quantized(s, d)
    val model = ivfModel(s, d)
    if (model.isEmpty) {
      q.filter(lit(false)).select(col("vec_id"), lit(0).as("cluster_id"),
        lit(0L).as("cluster_rank"), lit(false).as("selected"))
    } else {
      val ranked = Labeling.hashRank(ivfAssigned(s, d), "cid",
          md5(col("vec_id").cast("string")), "vec_id")
        .select(col("vec_id"), col("cid"), col("rn"))
      // the N-th smallest (rank, cid) key — (rn, cid) is unique (rn is
      // unique within a cluster), so `key ≤ threshold` admits exactly
      // min(N, corpus) rows; bounded top-N then a 1-row max, never a
      // global sort of the corpus
      val thresh = ranked.orderBy(col("rn"), col("cid"))
        .limit(DiverseSampleN)
        .agg(max(struct(col("rn").as("r"), col("cid").as("c"))).as("th"))
      val flagged = ranked.crossJoin(broadcast(thresh))
        .select(col("vec_id"), col("cid"), col("rn"),
          (struct(col("rn").as("r"), col("cid").as("c")) <= col("th"))
            .as("selected"))
      q.select("vec_id").join(flagged, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cid").as("cluster_id"),
          col("rn").as("cluster_rank"),
          coalesce(col("selected"), lit(false)).as("selected"))
        .orderBy("vec_id")
    }
  }

  val all: Seq[Q] = Seq(
    qNgramContainment,
    qNgramJaccard, qShingleDfProfile, qDedupMinhash, qDedupSimhash, qEmbedNeardup,
    qCosineTopk, qAnnLsh, qAnnIvf, qAnnPq, qAnnHealth, qEmbedClusters, qKnnJoin, qKnnJoinIvf,
    qKnnGraph,
    qDedupClusters, qDedupClustersNgram, qNeardupCrossSource, qDedupSurvivors,
    qDedupSurvivorsNgram, qDedupSurvivorsBest, qDedupWeights, qDedupWeightsNgram,
    qLabelCentroids, qDecontaminateSemantic, qLabelPropagate,
    qDiverseSample)
}
