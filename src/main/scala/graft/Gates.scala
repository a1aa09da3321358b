package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** A size gate, named as its constant in [[Gates]]: a count at or below
  * `max` takes the near path (driver, one task, no spread, broadcast).
  */
private[graft] final case class Gate(name: String, max: Long) {
  /** The one decision: whether a count of `n` takes the near path. */
  def near(n: Long): Boolean = n <= max

  /** A join side sized by `n`: broadcast when [[near]], else unhinted. */
  def broadcastNear(n: Long): DataFrame => DataFrame =
    df => if (near(n)) broadcast(df) else df
}

/** Every size gate: the constant that picks a physical path or a join hint,
  * read in one place. A crossover re-measured is one edit here.
  */
private[graft] object Gates {

  /** Document rows above which decontamination hash-spreads the documents by
    * `doc_id` over the cores before tokenizing ([[Tables.spreadByDocId]]).
    * `repartition(n, col)` always plans a full shuffle, and a single-split
    * corpus is already one partition ([[Tables.table]]), so at or below the
    * gate the per-doc distincts, groupBys and broadcast semi-joins over it
    * plan no exchange.
    *
    * 20k is an estimate, not a measured crossover: the crossover depends on
    * whether the JVM is cold, and no benchmark workload runs a corpus above
    * the gate to pin it. On 4 cores over row prefixes of the sf1 documents,
    * spread → unspread, a fresh JVM (median of 3) read `q_decontaminate` 5k
    * 3.26 → 2.47 s, 20k 4.46 → 3.54 s and 30k 5.20 → 3.74 s, so cold the
    * unspread plan wins at every size measured; JIT-warm (median of 7) it
    * read 5k 0.47 → 0.40 s, 10k 0.53 → 0.57 s, 20k 0.63 → 0.77 s and 50k 0.90
    * → 1.38 s, so warm the spread wins from about 10k.
    */
  val SpreadMinDocs = Gate("SpreadMinDocs", 20000L)

  /** Size gates between the two physical near-dup paths
    * ([[operators.Similarity.nearDupLocal]]). At or below both, the corpus's
    * shingle-hash arrays come to the driver in one collect and the whole
    * chain (bands, candidates, exact verification, clusters) runs there on
    * primitive arrays; above either, the distributed chain runs. The
    * distributed chain pays about 28 jobs (persist, count and a stage
    * boundary per entry) at any size, so the driver path wins while its data
    * fits; driver memory is the measure, and it has two terms.
    *
    * Documents: the testdata corpus averages ~55 shingles per document, so
    * 100k documents hold ~5.5M hashes (~45 MB as `long[]`) plus 8 band hashes
    * each. The count is the documents' row count from their parquet footers,
    * read before any collect, so a corpus above it pays no driver pass. sf1
    * (50,000 documents) stays on the driver, sf10 (500,000) and any
    * lake-scale corpus go distributed. Rows, not bytes, as
    * [[BpeDriverMaxVocab]].
    *
    * Bucket pairs: a band bucket of m rows yields m(m-1)/2 candidate pairs,
    * so a few thousand exact copies (boilerplate pages) would build ~10^9 on
    * the driver. The sum of C(m, 2) over every band's buckets, counted from
    * the sorted band hashes before any pair is built, is held to 1M (8 MB of
    * packed pairs; the verified frames hold at most that many rows). Ordinary
    * corpora sit far below it (sf1: 98 candidates); above it the distributed
    * chain, which spreads the join and can spill, runs instead. Both paths
    * are spec-pinned identical.
    */
  val MinhashDriverMaxDocs = Gate("MinhashDriverMaxDocs", 100000L)
  val MinhashDriverMaxPairs = Gate("MinhashDriverMaxPairs", 1000000L)

  /** Fingerprint-count gate for hinting the half-probe join's exact-key side
    * broadcast: 2 rows/fp × 16 bytes ≈ 130 MB of hash table at the cap —
    * safely inside a driver/executor heap, and ~500× the sf10 corpus's D.
    * Past the cap the join ships unhinted and AQE size-decides (a web-scale D
    * must shuffle, not OOM the driver).
    */
  val SimhashHalfBroadcastMaxFps = Gate("SimhashHalfBroadcastMaxFps", 4000000L)

  /** Separate, LOWER gate for the doc-grain member-map broadcasts of
    * [[operators.Similarity.qDedupSimhash]]'s expansion joins (r11 advice):
    * the plan carries up to three member-map HashedRelations CONCURRENTLY
    * (same-fp + both cross-fp sides) alongside the exact-key relation, and a
    * HashedRelation costs several× its 16 B/row raw bytes — sharing the 4M
    * exact-key gate would let the three maps alone reach GB scale on the
    * executors and driver. 1M docs ≈ 16 MB raw / tens of MB hashed per map —
    * three of them comfortably inside any executor. Above the gate the
    * expansion joins ship unhinted (AQE size-decides); at that corpus scale
    * the pair-flood materializer is the wrong consumer anyway (clusters are
    * the lake-scale contract — see the operator doc).
    */
  val SimhashMemberBroadcastMaxDocs = Gate("SimhashMemberBroadcastMaxDocs", 1000000L)

  /** Eval-vector-count gate under which
    * [[operators.Similarity.annIvfScoredPoint]]'s probe rows and query
    * vectors broadcast into the list join — mirrors
    * [[EvalBroadcastMaxCorpusDocs]]: a held-out benchmark suite is small in
    * production, but a huge eval slice is too big to broadcast.
    */
  val SemanticEvalBroadcastMaxDocs = Gate("SemanticEvalBroadcastMaxDocs", 100000L)

  /** [[operators.Similarity.components]]' gate, in directed edges: two per pair. */
  val ComponentsSingleTaskMaxEdges = Gate("ComponentsSingleTaskMaxEdges", 2000000L)

  /** Broadcast gate for the survivor/funnel family's cluster-member-derived
    * tables (member roster, keeper table, non-keeper table): on THIS
    * synthetic corpus near-dup members are ~5% of documents and a broadcast
    * is obviously right — but the operators' own lineage (CCNet/FineWeb)
    * describes web corpora where near-dup members run 30-50% of ALL
    * documents, and a *forced* broadcast hint there is a multi-hundred-GB
    * driver bomb that bypasses AQE's size check. So the hint is SIZE-GATED,
    * the [[operators.Similarity.components]] measured-edge-count precedent:
    * the label table is memoized+materialized
    * ([[operators.Similarity.dedupClusterLabels]]), its count is a cache
    * read, and the hint only applies under this row threshold — above it the
    * join ships UNHINTED and AQE size-decides (a 5M-row id table is ~100 MB
    * broadcast-side; anything bigger belongs in a shuffle semi/anti-join).
    * Both physical forms are spec-pinned identical.
    */
  val MemberBroadcastMaxRows = Gate("MemberBroadcastMaxRows", 5000000L)

  /** Corpus-document gate under which the eval n-gram vocabulary broadcasts:
    * 16 × 100k, so the 1/16 eval slice holds about 100k documents (≈ tens of
    * MB of 5-gram hashes — far under the broadcast limit). `decontaminate`'s
    * one plan switch: above it every eval-vocabulary join is a sort-merge
    * join.
    */
  val EvalBroadcastMaxCorpusDocs = Gate("EvalBroadcastMaxCorpusDocs", 1600000L)

  /** Size gate between the two physical BPE paths, in rows of the (source,
    * word, n) table ([[operators.Assembly.bpeWordRows]]): a word that occurs
    * in k sources counts k times. At or below it the table collects to the
    * driver and both training and encode run there (how production tokenizer
    * trainers work — the vocab of even a large corpus is usually O(10⁶)
    * words); above it both stay distributed (a 100 TB web crawl's token set —
    * URLs, hashes, code identifiers — is unbounded and can outgrow any
    * driver). One bounded collect, `limit(gate + 1)`, decides; both paths are
    * spec-pinned identical ([[operators.Assembly.bpeDistributed]] runs the
    * far side on any corpus).
    */
  val BpeDriverMaxVocab = Gate("BpeDriverMaxVocab", 200000L)

  val all: Seq[Gate] = Seq(SpreadMinDocs, MinhashDriverMaxDocs, MinhashDriverMaxPairs,
    SimhashHalfBroadcastMaxFps, SimhashMemberBroadcastMaxDocs, SemanticEvalBroadcastMaxDocs,
    ComponentsSingleTaskMaxEdges, MemberBroadcastMaxRows, EvalBroadcastMaxCorpusDocs,
    BpeDriverMaxVocab)
}
