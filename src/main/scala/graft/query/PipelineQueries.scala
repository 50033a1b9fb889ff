package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Bm25, Components, Dedup, Multimodal, Pq, Similarity, TextAnalysis, VectorIndex}

/** LLM-training-data pipeline operators as driver-contract queries:
  * dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding),
  * similarity search, text analysis, multimodal plumbing.
  *
  * Oracle pairing: everything SQL-expressible gets a DuckDB twin.
  * MinHash/SimHash/LSH internals hash with xxhash64 (not reproducible
  * in DuckDB) -> registered rows-only; but `dedup_ngram_jaccard` runs
  * the LSH+exact-verify path *against the exact-SQL oracle* — with the
  * registered 8x4 banding the candidate-recall curve is
  * 1-(1-j^4)^8 ≈ 0.985 at j=0.8 and ≥ 1-2e-4 at the planted near-dup
  * similarities (j ≥ 0.9), and equality is additionally pinned by
  * tests against the exact quadratic path.
  */
object PipelineQueries {

  private val jaccardT = 0.8

  /** The fixed demo query for the BM25 pair — mid-frequency corpus
    * terms so tf/df actually discriminate. */
  private val Bm25QueryTerms = Seq("window", "merge", "spark")

  /** One rare term + two stop-word-df terms — the df shape max-score
    * pruning exists for (certificate engages at every tested SF with
    * at least k 'dup' docs; smaller fixtures fall back, still exact). */
  private val Bm25PrunedTerms = Seq("dup", "scan", "merge")
  /** Phrase for the exact-phrase BM25 query — chosen for nonzero,
    * k-exceeding match counts at every test sf (43/22/310 docs). */
  private val Bm25PhraseTerms = Seq("window", "join")
  private val cosineT = 0.4 // demo threshold: testdata max pair sim ~0.51

  /** Input cap for the two deliberately-quadratic `_oracle` anchors:
    * sf0.01 (the oracle/verify scale) has exactly 500 vectors, so the
    * cap never changes a correctness result — it only stops the anchors'
    * O(n^2) pair space growing with bench scale (sf0.1 = 2000 vectors
    * would be 16x the pairs). Applied identically in the Spark query and
    * the DuckDB oracle SQL. */
  private val anchorCap = 500

  /** Persisted LSH candidate-pair store location for a testdata dir —
    * same tmpdir convention as the int8 / signature / IVF stores. */
  private def lshCandPath(d: String): String =
    sys.props("java.io.tmpdir") + "/graft_lshcand_" +
      d.replaceAll("[^A-Za-z0-9.]", "_")

  /** BM25 result-cache memo location for a testdata dir — same tmpdir
    * convention as the other per-SF stores. */
  private def bm25MemoPath(d: String): String =
    sys.props("java.io.tmpdir") + "/graft_bm25memo_" +
      d.replaceAll("[^A-Za-z0-9.]", "_")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: canonical-fingerprint hash groups.
    "dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(Tables.documents(s, d))
        .orderBy(col("text_hash"))),

    // Near-dup pairs by 3-gram Jaccard — MinHash-LSH candidates +
    // exact verification (the 100 TB path), oracle'd by exact SQL.
    "dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.minHashDedup(Tables.documents(s, d), n = 3, t = jaccardT)
        .orderBy(col("doc_a"), col("doc_b"))),

    // Corpus cleaning: the dedup pipeline end-to-end — near-dup pairs
    // via LSH, greedy drop of the higher-id side, surviving doc ids.
    "dedup_drop_neardups" -> ((s, d) =>
      Dedup.dropNearDuplicates(Tables.documents(s, d), 3, jaccardT)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))),

    // Character-level near-dup verification: edit-distance similarity
    // over an id-capped slice (quadratic ground-truth anchor, like
    // dedup_components_oracle; at scale the input is LSH candidates).
    "dedup_edit_sim_oracle" -> ((s, d) =>
      Dedup.editSimilarPairs(
          Tables.documents(s, d).filter(col("doc_id") < 300), t = 0.9)
        .orderBy(col("doc_a"), col("doc_b"))),

    // Hashing-trick bag-of-words: sparse (doc, bucket, count) features,
    // vocabulary-free (the 100 TB featurization — no vocab table).
    "text_hashing_features" -> ((s, d) =>
      TextAnalysis.hashingFeatures(Tables.documents(s, d), 64)
        .orderBy(col("doc_id"), col("bucket"))),

    // Linear-classifier inference over the hashing feature space
    // (fastText-style quality scorer): integer-milli weights, exact
    // integer sum, one final divide. The weight frame here is
    // deterministically generated (Knuth hash of the bucket id mapped
    // to [-1.000, 1.000]) — a trained model swaps the frame.
    "text_linear_score" -> ((s, d) => {
      val weights = s.range(64).select(col("id").as("bucket"),
        ((col("id") * lit(2654435761L)) % lit(4294967296L) % lit(2001L)
          - lit(1000L)).as("w_int"))
      TextAnalysis.linearScore(Tables.documents(s, d), weights, 64)
        .orderBy(col("doc_id"))
    }),

    // Mean-pooled class centroids over the embedding corpus: one row
    // per (label, dim) — class prototypes / supervised IVF seeds.
    "emb_label_centroids" -> ((s, d) =>
      Similarity.labelCentroids(Tables.embeddings(s, d))
        .orderBy(col("label"), col("dim"))),

    // SimHash near-dup candidates (Hamming <= 7 via pigeonhole bands).
    "dedup_simhash" -> ((s, d) =>
      Dedup.simHashPairs(Tables.documents(s, d))
        .orderBy(col("doc_a"), col("doc_b"))),

    // Embedding-space near-dup pairs, exact cosine threshold — GROUND
    // TRUTH ANCHOR (the `_oracle` suffix marks a deliberately quadratic
    // plan kept only to pin the DuckDB oracle and measure the LSH
    // twin's recall; it is excluded from the no-quadratic-join plan
    // sweep in PlanShapeSpec). The production shape is
    // `embedding_neardup_lsh` below. At this data's demo threshold
    // (cos >= 0.4; planted pair sims top out ~0.51) NO sublinear method
    // reaches recall 1.0 — hyperplane collision prob per plane is
    // 1-theta/pi ~ 0.63, nearly the random-pair 0.5, so the exact path
    // stays the oracle anchor; the LSH twin's regime (cos >= 0.9, where
    // production near-dup thresholds live) is recall-gated in
    // SimilaritySpec.
    // ANCHOR CAP (vec_id < 500, both engines): the anchor's job is to
    // pin the oracle at verify scale (sf0.01 = exactly 500 vectors, so
    // the cap is a no-op there); at bench scale it bounds the
    // deliberately-quadratic plan to the same 500-vector anchor set
    // instead of growing O(sf^2) — the bench should price the
    // registered scale paths (_lsh), not the ground-truth generator.
    "embedding_neardup_oracle" -> ((s, d) =>
      Similarity.nearDupPairs(
          Tables.embeddings(s, d).filter(col("vec_id") < anchorCap),
          cosineT)
        .orderBy(col("vec_a"), col("vec_b"))),

    // LSH-bucketed embedding near-dup — the registered scale path
    // (banded equi-join candidates, exact re-verification; recall < 1
    // at this threshold by the banding curve -> rows-only; precision
    // is exactly 1 by construction, pinned in SimilaritySpec).
    // The candidate stage (signatures + 8-table bucket self-join) is
    // persisted ONCE per corpus (ensure-style, fingerprint-guarded) and
    // shared with dedup_components_lsh below — each query is then a
    // candidate scan + exact verify, the shape a production pipeline
    // uses over a corpus snapshot.
    "embedding_neardup_lsh" -> ((s, d) =>
      Similarity.verifyCandidates(
          Similarity.ensureLshCandidates(Tables.embeddings(s, d),
            lshCandPath(d)),
          Tables.embeddings(s, d), cosineT)
        .orderBy(col("vec_a"), col("vec_b"))),

    // Duplicate CLUSTERS: connected components over the near-dup pair
    // graph (transitive closure the greedy pair-drop misses), labeled
    // by each component's min vec_id. GROUND TRUTH ANCHOR: pair input
    // is the exact quadratic generator (same reasoning as
    // embedding_neardup_oracle); the registered scale shape is
    // dedup_components_lsh below.
    // Same anchor cap as embedding_neardup_oracle (no-op at sf0.01).
    // pointerDoubling OFF (round-15 optimization): the near-dup pair
    // graph is a union of small cliques, where the jump join saves no
    // rounds and costs one join per round (measured at sf0.1: 5
    // rounds either way, ~25% cheaper per round without).
    // The converged labels are the same unique fixpoint either way —
    // and since round 16, OFF means "start linear, switch to doubling
    // adaptively" (Components.AdaptiveDoublingAfter), so a deep
    // chain-like component can never run the round budget out.
    "dedup_components_oracle" -> ((s, d) =>
      Components.connectedComponents(
          Similarity.nearDupPairs(
              Tables.embeddings(s, d).filter(col("vec_id") < anchorCap),
              cosineT)
            .select(col("vec_a").as("src"), col("vec_b").as("dst")),
          pointerDoubling = false)
        .select(col("id").as("vec_id"), col("comp"))
        .orderBy(col("vec_id"))),

    // Components over LSH candidate pairs — the 100 TB shape (banded
    // equi-join pair generation + shuffle-bounded pointer doubling).
    // Recall < 1 at the demo threshold -> rows-only; the components
    // algorithm itself is oracle-proven via dedup_components_oracle.
    // pointerDoubling OFF — same clique-shaped-graph measurement as
    // dedup_components_oracle above; same round-16 adaptive-switch
    // safety (this is the 100TB-shape entry, where an unexpectedly
    // deep component must converge, not throw).
    "dedup_components_lsh" -> ((s, d) =>
      Components.connectedComponents(
          Similarity.verifyCandidates(
              Similarity.ensureLshCandidates(Tables.embeddings(s, d),
                lshCandPath(d)),
              Tables.embeddings(s, d), cosineT)
            .select(col("vec_a").as("src"), col("vec_b").as("dst")),
          pointerDoubling = false)
        .select(col("id").as("vec_id"), col("comp"))
        .orderBy(col("vec_id"))),

    // Brute-force cosine top-10 for 8 query vectors.
    "sim_cosine_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 8), emb, 10)
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Brute-force top-k over the PERSISTED int8-quantized corpus — the
    // scan-bytes-reduction path: the corpus is quantized and written
    // ONCE (ensure-style, like the IVF/signature stores), and the query
    // scans tinyint codes (4x fewer bytes at 100 TB, where ANN cost is
    // reading embeddings), dequantizing on the fly inside codegen.
    // HASH-GATED since round 13: the oracle replays the
    // quantize->dequantize round trip from the raw embeddings
    // (simTopKInt8OracleSql — exact integer arithmetic + IEEE divides
    // reproduce bit-identical reconstructed floats); recall vs the
    // float path additionally pinned at 1.0 in SimilaritySpec.
    "sim_cosine_topk_int8" -> ((s, d) => {
      val path = sys.props("java.io.tmpdir") + "/graft_int8_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      val q = Similarity.dequantize(
        Similarity.ensureQuantized(Tables.embeddings(s, d), path))
      Similarity.bruteForceTopK(q.filter(col("vec_id") < 8), q, 10)
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF-partitioned top-k (scale path; probabilistic recall ->
    // rows-only). One Lloyd refinement sweep over the strided seed
    // centroids — tighter cells than raw seeds at the cost of one
    // narrow assignment pass (recall vs seeds-only gated in
    // VectorIndexSpec, numbers in COVERAGE.md).
    "sim_cosine_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 8), emb, 10,
        refineIters = 1)
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // SemDeDup-style semantic dedup (cluster -> within-cell exact
    // pairwise -> drop higher id; see Similarity.semanticDedup): the
    // pair space is cell-local (|corpus|²/numCells with balanced
    // cells), never all-pairs. Cross-cell near-dups are missed by
    // construction (the paper's recall trade) -> rows-only;
    // within-cell completeness + no-false-drop vs the exact pair set
    // are pinned in SimilaritySpec.
    "dedup_semantic_cells" -> ((s, d) =>
      Similarity.semanticDedup(Tables.embeddings(s, d), cosineT,
          numCells = 16)
        .orderBy(col("vec_id"))),

    // ANN over the PERSISTED IVF index — the flagship 100 TB layout:
    // centroid table + cell-PARTITIONED corpus built ONCE (lazily on
    // first call, `ensureIvf` skips the build when the index is on
    // disk); each probe compiles to `cell IN (...)` partition pruning,
    // so the scan touches only nProbe/numCells of the data. Recall vs
    // brute force gated >= 0.9 in VectorIndexSpec; probabilistic ->
    // rows-only.
    "sim_cosine_ivf_indexed" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val path = VectorIndex.ensureIvf(emb, VectorIndex.defaultPath(d))
      VectorIndex.queryIvf(s, path, emb.filter(col("vec_id") < 8), 10)
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // The SAME persisted IVF layout at FULL probe (nProbe = numCells):
    // every cell is probed, so the candidate set is the whole corpus
    // and the result is exact BY CONSTRUCTION — which makes the index
    // LAYOUT itself (partitioned cells + deltas + centroid routing)
    // oracle-gated against sim_cosine_topk's exact-SQL oracle, not
    // just spec-gated (round-10 verdict #2; the pattern
    // retrieval_hybrid_indexed_batch set for the BM25 layout). The
    // pruned nProbe=4 shape above stays the registered scale path.
    "sim_cosine_ivf_full" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val path = VectorIndex.ensureIvf(emb, VectorIndex.defaultPath(d))
      // probe EVERYTHING: CentroidTopCells clamps nProbe to the
      // centroid count, so MaxValue means "all cells" against any
      // layout with zero extra jobs — hardcoding the numCells default
      // would silently break the exact-by-construction claim if the
      // default moved, and counting the centroids table added a
      // redundant read per pass (two review rounds)
      VectorIndex.queryIvf(s, path, emb.filter(col("vec_id") < 8), 10,
          nProbe = Int.MaxValue)
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF-PQ (IVFADC): both prunings composed — partition-pruned probe
    // of nProbe cells AND a compressed residual-code scan inside them
    // (float embeddings only touched for the exact rerank of the ADC
    // shortlist). Approximate -> rows-only; recall and sim-exactness
    // gated in IvfPqSpec.
    "sim_cosine_ivfpq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val path = VectorIndex.ensureIvfPq(emb, VectorIndex.defaultPath(d))
      VectorIndex.queryIvfPq(s, path, emb.filter(col("vec_id") < 8), 10)
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Incremental dedup against the PERSISTED signature store — the
    // text twin of sim_cosine_ivf_indexed: the corpus (all non-src0
    // docs) is signature-indexed ONCE (ensure skips rebuilds), and the
    // arriving batch (src0) probes it via a broadcast equi-join, exact
    // Jaccard verifying candidates only. Banding recall < 1 ->
    // rows-only; detection + append + plan shape pinned in
    // SignatureStoreSpec.
    "dedup_incoming_store" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("source") =!= "src0")
      val path = graft.ops.SignatureStore.ensure(corpus,
        sys.props("java.io.tmpdir") + "/graft_sigs_" +
          d.replaceAll("[^A-Za-z0-9.]", "_"))
      graft.ops.SignatureStore.dedupeIncoming(
          docs.filter(col("source") === "src0"), corpus, path)
        .orderBy(col("doc_id"), col("dup_of"))
    }),

    // LSH-bucketed top-k (scale path; probabilistic recall -> rows-only).
    "sim_cosine_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopK(emb.filter(col("vec_id") < 8), emb, 10)
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // The SAME LSH machinery at an EXHAUSTIVE configuration: with one
    // plane per table the signature space is {0, 1}, and the
    // hamming-1 multiprobe (own bucket + each single-bit flip) covers
    // BOTH buckets — so every (query, corpus) pair collides in every
    // table and the result is exact by construction. This oracle-gates
    // the full banded pipeline (native signatures, bucket equi-join,
    // multiprobe expansion, cross-table dedup, rank window) against
    // sim_cosine_topk's exact-SQL oracle (round-10 verdict #2); the
    // selective tables=4/planes=8 shape above stays the scale path.
    "sim_cosine_lsh_exhaustive" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopK(emb.filter(col("vec_id") < 8), emb, 10,
          tables = 2, planesPerTable = 1)
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // BM25 lexical retrieval (the keyword half of a RAG stack): one
    // filtered-explode pass, df/avgdl broadcasts, distributed top-k.
    "retrieval_bm25" -> ((s, d) =>
      Bm25.scoreTopK(Tables.documents(s, d), Bm25QueryTerms, 20)
        .orderBy(col("rank"))),

    // Exact-phrase retrieval (the Lucene PhraseQuery shape): only
    // docs containing the terms CONSECUTIVELY are candidates, ranked
    // by BM25 with corpus-wide statistics — the constraint gates
    // candidacy, it never re-weighs evidence. The gate is one
    // codegen'd instr over the sentinel-padded normalized token
    // stream riding the lengths pass (text reads stay at two).
    "retrieval_bm25_phrase" -> ((s, d) =>
      Bm25.scoreTopKPhrase(Tables.documents(s, d), Bm25PhraseTerms, 10)
        .orderBy(col("rank"))),

    // Batch retrieval: three queries share ONE corpus pass (the
    // production shape — a retrieval service scores query batches).
    // Per-query results equal single-query calls exactly (Bm25Spec).
    "retrieval_bm25_batch" -> ((s, d) => {
      import s.implicits._
      val qs = Seq(
        ("kj", Seq("key", "join", "scan")),
        ("sp", Seq("spark", "part")),
        ("wm", Seq("window", "merge"))).toDF("query_id", "terms")
      Bm25.scoreTopKBatch(Tables.documents(s, d), qs, 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Same query through the persisted postings layout: term-bucket
    // partition pruning, corpus text never touched at query time.
    // Scores must be bit-identical to the direct path (same stats),
    // so BOTH pair against the same oracle.
    "retrieval_bm25_indexed" -> ((s, d) => {
      val path = Bm25.defaultPath(d)
      Bm25.ensurePostings(Tables.documents(s, d), path)
      Bm25.scoreTopKIndexed(s, path, Bm25QueryTerms, 20)
        .orderBy(col("rank"))
    }),

    // MAX-SCORE pruned top-k (Turtle & Flood) through the same
    // postings: one rare term ('dup', ~5% df) generates the candidate
    // set; the two stop-word-df terms only finish scoring those
    // candidates (semi join) instead of expanding ~80% of the corpus
    // into scored pairs; the non-essential upper-bound certificate
    // proves the pruned answer exact (else the path falls back), so
    // it pairs against the same exact-BM25 oracle as the full paths.
    "retrieval_bm25_pruned" -> ((s, d) => {
      val path = Bm25.defaultPath(d)
      Bm25.ensurePostings(Tables.documents(s, d), path)
      Bm25.scoreTopKIndexedMaxScore(s, path, Bm25PrunedTerms, 10)
        .orderBy(col("rank"))
    }),

    // The SAME batch through the persisted postings: ONE bucket-pruned
    // probe serves all three queries (union of term buckets), scores
    // bit-identical to the direct batch — BOTH pair against the same
    // oracle, the index-correctness gate batched.
    "retrieval_bm25_indexed_batch" -> ((s, d) => {
      import s.implicits._
      val path = Bm25.defaultPath(d)
      Bm25.ensurePostings(Tables.documents(s, d), path)
      val qs = Seq(
        ("kj", Seq("key", "join", "scan")),
        ("sp", Seq("spark", "part")),
        ("wm", Seq("window", "merge"))).toDF("query_id", "terms")
      Bm25.scoreTopKIndexedBatch(s, path, qs, 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // The SAME indexed batch through the RESULT CACHE (ClickHouse
    // query-cache analog; round-11 verdict #4's suggested follow-up):
    // per-termset top-k results memoized under (canonical termset, k,
    // index stamp) — hits skip scoring entirely, misses score through
    // the standard path and append. Values are BIT-IDENTICAL to the
    // uncached path on every input (Bm25ResultCacheSpec differential;
    // key-embedded stamp invalidation), so this row pairs against the
    // SAME SQL oracle as retrieval_bm25_indexed_batch — the cache can
    // never pass the gate by replaying stale results.
    "retrieval_bm25_cached_batch" -> ((s, d) => {
      import s.implicits._
      val path = Bm25.defaultPath(d)
      Bm25.ensurePostings(Tables.documents(s, d), path)
      val qs = Seq(
        ("kj", Seq("key", "join", "scan")),
        ("sp", Seq("spark", "part")),
        ("wm", Seq("window", "merge"))).toDF("query_id", "terms")
      graft.ops.Bm25ResultCache.scoreTopKCachedBatch(s, path,
          bm25MemoPath(d), qs, 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Batched hybrid retrieval: per-query BM25 top-20 + per-query
    // dense cosine top-20 fused by reciprocal-rank per (query_id,
    // doc_id) — the retrieval-service shape end-to-end. Three hybrid
    // queries share one corpus tokenize pass (lex) and one brute-force
    // scan (dense); fusion shuffles on query_id only.
    "retrieval_hybrid_rrf_batch" -> ((s, d) => {
      import s.implicits._
      val qs = Seq(
        ("kj", Seq("key", "join", "scan")),
        ("sp", Seq("spark", "part")),
        ("wm", Seq("window", "merge"))).toDF("query_id", "terms")
      val emb = Tables.embeddings(s, d)
      val qid = when(col("query_id") === 0L, "kj")
        .when(col("query_id") === 1L, "sp")
        .otherwise("wm")
      // independent halves on two threads (round-16, guide §2.6)
      val (lex, dense) = graft.scale.Staging.inParallel(
        Bm25.scoreTopKBatch(Tables.documents(s, d), qs, 20)
          .select(col("query_id"), col("doc_id"), col("rank")),
        Similarity.bruteForceTopK(
            emb.filter(col("vec_id").isin(0L, 1L, 2L)), emb, 20)
          .select(qid.as("query_id"), col("neighbor_id").as("doc_id"),
            col("rank")))
      graft.ops.Rrf.fuseBatch(Seq(lex, dense), 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // The SAME hybrid batch through BOTH persisted indexes — the
    // serving path: ONE bucket-pruned postings probe (lexical) + ONE
    // probe of the cell-partitioned IVF layout (dense; full probe,
    // nProbe = numCells, so the index answer is EXACT and the query
    // pairs against the same SQL oracle as the direct batch — the
    // strongest whole-stack index-correctness gate). Partial probes
    // are the rows-only sim_cosine_ivf* family; probe ids are the
    // real vec_ids so self-exclusion matches the oracle.
    "retrieval_hybrid_indexed_batch" -> ((s, d) => {
      val bmPath = Bm25.defaultPath(d)
      val emb = Tables.embeddings(s, d)
      val ivfPath = graft.ops.VectorIndex.defaultPath(d)
      // the two ensure checks, then the two halves' construction, are
      // independent — two threads each (round-16, guide §2.6; same
      // move as RetrievalPipeline.hybridTopKBatch)
      graft.scale.Staging.inParallel(
        Bm25.ensurePostings(Tables.documents(s, d), bmPath),
        graft.ops.VectorIndex.ensureIvf(emb, ivfPath))
      val qs = hybridBatchQs(s)
      val qid = when(col("qvec") === 0L, "kj")
        .when(col("qvec") === 1L, "sp")
        .otherwise("wm")
      val (lex, dense) = graft.scale.Staging.inParallel(
        Bm25.scoreTopKIndexedBatch(s, bmPath, qs, 20)
          .select(col("query_id"), col("doc_id"), col("rank")),
        graft.ops.VectorIndex.queryIvf(s, ivfPath,
            emb.filter(col("vec_id").isin(0L, 1L, 2L)), 20, nProbe = 16)
          .select(col("query_id").as("qvec"),
            col("neighbor_id").as("doc_id"), col("rank"))
          .select(qid.as("query_id"), col("doc_id"), col("rank")))
      graft.ops.Rrf.fuseBatch(Seq(lex, dense), 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // The retrieval SERVICE shape at its contract bound: the hybrid
    // batch driven at the MaxBatchQueries cap (1024 queries at sf0.1;
    // every corpus embedding below the cap elsewhere) entirely from
    // the persisted layouts — still ONE bucket-pruned postings probe
    // and ONE cell-pruned IVF probe for the whole batch, so the scan
    // count is INDEPENDENT of the batch size; only the probe unions
    // and the per-query windows grow. Serving-stack correctness is
    // oracle-gated by retrieval_hybrid_indexed_batch; this entry
    // measures the shape at the cap (rows-only, deterministic).
    "retrieval_service_cap" -> ((s, d) =>
      graft.pipeline.RetrievalPipeline
        .hybridTopKBatch(s, Bm25.defaultPath(d),
          VectorIndex.defaultPath(d), serviceCapBatch(s, d), 10)
        .orderBy(col("query_id"), col("rank"))),

    // The cap batch through the lexical RESULT CACHE — the serving
    // win the 398-termsets-for-1024-requests workload exists for: the
    // first call pays the miss path (== retrieval_service_cap's
    // lexical cost), every repeat batch serves its termsets from the
    // memo and pays only the dense probe + fusion. Output equals the
    // uncached cap EXACTLY (RetrievalPipelineSpec differential; the
    // cache's own spec pins stamp invalidation), so this row measures
    // the cache's benefit without weakening any gate. Rows-only (the
    // cap workload has no SQL oracle; its correctness rides the
    // differential + the hash-gated cached/uncached 3-query batches).
    "retrieval_service_cap_cached" -> ((s, d) =>
      graft.pipeline.RetrievalPipeline
        .hybridTopKBatchCached(s, Bm25.defaultPath(d),
          VectorIndex.defaultPath(d), bm25MemoPath(d),
          serviceCapBatch(s, d), 10)
        .orderBy(col("query_id"), col("rank"))),

    // Hybrid retrieval: BM25 top-20 and dense cosine top-20 (query =
    // doc 0's embedding) merged by reciprocal-rank fusion — the
    // standard score-free way to combine incomparable retrievers.
    // Rank inputs are exact integers and each RRF contribution is one
    // IEEE division, so the fused scores pair bit-for-bit against the
    // SQL oracle.
    "retrieval_hybrid_rrf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // independent halves on two threads (round-16, guide §2.6)
      val (lex, dense) = graft.scale.Staging.inParallel(
        Bm25.scoreTopK(Tables.documents(s, d), Bm25QueryTerms, 20)
          .select(col("doc_id"), col("rank")),
        Similarity.bruteForceTopK(
            emb.filter(col("vec_id") === 0), emb, 20)
          .select(col("neighbor_id").as("doc_id"), col("rank")))
      graft.ops.Rrf.fuse(Seq(lex, dense), 10)
        .orderBy(col("rank"))
    }),

    // Product-quantization top-k (the compressed-scan rung: corpus
    // scored through m-sub-space codebook codes without touching a
    // float embedding, then the ADC shortlist re-ranked exactly —
    // shortlist-then-verify, same discipline as LSH/IVF). Approximate
    // (recall ~0.95+ gated in PqSpec) -> rows-only.
    "sim_cosine_pq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Pq.pqTopK(emb.filter(col("vec_id") < 8), emb, 10)
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // The curation pipeline end-to-end: quality gate -> language gate
    // -> near-dup removal -> surviving corpus with stats. This is the
    // composed "prepare training data" flagship; each stage is the
    // oracle-proven operator above, chained as one declarative plan
    // (Catalyst fuses the narrow gates into the scan).
    "pipeline_corpus_curation" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val quality = TextAnalysis.qualityMetrics(docs)
        .filter(col("n_tokens") >= 20 && col("stopword_ratio") <= 0.5)
      val (_, predicted) = TextAnalysis.langId(col("text"))
      // Stage the gated frame ONCE (same share-the-scan move as the
      // pretraining capstone): the dedup pass branches its input into
      // signature, verify, and anti-join legs, and without the stage
      // each leg re-runs the quality + langId projections (regex
      // tokenization — measured 2.36 -> 2.0 s median at sf0.1; the
      // remaining floor is the LSH dedup pass itself).
      val inLang = graft.scale.Staging.materialize(
        quality.withColumn("predicted", predicted)
          .select(col("doc_id"), col("text"), col("predicted"),
            col("n_tokens"), col("stopword_ratio")),
        "curation-quality")
      val deduped = Dedup.dropNearDuplicates(
        inLang.select(col("doc_id"), col("text")), 3, jaccardT)
      inLang.join(deduped.select("doc_id"), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("predicted"),
          col("n_tokens"), col("stopword_ratio"))
        .orderBy(col("doc_id"))
    }),

    // Token counting (whitespace model).
    "text_token_count" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .orderBy(col("doc_id"))),

    // Compression-ratio quality signal (the Gopher/CCNet-family
    // curation gate): DEFLATE bytes over raw bytes — repetitive or
    // templated text compresses far below natural prose. Rows-only:
    // the value is deterministic within a zlib build but not pinned
    // across versions, so CompressSpec asserts order/range properties
    // (repetitive << natural <= ~random) instead of exact bytes.
    "text_compression_ratio" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          round(graft.functions.CompressFunctions
            .deflate_ratio(col("text")), 4).as("deflate_ratio"))
        .orderBy(col("doc_id"))),

    // Subword (greedy BPE) token counting — the unit a training
    // pipeline actually budgets in (round-10 verdict, Missing #3).
    // Merges train ONCE per corpus on the bounded word histogram
    // (memoized broadcast); counting is a native codegen'd expression
    // over one narrow scan. HASH-GATED since round 12: the trained
    // table is exported into a DuckDB recursive-CTE replay of the
    // greedy encode (BpeOracle; dynamicOracles below), a third
    // independent implementation beside BpeSpec's reference encoder.
    "text_token_count_bpe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bc = graft.ops.Bpe.ensureMerges(s, docs, key = d)
      docs.select(col("doc_id"),
          graft.ops.Bpe.bpe_token_count(col("text"), bc)
            .as("n_tokens_bpe"))
        .orderBy(col("doc_id"))
    }),

    // Subword VOCABULARY usage: top-20 BPE tokens by corpus frequency
    // — the tokenizer-QA view (which subwords dominate; a degenerate
    // merge table shows up as char-level singletons here). bpe_tokens
    // EMITS the subwords (the count expression's sibling); exact
    // explode + map-side-combined count, same plan family as
    // vocab_topk. HASH-GATED since round 12 via the BpeOracle replay
    // (tokensCte); BpeSpec additionally pins emission == count and
    // lossless reconstruction.
    "vocab_topk_bpe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bc = graft.ops.Bpe.ensureMerges(s, docs, key = d)
      docs.select(explode(
          graft.ops.Bpe.bpe_tokens(col("text"), bc)).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(20)
    }),

    // Sequence packing under a BPE-token budget: the same
    // prefix-sum-per-shard packing as curation_seq_packing, with the
    // budget measured in subword tokens (what the training window
    // actually holds) instead of whitespace words. Word tokens stay
    // the default path; BPE opts in through packTokenCounts'
    // precomputed n_tok contract. HASH-GATED since round 12: the
    // seq_packing oracle shape over the BpeOracle-replayed counts.
    "curation_pack_bpe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bc = graft.ops.Bpe.ensureMerges(s, docs, key = d)
      graft.ops.Curation.packTokenCounts(
          docs.select(col("lang"), col("doc_id"),
            graft.ops.Bpe.bpe_token_count(col("text"), bc).as("n_tok")),
          budget = 256)
        .select(col("lang"), col("doc_id"), col("n_tok"),
          col("tok_start"), col("tok_end"),
          col("first_chunk"), col("last_chunk"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // Quality scoring: length/punct/digit/stopword ratios.
    "text_quality" -> ((s, d) =>
      TextAnalysis.qualityMetrics(Tables.documents(s, d))
        .select(col("doc_id"), col("n_chars_c"), col("n_tokens"),
          col("avg_token_len"), col("punct_ratio"), col("digit_ratio"),
          col("stopword_ratio"))
        .orderBy(col("doc_id"))),

    // Language-ID heuristic: stopword-profile scores + argmax.
    "text_lang_id" -> ((s, d) => {
      val (scores, predicted) = TextAnalysis.langId(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id") +: scores :+ predicted.as("predicted"): _*)
        .orderBy(col("doc_id"))
    }),

    // Text skip index (ClickHouse ngrambf_v1 analog): substring
    // search served through the gram-bloom sidecar — files whose
    // 4-gram bloom rejects any needle gram are never opened; the
    // survivors re-apply the exact contains(). Needle 'dup dup'
    // exists at every SF but only in a handful of docs (the phrase's
    // cross-word grams like 'up d' are rare even though 'dup' alone
    // is not), so the probe demonstrates real file skipping while
    // oracle-pairing exactly against the unindexed LIKE scan.
    "text_ngram_skip_search" -> ((s, d) => {
      val path = graft.scale.TextSkipIndex.defaultPath(d)
      graft.scale.TextSkipIndex.ensureDocuments(Tables.documents(s, d),
        path)
      graft.scale.TextSkipIndex.searchSubstring(s, path, "dup dup")
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Text skip index (tokenbf_v1 analog): exact-token search through
    // the token bloom of the same sidecar. 'dup' is the corpus's one
    // genuinely rare token (~5% of docs), the regime a token skip
    // index exists for.
    "text_token_skip_search" -> ((s, d) => {
      val path = graft.scale.TextSkipIndex.defaultPath(d)
      graft.scale.TextSkipIndex.ensureDocuments(Tables.documents(s, d),
        path)
      graft.scale.TextSkipIndex.searchToken(s, path, "dup")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Document fingerprint (canonical-form md5).
    "doc_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))),

    // PII scrub: the corpus text is synthetic word-salad, so each doc
    // gets a deterministic email + phone appended (built from doc_id)
    // before masking — proving the scrub actually rewrites. Output is
    // md5 of the scrubbed text (compact, engine-portable).
    "text_pii_scrub" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(TextAnalysis.scrubPii(concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example or +1-202-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))))
            .as("scrubbed_md5"))
        .orderBy(col("doc_id"))),

    // Multimodal: binary payload + typed metadata (oracle-checkable
    // byte accounting; decode is the stubbed stage below).
    "multimodal_bytes" -> ((s, d) =>
      Multimodal.mediaTable(Tables.documents(s, d))
        .select(col("doc_id"),
          length(col("media")).cast("long").as("n_bytes"),
          col("format"))
        .orderBy(col("doc_id"))),

    // Multimodal decode through the REAL format-dispatching decoder:
    // PNG images (even doc_ids) + WAV audio (odd), one decode stage,
    // per-record codec routing — no registered query runs a stub
    // decoder anymore (round-11 verdict #3). The unified output is
    // exact-integer on both modalities: `units` = pixel count (png) /
    // frame count (wav); `checksum` = total channel sum (png — each
    // mean is S/32 exactly, so mean x n recovers the integer sum) /
    // centered-sample energy sum (wav — rms = sqrt(S/2^14/64), so
    // rms^2 x 2^14 x 64 recovers integer S to ~1e-10, exact after
    // round). The oracle recomputes both from the doc_id arithmetic.
    "multimodal_features" -> ((s, d) =>
      Multimodal.extractFeatures(s,
          Multimodal.synthMixedTable(s, Tables.documents(s, d)),
          Multimodal.MixedRealDecoder)
        .toDF()
        .select(col("doc_id"), col("format"),
          when(col("format") === "png",
            (element_at(col("features"), 1) *
              element_at(col("features"), 2)).cast("long"))
            .otherwise(element_at(col("features"), 3).cast("long"))
            .as("units"),
          when(col("format") === "png",
            ((element_at(col("features"), 3) +
              element_at(col("features"), 4) +
              element_at(col("features"), 5)) *
              element_at(col("features"), 1) *
              element_at(col("features"), 2)).cast("long"))
            .otherwise(round(
              pow(element_at(col("features"), 4), 2) * 16384 * 64)
              .cast("long"))
            .as("checksum"))
        .orderBy(col("doc_id"))),

    // The REAL codec path, oracle-paired end to end (round-10 verdict
    // #4): per-doc 8-bit PCM synthesized from doc_id arithmetic
    // (sample(i) = (doc_id*31 + i*17) mod 256), serialized as a full
    // RIFF/WAVE container (incl. a LIST chunk the parser must skip),
    // then decoded by WavDecoder — chunk walk, fmt parse, unsigned
    // 8-bit sample decode, RMS. The DuckDB oracle computes the same
    // statistics from the ARITHMETIC, no bytes ever built — a hash
    // match proves the synthesize->parse->decode pipeline is
    // value-preserving through the real decoder. RMS is exact in both
    // engines by construction: every term is an integer over 2^14,
    // partial sums stay exactly representable, so summation order
    // cannot diverge.
    "multimodal_wav_stats" -> ((s, d) =>
      Multimodal.extractFeatures(s,
          Multimodal.synthWavTable(s, Tables.documents(s, d)),
          Multimodal.WavDecoder)
        .toDF()
        .select(col("doc_id"),
          element_at(col("features"), 1).cast("long").as("sample_rate"),
          element_at(col("features"), 2).cast("long").as("channels"),
          element_at(col("features"), 3).cast("long").as("frames"),
          round(element_at(col("features"), 4), 4).as("rms"))
        .orderBy(col("doc_id"))),

    // The IMAGE sibling of multimodal_wav_stats: per-doc 24-bit BMPs
    // synthesized from doc_id arithmetic (channel c at (x,y) =
    // (doc_id*K_c + x*3 + y*5) mod 256, K = 7/11/13), decoded by the
    // real BmpDecoder (header parse, bottom-up BGR row walk, padding),
    // hash-gated against a DuckDB oracle that computes the channel
    // statistics from the arithmetic alone. The compared values are
    // the integer channel SUMS (mean x n is an exact integer-valued
    // double: sum/32 times 32) — a rounded mean of the form k/32
    // terminates at the 5th decimal, where round(.,4) hits the exact
    // half case the engines disagree on (the window_gap_fill lesson).
    "multimodal_bmp_stats" -> ((s, d) =>
      Multimodal.extractFeatures(s,
          Multimodal.synthBmpTable(s, Tables.documents(s, d)),
          Multimodal.BmpDecoder)
        .toDF()
        .select(col("doc_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          (element_at(col("features"), 3) *
            element_at(col("features"), 1) *
            element_at(col("features"), 2)).cast("long").as("sum_r"),
          (element_at(col("features"), 4) *
            element_at(col("features"), 1) *
            element_at(col("features"), 2)).cast("long").as("sum_g"),
          (element_at(col("features"), 5) *
            element_at(col("features"), 1) *
            element_at(col("features"), 2)).cast("long").as("sum_b"))
        .orderBy(col("doc_id"))),

    // The full REAL-media chain, oracle-gated: synthesize 24-bit BMP
    // -> nearest-neighbor resize 8x4 -> 4x2 (parse + resample +
    // re-serialize, a second real container) -> decode the RESIZED
    // bytes -> channel sums. The oracle computes the same sums from
    // the pixel arithmetic at the sampled source coordinates
    // (x*2, y*2) — a hash match proves decode, transform, re-encode,
    // and decode-again all value-preserving. Integer sums, no
    // rounding (the bmp_stats discipline).
    "multimodal_bmp_resize" -> ((s, d) =>
      Multimodal.extractFeatures(s,
          Multimodal.resizeBmp(s,
              Multimodal.synthBmpTable(s, Tables.documents(s, d)), 4, 2)
            .toDF()
            .select(col("doc_id"), col("payload").as("media"),
              col("format")),
          Multimodal.BmpDecoder)
        .toDF()
        .select(col("doc_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          (element_at(col("features"), 3) *
            element_at(col("features"), 1) *
            element_at(col("features"), 2)).cast("long").as("sum_r"),
          (element_at(col("features"), 4) *
            element_at(col("features"), 1) *
            element_at(col("features"), 2)).cast("long").as("sum_g"),
          (element_at(col("features"), 5) *
            element_at(col("features"), 1) *
            element_at(col("features"), 2)).cast("long").as("sum_b"))
        .orderBy(col("doc_id"))),

    // The COMPRESSED-format twin of multimodal_bmp_stats: per-doc
    // PNGs (channel c at (x,y) = (doc_id*K_c + x*3 + y*5) mod 256,
    // K = 17/19/23 — deliberately distinct from BMP's 7/11/13 so a
    // cross-wired oracle can't pass) through the real ImageIO PNG
    // codec: zlib inflate, filter reversal, color-model conversion.
    // PNG is lossless, so the integer channel sums survive the
    // DEFLATE round trip exactly — same integer-sums discipline as
    // bmp_stats.
    "multimodal_png_stats" -> ((s, d) =>
      Multimodal.extractFeatures(s,
          Multimodal.synthPngTable(s, Tables.documents(s, d)),
          Multimodal.PngDecoder)
        .toDF()
        .select(col("doc_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          (element_at(col("features"), 3) *
            element_at(col("features"), 1) *
            element_at(col("features"), 2)).cast("long").as("sum_r"),
          (element_at(col("features"), 4) *
            element_at(col("features"), 1) *
            element_at(col("features"), 2)).cast("long").as("sum_g"),
          (element_at(col("features"), 5) *
            element_at(col("features"), 1) *
            element_at(col("features"), 2)).cast("long").as("sum_b"))
        .orderBy(col("doc_id"))),

    // The LOSSY modality through the real JPEG codec (round-12
    // verdict #4): synthesize photographic-ish triangle-wave ramps,
    // encode baseline JPEG at pinned quality, decode, emit per-doc
    // dimensions + channel sums. ROWS-ONLY by design: DCT decode
    // output is not bit-portable across decoder builds, so the gate
    // is MultimodalSpec's tolerance differential (means within
    // epsilon of synthesis) + the dHash lossy re-encode pin — never
    // a hash row that would break on a JDK upgrade.
    "multimodal_jpeg_stats" -> ((s, d) =>
      Multimodal.extractFeatures(s,
          Multimodal.synthJpegTable(s, Tables.documents(s, d)),
          Multimodal.JpegDecoder)
        .toDF()
        .select(col("doc_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          (element_at(col("features"), 3) *
            element_at(col("features"), 1) *
            element_at(col("features"), 2)).cast("long").as("sum_r"),
          (element_at(col("features"), 4) *
            element_at(col("features"), 1) *
            element_at(col("features"), 2)).cast("long").as("sum_g"),
          (element_at(col("features"), 5) *
            element_at(col("features"), 1) *
            element_at(col("features"), 2)).cast("long").as("sum_b"))
        .orderBy(col("doc_id"))),

    // The full real-media chain through the LOSSY codec: synthesize
    // JPEG -> decode + nearest-neighbor resample + re-encode (a
    // second DCT quantization) -> decode the resized bytes -> channel
    // sums. ROWS-ONLY like every JPEG row (decoder-build-local
    // output); MultimodalSpec's tolerance differential gates the
    // chain against the synthesis values at the sampled (2i, 2j)
    // coordinates.
    "multimodal_jpeg_resize" -> ((s, d) =>
      Multimodal.extractFeatures(s,
          Multimodal.resizeJpeg(s,
              Multimodal.synthJpegTable(s, Tables.documents(s, d)),
              16, 8)
            .toDF()
            .select(col("doc_id"), col("payload").as("media"),
              col("format")),
          Multimodal.JpegDecoder)
        .toDF()
        .select(col("doc_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          (element_at(col("features"), 3) *
            element_at(col("features"), 1) *
            element_at(col("features"), 2)).cast("long").as("sum_r"),
          (element_at(col("features"), 4) *
            element_at(col("features"), 1) *
            element_at(col("features"), 2)).cast("long").as("sum_g"),
          (element_at(col("features"), 5) *
            element_at(col("features"), 1) *
            element_at(col("features"), 2)).cast("long").as("sum_b"))
        .orderBy(col("doc_id"))),

    // The full real-media chain through the COMPRESSED codec:
    // synthesize PNG -> inflate + resample + re-deflate (a second
    // real PNG container) -> decode the resized bytes -> channel
    // sums; oracle at the sampled source coordinates (2i, 2j) — the
    // multimodal_bmp_resize pairing with DEFLATE on both legs.
    "multimodal_png_resize" -> ((s, d) =>
      Multimodal.extractFeatures(s,
          Multimodal.resizePng(s,
              Multimodal.synthPngTable(s, Tables.documents(s, d)), 4, 2)
            .toDF()
            .select(col("doc_id"), col("payload").as("media"),
              col("format")),
          Multimodal.PngDecoder)
        .toDF()
        .select(col("doc_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          (element_at(col("features"), 3) *
            element_at(col("features"), 1) *
            element_at(col("features"), 2)).cast("long").as("sum_r"),
          (element_at(col("features"), 4) *
            element_at(col("features"), 1) *
            element_at(col("features"), 2)).cast("long").as("sum_g"),
          (element_at(col("features"), 5) *
            element_at(col("features"), 1) *
            element_at(col("features"), 2)).cast("long").as("sum_b"))
        .orderBy(col("doc_id"))),

    // Media QUALITY GATE — the curation story for the binary modality:
    // decode through the real mixed codec stack, keep only payloads
    // whose decoded statistic falls in a per-modality quality band
    // (images: total channel sum in [9000, 15000] — the near-black /
    // near-white rejection a vision pipeline runs before a model;
    // audio: centered-sample energy in [330000, 360000] — clipped or
    // near-silent takes rejected), then join the survivors back to the
    // documents table for their curation metadata. Bands keep 148/250
    // images and 160/250 clips at sf0.01 — both gates genuinely
    // discriminate. At scale: decode narrow, gate pushed before the
    // join, doc_id equi-join.
    "multimodal_quality_gate" -> ((s, d) => {
      val decoded = Multimodal.extractFeatures(s,
          Multimodal.synthMixedTable(s, Tables.documents(s, d)),
          Multimodal.MixedRealDecoder)
        .toDF()
        .select(col("doc_id"), col("format"),
          when(col("format") === "png",
            ((element_at(col("features"), 3) +
              element_at(col("features"), 4) +
              element_at(col("features"), 5)) *
              element_at(col("features"), 1) *
              element_at(col("features"), 2)).cast("long"))
            .otherwise(round(
              pow(element_at(col("features"), 4), 2) * 16384 * 64)
              .cast("long"))
            .as("checksum"))
      decoded
        .filter(
          (col("format") === "png" &&
            col("checksum").between(9000L, 15000L)) ||
          (col("format") === "wav" &&
            col("checksum").between(330000L, 360000L)))
        .join(Tables.documents(s, d).select(col("doc_id"), col("lang")),
          Seq("doc_id"))
        .select(col("doc_id"), col("format"), col("lang"),
          col("checksum"))
        .orderBy(col("doc_id"))
    }),

    // PERCEPTUAL image fingerprints through two real codecs: even
    // docs are 8x4 BMP originals, odd docs 16x8 PNG upscales of their
    // partner's image — the re-crawled/rescaled/re-encoded copies an
    // image pipeline must deduplicate, invisible to any byte-level
    // fingerprint. The dHash bit string is hash-gated against a
    // DuckDB replay of the same grid/gray arithmetic, so decode (both
    // formats), the floor-mapped 9x8 sampling, and the comparison
    // bits are all value-exact end to end.
    "multimodal_phash" -> ((s, d) =>
      Multimodal.perceptualHashes(s,
          Multimodal.synthPhashTable(s, Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("format"), col("phash"))
        .orderBy(col("doc_id"))),

    // Image DEDUP on the perceptual fingerprints: pairs of docs whose
    // decoded images fingerprint identically — every planted
    // (bmp original, png upscale) pair plus the honest perceptual
    // collisions of low-resolution gradients (330 pairs over 500 docs
    // at sf0.01: 250 planted + 80 collisions; both engines compute
    // the pairs from their OWN dHash, so the sets match exactly). One
    // shuffle on the 64-bit-equivalent hash — the exact-dedup plan
    // shape, never all-pairs.
    "dedup_image_phash" -> ((s, d) => {
      val h = Multimodal.perceptualHashes(s,
          Multimodal.synthPhashTable(s, Tables.documents(s, d)))
        .toDF().select(col("doc_id"), col("phash"))
      val a = h.select(col("phash"), col("doc_id").as("doc_a"))
      val b = h.select(col("phash"), col("doc_id").as("doc_b"))
      a.join(b, Seq("phash"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // HAMMING-TOLERANT perceptual near-dup — the production pHash
    // regime (re-crawls arrive EDITED: recompressed, rescaled,
    // slightly retouched, so exact fingerprint equality misses them).
    // The corpus plants a visual edit on every odd doc (its partner's
    // image with one source texel shifted), keeping each planted pair
    // within hamming 2. The plan is the banded-pigeonhole shape, not
    // all-pairs: 4 x 16-bit bands — any two hashes within hamming 3
    // differ in at most 3 bands, so they SHARE at least one band and
    // surface as a candidate (recall 1 by construction, which is what
    // makes the row oracle-pairable); candidates verify with two
    // 32-bit popcounts. One shuffle on (band, value); candidate
    // volume scales with band collisions, never n^2.
    "dedup_image_phash_near" -> ((s, d) =>
      Multimodal.phashNearPairs(
          Multimodal.perceptualHashWords(s,
              Multimodal.synthPhashNearTable(s, Tables.documents(s, d)))
            .toDF())
        .orderBy(col("doc_a"), col("doc_b"))),

    // AUDIO perceptual fingerprints through the real WAV codec: a
    // gain-invariant energy-delta-sign fingerprint (bit f = frame
    // f+1's exact integer energy exceeds frame f's) over synthesized
    // 8-bit PCM. Hash-gated against a DuckDB replay of the synthesis
    // arithmetic — the container walk, sample decode, frame energy
    // sums, and comparison bits are all value-exact end to end.
    "multimodal_audio_fp" -> ((s, d) =>
      Multimodal.audioFingerprints(s,
          Multimodal.synthAudioFpTable(s, Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("format"), col("afp"))
        .orderBy(col("doc_id"))),

    // Audio DEDUP on the perceptual fingerprints — the volume
    // -normalized re-encode regime: odd docs carry their partner's
    // signal at exactly half gain, so every payload byte differs
    // (byte-level dedup is blind) while the energy-delta fingerprint
    // is IDENTICAL by gain invariance. Both engines compute pairs
    // from their OWN fingerprints, so planted pairs and any honest
    // fingerprint collisions match exactly. One shuffle on the
    // 64-bit fingerprint — the exact-dedup plan shape, never
    // all-pairs.
    "dedup_audio_fp" -> ((s, d) => {
      val h = Multimodal.audioFingerprints(s,
          Multimodal.synthAudioFpTable(s, Tables.documents(s, d)))
        .toDF().select(col("doc_id"), col("afp"))
      val a = h.select(col("afp"), col("doc_id").as("doc_a"))
      val b = h.select(col("afp"), col("doc_id").as("doc_b"))
      a.join(b, Seq("afp"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // HAMMING-TOLERANT audio near-dup — the edited-copy regime (a
    // trimmed/silenced intro over a volume change): the corpus
    // silences the first frame of every odd doc's half-gain copy, so
    // only bit 0 of the fingerprint can flip (hamming <= 1 by
    // construction) and EXACT fingerprint equality misses the pair
    // whenever it does. Pigeonhole bands over the 32-bit
    // fingerprint: within hamming 2, at least one of 3 bands is
    // shared — recall 1 by construction, which is what makes the row
    // oracle-pairable. One shuffle on (band, value), never all-pairs.
    "dedup_audio_fp_near" -> ((s, d) =>
      Multimodal.audioFpNearPairs(
          Multimodal.audioFingerprints(s,
              Multimodal.synthAudioNearTable(s, Tables.documents(s, d)))
            .toDF().select(col("doc_id"), col("afp")))
        .orderBy(col("doc_a"), col("doc_b"))),

    // VIDEO clip near-dup on per-frame perceptual fingerprints — the
    // trimmed + rescaled re-upload regime: odd docs carry their
    // partner's clip minus the intro frame, every surviving frame a
    // 2x upscale (whole-payload hash, per-frame bytes, and even the
    // frame COUNT all differ; the frame dHashes are identical). Two
    // clips pair when they share >= 2 frame fingerprints, after a
    // stop-frame cap drops any fingerprint appearing in > 64 clips
    // (title cards and black frames would explode the pair join the
    // way stop-words explode postings — the Bm25 max-score lesson
    // applied to frames). Shuffles: fingerprint distinct + the
    // frame-hash equi-join + the pair count — candidate volume scales
    // with capped per-fingerprint collisions, never clips^2.
    "dedup_video_near" -> ((s, d) =>
      Multimodal.clipNearDupPairs(
          Multimodal.clipFrameHashes(s,
            Multimodal.synthClipTable(s, Tables.documents(s, d))))
        .orderBy(col("doc_a"), col("doc_b"))),

    // Frame sampling: every 2nd 64-byte frame of each payload — the
    // frame index/length accounting is oracle-checkable even though the
    // payload is opaque.
    "multimodal_frames" -> ((s, d) =>
      Multimodal.sampleFrames(s,
          Multimodal.mediaTable(Tables.documents(s, d)), 64, 2)
        .toDF()
        .select(col("doc_id"), col("frame_idx"),
          length(col("frame")).cast("long").as("n_bytes"))
        .orderBy(col("doc_id"), col("frame_idx")))
  )

  private val enStop =
    TextAnalysis.langProfiles.head._2.map(w => s"'$w'").mkString(", ")
  private def stopList(lang: String) =
    TextAnalysis.langProfiles.find(_._1 == lang).get._2
      .map(w => s"'$w'").mkString(", ")

  /** One oracle body for every single-query BM25 path (direct,
    * indexed, max-score-pruned) — scores must be identical across all
    * of them, so they differ only in term list and k. */
  private def bm25OracleSqlFor(terms: Seq[String], k: Int): String =
    bm25OracleBodyFor(terms, k, extraCtes = "", scWhere = "")

  /** The phrase-constrained variant: same corpus-wide statistics
    * (df from the UNRESTRICTED tf frame), with candidacy gated to
    * docs whose sentinel-padded normalized token stream contains the
    * consecutive phrase — the same token-level containment the
    * engine's codegen'd instr gate computes. Shares the BM25 SQL
    * skeleton with [[bm25OracleSqlFor]] so the arithmetic cannot
    * drift between the two (the audioFpCteWith discipline,
    * review-caught). */
  private def bm25PhraseOracleSqlFor(phrase: Seq[String],
      k: Int): String = {
    val needle = " " + phrase.mkString(" ") + " "
    bm25OracleBodyFor(phrase.distinct, k,
      extraCtes =
        s"""ph AS (SELECT doc_id FROM documents
           |  WHERE instr(' ' || array_to_string(list_filter(
           |      string_split_regex(lower(text), '[^a-z]+'), x -> x <> ''),
           |    ' ') || ' ', '$needle') > 0),
           |""".stripMargin,
      scWhere = "  WHERE tf.doc_id IN (SELECT doc_id FROM ph)\n")
  }

  /** ONE BM25 oracle skeleton for the single-query paths (direct,
    * indexed, max-score-pruned, phrase): `extraCtes` injects
    * candidacy CTEs before `tf`, `scWhere` a filter line before the
    * score GROUP BY — both empty for the unconstrained paths. */
  private def bm25OracleBodyFor(terms: Seq[String], k: Int,
      extraCtes: String, scWhere: String): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH w AS (SELECT doc_id, unnest(string_split_regex(lower(text),
      |    '[^a-z]+')) AS term FROM documents),
      |wf AS (SELECT doc_id, term FROM w WHERE term <> ''),
      |dl AS (SELECT doc_id, count(*) AS dl FROM wf GROUP BY 1),
      |st AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM dl),
      |${extraCtes}tf AS (SELECT doc_id, term, count(*) AS tf FROM wf
      |  WHERE term IN ($inList) GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT tf.doc_id,
      |    round(sum(ln(1 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
      |      * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25
      |        + 0.75 * dl.dl / (CAST(st.total_dl AS DOUBLE) / st.n_docs)))),
      |      4) AS score
      |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st
      |$scWhere  GROUP BY tf.doc_id)
      |SELECT doc_id, score,
      |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
      |    AS rank
      |FROM sc ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Exact brute-force cosine top-10 for the 8 query vectors — shared
    * by `sim_cosine_topk` and the exact-by-construction index
    * configurations (`sim_cosine_ivf_full`, `sim_cosine_lsh_exhaustive`)
    * whose whole point is to hash-gate the index layouts against it. */
  private val simTopKOracleSql: String =
    """SELECT query_id, neighbor_id, sim, rank FROM (
      | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |  round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |    CAST(c.embedding AS DOUBLE[])), 4) AS sim,
      |  row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |   round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |     CAST(c.embedding AS DOUBLE[])), 4) DESC, c.vec_id) AS rank
      | FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      | WHERE q.vec_id < 8)
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** [[simTopKOracleSql]] over an INDEPENDENTLY recomputed
    * quantize→dequantize round trip (round-12 verdict #6): symmetric
    * per-vector int8 is exact integer arithmetic plus one IEEE divide,
    * so DuckDB can replay it from the raw embeddings parquet — never
    * from the persisted codes the Spark side reads (the dHash/BPE
    * independent-recomputation pattern). Bit-parity notes: both
    * engines compute q_scale = max|x|/127 and x/q_scale in double
    * (IEEE-identical), both round halves away from zero (Spark
    * HALF_UP == DuckDB round(), probed), and both dequantize as
    * CAST(code * q_scale AS REAL) — so the reconstructed float arrays
    * are bit-identical and the cosine/rank pipeline is the already
    * hash-gated brute-force oracle's. */
  private val simTopKInt8OracleSql: String =
    """WITH sc AS (SELECT vec_id,
      |  list_max(list_transform(embedding,
      |    x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS q_scale
      | FROM embeddings),
      |deq AS (SELECT e.vec_id,
      |  CASE WHEN s.q_scale = 0
      |   THEN list_transform(e.embedding, x -> CAST(0.0 AS REAL))
      |   ELSE list_transform(e.embedding, x ->
      |     CAST(round(CAST(x AS DOUBLE) / s.q_scale) * s.q_scale
      |       AS REAL))
      |  END AS embedding
      | FROM embeddings e JOIN sc s USING (vec_id))
      |SELECT query_id, neighbor_id, sim, rank FROM (
      | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |  round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |    CAST(c.embedding AS DOUBLE[])), 4) AS sim,
      |  row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |   round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |     CAST(c.embedding AS DOUBLE[])), 4) DESC, c.vec_id) AS rank
      | FROM deq q JOIN deq c ON q.vec_id != c.vec_id
      | WHERE q.vec_id < 8)
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  private val bm25OracleSql: String =
    bm25OracleSqlFor(Seq("window", "merge", "spark"), 20)

  /** One oracle body for the hybrid BATCH paths — direct and
    * persisted-index (full dense probe = exact) must fuse to identical
    * bits. */
  private val hybridBatchOracleSql: String =
    """WITH w AS (SELECT doc_id, unnest(string_split_regex(lower(text),
      |    '[^a-z]+')) AS term FROM documents),
      |wf AS (SELECT doc_id, term FROM w WHERE term <> ''),
      |dl AS (SELECT doc_id, count(*) AS dl FROM wf GROUP BY 1),
      |st AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM dl),
      |qt(query_id, term) AS (VALUES
      |  ('kj', 'key'), ('kj', 'join'), ('kj', 'scan'),
      |  ('sp', 'spark'), ('sp', 'part'),
      |  ('wm', 'window'), ('wm', 'merge')),
      |qv(query_id, vec_id) AS (VALUES
      |  ('kj', 0), ('sp', 1), ('wm', 2)),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM wf
      |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT qt.query_id, tf.doc_id,
      |    round(sum(ln(1 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
      |      * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25
      |        + 0.75 * dl.dl / (CAST(st.total_dl AS DOUBLE) / st.n_docs)))),
      |      4) AS score
      |  FROM tf JOIN qt USING (term) JOIN df USING (term)
      |    JOIN dl USING (doc_id) CROSS JOIN st
      |  GROUP BY 1, 2),
      |lex AS (SELECT query_id, doc_id, rank FROM (
      |  SELECT query_id, doc_id, row_number() OVER (
      |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
      |  FROM sc) WHERE rank <= 20),
      |dense AS (SELECT query_id, doc_id, rank FROM (
      |  SELECT qv.query_id, c.vec_id AS doc_id,
      |    row_number() OVER (PARTITION BY qv.query_id ORDER BY
      |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |        CAST(c.embedding AS DOUBLE[])), 4) DESC, c.vec_id) AS rank
      |  FROM qv JOIN embeddings q ON q.vec_id = qv.vec_id
      |    JOIN embeddings c ON q.vec_id != c.vec_id) WHERE rank <= 20),
      |u AS (SELECT query_id, doc_id, 1.0 / (60 + rank) AS w FROM lex
      |  UNION ALL SELECT query_id, doc_id, 1.0 / (60 + rank)
      |  FROM dense),
      |fused AS (SELECT query_id, doc_id, round(sum(w), 6) AS rrf
      |  FROM u GROUP BY 1, 2)
      |SELECT query_id, doc_id, rrf, CAST(rank AS BIGINT) AS rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY rrf DESC, doc_id) AS rank FROM fused)
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** DuckDB replay of the full hybrid serving stack at the contract
    * cap — the dynamic oracle that moves `retrieval_service_cap` from
    * rows-only to hash-gated (round-14 verdict #3). Replays:
    *
    *  - the cap batch generator ([[serviceCapBatch]]): query_id =
    *    printf('q%%04d', vec_id) for vec_id < 1024, terms = three
    *    base-16 digit picks from the SHARED [[serviceCapPool]]
    *    (distinct), query vector = the corpus embedding itself;
    *  - the lexical half: per-query BM25 top-20 with the established
    *    [[bm25OracleBodyFor]] arithmetic (the termset-dedup
    *    canonicalization is a pure optimization, invisible per
    *    query_id);
    *  - the dense half at nProbe=4: per-query probed cells = top-4
    *    centroids by `dot(q, c)/|c|` (affinity DESC, cell ASC — the
    *    `CentroidTopCells` first-index-wins tie rule), centroids READ
    *    FROM THE PERSISTED INDEX (KMeans is iterative float compute,
    *    not SQL-replayable; the layout under test is exactly what the
    *    engine probes), cell ASSIGNMENT read from the cells layout's
    *    hive partitions, exact cosine top-20 within the probed cells,
    *    NO self-exclusion (the engine probes with synthetic disjoint
    *    ids — a query's own vector ranks first);
    *  - RRF fusion (w = 1/(60+rank), round 6) and the final top-10 —
    *    [[hybridBatchOracleSql]]'s tail verbatim.
    *
    * Registered only when the persisted index exists with NO delta
    * batches (the SQL reads the base cells layout; a store with
    * streamed deltas keeps the entry rows-only rather than risking a
    * wrong oracle). The store-read dependence means a stale or
    * corrupt index surfaces as a hash mismatch — same failure
    * surface the engine itself has. */
  /** The persisted index exists with no streamed deltas — the
    * precondition both IVF replays share (their SQL reads the base
    * cells layout only). */
  private def ivfReplayable(ivf: String): Boolean =
    new java.io.File(s"$ivf/centroids/_SUCCESS").exists() &&
      new java.io.File(s"$ivf/cells/_SUCCESS").exists() &&
      !new java.io.File(s"$ivf/cells_delta").exists()

  /** The pruned-probe CTE block both IVF replays share, given a
    * `qs(query_id, embedding)` CTE: per-query probed cells = top-
    * `nProbe` centroid affinities (`dot(q, c)/|c|`, affinity DESC /
    * cell ASC — CentroidTopCells' first-index-wins ties), centroids
    * and cell assignment read from the persisted layout itself.
    * Emits `pc(query_id, cell)` and `asg(vec_id, cell)`. */
  private def ivfProbeCtes(ivf: String, nProbe: Int): String =
    s"""cents AS (SELECT cell, centroid
       |  FROM read_parquet('$ivf/centroids/*.parquet')),
       |aff AS (SELECT q.query_id, c.cell,
       |    list_inner_product(CAST(q.embedding AS DOUBLE[]),
       |        CAST(c.centroid AS DOUBLE[]))
       |      / sqrt(list_sum(list_transform(c.centroid,
       |          x -> CAST(x AS DOUBLE) * x))) AS a
       |  FROM qs q CROSS JOIN cents c),
       |pc AS (SELECT query_id, cell FROM (
       |  SELECT query_id, cell, row_number() OVER (
       |    PARTITION BY query_id ORDER BY a DESC, cell) AS pr
       |  FROM aff) WHERE pr <= $nProbe),
       |asg AS (SELECT vec_id, cell
       |  FROM read_parquet('$ivf/cells/*/*.parquet',
       |    hive_partitioning = true))""".stripMargin

  /** DuckDB replay of the PRUNED persisted-IVF probe — the dynamic
    * oracle that moves `sim_cosine_ivf_indexed` from rows-only to
    * hash-gated (round-15; the serviceCapOracle dense half at the
    * registered query's own configuration: vec_id < 8 corpus-id
    * queries, nProbe = 4, SELF-excluding, top-10 with the sim
    * column). The full-probe twin `sim_cosine_ivf_full` stays gated
    * by the brute-force oracle (exact by construction); THIS entry
    * gates the pruning itself — cell routing and partition-pruned
    * scan — against the layout's own centroids/assignment, so the
    * "approximate config → rows-only" rule no longer applies: the
    * pruned result is a deterministic function of the persisted
    * layout, which the oracle reads as input. */
  private[query] def simIvfIndexedOracle(sfDir: String)
      : Option[String] = {
    val ivf = VectorIndex.defaultPath(sfDir)
    if (!ivfReplayable(ivf)) return None
    Some(
      s"""WITH
         |qs AS (SELECT vec_id AS query_id, embedding
         |  FROM embeddings WHERE vec_id < 8),
         |${ivfProbeCtes(ivf, nProbe = 4)}
         |SELECT query_id, neighbor_id, sim, rank FROM (
         |  SELECT pc.query_id, e.vec_id AS neighbor_id,
         |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |      CAST(e.embedding AS DOUBLE[])), 4) AS sim,
         |    row_number() OVER (PARTITION BY pc.query_id ORDER BY
         |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |        CAST(e.embedding AS DOUBLE[])), 4) DESC, e.vec_id)
         |      AS rank
         |  FROM pc JOIN qs q USING (query_id)
         |    JOIN asg a ON a.cell = pc.cell
         |    JOIN embeddings e ON e.vec_id = a.vec_id
         |      AND e.vec_id != pc.query_id)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)
  }

  private[query] def serviceCapOracle(sfDir: String): Option[String] = {
    val ivf = VectorIndex.defaultPath(sfDir)
    if (!ivfReplayable(ivf)) return None
    val poolVals = serviceCapPool.zipWithIndex
      .map { case (t, i) => s"($i, '$t')" }.mkString(", ")
    Some(
      s"""WITH
         |qs AS (SELECT vec_id, printf('q%04d', vec_id) AS query_id,
         |    embedding
         |  FROM embeddings WHERE vec_id < 1024),
         |pool(i, term) AS (VALUES $poolVals),
         |qt AS (SELECT DISTINCT q.query_id, p.term
         |  FROM qs q JOIN pool p ON p.i IN (q.vec_id % 16,
         |    (q.vec_id // 16) % 16, (q.vec_id // 256) % 16)),
         |w AS (SELECT doc_id, unnest(string_split_regex(lower(text),
         |    '[^a-z]+')) AS term FROM documents),
         |wf AS (SELECT doc_id, term FROM w WHERE term <> ''),
         |dl AS (SELECT doc_id, count(*) AS dl FROM wf GROUP BY 1),
         |st AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM wf
         |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT qt.query_id, tf.doc_id,
         |    round(sum(ln(1 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
         |      * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25
         |        + 0.75 * dl.dl / (CAST(st.total_dl AS DOUBLE) / st.n_docs)))),
         |      4) AS score
         |  FROM tf JOIN qt USING (term) JOIN df USING (term)
         |    JOIN dl USING (doc_id) CROSS JOIN st
         |  GROUP BY 1, 2),
         |lex AS (SELECT query_id, doc_id, rank FROM (
         |  SELECT query_id, doc_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
         |  FROM sc) WHERE rank <= 20),
         |${ivfProbeCtes(ivf, nProbe = 4)},
         |dense AS (SELECT query_id, doc_id, rank FROM (
         |  SELECT pc.query_id, e.vec_id AS doc_id,
         |    row_number() OVER (PARTITION BY pc.query_id ORDER BY
         |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |        CAST(e.embedding AS DOUBLE[])), 4) DESC, e.vec_id) AS rank
         |  FROM pc JOIN qs q USING (query_id)
         |    JOIN asg a ON a.cell = pc.cell
         |    JOIN embeddings e ON e.vec_id = a.vec_id)
         |  WHERE rank <= 20),
         |u AS (SELECT query_id, doc_id, 1.0 / (60 + rank) AS w FROM lex
         |  UNION ALL SELECT query_id, doc_id, 1.0 / (60 + rank)
         |  FROM dense),
         |fused AS (SELECT query_id, doc_id, round(sum(w), 6) AS rrf
         |  FROM u GROUP BY 1, 2)
         |SELECT query_id, doc_id, rrf, CAST(rank AS BIGINT) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf DESC, doc_id) AS rank FROM fused)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)
  }

  /** The service-cap query batch: one hybrid query per corpus
    * embedding under the MaxBatchQueries cap (bounded collect,
    * <= 1024 x 64 floats), terms rotating over mid-frequency corpus
    * vocabulary so the lexical probe exercises many postings buckets.
    * Ensures both persisted layouts (stamped no-ops when current).
    * Shared by the registered query and the bench's phase probes so
    * all three time the identical batch. */
  /** The cap batch's term pool — shared by [[serviceCapBatch]] and
    * the DuckDB replay ([[serviceCapOracle]]) so the two term
    * generators cannot drift. */
  private val serviceCapPool = Vector("window", "merge", "spark",
    "join", "scan", "key", "hash", "filter", "batch", "sort", "group",
    "column", "stream", "vector", "query", "table")

  private[graft] def serviceCapBatch(s: SparkSession,
      d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    // the two stamped ensure checks touch disjoint stores — run them
    // on two threads (guide §2.6; round-16): each is a count + file
    // reads, and the batch generator pays their max instead of sum
    graft.scale.Staging.inParallel(
      Bm25.ensurePostings(Tables.documents(s, d), Bm25.defaultPath(d)),
      VectorIndex.ensureIvf(emb, VectorIndex.defaultPath(d)))
    val pool = serviceCapPool
    emb.filter(col("vec_id") < 1024)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map { r =>
        val i = r.getLong(0)
        val terms = Seq(pool((i % 16).toInt),
          pool(((i / 16) % 16).toInt),
          pool(((i / 256) % 16).toInt)).distinct
        (f"q$i%04d", terms, r.getSeq[Float](1))
      }.toSeq.toDF("query_id", "terms", "embedding")
  }

  /** The 3-query hybrid batch shared by the registered
    * `retrieval_hybrid_indexed_batch` query and its phase probes, so
    * both time the identical input. */
  private def hybridBatchQs(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("kj", Seq("key", "join", "scan")),
      ("sp", Seq("spark", "part")),
      ("wm", Seq("window", "merge"))).toDF("query_id", "terms")
  }

  /** Per-pass phase probes for the bench's attribution telemetry
    * (round-11 verdict #1/#4; extended to the two round-12 elevated
    * entries per round-12 verdict #2): each entry maps a registered
    * high-variance query to its sub-phase frames, timed once per
    * published pass and emitted as the artifact's `phases` field — so
    * an inflated or high-spread pass decomposes into the phase that
    * moved without a bisect. The probes are the query's OWN halves
    * (same helpers, same batch), not approximations. */
  def phaseProbes: Map[String,
      Seq[(String, (SparkSession, String) => DataFrame)]] = Map(
    // r12's biggest unexplained number (1.07-7.13 same-window spread):
    // decompose into the stamped ensure re-checks (store staleness
    // probes landing inside a timed pass were the prime suspect), the
    // bucket-pruned postings probe, and the IVF probe
    "retrieval_hybrid_indexed_batch" -> Seq(
      "ensure_check" -> ((s, d) => {
        Bm25.ensurePostings(Tables.documents(s, d), Bm25.defaultPath(d))
        VectorIndex.ensureIvf(Tables.embeddings(s, d),
          VectorIndex.defaultPath(d))
        s.range(1).toDF()
      }),
      "lexical" -> ((s, d) => Bm25.scoreTopKIndexedBatch(s,
        Bm25.defaultPath(d), hybridBatchQs(s), 20)),
      "dense" -> ((s, d) => VectorIndex.queryIvf(s,
        VectorIndex.defaultPath(d),
        Tables.embeddings(s, d).filter(col("vec_id").isin(0L, 1L, 2L)),
        20, nProbe = 16))),
    // third round on the weak list: split the narrow CPU-bound
    // fingerprint pass from the banded candidate join (the verify
    // remainder = published - candidates)
    "dedup_simhash" -> Seq(
      "fingerprint" -> ((s, d) => Dedup.simHash(Tables.documents(s, d))),
      "band_candidates" -> ((s, d) =>
        Dedup.simHashCandidates(Tables.documents(s, d)))),
    "retrieval_service_cap" -> Seq(
      "lexical" -> ((s, d) => graft.pipeline.RetrievalPipeline
        .lexicalHalf(s, Bm25.defaultPath(d), serviceCapBatch(s, d), 20)),
      "dense" -> ((s, d) => graft.pipeline.RetrievalPipeline
        .denseHalf(s, VectorIndex.defaultPath(d), serviceCapBatch(s, d),
          20, nProbe = 4))),
    // r14's one changed-plan elevation (1.46 -> 3.00 committed-vs-
    // driver with NO phase attribution — round-14 VERDICT #1): the
    // cached cap decomposes into the memo PROBE (read every committed
    // memo batch, key-filter, distinct — the phase that would grow if
    // stale batches accumulated), the full cached lexical half (probe
    // + hit fan-back + miss scoring when the stamp moved), and the
    // shared dense IVF half (also under the r14 heap rework — the
    // uncached twin elevated by the SAME absolute +1.55 s, so if the
    // dense phase carries it, the repricing is the shared tail, not
    // the cache)
    "retrieval_service_cap_cached" -> Seq(
      "memo_probe" -> ((s, d) => graft.ops.Bm25ResultCache.probeOnly(
        s, Bm25.defaultPath(d), bm25MemoPath(d),
        serviceCapBatch(s, d), 20)),
      "lexical_cached" -> ((s, d) => graft.ops.Bm25ResultCache
        .scoreTopKCachedBatch(s, Bm25.defaultPath(d), bm25MemoPath(d),
          serviceCapBatch(s, d).select(col("query_id"), col("terms")),
          20)),
      "dense" -> ((s, d) => graft.pipeline.RetrievalPipeline
        .denseHalf(s, VectorIndex.defaultPath(d), serviceCapBatch(s, d),
          20, nProbe = 4))),
    // r14 driver: 0.552 -> 0.902 stable at per-pass loadavg ~1.1 (the
    // low-load-elevation signature); prime suspect is page-cache state
    // on the persisted cells layout. "cells_scan" forces actual bytes
    // of the embedding column through the scan (a bare count() reads
    // only footers) — elevated scan + healthy remainder = cold cache;
    // flat scan + elevated query = the score/rank compute moved.
    "sim_cosine_ivf_full" -> Seq(
      "ensure_check" -> ((s, d) => {
        VectorIndex.ensureIvf(Tables.embeddings(s, d),
          VectorIndex.defaultPath(d))
        s.range(1).toDF()
      }),
      "cells_scan" -> ((s, d) => s.read
        .parquet(VectorIndex.defaultPath(d) + "/cells")
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.size(col("embedding")))
          .as("probe_bytes")))),
    // r14 driver: 0.74 -> 1.168, same low-load signature. No persisted
    // store here — the query is synth + decode + dHash (CPU) then the
    // banded self-join (shuffle). "synth_hash" is the CPU half; the
    // remainder is the band join + popcount verify.
    "dedup_image_phash_near" -> Seq(
      "synth_hash" -> ((s, d) => Multimodal.perceptualHashWords(s,
          Multimodal.synthPhashNearTable(s, Tables.documents(s, d)))
        .toDF())),
    "dedup_components_lsh" -> Seq(
      // candidate scan + exact verify; the registered query's
      // remainder is the pointer-doubling closure
      "verify" -> ((s, d) => Similarity.verifyCandidates(
        Similarity.ensureLshCandidates(Tables.embeddings(s, d),
          lshCandPath(d)),
        Tables.embeddings(s, d), cosineT))),
    // r13's biggest unexplained number (0.134 -> 2.605 in the driver
    // window on unchanged code, unflagged for lack of a committed
    // median): the round-14 two-phase rework changed the plan, so the
    // probe decomposes its NEW halves — the tokenize+bucket+subtotal
    // stage (text split is the CPU phase the r10 blind spot lived in)
    // vs the staged frame's prefix-sum remainder
    "curation_seq_packing" -> Seq(
      // composed from the query's OWN helpers (wordTokenCounts +
      // packBucketSubtotals) — a re-inlined copy would silently keep
      // timing the old phase shape when the tokenizer or bucket shift
      // changes (review-caught)
      "tokenize_subtotals" -> ((s, d) =>
        graft.ops.Curation.packBucketSubtotals(
          graft.ops.Curation.wordTokenCounts(Tables.documents(s, d))))))

  /** Session-dynamic oracles (round-11 verdict #2): once the BPE
    * queries have trained their merge table for `sfDir`, export it
    * into [[BpeOracle]]'s DuckDB replay and hash-gate the BPE rows.
    * Empty (rows-only fallback, never a wrong oracle) when nothing
    * was trained for this sfDir or a symbol would break the replay. */
  def dynamicOracles(sfDir: String): Map[String, String] =
    dynamicOracles(sfDir, None)

  /** `only` short-circuits providers whose keys are all excluded:
    * the SimHash provider probes the corpus with Spark jobs, so
    * computing it for a single-query Verify fast path that filters
    * it away afterwards would defeat the fast path (review-caught). */
  def dynamicOracles(sfDir: String,
      only: Option[Set[String]]): Map[String, String] = {
    def want(keys: String*) = only.forall(o => keys.exists(o))
    val bpe =
      if (want("text_token_count_bpe", "vocab_topk_bpe",
          "curation_pack_bpe")) bpeDynamicOracles(sfDir)
      else Map.empty[String, String]
    val simhash =
      if (want("dedup_simhash"))
        SimHashOracle.forCorpus(sfDir)
          .map(sql => Map("dedup_simhash" -> sql)).getOrElse(Map.empty)
      else Map.empty[String, String]
    // round-15 (r14 verdict #3): the incremental-store probe replayed
    // as a full independent MinHash recomputation — same corpus-probe
    // gate as the SimHash replay (shared string-hash domain)
    val minhash =
      if (want("dedup_incoming_store"))
        MinHashOracle.forCorpus(sfDir)
          .map(sql => Map("dedup_incoming_store" -> sql))
          .getOrElse(Map.empty)
      else Map.empty[String, String]
    // round-15 (r14 verdict #3): the hybrid cap batch replayed against
    // the persisted IVF layout — file-existence gate only, no Spark
    // job. The CACHED twin returns bit-identical rows by the result
    // cache's differential contract (Bm25ResultCache scaladoc +
    // RetrievalPipelineSpec), so the SAME replay gates it — and a
    // cache bug that broke the bit-identity contract would now fail
    // the hash gate, not just the spec.
    val servicecap =
      if (want("retrieval_service_cap", "retrieval_service_cap_cached"))
        serviceCapOracle(sfDir).map(sql =>
          Map("retrieval_service_cap" -> sql,
            "retrieval_service_cap_cached" -> sql))
          .getOrElse(Map.empty)
      else Map.empty[String, String]
    // round-15: the pruned persisted-IVF probe at the registered
    // configuration — deterministic given the layout the oracle reads
    val ivfIndexed =
      if (want("sim_cosine_ivf_indexed"))
        simIvfIndexedOracle(sfDir)
          .map(sql => Map("sim_cosine_ivf_indexed" -> sql))
          .getOrElse(Map.empty)
      else Map.empty[String, String]
    bpe ++ simhash ++ minhash ++ servicecap ++ ivfIndexed
  }

  private def bpeDynamicOracles(sfDir: String): Map[String, String] =
    BpeOracle.forKey(sfDir).map { m =>
      val ctes = BpeOracle.encCtes(m)
      Map(
        "text_token_count_bpe" ->
          s"""WITH RECURSIVE
             |$ctes
             |SELECT doc_id, n AS n_tokens_bpe FROM bpec
             |ORDER BY doc_id""".stripMargin,
        "vocab_topk_bpe" ->
          s"""WITH RECURSIVE
             |$ctes,
             |${BpeOracle.tokensCte(m)}
             |SELECT t.tok, CAST(count(*) AS BIGINT) AS cnt
             |FROM words JOIN tokd t USING (w)
             |GROUP BY t.tok ORDER BY cnt DESC, tok LIMIT 20""".stripMargin,
        // the curation_seq_packing oracle with n_tok swapped to the
        // replayed BPE counts (budget 256; no zero-token docs exist,
        // so the floor-vs-truncate division edge at tok_end = 0 is
        // unreachable — guarded by the corpus, noted here)
        "curation_pack_bpe" ->
          s"""WITH RECURSIVE
             |$ctes
             |SELECT lang, doc_id,
             |  CAST(n_tok AS BIGINT) AS n_tok,
             |  CAST(tok_end - n_tok AS BIGINT) AS tok_start,
             |  CAST(tok_end AS BIGINT) AS tok_end,
             |  CAST((tok_end - n_tok) // 256 AS BIGINT) AS first_chunk,
             |  CAST((tok_end - 1) // 256 AS BIGINT) AS last_chunk
             |FROM (SELECT d.lang, d.doc_id, b.n AS n_tok,
             |    sum(b.n) OVER (PARTITION BY d.lang ORDER BY d.doc_id
             |                   ROWS UNBOUNDED PRECEDING) AS tok_end
             |  FROM documents d JOIN bpec b USING (doc_id))
             |ORDER BY lang, doc_id""".stripMargin)
    }.getOrElse(Map.empty)

  /** SQL replay of [[Multimodal.synthCell]]'s channel-sum gray at
    * source coordinates (u, v) of image k — generated, not
    * hand-copied, so the three salt terms can't drift. All
    * intermediates stay in BIGINT (a < 2^31 -> a*a < 2^62), floor
    * division and % on non-negative values agree across engines. */
  private def phashGraySql(k: String, u: String, v: String): String =
    (0 to 2).map { salt =>
      val a = s"((($k) * 2654435761 + ($u) * 1299721 + ($v) * 7907 + " +
        s"$salt * 104729) % 2147483648)"
      s"(((($a * $a) // 65536) % 4294967296) // 16777216)"
    }.mkString("(", " + ", ")")

  /** The dHash CTE both phash oracles share: per-doc 64-char bit
    * string from the SAME 9x8 floor-mapped grid the engine samples —
    * both doc parities reduce to identical source texels (the
    * synthPhashTable invariance), so k = doc_id - doc_id % 2 and the
    * 8x4 source grid serve every row. */
  private def phashCte: String = {
    val v = "(h.j // 2)"
    val g1 = phashGraySql("d.k", "((g.i * 8) // 9)", v)
    val g2 = phashGraySql("d.k", "(((g.i + 1) * 8) // 9)", v)
    s"""g AS (SELECT unnest(range(8)) AS i),
       |h AS (SELECT unnest(range(8)) AS j),
       |ph AS (
       |  SELECT d.doc_id, d.format,
       |    string_agg(CASE WHEN $g2 > $g1 THEN '1' ELSE '0' END,
       |               '' ORDER BY h.j, g.i) AS phash
       |  FROM (SELECT doc_id, doc_id - doc_id % 2 AS k,
       |          CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'png' END
       |            AS format
       |        FROM documents) d, g, h
       |  GROUP BY d.doc_id, d.format)""".stripMargin
  }

  /** The perturbed-gray expression of the NEAR corpus: odd (edited)
    * docs shift all three channels of source texel (0, 0) by +128
    * mod 256; everything else is [[phashGraySql]]'s arithmetic. */
  private def phashNearGraySql(k: String, u: String, v: String,
      pert: String): String = {
    val cells = (0 to 2).map { salt =>
      val a = s"((($k) * 2654435761 + ($u) * 1299721 + ($v) * 7907 + " +
        s"$salt * 104729) % 2147483648)"
      s"(((($a * $a) // 65536) % 4294967296) // 16777216)"
    }
    val plain = cells.mkString("(", " + ", ")")
    val edited = cells.map(c => s"(($c + 128) % 256)")
      .mkString("(", " + ", ")")
    s"(CASE WHEN $pert AND ($u) = 0 AND ($v) = 0 THEN $edited " +
      s"ELSE $plain END)"
  }

  /** Two-word dHash CTE over the NEAR corpus (`phw(doc_id, hi, lo)`). */
  private def phashNearCte: String = {
    val v = "(h.j // 2)"
    val g1 = phashNearGraySql("d.k", "((g.i * 8) // 9)", v, "d.pert")
    val g2 = phashNearGraySql("d.k", "(((g.i + 1) * 8) // 9)", v,
      "d.pert")
    s"""g AS (SELECT unnest(range(8)) AS i),
       |h AS (SELECT unnest(range(8)) AS j),
       |phw AS (
       |  SELECT d.doc_id,
       |    sum(CASE WHEN h.j < 4 AND $g2 > $g1
       |        THEN (CAST(1 AS BIGINT) << (h.j * 8 + g.i))
       |        ELSE 0 END) AS hi,
       |    sum(CASE WHEN h.j >= 4 AND $g2 > $g1
       |        THEN (CAST(1 AS BIGINT) << ((h.j - 4) * 8 + g.i))
       |        ELSE 0 END) AS lo
       |  FROM (SELECT doc_id, doc_id - doc_id % 2 AS k,
       |          doc_id % 2 = 1 AS pert FROM documents) d, g, h
       |  GROUP BY d.doc_id)""".stripMargin
  }

  /** SQL replay of [[Multimodal.synthAudioCell]] + the frame-energy
    * fingerprint — generated, not hand-copied, so the synthesis
    * constants can't drift. All intermediates stay in BIGINT
    * (a < 2^31 -> a*a < 2^62; energies < 2^18; the fingerprint's top
    * bit is 31), and every value is non-negative until the final
    * centered subtraction, so `//` and `%` agree across engines.
    * `en` carries per-(doc, frame) exact integer energies; `afp`
    * packs the 32 adjacent-frame comparisons. */
  private def audioFpCte: String =
    audioFpCteWith(t => s"(d.gain * $t)")

  /** The NEAR corpus's replay: odd docs silence frame 0 of their
    * half-gain copy (c = 0 there), everything else is the exact
    * corpus's arithmetic — one shared skeleton so the two replays
    * cannot drift. */
  private def audioFpNearCte: String =
    audioFpCteWith(t =>
      s"(CASE WHEN d.doc_id % 2 = 1 AND f.f = 0 THEN 0" +
        s" ELSE d.gain * $t END)")

  private def audioFpCteWith(cOf: String => String): String = {
    val i = "(f.f * 8 + s.j)"
    val a = s"((d.k * 2654435761 + $i * 1299721 + 7907) % 2147483648)"
    val t = s"((((($a * $a) // 65536) % 4294967296) // 16777216) // 2 - 64)"
    val c = cOf(t)
    s"""f AS (SELECT unnest(range(33)) AS f),
       |s AS (SELECT unnest(range(8)) AS j),
       |en AS (
       |  SELECT d.doc_id, f.f, sum($c * $c) AS e
       |  FROM (SELECT doc_id, doc_id - doc_id % 2 AS k,
       |          CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS gain
       |        FROM documents) d, f, s
       |  GROUP BY d.doc_id, f.f),
       |afp AS (
       |  SELECT a.doc_id, CAST(sum(CASE WHEN b.e > a.e
       |      THEN (CAST(1 AS BIGINT) << a.f) ELSE 0 END) AS BIGINT)
       |      AS afp
       |  FROM en a JOIN en b ON b.doc_id = a.doc_id AND b.f = a.f + 1
       |  GROUP BY a.doc_id)""".stripMargin
  }

  /** Per-(clip, frame) dHash replay for the video-clip corpus: both
    * parities of a pair reduce to source texels of image
    * `m = (doc_id - doc_id % 2) * ClipFrames + frame` (the odd clip's
    * 2x upscale floor-maps back — the [[phashCte]] invariance), and
    * the odd clip drops frame 0 (the trimmed intro). The stop-frame
    * cap and the >= 2 shared-fingerprint threshold replay the
    * registered plan's arithmetic verbatim. */
  private def clipCte: String = {
    val v = "(h.j // 2)"
    val g1 = phashGraySql("fr.m", "((g.i * 8) // 9)", v)
    val g2 = phashGraySql("fr.m", "(((g.i + 1) * 8) // 9)", v)
    s"""g AS (SELECT unnest(range(8)) AS i),
       |h AS (SELECT unnest(range(8)) AS j),
       |fr AS (SELECT d.doc_id,
       |         (d.doc_id - d.doc_id % 2) * 4 + f.f AS m
       |       FROM documents d, (SELECT unnest(range(4)) AS f) f
       |       WHERE d.doc_id % 2 = 0 OR f.f >= 1),
       |cfp AS (
       |  SELECT fr.doc_id, fr.m,
       |    string_agg(CASE WHEN $g2 > $g1 THEN '1' ELSE '0' END,
       |               '' ORDER BY h.j, g.i) AS phash
       |  FROM fr, g, h
       |  GROUP BY fr.doc_id, fr.m),
       |cu AS (SELECT DISTINCT doc_id, phash FROM cfp),
       |crare AS (SELECT phash FROM cu GROUP BY phash
       |          HAVING count(*) <= 64),
       |ck AS (SELECT cu.doc_id, cu.phash FROM cu
       |       JOIN crare USING (phash))""".stripMargin
  }

  private val oraclesBase: Map[String, String] = Map(
    "dedup_audio_fp_near" ->
      s"""WITH $audioFpNearCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.afp, b.afp)) AS BIGINT) AS hamming
         |FROM afp a JOIN afp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.afp, b.afp)) <= 2
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_video_near" ->
      s"""WITH $clipCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(count(*) AS BIGINT) AS shared_frames
         |FROM ck a JOIN ck b
         |  ON a.phash = b.phash AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY doc_a, doc_b""".stripMargin,
    "multimodal_audio_fp" ->
      s"""WITH $audioFpCte
         |SELECT doc_id, 'wav' AS format, afp FROM afp
         |ORDER BY doc_id""".stripMargin,
    "dedup_audio_fp" ->
      s"""WITH $audioFpCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM afp a JOIN afp b
         |  ON a.afp = b.afp AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_image_phash_near" ->
      s"""WITH $phashNearCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
         |    AS BIGINT) AS hamming
         |FROM phw a JOIN phw b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
         |  <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "multimodal_phash" ->
      s"""WITH $phashCte
         |SELECT doc_id, format, phash FROM ph
         |ORDER BY doc_id""".stripMargin,
    "dedup_image_phash" ->
      s"""WITH $phashCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM ph a JOIN ph b
         |  ON a.phash = b.phash AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,
    "retrieval_bm25" -> bm25OracleSql,
    "retrieval_bm25_phrase" ->
      bm25PhraseOracleSqlFor(Bm25PhraseTerms, 10),
    "retrieval_bm25_indexed" -> bm25OracleSql,
    "retrieval_bm25_pruned" -> bm25OracleSqlFor(Bm25PrunedTerms, 10),
    "retrieval_bm25_batch" ->
      """WITH w AS (SELECT doc_id, unnest(string_split_regex(lower(text),
        |    '[^a-z]+')) AS term FROM documents),
        |wf AS (SELECT doc_id, term FROM w WHERE term <> ''),
        |dl AS (SELECT doc_id, count(*) AS dl FROM wf GROUP BY 1),
        |st AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM dl),
        |qt(query_id, term) AS (VALUES
        |  ('kj', 'key'), ('kj', 'join'), ('kj', 'scan'),
        |  ('sp', 'spark'), ('sp', 'part'),
        |  ('wm', 'window'), ('wm', 'merge')),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM wf
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT qt.query_id, tf.doc_id,
        |    round(sum(ln(1 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
        |      * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25
        |        + 0.75 * dl.dl / (CAST(st.total_dl AS DOUBLE) / st.n_docs)))),
        |      4) AS score
        |  FROM tf JOIN qt USING (term) JOIN df USING (term)
        |    JOIN dl USING (doc_id) CROSS JOIN st
        |  GROUP BY 1, 2)
        |SELECT query_id, doc_id, score,
        |  CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id) AS rank FROM sc)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "retrieval_bm25_indexed_batch" ->
      """WITH w AS (SELECT doc_id, unnest(string_split_regex(lower(text),
        |    '[^a-z]+')) AS term FROM documents),
        |wf AS (SELECT doc_id, term FROM w WHERE term <> ''),
        |dl AS (SELECT doc_id, count(*) AS dl FROM wf GROUP BY 1),
        |st AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM dl),
        |qt(query_id, term) AS (VALUES
        |  ('kj', 'key'), ('kj', 'join'), ('kj', 'scan'),
        |  ('sp', 'spark'), ('sp', 'part'),
        |  ('wm', 'window'), ('wm', 'merge')),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM wf
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT qt.query_id, tf.doc_id,
        |    round(sum(ln(1 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
        |      * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25
        |        + 0.75 * dl.dl / (CAST(st.total_dl AS DOUBLE) / st.n_docs)))),
        |      4) AS score
        |  FROM tf JOIN qt USING (term) JOIN df USING (term)
        |    JOIN dl USING (doc_id) CROSS JOIN st
        |  GROUP BY 1, 2)
        |SELECT query_id, doc_id, score,
        |  CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id) AS rank FROM sc)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "retrieval_hybrid_rrf_batch" -> hybridBatchOracleSql,
    // identical semantics served from the persisted indexes (full
    // dense probe = exact), so the SAME oracle gates the whole stack
    "retrieval_hybrid_indexed_batch" -> hybridBatchOracleSql,
    "retrieval_hybrid_rrf" ->
      """WITH w AS (SELECT doc_id, unnest(string_split_regex(lower(text),
        |    '[^a-z]+')) AS term FROM documents),
        |wf AS (SELECT doc_id, term FROM w WHERE term <> ''),
        |dl AS (SELECT doc_id, count(*) AS dl FROM wf GROUP BY 1),
        |st AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM dl),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM wf
        |  WHERE term IN ('window', 'merge', 'spark') GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id,
        |    round(sum(ln(1 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
        |      * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25
        |        + 0.75 * dl.dl / (CAST(st.total_dl AS DOUBLE) / st.n_docs)))),
        |      4) AS score
        |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st
        |  GROUP BY tf.doc_id),
        |lex AS (SELECT doc_id, rank FROM (
        |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
        |    AS rank FROM sc) WHERE rank <= 20),
        |dense AS (SELECT neighbor_id AS doc_id, rank FROM (
        |  SELECT c.vec_id AS neighbor_id,
        |    row_number() OVER (ORDER BY
        |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])), 4) DESC, c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        |  WHERE q.vec_id = 0) WHERE rank <= 20),
        |u AS (SELECT doc_id, 1.0 / (60 + rank) AS w FROM lex
        |  UNION ALL SELECT doc_id, 1.0 / (60 + rank) FROM dense),
        |fused AS (SELECT doc_id, round(sum(w), 6) AS rrf FROM u
        |  GROUP BY doc_id)
        |SELECT doc_id, rrf,
        |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
        |    AS rank
        |FROM fused ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "dedup_edit_sim_oracle" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | round(1.0 - levenshtein(a.text, b.text)::DOUBLE
        |   / greatest(len(a.text), len(b.text)), 4) AS edit_sim
        |FROM documents a JOIN documents b
        | ON a.doc_id < b.doc_id
        | AND abs(len(a.text) - len(b.text))
        |   <= 0.1 * greatest(len(a.text), len(b.text)) + 1
        |WHERE a.doc_id < 300 AND b.doc_id < 300
        | AND round(1.0 - levenshtein(a.text, b.text)::DOUBLE
        |   / greatest(len(a.text), len(b.text)), 4) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,
    "text_hashing_features" ->
      """SELECT doc_id,
        | ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS bucket,
        | count(*) AS n
        |FROM (SELECT doc_id,
        |   unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        | FROM documents)
        |WHERE tok <> ''
        |GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin,
    "text_linear_score" ->
      """WITH w AS (
        |  SELECT b AS bucket,
        |    (b * 2654435761) % 4294967296 % 2001 - 1000 AS w_int
        |  FROM (SELECT unnest(generate_series(0, 63)) AS b)),
        |tb AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS bucket
        |  FROM (SELECT doc_id,
        |     unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        |   FROM documents)
        |  WHERE tok <> '')
        |SELECT doc_id, count(*) AS n_tok,
        |  CAST(round(coalesce(sum(w_int), 0) * 10.0 / count(*)) AS BIGINT)
        |    AS score_e4
        |FROM tb LEFT JOIN w USING (bucket)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "emb_label_centroids" ->
      """SELECT label, CAST(i - 1 AS BIGINT) AS dim,
        | round(avg(CAST(embedding[i] AS DOUBLE)), 4) AS centroid
        |FROM embeddings,
        | LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
        |GROUP BY 1, 2 ORDER BY label, dim""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |  AS text_hash,
        | count(*) AS dup_count, min(doc_id) AS keeper_id
        |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH t AS (
        | SELECT doc_id,
        |  regexp_split_to_array(lower(trim(text)), '\s+') w
        | FROM documents),
        |sh AS (
        | SELECT doc_id, list_distinct(
        |  [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |   for i in range(1, len(w)-1)]) s
        | FROM t)
        |SELECT doc_a, doc_b, jaccard FROM (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(len(list_intersect(a.s, b.s))::DOUBLE
        |    / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin,
    "pipeline_corpus_curation" ->
      s"""WITH q AS (
         | SELECT doc_id, text,
         |  len(regexp_split_to_array(lower(trim(text)), '\\s+'))
         |    AS n_tokens,
         |  round(len(list_filter(
         |     regexp_split_to_array(lower(trim(text)), '\\s+'),
         |     x -> list_contains([$enStop], x)))::DOUBLE
         |   / len(regexp_split_to_array(lower(trim(text)), '\\s+')), 4)
         |    AS stopword_ratio,
         |  CASE
         |   WHEN len(list_filter(regexp_split_to_array(lower(trim(text)),
         |     '\\s+'), x -> list_contains([${stopList("es")}], x)))
         |    > greatest(
         |     len(list_filter(regexp_split_to_array(lower(trim(text)),
         |       '\\s+'), x -> list_contains([${stopList("en")}], x))),
         |     len(list_filter(regexp_split_to_array(lower(trim(text)),
         |       '\\s+'), x -> list_contains([${stopList("de")}], x))))
         |    THEN 'es'
         |   WHEN len(list_filter(regexp_split_to_array(lower(trim(text)),
         |     '\\s+'), x -> list_contains([${stopList("de")}], x)))
         |    > len(list_filter(regexp_split_to_array(lower(trim(text)),
         |       '\\s+'), x -> list_contains([${stopList("en")}], x)))
         |    THEN 'de'
         |   ELSE 'en' END AS predicted
         | FROM documents),
         |f AS (
         | SELECT * FROM q
         | WHERE n_tokens >= 20 AND stopword_ratio <= 0.5),
         |t AS (
         | SELECT doc_id,
         |  regexp_split_to_array(lower(trim(text)), '\\s+') w FROM f),
         |sh AS (
         | SELECT doc_id, list_distinct(
         |  [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |   for i in range(1, len(w)-1)]) s
         | FROM t),
         |dups AS (
         | SELECT DISTINCT b.doc_id AS doc_b
         | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         | WHERE round(len(list_intersect(a.s, b.s))::DOUBLE
         |    / len(list_distinct(list_concat(a.s, b.s))), 4) >= 0.8)
         |SELECT doc_id, predicted, n_tokens, stopword_ratio
         |FROM f WHERE doc_id NOT IN (SELECT doc_b FROM dups)
         |ORDER BY doc_id""".stripMargin,
    "dedup_drop_neardups" ->
      """WITH t AS (
        | SELECT doc_id,
        |  regexp_split_to_array(lower(trim(text)), '\s+') w
        | FROM documents),
        |sh AS (
        | SELECT doc_id, list_distinct(
        |  [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |   for i in range(1, len(w)-1)]) s
        | FROM t),
        |dups AS (
        | SELECT DISTINCT b.doc_id AS doc_b
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        | WHERE round(len(list_intersect(a.s, b.s))::DOUBLE
        |    / len(list_distinct(list_concat(a.s, b.s))), 4) >= 0.8)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_b FROM dups)
        |ORDER BY doc_id""".stripMargin,
    "embedding_neardup_oracle" ->
      """SELECT vec_a, vec_b, sim FROM (
        | SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])), 4) AS sim
        | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        | WHERE a.vec_id < 500 AND b.vec_id < 500)
        |WHERE sim >= 0.4 ORDER BY vec_a, vec_b""".stripMargin,
    "dedup_components_oracle" ->
      """WITH RECURSIVE pairs AS (
        | SELECT vec_a AS src, vec_b AS dst FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |     CAST(b.embedding AS DOUBLE[])), 4) AS sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE a.vec_id < 500 AND b.vec_id < 500)
        | WHERE sim >= 0.4),
        |sym AS (SELECT src, dst FROM pairs
        |  UNION SELECT dst, src FROM pairs),
        |reach(id, comp) AS (
        |  SELECT DISTINCT src, src FROM sym
        |  UNION
        |  SELECT s.src, r.comp FROM sym s JOIN reach r ON s.dst = r.id)
        |SELECT id AS vec_id, min(comp) AS comp
        |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,
    "sim_cosine_topk" -> simTopKOracleSql,
    // exact-by-construction index configurations share the brute-force
    // oracle: full-probe IVF (every cell probed) and exhaustive LSH
    // (1 plane/table + hamming-1 multiprobe = both buckets) — the
    // persisted/banded layouts themselves are hash-gated, not just
    // spec-gated (round-10 verdict #2)
    "sim_cosine_ivf_full" -> simTopKOracleSql,
    "sim_cosine_lsh_exhaustive" -> simTopKOracleSql,
    // the persisted-int8 path replays quantize->dequantize in SQL
    // (round-12 verdict #6): one more layout hash-gated, not just
    // spec-gated
    "sim_cosine_topk_int8" -> simTopKInt8OracleSql,
    "text_token_count" ->
      """SELECT doc_id,
        | len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id,
         | length(text) AS n_chars_c,
         | len(regexp_split_to_array(lower(trim(text)), '\\s+'))
         |   AS n_tokens,
         | round((length(text) - (length(text)
         |    - length(replace(text, ' ', ''))))::DOUBLE
         |  / len(regexp_split_to_array(lower(trim(text)), '\\s+')), 4)
         |   AS avg_token_len,
         | round((length(text)
         |    - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
         |  / length(text), 4) AS punct_ratio,
         | round((length(text)
         |    - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
         |  / length(text), 4) AS digit_ratio,
         | round(len(list_filter(
         |    regexp_split_to_array(lower(trim(text)), '\\s+'),
         |    x -> list_contains([$enStop], x)))::DOUBLE
         |  / len(regexp_split_to_array(lower(trim(text)), '\\s+')), 4)
         |   AS stopword_ratio
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_lang_id" ->
      s"""WITH s AS (
         | SELECT doc_id,
         |  regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
         | FROM documents)
         |SELECT doc_id,
         | len(list_filter(toks, x -> list_contains([${stopList("en")}], x)))
         |   AS score_en,
         | len(list_filter(toks, x -> list_contains([${stopList("de")}], x)))
         |   AS score_de,
         | len(list_filter(toks, x -> list_contains([${stopList("es")}], x)))
         |   AS score_es,
         | CASE
         |  WHEN len(list_filter(toks,
         |    x -> list_contains([${stopList("es")}], x))) > greatest(
         |     len(list_filter(toks,
         |       x -> list_contains([${stopList("en")}], x))),
         |     len(list_filter(toks,
         |       x -> list_contains([${stopList("de")}], x)))) THEN 'es'
         |  WHEN len(list_filter(toks,
         |    x -> list_contains([${stopList("de")}], x))) >
         |   len(list_filter(toks,
         |     x -> list_contains([${stopList("en")}], x))) THEN 'de'
         |  ELSE 'en' END AS predicted
         |FROM s ORDER BY doc_id""".stripMargin,
    "text_ngram_skip_search" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE text LIKE '%dup dup%' ORDER BY doc_id""".stripMargin,
    "text_token_skip_search" ->
      """SELECT doc_id, lang FROM documents
        |WHERE list_contains(
        |  regexp_split_to_array(text, '[^A-Za-z0-9]+'), 'dup')
        |ORDER BY doc_id""".stripMargin,
    "doc_fingerprint" ->
      """SELECT doc_id,
        | md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |  AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "multimodal_bytes" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        | CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS format
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the decoded-WAV statistics straight from the sample arithmetic:
    // sample(i) = (doc_id*31 + i*17) % 256, centered c = sample - 128,
    // rms = sqrt(sum(c^2) / 2^14 / 64) — integer sum, power-of-two
    // divisions, so the double is bit-identical to the decoder's
    // per-sample accumulation
    "multimodal_wav_stats" ->
      """SELECT d.doc_id,
        | CAST(8000 AS BIGINT) AS sample_rate,
        | CAST(1 AS BIGINT) AS channels,
        | CAST(64 AS BIGINT) AS frames,
        | round(sqrt(CAST(sum(c * c) AS DOUBLE) / 16384.0 / 64.0), 4)
        |   AS rms
        |FROM (SELECT doc_id,
        |        ((doc_id * 31 + t.i * 17) % 256) - 128 AS c
        |      FROM documents,
        |        LATERAL (SELECT unnest(range(64)) AS i) t) d
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    // the decoded-BMP channel sums straight from the pixel arithmetic
    // (integer sums — no rounding anywhere, see the query comment)
    "multimodal_bmp_stats" ->
      """SELECT p.doc_id,
        | CAST(8 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
        | CAST(sum((p.doc_id * 7 + p.i * 3 + p.j * 5) % 256) AS BIGINT)
        |   AS sum_r,
        | CAST(sum((p.doc_id * 11 + p.i * 3 + p.j * 5) % 256) AS BIGINT)
        |   AS sum_g,
        | CAST(sum((p.doc_id * 13 + p.i * 3 + p.j * 5) % 256) AS BIGINT)
        |   AS sum_b
        |FROM (SELECT doc_id, x.i, y.j FROM documents,
        |        LATERAL (SELECT unnest(range(8)) AS i) x,
        |        LATERAL (SELECT unnest(range(4)) AS j) y) p
        |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,
    // the resized-BMP channel sums from the pixel arithmetic at the
    // nearest-neighbor-sampled source coordinates (dst (i, j) samples
    // src (i*8/4, j*4/2) = (2i, 2j))
    "multimodal_bmp_resize" ->
      """SELECT p.doc_id,
        | CAST(4 AS BIGINT) AS width, CAST(2 AS BIGINT) AS height,
        | CAST(sum((p.doc_id * 7 + p.i*2*3 + p.j*2*5) % 256) AS BIGINT)
        |   AS sum_r,
        | CAST(sum((p.doc_id * 11 + p.i*2*3 + p.j*2*5) % 256) AS BIGINT)
        |   AS sum_g,
        | CAST(sum((p.doc_id * 13 + p.i*2*3 + p.j*2*5) % 256) AS BIGINT)
        |   AS sum_b
        |FROM (SELECT doc_id, x.i, y.j FROM documents,
        |        LATERAL (SELECT unnest(range(4)) AS i) x,
        |        LATERAL (SELECT unnest(range(2)) AS j) y) p
        |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,
    // the decoded-PNG channel sums from the pixel arithmetic (PNG is
    // lossless — the DEFLATE round trip preserves every channel value)
    "multimodal_png_stats" ->
      """SELECT p.doc_id,
        | CAST(8 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
        | CAST(sum((p.doc_id * 17 + p.i * 3 + p.j * 5) % 256) AS BIGINT)
        |   AS sum_r,
        | CAST(sum((p.doc_id * 19 + p.i * 3 + p.j * 5) % 256) AS BIGINT)
        |   AS sum_g,
        | CAST(sum((p.doc_id * 23 + p.i * 3 + p.j * 5) % 256) AS BIGINT)
        |   AS sum_b
        |FROM (SELECT doc_id, x.i, y.j FROM documents,
        |        LATERAL (SELECT unnest(range(8)) AS i) x,
        |        LATERAL (SELECT unnest(range(4)) AS j) y) p
        |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,
    // the resized-PNG channel sums at the nearest-neighbor-sampled
    // source coordinates (dst (i, j) samples src (2i, 2j))
    "multimodal_png_resize" ->
      """SELECT p.doc_id,
        | CAST(4 AS BIGINT) AS width, CAST(2 AS BIGINT) AS height,
        | CAST(sum((p.doc_id * 17 + p.i*2*3 + p.j*2*5) % 256) AS BIGINT)
        |   AS sum_r,
        | CAST(sum((p.doc_id * 19 + p.i*2*3 + p.j*2*5) % 256) AS BIGINT)
        |   AS sum_g,
        | CAST(sum((p.doc_id * 23 + p.i*2*3 + p.j*2*5) % 256) AS BIGINT)
        |   AS sum_b
        |FROM (SELECT doc_id, x.i, y.j FROM documents,
        |        LATERAL (SELECT unnest(range(4)) AS i) x,
        |        LATERAL (SELECT unnest(range(2)) AS j) y) p
        |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,
    // mixed real-decoder output: png rows (even doc_ids) check pixel
    // count + total channel sum, wav rows (odd) frame count + energy
    // sum — both exact integers from the doc_id arithmetic
    "multimodal_features" ->
      """SELECT * FROM (
        |  SELECT p.doc_id, 'png' AS format,
        |    CAST(32 AS BIGINT) AS units,
        |    CAST(sum((p.doc_id * 17 + p.i * 3 + p.j * 5) % 256
        |           + (p.doc_id * 19 + p.i * 3 + p.j * 5) % 256
        |           + (p.doc_id * 23 + p.i * 3 + p.j * 5) % 256)
        |      AS BIGINT) AS checksum
        |  FROM (SELECT doc_id, x.i, y.j FROM documents,
        |          LATERAL (SELECT unnest(range(8)) AS i) x,
        |          LATERAL (SELECT unnest(range(4)) AS j) y) p
        |  WHERE p.doc_id % 2 = 0 GROUP BY p.doc_id
        |  UNION ALL
        |  SELECT w.doc_id, 'wav' AS format,
        |    CAST(64 AS BIGINT) AS units,
        |    CAST(sum(w.c * w.c) AS BIGINT) AS checksum
        |  FROM (SELECT doc_id,
        |          ((doc_id * 31 + t.i * 17) % 256) - 128 AS c
        |        FROM documents,
        |          LATERAL (SELECT unnest(range(64)) AS i) t) w
        |  WHERE w.doc_id % 2 = 1 GROUP BY w.doc_id
        |) ORDER BY doc_id""".stripMargin,
    // the quality gate straight from the arithmetic: per-modality
    // checksum bands, survivors joined back for curation metadata
    "multimodal_quality_gate" ->
      """WITH cs AS (
        |  SELECT p.doc_id, 'png' AS format,
        |    CAST(sum((p.doc_id * 17 + p.i * 3 + p.j * 5) % 256
        |           + (p.doc_id * 19 + p.i * 3 + p.j * 5) % 256
        |           + (p.doc_id * 23 + p.i * 3 + p.j * 5) % 256)
        |      AS BIGINT) AS checksum
        |  FROM (SELECT doc_id, x.i, y.j FROM documents,
        |          LATERAL (SELECT unnest(range(8)) AS i) x,
        |          LATERAL (SELECT unnest(range(4)) AS j) y) p
        |  WHERE p.doc_id % 2 = 0 GROUP BY p.doc_id
        |  UNION ALL
        |  SELECT w.doc_id, 'wav' AS format,
        |    CAST(sum(w.c * w.c) AS BIGINT) AS checksum
        |  FROM (SELECT doc_id,
        |          ((doc_id * 31 + t.i * 17) % 256) - 128 AS c
        |        FROM documents,
        |          LATERAL (SELECT unnest(range(64)) AS i) t) w
        |  WHERE w.doc_id % 2 = 1 GROUP BY w.doc_id)
        |SELECT cs.doc_id, cs.format, d.lang, cs.checksum
        |FROM cs JOIN documents d ON d.doc_id = cs.doc_id
        |WHERE (cs.format = 'png' AND cs.checksum BETWEEN 9000 AND 15000)
        |   OR (cs.format = 'wav' AND
        |       cs.checksum BETWEEN 330000 AND 360000)
        |ORDER BY cs.doc_id""".stripMargin,
    "multimodal_frames" ->
      """SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
        |  CAST(least(64, octet_length(encode(text)) - i * 64) AS BIGINT)
        |    AS n_bytes
        |FROM documents,
        |  LATERAL (SELECT unnest(generate_series(0,
        |    CAST(ceil(octet_length(encode(text)) / 64.0) AS INTEGER) - 1))
        |    AS i)
        |WHERE i % 2 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "text_pii_scrub" ->
      """SELECT doc_id, md5(regexp_replace(regexp_replace(
        |  text || ' contact user' || doc_id || '@mail.example or ' ||
        |    '+1-202-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR),
        |    4, '0'),
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |  '\+?[0-9][0-9-]{6,}[0-9]', '<PHONE>', 'g')) AS scrubbed_md5
        |FROM documents ORDER BY doc_id""".stripMargin
  )
  /** The cached batch is value-identical to the indexed batch by the
    * result cache's differential contract — both rows share ONE
    * oracle, so the cache can never pass by replaying stale results. */
  val oracles: Map[String, String] = oraclesBase +
    ("retrieval_bm25_cached_batch" ->
      oraclesBase("retrieval_bm25_indexed_batch"))
}
