package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.EditDistanceFunctions

/** Deduplication operators for a training-data pipeline.
  *
  * Four families, in increasing scale-sophistication:
  *  - exact: hash-groupBy on a canonical fingerprint — one shuffle on the
  *    hash, fully scalable.
  *  - n-gram Jaccard (exact pairwise): ground truth for near-dup pairs.
  *    Quadratic — correct at test scale and used as the oracle; at 100 TB
  *    you run [[minHashCandidates]] first and only verify candidates.
  *  - MinHash + LSH banding: the scale path. One pass to signatures
  *    (map-side-combined min aggs), explode to band keys, shuffle on
  *    (band, signature) — near-dup candidates without any cross join.
  *  - SimHash: 64-bit fingerprints + pigeonhole banding for Hamming
  *    candidates — cheapest per-doc state, good for streaming dedup.
  */
object Dedup {

  /** Exact duplicate groups by canonical content fingerprint. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(TextAnalysis.fingerprint(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("dup_count"), min(col("doc_id")).as("keeper_id"))

  /** Size-ratio prefilter: |A∩B|/|A∪B| >= t implies |A| >= t*|B| (and
    * symmetrically), so this join predicate provably drops no qualifying
    * pair — pure pruning before the expensive set ops. */
  private def sizeCompatible(t: Double): Column =
    col("a.n_sh") >= ceil(col("b.n_sh") * t) &&
      col("b.n_sh") >= ceil(col("a.n_sh") * t)

  /** doc_id + shingle array, with tokens materialized in their own
    * projection so the shingle transform reads a bound array attribute
    * (inline tokenization re-runs the split regex per shingle — see
    * [[TextAnalysis.shinglesFromTokens]]). */
  private[ops] def withShingles(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        TextAnalysis.shinglesFromTokens(col("toks"), n).as("sh"))
      .withColumn("n_sh", size(col("sh")))

  /** Exact n-gram Jaccard near-dup pairs (doc_a < doc_b, jaccard >= t).
    * Quadratic self-join with the size prefilter; ground truth at test
    * scale.
    */
  def jaccardPairs(docs: DataFrame, n: Int, t: Double): DataFrame = {
    val sh = withShingles(docs, n)
    sh.as("a").join(sh.as("b"),
        col("a.doc_id") < col("b.doc_id") && sizeCompatible(t))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        round(
          size(array_intersect(col("a.sh"), col("b.sh"))).cast("double")
            / size(array_union(col("a.sh"), col("b.sh"))), 4).as("jaccard"))
      .filter(col("jaccard") >= t)
  }

  /** Exact edit-distance near-dup pairs (doc_a < doc_b,
    * 1 - lev/maxlen >= t). The verification metric the shingle families
    * can't express: character-level edits (typo-class changes inside
    * tokens) that word-shingle Jaccard either misses or over-penalizes.
    * Levenshtein is integer-exact, so the score has a single FP divide
    * and is engine-portable; the length prefilter is provably lossless
    * against the ROUNDED keep rule (lev(a,b) >= |len(a)-len(b)|, and
    * the kept set is round(sim,4) >= t, which admits lev up to
    * (1-t+5e-5) x the longer doc — the 5e-5 term is the half-ulp the
    * rounding forgives, and for long docs it exceeds any constant
    * widening, so both the prefilter and the DP band budget for it
    * explicitly; one extra character absorbs the FP product rounding
    * BELOW the exact bound. The slack only over-keeps, and survivors
    * are re-filtered on the exact rounded score). Quadratic in its
    * input like
    * [[jaccardPairs]] — at scale feed it LSH candidates
    * ([[minHashCandidates]]) instead of a corpus; the id-capped slice
    * is the test-oracle anchor.
    */
  def editSimilarPairs(docs: DataFrame, t: Double): DataFrame = {
    // Repartition the streamed side: the pair join is a broadcast
    // nested loop whose post-join levenshtein projection runs with the
    // streamed side's parallelism, and a few hundred capped docs
    // usually arrive as ONE scan partition — which serializes the
    // O(pairs x len^2) DP on one core (measured 73 s -> 2.6 s at
    // sf0.1's 300-doc cap on local[32]).
    val sized = docs.select(col("doc_id"), col("text"),
        length(col("text")).as("n_ch"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    // Banded DP: any pair whose distance exceeds the ROUNDED keep
    // rule's budget — (1 - t + 5e-5) x the longest doc, the 5e-5 being
    // the half-ulp round(...,4) forgives — fails round(sim,4) >= t
    // regardless of its own lengths, so the banded distance
    // ([[graft.functions.LevenshteinWithin]], O(band x len) per pair,
    // -1 past the band) computes the same kept set ~len/band cheaper.
    // A bare (1-t) band pruned exactly-at-threshold
    // pairs once 5e-5 x len outgrew the old constant +2 (docs beyond
    // ~40 k chars). The corpus max is a 1-row driver read, same
    // bounded-collect contract as ops/Dict.
    val maxLen = docs.select(max(length(col("text")))).head() match {
      case r if r.isNullAt(0) => 0
      case r => r.getInt(0)
    }
    val band = (math.floor((1.0 - t + 5e-5) * maxLen) + 2).toInt
    sized.as("a").join(sized.as("b"),
        col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.n_ch") - col("b.n_ch")) <=
            (lit(1.0) - t + lit(5e-5)) *
              greatest(col("a.n_ch"), col("b.n_ch")) + lit(1.0))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        EditDistanceFunctions.levenshtein_within(col("a.text"),
          col("b.text"), band).as("lev"),
        greatest(col("a.n_ch"), col("b.n_ch")).as("max_ch"))
      .filter(col("lev") >= 0) // -1 = distance beyond the band
      .select(col("doc_a"), col("doc_b"),
        round(lit(1.0) - col("lev").cast("double") / col("max_ch"), 4)
          .as("edit_sim"))
      .filter(col("edit_sim") >= t)
  }

  /** MinHash signatures as one `sig` array<long> column: numHashes
    * independent permutations simulated by rehashing a single base
    * shingle hash with the permutation index — each shingle string is
    * hashed ONCE, then the i-th permutation is xxhash64(baseHash, i)
    * over fixed-width longs. Computed per ROW by the native
    * [[graft.functions.MinHashSig]] expression (bit-identical to the
    * explode + min-agg formulation it replaces, pinned by
    * FingerprintParitySpec): the signature pass is now a narrow
    * codegen'd projection — no generate, no aggregation state, no
    * exchange — so at 100 TB each task streams documents straight
    * through. */
  def minHashSignatures(docs: DataFrame, n: Int,
      numHashes: Int): DataFrame =
    withShingles(docs, n)
      .select(col("doc_id"),
        graft.functions.FingerprintFunctions
          .minhash_sig(col("sh"), numHashes).as("sig"))

  /** Exploded LSH band table: one (doc_id, band, sig) row per band,
    * where sig hashes that band's rowsPerBand minhash values. The
    * equi-joinable representation every banding consumer shares —
    * pairwise candidates here, and the persisted incremental store
    * ([[SignatureStore]]), which materializes exactly this frame.
    */
  def bandTable(docs: DataFrame, n: Int = 3, bands: Int = 8,
      rowsPerBand: Int = 4): DataFrame = {
    val sigs = minHashSignatures(docs, n, bands * rowsPerBand)
    // element_at reads the bound `sig` attribute: CollapseProject keeps
    // the (non-cheap) MinHashSig projection separate rather than
    // inlining it once per band reference, so the signature is computed
    // exactly once per doc (asserted by FingerprintParitySpec's
    // plan-shape check).
    val bandStructs = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((0 until rowsPerBand)
          .map(r => element_at(col("sig"), b * rowsPerBand + r + 1)): _*)
          .as("sig"))
    }: _*)
    sigs
      .select(col("doc_id"), explode(bandStructs).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"),
        col("bs.sig").as("sig"))
  }

  /** LSH banding over minhash signatures -> candidate pairs (doc_a <
    * doc_b). bands*rowsPerBand must equal the signature width. Candidate
    * generation is a shuffle on (band, bandHash) + within-bucket pairing;
    * no cross join anywhere.
    */
  def minHashCandidates(docs: DataFrame, n: Int = 3, bands: Int = 8,
      rowsPerBand: Int = 4): DataFrame = {
    // Staged: the band table feeds BOTH sides of the bucket self-join.
    // The old agg-based signature pass ended in a shuffle Exchange that
    // ReuseExchange deduped across the sides; the native expression's
    // narrow plan has no exchange below the join and the small side
    // gets broadcast, so WITHOUT the stage the tokenize+shingle+sign
    // pass appears twice in the executed plan (verified: 2x
    // minhash_sig, zero ReusedExchange). At sf0.1 that duplicate is
    // wall-clock-invisible (the pass is ~0.1 s against the verify
    // joins' floor); the stage is for the 100 TB contract, where
    // re-tokenizing the corpus is the dominant cost and must happen
    // exactly once.
    val exploded = graft.scale.Staging.materialize(
      bandTable(docs, n, bands, rowsPerBand), "minhash-bands")
    exploded.as("a").join(exploded.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** MinHash-LSH near-dup pairs with exact verification of candidates:
    * the production-scale equivalent of [[jaccardPairs]] (recall bounded
    * by the banding curve, ~0.9998 at j=0.9 with 8x4).
    */
  def minHashDedup(docs: DataFrame, n: Int = 3,
      t: Double = 0.8): DataFrame = {
    // Candidate set is tiny (LSH collisions only); materialize it once
    // (localCheckpoint truncates lineage) so the id-prune and the two
    // verify joins don't re-run the whole signature pass.
    val cand = minHashCandidates(docs, n).localCheckpoint(true)
    val ids = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // Semi join pushes the id filter below the shingle projection, so
    // shingle arrays are only computed for candidate docs — and the
    // frame is STAGED because it feeds both verify sides (doc_a and
    // doc_b broadcasts): unstaged, each side re-scanned and
    // re-shingled the candidate docs' text.
    val sh = graft.scale.Staging.materialize(
      withShingles(docs.join(broadcast(ids), Seq("doc_id"),
          "left_semi"), n)
        .select(col("doc_id"), col("sh")), "minhash-verify-sh")
    cand
      .join(broadcast(sh.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("sh", "sh_a")), "doc_a")
      .join(broadcast(sh.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sh", "sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b"))), 4).as("jaccard"))
      .filter(col("jaccard") >= t)
  }

  /** Deduplicated corpus: drop the higher-id side of every near-dup
    * pair (greedy keep-first policy — standard for training-data
    * cleaning; not transitively minimal, but deterministic and
    * single-pass). Uses the LSH path for pairs, anti-join to drop.
    */
  def dropNearDuplicates(docs: DataFrame, n: Int = 3,
      t: Double = 0.8): DataFrame = {
    val dups = minHashDedup(docs, n, t)
      .select(col("doc_b").as("doc_id")).distinct()
    docs.join(broadcast(dups), Seq("doc_id"), "left_anti")
  }

  /** Hard cap on shingles voted per document. Historically this kept
    * the packed-agg formulation's 16-bit bit-vote counters from
    * carrying (32767 * max packed vote < 2^63); the native expression
    * has no overflow constraint, but the cap is KEPT so fingerprints
    * stay bit-identical across the rewrite — longer docs are
    * fingerprinted on their first 32767 (distinct) shingles,
    * deterministic truncation either way.
    */
  private val MaxSimHashShingles = 32767

  /** 64-bit SimHash per document: per-bit majority votes over 3-gram
    * shingle hashes (shingles, not unigrams — documents sharing a
    * vocabulary would otherwise collapse into near-identical hashes).
    * Computed per ROW by the native [[graft.functions.SimHash64]]
    * expression — bit-identical to the packed explode + 16-sum-agg
    * formulation it replaces (FingerprintParitySpec) but with no
    * generate, no agg hash-map, and no exchange: the fingerprint pass
    * is a narrow codegen'd map over the scan, the shape that streams
    * at 100 TB.
    */
  def simHash(docs: DataFrame): DataFrame =
    withShingles(docs, 3)
      .select(col("doc_id"),
        graft.functions.FingerprintFunctions
          .simhash64(col("sh"), MaxSimHashShingles).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance <= maxDist, via
    * pigeonhole banding: split the 64-bit hash into (maxDist+1) chunks —
    * any pair within maxDist must agree on at least one chunk, so
    * chunk-equality join finds all of them without a cross join.
    */
  def simHashPairs(docs: DataFrame, maxDist: Int = 7): DataFrame =
    simHashCandidates(docs, maxDist)
      .distinct()
      .filter(col("hamming") <= maxDist)

  /** The banding half of [[simHashPairs]] — chunk-equality candidate
    * pairs with their hamming distance, BEFORE the distinct+threshold
    * verify. */
  def simHashCandidates(docs: DataFrame, maxDist: Int = 7): DataFrame = {
    val chunks = maxDist + 1
    val width = 64 / chunks
    // Stage the fingerprint pass: the band join below is a SELF-join,
    // and unstaged both sides recompute the scan + shingle + simhash
    // projection (round-15 optimization, guide §1.3 "a self-join runs
    // its input twice"). The staged frame is 2 narrow columns per doc.
    val sh = graft.scale.Staging.materialize(simHash(docs), "simhash-fp")
    val chunkStructs = array((0 until chunks).map { c =>
      struct(lit(c).as("chunk"),
        shiftrightunsigned(col("simhash"), c * width)
          .bitwiseAND(lit((1L << width) - 1)).as("key"))
    }: _*)
    val exploded = sh.select(col("doc_id"), col("simhash"),
        explode(chunkStructs).as("cs"))
      .select(col("doc_id"), col("simhash"),
        col("cs.chunk").as("chunk"), col("cs.key").as("key"))
    exploded.as("a").join(exploded.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
  }
}
