package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StringType, StructField, StructType}

import graft.ops.{Bm25, Rrf, VectorIndex}

/** The retrieval stack's incremental story end-to-end: ONE document
  * stream (text + embedding per doc) maintains BOTH halves of a hybrid
  * retrieval index — BM25 postings deltas ([[PostingsPipeline]]'s
  * layout) and IVF cell deltas ([[VectorIngestPipeline]]'s layout) —
  * and [[hybridTopK]] probes both mid-stream, immediately and exactly:
  *
  *  - Exactly-once per store: each micro-batch lands batchId-keyed in
  *    BOTH delta layouts; a replayed batch overwrites its own dirs on
  *    each side independently, so a crash between the two store writes
  *    is healed by the replay (the lexical write is itself
  *    postings-then-stats committed; the vector write is a single
  *    overwrite).
  *  - Probe-compatible: term-bucket pruning applies to postings deltas
  *    and cell pruning to vector deltas exactly as to base files, so
  *    an arrived document is retrievable by keyword AND by similarity
  *    the moment its batch commits — no rebuild, no refresh job.
  *  - Compaction-neutral: folding either side's deltas into its base
  *    ([[Bm25.compactDeltas]] / [[VectorIngestPipeline.compactDeltas]])
  *    changes no probe answer (spec-pinned pre/post equality).
  *
  * This is the maintenance loop of a production RAG serving index
  * expressed as pure data layouts — no index server, just partitioned
  * files both probes prune.
  */
object RetrievalPipeline {

  /** Arriving-document schema: text and embedding ride one record. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType))))

  /** One micro-batch into both stores. Both writes are batchId-keyed
    * and idempotent; order is lexical-then-vector, but replay heals
    * either-half crashes so the order is not load-bearing. */
  def ingestBatch(batch: DataFrame, bmPath: String, ivfPath: String,
      batchId: Long): Unit = {
    Bm25.ingestBatch(batch.select(col("doc_id"), col("text")),
      bmPath, batchId)
    VectorIngestPipeline.ingestBatch(
      batch.select(col("doc_id").as("vec_id"), col("embedding")),
      ivfPath, batchId)
  }

  /** Start the ingest stream over a JSON drop directory. Both base
    * indexes must already exist ([[Bm25.ensurePostings]],
    * [[VectorIndex.ensureIvf]]) — arrivals extend built indexes. */
  def start(spark: SparkSession, srcDir: String, bmPath: String,
      ivfPath: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream.schema(docSchema).json(srcDir)
      .writeStream
      .queryName("retrieval-ingest")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, bmPath, ivfPath, batchId)
      }
      .start()

  /** Hybrid probe of the LIVE index (base + committed deltas on both
    * sides): BM25 top-`perList` by `terms`, dense IVF top-`perList`
    * by `queryVec` (a one-row (vec_id, embedding) frame), fused by
    * reciprocal rank into the top `k`. */
  def hybridTopK(spark: SparkSession, bmPath: String, ivfPath: String,
      terms: Seq[String], queryVec: DataFrame, k: Int,
      perList: Int = 20, nProbe: Int = 4): DataFrame = {
    val lex = Bm25.scoreTopKIndexed(spark, bmPath, terms, perList)
      .select(col("doc_id"), col("rank"))
    val dense = VectorIndex.queryIvf(spark, ivfPath, queryVec,
        perList, nProbe)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    Rrf.fuse(Seq(lex, dense), k)
  }

  /** Fold both sides' deltas into their bases. Maintenance op — run
    * with no ingest replay in flight (each side's documented compact
    * contract). Probe answers are identical before and after. */
  def compact(spark: SparkSession, bmPath: String,
      ivfPath: String): Unit = {
    Bm25.compactDeltas(spark, bmPath)
    VectorIngestPipeline.compactDeltas(spark, ivfPath)
  }

  /** BATCHED hybrid probe — the full retrieval-service request shape:
    * `queries` = (query_id string, terms array<string>, embedding
    * array<float>), one row per hybrid query. The lexical side is ONE
    * bucket-pruned postings probe for the whole batch
    * ([[Bm25.scoreTopKIndexedBatch]]); the dense side is ONE
    * cell-pruned probe of the IVF layout (per-query synthetic vec ids
    * far above the corpus id space, so self-exclusion can never hide
    * a corpus row); fusion keys on (query_id, doc_id)
    * ([[Rrf.fuseBatch]]). Equals a per-query [[hybridTopK]] loop
    * exactly (spec-pinned), at a fraction of the scans.
    */
  def hybridTopKBatch(spark: SparkSession, bmPath: String,
      ivfPath: String, queries: DataFrame, k: Int, perList: Int = 20,
      nProbe: Int = 4): DataFrame = {
    // Build the two halves CONCURRENTLY (round-16, guide §2.6 "overlap
    // independent jobs"): each half's construction runs several
    // driver-blocking actions (bounded collects, the probe stage
    // write, centroid reads) that are fully independent of the other
    // half's — sequential construction paid their sum, concurrent
    // pays the max. Result-identical: both threads only CONSTRUCT
    // DataFrames against the immutable inputs; fusion consumes them
    // exactly as before.
    val (lex, dense) = graft.scale.Staging.inParallel(
      lexicalHalf(spark, bmPath, queries, perList),
      denseHalf(spark, ivfPath, queries, perList, nProbe))
    Rrf.fuseBatch(Seq(lex, dense), k)
  }

  /** [[hybridTopKBatch]] with the lexical half served through the
    * persisted per-termset RESULT CACHE ([[graft.ops.Bm25ResultCache]]
    * — the ClickHouse query-cache analog): repeated termsets across
    * serving batches skip BM25 scoring entirely; values are
    * bit-identical to the uncached batch by the cache's differential
    * contract, so fusion output equals [[hybridTopKBatch]] exactly
    * (spec-pinned). The dense half is uncached: IVF probes are already
    * partition-pruned scans with no per-termset reuse structure. */
  def hybridTopKBatchCached(spark: SparkSession, bmPath: String,
      ivfPath: String, memoPath: String, queries: DataFrame, k: Int,
      perList: Int = 20, nProbe: Int = 4): DataFrame = {
    // same concurrent construction as hybridTopKBatch (guide §2.6);
    // the memo probe/append and the dense probe touch disjoint stores
    val (lex, dense) = graft.scale.Staging.inParallel(
      graft.ops.Bm25ResultCache.scoreTopKCachedBatch(spark, bmPath,
          memoPath, queries.select(col("query_id"), col("terms")),
          perList)
        .select(col("query_id"), col("doc_id"), col("rank")),
      denseHalf(spark, ivfPath, queries, perList, nProbe))
    Rrf.fuseBatch(Seq(lex, dense), k)
  }

  /** The batch's lexical half alone (beside [[denseHalf]]). */
  def lexicalHalf(spark: SparkSession, bmPath: String,
      queries: DataFrame, perList: Int): DataFrame =
    Bm25.scoreTopKIndexedBatch(spark, bmPath,
        queries.select(col("query_id"), col("terms")), perList)
      .select(col("query_id"), col("doc_id"), col("rank"))

  /** The batch's dense half alone — see [[lexicalHalf]]. */
  def denseHalf(spark: SparkSession, ivfPath: String,
      queries: DataFrame, perList: Int, nProbe: Int): DataFrame = {
    import spark.implicits._
    val qrows = graft.scale.Staging.boundedCollect(
        queries.select(col("query_id"), col("embedding")),
        Bm25.MaxBatchQueries)
      .getOrElse(throw new IllegalArgumentException("hybrid batch: " +
        s"query set exceeds the ${Bm25.MaxBatchQueries} bounded-collect cap"))
    // synthetic probe ids: SyntheticBase + position. queryIvf excludes
    // neighbor == query id (self-exclusion), so probe ids must be
    // DISJOINT from corpus vec_ids — a collision would silently hide
    // that corpus row from its own query. 2^40 clears this engine's
    // id spaces (row positions); a caller whose corpus carries ids at
    // or above SyntheticBase must remap before indexing (contract,
    // also noted on SyntheticBase)
    val idMap = qrows.zipWithIndex
      .map { case (r, i) => (SyntheticBase + i, r.getString(0)) }.toSeq
      .toDF("qvec_id", "query_id")
    val qvecs = qrows.zipWithIndex.map { case (r, i) =>
      (SyntheticBase + i, r.getSeq[Float](1))
    }.toSeq.toDF("vec_id", "embedding")
    VectorIndex.queryIvf(spark, ivfPath, qvecs, perList, nProbe)
      .select(col("query_id").as("qvec_id"),
        col("neighbor_id").as("doc_id"), col("rank"))
      .join(broadcast(idMap), Seq("qvec_id"))
      .select(col("query_id"), col("doc_id"), col("rank"))
  }

  /** Base for synthetic dense-probe ids in [[hybridTopKBatch]].
    * CONTRACT: corpus vec_ids must stay below this value (self-
    * exclusion would otherwise hide the colliding corpus row from its
    * own query); corpora with larger id spaces remap before indexing. */
  private val SyntheticBase = 1L << 40
}
