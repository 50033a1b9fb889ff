package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.ops.VectorIndex

/** Streaming vector ingestion into a persisted IVF index
  * ([[graft.ops.VectorIndex]]): arriving embedding micro-batches are
  * assigned to the EXISTING centroids (recentering happens on the
  * periodic rebuild cadence, not per batch — the standard IVF
  * arrangement) and land as parts of the index's arrival log
  * ([[VectorIndex.arrivals]]):
  *
  *   `<index>/arrivals/batch=<id>/{cells,codes}/cell=<c>/...`
  *
  *  - Exactly-once: a replayed micro-batch OVERWRITES its own part, and
  *    readers admit a part only once its `_SUCCESS` lands, after both
  *    tables — no at-least-once window, no partial batch scored or
  *    folded.
  *  - Probe-compatible: `cell` stays a partition column inside each
  *    part's tables, so an nProbe query prunes arrival files exactly
  *    like base files; [[VectorIndex.queryIvf]] unions the arrivals
  *    automatically.
  *  - Bounded small-file growth: [[compactDeltas]] folds accumulated
  *    parts into the log's own base on a maintenance cadence (the same
  *    role a MergeTree part merge plays).
  */
object VectorIngestPipeline {

  /** Arriving-vector schema for the JSON file source. */
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** One micro-batch: assign to existing centroids and land as part
    * `batch=<batchId>` (idempotent under replay). When the index has a
    * PQ half, the part also holds the rows' codes under the EXISTING
    * codebooks, so the ADC probe scans bytes (not floats) for
    * uncompacted arrivals too; pre-codebook arrivals stay float-only
    * and score exactly.
    *
    * An EMPTY micro-batch (a blank file in the drop dir, a filtered
    * source) writes nothing at all: there is nothing to land, and a
    * replay of the empty batch is equally a no-op. */
  def ingestBatch(batch: DataFrame, indexPath: String,
      batchId: Long): Unit =
    if (!batch.isEmpty)
      VectorIndex.arrivals(indexPath).append(VectorIndex.arrivalPart(
        VectorIndex.assignCells(batch, indexPath), indexPath), batchId)

  /** Start the ingest stream over a JSON drop directory. The index
    * (centroids + base cells) must already exist — stream arrivals
    * extend a built index, they never seed one. */
  def start(spark: SparkSession, srcDir: String, indexPath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream.schema(vecSchema).json(srcDir)
      .writeStream
      .queryName("vector-ingest")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, indexPath, batchId)
      }
      .start()

  /** Fold the arrival log's parts into the log's own base, re-encoding
    * their codes under the current books. The built cells are never
    * rewritten, so the fold costs O(arrivals). Readers need no pause:
    * every crash window reads the complete old view or the complete
    * new one, and a retried fold is safe ([[graft.scale.PartLog]]).
    * The fold writes the log, so it runs between the micro-batches of
    * the stream that appends to it (one writer per log). */
  def compactDeltas(spark: SparkSession, indexPath: String): Unit = {
    val log = VectorIndex.arrivals(indexPath)
    log.compactParts(spark)(v => VectorIndex.arrivalPart(
      log.table(spark, v, "cells", v.dirs), indexPath))
  }
}
