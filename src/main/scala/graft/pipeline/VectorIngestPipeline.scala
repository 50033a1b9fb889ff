package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.ops.VectorIndex

/** Streaming vector ingestion into a persisted IVF index
  * ([[graft.ops.VectorIndex]]): arriving embedding micro-batches are
  * assigned to the EXISTING centroids (recentering happens on the
  * periodic rebuild cadence, not per batch — the standard IVF
  * arrangement) and land as batchId-keyed delta partitions:
  *
  *   `<index>/cells_delta/batch=<id>/cell=<c>/...`
  *
  *  - Exactly-once: a replayed micro-batch OVERWRITES its own batch
  *    dir (the SummingStore / CurationPipeline discipline), and readers
  *    admit a batch dir only once its `_SUCCESS` lands — no
  *    at-least-once window, no partial batch scored or folded.
  *  - Probe-compatible: `cell` stays a partition column inside each
  *    batch dir, so an nProbe query prunes delta files exactly like
  *    base files; [[VectorIndex.queryIvf]] unions the delta
  *    automatically.
  *  - Bounded small-file growth: [[compactDeltas]] folds accumulated
  *    batch dirs into the base cells on a maintenance cadence (the
  *    same role a MergeTree part merge plays).
  */
object VectorIngestPipeline {

  /** Arriving-vector schema for the JSON file source. */
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  def deltaDir(indexPath: String): String = s"$indexPath/cells_delta"

  /** One micro-batch: assign to existing centroids, land in the
    * batch's own delta dir (idempotent under replay), and — when the
    * index has a PQ half — residual-encode the same rows with the
    * EXISTING codebooks into a code-delta dir beside it, so the ADC
    * probe scans bytes (not floats) for uncompacted arrivals too.
    * Pre-codebook arrivals stay float-only and score exactly; a crash
    * between the two writes is healed by the replay (both dirs are
    * batchId-keyed overwrites) and is read-safe meanwhile (a code dir
    * without `_SUCCESS` + books-id stamp is treated as uncoded).
    *
    * An EMPTY micro-batch (a blank file in the drop dir, a filtered
    * source) writes nothing at all: a rows-less batch dir holds only
    * `_SUCCESS`, and a parquet read of such a dir alone throws
    * schema-inference errors downstream (the delta coverage split
    * reads batch subsets, not always the full glob) — and there is
    * nothing to land anyway; a replay of the empty batch is equally
    * a no-op (review-caught regression: the encode re-read crashed
    * the stream on exactly this input). */
  def ingestBatch(batch: DataFrame, indexPath: String,
      batchId: Long): Unit = {
    if (batch.isEmpty) return
    val assigned = VectorIndex.assignCells(batch, indexPath)
    import graft.scale.CommitProtocol.{run, step}
    run("ivf-ingest", Seq(
      step("write-float-delta") {
        assigned
          .write.mode(SaveMode.Overwrite)
          .partitionBy("cell")
          .parquet(s"${deltaDir(indexPath)}/batch=$batchId")
      },
      // a crash between the two writes leaves floats-without-codes:
      // the batch scores through the EXACT path until the replay
      // recovers it (both dirs are batchId-keyed overwrites)
      step("encode-code-delta") {
        // re-read the landed batch rather than re-running the
        // assignment (one extra narrow scan of a micro-batch vs
        // recomputing the centroid probe; also guarantees codes cover
        // EXACTLY the rows the float dir committed)
        val landed = batch.sparkSession.read
          .parquet(s"${deltaDir(indexPath)}/batch=$batchId")
        VectorIndex.encodeDeltaBatch(landed, indexPath, batchId)
      }))
  }

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

  /** Fold accumulated delta batches into the base cell layout and
    * refresh the index fingerprint. Maintenance op: run with no
    * ingest replay or reader in flight (same contract as the
    * append-store compactions). */
  def compactDeltas(spark: SparkSession, indexPath: String): Unit =
    VectorIndex.deltaBatches(spark, indexPath).foreach { delta =>
      val fs = graft.scale.Hdfs.of(spark, indexPath)
      import graft.scale.CommitProtocol.{run, step}
      run("ivf-compact", Seq(
        // a crash after this step leaves the folded rows in BOTH base
        // and delta — the DETECTABLE state the maintenance contract
        // keys on (check the delta dirs before retrying)
        step("append-deltas-to-base-cells") {
          delta.select(col("vec_id"), col("embedding"), col("c_norm"),
              col("cell"))
            .write.mode(SaveMode.Append)
            .partitionBy("cell")
            .parquet(s"$indexPath/cells")
        },
        // code deltas die with their float batches (the folded rows
        // get re-covered by the next refreshPq, which the grown
        // base-count fingerprint forces). Deleted FIRST: a crash in
        // between leaves floats without codes (exact-scored, correct),
        // never codes without floats
        step("delete-code-deltas") {
          fs.delete(new Path(VectorIndex.pqDeltaDir(indexPath)), true)
        },
        step("delete-float-deltas") {
          fs.delete(new Path(deltaDir(indexPath)), true)
        },
        step("refresh-meta") {
          val total = spark.read.parquet(s"$indexPath/cells").count()
          val nCells =
            spark.read.parquet(s"$indexPath/centroids").count()
          val out = fs.create(new Path(s"$indexPath/_graft_meta"), true)
          try out.write(s"rows=$total;cells=$nCells"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
        }))
    }
}
