package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.Bm25

/** Streaming BM25 index maintenance — the lexical twin of
  * [[VectorIngestPipeline]]: arriving documents are tokenized ALONE
  * (the corpus is never re-read) and land as parts of the index's
  * arrival log ([[Bm25.arrivals]]), which [[Bm25.scoreTopKIndexed]]
  * probes alongside the base index, immediately and exactly:
  *
  *  - Exactly-once: a replayed micro-batch OVERWRITES its own part
  *    (postings AND the 1-row stats increment, committed by one
  *    `_SUCCESS`) — no at-least-once window.
  *  - Probe-compatible: `bucket` stays a partition column inside each
  *    part's postings, so a query's term-bucket pruning applies to
  *    arrivals exactly as to base files; df and avgdl are derived at
  *    probe time, so scores over the grown corpus equal a full rebuild
  *    bit-for-bit (spec-pinned).
  *  - Bounded small-file growth: [[Bm25.compactDeltas]] folds
  *    accumulated parts into the log's own base; readers need no pause.
  */
object PostingsPipeline {

  /** Arriving-document schema for the JSON file source. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Start the ingest stream over a JSON drop directory. The base
    * postings must already exist ([[Bm25.ensurePostings]]) — arrivals
    * extend a built index, they never seed one. */
  def start(spark: SparkSession, srcDir: String, indexPath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream.schema(docSchema).json(srcDir)
      .writeStream
      .queryName("postings-ingest")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Bm25.ingestBatch(batch, indexPath, batchId)
      }
      .start()
}
