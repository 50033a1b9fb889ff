package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.ops.Multimodal
import graft.scale.PartLog

/** Streaming MEDIA ingest: arriving binary payloads (base64 in the
  * JSON topic files — the wire shape a Kafka topic of blobs would
  * carry) decode through the REAL format-dispatching codec stack per
  * micro-batch, good rows land as batchId-keyed stats deltas, and
  * corrupt payloads route to a dead-letter delta with their doc-tagged
  * error — never failing the stream (the EventSource corrupt-record
  * discipline applied to media; the decoders' loud-failure contract is
  * exactly the hook [[Multimodal.extractFeaturesOrDeadLetter]]
  * catches).
  *
  * Scale shape: decode is narrow (parallelism == source partitions,
  * payloads never shuffle); every sink is a [[graft.scale.PartLog]]
  * (stats, rejects, dups, and the phash store), appended batchId-keyed,
  * so a checkpoint replay of any micro-batch overwrites its own parts;
  * a crash between the writes is healed by the replay (stats commit
  * first — a re-run overwrites every part with identical rows). At
  * 100 TB this is the same per-batch contract as the vector-ingest
  * and postings pipelines: per-batch work scales with the ARRIVING
  * rows only, never with the accumulated store.
  */
object MediaPipeline {

  /** Wire schema of the drop-dir JSON lines. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("media_b64", StringType),
    StructField("format", StringType)))

  def statsDir(path: String): String = s"$path/media_stats"
  def rejectsDir(path: String): String = s"$path/media_rejects"

  def dupsDir(path: String): String = s"$path/media_dups"
  def phashStoreDir(path: String): String = s"$path/media_phash"

  /** One micro-batch: base64 -> binary, dead-letter decode through
    * [[Multimodal.MixedRealDecoder]], split into stats + rejects, two
    * batchId-keyed part-log appends on one CommitProtocol run. The
    * decoded frame is a micro-batch — staged once via localCheckpoint
    * so the sinks don't re-decode (the stage-narrow-frames rule: the
    * staged rows are stats-sized, payloads are already dropped).
    *
    * With `phashDedup` on (the image twin of CurationPipeline's
    * near-dup tier): decodable IMAGE payloads additionally fingerprint
    * through [[Multimodal.dHashBits]]; a fingerprint already in the
    * persisted store — or carried by a lower doc_id in the SAME batch
    * — routes the row to the dups delta instead of stats, and fresh
    * fingerprints append to the store. The store probe broadcasts the
    * ARRIVING batch's hashes, never shuffling the store (the
    * SignatureStore discipline); per-batch work scales with arrivals
    * only. Decodable AUDIO rows fingerprint too (round 13): the
    * gain-invariant energy-delta hash lands in the same store as
    * `afp:`-prefixed rows — a re-encoded copy at a different volume
    * dups against its original exactly like a rescaled image re-crawl
    * does. All four writes are batchId-keyed part-log appends on one
    * CommitProtocol run, so a checkpoint replay of any crash window
    * re-lands the batch identically. */
  def ingestBatch(batch: DataFrame, path: String, batchId: Long,
      phashDedup: Boolean = false): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    // Malformed WIRE rows (null doc_id / format — a truncated or
    // schema-drifted JSON line) dead-letter as doc_id -1 instead of
    // NPE-ing the typed conversion and killing the batch
    // (review-caught); a null payload with a valid doc_id flows into
    // the decoder's own doc-tagged failure path.
    val media = batch.select(
      coalesce(col("doc_id"), lit(-1L)).as("doc_id"),
      unbase64(col("media_b64")).as("media"),
      coalesce(col("format"), lit("?")).as("format"))
    val outcomes = Multimodal
      .extractFeaturesOrDeadLetter(spark, media,
        Multimodal.MixedRealDecoder)
      .toDF()
      .localCheckpoint(true) // decode ONCE for all sinks
    try {
      import graft.scale.CommitProtocol.{run, step}
      if (!phashDedup)
        run("media-ingest", Seq(
          step("write-stats-delta") {
            new PartLog(statsDir(path)).append(
              outcomes.filter(col("error").isNull)
                .select(col("doc_id"), col("format"), col("n_bytes"),
                  col("features")),
              batchId)
          },
          step("write-rejects-delta") {
            writeRejects(outcomes, path, batchId)
          }))
      else {
        // fingerprint the decodable IMAGE rows (a second narrow pass
        // over the micro-batch; payload bytes never leave their
        // partition). distinct ids on the join's right side: a
        // duplicated wire doc_id would otherwise MULTIPLY hash rows
        // (n media rows x n outcome rows for the same id —
        // review-caught). The same duplicated-id wire shape can also
        // re-attach a NON-decodable payload (corrupt bytes, or a wav)
        // to a decodable id, so the hash pass runs under the
        // dead-letter contract too: a throwing payload routes to the
        // rejects delta instead of failing the micro-batch forever on
        // checkpoint replay (review-caught).
        val okImages = media.join(
          outcomes.filter(col("error").isNull &&
              col("format").isin("bmp", "png", "jpg", "jpeg"))
            .select(col("doc_id")).distinct(),
          Seq("doc_id"))
        // the AUDIO side of the tier: decodable wav rows fingerprint
        // through the gain-invariant energy-delta hash (`afp:` rows
        // in the same store — the namespace is structurally disjoint
        // from image dHash bit strings, so one probe serves both
        // modalities). Same dead-letter discipline as the image pass.
        val okAudio = media.join(
          outcomes.filter(col("error").isNull &&
              col("format") === "wav")
            .select(col("doc_id")).distinct(),
          Seq("doc_id"))
        val hashOut = Multimodal
          .perceptualHashesOrDeadLetter(spark, okImages)
          .toDF() // (doc_id, format, n_bytes, phash, error)
          .unionByName(Multimodal
            .audioHashesOrDeadLetter(spark, okAudio).toDF())
          .localCheckpoint(true) // hash ONCE for dup split + append
        val hashed = hashOut.filter(col("error").isNull)
          .select(col("doc_id"), col("format"), col("phash"))
        try {
          // SELF-EXCLUDING store probe: a checkpoint replay of this
          // batch must not see its OWN previous append — a crash after
          // append-phash-store would otherwise reroute the batch's
          // fresh rows as dups on replay, breaking replay idempotence
          // (caught by the CommitCrashSpec sweep, exactly the window
          // it exists for). Appends are batchId-keyed, so exclusion
          // is exact.
          val store = visible(spark, phashStoreDir(path), phashSchema,
            without = Some(batchId))
          // store-side probe: semi join against the BROADCAST batch
          // hashes — the store scan stays where it is, nothing store-
          // sized shuffles
          val hitHashes = store.join(
            broadcast(hashed.select(col("phash")).distinct()),
            Seq("phash"), "left_semi").distinct()
          val keeper = hashed.groupBy(col("phash"))
            .agg(min(col("doc_id")).as("keep_id"))
          val dupRows = hashed
            .join(broadcast(hitHashes), Seq("phash"), "left_semi")
            .unionByName(hashed.join(keeper, Seq("phash"))
              .filter(col("doc_id") =!= col("keep_id"))
              .drop("keep_id"))
            .select(col("doc_id"), col("format"), col("phash"))
            .distinct()
            .localCheckpoint(true) // consumed by three steps below
          try {
            run("media-ingest-dedup", Seq(
              step("write-stats-delta") {
                // exclude dups by (doc_id, format), not doc_id alone:
                // under a duplicated wire doc_id, a legitimately
                // decoded NON-image payload (e.g. a wav) sharing the
                // id of a perceptual-dup image must keep its stats
                // row — a doc_id-only anti silently dropped it
                // (review-caught)
                new PartLog(statsDir(path)).append(
                  outcomes.filter(col("error").isNull)
                    .join(dupRows.select(col("doc_id"), col("format")),
                      Seq("doc_id", "format"), "left_anti")
                    .select(col("doc_id"), col("format"), col("n_bytes"),
                      col("features")),
                  batchId)
              },
              step("write-rejects-delta") {
                // feature-pass rejects PLUS hash-pass rejects (the
                // duplicated-id payloads above; a payload can appear
                // in both when both passes threw on it — honest
                // per-pass accounting, the sink is a log)
                writeRejects(outcomes
                  .select(col("doc_id"), col("format"),
                    col("n_bytes"), col("error"))
                  .unionByName(hashOut
                    .select(col("doc_id"), col("format"),
                      col("n_bytes"), col("error"))),
                  path, batchId)
              },
              step("write-dups-delta") {
                new PartLog(dupsDir(path)).append(dupRows, batchId)
              },
              step("append-phash-store") {
                // the batch's KEPT fingerprints (one per new phash)
                new PartLog(phashStoreDir(path)).append(
                  hashed.join(keeper, Seq("phash"))
                    .filter(col("doc_id") === col("keep_id"))
                    .join(broadcast(hitHashes), Seq("phash"), "left_anti")
                    .select(col("phash")),
                  batchId)
              }))
          } finally dupRows.unpersist(false)
        } finally hashOut.unpersist(false)
      }
    } finally outcomes.unpersist(false) // staged blocks die with the
    // batch, not with the stream (SketchPipeline discipline)
  }

  private def writeRejects(outcomes: DataFrame, path: String,
      batchId: Long): Unit =
    new PartLog(rejectsDir(path)).append(
      outcomes.filter(col("error").isNotNull)
        .select(col("doc_id"), col("format"), col("n_bytes"),
          col("error")),
      batchId)

  /** Start the ingest stream over a JSON drop directory. */
  def start(spark: SparkSession, srcDir: String, path: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      phashDedup: Boolean = false): StreamingQuery =
    spark.readStream.schema(mediaSchema).json(srcDir)
      .writeStream
      .queryName("media-ingest")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, path, batchId, phashDedup)
      }
      .start()

  /** All committed stats / rejects across batches (empty-schema-safe:
    * a store with no committed batches reads as an empty frame). */
  def stats(spark: SparkSession, path: String): DataFrame =
    visible(spark, statsDir(path), StructType(Seq(
      StructField("doc_id", LongType),
      StructField("format", StringType),
      StructField("n_bytes", IntegerType),
      StructField("features", ArrayType(DoubleType)))))

  def rejects(spark: SparkSession, path: String): DataFrame =
    visible(spark, rejectsDir(path), StructType(Seq(
      StructField("doc_id", LongType),
      StructField("format", StringType),
      StructField("n_bytes", IntegerType),
      StructField("error", StringType))))

  private val phashSchema = StructType(Seq(
    StructField("phash", StringType)))

  /** Perceptual duplicates routed by the dedup tier. */
  def dups(spark: SparkSession, path: String): DataFrame =
    visible(spark, dupsDir(path), StructType(Seq(
      StructField("doc_id", LongType),
      StructField("format", StringType),
      StructField("phash", StringType))))

  /** The log's visible parts, less part `without` if given; a log
    * with no visible part reads as an empty frame of `schema`. */
  private def visible(spark: SparkSession, dir: String,
      schema: StructType, without: Option[Long] = None): DataFrame =
    new PartLog(dir).readOption(spark, without).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))
}
