package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.agg.{DailyRollup, SummingStore}
import graft.config.PipelineConfig
import graft.ingest.EventSource
import graft.model.Schemas

/** Part 2 of the reference — the flagship continuously-maintained
  * aggregate (kafka+clickhouse.md:174-261), wired Spark-first.
  *
  * Reference chain: Kafka topic -> `queue` (ENGINE=Kafka, JSONEachRow)
  * -> MATERIALIZED VIEW `consumer` runs the day/level GROUP BY over each
  * arriving block -> appends partial counts TO `daily`
  * (SummingMergeTree) -> readers `sum(total)` (kafka+clickhouse.md:
  * 183-194, 221-229, 205-211, 240-243).
  *
  * Spark chain: file-stream of JSON lines (Kafka stand-in) -> from_json
  * -> per-micro-batch [[DailyRollup.fromQueue]] (the MV query, computing
  * *partial* aggregates block-at-a-time exactly like the MV) ->
  * `foreachBatch` append into a [[SummingStore]] -> read-side re-sum.
  * The SummingMergeTree background merge runs from the same
  * `foreachBatch`: before batch N lands, the parts below N are folded
  * into one base once [[FoldFanIn]] of them wait, so a read scans at
  * most the base and [[FoldFanIn]] + 1 parts however old the stream.
  * Structured Streaming *is* incremental view maintenance; the
  * checkpoint is the consumer group's offset store
  * (group.id/auto.offset.reset analog, kafka+clickhouse.md:128-131).
  * batchId-keyed appends give idempotent replay => exactly-once totals.
  */
object MaterializedPipeline {

  /** Parts below the arriving batch that trigger a fold: a constant,
    * chosen from two measurements (perfbench `small_batches`,
    * `--seconds 80`, 4 cores). A fold cost F = 0.29 s: its mv round
    * against the median round. Each visible part added g = 0.22 ms to a
    * read: the slope over 64 reads at 1-32 parts with no fold; in the
    * run with the fold, reads before and after it differed by up to
    * 4 ms a part. At two reads a round, a fan-in K costs about F / K +
    * g x K a round, least at K = sqrt(F / g): 36 at 0.22 ms, 9 at 4 ms.
    * 16 sits between, and keeps the base and the parts under 32 paths,
    * past which Spark lists a read's paths with a Spark job
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`). */
  val FoldFanIn = 16

  def dailyStore(cfg: PipelineConfig): SummingStore =
    new SummingStore(cfg.tablePath("daily"), Seq("day", "level"),
      Seq("total"))

  /** Start the MV: one streaming query writing partial (day, level)
    * counts per micro-batch. */
  def start(spark: SparkSession, cfg: PipelineConfig,
      topicKey: String = "event_tracking",
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Int = 10): StreamingQuery = {
    val store = dailyStore(cfg)
    val queue = EventSource.wellFormed(
      EventSource.decode(
        EventSource.streamRaw(spark, cfg, topicKey, maxFilesPerTrigger),
        Schemas.queueRecord))
    queue.writeStream
      .queryName("consumer") // the MV's name, kafka+clickhouse.md:222
      .option("checkpointLocation", cfg.checkpointDir("consumer"))
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // fold only ids below this batch: a crash before the checkpoint
        // commit replays it, and an id the fold covered would be refused
        store.compact(batch.sparkSession, below = batchId,
          fanIn = FoldFanIn)
        store.append(DailyRollup.fromQueue(batch), batchId)
      }
      .start()
  }

  /** The dashboard read (kafka+clickhouse.md:240-243, 464-468), as the
    * reference writes it: one `sum(total) GROUP BY level` over the
    * visible parts. The sum re-sums across parts, so no (day, level)
    * merge is needed first. */
  def levelTotals(spark: SparkSession, cfg: PipelineConfig): DataFrame =
    DailyRollup.levelTotals(dailyStore(cfg).parts(spark))
}
