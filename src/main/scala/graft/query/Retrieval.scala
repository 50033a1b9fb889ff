package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.PipelineConfig
import graft.pipeline.{DirectPipeline, MaterializedPipeline}

/** The user-facing read API over the engine's own warehouse — the two
  * retrieval shapes the reference exposes (SURVEY.md §3.4 + §3.3 step
  * 6), addressed by PipelineConfig rather than testdata paths.
  */
object Retrieval {

  /** Part-1 retrieval (kafka+clickhouse.md:160-166):
    * {{{
    * SELECT email, event_time FROM email_events
    * WHERE campaign_id = ? AND event_type = 'open'
    * ORDER BY event_time DESC
    * }}}
    * The filter lands on the scan (campaign_id is the leading
    * clustering key -> row-group skipping; event_date partitions prune
    * if the caller also bounds time via [[eventsForDay]]).
    */
  def openedEmails(spark: SparkSession, cfg: PipelineConfig,
      campaignId: String): DataFrame =
    DirectPipeline.emailEvents(spark, cfg)
      .filter(col("campaign_id") === lit(campaignId) &&
        col("event_type") === lit("open"))
      .select(col("email"), col("event_time"))
      .orderBy(col("event_time").desc)

  /** Day-bounded variant: the partition column makes the scan prune to
    * one day directory before any row is read. */
  def eventsForDay(spark: SparkSession, cfg: PipelineConfig,
      yyyymmdd: Int): DataFrame =
    DirectPipeline.emailEvents(spark, cfg)
      .filter(col("event_date") === lit(yyyymmdd))

  /** Part-2 dashboard read (kafka+clickhouse.md:240-243, 464-468):
    * `SELECT level, sum(total) FROM daily GROUP BY level` — the
    * mandatory re-sum over the summing store. */
  def levelTotals(spark: SparkSession, cfg: PipelineConfig): DataFrame =
    MaterializedPipeline.levelTotals(spark, cfg)

  /** Per-day drilldown over the aggregate store (same re-sum contract,
    * keyed finer). */
  def dailyTotals(spark: SparkSession, cfg: PipelineConfig): DataFrame =
    MaterializedPipeline.dailyStore(cfg).read(spark)
      .orderBy(col("day"), col("level"))

  /** MV-vs-raw consistency check (the equivalence the reference's
    * summary table promises, kafka+clickhouse.md:264-272): recompute
    * level totals directly from raw events and diff against the
    * aggregate store. Empty result == consistent. */
  def consistencyDiff(spark: SparkSession, cfg: PipelineConfig): DataFrame = {
    val fromRaw = DirectPipeline.emailEvents(spark, cfg)
      .groupBy(col("event_type").as("level"))
      .agg(count(lit(1)).as("total_count"))
    val fromAgg = MaterializedPipeline.levelTotals(spark, cfg)
    fromRaw.join(fromAgg, Seq("level"), "full_outer")
      .filter(!(fromRaw("total_count") <=> fromAgg("total_count")))
  }
}
