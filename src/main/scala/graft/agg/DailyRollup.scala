package graft.agg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The materialized-view query of the reference's Part 2, as a pure
  * DataFrame -> DataFrame function shared by batch, streaming, and the
  * oracle harness.
  *
  * Reference (kafka+clickhouse.md:221-229):
  * {{{
  * CREATE MATERIALIZED VIEW consumer TO daily AS
  * SELECT toDate(toDateTime(timestamp)) AS day, level, count() AS total
  * FROM queue GROUP BY day, level
  * }}}
  *
  * This is Spark's partial/final hash-agg pair by construction: in batch,
  * Catalyst plans a map-side partial agg + one shuffle on (day, level) +
  * final agg; in streaming, each micro-batch computes partials that
  * `SummingStore.append` persists (SummingMergeTree analog). At 100 TB the
  * map-side combine means the shuffle carries at most
  * |days| x |levels| rows per task, not the raw events.
  */
object DailyRollup {

  /** Epoch-seconds long column -> (day, level, total) partial counts.
    * toDateTime(UInt64) == epoch-seconds cast (kafka+clickhouse.md:225);
    * Spark's long->timestamp cast is also epoch-seconds — exact match.
    */
  def fromQueue(queue: DataFrame): DataFrame =
    queue
      .groupBy(
        to_date(to_timestamp(col("timestamp"))).as("day"),
        col("level"))
      .agg(count(lit(1)).as("total"))

  /** Same rollup over an already-typed timestamp column, parameterized on
    * the (ts, level) column names so the `events` testdata table
    * (ts/event_type) and the reference wire shape both flow through one
    * definition.
    */
  def fromEvents(events: DataFrame, tsCol: String = "ts",
      levelCol: String = "event_type"): DataFrame =
    events
      .groupBy(to_date(col(tsCol)).as("day"), col(levelCol).as("level"))
      .agg(count(lit(1)).as("total"))

  /** The read-side final aggregation (kafka+clickhouse.md:240-243):
    * `SELECT level, sum(total) AS total_count FROM daily GROUP BY level`.
    * Mandatory re-sum — correctness never depends on compaction having
    * run (SummingMergeTree contract, kafka+clickhouse.md:396-401), so
    * `daily` may be the store's unmerged parts.
    */
  def levelTotals(daily: DataFrame): DataFrame =
    daily
      .groupBy(col("level"))
      .agg(sum(col("total")).as("total_count"))
}
