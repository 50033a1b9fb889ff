package graft.agg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Append-only store of partial aggregates with read-side re-summing —
  * the SummingMergeTree analog (kafka+clickhouse.md:205-211).
  *
  * Contract (kafka+clickhouse.md:396-401): rows sharing the key columns
  * are summed lazily — in ClickHouse at background merge, here by the
  * fold ([[compact]]), which the MV pipeline runs itself
  * ([[graft.pipeline.MaterializedPipeline.FoldFanIn]]), and, always and
  * sufficiently, by the mandatory read-side `groupBy(key).sum` in
  * [[read]]. Correctness never depends on the fold; it only bounds the
  * number of partial rows scanned at read time. Parts, the recorded
  * schema, visibility and the fold are [[graft.scale.PartLog]]'s.
  *
  * This design (append partials, re-sum on read) is deliberately chosen
  * over a stateful streaming aggregation: it reproduces the reference's
  * unbounded-lateness tolerance (a late event lands in its old day bucket
  * whenever it arrives, kafka+clickhouse.md:396-400) which a watermarked
  * stateful agg would violate by dropping late data (SURVEY.md §2 H4).
  *
  * Scale note: partial rows are bounded by (#batches x |key domain|), not
  * by raw event count, so the store stays tiny relative to the stream;
  * the fold keeps read amplification bounded over long runs.
  */
final class SummingStore(path: String, keyCols: Seq[String],
    sumCols: Seq[String]) extends PartStore(path) {

  protected def merge(parts: DataFrame): DataFrame = {
    val aggs = sumCols.map(c => sum(col(c)).as(c))
    parts
      .groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select((keyCols ++ sumCols).map(col): _*)
  }

  /** Merged view: the mandatory read-side re-sum. */
  def read(spark: SparkSession): DataFrame = merge(parts(spark))
}
