package graft.agg

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Append-only store of mergeable AGGREGATE STATES — the
  * AggregatingMergeTree analog, completing the ClickHouse engine-family
  * trio next to [[SummingStore]] (Summing) and
  * `scale.Maintenance.latestByKey` (Replacing).
  *
  * Where SummingStore's partials are plain numbers (additive),
  * AggregatingMergeTree stores opaque `AggregateFunction(...)` states
  * that merge under the aggregate's own combine operation. The Spark
  * analog is a DataSketches HLL state per (key, batch): binary,
  * mergeable with `hll_union_agg`, finalized with
  * `hll_sketch_estimate`. COUNT DISTINCT is the canonical non-additive
  * aggregate: partial distinct counts cannot be summed across batches,
  * but their sketches union losslessly — so the store supports exact
  * re-aggregation semantics at any grouping coarser than the stored
  * key, from state O(lgK) per key instead of O(distinct values).
  */
final class SketchStore(path: String, keyCols: Seq[String],
    lgConfigK: Int = 12) extends PartStore(path) {

  /** Partial states for one block: one HLL sketch of `valueCol` per
    * key. Call inside `foreachBatch` with the batch's rows. */
  def partials(block: DataFrame, valueCol: Column): DataFrame =
    block.groupBy(keyCols.map(col): _*)
      .agg(hll_sketch_agg(valueCol, lit(lgConfigK)).as("state"))

  private def union(parts: DataFrame, by: Seq[String]): DataFrame =
    parts.groupBy(by.map(col): _*)
      .agg(hll_union_agg(col("state"), lit(false)).as("state"))

  protected def merge(parts: DataFrame): DataFrame = union(parts, keyCols)

  /** Merged estimate per stored key: union states across batches, then
    * finalize. The mandatory read-side merge of the Aggregating
    * contract. */
  def read(spark: SparkSession): DataFrame =
    readGrouped(spark, keyCols)

  /** Re-aggregate to a coarser grouping WITHOUT rescanning raw data —
    * the property that makes stored states better than stored numbers:
    * distinct counts roll up by unioning states, never by adding
    * estimates. */
  def readGrouped(spark: SparkSession, groupCols: Seq[String]): DataFrame =
    union(parts(spark), groupCols)
      .select(groupCols.map(col) :+
        hll_sketch_estimate(col("state")).as("distinct_estimate"): _*)
}

/** Append-only store of mergeable QUANTILE states — the second
  * AggregatingMergeTree family member next to [[SketchStore]]'s HLL
  * states (ClickHouse `quantileState(...)` rollups): per-(key, batch)
  * Greenwald-Khanna summaries (see [[QuantileState]]) that union
  * across batches and roll up to coarser keys with the rank-error
  * bound intact — order statistics re-aggregated from O(1/eps)
  * states, never by averaging per-batch quantiles (which is simply
  * wrong) and never by rescanning raw data.
  *
  * Same discipline as [[SketchStore]]: batch-keyed idempotent
  * appends, mandatory read-side merge, optional compaction that only
  * bounds read amplification.
  */
final class QuantileStore(path: String, keyCols: Seq[String],
    relativeError: Double = 0.001) extends PartStore(path) {

  /** Partial states for one block: one quantile state of `valueCol`
    * per key. Call inside `foreachBatch` with the batch's rows. */
  def partials(block: DataFrame, valueCol: Column): DataFrame =
    block.groupBy(keyCols.map(col): _*)
      .agg(QuantileState.stateAgg(valueCol, relativeError).as("qstate"))

  private def union(parts: DataFrame, by: Seq[String]): DataFrame =
    parts.groupBy(by.map(col): _*)
      .agg(QuantileState.mergeAgg(col("qstate")).as("qstate"))

  protected def merge(parts: DataFrame): DataFrame = union(parts, keyCols)

  /** Column name for probability `p`: p50, p99, p99_9. */
  private def probName(p: Double): String =
    "p" + BigDecimal(p * 100).underlying.stripTrailingZeros
      .toPlainString.replace(".", "_").replace("-", "m")

  /** Merged quantiles per stored key. */
  def read(spark: SparkSession, probs: Seq[Double]): DataFrame =
    readGrouped(spark, keyCols, probs)

  /** Re-aggregate to a coarser grouping WITHOUT rescanning raw data:
    * states union under the sketch merge, then finalize each
    * requested quantile. */
  def readGrouped(spark: SparkSession, groupCols: Seq[String],
      probs: Seq[Double]): DataFrame =
    union(parts(spark), groupCols).select(groupCols.map(col) ++
      probs.map(p =>
        QuantileState.value(col("qstate"), p).as(probName(p))): _*)
}

/** Append-only store of mergeable COUNT-MIN states — the
  * point-frequency member of the AggregatingMergeTree family, next to
  * [[SketchStore]] (HLL / distinct) and [[QuantileStore]] (GK /
  * quantiles). Per-(key, batch) CMS sketches of a value column that
  * union EXACTLY across batches (linear sketch — counters add, no
  * bound loosening; see [[CountMinState]]) and roll up to coarser
  * keys, answering "how often did value v occur under group g" from
  * O(depth x width) state per key without rescanning raw data and
  * without materializing the full value-frequency table (which at
  * 100 TB is itself too large to store per grouping).
  *
  * Same discipline as the siblings: batch-keyed idempotent appends,
  * mandatory read-side merge, optional compaction that only bounds
  * read amplification.
  */
final class CountMinStore(path: String, keyCols: Seq[String],
    depth: Int = 4, width: Int = 1024) extends PartStore(path) {

  /** Partial states for one block: one CMS of `valueCol` per key.
    * Call inside `foreachBatch` with the batch's rows. */
  def partials(block: DataFrame, valueCol: Column): DataFrame =
    block.groupBy(keyCols.map(col): _*)
      .agg(CountMinState.stateAgg(valueCol, depth, width).as("cms"))

  private def union(parts: DataFrame, by: Seq[String]): DataFrame =
    parts.groupBy(by.map(col): _*)
      .agg(CountMinState.mergeAgg(col("cms")).as("cms"))

  protected def merge(parts: DataFrame): DataFrame = union(parts, keyCols)

  /** Merged state per stored key. */
  def read(spark: SparkSession): DataFrame = readGrouped(spark, keyCols)

  /** Re-aggregate to a coarser grouping WITHOUT rescanning raw data:
    * states add elementwise under the sketch merge. The result keeps
    * the state column — probe it with [[CountMinState.value]] against
    * any key set. */
  def readGrouped(spark: SparkSession,
      groupCols: Seq[String]): DataFrame =
    union(parts(spark), groupCols)
}
