package graft.agg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sign-collapsing append store — the CollapsingMergeTree analog, the
  * last MergeTree engine family without a counterpart here (Summing =
  * [[SummingStore]], Replacing = `scale.Maintenance.latestByKey`,
  * Aggregating = [[SketchStore]]).
  *
  * The ClickHouse pattern: a mutable entity is tracked in an
  * append-only stream by writing, on every change, a `-1`-signed copy
  * of the previous state row and a `+1`-signed copy of the new one;
  * matching ± pairs cancel at background merge, and any read must be
  * sign-weighted to be correct regardless of merge progress. The same
  * split here:
  *
  *   - [[read]] — the mandatory sign-weighted view: per key,
  *     `sum(sign)` as the live-row indicator and `sum(col * sign)`
  *     for every value column, keys with net sign <= 0 dropped
  *     (deleted entities). Correct with ANY interleaving of appends
  *     and compactions, exactly like the reference engine's
  *     `sum(sign)`-style queries.
  *   - [[compact]] — the background-merge analog: its merge nets every
  *     key and drops the keys whose net sign is 0, which physically
  *     cancels matched pairs. Optional; bounds read amplification only.
  *
  * Scale note: store size is bounded by (#changes), not raw event
  * volume, and the read is one map-side-combined aggregate on the
  * key — the same single-shuffle shape as [[SummingStore.read]].
  */
final class CollapsingStore(path: String, keyCols: Seq[String],
    valCols: Seq[String], signCol: String = "sign")
    extends PartStore(path) {

  protected def merge(parts: DataFrame): DataFrame = {
    val aggs = sum(col(signCol)).as(signCol) +:
      valCols.map(c => sum(col(c) * col(signCol)).as(c))
    parts.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .filter(col(signCol) =!= 0)
  }

  /** Sign-weighted merged view: keys whose net sign is <= 0 (fully
    * cancelled / deleted) are dropped; surviving rows carry net
    * values. The net sign is kept as a column — a consumer asserting
    * exactly-one-live-row-per-key checks `sign === 1`. */
  def read(spark: SparkSession): DataFrame =
    merge(parts(spark))
      .filter(col(signCol) > 0)
      .select((keyCols ++ Seq(signCol) ++ valCols).map(col): _*)
}
