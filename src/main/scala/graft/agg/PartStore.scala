package graft.agg

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.scale.PartLog

/** The shell of the five append-log agg engines ([[SummingStore]],
  * [[CollapsingStore]], [[SketchStore]], [[QuantileStore]],
  * [[CountMinStore]]): the keyed append, the parts read and the
  * compact, each written once over a [[PartLog]], the only place the
  * manifest protocol lives. An engine supplies its merge and its
  * public reads.
  *
  * Correctness never depends on compaction: every read merges, so rows
  * sharing a key may sit in any number of parts. Compaction only bounds
  * the parts a read scans, and a read racing it sees one complete view.
  */
abstract class PartStore(path: String) {
  private val log = new PartLog(path)

  /** The engine's merge: the parts' rows folded to one row per stored
    * key, in the parts' columns. It is also the fold's merge. */
  protected def merge(parts: DataFrame): DataFrame

  /** Append one block as part `batchId`. A replayed batch rewrites its
    * own part (exactly-once per epoch); an id the last compaction
    * already folded is refused. */
  def append(block: DataFrame, batchId: Long): Unit =
    log.append(block, batchId)

  /** The visible parts, unmerged. */
  def parts(spark: SparkSession): DataFrame = log.read(spark)

  /** Background-merge analog: fold every visible part into one base
    * through [[merge]]. */
  def compact(spark: SparkSession): Unit = log.compact(spark)(merge)
}
