package graft.scale

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Sampling

/** ClickHouse `SAMPLE BY` storage analog (ref kafka+clickhouse.md:
  * 132-141 creates the MergeTree layout this extends; ClickHouse puts
  * `intHash32(UserID)` inside the PRIMARY KEY so `SAMPLE 1/8` reads
  * ~1/8 of the granules). The Spark-first shape: materialize the
  * Knuth sample key as a physical column and make it the LEADING sort
  * key of a range-partitioned sorted write — a `SAMPLE f` scan is
  * then a contiguous range slab `sample_key < f * 2^32`, pruned at
  * file level (range partitioning) and row-group level (footer
  * min/max under the pushed range predicate). Reading an f-fraction
  * sample costs ~f of the bytes at ANY table size — the whole point
  * of the clause at 100 TB, where a full-scan-then-filter "sample"
  * defeats itself.
  *
  * Sampling is BY ENTITY (the hashed id), not by row: an entity is
  * either wholly in or wholly out of the sample, so per-entity
  * analytics (funnels, retention, per-user aggregates) stay unbiased
  * — the property ClickHouse's SAMPLE BY userID exists for. The key
  * is the engine-portable Knuth hash ([[Sampling.hashKey]]), so a
  * DuckDB oracle reproduces the exact sample population with plain
  * 64-bit math. The public write paths ALWAYS recompute the key from
  * the id (a caller-supplied `sample_key` column is dropped) —
  * membership stays a pure function of the id by construction.
  *
  * The layout is a [[PartLog]]: a folded base plus one part per
  * appended batch (the delta discipline every store in this engine
  * follows, and exactly how ClickHouse itself ingests: each new part is
  * internally sorted by the PK, sampling key included). Each part is
  * range-partitioned and key-sorted like the base, so slab pruning
  * applies per part file (and per row group within) at the batch's
  * grain until [[compact]] folds it in. Visibility, the replay
  * watermark and the reader-safe fold are PartLog's; this object adds
  * the sorted write and the slab scan. Single writer per store (stream
  * OR batch owner), readers unrestricted.
  */
object SampleLayout {

  /** 2^32 — the sample key domain; `SAMPLE f` keeps keys below
    * f * KeyDomain. */
  val KeyDomain: Long = 4294967296L

  /** The materialized sample key: [[Sampling.hashKey]] of the entity
    * id — ONE shared implementation of the engine-portable Knuth
    * hash (overflow-safe over the full long id domain), so the
    * layout, every sampler, and the SQL oracles can never drift. */
  def sampleKey(id: Column): Column = Sampling.hashKey(id)

  /** Canonical per-SF location of the sample-keyed events layout —
    * one derivation shared by the registered query and Bench's
    * pre-build/warm sweep. */
  def defaultPath(sfDir: String): String =
    sys.props("java.io.tmpdir") + "/graft_sampleidx_" +
      sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Range-partition and sort `df` on the sample key, then `sortCols`.
    * `id` = Some(col): recompute `sample_key` from it, dropping any
    * caller-supplied column (the public paths — membership must derive
    * from the id); None: the frame already carries the layout's own key
    * (the compact fold rewriting its own rows). */
  private def sorted(df: DataFrame, id: Option[Column],
      sortCols: Seq[String], files: Int): DataFrame = {
    val keyed = id match {
      case Some(c) =>
        df.drop("sample_key").withColumn("sample_key", sampleKey(c))
      case None =>
        require(df.columns.contains("sample_key"),
          "internal fold frame lost its sample_key column")
        df
    }
    val keys = col("sample_key") +: sortCols.map(col)
    keyed.repartitionByRange(files, keys: _*).sortWithinPartitions(keys: _*)
  }

  /** (Re)build the layout from `df` as the next base. The fold
    * supersedes every part committed before it starts (after a source
    * refresh they are stale by definition) and keeps in-flight readers
    * whole through the rebuild. Disk holds at most two generations: the
    * base this rebuild supersedes lingers as grace until the next write
    * or compact. Batch-owner entrypoint — never run it against a store
    * a stream is maintaining (single-writer discipline). */
  def write(df: DataFrame, path: String, id: Column,
      sortCols: Seq[String] = Nil, files: Int = 16): Unit = {
    new PartLog(path).rebuild(sorted(df, Some(id), sortCols, files))
    // the format before PartLog kept its base in `base_g<g>` and its
    // parts in `b_<id>`; no view reads them, so once the rebuild has
    // published they are dead copies
    val fs = Hdfs.of(df.sparkSession, path)
    fs.listStatus(new Path(path)).map(_.getPath)
      .filter(p => PreviousFormat.matches(p.getName))
      .foreach(fs.delete(_, true))
  }

  private val PreviousFormat = "(base_g|b_)[0-9]+".r

  /** Append a micro-batch as part `batchId`, itself key-sorted so slab
    * pruning holds inside the batch at its own file grain. A replay
    * rewrites the part; an id the last fold covers is refused. */
  def append(batch: DataFrame, path: String, batchId: Long,
      id: Column, sortCols: Seq[String] = Nil, files: Int = 4): Unit =
    new PartLog(path).append(sorted(batch, Some(id), sortCols, files),
      batchId)

  /** `SAMPLE num/den` read over the published view: rows whose sample
    * key falls in the [0, num/den * 2^32) slab. Exact integer
    * threshold arithmetic (num * 2^32 / den with num <= den, no
    * overflow for sane fractions) so Spark and any SQL oracle agree
    * on the population bit-for-bit. Scale estimates by den/num.
    *
    * The grace guarantee is RESOLVE-time: act on the returned frame
    * within one fold cycle. A frame held across two folds loses its
    * files to the fold's retire step and fails as a raw
    * FileNotFoundException (or, under
    * spark.sql.files.ignoreMissingFiles=true, an undercount — don't
    * combine that setting with long-held frames over this store). */
  def sampleScan(spark: SparkSession, path: String, num: Long,
      den: Long): DataFrame = {
    require(num > 0 && num <= den && den <= (1L << 20),
      s"sample fraction $num/$den out of range")
    new PartLog(path).read(spark)
      .filter(col("sample_key") < lit(num * KeyDomain / den))
  }

  /** Fold the visible parts into the next base, re-sorted. `files` and
    * `sortCols` have no defaults: the caller must restate the layout's
    * parameters or the rewrite would silently drop the secondary sort
    * while the ensure stamp still claims it (the Hdfs.ensureStamped
    * failure mode). */
  def compact(spark: SparkSession, path: String, files: Int,
      sortCols: Seq[String]): Unit =
    new PartLog(path).compact(spark)(sorted(_, None, sortCols, files))

  /** Build-once sample-keyed events layout for the registered query.
    * Granularity small enough that slab pruning is observable at test
    * scale; currency = the shared [[Hdfs.ensureStamped]] protocol
    * (the stamp carries a layout version, so layouts of an older
    * format rebuild; v3 layouts record their schema). */
  def ensureEvents(events: DataFrame, path: String): Unit = {
    val fs = Hdfs.of(events.sparkSession, path)
    val files = 16
    val stamp = s"rows=${events.count()};key=knuth(user_id)" +
      s";files=$files;sort=ts;layout=partlog-v3"
    // the manifest is the success marker: the fold publishes it LAST
    // (so a mid-build crash reads as not-current -> rebuild) and,
    // unlike the first base, it survives compaction to later
    // generations
    Hdfs.ensureStamped(fs, new Path(s"$path/_graft_meta"),
      Seq(new PartLog(path).manifestPath), stamp) {
      write(events, path, col("user_id"), Seq("ts"), files)
    }
  }
}
