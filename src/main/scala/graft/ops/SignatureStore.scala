package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.ops.Dedup.{bandTable, withShingles}

/** Persisted MinHash-LSH signature store — the text-dedup twin of
  * [[VectorIndex]]: signatures of the full corpus are computed ONCE and
  * materialized; each arriving batch is deduplicated against the store
  * by an equi-join on (band, sig), then appends its own signatures.
  * This is the arrival-time shape at 100 TB: without the store, every
  * incoming crawl slice would re-shingle and re-hash the entire corpus
  * (the one pass that actually costs at scale); with it, the corpus
  * side is a narrow scan of two longs + an id per band row, and the
  * incoming side — tiny by comparison — is broadcast.
  *
  * Exact verification joins candidate corpus docs' shingles back from
  * the corpus TEXT table (semi-join-pruned to candidates, same shape as
  * [[Dedup.minHashDedup]]): the store never duplicates text, only
  * signatures (numHashes+1 longs per doc per band group).
  */
object SignatureStore {

  /** The band table as [[build]] and [[append]] write it
    * ([[Dedup.bandTable]]), `band` the partition column. The probe reads
    * it with this schema, so no read infers one from Parquet footers. */
  val bandsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sig", LongType),
    StructField("band", IntegerType)))

  /** Build the store: the corpus' exploded band table, written
    * partitioned by band (8-ish dirs — keeps per-band files clustered
    * for the equi-join scan and lets a probe of a signature subset
    * prune). One shingle+hash pass over the corpus, never repeated.
    */
  def build(corpus: DataFrame, path: String, n: Int = 3,
      bands: Int = 8, rowsPerBand: Int = 4): Unit = {
    bandTable(corpus, n, bands, rowsPerBand)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("band")
      .parquet(s"$path/bands")
  }

  /** Build iff a current store isn't on disk — same contract as
    * [[VectorIndex.ensureIvf]]: a `_graft_meta` fingerprint (corpus
    * rows + banding params) guards against silently probing a store
    * built from different data. Lets registered queries amortize the
    * one corpus signature pass across calls. Returns `path`.
    */
  def ensure(corpus: DataFrame, path: String, n: Int = 3,
      bands: Int = 8, rowsPerBand: Int = 4): String = {
    val fs = graft.scale.Hdfs.of(corpus.sparkSession, path)
    graft.scale.Hdfs.ensureStamped(fs, new Path(s"$path/_graft_meta"),
      Seq(new Path(s"$path/bands/_SUCCESS")),
      s"rows=${corpus.count()};n=$n;b=$bands;r=$rowsPerBand") {
      build(corpus, path, n, bands, rowsPerBand)
    }
    path
  }

  /** Append a batch's signatures (call AFTER dedupeIncoming, with the
    * kept docs only, so the store stays duplicate-free). */
  def append(kept: DataFrame, path: String, n: Int = 3,
      bands: Int = 8, rowsPerBand: Int = 4): Unit =
    bandTable(kept, n, bands, rowsPerBand)
      .write.mode(SaveMode.Append)
      .partitionBy("band")
      .parquet(s"$path/bands")

  /** Incoming docs that near-duplicate a stored corpus doc:
    * (doc_id, dup_of, jaccard) with jaccard >= t, verified exactly
    * against `corpusText` (the text table the store indexes). The
    * stored side streams through a broadcast-hash join against the
    * (small) incoming batch's band table — no shuffle, no re-hash of
    * the corpus.
    */
  def dedupeIncoming(incoming: DataFrame, corpusText: DataFrame,
      path: String, n: Int = 3, t: Double = 0.8): DataFrame = {
    val spark = incoming.sparkSession
    val stored = spark.read.schema(bandsSchema).parquet(s"$path/bands")
    val probe = bandTable(incoming, n)
    val cand = stored
      .join(broadcast(probe.withColumnRenamed("doc_id", "in_doc")),
        Seq("band", "sig"))
      .select(col("in_doc"), col("doc_id").as("dup_of"))
      .filter(col("in_doc") =!= col("dup_of"))
      .distinct()
      .localCheckpoint(true)
    // exact verify: shingles only for candidate docs on each side
    val corpusSh = withShingles(
        corpusText.join(broadcast(cand.select(col("dup_of").as("doc_id"))
          .distinct()), Seq("doc_id"), "left_semi"), n)
      .select(col("doc_id").as("dup_of"), col("sh").as("sh_c"))
    val inSh = withShingles(
        incoming.join(broadcast(cand.select(col("in_doc").as("doc_id"))
          .distinct()), Seq("doc_id"), "left_semi"), n)
      .select(col("doc_id").as("in_doc"), col("sh").as("sh_i"))
    cand
      .join(broadcast(inSh), "in_doc")
      .join(corpusSh, "dup_of")
      .select(col("in_doc").as("doc_id"), col("dup_of"),
        round(size(array_intersect(col("sh_i"), col("sh_c"))).cast("double")
          / size(array_union(col("sh_i"), col("sh_c"))), 4).as("jaccard"))
      .filter(col("jaccard") >= t)
  }

  /** One arrival cycle: dedupe the batch against the store, append the
    * kept docs' signatures, return (kept docs, detected dups). */
  def ingest(incoming: DataFrame, corpusText: DataFrame, path: String,
      n: Int = 3, t: Double = 0.8): (DataFrame, DataFrame) = {
    val dups = dedupeIncoming(incoming, corpusText, path, n, t)
      .localCheckpoint(true)
    val kept = incoming.join(
      broadcast(dups.select(col("doc_id")).distinct()),
      Seq("doc_id"), "left_anti")
    append(kept, path, n)
    (kept, dups)
  }

  /** Store row count (diagnostic). */
  def storeSize(spark: SparkSession, path: String): Long = {
    val fs = graft.scale.Hdfs.of(spark, path)
    if (!fs.exists(new Path(s"$path/bands"))) 0L
    else spark.read.schema(bandsSchema).parquet(s"$path/bands").count()
  }
}
