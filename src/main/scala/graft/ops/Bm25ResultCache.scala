package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** ClickHouse query-cache analog for the BM25 serving path (round-11
  * verdict #4's suggested alternative): a PERSISTED memo of
  * per-termset top-k results, keyed by (canonical termset, k, index
  * stamp). A serving batch at the contract cap carries far fewer
  * DISTINCT termsets than requests (398 of 1024 on the registered cap
  * workload) and real query streams repeat termsets across batches —
  * exactly the workload a result cache serves. Hits skip scoring
  * entirely; misses score through the standard
  * [[Bm25.scoreTopKIndexedBatch]] path and their results append to the
  * memo, so the cached path returns BIT-IDENTICAL rows to the uncached
  * one on every input (differential-gated in Bm25ResultCacheSpec, and
  * `retrieval_bm25_cached_batch` hash-matches the same SQL oracle as
  * the uncached batch row).
  *
  * Invalidation is by KEY, never by scan: the ts_key embeds an index
  * STAMP (the postings `_graft_meta` content + the sorted committed
  * delta batch ids + a cache format version), so a rebuilt or
  * delta-grown index simply misses every stale entry — no deletion
  * race with readers; stale rows are dead weight until a memo GC
  * ([[compact]]) drops keys whose stamp is no longer current.
  *
  * Layout: `memoPath/batch=<n>/` parquet (ts_key, doc_id, score, rank)
  * with per-dir `_SUCCESS` — the delta-store discipline: one append
  * job per call (never a write per termset), committed-marker
  * discovery in one glob, torn writes invisible. Single-writer like
  * every ensure* store. At memo sizes where the probe scan dominates,
  * the layout would bucket by ts_key; the probe is a bounded-key
  * `isin` filter either way.
  */
object Bm25ResultCache {

  /** Bump when scoring semantics change: memo entries are keyed by
    * index content, not code version — a scoring change must miss the
    * whole memo rather than replay stale results. */
  val CacheFormatVersion = 1

  /** The index's content stamp: meta bytes + committed delta ids.
    * Any rebuild (meta rows change) or delta append (new batch id)
    * changes the stamp, so every dependent memo key misses cleanly. */
  def indexStamp(spark: SparkSession, path: String): String = {
    val fs = graft.scale.Hdfs.of(spark, path)
    val metaPath = new org.apache.hadoop.fs.Path(s"$path/_graft_meta")
    require(fs.exists(metaPath),
      s"bm25 result cache: no postings index at $path (ensure first)")
    val in = fs.open(metaPath)
    val meta = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    // the SAME committed-delta notion the probe uses (postings AND
    // stats markers both present): a torn ingest that later heals
    // changes probe content, so it must change the stamp too — a
    // postings-only glob here would let a pre-heal memo entry serve
    // the post-heal index (review-caught)
    val deltas = Bm25.completeBatchIds(spark, path)
    s"v$CacheFormatVersion;$meta;${deltas.mkString(",")}"
  }

  /** Memo key of one canonical termset under one index stamp. Terms
    * are length-prefixed before joining so no two distinct termsets
    * share key material regardless of term content - plain joining
    * aliases ("ab","c") with ("a","bc"), the exact ambiguity class
    * the BPE pair keys fixed this round (caught here in review). */
  def tsKey(terms: Seq[String], k: Int, stamp: String): String =
    org.apache.commons.codec.digest.DigestUtils.md5Hex(
      terms.map(t => s"${t.length}:$t").mkString("|") + s";k=$k;$stamp")

  /** The canonicalized batch: per-query termsets, one representative
    * per distinct termset, and each representative's memo key under
    * the CURRENT index stamp. */
  private[graft] case class CanonBatch(
      canon: Seq[(String, Seq[String])],
      repOf: Map[Seq[String], String],
      keyOf: Map[String, String])

  private[graft] def canonicalize(spark: SparkSession, path: String,
      queries: DataFrame, k: Int): CanonBatch = {
    // the SAME bounded read, loud NULL-terms contract and
    // canonicalization as the uncached batch; one representative per
    // distinct termset below
    val canon = Bm25.strictTermsets(queries, "bm25 cached batch")
    // same loud empty-batch contract as the uncached path
    // (Bm25.scoreTopKIndexedBatch's `pairs.nonEmpty` — the documented
    // same-contract promise covers this edge too; round-12 ADVICE)
    require(canon.exists(_._2.nonEmpty), "bm25 batch: no query terms")
    // an EMPTY termset alongside nonempty ones contributes no term
    // pairs on the uncached path (zero output rows for its query_id);
    // keep it out of the hit/miss partition here or a miss sub-batch
    // containing only it would trip the uncached require — parity on
    // both sides of the edge
    val repOf: Map[Seq[String], String] = canon.filter(_._2.nonEmpty)
      .groupBy(_._2)
      .map { case (ts, qs) => (ts, qs.map(_._1).min) }
    val stamp = indexStamp(spark, path)
    val keyOf: Map[String, String] = repOf
      .map { case (ts, rid) => (rid, tsKey(ts, k, stamp)) }
    CanonBatch(canon, repOf, keyOf)
  }

  /** The cached batch path: same contract, columns, and VALUES as
    * [[Bm25.scoreTopKIndexedBatch]] — only the work differs. */
  def scoreTopKCachedBatch(spark: SparkSession, path: String,
      memoPath: String, queries: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    val cb = canonicalize(spark, path, queries, k)
    val canon = cb.canon
    val repOf = cb.repOf
    val keyOf = cb.keyOf
    val memo = readMemo(spark, memoPath)
    val wanted = keyOf.values.toSeq
    val present: Set[String] = memo
      .filter(col("ts_key").isin(wanted: _*))
      .select(col("ts_key")).distinct()
      .collect().map(_.getString(0)).toSet // bounded: <= distinct termsets
    val (hitReps, missReps) = repOf.values.toSeq.distinct
      .partition(rid => present.contains(keyOf(rid)))

    val hits: Option[DataFrame] =
      if (hitReps.isEmpty) None
      else {
        val hitKeys = hitReps.map(r => (keyOf(r), r))
          .toDF("ts_key", "rep_id")
        // duplicate (ts_key, rank) rows can exist after a replayed
        // append; rows are deterministic-identical, distinct collapses
        Some(memo.filter(col("ts_key").isin(
            hitReps.map(keyOf): _*)).distinct()
          .join(broadcast(hitKeys), Seq("ts_key"))
          .select(col("rep_id"), col("doc_id"), col("score"),
            col("rank")))
      }
    val misses: Option[DataFrame] =
      if (missReps.isEmpty) None
      else {
        val tsOf = repOf.map { case (ts, rid) => (rid, ts) }
        val missQueries = missReps.map(r => (r, tsOf(r)))
          .toDF("query_id", "terms")
        val scored = Bm25.scoreTopKIndexedBatch(spark, path,
            missQueries, k)
          .withColumnRenamed("query_id", "rep_id")
          .localCheckpoint(true) // score ONCE for result + memo append
        // rep_id -> ts_key via a broadcast mapping, never a
        // per-termset CASE chain (the round-7 plan-literal lesson:
        // a 398-branch expression bloats and re-analyzes the plan)
        val missKeys = missReps.map(r => (r, keyOf(r)))
          .toDF("rep_id", "ts_key")
        appendMemo(spark, memoPath, scored
          .join(broadcast(missKeys), Seq("rep_id"))
          .select(col("ts_key"), col("doc_id"), col("score"),
            col("rank")))
        Some(scored)
      }
    val repScored = (hits, misses) match {
      case (Some(h), Some(m)) => h.unionByName(m)
      case (Some(h), None) => h
      case (None, Some(m)) => m
      case (None, None) => throw new IllegalStateException(
        "unreachable: empty batch rejected by the no-query-terms require")
    }
    val mapping = canon.filter(_._2.nonEmpty)
      .map { case (qid, ts) => (repOf(ts), qid) }
      .toDF("rep_id", "query_id")
    repScored
      .join(broadcast(mapping), Seq("rep_id"))
      .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
  }

  private val memoSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("ts_key",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("score",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("rank",
      org.apache.spark.sql.types.LongType)))

  private def readMemo(spark: SparkSession, memoPath: String): DataFrame = {
    val fs = graft.scale.Hdfs.of(spark, memoPath)
    val marks = fs.globStatus(
      new org.apache.hadoop.fs.Path(memoPath, "batch=*/_SUCCESS"))
    val committed =
      if (marks == null) Seq.empty
      else marks.toSeq.map(_.getPath.getParent.toString)
    if (committed.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], memoSchema)
    else spark.read.schema(memoSchema).parquet(committed: _*)
  }

  private def appendMemo(spark: SparkSession, memoPath: String,
      rows: DataFrame): Unit = {
    val fs = graft.scale.Hdfs.of(spark, memoPath)
    val marks = fs.globStatus(
      new org.apache.hadoop.fs.Path(memoPath, "batch=*/_SUCCESS"))
    val next =
      if (marks == null || marks.isEmpty) 0L
      else marks.toSeq.flatMap(
        _.getPath.getParent.getName.stripPrefix("batch=").toLongOption)
        .max + 1L
    rows.write.mode(SaveMode.Overwrite)
      .parquet(s"$memoPath/batch=$next")
  }

  /** Memo GC: drop entries whose stamp is no longer the CURRENT
    * index's — stale keys can never hit again (the stamp is in the
    * key), they are pure dead weight. Writes the survivors to a FRESH
    * batch id FIRST, then deletes the superseded dirs (round-12
    * ADVICE: the delete-first order silently emptied the whole memo on
    * a crash between the steps — destroying exactly the warm entries
    * the GC exists to preserve). A crash between the new order's steps
    * leaves survivors transiently duplicated across old+new batches;
    * the hit path's distinct() collapses them and a re-run finishes
    * the delete. Maintenance op, no reader or writer in flight (the
    * compaction contract every store here shares). Current keys are
    * not enumerable from the memo alone, so the caller passes the live
    * termset universe it cares about; keys outside it are dropped. */
  def compact(spark: SparkSession, path: String, memoPath: String,
      liveTermsets: Seq[Seq[String]], k: Int): Unit = {
    val stamp = indexStamp(spark, path)
    val live = liveTermsets
      .map(ts => tsKey(ts.distinct.sorted, k, stamp))
    val memo = readMemo(spark, memoPath)
    val keep = memo.filter(col("ts_key").isin(live: _*)).distinct()
    val fs = graft.scale.Hdfs.of(spark, memoPath)
    // snapshot the superseded dirs BEFORE writing, so the fresh batch
    // is never in its own delete list
    val marks = fs.globStatus(
      new org.apache.hadoop.fs.Path(memoPath, "batch=*/_SUCCESS"))
    val oldDirs =
      if (marks == null) Seq.empty
      else marks.toSeq.map(_.getPath.getParent)
    val next = oldDirs
      .flatMap(_.getName.stripPrefix("batch=").toLongOption)
      .foldLeft(-1L)(math.max) + 1L
    import graft.scale.CommitProtocol.{run, step}
    run("bm25-memo-compact", Seq(
      step("write-survivors") {
        keep.write.mode(SaveMode.Overwrite)
          .parquet(s"$memoPath/batch=$next")
      },
      step("delete-superseded") {
        oldDirs.foreach(d => fs.delete(d, true))
      }))
  }
}
