package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The result cache's one load-bearing contract: the cached path
  * returns BIT-IDENTICAL rows to the uncached batch on every input —
  * cold (all miss), warm (all hit), mixed (some of each) — and a
  * changed index (delta append) invalidates by KEY so warm entries for
  * the old index can never serve. */
class Bm25ResultCacheSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, sf0001)

  private def canon(df: DataFrame): Seq[String] =
    df.select(col("query_id"), col("doc_id"), col("score"), col("rank"))
      .collect()
      .map(r => s"${r.getString(0)}|${r.getLong(1)}|${r.getDouble(2)}|${
        r.getLong(3)}")
      .toSeq.sorted

  test("cold == warm == mixed == uncached; repeated query_ids keep " +
      "union-of-terms semantics through the cache") {
    val path = tmpDir("bm25-rc-idx")
    val memo = tmpDir("bm25-rc-memo")
    Bm25.ensurePostings(docs, path)
    val qs = Seq(
      ("a", Seq("key", "join")),
      ("b", Seq("spark", "scan")),
      ("c", Seq("join", "key")), // same termset as "a" (sorted)
      ("a", Seq("scan"))) // repeated id -> union-of-terms
      .toDF("query_id", "terms")
    val uncached = canon(Bm25.scoreTopKIndexedBatch(spark, path, qs, 5))
    val cold = canon(
      Bm25ResultCache.scoreTopKCachedBatch(spark, path, memo, qs, 5))
    assert(cold == uncached)
    val warm = canon(
      Bm25ResultCache.scoreTopKCachedBatch(spark, path, memo, qs, 5))
    assert(warm == uncached)
    // mixed: one cached termset, one brand-new
    val qs2 = Seq(("b", Seq("spark", "scan")), ("d", Seq("merge")))
      .toDF("query_id", "terms")
    val mixed = canon(
      Bm25ResultCache.scoreTopKCachedBatch(spark, path, memo, qs2, 5))
    assert(mixed == canon(Bm25.scoreTopKIndexedBatch(spark, path, qs2, 5)))
    // a different k is a different key, never a truncated replay
    val k3 = canon(
      Bm25ResultCache.scoreTopKCachedBatch(spark, path, memo, qs2, 3))
    assert(k3 == canon(Bm25.scoreTopKIndexedBatch(spark, path, qs2, 3)))
  }

  test("an index change (delta append) invalidates by key: warm " +
      "entries for the old index never serve the grown corpus") {
    val path = tmpDir("bm25-rc-inv")
    val memo = tmpDir("bm25-rc-inv-memo")
    val base = docs.filter(col("doc_id") < 400)
    Bm25.ensurePostings(base, path)
    val qs = Seq(("q", Seq("key", "join"))).toDF("query_id", "terms")
    val before = canon(
      Bm25ResultCache.scoreTopKCachedBatch(spark, path, memo, qs, 5))
    assert(before == canon(Bm25.scoreTopKIndexedBatch(spark, path, qs, 5)))
    val stamp0 = Bm25ResultCache.indexStamp(spark, path)
    // grow the index with a committed delta batch
    Bm25.ingestBatch(docs.filter(col("doc_id") >= 400 &&
      col("doc_id") < 450), path, batchId = 1L)
    val stamp1 = Bm25ResultCache.indexStamp(spark, path)
    assert(stamp0 != stamp1)
    val after = canon(
      Bm25ResultCache.scoreTopKCachedBatch(spark, path, memo, qs, 5))
    val truth = canon(Bm25.scoreTopKIndexedBatch(spark, path, qs, 5))
    assert(after == truth)
    assert(after != before, // the grown corpus genuinely changes scores
      "test corpus too small to distinguish invalidation from replay")
  }

  test("memo compact keeps live keys, drops stale; answers unchanged") {
    val path = tmpDir("bm25-rc-gc")
    val memo = tmpDir("bm25-rc-gc-memo")
    Bm25.ensurePostings(docs, path)
    val live = Seq("key", "join")
    val stale = Seq("spark")
    Seq(("l", live), ("s", stale)).foreach { case (id, ts) =>
      Bm25ResultCache.scoreTopKCachedBatch(spark, path, memo,
        Seq((id, ts)).toDF("query_id", "terms"), 5).count()
    }
    Bm25ResultCache.compact(spark, path, memo,
      liveTermsets = Seq(live), k = 5)
    val qs = Seq(("l", live)).toDF("query_id", "terms")
    assert(canon(Bm25ResultCache.scoreTopKCachedBatch(spark, path,
        memo, qs, 5)) ==
      canon(Bm25.scoreTopKIndexedBatch(spark, path, qs, 5)))
    // the survivors are the memo log's new base, and the view holds
    // nothing else: the live key's rows, the stale key gone
    val log = new graft.scale.PartLog(memo)
    assert(log.view(spark).dirs == Seq(s"$memo/batch=compacted-0"))
    val keys = log.read(spark).select("ts_key").distinct()
      .collect().map(_.getString(0)).toSeq
    assert(keys == Seq(Bm25ResultCache.tsKey(live.sorted, 5,
      Bm25ResultCache.indexStamp(spark, path))), keys.toString)
  }

  test("a memo without _schema has it recorded by its next call: an " +
      "all-hit call heals it, and the next memo read starts no job") {
    val path = tmpDir("bm25-rc-schema")
    val memo = tmpDir("bm25-rc-schema-memo")
    Bm25.ensurePostings(docs, path)
    val qs = Seq(("q", Seq("key", "join"))).toDF("query_id", "terms")
    val truth = canon(Bm25.scoreTopKIndexedBatch(spark, path, qs, 5))
    assert(canon(Bm25ResultCache.scoreTopKCachedBatch(spark, path, memo,
      qs, 5)) == truth)
    // a memo written before schemas were recorded
    val log = new graft.scale.PartLog(memo)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(log.schemaPath, false))
    // an all-hit call appends nothing, yet records the schema
    assert(canon(Bm25ResultCache.scoreTopKCachedBatch(spark, path, memo,
      qs, 5)) == truth)
    assert(log.view(spark).parts == 1, "the all-hit call appended")
    assert(fs.exists(log.schemaPath), "the call did not record _schema")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val bus = org.apache.spark.sql.graftbridge.ListenerBridge
    spark.sparkContext.addSparkListener(listener)
    try {
      bus.drain(spark.sparkContext)
      jobs.set(0)
      val rows = log.readOption(spark)
      bus.drain(spark.sparkContext)
      assert(jobs.get == 0, s"the memo read started ${jobs.get} jobs")
      assert(rows.exists(_.count() > 0))
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(canon(Bm25ResultCache.scoreTopKCachedBatch(spark, path, memo,
      qs, 5)) == truth)
  }

  test("empty batch and no-terms batch throw the uncached path's " +
      "require; an empty termset ALONGSIDE real ones contributes no " +
      "rows on either path (contract parity, round-12 ADVICE)") {
    val path = tmpDir("bm25-rc-empty")
    val memo = tmpDir("bm25-rc-empty-memo")
    Bm25.ensurePostings(docs, path)
    val empty = Seq.empty[(String, Seq[String])]
      .toDF("query_id", "terms")
    val e1 = intercept[IllegalArgumentException] {
      Bm25ResultCache.scoreTopKCachedBatch(spark, path, memo, empty, 5)
    }
    assert(e1.getMessage.contains("no query terms"))
    val noTerms = Seq(("q", Seq.empty[String]))
      .toDF("query_id", "terms")
    val e2 = intercept[IllegalArgumentException] {
      Bm25ResultCache.scoreTopKCachedBatch(spark, path, memo, noTerms, 5)
    }
    assert(e2.getMessage.contains("no query terms"))
    // mixed: the empty-termset query id yields zero rows, the real one
    // scores — identical on cached and uncached paths, warm or cold
    val mixed = Seq(("q", Seq.empty[String]), ("r", Seq("key", "join")))
      .toDF("query_id", "terms")
    val truth = canon(Bm25.scoreTopKIndexedBatch(spark, path, mixed, 5))
    val cold = canon(
      Bm25ResultCache.scoreTopKCachedBatch(spark, path, memo, mixed, 5))
    val warm = canon(
      Bm25ResultCache.scoreTopKCachedBatch(spark, path, memo, mixed, 5))
    assert(cold == truth && warm == truth)
    assert(!truth.exists(_.startsWith("q|")))
  }
}
