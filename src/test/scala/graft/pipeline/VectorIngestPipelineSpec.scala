package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions.{vec_dot, vec_norm}
import graft.ops.VectorIndex

/** Streaming IVF ingestion contract: streamed micro-batches join the
  * probed corpus (full-probe results equal brute force over the GROWN
  * corpus), a replayed batch overwrites itself rather than
  * double-ingesting, and delta compaction changes no answer.
  */
class VectorIngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8

  private def emb(id: Long): Seq[Float] =
    (0 until dim).map(j =>
      (((id * 31 + j * 17) % 13).toFloat - 6f) / 6f + 0.05f * (j + 1))

  private def vecsDF(ids: Seq[Long]) =
    ids.map(i => (i, emb(i))).toDF("vec_id", "embedding")

  private def writeJson(dir: String, name: String, ids: Seq[Long]): Unit = {
    val lines = ids.map(i =>
      s"""{"vec_id":$i,"embedding":[${emb(i).mkString(",")}]}""")
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes)
  }

  /** Brute-force twin of queryIvf's scoring (same expressions, same
    * rounding, same tie-break) over an explicit corpus. */
  private def brute(corpusIds: Seq[Long], queryIds: Seq[Long], k: Int) = {
    val corpus = vecsDF(corpusIds)
      .select(col("vec_id"), col("embedding"),
        vec_norm(col("embedding")).as("c_norm"))
    val qs = vecsDF(queryIds)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"),
        vec_norm(col("embedding")).as("q_norm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    qs.crossJoin(corpus)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(vec_dot(col("q_emb"), col("embedding"))
          / (col("q_norm") * col("c_norm")), 4).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3)))
      .sortBy(t => (t._1, t._4)).toSeq
  }

  test("streamed vectors are probed; replay and compaction change nothing") {
    val base = tmpDir("vecingest")
    val idx = s"$base/idx"
    val src = s"$base/src"
    Files.createDirectories(Paths.get(src))
    VectorIndex.ensureIvf(vecsDF(0L until 40L), idx,
      numCells = 4, refineIters = 1)

    // two arrival waves, one AvailableNow run each (batch 0 then 1)
    writeJson(src, "b1.json", 40L until 50L)
    VectorIngestPipeline.start(spark, src, idx, s"$base/ck")
      .awaitTermination()
    writeJson(src, "b2.json", 50L until 60L)
    VectorIngestPipeline.start(spark, src, idx, s"$base/ck")
      .awaitTermination()

    val queryIds = Seq(3L, 41L, 57L)
    def ivf() = VectorIndex.queryIvf(spark, idx, vecsDF(queryIds),
        k = 5, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        col("rank"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3)))
      .sortBy(t => (t._1, t._4)).toSeq

    // full probe (nProbe = numCells) must equal brute force over the
    // GROWN corpus — base + both streamed batches
    val expected = brute(0L until 60L, queryIds, k = 5)
    assert(ivf() == expected)

    // replay idempotence: re-land batch 0's data under its own id —
    // the batch dir overwrites itself, answers unchanged
    VectorIngestPipeline.ingestBatch(
      spark.read.schema(VectorIngestPipeline.vecSchema)
        .json(s"$src/b1.json"),
      idx, 0L)
    assert(ivf() == expected, "replayed batch must not double-ingest")

    // compaction folds the parts into the arrival log's base; answers
    // unchanged, no part left above it, the built cells untouched
    VectorIngestPipeline.compactDeltas(spark, idx)
    assert(ivf() == expected, "compaction must not change answers")
    val v = VectorIndex.arrivals(idx).view(spark)
    assert(v.parts == 0 && v.dirs == Seq(
      s"${VectorIndex.arrivals(idx).path}/batch=compacted-0"))
    assert(spark.read.parquet(s"$idx/cells").count() == 40)

    // base + arrivals cover the grown corpus: an ensureIvf over the
    // same 60 vectors must NOT trigger a rebuild
    // (probe: centroids file mtimes unchanged)
    val centDir = new java.io.File(s"$idx/centroids")
    val before = centDir.listFiles().map(f =>
      f.getName -> f.lastModified()).toMap
    VectorIndex.ensureIvf(vecsDF(0L until 60L), idx, numCells = 4)
    val after = centDir.listFiles().map(f =>
      f.getName -> f.lastModified()).toMap
    assert(after == before, "ensureIvf must see the grown index as current")
  }

  test("an empty micro-batch is a complete no-op (no batch dir, no " +
      "code dir, no stream crash)") {
    import spark.implicits._
    val idx = tmpDir("vecingest-empty") + "/idx"
    VectorIndex.ensureIvf(vecsDF(0L until 40L), idx, numCells = 4)
    val empty = Seq.empty[(Long, Array[Float])]
      .toDF("vec_id", "embedding")
    // pre-fix this crashed: the encode re-read hit a rows-less batch
    // dir (only _SUCCESS) and schema inference threw, killing the
    // stream; an empty batch must write NOTHING instead
    VectorIngestPipeline.ingestBatch(empty, idx, 7L)
    assert(!new java.io.File(VectorIndex.arrivals(idx).path).exists(),
      "an empty batch must not leave a rows-less part")
    // and the index still answers
    assert(VectorIndex.queryIvf(spark, idx,
      vecsDF(3L until 4L), 5, nProbe = 4).count() == 5)
  }

  test("a float delta without _SUCCESS is neither probed nor folded " +
      "by a compaction") {
    val idx = tmpDir("vecingest-torn") + "/idx"
    VectorIndex.ensureIvfPq(vecsDF(0L until 40L), idx, numCells = 4,
      m = 4, k = 8)
    VectorIngestPipeline.ingestBatch(vecsDF(40L until 50L), idx, 0L)
    // batch 1's append died after both tables landed, before its
    // _SUCCESS. Its one row copies vector 3 under a fresh id, so a
    // probe that admitted it would rank it first for query 3.
    graft.scale.CommitProtocol.crashAfter = Some(("part-append", 2))
    try intercept[graft.scale.CommitProtocol.InjectedCrash] {
      VectorIngestPipeline.ingestBatch(
        Seq((777L, emb(3L))).toDF("vec_id", "embedding"), idx, 1L)
    } finally graft.scale.CommitProtocol.crashAfter = None
    val torn = s"${VectorIndex.arrivals(idx).path}/batch=1"
    assert(Seq("cells", "codes").forall(t =>
      new java.io.File(s"$torn/$t/_SUCCESS").exists()) &&
      !new java.io.File(s"$torn/_SUCCESS").exists())
    val q = vecsDF(Seq(3L))
    def neighbors(): Seq[Long] =
      (VectorIndex.queryIvf(spark, idx, q, k = 5, nProbe = 4).collect() ++
        VectorIndex.queryIvfPq(spark, idx, q, 5, nProbe = 4).collect())
        .map(_.getLong(1)).toSeq
    assert(neighbors().size == 10 && !neighbors().contains(777L),
      s"the torn batch was probed: ${neighbors()}")
    VectorIngestPipeline.compactDeltas(spark, idx)
    val log = VectorIndex.arrivals(idx)
    val v = log.view(spark)
    assert(log.table(spark, v, "cells", v.dirs)
      .filter(col("vec_id") === 777L).isEmpty,
      "the compaction folded the torn batch")
    assert(neighbors().size == 10 && !neighbors().contains(777L))
  }

  test("ensureIvf over a corpus that includes uncompacted arrivals " +
      "keeps the index: the full probe equals brute force and never " +
      "repeats a neighbor") {
    val idx = tmpDir("vecingest-ensure") + "/idx"
    VectorIndex.ensureIvf(vecsDF(0L until 40L), idx, numCells = 4)
    VectorIngestPipeline.ingestBatch(vecsDF(40L until 50L), idx, 0L)
    val centDir = new java.io.File(s"$idx/centroids")
    def mtimes = centDir.listFiles().map(f =>
      f.getName -> f.lastModified()).toMap
    val before = mtimes
    VectorIndex.ensureIvf(vecsDF(0L until 50L), idx, numCells = 4)
    assert(mtimes == before, "base + arrivals cover the corpus")
    val queryIds = Seq(3L, 41L)
    def probe(corpus: Seq[Long]) = {
      val got = VectorIndex.queryIvf(spark, idx, vecsDF(queryIds),
          k = 20, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          col("rank"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      assert(got.groupBy(_._1).values.forall(ns =>
        ns.map(_._2).distinct.size == ns.size),
        s"a neighbor repeats: $got")
      assert(got == brute(corpus, queryIds, k = 20))
    }
    probe(0L until 50L)
    // a corpus the index does not cover rebuilds it and drops the log
    VectorIndex.ensureIvf(vecsDF(0L until 45L), idx, numCells = 4)
    assert(!new java.io.File(VectorIndex.arrivals(idx).path).exists())
    probe(0L until 45L)
  }
}
