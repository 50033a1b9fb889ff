package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.ops.{Bm25, Rrf, Similarity, VectorIndex}

/** The retrieval stack's incremental capstone: one document stream
  * (text + embedding) maintains the BM25 AND the IVF arrival logs; a hybrid probe mid-stream retrieves arrived docs by keyword
  * and by similarity immediately and exactly; compacting both sides
  * changes no answer; a replayed batch changes no answer.
  */
class RetrievalPipelineSpec extends SparkSpec {

  private val terms = Seq("window", "merge")

  test("stream once, probe hybrid, compact both sides, re-probe: " +
      "identical answers throughout, arrivals retrievable both ways") {
    val docs = Tables.documents(spark, sf0001)
    val emb = Tables.embeddings(spark, sf0001)
    val baseDocs = docs.filter(col("doc_id") < 470)
    val baseVecs = emb.filter(col("vec_id") < 470)
    val bmPath = tmpDir("retr-bm25")
    val ivfPath = tmpDir("retr-ivf")
    Bm25.ensurePostings(baseDocs, bmPath)
    VectorIndex.ensureIvf(baseVecs, ivfPath)

    // arrivals 470..499 carry text AND embedding in one record
    val arrivals = docs.filter(col("doc_id") >= 470)
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"))
      .select(col("doc_id"), col("text"), col("embedding"))
    val src = tmpDir("retr-drop")
    val ckpt = tmpDir("retr-ckpt")
    Files.write(Paths.get(src, "b0.json"),
      arrivals.toJSON.collect().mkString("\n").getBytes)
    RetrievalPipeline.start(spark, src, bmPath, ivfPath, ckpt)
      .awaitTermination(120000)

    // query vector = arrival 480's embedding under a fresh id, so
    // self-exclusion cannot hide it: the nearest neighbor exists ONLY
    // in the vector delta, and must surface densely at sim 1.0
    val probe = emb.filter(col("vec_id") === 480)
      .select(lit(9999L).as("vec_id"), col("embedding"))
    val denseTop = VectorIndex.queryIvf(spark, ivfPath, probe, 1)
      .collect().head
    assert((denseTop.getLong(1), denseTop.getDouble(2)) == ((480L, 1.0)),
      "an arrived vector must be densely retrievable mid-stream")

    // the lexical side over the live index equals a full rebuild
    val lexDirect = Bm25.scoreTopK(docs, terms, 20).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val lexLive = Bm25.scoreTopKIndexed(spark, bmPath, terms, 20)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(lexLive == lexDirect,
      "arrived docs must score lexically like a full rebuild")

    def hybrid(): Seq[(Long, Double, Long)] =
      RetrievalPipeline.hybridTopK(spark, bmPath, ivfPath, terms,
          probe, 10)
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
        .sortBy(_._3)
    val preCompact = hybrid()
    assert(preCompact.nonEmpty)

    // the hybrid probe must BE the fusion of its two live lists —
    // pinning that both sides feed the fusion mid-stream
    val expectedFuse = Rrf.fuse(Seq(
        Bm25.scoreTopKIndexed(spark, bmPath, terms, 20)
          .select(col("doc_id"), col("rank")),
        VectorIndex.queryIvf(spark, ivfPath, probe, 20)
          .select(col("neighbor_id").as("doc_id"), col("rank"))), 10)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      .sortBy(_._3)
    assert(preCompact == expectedFuse)

    // replayed batch (crash-replay analog): same id, same rows, both
    // stores — no answer may move
    RetrievalPipeline.ingestBatch(arrivals, bmPath, ivfPath, 0L)
    assert(hybrid() == preCompact,
      "a replayed batch must overwrite itself in BOTH stores")

    // compact BOTH sides, re-probe: answer-neutral
    RetrievalPipeline.compact(spark, bmPath, ivfPath)
    assert(hybrid() == preCompact,
      "compaction of either store must change no probe answer")
    assert(Seq(Bm25.arrivals(bmPath), VectorIndex.arrivals(ivfPath))
        .forall(_.view(spark).parts == 0),
      "compaction folds every part of both arrival logs")

    // and the dense planted arrival still surfaces from the log's base
    val denseAfter = VectorIndex.queryIvf(spark, ivfPath, probe, 1)
      .collect().head
    assert((denseAfter.getLong(1), denseAfter.getDouble(2))
      == ((480L, 1.0)))
  }

  test("hybridTopKBatch equals a per-query hybridTopK loop exactly — " +
      "one pruned probe per side serves the whole batch") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
    val emb = Tables.embeddings(spark, sf0001)
    val bmPath = tmpDir("retr3-bm25")
    val ivfPath = tmpDir("retr3-ivf")
    Bm25.ensurePostings(docs, bmPath)
    VectorIndex.ensureIvf(emb, ivfPath)
    val qdefs = Seq(
      ("kj", Seq("key", "join", "scan"), 0L),
      ("wm", Seq("window", "merge"), 1L))
    val embOf = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val queries = qdefs
      .map { case (qid, terms, vid) => (qid, terms, embOf(vid)) }
      .toDF("query_id", "terms", "embedding")
    val batch = RetrievalPipeline.hybridTopKBatch(spark, bmPath,
        ivfPath, queries, 10)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    for ((qid, terms, vid) <- qdefs) {
      // same synthetic-id discipline as the batch path, so dense
      // self-exclusion behaves identically
      val probe = Seq(((1L << 40) + 7L, embOf(vid)))
        .toDF("vec_id", "embedding")
      val single = RetrievalPipeline.hybridTopK(spark, bmPath,
          ivfPath, terms, probe, 10)
        .collect()
        .map(r => (qid, r.getLong(0)) ->
          (r.getDouble(1), r.getLong(2))).toMap
      assert(batch.view.filterKeys(_._1 == qid).toMap == single,
        s"batched hybrid for $qid diverges from the per-query probe")
    }
  }

  test("similarity probes prune delta files like base files (cell " +
      "partition filter on both sides of the union)") {
    val emb = Tables.embeddings(spark, sf0001)
    val bmPath = tmpDir("retr2-bm25")
    val ivfPath = tmpDir("retr2-ivf")
    Bm25.ensurePostings(
      Tables.documents(spark, sf0001).filter(col("doc_id") < 490),
      bmPath)
    VectorIndex.ensureIvf(emb.filter(col("vec_id") < 490), ivfPath)
    RetrievalPipeline.ingestBatch(
      Tables.documents(spark, sf0001).filter(col("doc_id") >= 490)
        .join(emb.select(col("vec_id").as("doc_id"), col("embedding")),
          Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("embedding")),
      bmPath, ivfPath, 0L)
    val probe = emb.filter(col("vec_id") === 3)
      .select(lit(9999L).as("vec_id"), col("embedding"))
    val plan = VectorIndex.queryIvf(spark, ivfPath, probe, 5)
      .queryExecution.executedPlan.toString
    // both the base scan and the delta scan must carry the cell
    // partition filter
    val prunedScans = "PartitionFilters: \\[[^\\]]*cell".r
      .findAllIn(plan).size
    assert(prunedScans >= 2,
      s"expected cell pruning on base AND delta scans:\n$plan")
  }

  test("retrieval_service_cap_cached (registered) equals the " +
      "uncached cap entry exactly, cold and warm — the result " +
      "cache's serving differential") {
    def canon(name: String): Seq[String] =
      graft.SparkEntry.queries(name)(spark, sf0001)
        .collect()
        .map(r => s"${r.getString(0)}|${r.getLong(1)}|${
          r.getDouble(2)}|${r.getLong(3)}")
        .toSeq.sorted
    val uncached = canon("retrieval_service_cap")
    val cold = canon("retrieval_service_cap_cached") // misses populate
    val warm = canon("retrieval_service_cap_cached") // hits serve
    assert(cold == uncached)
    assert(warm == uncached)
  }

  test("retrieval_service_cap (registered) equals independent " +
      "per-query hybrid probes on sampled queries — the cap entry's " +
      "differential gate") {
    import spark.implicits._
    // run the REGISTERED entry (at sf0.001 the corpus sits below the
    // 1024 cap: one hybrid query per embedding, 500 queries)
    val full = graft.SparkEntry
      .queries("retrieval_service_cap")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    assert(full.nonEmpty)
    // re-derive the entry's own query definitions and re-ask a sample
    // through the per-query path; the batch must agree exactly (same
    // discipline as the hybridTopKBatch-vs-loop pin, applied to the
    // registered cap entry itself). The pool mirrors the entry by
    // design: if the entry's term derivation changes, this gate fails
    // loudly and both move together.
    val pool = Vector("window", "merge", "spark", "join", "scan",
      "key", "hash", "filter", "batch", "sort", "group", "column",
      "stream", "vector", "query", "table")
    val embOf = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") < 1024)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val bmPath = Bm25.defaultPath(sf0001)
    val ivfPath = VectorIndex.defaultPath(sf0001)
    for (i <- Seq(0L, 37L, 123L, 256L, 499L)) {
      val terms = Seq(pool((i % 16).toInt), pool(((i / 16) % 16).toInt),
        pool(((i / 256) % 16).toInt)).distinct
      val probe = Seq(((1L << 40) + 7L, embOf(i)))
        .toDF("vec_id", "embedding")
      val single = RetrievalPipeline.hybridTopK(spark, bmPath, ivfPath,
          terms, probe, 10)
        .collect()
        .map(r => (f"q$i%04d", r.getLong(0)) ->
          (r.getDouble(1), r.getLong(2))).toMap
      assert(full.view.filterKeys(_._1 == f"q$i%04d").toMap == single,
        s"service cap diverges from the per-query probe for q$i")
    }
  }
}
