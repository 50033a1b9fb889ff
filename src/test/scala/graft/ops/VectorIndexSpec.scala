package graft.ops

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Persisted IVF index: probes are partition-pruned, results match the
  * ad-hoc ivfTopK dataflow, recall vs brute force is sane.
  */
class VectorIndexSpec extends SparkSpec {

  test("build once, query with partition-pruned probes; recall holds") {
    val corpus = Tables.embeddings(spark, sf0001)
    val path = tmpDir("ivf") + "/index"
    VectorIndex.buildIvf(corpus, path, numCells = 8, refineIters = 1)

    // centroids table is tiny and complete
    assert(spark.read.parquet(s"$path/centroids").count() == 8)
    // every corpus vector landed in exactly one cell
    assert(spark.read.parquet(s"$path/cells").count() == corpus.count())

    val queries = corpus.filter(col("vec_id") < 5)
    val hits = VectorIndex.queryIvf(spark, path, queries, k = 10,
      nProbe = 3)

    // the probe scan is partition-pruned: the cells read < cells total
    val scan = hits.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [cell#"),
      s"no partition pruning on the probe scan:\n$scan")

    // recall vs brute force at the same k
    val exact = Similarity.bruteForceTopK(queries, corpus, 10)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = hits.select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low")

    // and the persisted-index path agrees with the ad-hoc dataflow at
    // the same parameters (same seeds, same refinement)
    val adhoc = Similarity.ivfTopK(queries, corpus, 10, numCells = 8,
        nProbe = 3, refineIters = 1)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx == adhoc)
  }

  test("incremental append: new vectors land in cells and are findable") {
    val corpus = Tables.embeddings(spark, sf0001)
    val base = corpus.filter(col("vec_id") % 2 === 0)
    val delta = corpus.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"))
    val path = tmpDir("ivf-append") + "/index"
    VectorIndex.ensureIvf(base, path, numCells = 8, refineIters = 1)
    graft.pipeline.VectorIngestPipeline.ingestBatch(delta, path, 0L)

    // the arrivals land in the arrival log's cells table; the built
    // cells and the centroids are untouched
    val log = VectorIndex.arrivals(path)
    val v = log.view(spark)
    assert(log.table(spark, v, "cells", v.dirs).count() == delta.count())
    assert(spark.read.parquet(s"$path/cells").count() == base.count())
    assert(spark.read.parquet(s"$path/centroids").count() == 8)
    // base + arrivals cover the corpus, so ensureIvf treats the grown
    // index as current (no rebuild wiping the arrivals)
    val meta = new java.io.File(s"$path/_graft_meta")
    val t1 = meta.lastModified()
    VectorIndex.ensureIvf(corpus, path, numCells = 8)
    assert(meta.lastModified() == t1 &&
      new java.io.File(log.path).exists())

    // appended vectors are retrievable: querying ALL cells must surface
    // exactly the brute-force top-k over the full corpus
    val queries = corpus.filter(col("vec_id") < 3)
    val full = VectorIndex.queryIvf(spark, path, queries, k = 5,
        nProbe = 8)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.bruteForceTopK(queries, corpus, 5)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact,
      "full-probe query after append must equal brute force")
  }

  test("Lloyd refinement: refined-centroid recall not below seeds-only") {
    // The registered sim_cosine_ivf runs one Lloyd sweep over the
    // strided seeds. k-means refinement is meaningful where the data
    // HAS cluster structure (the sf0.001 embeddings are near-random —
    // max pair cosine ~0.48 — so cell purity there is chance either
    // way; same design-regime reasoning as the LSH gates). This gate:
    // on a corpus of 8 true clusters, one Lloyd sweep must not lower
    // recall vs seeds-as-is at the same (numCells, nProbe). Measured
    // numbers recorded in COVERAGE.md.
    import spark.implicits._
    val dim = 32
    val rnd = new scala.util.Random(11)
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val centers = Array.fill(8)(
      unit(Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val corpus = (0L until 480L).map { i =>
      val c = centers((i % 8).toInt)
      (i, unit(c.map(x => x + (0.25 * rnd.nextGaussian()).toFloat)))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(queries, corpus, 10)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(iters: Int): Double = {
      val approx = Similarity.ivfTopK(queries, corpus, 10,
          numCells = 8, nProbe = 2, refineIters = iters)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & approx).size.toDouble / exact.size
    }
    val seeds = recallAt(0)
    val refined = recallAt(1)
    info(s"ivfTopK recall vs brute force: seeds-only=$seeds refined=$refined")
    assert(refined >= seeds,
      s"Lloyd refinement lowered recall: $refined < $seeds")
  }

  test("embDim memoizes per file source and never crosses corpora") {
    import spark.implicits._
    // in-memory frames (LocalRelation leaves) are answered correctly
    // and never cached — their canonicalized plans omit the data, so
    // same-schema/different-dim locals would otherwise collide
    val d16 = (0L until 10L).map(i =>
      (i, Array.fill(16)(1.0f))).toDF("vec_id", "embedding")
    val d64 = (0L until 10L).map(i =>
      (i, Array.fill(64)(1.0f))).toDF("vec_id", "embedding")
    assert(Similarity.embDim(d16) == 16)
    assert(Similarity.embDim(d64) == 64)
    assert(Similarity.embDim(d16) == 16)
    // a non-64-dim FILE corpus and the real table coexist in the cache
    val p16 = tmpDir("dim16") + "/emb16"
    d16.write.parquet(p16)
    val f16 = spark.read.parquet(p16)
    assert(Similarity.embDim(f16) == 16)
    assert(Similarity.embDim(Tables.embeddings(spark, sf0001)) == 64)
    assert(Similarity.embDim(spark.read.parquet(p16)) == 16)
    assert(Similarity.embDim(Tables.embeddings(spark, sf0001)) == 64)
  }
}
