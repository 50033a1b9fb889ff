package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{PqAdcLut, PqCodebooks}
import graft.functions.PqFunctions.{pq_adc_cosine, pq_encode}

/** Product-quantization ANN (Jégou et al. 2011) — the compression rung
  * between int8 ([[Similarity.quantize]], 4× vs float) and the
  * cell-pruning families (LSH / IVF): vectors become m sub-space
  * centroid codes BYTE-PACKED into one `binary` value (m=16/k=64
  * defaults — the SCAN reads 16 bytes of codes instead of 256 B of
  * floats; k ≤ 256 is enforced so a code is always one unsigned
  * byte), and queries score the whole corpus through per-query lookup
  * tables without touching a float embedding (asymmetric distance
  * computation — the query side stays exact).
  *
  * 100 TB shape, stage by stage:
  *  - TRAIN reads one bounded deterministic sample (`sampleCap` rows,
  *    hash-ordered so the sample is corpus-order-independent) and runs
  *    per-sub-space k-means on the driver — the standard PQ recipe:
  *    codebooks are k·dim doubles regardless of corpus size, and
  *    training cost is sample-bound, never corpus-bound.
  *  - ENCODE is a narrow codegen'd map (one broadcast of the
  *    codebooks, no shuffle) — [[graft.functions.PqEncode]].
  *  - SCORE is a narrow map over the code column producing every
  *    query's ADC cosine in one pass ([[graft.functions.PqAdcCosine]]),
  *    followed by the same single per-query top-k shuffle every other
  *    topK here pays. No cross join exists in the plan; the per-row
  *    fan-out is the posexploded scores array.
  *
  * Composes with IVF: encode the residual (v - centroid) per cell for
  * IVF-PQ; here the flat variant anchors the mechanism.
  */
object Pq {

  /** The query side of a driver-built LUT, shared by [[pqTopK]] and
    * [[VectorIndex.queryIvfPq]]: ids, vectors (exact widenings of the
    * float embeddings) and L2 norms, ordered by vec_id. */
  private[ops] final case class QueryVecs(ids: Array[Long],
      vecs: Array[Array[Double]], norms: Array[Double])

  /** The queries' (vec_id, embedding) rows as one bounded driver read
    * under the shared [[Bm25.MaxBatchQueries]] cap; an over-cap set is
    * refused loudly, tagged with `what`. */
  private[ops] def collectQueryVecs(queries: DataFrame,
      what: String): QueryVecs = {
    val rows = graft.scale.Staging.boundedCollect(
        queries.select(col("vec_id"), col("embedding"))
          .orderBy(col("vec_id")), Bm25.MaxBatchQueries)
      .getOrElse(throw new IllegalArgumentException(s"$what: query set " +
        s"exceeds the ${Bm25.MaxBatchQueries} bounded-collect cap — " +
        "pass the corpus as the corpus, not as queries"))
    val vecs = rows.map(_.getSeq[Float](1).map(_.toDouble).toArray)
    QueryVecs(rows.map(_.getLong(0)), vecs,
      vecs.map(v => math.sqrt(v.map(x => x * x).sum)))
  }

  private val bookCache =
    new java.util.concurrent.ConcurrentHashMap[String, PqCodebooks]()

  /** Train codebooks on a bounded deterministic sample: per sub-space
    * Lloyd with strided seeds, empty cells keep their previous
    * centroid, ties to the lowest index — fully deterministic, no RNG.
    * Memoized per file-backed corpus like [[Similarity.centroids]]. */
  def codebooks(corpus: DataFrame, m: Int = 16, k: Int = 64,
      iters: Int = 8, sampleCap: Int = 4096): PqCodebooks = {
    def compute(): PqCodebooks = {
      val dim = Similarity.embDim(corpus)
      require(dim % m == 0,
        s"pq: dim $dim not divisible into $m sub-spaces")
      val subDim = dim / m
      // Hash-ordered deterministic sample: unbiased w.r.t. storage
      // order, stable across partitionings; vec_id tie-break pins the
      // astronomically-unlikely hash collision.
      val sample: Array[Array[Double]] = corpus
        .select(col("vec_id"), col("embedding"))
        .filter(col("embedding").isNotNull) // see encode()
        .orderBy(xxhash64(col("vec_id")), col("vec_id"))
        .limit(sampleCap)
        .collect()
        .map(_.getSeq[Float](1).map(_.toDouble).toArray)
      require(sample.nonEmpty, "pq: empty corpus")
      val cents = Array.tabulate(m) { s =>
        val base = s * subDim
        val subs = sample.map(v => java.util.Arrays.copyOfRange(
          v, base, math.min(base + subDim, v.length))
          .padTo(subDim, 0.0).toArray)
        trainSubspace(subs, k, iters, subDim)
      }
      val normSq = cents.map(_.map(c => c.map(x => x * x).sum))
      PqCodebooks(m, k, subDim, cents, normSq)
    }
    Similarity.dimCacheKey(corpus) match {
      case Some(key) => bookCache.computeIfAbsent(
        s"$key|m=$m|k=$k|iters=$iters|cap=$sampleCap", _ => compute())
      case None => compute()
    }
  }

  /** Driver-side Lloyd over one sub-space's sample (sample ≤
    * sampleCap, k·subDim state — trivially driver-sized). Shared with
    * the residual (IVF-PQ) trainer in [[VectorIndex]]. */
  private[ops] def trainSubspace(subs: Array[Array[Double]], k: Int,
      iters: Int, subDim: Int): Array[Array[Double]] = {
    val n = subs.length
    val seeded = math.min(k, n)
    var cents = Array.tabulate(seeded)(i =>
      subs((i.toLong * n / seeded).toInt).clone())
    // pad duplicate seeds if k > n — harmless, they attract no points
    if (cents.length < k)
      cents = cents ++ Array.fill(k - cents.length)(cents(0).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](subDim))
      val counts = new Array[Int](k)
      var i = 0
      while (i < n) {
        val v = subs(i)
        var best = 0
        var bestScore = Double.MaxValue
        var j = 0
        while (j < k) {
          val c = cents(j)
          var score = 0.0
          var d = 0
          while (d < subDim) {
            val diff = v(d) - c(d); score += diff * diff; d += 1
          }
          if (score < bestScore) { bestScore = score; best = j }
          j += 1
        }
        val sm = sums(best)
        var d = 0
        while (d < subDim) { sm(d) += v(d); d += 1 }
        counts(best) += 1
        i += 1
      }
      cents = Array.tabulate(k) { j =>
        if (counts(j) == 0) cents(j)
        else sums(j).map(_ / counts(j))
      }
      it += 1
    }
    cents
  }

  /** (vec_id, code) — the encoded corpus, a narrow no-shuffle map. */
  def encode(corpus: DataFrame, m: Int = 16, k: Int = 64,
      iters: Int = 8): DataFrame = {
    val bc = corpus.sparkSession.sparkContext
      .broadcast(codebooks(corpus, m, k, iters))
    // NULL embeddings are not encodable rows: PqEncode's non-nullable
    // identity (all-zero codes) would otherwise score as a genuine
    // centroid-0 reconstruction — a phantom neighbor in the pure-ADC
    // ranking (review-caught). isnotnull on a SCAN column pushes down
    // cleanly (no alias re-inlining hazard).
    corpus.filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        pq_encode(col("embedding"), bc).as("code"))
  }

  /** ADC shortlist scores per query — the scan stage: every corpus
    * row's ADC cosine against every query, (q_idx, neighbor_id,
    * sim_raw) with q_idx the LUT position. Shared by the pure-ADC
    * ranking and the rerank path. */
  private def adcScores(queries: DataFrame, corpus: DataFrame,
      m: Int, k: Int, iters: Int): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cb = codebooks(corpus, m, k, iters)
    val bcCb = spark.sparkContext.broadcast(cb)
    val QueryVecs(qids, qvecs, qnorms) =
      collectQueryVecs(queries, "pq_topk")
    val lut = Array.tabulate(qids.length) { qi =>
      val qv = qvecs(qi)
      Array.tabulate(cb.m) { s =>
        val base = s * cb.subDim
        Array.tabulate(cb.k) { j =>
          val c = cb.cents(s)(j)
          var acc = 0.0
          var d = 0
          val lim = math.min(cb.subDim, math.max(0, qv.length - base))
          while (d < lim) { acc += qv(base + d) * c(d); d += 1 }
          acc
        }
      }
    }
    val bcLut = spark.sparkContext.broadcast(
      PqAdcLut(qids, qnorms, lut, cb.centNormSq))
    val qmap = qids.zipWithIndex
      .map { case (id, i) => (i, id) }.toSeq.toDF("q_idx", "query_id")
    val scored = corpus
      .filter(col("embedding").isNotNull) // see encode()
      .select(col("vec_id").as("neighbor_id"),
        posexplode(pq_adc_cosine(
          pq_encode(col("embedding"), bcCb), bcLut))
          .as(Seq("q_idx", "sim_raw")))
    (scored, qmap)
  }

  /** PQ top-k, same output shape as [[Similarity.bruteForceTopK]]
    * (query_id, neighbor_id, sim, rank).
    *
    * `rerank = 0`: pure ADC ranking — sim is the 4-decimal ADC cosine.
    * Cheapest, but on a flat similarity spectrum (near-random vectors)
    * quantization error reshuffles tight ranks.
    *
    * `rerank = R > 0` (the production shape, and what the registered
    * query runs): ADC prunes the corpus to the top R candidates per
    * query, then ONLY those R rows are re-scored exactly against the
    * float embeddings (semi-join on the candidate ids — the full
    * corpus's float column is never read into the scoring join) and
    * the final top-k ranks on the exact cosine. This is the
    * shortlist-then-verify discipline every approximate family here
    * follows (LSH candidates → exact Jaccard; IVF cells → exact
    * cosine); recall = P(true top-k ∈ ADC top-R), gated in PqSpec.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, topK: Int,
      m: Int = 16, k: Int = 64, iters: Int = 8,
      rerank: Int = 64): DataFrame = {
    val (scored0, qmap) = adcScores(queries, corpus, m, k, iters)
    if (rerank > 0) {
      // per-query heap shortlist (round 14): the ADC scan scores the
      // WHOLE corpus per query, so a q_idx-partitioned rank window is
      // the hot-partition shape at scale. The heap's fixed-point key
      // rounds sim_raw to 7 decimals — far below ADC's own
      // approximation error, and the shortlist feeds an EXACT rerank,
      // so a sub-1e-7 near-tie swap can only exchange candidates the
      // recall gate treats identically.
      // Staged: the shortlist (≤ |queries| x R rows) feeds a count
      // (the broadcast guard) and the candidate join — unstaged, the
      // whole ADC scan would run twice.
      val shortlist = graft.scale.Staging.materialize(
        graft.ops.GroupTopN.rankByScore(scored0, Seq(col("q_idx")),
            col("sim_raw"), col("neighbor_id"), rerank, decimals = 7,
            scoreName = "sim_raw", idName = "neighbor_id")
        .join(broadcast(qmap), Seq("q_idx"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id")), "pq-shortlist")
      // exact re-rank of candidates only: the guarded-broadcast
      // shortlist semi-joins the corpus so ONLY candidate rows' float
      // vectors are read into the scoring join; query vectors are the
      // always-small broadcast side.
      val cand = graft.scale.Staging.guardedBroadcast(shortlist)
        .join(corpus.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("c_emb")), Seq("neighbor_id"))
      val qside = queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))
      val exact = cand.join(broadcast(qside), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(Similarity.cosine(col("q_emb"), col("c_emb")), 4)
            .as("sim"))
      rankSim4(exact, topK)
    } else {
      val scored = scored0
        .join(broadcast(qmap), Seq("q_idx"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim_raw"), 4).as("sim"))
      rankSim4(scored, topK)
    }
  }

  /** Per-query exact top-k on a 4-decimal-rounded sim — the
    * rank-window replacement (heap selection, exact fixed-point
    * equivalence: [[graft.ops.GroupTopN.rankByScore]]). */
  private def rankSim4(scored: DataFrame, k: Int): DataFrame =
    graft.ops.GroupTopN.rankByScore(scored, Seq(col("query_id")),
        col("sim"), col("neighbor_id"), k, decimals = 4,
        scoreName = "sim", idName = "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        col("rank"))

}
