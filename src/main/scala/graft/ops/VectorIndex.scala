package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CentroidFunctions.{centroid_cell, centroid_top_cells}
import graft.functions.VectorFunctions.{vec_dot, vec_norm}

/** Persisted IVF index: build once, query many — the missing half of
  * [[Similarity.ivfTopK]], which recomputes cell assignments on every
  * call. At corpus scale the build is the expensive pass (full scan +
  * k-means refinement), so it becomes a materialized TABLE:
  *
  *  - `<path>/centroids`: numCells rows of (cell, centroid, norm) —
  *    kilobytes, read to the driver at query time;
  *  - `<path>/cells`: the corpus rewritten `partitionBy(cell)` with
  *    per-vector norms precomputed.
  *
  * Because `cell` is a PARTITION column, a probe of nProbe cells
  * compiles to `cell IN (...)` partition pruning — the scan touches
  * only nProbe/numCells of the files, which is what makes a top-k
  * query cheap at 100 TB: no index service, just a layout.
  */
object VectorIndex {

  /** One Lloyd sweep over normalized affinities (same dataflow as
    * Similarity.lloydStep, against this module's seed set). Cell
    * assignment probes the broadcast centroid matrix via the native
    * [[graft.functions.CentroidTopCells]] expression — plan size stays
    * constant in numCells (see that expression's scaladoc). */
  private def lloydStep(corpus: DataFrame, cents: Array[Array[Double]],
      dim: Int): Array[Array[Double]] = {
    val bc = corpus.sparkSession.sparkContext.broadcast(cents)
    val dimAggs = (0 until dim).map(j =>
      avg(element_at(col("embedding"), j + 1)).as(s"d$j"))
    val means = corpus
      .withColumn("cell", centroid_cell(col("embedding"), bc))
      .groupBy(col("cell")).agg(dimAggs.head, dimAggs.tail: _*)
      .collect()
      .map(r => r.getInt(0) ->
        (0 until dim).map(j => r.getDouble(j + 1)).toArray).toMap
    cents.indices.map(i => means.getOrElse(i, cents(i))).toArray
  }

  /** Stable index location for a testdata scale dir (under the JVM
    * temp root — same place the specs stage their tables). */
  def defaultPath(sfDir: String): String =
    sys.props("java.io.tmpdir") + "/graft_ivf_" +
      sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Build the index iff a current one isn't already on disk. "Current"
    * = both halves' _SUCCESS markers exist AND the `_graft_meta` marker
    * records the same corpus fingerprint (row count), so a regenerated
    * testdata dir at the same path triggers a rebuild instead of
    * silently probing a stale index. The fingerprint costs one
    * footer-metadata count() per call — negligible next to a probe.
    * Returns `path`.
    */
  def ensureIvf(corpus: DataFrame, path: String, numCells: Int = 16,
      refineIters: Int = 2): String = {
    val fs = graft.scale.Hdfs.of(corpus.sparkSession, path)
    graft.scale.Hdfs.ensureStamped(fs, new Path(s"$path/_graft_meta"),
      Seq(new Path(s"$path/centroids/_SUCCESS"),
        new Path(s"$path/cells/_SUCCESS")),
      s"rows=${corpus.count()};cells=$numCells") {
      buildIvf(corpus, path, numCells, refineIters)
    }
    path
  }

  /** Build the index: strided seeds -> optional Lloyd refinement ->
    * assign every vector -> write centroids + cell-partitioned corpus.
    * Embedding dim is read from the data.
    */
  def buildIvf(corpus: DataFrame, path: String, numCells: Int = 16,
      refineIters: Int = 2): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = Similarity.embDim(corpus)
    val n = corpus.count()
    val stride = math.max(1L, n / numCells)
    val seeds = corpus.select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") % stride === 0)
      .orderBy(col("vec_id")).limit(numCells)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val cents = (0 until refineIters).foldLeft(seeds)((c, _) =>
      lloydStep(corpus, c, dim))
    val centNorms = cents.map(c => math.sqrt(c.map(x => x * x).sum))
    cents.indices.map(i => (i, cents(i).toSeq, centNorms(i)))
      .toDF("cell", "centroid", "norm")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
    val bc = spark.sparkContext.broadcast(cents)
    corpus
      .withColumn("cell", centroid_cell(col("embedding"), bc))
      .withColumn("c_norm", vec_norm(col("embedding")))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cell")
      .parquet(s"$path/cells")
  }

  /** Incrementally add vectors to an existing index WITHOUT a rebuild:
    * assign each new vector to its nearest existing centroid and append
    * to that cell's partition (dynamic-partition append — only touched
    * cells gain files). This is the arrival path at scale: the
    * full-corpus build amortizes over many appends, and a periodic
    * [[buildIvf]] re-centers drifted centroids (same cadence as any
    * IVF system's retrain). The `_graft_meta` fingerprint is refreshed
    * so [[ensureIvf]] sees the grown corpus as current.
    */
  /** Assign arriving vectors to their nearest EXISTING centroid:
    * returns `newVecs` + (cell, c_norm), ready to land in the index's
    * cell-partitioned layout. Shared by the batch [[appendIvf]] and
    * the streaming ingest path
    * ([[graft.pipeline.VectorIngestPipeline]]). */
  def assignCells(newVecs: DataFrame, path: String): DataFrame = {
    val spark = newVecs.sparkSession
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("cell"), col("centroid"), col("norm"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    val bc = spark.sparkContext.broadcast(cents.map(_._2))
    // the expression returns an INDEX into the broadcast matrix;
    // map it back to the persisted cell id (defensive: ids are
    // contiguous today, but the index never assumes it)
    val cell = element_at(
      array(cents.map(c => lit(c._1)).toIndexedSeq: _*),
      centroid_cell(col("embedding"), bc) + 1)
    newVecs
      .withColumn("cell", cell)
      .withColumn("c_norm", vec_norm(col("embedding")))
  }

  def appendIvf(newVecs: DataFrame, path: String): Unit = {
    val spark = newVecs.sparkSession
    assignCells(newVecs, path)
      .write.mode(SaveMode.Append)
      .partitionBy("cell")
      .parquet(s"$path/cells")
    val fs = graft.scale.Hdfs.of(spark, path)
    val total = spark.read.parquet(s"$path/cells").count()
    val nCells = spark.read.parquet(s"$path/centroids").count()
    val out = fs.create(new Path(s"$path/_graft_meta"), true)
    try out.write(s"rows=$total;cells=$nCells"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** All streamed delta batches under `<path>/cells_delta/batch=*`
    * (written by [[graft.pipeline.VectorIngestPipeline]]), or None if
    * no delta has landed. The batch and cell partition columns are
    * both discoverable; readers prune on cell exactly as on the base
    * layout. */
  def deltaBatches(spark: SparkSession, path: String): Option[DataFrame] = {
    val fs = graft.scale.Hdfs.of(spark, path)
    val root = new Path(s"$path/cells_delta")
    val hasBatches = fs.exists(root) &&
      fs.listStatus(root).exists(_.getPath.getName.startsWith("batch="))
    if (!hasBatches) None
    else Some(spark.read.option("basePath", root.toString)
      .parquet(s"$root/batch=*"))
  }

  /** Code-delta layout for streamed arrivals:
    * `<path>/pq_cells_delta/batch=<id>/cell=<c>` mirrors the float
    * delta layout, holding (vec_id, code) encoded with the PERSISTED
    * codebooks at ingest time — so the ADC probe scans bytes, not
    * floats, for uncompacted arrivals too (the float delta scan was
    * the one remaining full-width path on a hot ingest stream). */
  def pqDeltaDir(path: String): String = s"$path/pq_cells_delta"

  private def readSmallText(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }

  private def booksIdPath(path: String) =
    new Path(s"$path/_graft_pq_books_id")

  /** Identity of the CURRENT persisted codebooks (fresh id per
    * [[refreshPq]]). Delta code batches are stamped with the id they
    * were encoded under; a batch whose stamp no longer matches was
    * encoded with retired books and silently decoding it through the
    * new LUTs would corrupt scores — so it falls back to the exact
    * float path instead ([[deltaByCoverage]]). None = PQ half absent
    * or predates code deltas (then no arrivals are encoded). */
  def currentBooksId(spark: SparkSession, path: String): Option[String] = {
    val fs = graft.scale.Hdfs.of(spark, path)
    if (!fs.exists(new Path(s"$path/pq_books/_SUCCESS"))) None
    else readSmallText(fs, booksIdPath(path))
  }

  /** Read the persisted sub-space codebooks: (m, k, subDim, books). */
  private def loadPqBooks(spark: SparkSession, path: String)
      : (Int, Int, Int, Array[Array[Array[Double]]]) = {
    val bookRows = spark.read.parquet(s"$path/pq_books")
      .select(col("sub"), col("j"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = bookRows.map(_._1).max + 1
    val k = bookRows.map(_._2).max + 1
    val subDim = bookRows.head._3.length
    val books = Array.ofDim[Array[Double]](m, k)
    bookRows.foreach { case (s, j, c) => books(s)(j) = c }
    (m, k, subDim, books)
  }

  /** Driver-side memo of the encode broadcast, keyed by (application,
    * index path, books id): a streaming ingest encodes EVERY
    * micro-batch, and re-reading books + centroids per batch (two
    * small driver jobs) would tax exactly the hot-stream path the
    * code deltas exist to serve. The books id in the key makes
    * staleness impossible — a refreshPq mints a new id, which misses
    * the cache and loads the new books. Bounded (indexes × refreshes
    * per app is small); cleared wholesale past 64 entries. */
  private val encodeBooksCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String),
    org.apache.spark.broadcast.Broadcast[graft.functions.IvfPqBooks]]()

  /** Remove one cache entry and destroy() its broadcast so retired
    * codebooks leave executor memory immediately instead of waiting
    * for block-manager pressure (round-10 ADVICE). destroy() is
    * guarded: a dead application's broadcast throws on destroy, and
    * dropping the reference is all that entry needs. */
  private def evictEntry(key: (String, String, String)): Unit = {
    val bc = encodeBooksCache.remove(key)
    if (bc != null) { try bc.destroy() catch { case _: Throwable => () } }
  }

  private def encodeBooksFor(spark: SparkSession, path: String,
      booksId: String)
      : org.apache.spark.broadcast.Broadcast[graft.functions.IvfPqBooks] = {
    if (encodeBooksCache.size > 64) {
      import scala.jdk.CollectionConverters._
      // evict dead-application entries first (their broadcasts died
      // with their context; dropping the reference lets GC finish
      // the job) — a wholesale clear would also evict the HOT entry
      // mid-stream and force a pointless reload next batch
      // (review-caught)
      val liveApp = spark.sparkContext.applicationId
      encodeBooksCache.keySet.asScala.toSeq.filter(_._1 != liveApp)
        .foreach(evictEntry)
      if (encodeBooksCache.size > 64) {
        // next, same-app entries provably RETIRED: each index path has
        // exactly one current books id (the `_books_id` marker), so
        // any cached entry stamped with a different id belongs to a
        // pre-refreshPq generation — evict + destroy it. One marker
        // read per distinct cached path; eviction is rare by
        // construction (64+ live entries). A concurrent encode still
        // holding a retired broadcast fails loudly, and its output
        // would have been demoted by the coverage check anyway.
        // Previously this branch was a wholesale clear(), which
        // evicted the hot entry mid-stream — the exact regression the
        // dead-app pass above exists to avoid (round-10 ADVICE).
        val liveKeys = encodeBooksCache.keySet.asScala.toSeq
          .filter(_._1 == liveApp)
        // a FAILED marker read proves nothing — keep that path's
        // entries (review-caught: collapsing the failure to None
        // destroy()ed the genuinely-current hot broadcast under a
        // transient FS error, killing in-flight encodes). A
        // SUCCESSFUL read of None (PQ half gone) does evict.
        val currentIds = liveKeys.map(_._2).distinct.map { p =>
          p -> scala.util.Try(currentBooksId(spark, p))
        }.toMap
        liveKeys.filter { k =>
          currentIds(k._2) match {
            case scala.util.Success(id) => !id.contains(k._3)
            case scala.util.Failure(_) => false
          }
        }.foreach(evictEntry)
        if (encodeBooksCache.size > 64) {
          // 64+ CURRENT same-app entries: a genuinely index-wide app;
          // last resort is still a full eviction, but destroy() only
          // entries PROVABLY retired by the marker read above —
          // destroying the genuinely-current hot entry would fail an
          // in-flight encode holding it with 'Broadcast destroyed'
          // (round-11 ADVICE). Current or unproven (failed-read)
          // entries get a plain reference drop; GC finishes the job.
          encodeBooksCache.keySet.asScala.toSeq.foreach { k =>
            val provablyRetired = currentIds.get(k._2).exists {
              case scala.util.Success(id) => !id.contains(k._3)
              case scala.util.Failure(_)  => false
            }
            if (provablyRetired) evictEntry(k)
            else encodeBooksCache.remove(k)
          }
        }
      }
    }
    encodeBooksCache.computeIfAbsent(
      (spark.sparkContext.applicationId, path, booksId), _ => {
        val cents = centroidArrays(spark, path)
        val (m, k, subDim, books) = loadPqBooks(spark, path)
        val normSq = books.map(_.map(c => c.map(x => x * x).sum))
        val cb = graft.functions.PqCodebooks(m, k, subDim, books, normSq)
        spark.sparkContext.broadcast(
          graft.functions.IvfPqBooks(cb, cents))
      })
  }

  /** Residual-encode a cell-assigned arrival batch with the CURRENT
    * persisted codebooks and land it as a code-delta batch dir
    * (idempotent overwrite, same discipline as the float delta).
    * Returns false (a no-op) when the PQ half doesn't exist yet —
    * pre-codebook arrivals stay float-only and score exactly.
    *
    * The books id is read BEFORE encoding and stamped AFTER the
    * write: if a [[refreshPq]] lands in between, the stamp records
    * the retired id, the coverage check rejects the batch, and the
    * probe falls back to exact scoring — stale codes can never be
    * decoded through new LUTs. */
  def encodeDeltaBatch(assigned: DataFrame, path: String,
      batchId: Long): Boolean = {
    val spark = assigned.sparkSession
    currentBooksId(spark, path) match {
      case None => false
      case Some(id) =>
        val bc = encodeBooksFor(spark, path, id)
        val dir = s"${pqDeltaDir(path)}/batch=$batchId"
        assigned
          .select(col("vec_id"),
            graft.functions.PqFunctions.ivfpq_encode(col("embedding"),
              col("cell"), bc).as("code"),
            col("cell"))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("cell")
          .parquet(dir)
        val fs = graft.scale.Hdfs.of(spark, path)
        val out = fs.create(new Path(s"$dir/_books_id"), true)
        try out.write(id.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
    }
  }

  /** Split the live float-delta batches by code coverage:
    * `(coded, uncoded)` where `coded = (codes, floats)` spans the
    * batches whose code dir committed (`_SUCCESS`) under the CURRENT
    * books id, and `uncoded` spans the rest (pre-codebook arrivals,
    * crashed code writes, stale-books stamps). The probe scores coded
    * batches through ADC like base rows and uncoded ones exactly —
    * every arrival is scored either way, pinned in IvfPqSpec. */
  private[graft] def deltaByCoverage(spark: SparkSession, path: String)
      : (Option[(DataFrame, DataFrame)], Option[DataFrame]) = {
    val fs = graft.scale.Hdfs.of(spark, path)
    val root = new Path(s"$path/cells_delta")
    if (!fs.exists(root)) return (None, None)
    val batches = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).sorted.toSeq
    if (batches.isEmpty) return (None, None)
    val curId = currentBooksId(spark, path)
    def covered(b: String): Boolean = curId.exists { id =>
      fs.exists(new Path(s"${pqDeltaDir(path)}/$b/_SUCCESS")) &&
        readSmallText(fs,
          new Path(s"${pqDeltaDir(path)}/$b/_books_id")).contains(id)
    }
    val (cov, unc) = batches.partition(covered)
    def readFloats(bs: Seq[String]): DataFrame =
      spark.read.option("basePath", root.toString)
        .parquet(bs.map(b => s"$root/$b"): _*)
    val coded =
      if (cov.isEmpty) None
      else Some((spark.read.option("basePath", pqDeltaDir(path))
          .parquet(cov.map(b => s"${pqDeltaDir(path)}/$b"): _*),
        readFloats(cov)))
    val uncoded = if (unc.isEmpty) None else Some(readFloats(unc))
    (coded, uncoded)
  }

  // ------------------------------------------------------------------
  // IVF-PQ (IVFADC, Jégou et al. 2011 §IV): residual product
  // quantization layered on the persisted cell layout. The index gains
  // a third table, `<path>/pq_cells`: (vec_id, code) partitioned by
  // cell, where code quantizes the RESIDUAL v - c_cell against
  // sub-space codebooks trained on residuals (residuals are much
  // better centered than raw vectors, so the same codebook budget
  // buys more precision — the paper's core point). A probe then
  // composes BOTH prunings: partition pruning to nProbe cells, and a
  // compressed scan inside them (m ints per row, float embeddings
  // untouched until the exact rerank of the ADC shortlist).
  // ------------------------------------------------------------------

  /** Read the persisted centroid table into driver arrays, index =
    * cell id (build writes ids contiguously; checked loudly). */
  private def centroidArrays(spark: SparkSession,
      path: String): Array[Array[Double]] = {
    val rows = spark.read.parquet(s"$path/centroids")
      .select(col("cell"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(rows.zipWithIndex.forall { case ((id, _), i) => id == i },
      "ivfpq: non-contiguous cell ids — rebuild the index")
    rows.map(_._2)
  }

  /** The PQ half's currency fingerprint derives from the INDEX layout
    * (base cells row count), not a caller's frame: appends and delta
    * compaction grow `cells`, and the code table must re-cover the
    * grown base. */
  private def pqFingerprint(spark: SparkSession, path: String, m: Int,
      k: Int): String =
    // layout=b1 = byte-packed binary codes: a code table persisted
    // under the old array<int> layout must rebuild, not type-mismatch
    s"base=${spark.read.parquet(s"$path/cells").count()};m=$m;k=$k;layout=b1"

  private def pqCurrent(spark: SparkSession, path: String, m: Int,
      k: Int): Boolean = {
    val fs = graft.scale.Hdfs.of(spark, path)
    val meta = new Path(s"$path/_graft_pq_meta")
    fs.exists(new Path(s"$path/pq_cells/_SUCCESS")) &&
      fs.exists(new Path(s"$path/pq_books/_SUCCESS")) &&
      fs.exists(meta) && {
        val in = fs.open(meta)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) ==
          pqFingerprint(spark, path, m, k)
        finally in.close()
      }
  }

  /** Build (or refresh) the residual-PQ half on top of [[ensureIvf]]:
    * train residual codebooks on a bounded hash-ordered sample of the
    * cell-assigned corpus (driver Lloyd per sub-space — sample-bound,
    * never corpus-bound), then encode every row in one narrow map and
    * land `pq_cells` cell-partitioned. Returns `path`. */
  def ensureIvfPq(corpus: DataFrame, path: String, numCells: Int = 16,
      refineIters: Int = 2, m: Int = 16, k: Int = 64,
      pqIters: Int = 8, sampleCap: Int = 4096): String = {
    ensureIvf(corpus, path, numCells, refineIters)
    val spark = corpus.sparkSession
    if (!pqCurrent(spark, path, m, k))
      refreshPq(spark, path, m, k, pqIters, sampleCap)
    path
  }

  /** (Re)build the PQ half from the index layout AS-IS — the
    * maintenance entry for the ingest flow: after
    * [[graft.pipeline.VectorIngestPipeline.compactDeltas]] folds
    * streamed vectors into the base cells, this re-covers them with
    * codes (until then, [[queryIvfPq]] scores uncovered rows exactly —
    * see its scaladoc). Never touches centroids or the base cells. */
  def refreshPq(spark: SparkSession, path: String, m: Int = 16,
      k: Int = 64, pqIters: Int = 8, sampleCap: Int = 4096): Unit = {
    import spark.implicits._
    val fs = graft.scale.Hdfs.of(spark, path)
    val cents = centroidArrays(spark, path)
    val cells = spark.read.parquet(s"$path/cells")
    val dim = cents.head.length
    require(dim % m == 0, s"ivfpq: dim $dim not divisible by m=$m")
    val subDim = dim / m
    // residual sample: (embedding, cell) hash-ordered, bounded
    val sample = cells.select(col("vec_id"), col("embedding"),
        col("cell"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleCap).collect()
      .map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        val c = cents(r.getInt(2))
        Array.tabulate(dim)(i =>
          (if (i < v.length) v(i) else 0.0) - c(i))
      }
    require(sample.nonEmpty, "ivfpq: empty corpus")
    val books = Array.tabulate(m) { s =>
      val base = s * subDim
      val subs = sample.map(r =>
        java.util.Arrays.copyOfRange(r, base, base + subDim))
      Pq.trainSubspace(subs, k, pqIters, subDim)
    }
    val normSq = books.map(_.map(c => c.map(x => x * x).sum))
    val cb = graft.functions.PqCodebooks(m, k, subDim, books, normSq)
    // persist the codebooks as data (not just driver state): the
    // query side must decode with EXACTLY the books the codes were
    // built from, across sessions
    books.indices.flatMap(s => books(s).indices.map(j =>
        (s, j, books(s)(j).toSeq)))
      .toDF("sub", "j", "centroid")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/pq_books")
    val bc = spark.sparkContext.broadcast(
      graft.functions.IvfPqBooks(cb, cents))
    cells
      .select(col("vec_id"),
        graft.functions.PqFunctions.ivfpq_encode(col("embedding"),
          col("cell"), bc).as("code"),
        col("cell"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cell")
      .parquet(s"$path/pq_cells")
    val out = fs.create(new Path(s"$path/_graft_pq_meta"), true)
    try out.write(pqFingerprint(spark, path, m, k)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // fresh books identity: delta code batches stamped with an older
    // id are retired from ADC coverage (they encode against books
    // that no longer exist) and fall back to exact scoring
    val idOut = fs.create(booksIdPath(path), true)
    try idOut.write(java.util.UUID.randomUUID().toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally idOut.close()
  }

  /** Probe the IVF-PQ index: partition-pruned scan of the probed
    * cells' CODE column, residual-ADC cosine per (query, row) through
    * broadcast LUTs, per-query ADC shortlist, then exact rerank of
    * shortlist rows only (their float embeddings read via the same
    * partition-pruned cell layout). Output shape matches
    * [[Similarity.bruteForceTopK]].
    */
  def queryIvfPq(spark: SparkSession, path: String, queries: DataFrame,
      topK: Int, nProbe: Int = 4, rerank: Int = 64): DataFrame = {
    import spark.implicits._
    val cents = centroidArrays(spark, path)
    val numCells = cents.length
    val cellNormSq = cents.map(c => c.map(x => x * x).sum)
    // rebuild PqCodebooks from the persisted books table
    val (m, k, subDim, books) = loadPqBooks(spark, path)
    // rnormPart(cell)(s)(j) = 2·dot(cell_sub_s, r_sj) + |r_sj|²
    val rnormPart = Array.tabulate(numCells) { cell =>
      Array.tabulate(m) { s =>
        val base = s * subDim
        Array.tabulate(k) { j =>
          val r = books(s)(j)
          var cross = 0.0
          var d = 0
          while (d < subDim) { cross += cents(cell)(base + d) * r(d); d += 1 }
          2.0 * cross + r.map(x => x * x).sum
        }
      }
    }
    val Pq.QueryVecs(qids, qvecs, qnorms) =
      Pq.collectQueryVecs(queries, "ivfpq")
    val qdotcell = qvecs.map(qv => cents.map { c =>
      var acc = 0.0
      var d = 0
      val lim = math.min(qv.length, c.length)
      while (d < lim) { acc += qv(d) * c(d); d += 1 }
      acc
    })
    val lutR = qvecs.map { qv =>
      Array.tabulate(m) { s =>
        val base = s * subDim
        Array.tabulate(k) { j =>
          val r = books(s)(j)
          var acc = 0.0
          var d = 0
          val lim = math.min(subDim, math.max(0, qv.length - base))
          while (d < lim) { acc += qv(base + d) * r(d); d += 1 }
          acc
        }
      }
    }
    val bcLut = spark.sparkContext.broadcast(graft.functions.IvfPqLut(
      qids, qnorms, qdotcell, lutR, rnormPart, cellNormSq))
    // per-query probed cells, ranked by the same dot/|c| affinity
    // CentroidTopCells uses — driver-side, everything involved is tiny
    val probePairs = qvecs.indices.flatMap { qi =>
      val byCell = qdotcell(qi).zipWithIndex
        .map { case (dp, cell) =>
          val cn = math.sqrt(cellNormSq(cell))
          (if (cn == 0.0) 0.0 else dp / cn, cell)
        }
        .sortBy { case (aff, cell) => (-aff, cell) }
        .take(nProbe).map(_._2)
      byCell.map(cell => (cell, qi))
    }
    val probedCells = probePairs.map(_._1).distinct.sorted
    val probeDf = probePairs.toDF("cell", "q_idx")
    // streamed arrivals whose batch carries codes under the CURRENT
    // books join the compressed ADC scan; the rest score exactly below
    val (codedDelta, uncodedDelta) = deltaByCoverage(spark, path)
    val basePqScan = spark.read.parquet(s"$path/pq_cells")
      .select(col("vec_id").as("neighbor_id"), col("code"), col("cell"))
      .filter(col("cell").isin(probedCells: _*))
    val codeScan = codedDelta match {
      case None => basePqScan
      case Some((codes, _)) => basePqScan.unionByName(codes
        .select(col("vec_id").as("neighbor_id"), col("code"),
          col("cell"))
        .filter(col("cell").isin(probedCells: _*)))
    }
    val scored = codeScan
      .select(col("neighbor_id"), col("cell"),
        posexplode(graft.functions.PqFunctions.ivfpq_adc_cosine(
          col("cell"), col("code"), bcLut)).as(Seq("q_idx", "sim_raw")))
      // keep only (cell, query) pairs the query actually probed —
      // semantic parity with queryIvf's per-query cell ranking
      .join(broadcast(probeDf), Seq("cell", "q_idx"))
    // per-query heap shortlist (round 14): even cell-pruned, a
    // query's probed-cell candidates grow with the corpus, so the
    // q_idx rank window was the hot-partition shape; 7-decimal
    // fixed-point selection sits far below ADC's approximation error
    // and feeds an EXACT rerank (see Pq.pqTopK's identical note)
    val qmap = qids.zipWithIndex.toSeq
      .map { case (id, i) => (i, id) }.toDF("q_idx", "query_id")
    val shortlist = graft.scale.Staging.materialize(
      graft.ops.GroupTopN.rankByScore(scored, Seq(col("q_idx")),
          col("sim_raw"), col("neighbor_id"), rerank, decimals = 7,
          scoreName = "sim_raw", idName = "neighbor_id")
      .join(broadcast(qmap), Seq("q_idx"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id")), "ivfpq-shortlist")
    // exact rerank: float embeddings read ONLY for shortlist rows,
    // through the same partition-pruned cell layout. Coded delta rows
    // can make the shortlist too, so their float side rides along —
    // shortlist-bounded, never a full-width delta scan for SCORING
    val floats = spark.read.parquet(s"$path/cells")
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb"), col("c_norm"), col("cell"))
      .filter(col("cell").isin(probedCells: _*))
    val rerankFloats = codedDelta match {
      case None => floats
      case Some((_, fl)) => floats.unionByName(fl
        .select(col("vec_id").as("neighbor_id"),
          col("embedding").as("c_emb"), col("c_norm"), col("cell"))
        .filter(col("cell").isin(probedCells: _*)))
    }
    // q-side from the rows already collected above (round-16, guide
    // §1.2): the old projection re-evaluated the queries subtree —
    // one more scan + job per call. qnorms came from the same
    // ascending-index double accumulation vec_norm runs, so every
    // downstream sim is bit-identical.
    val qside = qids.indices
      .map(i => (qids(i), qvecs(i).map(_.toFloat).toSeq, qnorms(i)))
      .toDF("query_id", "q_emb", "q_norm")
    val shortRows = graft.scale.Staging.guardedBroadcast(shortlist)
      .join(rerankFloats, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("c_emb"),
        col("c_norm"))
    // INVARIANT: every probed vector gets scored — compressed when a
    // code covers it, EXACTLY otherwise. Two uncovered classes:
    //  (a) delta batches WITHOUT current-books codes (pre-codebook
    //      arrivals, crashed code writes, stale stamps) — scored
    //      exactly like queryIvf would; batches WITH codes went
    //      through the ADC scan above instead;
    //  (b) base rows folded in by compactDeltas AFTER the last
    //      refreshPq — detected by a metadata-only count compare, then
    //      isolated with an anti-join (only runs while stale; the
    //      steady state pays two footer counts).
    // Both classes are disjoint from the shortlist (covered rows) by
    // construction, so no dedup is needed before the final ranking.
    val probeQ = probePairs.map { case (cell, qi) => (cell, qids(qi)) }
      .toDF("cell", "query_id")
    def exactSide(rows: DataFrame): DataFrame = rows
      .filter(col("cell").isin(probedCells: _*))
      .join(broadcast(probeQ), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("c_emb"),
        col("c_norm"))
    val deltaRows = uncodedDelta.map(d => exactSide(
      d.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb"), col("c_norm"), col("cell"))))
    val pqCells = spark.read.parquet(s"$path/pq_cells")
    // the two staleness footer counts are independent jobs — overlap
    // them (round-16, guide §2.6)
    val (nCoded, nCells) = graft.scale.Staging.inParallel(
      pqCells.count(), spark.read.parquet(s"$path/cells").count())
    val uncoveredRows =
      if (nCoded == nCells) None
      else Some(exactSide(floats.join(
        pqCells.select(col("vec_id").as("neighbor_id"), col("cell"))
          .filter(col("cell").isin(probedCells: _*)),
        Seq("neighbor_id", "cell"), "left_anti")))
    val candRows = (deltaRows.toSeq ++ uncoveredRows.toSeq)
      .foldLeft(shortRows)(_ unionByName _)
    val exact = candRows
      .join(broadcast(qside), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(vec_dot(col("q_emb"), col("c_emb"))
          / (col("q_norm") * col("c_norm")), 4).as("sim"))
    rankSim4(exact, topK)
  }

  /** Query the persisted index: rank cells per query vector on the
    * driver (centroids are tiny), then probe ONLY the union of the
    * top-nProbe cells — a `cell IN (...)` filter on the partition
    * column, so the scan is partition-pruned to the probed fraction.
    * Streamed deltas are probed alongside the base cells.
    */
  def queryIvf(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nProbe: Int = 4): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("cell"), col("centroid"), col("norm"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray,
        r.getDouble(2)))
      .sortBy(_._1)
    val bc = spark.sparkContext.broadcast(cents.map(_._2))
    // Round-16 (guide §1.2 "how many passes are unavoidable"): the
    // old shape evaluated the queries subtree TWICE per call — once
    // for the probed-cell `distinct().collect()` and once as the
    // broadcast build of `q` — and ran cell assignment as its own
    // Spark job. A BOUNDED query set (<= Bm25.MaxBatchQueries — every
    // registered caller's is) collects ONCE and assigns cells on the
    // driver through the SAME expression object the distributed path
    // evaluates ([[graft.functions.CentroidTopCells.topCells]]; the
    // norm loop mirrors [[graft.functions.VectorDot]]'s accumulation
    // order), so cell choice, q_norm, and every downstream sim are
    // bit-identical. Larger or null-carrying query sets keep the
    // distributed assignment.
    val qhead = graft.scale.Staging.boundedCollect(
        queries.select(col("vec_id"), col("embedding")),
        Bm25.MaxBatchQueries)
      .filter(_.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
    val (q, probedCells): (DataFrame, Seq[Int]) = if (qhead.isDefined) {
      import spark.implicits._
      val assigner = graft.functions.CentroidTopCells(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          null, org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)), bc, nProbe)
      val rows = qhead.get.toSeq.flatMap { r =>
        val id = r.getLong(0)
        val e = r.getSeq[Float](1)
        val arr = e.toArray
        var acc = 0.0
        var j = 0
        while (j < arr.length) {
          acc += arr(j).toDouble * arr(j).toDouble; j += 1
        }
        val norm = math.sqrt(acc)
        assigner.topCells(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(arr))
          .toIntArray().toSeq
          .map(ci => (id, e, norm, cents(ci)._1))
      }
      (rows.toDF("query_id", "q_emb", "q_norm", "cell"),
        rows.map(_._4).distinct.sorted)
    } else {
      val idOf = array(cents.map(c => lit(c._1)).toIndexedSeq: _*)
      val qDf = queries
        .select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb"),
          vec_norm(col("embedding")).as("q_norm"),
          explode(centroid_top_cells(col("embedding"), bc, nProbe))
            .as("cidx"))
        .select(col("query_id"), col("q_emb"), col("q_norm"),
          element_at(idOf, col("cidx") + 1).as("cell"))
      // the probed cell set, resolved small on the driver so the scan
      // filter is a literal IN over the partition column
      (qDf, qDf.select(col("cell")).distinct()
        .collect().map(_.getInt(0)).toSeq)
    }
    val scanCols = Seq("vec_id", "embedding", "c_norm", "cell").map(col)
    // streamed arrivals (VectorIngestPipeline) live as batchId-keyed
    // delta partitions beside the base cells; cell is a partition
    // column inside each batch dir, so the same IN-filter prunes both
    // sides — the filter is applied per side BEFORE the union to keep
    // the pruning visible in each scan
    val base = spark.read.parquet(s"$path/cells")
      .select(scanCols: _*)
      .filter(col("cell").isin(probedCells: _*))
    val cellsScan = deltaBatches(spark, path) match {
      case None => base
      case Some(delta) => base.unionByName(
        delta.select(scanCols: _*)
          .filter(col("cell").isin(probedCells: _*)))
    }
    val ranked = cellsScan
      .join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(vec_dot(col("q_emb"), col("embedding"))
          / (col("q_norm") * col("c_norm")), 4).as("sim"))
    rankSim4(ranked, k)
  }

  /** Per-query exact top-k on a 4-decimal-rounded sim — the
    * rank-window replacement (heap selection, exact fixed-point
    * equivalence: [[graft.ops.GroupTopN.rankByScore]]; a
    * query_id-partitioned window ranks a corpus-growing candidate
    * set through one task). */
  private def rankSim4(scored: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame =
    graft.ops.GroupTopN.rankByScore(scored, Seq(col("query_id")),
        col("sim"), col("neighbor_id"), k, decimals = 4,
        scoreName = "sim", idName = "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        col("rank"))
}
