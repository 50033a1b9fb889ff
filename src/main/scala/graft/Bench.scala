package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.obs.Health

/** Benchmark main. Publishes one JSON line (driver contract) plus a
  * richer BENCH_QUERIES.json artifact.
  *
  * Every registered query is timed on its WHOLE result:
  * [[materialize]] collects every output column after the final ORDER
  * BY, the shape a dashboard read serves. A `count()` would let
  * Catalyst prune the sort, the unused columns and the unused
  * aggregates, and time a different plan (1.1-4.2x faster on the
  * perfbench surface entries, `perfbench/NOTES.md`).
  *
  * Each query is the median of 3 timed passes; a pass that threw is
  * recorded and excluded from every statistic. The run judges its own
  * health: [[graft.obs.Health.measure]] records run-queue wait,
  * steal and iowait over every timed pass, and
  * [[graft.obs.Health.degraded]] over the summed record sets the
  * published `degraded` flag. Per-pass loadavg, GC seconds, disk-read
  * MB and the health record stay in the artifact file, so a slow entry
  * is attributable to host, heap or page cache without a re-run.
  */
object Bench {

  /** The timed operation: the entry's full result on the driver. The
    * sf0.1 inputs total about 18 MB, so every result fits. */
  def materialize(df: DataFrame): Array[Row] = df.collect()

  /** Actual block-device bytes read by this process so far (Linux
    * /proc/self/io read_bytes). -1 where unavailable. Distinguishes
    * page-cache-served scans (delta ~0) from cold-cache scans. */
  private def diskReadBytes: Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines().collectFirst {
        case l if l.startsWith("read_bytes:") =>
          l.substring("read_bytes:".length).trim.toLong
      }.getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }

  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  }

  private def loadNow: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** One timed pass: wall sec, loadavg, gc sec delta, disk MB delta,
    * its health record. A pass that threw is recorded but EXCLUDED
    * from every published statistic — its near-zero wall time is a
    * failure artifact, not a measurement. */
  case class Pass(sec: Double, load: Double, gcSec: Double, ioMb: Double,
      failed: Boolean = false, health: Health.Record = Health.Record.empty)

  private def timedPass(body: => Unit): Pass = {
    val gc0 = gcMillis; val io0 = diskReadBytes
    val (out, rec) = Health.measure(body)
    val io1 = diskReadBytes
    Pass(rec.wallSec, loadNow, (gcMillis - gc0) / 1e3,
      if (io0 < 0 || io1 < 0) -1.0 else (io1 - io0) / 1048576.0,
      out.isFailure, rec)
  }

  /** Drop state a query leaked into the shared session (staged frames
    * via eager localCheckpoint are never unpersisted by the query
    * itself; across 147 queries x 3 passes the blocks accumulate and
    * degrade LATER staged queries — measured round 8). Blocking, so
    * removal cost stays outside every timed window. */
  private def clearSessionState(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  case class Entry(samples: Seq[Pass]) {
    /** Passes that completed — the only ones statistics come from. */
    def valid: Seq[Pass] = samples.filterNot(_.failed)
    def allFailed: Boolean = valid.isEmpty
    def failedCount: Int = samples.count(_.failed)
    // all-failed entries publish -1.0 sentinels (and the name lands in
    // the artifact's failed_queries) — never a fabricated near-zero
    def median: Double =
      if (allFailed) -1.0 else valid.map(_.sec).sorted.apply(valid.size / 2)
    def min: Double = if (allFailed) -1.0 else valid.map(_.sec).min
    def max: Double = if (allFailed) -1.0 else valid.map(_.sec).max
    def health: Health.Record =
      valid.map(_.health).foldLeft(Health.Record.empty)(_ + _)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession()
    // Warmup pass at the smallest scale factor, through the same
    // materialization the timed passes use: compiles whole-stage
    // codegen and JITs every plan that is later timed, so the timed
    // passes measure steady-state execution rather than first-plan
    // compilation (which dominated small queries by 5-10x).
    val warmDir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (_, fn) =>
      try materialize(fn(spark, warmDir)) catch { case _: Throwable => () }
    }
    // ONE list of the prebuilt per-SF store locations, shared by the
    // ensure* block below and the page-cache warm sweep after it — a
    // store added here is both built and warmed (review-caught: a
    // second hand-maintained path list left new stores silently cold
    // during timed passes)
    def storePath(prefix: String): String =
      sys.props("java.io.tmpdir") + "/" + prefix +
        sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    val ivfPath = storePath("graft_ivf_")
    val sigsPath = storePath("graft_sigs_")
    val bmPath = storePath("graft_bm25_")
    val int8Path = storePath("graft_int8_")
    val lshPath = storePath("graft_lshcand_")
    val memoPath = storePath("graft_bm25memo_")
    val bloomPath = graft.scale.SkipIndex.defaultPath(sfDir)
    val gramPath = graft.scale.TextSkipIndex.defaultPath(sfDir)
    val samplePath = graft.scale.SampleLayout.defaultPath(sfDir)
    val storePaths =
      Seq(ivfPath, sigsPath, bmPath, int8Path, lshPath, memoPath,
        bloomPath, gramPath, samplePath)
    require(ivfPath == graft.ops.VectorIndex.defaultPath(sfDir) &&
      bmPath == graft.ops.Bm25.defaultPath(sfDir),
      "bench store path must match the registered queries' index path")
    // Pre-build the persisted stores for the bench scale so the
    // indexed queries time the PROBE (the repeated operation an index
    // amortizes its one-time build across), not the build. Each
    // ensure* is a stamped no-op when the layout is current — and each
    // build is TIMED into the artifact's `store_build_s` (round-10
    // VERDICT #6): after a testdata regeneration the ensures re-price
    // here, and a future inflation on an ensure-backed query is
    // attributable to build vs probe without a bisect (the queries'
    // own timings are probe-only by construction: their in-query
    // ensure hits the stamp). `store_queries` maps each store to the
    // registered entries it serves.
    val storeBuilds = scala.collection.mutable.LinkedHashMap[String, Double]()
    val storeBuildFailed = scala.collection.mutable.ArrayBuffer[String]()
    def build(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      // a failed ensure publishes a -1.0 sentinel + the name in
      // store_build_failed instead of its elapsed time — otherwise the
      // artifact asserts a build succeeded that the backed queries
      // will re-pay (or re-fail) inside their timed passes
      // (review-caught)
      val ok = try { body; true } catch { case _: Throwable => false }
      storeBuilds(name) =
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      if (!ok) storeBuildFailed += name
    }
    build("ivf")(graft.ops.VectorIndex.ensureIvf(
      Tables.embeddings(spark, sfDir), ivfPath))
    // the residual-PQ half behind sim_cosine_ivfpq (adds pq_cells
    // + pq_books beside the base layout; no-op when current)
    build("ivfpq")(graft.ops.VectorIndex.ensureIvfPq(
      Tables.embeddings(spark, sfDir), ivfPath))
    // the MinHash signature store behind dedup_incoming_store
    build("sigs") {
      import org.apache.spark.sql.functions.col
      graft.ops.SignatureStore.ensure(
        Tables.documents(spark, sfDir).filter(col("source") =!= "src0"),
        sigsPath)
    }
    // the BM25 postings behind retrieval_bm25_indexed
    build("bm25")(graft.ops.Bm25.ensurePostings(
      Tables.documents(spark, sfDir), bmPath))
    // the int8 code table behind sim_cosine_topk_int8
    build("int8")(graft.ops.Similarity.ensureQuantized(
      Tables.embeddings(spark, sfDir), int8Path))
    // the LSH candidate-pair store shared by embedding_neardup_lsh
    // and dedup_components_lsh
    build("lsh")(graft.ops.Similarity.ensureLshCandidates(
      Tables.embeddings(spark, sfDir), lshPath))
    // the BM25 result-cache memo behind retrieval_service_cap_cached:
    // ONE cached-batch run on the CURRENT index stamp, so stamp-fresh
    // misses (testdata or postings changed since the last bench on
    // this host) score + append HERE instead of inside pass 1 of the
    // timed entry — the entry then measures steady-state cache
    // serving on all three passes, which is the operation it exists
    // to measure (round-14 VERDICT #1: the 1.46 -> 3.00 elevation had
    // no way to distinguish a miss-path repricing from probe cost).
    // Stale-stamp batches are dead weight the probe still scans; they
    // stay until a Bm25ResultCache.compact with the full live termset
    // universe across ALL cached entries/k values (not just this
    // batch's), which the bench deliberately does not guess at.
    build("bm25_memo") {
      import org.apache.spark.sql.functions.col
      graft.ops.Bm25ResultCache.scoreTopKCachedBatch(spark, bmPath,
        memoPath, graft.query.PipelineQueries.serviceCapBatch(
          spark, sfDir).select(col("query_id"), col("terms")),
        20).count()
    }
    // the bloom-indexed events layout behind events_bloom_skip_lookup
    build("bloom")(graft.scale.SkipIndex.ensureEventsBloom(
      Tables.events(spark, sfDir), bloomPath))
    // the gram-bloom text layout behind text_{ngram,token}_skip_search
    build("gram")(graft.scale.TextSkipIndex.ensureDocuments(
      Tables.documents(spark, sfDir), gramPath))
    // the sample-keyed events layout behind sample_clause_estimate
    build("sample")(graft.scale.SampleLayout.ensureEvents(
      Tables.events(spark, sfDir), samplePath))
    val storeQueries: Map[String, Seq[String]] = Map(
      "ivf" -> Seq("sim_cosine_ivf_indexed", "sim_cosine_ivf_full",
        "sim_cosine_ivfpq", "retrieval_hybrid_indexed_batch",
        "retrieval_service_cap"),
      "ivfpq" -> Seq("sim_cosine_ivfpq"),
      "sigs" -> Seq("dedup_incoming_store"),
      "bm25" -> Seq("retrieval_bm25_indexed", "retrieval_bm25_pruned",
        "retrieval_bm25_indexed_batch", "retrieval_hybrid_indexed_batch",
        "retrieval_service_cap", "retrieval_bm25_cached_batch",
        "retrieval_service_cap_cached"),
      "int8" -> Seq("sim_cosine_topk_int8"),
      "bm25_memo" -> Seq("retrieval_service_cap_cached"),
      "lsh" -> Seq("embedding_neardup_lsh", "dedup_components_lsh"),
      "bloom" -> Seq("events_bloom_skip_lookup"),
      "gram" -> Seq("text_ngram_skip_search", "text_token_skip_search"),
      "sample" -> Seq("sample_clause_estimate"))

    // Warm the OS page cache over the bench dataset AND the prebuilt
    // index stores with a raw byte sweep (a count() would read only
    // pruned columns). The timed passes are meant to measure the
    // ENGINE at steady state; round 9's degraded driver window had a
    // cold-IO signature (+0.4-0.6 s additive on scan-heavy queries)
    // consistent with the cache holding whatever ran before the
    // bench — a deterministic pre-read removes that variable for the
    // cost of one sequential pass (the sf0.1 set is tens of MB).
    // Fixed-buffer streaming read (O(1) heap at any file size) and a
    // fully guarded walk: warming is an optimization and must never
    // abort the bench (review-caught on both counts).
    def warmBytes(root: java.nio.file.Path): Long =
      try {
        if (!java.nio.file.Files.exists(root)) 0L
        else {
          val buf = new Array[Byte](1 << 20)
          val stream = java.nio.file.Files.walk(root)
          try stream.filter(java.nio.file.Files.isRegularFile(_))
            .mapToLong { p =>
              try {
                val in = java.nio.file.Files.newInputStream(p)
                try {
                  var total = 0L
                  var n = in.read(buf)
                  while (n >= 0) { total += n; n = in.read(buf) }
                  total
                } finally in.close()
              } catch { case _: Throwable => 0L }
            }.sum()
          finally stream.close()
        }
      } catch { case _: Throwable => 0L }
    val warmed = warmBytes(java.nio.file.Paths.get(sfDir)) +
      storePaths.map(p => warmBytes(java.nio.file.Paths.get(p))).sum
    System.err.println(
      f"[bench] page-cache warm: ${warmed / 1048576.0}%.0f MB pre-read")

    // Median of 3 timed passes per query: single-pass timing published
    // phantom >=2x "regressions" (host-noise spikes on individual
    // queries, disproved by a third sample) — the median of three is
    // robust to one bad sample. Min/max are kept in the artifact file
    // so a reader can see each query's spread.
    val passes = 3
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val samples = (0 until passes).map { _ =>
        timedPass { materialize(fn(spark, sfDir)); () }
      }
      clearSessionState(spark)
      name -> Entry(samples)
    }
    val failedQueries = results
      .filter(_._2.samples.exists(_.failed)).map(_._1)
    val health = results.map(_._2.health)
      .foldLeft(Health.Record.empty)(_ + _)
    val degraded = Health.degraded(health)
    if (degraded || failedQueries.nonEmpty)
      System.err.println(s"[bench] degraded=$degraded health=${health.json} " +
        s"failed=${failedQueries.mkString(",")}")

    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def fmt2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // Compact per-query map (3-decimal secs keeps the stdout line well
    // under capture-truncation limits) + the same map as its own
    // artifact file so per-query timings survive any line truncation.
    def jsonOf[A](pick: Entry => A, f: A => String): String =
      results.map { case (k, v) => "\"" + k + "\":" + f(pick(v)) }
        .mkString("{", ",", "}")
    def jsonMap(pick: Entry => Double): String = jsonOf(pick, fmt)
    def jsonArrMap(pick: Entry => Seq[Double], f: Double => String)
        : String = jsonOf[Seq[Double]](pick, _.map(f).mkString("[", ",", "]"))
    def strArr(xs: Seq[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qs = jsonMap(_.median)
    // all-failed entries carry a -1.0 sentinel median — excluded from
    // the total (never subtract a failure artifact from the record)
    val total = results.map(_._2.median).filter(_ >= 0).sum
    // 1-min load average at end of run; the per-pass snapshots in
    // queries_load localize WHICH pass was noisy.
    val load = fmt2(loadNow)
    val gcTotal = results.flatMap(_._2.valid.map(_.gcSec)).sum
    val ioTotal = results.flatMap(_._2.valid.map(_.ioMb)).filter(_ >= 0).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"passes":$passes,"loadavg":$load,"degraded":$degraded,"health":${health.json},"failed_queries":${strArr(failedQueries)},"sf":"$sfDir"}"""
    // Artifact file: the per-query spread (min/max over the 3 passes,
    // chronological per-pass loadavg), per-pass GC seconds and
    // disk-read MB, each entry's health record, and the store builds — enough to attribute a slow entry to host load,
    // heap or page cache without a re-run.
    val fileLine =
      s"""{"metric":"total","value":$total,"unit":"sec","materialization":"collect","queries":$qs,"queries_min":${jsonMap(_.min)},"queries_max":${jsonMap(_.max)},"queries_load":${jsonArrMap(_.samples.map(_.load), fmt2)},"queries_gc_sec":${jsonArrMap(_.samples.map(_.gcSec), fmt)},"queries_io_mb":${jsonArrMap(_.samples.map(_.ioMb), fmt)},"queries_health":${jsonOf[Health.Record](_.health, _.json)},"gc_sec_total":${fmt(gcTotal)},"io_mb_total":${fmt(ioTotal)},"store_build_s":${storeBuilds.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")},"store_build_failed":${strArr(storeBuildFailed.toSeq)},"store_queries":${storeQueries.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + strArr(v) }.mkString("{", ",", "}")},"failed_passes":${results.filter(_._2.samples.exists(_.failed)).map { case (k, v) => "\"" + k + "\":[" + v.samples.zipWithIndex.filter(_._1.failed).map(_._2).mkString(",") + "]" }.mkString("{", ",", "}")},"health":${health.json},"degraded":$degraded,"failed_queries":${strArr(failedQueries)},"passes":$passes,"loadavg":$load,"sf":"$sfDir"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_QUERIES.json"), fileLine + "\n")
    // The one-line JSON is the ABSOLUTE LAST stdout of this program (a
    // clipped line once destroyed a whole baseline): stop Spark FIRST
    // so no shutdown logging can follow it, then print and flush.
    // build.sbt additionally suppresses sbt's trailing "[success] Total
    // time" line (Global/showSuccess) so nothing at all follows the
    // JSON in captured output.
    spark.stop()
    println(line)
    System.out.flush()
  }
}
