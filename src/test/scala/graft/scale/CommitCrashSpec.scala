package graft.scale

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.ops.{Bm25, VectorIndex}

/** THE crash-injection sweep (round-10 verdict #5): every store
  * mutation routed through [[CommitProtocol]] is killed between every
  * pair of its steps, and each store's documented crash contract is
  * asserted in every window. The shapes swept:
  *
  *  - the [[PartLog]] fold (`part-fold`: the agg store, the sample
  *    layout's compact and rebuild, the BM25 result-cache memo GC, and
  *    the BM25 and IVF arrival folds): every window reads the complete
  *    old view or the complete new one, a retried fold heals it, and a
  *    folded batch id is refused once the manifest is published;
  *  - the named-table part append (`part-append`: the BM25 and IVF
  *    arrivals), swept after the retract, after each table and after
  *    the last table but before `_SUCCESS`: the batch is invisible
  *    until its `_SUCCESS` lands, then complete;
  *  - the gram index's retract-first append and the media runs (whose
  *    steps are PartLog appends): the canonical read in any crash
  *    window is a complete consistent answer — the committed state,
  *    or the batch-invisible or stage-prefix state; never a partial
  *    view, never an exception.
  *
  * Step boundaries are enumerated from [[CommitProtocol.stepsOf]]
  * after one clean run, so a store that grows a step is automatically
  * swept at the new boundary without touching this spec.
  */
class CommitCrashSpec extends SparkSpec {
  import spark.implicits._

  /** One store under the sweep. `observe` is the store's canonical
    * STABLE answer — a pure function of the logical content, invariant
    * under compaction, replay, and rebuild-from-source, so the same
    * expected value gates every window and the healed end state. */
  private trait CrashCase {
    def name: String
    def op: String
    def setup(dir: String): Unit
    def mutate(dir: String): Unit
    def observe(dir: String): Seq[String]
    /** Acceptable crash-window read (default: the committed answer —
      * answer-neutral ops). */
    def acceptable(dir: String, after: Seq[String],
        got: Seq[String]): Boolean = got == after
    /** Bring the crashed store back to the committed answer (default:
      * replay the mutation — the idempotent-op contract). */
    def heal(dir: String): Unit = mutate(dir)
    /** For the part-log folds: re-append a batch id the fold covers,
      * which must be refused in every window after the publish. */
    def replayFolded: Option[String => Unit] = None
    /** The step list the sweep must find, where it is pinned. */
    def expectSteps: Option[Seq[String]] = None
  }

  private def docs = Tables.documents(spark, sf0001)
  private def emb = Tables.embeddings(spark, sf0001)

  // ---- 1. the agg append-store fold (PartLog: land, publish, retire)

  private object AggFold extends CrashCase {
    val name = "agg store fold"
    val op = "part-fold"
    private def store(dir: String) =
      new graft.agg.SummingStore(dir, Seq("day", "level"), Seq("total"))
    private def p(rows: (String, String, Long)*) =
      rows.toDF("day", "level", "total")
        .withColumn("day", col("day").cast("date"))
    def setup(dir: String): Unit = {
      val s = store(dir)
      s.append(p(("2026-01-01", "info", 2L),
        ("2026-01-01", "error", 1L)), batchId = 0)
      s.append(p(("2026-01-01", "info", 3L),
        ("2026-01-02", "info", 5L)), batchId = 1)
    }
    override def replayFolded: Option[String => Unit] = Some(dir =>
      store(dir).append(p(("2026-01-01", "info", 3L)), batchId = 1))
    def mutate(dir: String): Unit = store(dir).compact(spark)
    def observe(dir: String): Seq[String] =
      store(dir).read(spark).orderBy("day", "level").collect()
        .map(r => s"${r.getDate(0)} ${r.getString(1)} ${r.getLong(2)}")
        .toSeq
  }

  // ---- 2. SampleLayout compact (the same PartLog fold)

  private object SampleCompact extends CrashCase {
    val name = "sample layout compact"
    val op = "part-fold"
    private def events = Tables.events(spark, sf0001)
    private def batch = events.limit(40)
      .withColumn("event_id", col("event_id") + lit(90000000L))
    def setup(dir: String): Unit = {
      SampleLayout.write(events, dir, col("user_id"), Seq("ts"),
        files = 4)
      SampleLayout.append(batch, dir, batchId = 1, col("user_id"),
        Seq("ts"))
    }
    override def replayFolded: Option[String => Unit] = Some(dir =>
      SampleLayout.append(batch, dir, batchId = 1, col("user_id"),
        Seq("ts")))
    def mutate(dir: String): Unit =
      SampleLayout.compact(spark, dir, files = 4, sortCols = Seq("ts"))
    def observe(dir: String): Seq[String] =
      SampleLayout.sampleScan(spark, dir, 1, 4)
        .select("event_id").collect().map(_.getLong(0))
        .sorted.map(_.toString).toSeq
  }

  // ---- 3. gram-bloom skip index: REPLAY of a committed append (the
  //         retract-first protocol's reason to exist)

  private object GramReplay extends CrashCase {
    val name = "gram index append replay"
    val op = "gramidx-append"
    private val planted = Seq(
      (910001L, "freshzz token planted alpha", "en", "srcA", 31L),
      (910002L, "freshzz second planted beta", "en", "srcA", 29L))
    private def plantedDf =
      planted.toDF("doc_id", "text", "lang", "source", "n_chars")
    def setup(dir: String): Unit = {
      TextSkipIndex.write(docs.limit(60), dir, files = 4)
      // the batch is COMMITTED once; the mutation under sweep is its
      // replay — the window where data-first ordering broke
      TextSkipIndex.append(plantedDf, dir, batchId = 7)
    }
    def mutate(dir: String): Unit =
      TextSkipIndex.append(plantedDf, dir, batchId = 7)
    def observe(dir: String): Seq[String] =
      TextSkipIndex.searchToken(spark, dir, "freshzz")
        .select("doc_id").collect().map(_.getLong(0))
        .sorted.map(_.toString).toSeq
    override def acceptable(dir: String, after: Seq[String],
        got: Seq[String]): Boolean =
      // invisible-not-dangling: a crash window may hide the batch
      // (sidecar retracted) but must never throw or return part of it
      got == after || got.isEmpty
  }

  // ---- 4. BM25 arrival append (a two-table part: postings, stats)

  private object Bm25Ingest extends CrashCase {
    val name = "bm25 delta ingest"
    val op = "part-append"
    private def base = docs.filter(col("doc_id") < 400)
    private def arrivals =
      docs.filter(col("doc_id") >= 400 && col("doc_id") < 430)
    private val terms = Seq("window", "merge", "dup")
    def setup(dir: String): Unit = { Bm25.ensurePostings(base, dir); () }
    def mutate(dir: String): Unit =
      Bm25.ingestBatch(arrivals, dir, batchId = 0L)
    def observe(dir: String): Seq[String] =
      Bm25.scoreTopKIndexed(spark, dir, terms, 15).collect()
        .map(r => s"${r.getLong(0)} ${r.getDouble(1)} ${r.getLong(2)}")
        .toSeq
    private lazy val baseOnly = {
      val d = tmpDir("crash-bm25-baseonly")
      setup(d)
      observe(d)
    }
    // a part without _SUCCESS is invisible: scores are exactly
    // base-only until the commit step, complete after it
    override def acceptable(dir: String, after: Seq[String],
        got: Seq[String]): Boolean = got == after || got == baseOnly
    // windows after the first table and after the last table, before
    // _SUCCESS
    override def expectSteps: Option[Seq[String]] = Some(Seq("retract",
      "write-postings", "write-stats", "commit"))
  }

  // ---- 5. IVF arrival append (cells, codes and the books note)

  private object IvfIngest extends CrashCase {
    val name = "ivf vector ingest"
    val op = "part-append"
    private def base = emb.filter(col("vec_id") < 400)
    private[CommitCrashSpec] def delta =
      emb.filter(col("vec_id") >= 400 && col("vec_id") < 450)
        .select(col("vec_id"), col("embedding"))
    def setup(dir: String): Unit = { VectorIndex.ensureIvfPq(base, dir); () }
    def mutate(dir: String): Unit =
      graft.pipeline.VectorIngestPipeline.ingestBatch(delta, dir, 0L)
    def observe(dir: String): Seq[String] = {
      // the planted-arrival probe: a query that IS arrival vector 420
      // (fresh id, so self-exclusion doesn't hide it) surfaces it at
      // sim 1.0 through the ADC path once its part commits
      val probe = emb.filter(col("vec_id") === 420)
        .select(lit(9999L).as("vec_id"), col("embedding"))
      val r = VectorIndex.queryIvfPq(spark, dir, probe, 1)
        .collect().head
      Seq(s"${r.getLong(1)} ${r.getDouble(2)}")
    }
    private lazy val baseOnly = {
      val d = tmpDir("crash-ivf-baseonly")
      setup(d)
      observe(d)
    }
    override def acceptable(dir: String, after: Seq[String],
        got: Seq[String]): Boolean = got == after || got == baseOnly
    override def expectSteps: Option[Seq[String]] = Some(Seq("retract",
      "write-cells", "write-codes", "commit"))
  }

  // ---- 6. BM25 arrival fold (the PartLog fold of a two-table log)

  private object Bm25Compact extends CrashCase {
    val name = "bm25 delta compaction"
    val op = "part-fold"
    private def base = docs.filter(col("doc_id") < 400)
    private def arrivals(lo: Long) =
      docs.filter(col("doc_id") >= lo && col("doc_id") < lo + 15)
    private val terms = Seq("window", "merge", "dup")
    def setup(dir: String): Unit = {
      Bm25.ensurePostings(base, dir)
      Bm25.ingestBatch(arrivals(400), dir, batchId = 0L)
      Bm25.ingestBatch(arrivals(415), dir, batchId = 1L)
    }
    def mutate(dir: String): Unit = Bm25.compactDeltas(spark, dir)
    // the scores, then how many parts the view holds above its base:
    // the old view and the new one score alike, so the part count
    // tells them apart
    def observe(dir: String): Seq[String] =
      Bm25.scoreTopKIndexed(spark, dir, terms, 15).collect()
        .map(r => s"${r.getLong(0)} ${r.getDouble(1)} ${r.getLong(2)}")
        .toSeq :+ s"parts=${Bm25.arrivals(dir).view(spark).parts}"
    private lazy val before = {
      val d = tmpDir("crash-bm25-fold-before")
      setup(d)
      observe(d)
    }
    override def acceptable(dir: String, after: Seq[String],
        got: Seq[String]): Boolean = got == after || got == before
    override def replayFolded: Option[String => Unit] = Some(dir =>
      Bm25.ingestBatch(arrivals(415), dir, batchId = 1L))
  }

  // ---- 7. IVF arrival fold (re-encodes the codes under the books)

  private object IvfCompact extends CrashCase {
    val name = "ivf delta compaction"
    val op = "part-fold"
    def setup(dir: String): Unit = {
      IvfIngest.setup(dir)
      IvfIngest.mutate(dir)
    }
    def mutate(dir: String): Unit =
      graft.pipeline.VectorIngestPipeline.compactDeltas(spark, dir)
    def observe(dir: String): Seq[String] = IvfIngest.observe(dir) :+
      s"parts=${VectorIndex.arrivals(dir).view(spark).parts}"
    private lazy val before = {
      val d = tmpDir("crash-ivf-fold-before")
      setup(d)
      observe(d)
    }
    override def acceptable(dir: String, after: Seq[String],
        got: Seq[String]): Boolean = got == after || got == before
    override def replayFolded: Option[String => Unit] = Some(dir =>
      graft.pipeline.VectorIngestPipeline.ingestBatch(
        IvfIngest.delta, dir, 0L))
  }

  // ---- 8. SampleLayout rebuild (the same fold, from the source)

  private object SampleWrite extends CrashCase {
    val name = "sample layout rebuild"
    val op = "part-fold"
    private def events = Tables.events(spark, sf0001)
    // a layout with one appended part: the rebuild from the source
    // supersedes it, so the old and the new view differ
    def setup(dir: String): Unit = SampleCompact.setup(dir)
    // the mutation under sweep: a REBUILD over an existing layout —
    // the next generation lands invisible, the manifest flips, the
    // superseded base lingers one publish as grace
    def mutate(dir: String): Unit =
      SampleLayout.write(events, dir, col("user_id"), Seq("ts"),
        files = 4)
    def observe(dir: String): Seq[String] = SampleCompact.observe(dir)
    private lazy val before = {
      val d = tmpDir("crash-sample-write-before")
      setup(d)
      observe(d)
    }
    // the complete old view before the publish, the new one after
    override def acceptable(dir: String, after: Seq[String],
        got: Seq[String]): Boolean = got == after || got == before
    override def replayFolded: Option[String => Unit] =
      SampleCompact.replayFolded
  }

  // ---- 9. Media ingest (stats + rejects, batchId-keyed overwrites)

  private object MediaIngest extends CrashCase {
    val name = "media ingest batch"
    val op = "media-ingest"
    private def batchDf = {
      val b64 = java.util.Base64.getEncoder
      def png(id: Long) = b64.encodeToString(
        graft.ops.Multimodal.pngBytes(4, 2, (x, y) =>
          graft.ops.Multimodal.packRgb(
            ((id * 17 + x) % 256).toInt, ((id * 19 + y) % 256).toInt,
            ((id * 23 + x + y) % 256).toInt)))
      def wav(id: Long) = b64.encodeToString(
        graft.ops.Multimodal.wavBytes(8000,
          Array.tabulate(16)(i => ((id * 31 + i * 17) % 256).toByte)))
      Seq((0L, png(0L), "png"), (1L, wav(1L), "wav"),
        (2L, png(2L), "png"),
        (9L, b64.encodeToString("corrupt".getBytes), "png"))
        .toDF("doc_id", "media_b64", "format")
    }
    def setup(dir: String): Unit = () // ingest into an empty store
    def mutate(dir: String): Unit =
      graft.pipeline.MediaPipeline.ingestBatch(batchDf, dir, 3L)
    def observe(dir: String): Seq[String] =
      (graft.pipeline.MediaPipeline.stats(spark, dir)
        .select("doc_id").collect().map(r => s"s${r.getLong(0)}") ++
        graft.pipeline.MediaPipeline.rejects(spark, dir)
          .select("doc_id").collect().map(r => s"r${r.getLong(0)}"))
        .toSeq.sorted
    // a crash between the two writes leaves the stats delta committed
    // and the rejects delta absent — a complete consistent view of a
    // PARTIALLY landed batch; the checkpoint replay overwrites both
    override def acceptable(dir: String, after: Seq[String],
        got: Seq[String]): Boolean =
      got == after || got == after.filter(_.startsWith("s"))
  }

  // ---- 9b. Media ingest with the phash-dedup tier (4 steps)

  private object MediaDedupIngest extends CrashCase {
    val name = "media ingest dedup batch"
    val op = "media-ingest-dedup"
    private val b64 = java.util.Base64.getEncoder
    private def img(k: Long, up: Boolean): String =
      if (!up) b64.encodeToString(graft.ops.Multimodal.bmpBytes(8, 4,
        (x, y) => graft.ops.Multimodal.packRgb(
          graft.ops.Multimodal.synthCell(k, x, y, 0),
          graft.ops.Multimodal.synthCell(k, x, y, 1),
          graft.ops.Multimodal.synthCell(k, x, y, 2))))
      else b64.encodeToString(graft.ops.Multimodal.pngBytes(16, 8,
        (x, y) => graft.ops.Multimodal.packRgb(
          graft.ops.Multimodal.synthCell(k, x / 2, y / 2, 0),
          graft.ops.Multimodal.synthCell(k, x / 2, y / 2, 1),
          graft.ops.Multimodal.synthCell(k, x / 2, y / 2, 2))))
    def setup(dir: String): Unit =
      // batch 0 seeds the phash store with image k=0
      graft.pipeline.MediaPipeline.ingestBatch(
        Seq((0L, img(0L, up = false), "bmp"))
          .toDF("doc_id", "media_b64", "format"),
        dir, 0L, phashDedup = true)
    def mutate(dir: String): Unit =
      // batch 1: a cross-batch dup (upscale of k=0), a fresh image,
      // a within-batch dup of it, and a corrupt payload — every sink
      // receives rows, so every crash window is distinguishable
      graft.pipeline.MediaPipeline.ingestBatch(
        Seq((10L, img(0L, up = true), "png"),
          (12L, img(4L, up = false), "bmp"),
          (14L, img(4L, up = true), "png"),
          (9L, java.util.Base64.getEncoder
            .encodeToString("junk".getBytes), "png"))
          .toDF("doc_id", "media_b64", "format"),
        dir, 1L, phashDedup = true)
    def observe(dir: String): Seq[String] =
      (graft.pipeline.MediaPipeline.stats(spark, dir)
        .select("doc_id").collect().map(r => s"s${r.getLong(0)}") ++
        graft.pipeline.MediaPipeline.rejects(spark, dir)
          .select("doc_id").collect().map(r => s"r${r.getLong(0)}") ++
        graft.pipeline.MediaPipeline.dups(spark, dir)
          .select("doc_id").collect().map(r => s"d${r.getLong(0)}"))
        .toSeq.sorted
    // steps land in order (stats, rejects, dups, store append), each
    // batchId-keyed: every crash window shows a stage-prefix of the
    // committed batch — and the checkpoint replay overwrites all four
    override def acceptable(dir: String, after: Seq[String],
        got: Seq[String]): Boolean = {
      val s = after.filter(_.startsWith("s"))
      val r = after.filter(_.startsWith("r"))
      // the injected crash fires AFTER a step's write is durable, so
      // the observable windows are: stats only, stats+rejects,
      // stats+rejects+dups (== after; the store append is not in the
      // observation, its loss only re-admits a future dup until the
      // replay heals it)
      Seq(s.sorted, (s ++ r).sorted, after).exists(_ == got)
    }
  }

  // ---- 10. BM25 result-cache memo GC (the memo log's PartLog fold)

  private object MemoCompact extends CrashCase {
    val name = "bm25 memo compact"
    val op = "part-fold"
    private val ts = Seq("key", "join")
    private def idx(dir: String) = s"$dir/idx"
    private def memo(dir: String) = s"$dir/memo"
    private def qs = Seq(("q", ts)).toDF("query_id", "terms")
    def setup(dir: String): Unit = {
      graft.ops.Bm25.ensurePostings(docs, idx(dir))
      // populate the memo: one live termset + one that GC will drop
      graft.ops.Bm25ResultCache.scoreTopKCachedBatch(spark, idx(dir),
        memo(dir), qs, 5).count()
      graft.ops.Bm25ResultCache.scoreTopKCachedBatch(spark, idx(dir),
        memo(dir), Seq(("s", Seq("spark"))).toDF("query_id", "terms"),
        5).count()
    }
    def mutate(dir: String): Unit =
      graft.ops.Bm25ResultCache.compact(spark, idx(dir), memo(dir),
        liveTermsets = Seq(ts), k = 5)
    // the memo's rows, then the scored answer: the cache is
    // answer-NEUTRAL (hits replay memoized exact results), and the
    // live termset hits in the old memo and in the new one alike, so
    // observing appends nothing
    def observe(dir: String): Seq[String] =
      new PartLog(memo(dir)).read(spark).collect()
        .map(r => s"memo ${r.getString(0)}|${r.getLong(1)}|${
          r.getDouble(2)}|${r.getLong(3)}")
        .toSeq.sorted ++
        graft.ops.Bm25ResultCache.scoreTopKCachedBatch(spark, idx(dir),
            memo(dir), qs, 5)
          .collect()
          .map(r => s"${r.getString(0)}|${r.getLong(1)}|${
            r.getDouble(2)}|${r.getLong(3)}")
          .toSeq.sorted
    private lazy val before = {
      val d = tmpDir("crash-memo-compact-before")
      setup(d)
      observe(d)
    }
    // reader-safe: the complete old memo before the publish, the
    // complete new one after it
    override def acceptable(dir: String, after: Seq[String],
        got: Seq[String]): Boolean = got == after || got == before
  }

  private val cases: Seq[CrashCase] = Seq(AggFold, SampleCompact,
    SampleWrite, GramReplay, Bm25Ingest, IvfIngest, Bm25Compact,
    IvfCompact, MediaIngest, MediaDedupIngest, MemoCompact)

  cases.foreach { c =>
    test(s"${c.name}: killed between every pair of steps, every " +
        "window honors the store's crash contract") {
      // clean discovery run: registers the op's step list and fixes
      // the committed answer every window is judged against
      val clean = tmpDir(s"crash-${c.op}-clean")
      c.setup(clean)
      c.mutate(clean)
      val after = c.observe(clean)
      assert(after.nonEmpty, s"${c.name}: empty committed answer")
      val steps = CommitProtocol.stepsOf(c.op)
      assert(steps.nonEmpty, s"${c.name}: op ${c.op} never registered")
      c.expectSteps.foreach(want => assert(steps == want, steps))

      steps.indices.foreach { i =>
        val dir = tmpDir(s"crash-${c.op}-$i")
        c.setup(dir)
        CommitProtocol.crashAfter = Some((c.op, i))
        val e = try intercept[CommitProtocol.InjectedCrash] {
          c.mutate(dir)
        } finally CommitProtocol.crashAfter = None
        assert(e.afterStep == steps(i))
        // the crash-window read must neither throw nor violate the
        // store's contract
        val got = c.observe(dir)
        assert(c.acceptable(dir, after, got),
          s"${c.name}: unacceptable read after crash at " +
            s"'${steps(i)}': got $got, committed $after")
        // once the manifest is published, a folded id is refused
        c.replayFolded.filter(_ =>
          i >= steps.indexOf("publish-manifest")).foreach { replay =>
          intercept[IllegalArgumentException](replay(dir))
        }
        // remediation restores the committed answer exactly
        c.heal(dir)
        val healed = c.observe(dir)
        assert(healed == after,
          s"${c.name}: heal after crash at '${steps(i)}' " +
            s"diverged: $healed vs $after")
      }
    }
  }
}
