package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.config.PipelineConfig
import graft.pipeline.{CurationPipeline, DirectPipeline, MaterializedPipeline}

/** The benchmark's load generator and timer: one JVM, one Spark session,
  * every phase driven through the program's public functions.
  *
  * {{{
  * Harness --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *         --root <run dir> --out <result json> --hashes <surface hashes>
  *         --warehouse <surface warehouse> [--record <hash file>]
  *         [--dump <dir>]
  * }}}
  *
  * A run first warms up: every streaming phase once on small inputs of
  * its own, and beside them one surface pass, without the store entries,
  * over a copy of the surface warehouse. It then sets up three times in turn and keeps the median
  * as `setup_s`. A set-up writes the seeded inputs into fresh
  * directories, copies the surface warehouse to a path of its own and
  * runs the [[Surface.StoreEntries]] there cold, which builds the
  * derived stores the program caches per warehouse path. The last
  * set-up's inputs are measured, in four phases:
  *
  *  - direct: `DirectPipeline.start` drains the wire backlog into
  *    `email_events`, then closed-loop REF:160-166 lookups read it;
  *  - mv: rounds of one queue file each, `MaterializedPipeline.start`
  *    to completion, then `levelTotals` reads checked against the
  *    generator's running counts;
  *  - surface: one warm pass over [[Surface.Entries]], every result
  *    collected in full, in a seed-shuffled order;
  *  - curation: `CurationPipeline.start` with the near-dup store over
  *    the seeded document stream.
  *
  * The drain runs first and curation last. Between them, the lookups,
  * mv rounds and surface entries run in [[Cycles]] interleaved cycles.
  *
  * Every output is checked outside the timed regions; a mismatch counts
  * as a failed operation. The result is one JSON object in `--out`.
  */
object Harness {

  /** One workload: micro-batch sizes and the work of each phase in a
    * run of [[BaseSeconds]] seconds, sized on a 4-core host so the four
    * phases together take about that long. */
  final case class Shape(eventsPerFile: Int, directFiles: Int, lookups: Int,
      queueEventsPerRound: Int, mvRounds: Int, docsPerBatch: Int,
      curationBatches: Int) {
    /** The same shape for a run of `seconds` seconds: the counts of
      * files, lookups, rounds and batches scale, micro-batch sizes stay.
      * Curation keeps at least 3 batches: the seeding one and two
      * store-backed ones. */
    def scaled(seconds: Int): Shape = {
      val k = seconds.toDouble / BaseSeconds
      def n(x: Int, min: Int) = math.max(min, math.round(x * k).toInt)
      copy(directFiles = n(directFiles, 10), lookups = n(lookups, 20),
        mvRounds = n(mvRounds, 4), curationBatches = n(curationBatches, 3))
    }
  }

  val BaseSeconds = 25

  /** The measured lookups, mv rounds and surface entries run in this many
    * interleaved cycles. */
  val Cycles = 4

  /** Measured `levelTotals` reads after each mv round. */
  val ReadsPerRound = 2

  val Shapes: Map[String, Shape] = Map(
    "small_batches" -> Shape(eventsPerFile = 200, directFiles = 50,
      lookups = 32, queueEventsPerRound = 200, mvRounds = 10,
      docsPerBatch = 100, curationBatches = 6),
    "large_batches" -> Shape(eventsPerFile = 2000, directFiles = 30,
      lookups = 32, queueEventsPerRound = 5000, mvRounds = 8,
      docsPerBatch = 150, curationBatches = 6))

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  private def clockS(): Double = System.nanoTime() / 1e9

  private def timeS[A](body: => A): (A, Double) = {
    val t0 = clockS()
    val a = body
    (a, clockS() - t0)
  }

  private def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Durations (s) of the micro-batches that read input. */
  private def batchSeconds(q: StreamingQuery): Seq[Double] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").longValue / 1000.0)

  /** Inputs of one set-up. */
  final case class Inputs(root: File, direct: PipelineConfig,
      campaign: Gen.CampaignTruth, mv: PipelineConfig, docsDir: File,
      curation: Gen.CurationTruth, warehouse: String)

  /** The streaming inputs: the wire backlog and the document stream. */
  def setUpStreams(root: File, seed: Long, shape: Shape): Inputs = {
    delete(root)
    root.mkdirs()
    val direct = PipelineConfig(topicsRoot = s"$root/topics",
      warehouseRoot = s"$root/warehouse")
    val campaign = Gen.wireBacklog(
      new File(direct.topicDir("event_tracking")), seed, shape.directFiles,
      shape.eventsPerFile)
    val mv = PipelineConfig(topicsRoot = s"$root/mv_topics",
      warehouseRoot = s"$root/mv_warehouse")
    val docsDir = new File(root, "docs")
    val curation = Gen.docStream(docsDir, seed, shape.curationBatches,
      shape.docsPerBatch)
    Inputs(root, direct, campaign, mv, docsDir, curation, "")
  }

  /** Copies the surface warehouse to `root/sf`, a path of its own, so
    * no store derived from another copy serves it. */
  def copyWarehouse(warehouse: File, root: File): String = {
    val sf = new File(root, "sf")
    sf.mkdirs()
    warehouse.listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.copy(f.toPath, new File(sf, f.getName).toPath)
    }
    sf.toString
  }

  /** One set-up: the streaming inputs, a copy of the surface warehouse,
    * and a cold run of the [[Surface.StoreEntries]] over the copy. That
    * run builds their derived stores from scratch, so the build cost
    * lands in `setup_s`, and leaves them for the measured pass. Its
    * results are checked too. */
  def setUp(spark: SparkSession, root: File, seed: Long, shape: Shape,
      warehouse: File, expected: Map[String, String], res: Results): Inputs = {
    val in = setUpStreams(root, seed, shape)
    val sf = copyWarehouse(warehouse, root)
    runSurface(spark, sf, Surface.StoreEntries, expected, Tracer.off, res)
    in.copy(warehouse = sf)
  }

  /** Everything one run measured. */
  final class Results {
    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    val record = mutable.LinkedHashMap.empty[String, Any]
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; if (failures.size < 20) failures += what }
    }
    def put(name: String, value: Double, unit: String): Unit =
      metrics(name) = (value, unit)
  }

  // ------------------------------------------------------------- phases

  final case class DirectOut(drainS: Double, batchS: Seq[Double],
      lookupMs: Seq[Double])

  /** `DirectPipeline.start` drains the wire backlog into `email_events`;
    * the stored and dead-letter rows are checked against the generator.
    * Returns the drain's wall time and its micro-batch durations. */
  def drain(spark: SparkSession, in: Inputs, tr: Tracer,
      res: Results): (Double, Seq[Double]) = {
    val (q, drainS) = timeS(tr.span("pipeline.DirectPipeline.start") {
      val q = DirectPipeline.start(spark, in.direct)
      q.awaitTermination()
      q
    })
    val stored = DirectPipeline.emailEvents(spark, in.direct).count()
    val dead = spark.read.json(in.direct.tablePath("dead_letter")).count()
    res.check(stored == in.campaign.stored,
      s"email_events rows $stored != ${in.campaign.stored}")
    res.check(dead == in.campaign.deadLetters,
      s"dead letters $dead != ${in.campaign.deadLetters}")
    (drainS, batchSeconds(q))
  }

  /** Closed-loop REF:160-166 lookups on one table handle, as a dashboard
    * issues them; every result is collected in full and checked. */
  def lookup(table: DataFrame, in: Inputs, keys: Seq[String], tr: Tracer,
      res: Results): Seq[Double] =
    keys.map { key =>
      val (rows, dt) = timeS(tr.span("query.lookup") {
        table
          .filter(col("campaign_id") === key && col("event_type") === "click")
          .orderBy(col("event_time").desc)
          .collect()
      })
      val got = rows.toSeq.map(r => Gen.Click(
        r.getAs[java.sql.Timestamp]("event_time").getTime / 1000L,
        r.getAs[String]("email")))
      res.check(Stats.lookupOk(in.campaign.clicks.getOrElse(key, Vector()),
        got), s"lookup $key")
      dt * 1000
    }

  /** The drain, then `lookups` lookups. */
  def runDirect(spark: SparkSession, in: Inputs, lookups: Int,
      tr: Tracer, res: Results): DirectOut = {
    val (drainS, batchS) = drain(spark, in, tr, res)
    DirectOut(drainS, batchS, lookup(DirectPipeline.emailEvents(spark,
      in.direct), in, in.campaign.lookupKeys(lookups), tr, res))
  }

  final case class MvOut(freshS: Seq[Double], readMs: Seq[Double])

  /** Rounds of one queue file each from `queue`, run to completion, then
    * `reads` closed-loop `levelTotals` reads, each timed and checked.
    * Freshness ends at the first read; every read is a rollup-read
    * sample. */
  def runMv(spark: SparkSession, in: Inputs, queue: Gen.QueueStream,
      rounds: Seq[Int], eventsPerRound: Int, reads: Int, tr: Tracer,
      res: Results): MvOut = {
    val dir = new File(in.mv.topicDir("event_tracking"))
    val fresh = mutable.ArrayBuffer.empty[Double]
    val readMs = mutable.ArrayBuffer.empty[Double]
    for (round <- rounds) {
      queue.writeRound(dir, round, eventsPerRound)
      val landed = clockS()
      tr.span("pipeline.MaterializedPipeline.start") {
        MaterializedPipeline.start(spark, in.mv, maxFilesPerTrigger = 1)
          .awaitTermination()
      }
      val got = (0 until reads).map { i =>
        val (rows, readS) = timeS(tr.span("agg.levelTotals") {
          MaterializedPipeline.levelTotals(spark, in.mv).collect()
        })
        if (i == 0) fresh += clockS() - landed
        readMs += readS * 1000
        rows
      }
      got.zipWithIndex.foreach { case (rows, i) =>
        val totals = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
        res.check(Stats.totalsOk(queue.totals, totals),
          s"levelTotals round $round read $i: $totals != ${queue.totals}")
      }
    }
    MvOut(fresh.toSeq, readMs.toSeq)
  }

  def runSurface(spark: SparkSession, warehouse: String, order: Seq[String],
      expected: Map[String, String], tr: Tracer,
      res: Results): Seq[(String, Double, String)] =
    order.map { name =>
      val ((df, rows), dt) = timeS(tr.span(s"query.$name") {
        val df = graft.SparkEntry.queries(name)(spark, warehouse)
        (df, df.collect())
      })
      val h = Surface.resultHash(df, rows)
      res.check(expected.get(name).contains(h), s"surface $name hash $h")
      (name, dt, h)
    }

  final case class CurationOut(wallS: Double, batchS: Seq[Double],
      phases: Map[String, Double])

  def runCuration(spark: SparkSession, in: Inputs, tr: Tracer,
      res: Results): CurationOut = {
    val out = s"${in.root}/curation"
    val rec = new CurationPipeline.PhaseRecorder
    val (cq, wallS) = timeS(tr.span("pipeline.CurationPipeline.start") {
      val (cq, rq) = CurationPipeline.start(spark, in.docsDir.toString, out,
        s"${in.root}/_checkpoints/curation",
        nearDupStore = Some(s"${in.root}/curation_sigs"),
        maxFilesPerTrigger = Some(1), phaseRecorder = Some(rec))
      cq.awaitTermination()
      rq.awaitTermination()
      cq
    })
    val kept = CurationPipeline.curated(spark, out).count()
    val rejects = CurationPipeline.rejects(spark, out)
    val all = rejects.count()
    val degenerate = rejects
      .filter(col("reject_reason").isin("repetitive", "too_short")).count()
    res.check(Stats.curationOk(in.curation, kept, degenerate, all),
      s"curation kept=$kept rejects=$all degenerate=$degenerate " +
        s"truth=${in.curation}")
    CurationOut(wallS, batchSeconds(cq), rec.snapshot)
  }

  // --------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seconds = arg(args, "--seconds").toInt
    val shape = Shapes.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
      .scaled(seconds)
    val seed = arg(args, "--seed").toLong
    val traced = arg(args, "--trace") == "1"
    val root = new File(arg(args, "--root")).getAbsoluteFile
    val outFile = new File(arg(args, "--out"))
    val expected = readHashes(new File(arg(args, "--hashes")))
    val warehouse = new File(arg(args, "--warehouse")).getAbsoluteFile
    val cores = math.min(Runtime.getRuntime.availableProcessors, 4)

    val (spark, sessionS) = timeS(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/spark-warehouse")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(s"$workload-$seed-${if (traced) 1 else 0}", traced)
    tr.attach(spark)
    val res = new Results

    // warm-up, untimed: every streaming phase once on small inputs of its
    // own. Direct and mv run on a second thread; beside them run one
    // surface pass over a warehouse copy, then curation. The surface pass
    // leaves out the store entries, which every set-up runs. Curation runs
    // two batches, so the store-backed cross-batch path (anti-join,
    // signature-store ingest) runs as well as the seeding one. The mv
    // warm-up reads `levelTotals` eight times, so the measured reads do
    // not run while the JIT is still compiling the read path.
    val warm = setUpStreams(new File(root, "warm"), seed + 1,
      shape.copy(directFiles = 8, queueEventsPerRound = 100,
        docsPerBatch = 40, curationBatches = 2))
    implicit val ec: ExecutionContext = ExecutionContext.global
    val warmStreams = Future(Seq(
      timeS(runDirect(spark, warm, 8, Tracer.off, new Results))._2,
      timeS(runMv(spark, warm, new Gen.QueueStream(seed), 0 until 2, 100, 4,
        Tracer.off, new Results))._2))
    val warmSurface = timeS(runSurface(spark,
      copyWarehouse(warehouse, warm.root),
      Surface.Entries.filterNot(Surface.StoreEntries.contains), expected,
      Tracer.off, new Results))._2
    val warmCuration = timeS(runCuration(spark, warm, Tracer.off,
      new Results))._2
    val warmS = warmSurface +: Await.result(warmStreams, Duration.Inf) :+
      warmCuration
    delete(warm.root)

    // set-up, three times; the last one's inputs are measured
    val setups = (0 until 3).map { i =>
      timeS(setUp(spark, new File(root, s"setup$i"), seed, shape, warehouse,
        expected, res))
    }
    val in = setups.last._1
    setups.init.foreach(s => delete(s._1.root))
    res.put("setup_s", Stats.median(setups.map(_._2)), "s")

    // measure: the drain, then Cycles cycles of lookups, mv rounds and
    // surface entries, each taking its share of the three in turn, then
    // the curation stream. Spread over the run, the lookup, mv and surface
    // samples do not all fall into one burst of host contention, and their
    // medians stand for the whole run.
    val gc0 = gcSeconds()
    val measureStart = clockS()
    val heap = new HeapWatch
    tr.overheadNs.set(0L)
    val rng = new scala.util.Random(seed)
    val phaseS = mutable.LinkedHashMap.empty[String, Double]
    def phase[A](name: String)(body: => A): A = {
      val (a, dt) = timeS(tr.span(s"phase.$name")(body))
      phaseS(name) = phaseS.getOrElse(name, 0.0) + dt
      a
    }
    System.gc() // every part starts from the same heap, untimed
    val (drainS, batchS) = phase("direct")(drain(spark, in, tr, res))
    val table = DirectPipeline.emailEvents(spark, in.direct)
    val keys = in.campaign.lookupKeys(shape.lookups)
    val queue = new Gen.QueueStream(seed)
    val order = rng.shuffle(Surface.Entries)
    val cycles = (0 until Cycles).map { c =>
      def share[A](xs: Seq[A]): Seq[A] = Stats.share(xs, c, Cycles)
      System.gc()
      val lookupMs = phase("direct")(lookup(table, in, share(keys), tr, res))
      val mv = phase("mv") {
        runMv(spark, in, queue, share(0 until shape.mvRounds),
          shape.queueEventsPerRound, ReadsPerRound, tr, res)
      }
      val entries = phase("surface") {
        runSurface(spark, in.warehouse, share(order), expected, tr, res)
      }
      (lookupMs, mv, entries)
    }
    val direct = DirectOut(drainS, batchS, cycles.flatMap(_._1))
    val mv = MvOut(cycles.flatMap(_._2.freshS), cycles.flatMap(_._2.readMs))
    val surface = cycles.flatMap(_._3)
    System.gc()
    val curation = phase("curation") {
      runCuration(spark, in, tr, res)
    }
    val measureS = phaseS.values.sum
    val measureWallS = clockS() - measureStart
    val gcS = gcSeconds() - gc0
    heap.close()

    res.put("ingest_events_per_s", in.campaign.events / direct.drainS, "1/s")
    res.put("ingest_batch_p50_s", Stats.median(direct.batchS), "s")
    res.put("lookup_p50_ms", Stats.median(direct.lookupMs), "ms")
    val lookupTail = Stats.tail(direct.lookupMs)
    res.put("lookup_tail_ms", lookupTail.value, "ms")
    res.put("mv_fresh_p50_s", Stats.median(mv.freshS), "s")
    val freshTail = Stats.tail(mv.freshS)
    res.put("mv_fresh_tail_s", freshTail.value, "s")
    res.put("rollup_read_p50_ms", Stats.median(mv.readMs), "ms")
    val readTail = Stats.tail(mv.readMs)
    res.put("rollup_read_tail_ms", readTail.value, "ms")
    res.put("surface_total_s", surface.map(_._2).sum, "s")
    res.put("surface_geomean_ms", Stats.geomean(surface.map(_._2 * 1000)), "ms")
    res.put("curation_docs_per_s", in.curation.docs / curation.wallS, "1/s")
    res.put("curation_batch_p50_s", Stats.median(curation.batchS), "s")

    res.record ++= Seq(
      "session_s" -> sessionS, "warmup_s" -> warmS, "measure_s" -> measureS,
      "measure_wall_s" -> measureWallS,
      "phase_s" -> phaseS,
      "surface_entry_s" -> surface.map(e => e._1 -> e._2).toMap,
      "setup_samples_s" -> setups.map(_._2),
      "lookup_tail" -> lookupTail, "mv_fresh_tail" -> freshTail,
      "rollup_read_tail" -> readTail,
      "samples" -> Map("ingest_batch_s" -> direct.batchS,
        "lookup_ms" -> direct.lookupMs, "mv_fresh_s" -> mv.freshS,
        "rollup_read_ms" -> mv.readMs, "curation_batch_s" -> curation.batchS),
      "failed_ops_share" -> res.failed.toDouble / math.max(1, res.attempted),
      "peak_heap_after_gc_mb" -> heap.peakMb,
      "surface_order" -> surface.map(_._1))

    if (traced) {
      val layers = new Layers(spark, tr, in, cores)
      layers.compute(res, direct, mv, surface.map(e => (e._1, e._2)), curation,
        measureS, gcS, heap.peakMb)
      res.record("span_self_s") = tr.selfSeconds
      tr.writeSpans(new File(root.getParentFile, "spans.jsonl"))
    }
    writeResult(outFile, res, traced)
    // --dump <dir>: each surface result and its oracle SQL, for
    // perfbench/prove_hashes.py (see NOTES.md)
    if (args.contains("--dump")) {
      val dir = arg(args, "--dump")
      Surface.Entries.foreach { n =>
        graft.SparkEntry.queries(n)(spark, in.warehouse)
          .write.mode("overwrite").parquet(s"$dir/$n")
      }
      val oracles = graft.SparkEntry.oracleSqlFor(in.warehouse,
        Some(Surface.Entries.toSet)).filter(e => Surface.Entries.contains(e._1))
      java.nio.file.Files.write(new File(s"$dir/oracle_sql.json").toPath,
        json(oracles).getBytes("UTF-8"))
    }
    // --record <file>: write this pass's result hashes (see NOTES.md)
    if (args.contains("--record"))
      java.nio.file.Files.write(new File(arg(args, "--record")).toPath,
        surface.sortBy(_._1).map { case (n, _, h) => s"$n\t$h\n" }.mkString
          .getBytes("UTF-8"))
    spark.stop()
  }

  /** The largest heap in use right after a collection, from the
    * collector's own notifications while open: live data plus what the
    * collector has not yet reclaimed. The process RSS hardly shows this,
    * because the heap is sized up front. */
  final class HeapWatch {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{Notification, NotificationEmitter,
      NotificationListener}
    import javax.management.openmbean.CompositeData

    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet
    @volatile private var peak = 0L
    private val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: Any): Unit =
        if (n.getType ==
            GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val used = GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
            .getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }
    }
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans
      .asScala.collect { case e: NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(listener, null, null))

    def close(): Unit =
      emitters.foreach(_.removeNotificationListener(listener))
    def peakMb: Double = peak / (1024.0 * 1024.0)
  }

  /** `name<TAB>hash` lines. */
  def readHashes(f: File): Map[String, String] =
    if (!f.exists) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.trim).filter(_.nonEmpty).map { l =>
        val Array(k, v) = l.split("\t"); k -> v
      }.toMap
      finally src.close()
    }

  private def json(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case t: Stats.Tail =>
      s"""{"value":${json(t.value)},"percentile":${t.percentile},""" +
        s""""samples":${t.samples}}"""
    case m: scala.collection.Map[_, _] => m.map { case (k, x) =>
        json(k.toString) + ":" + json(x)
      }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case o => json(o.toString)
  }

  private def writeResult(f: File, res: Results, traced: Boolean): Unit = {
    def asJson(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u)
      }
    val body = mutable.LinkedHashMap[String, Any](
      "correct" -> (res.failed == 0), "attempted" -> res.attempted,
      "failed" -> res.failed, "traced" -> traced,
      "metrics" -> asJson(res.metrics), "layers" -> asJson(res.layers),
      "record" -> res.record, "failures" -> res.failures)
    val tmp = new File(f.getPath + ".tmp")
    java.nio.file.Files.write(tmp.toPath, json(body).getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
