package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.config.PipelineConfig
import graft.pipeline.{DirectPipeline, MaterializedPipeline}

/** Streaming throughput bench: generates JSON-lines topic files, runs
  * both reference pipelines end-to-end (Part 1 direct insert, Part 2
  * MV rollup), and prints one JSON line with events/sec each.
  * Not part of the driver contract; numbers recorded in BASELINE.md.
  *
  * Every metric row carries the [[graft.obs.Health]] record of its own
  * timed region (run-queue wait share, steal, iowait), and the closing
  * `stream_health` row judges the summed record with
  * [[graft.obs.Health.degraded]] — the same rule the batch bench uses.
  * The three curation rows carry per-tier phase seconds
  * ([[graft.pipeline.CurationPipeline.PhaseRecorder]]), so a tier's
  * cost decomposes into dsir_gate / exact_dedup / near_dup / writes.
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val nEvents = sys.env.getOrElse("SPARK_GRAFT_STREAM_EVENTS",
      "200000").toInt
    val nFiles = 20
    val spark = SparkEntry.localSession("ERROR")

    val root = Files.createTempDirectory("streambench").toString
    val cfg = PipelineConfig(topicsRoot = s"$root/topics",
      warehouseRoot = s"$root/wh")
    val dir = Paths.get(cfg.topicDir("event_tracking"))
    Files.createDirectories(dir)
    val levels = Array("delivered", "open", "click", "bounce",
      "unsubscribe")
    val perFile = nEvents / nFiles
    var id = 0
    (0 until nFiles).foreach { f =>
      val sb = new StringBuilder(perFile * 96)
      (0 until perFile).foreach { _ =>
        val lvl = levels(id % levels.length)
        val ts = 1700000000L + (id % (10 * 86400))
        // queue-record shape for the MV path; wire shape is a superset
        sb.append(s"""{"timestamp": $ts, "level": "$lvl",""")
          .append(s""" "message": "event-$id"}\n""")
        id += 1
      }
      Files.writeString(dir.resolve(f"part-$f%04d.json"), sb.toString)
    }

    // every timed region's health record: the last one rides its
    // metric row, the sum the closing stream_health row
    var lastHealth = graft.obs.Health.Record.empty
    var runHealth = graft.obs.Health.Record.empty
    def timed(f: => Unit): Double = {
      val (out, rec) = graft.obs.Health.measure(f)
      out.get
      lastHealth = rec; runHealth = runHealth + rec
      rec.wallSec
    }
    // Each metric line is printed AND collected into STREAM_BENCH.json,
    // so streaming throughput is a diffable round-over-round artifact
    // (it previously lived only in BASELINE.md prose).
    val emitted = scala.collection.mutable.ArrayBuffer.empty[String]
    def emit(line: String): Unit = { emitted += line; println(line) }
    def loadNow: Double = math.rint(java.lang.management
      .ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage * 100) / 100.0
    // metric row with its timed region's health record and the
    // loadavg-at-measurement. `tail` carries the metric's own fields
    // (leading comma included).
    def emitMetric(metric: String, value: Double, tail: String): Unit =
      emit(s"""{"metric":"$metric","value":$value,""" +
        s""""loadavg":$loadNow,"health":${lastHealth.json}$tail}""")

    // per-tier seconds of a curation run as a JSON object (summed
    // over every micro-batch by the recorder)
    def phasesJson(
        r: graft.pipeline.CurationPipeline.PhaseRecorder): String =
      r.snapshot.toSeq.sortBy(_._1)
        .map { case (k, v) =>
          "\"" + k + "\":" + (math.rint(v * 1000) / 1000.0)
        }.mkString("{", ",", "}")

    // Untimed warm-up: one direct-insert cycle over a fixed 20k-event
    // corpus. The FIRST streaming query in a process pays
    // state-store/codegen/commit-log init; this cycle absorbs it so
    // the first timed metric does not.
    locally {
      val warmEvents = 20000
      val wcfg = PipelineConfig(topicsRoot = s"$root/topics",
        topics = Map("event_tracking" -> "warmup.topic"),
        warehouseRoot = s"$root/wh_warmup")
      val wdir = Paths.get(wcfg.topicDir("event_tracking"))
      Files.createDirectories(wdir)
      val sb = new StringBuilder(warmEvents * 160)
      (0 until warmEvents).foreach { i =>
        val sec = i % 86400
        val t = f"2026-08-10T${sec / 3600}%02d:" +
          f"${(sec / 60) % 60}%02d:${sec % 60}%02d"
        sb.append(s"""{"campaign_id": "c${i % 100}",""")
          .append(s""" "workspace_id": "w", "email": "cu$i@x",""")
          .append(s""" "event_type": "delivered", "event_time": "$t",""")
          .append(s""" "metadata": {"k": "$i"}}""").append('\n')
      }
      Files.writeString(wdir.resolve("part-0000.json"), sb.toString)
      DirectPipeline.start(spark, wcfg).awaitTermination()
      require(DirectPipeline.emailEvents(spark, wcfg).count() == warmEvents,
        "warm-up lost events")
    }
    // Part 2: MV rollup into the summing store (kafka+clickhouse Part 2)
    val mvSec = timed {
      MaterializedPipeline.start(spark, cfg,
        maxFilesPerTrigger = 2).awaitTermination()
    }
    val totals = MaterializedPipeline.levelTotals(spark, cfg)
      .collect().map(_.getLong(1)).sum
    require(totals == nEvents, s"MV total $totals != $nEvents")

    val mvRate = nEvents / mvSec
    emitMetric("stream_mv_events_per_sec", mvRate,
      s""","unit":"events/sec","events":$nEvents,"seconds":$mvSec,""" +
      s""""batches":${nFiles / 2}""")

    // Part 1: direct insert — wire-shaped events on their own topic,
    // full validate + partitioned columnar append per micro-batch.
    val wcfg = PipelineConfig(topicsRoot = s"$root/topics",
      topics = Map("event_tracking" -> "wire.topic"),
      warehouseRoot = s"$root/wh_direct")
    val wdir = Paths.get(wcfg.topicDir("event_tracking"))
    Files.createDirectories(wdir)
    id = 0
    (0 until nFiles).foreach { f =>
      val sb = new StringBuilder(perFile * 160)
      (0 until perFile).foreach { _ =>
        val lvl = levels(id % levels.length)
        val sec = id % 86400
        val t = f"2026-08-${10 + id % 3}%02dT${sec / 3600}%02d:" +
          f"${(sec / 60) % 60}%02d:${sec % 60}%02d"
        sb.append(s"""{"campaign_id": "c${id % 500}",""")
          .append(s""" "workspace_id": "w", "email": "u$id@x",""")
          .append(s""" "event_type": "$lvl", "event_time": "$t",""")
          .append(s""" "metadata": {"k": "$id"}}\n""")
        id += 1
      }
      Files.writeString(wdir.resolve(f"part-$f%04d.json"), sb.toString)
    }
    val directSec = timed {
      DirectPipeline.start(spark, wcfg).awaitTermination()
    }
    val stored = DirectPipeline.emailEvents(spark, wcfg).count()
    require(stored == nEvents, s"direct stored $stored != $nEvents")
    val directRate = nEvents / directSec
    emitMetric("stream_direct_events_per_sec", directRate,
      s""","unit":"events/sec","events":$nEvents,"seconds":$directSec""")

    // Sessionization: the keyed-state path (flatMapGroupsWithState +
    // event-time timeout) over its own topic — 5000 recurring users,
    // time-ordered stream, per-user cadence (~67 min) longer than the
    // 30-min gap so sessions continuously close via timeout.
    val scfg = PipelineConfig(topicsRoot = s"$root/topics",
      topics = Map("event_tracking" -> "sess.topic"),
      warehouseRoot = s"$root/wh_sess")
    val sdir = Paths.get(scfg.topicDir("event_tracking"))
    Files.createDirectories(sdir)
    id = 0
    (0 until nFiles).foreach { f =>
      val sb = new StringBuilder(perFile * 160)
      (0 until perFile).foreach { _ =>
        val sec0 = (id * 4) / 5 // 0.8 s of event time per event
        val day = 10 + sec0 / 86400
        val sec = sec0 % 86400
        val t = f"2026-08-$day%02dT${sec / 3600}%02d:" +
          f"${(sec / 60) % 60}%02d:${sec % 60}%02d"
        sb.append(s"""{"campaign_id": "c1", "workspace_id": "w",""")
          .append(s""" "email": "u${id % 5000}@x",""")
          .append(s""" "event_type": "open", "event_time": "$t",""")
          .append(""" "metadata": {}}""").append('\n')
        id += 1
      }
      Files.writeString(sdir.resolve(f"part-$f%04d.json"), sb.toString)
    }
    val sessSec = timed {
      graft.pipeline.SessionPipeline.start(spark, scfg,
        maxFilesPerTrigger = 2).awaitTermination()
    }
    val closed = graft.pipeline.SessionPipeline
      .closedSessions(spark, scfg).count()
    require(closed > 0 && closed <= nEvents,
      s"implausible closed-session count $closed")
    val sessRate = nEvents / sessSec
    emitMetric("stream_session_events_per_sec", sessRate,
      s""","unit":"events/sec","events":$nEvents,"seconds":$sessSec,""" +
      s""""closed_sessions":$closed""")

    // Streaming funnel: per-user keyed funnel state over its own topic
    // — 5000 users cycle delivered -> open -> click in event-time
    // order (one step per 5000-event round), so attempts complete and
    // re-anchor continuously; prices the keyed-state fold + in-stream
    // emissions + timeout bookkeeping.
    val fcfg = PipelineConfig(topicsRoot = s"$root/topics",
      topics = Map("event_tracking" -> "funnel.topic"),
      warehouseRoot = s"$root/wh_funnel")
    val fdir = Paths.get(fcfg.topicDir("event_tracking"))
    Files.createDirectories(fdir)
    val fsteps = Array("delivered", "open", "click")
    id = 0
    (0 until nFiles).foreach { f =>
      val sb = new StringBuilder(perFile * 160)
      (0 until perFile).foreach { _ =>
        val sec0 = id / 5 // 0.2 s of event time per event
        val day = 10 + sec0 / 86400
        val sec = sec0 % 86400
        val t = f"2026-08-$day%02dT${sec / 3600}%02d:" +
          f"${(sec / 60) % 60}%02d:${sec % 60}%02d"
        sb.append(s"""{"campaign_id": "c1", "workspace_id": "w",""")
          .append(s""" "email": "u${id % 5000}@x",""")
          .append(s""" "event_type": "${fsteps((id / 5000) % 3)}",""")
          .append(s""" "event_time": "$t", "metadata": {}}""")
          .append('\n')
        id += 1
      }
      Files.writeString(fdir.resolve(f"part-$f%04d.json"), sb.toString)
    }
    val funSec = timed {
      graft.pipeline.FunnelPipeline.start(spark, fcfg,
        maxFilesPerTrigger = 2).awaitTermination()
    }
    val funCompleted = graft.pipeline.FunnelPipeline
      .results(spark, fcfg).filter("completed").count()
    require(funCompleted > 0, "no funnel completions emitted")
    val funRate = nEvents / funSec
    emitMetric("stream_funnel_events_per_sec", funRate,
      s""","unit":"events/sec","events":$nEvents,"seconds":$funSec,""" +
      s""""completed":$funCompleted""")

    // Streaming curation: docs through the gate + fingerprint-dedup
    // pipeline — 10% exact re-crawls (dropped by state), 5% degenerate
    // (rejected), ~45-word docs.
    val nDocs = nEvents / 4
    val perDocFile = nDocs / nFiles
    val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")
    val csrc = s"$root/curation_src"
    Files.createDirectories(Paths.get(csrc))
    id = 0
    (0 until nFiles).foreach { f =>
      val sb = new StringBuilder(perDocFile * 300)
      (0 until perDocFile).foreach { _ =>
        val text =
          if (id % 20 == 19) "loop loop " * 20 + "loop"  // degenerate
          else {
            val seed = if (id % 10 == 9) id - 1 else id  // 10% re-crawl
            val r = new scala.util.Random(seed)
            Array.fill(45)(vocab(r.nextInt(vocab.length))).mkString(" ")
          }
        sb.append(s"""{"doc_id": $id, "text": "$text",""")
          .append(s""" "lang": "en", "source": "crawl"}""").append('\n')
        id += 1
      }
      Files.writeString(
        Paths.get(csrc).resolve(f"part-$f%04d.json"), sb.toString)
    }
    val curRec = new graft.pipeline.CurationPipeline.PhaseRecorder
    val curSec = timed {
      val (cq, rq) = graft.pipeline.CurationPipeline.start(
        spark, csrc, s"$root/curation_out", s"$root/curation_ck",
        phaseRecorder = Some(curRec))
      cq.awaitTermination(); rq.awaitTermination()
    }
    val kept = graft.pipeline.CurationPipeline
      .curated(spark, s"$root/curation_out").count()
    val rejected = graft.pipeline.CurationPipeline
      .rejects(spark, s"$root/curation_out").count()
    require(kept + rejected < nDocs && kept > 0 && rejected > 0,
      s"curation implausible: kept=$kept rejected=$rejected of $nDocs")
    val curRate = nDocs / curSec
    emitMetric("stream_curation_docs_per_sec", curRate,
      s""","unit":"docs/sec","docs":$nDocs,"seconds":$curSec,""" +
      s""""kept":$kept,"rejected":$rejected,"phases":${phasesJson(curRec)}""")

    // Two-tier variant: same input in 5 micro-batches (4 files each),
    // plus the near-dup probe of the persisted signature store on every
    // batch after the first. The 10% planted re-crawls are EXACT
    // copies, so they still fall to tier 1 (fingerprint state); the
    // metric prices the probe + verify + signature append per batch.
    val cur2Rec = new graft.pipeline.CurationPipeline.PhaseRecorder
    val cur2Sec = timed {
      val (cq, rq) = graft.pipeline.CurationPipeline.start(
        spark, csrc, s"$root/curation2_out", s"$root/curation2_ck",
        nearDupStore = Some(s"$root/curation2_sigs"),
        maxFilesPerTrigger = Some(4),
        phaseRecorder = Some(cur2Rec))
      cq.awaitTermination(); rq.awaitTermination()
    }
    val kept2 = graft.pipeline.CurationPipeline
      .curated(spark, s"$root/curation2_out").count()
    require(kept2 <= kept,
      s"near-dup tier must only remove more: $kept2 vs $kept")
    val cur2Rate = nDocs / cur2Sec
    emitMetric("stream_curation2_docs_per_sec", cur2Rate,
      s""","unit":"docs/sec","docs":$nDocs,"seconds":$cur2Sec,""" +
      s""""kept":$kept2,"phases":${phasesJson(cur2Rec)}""")

    // Three-tier variant: DSIR off_target gate (persisted bucket LM,
    // fit ONCE on a reference slice before the stream starts — the
    // train-once/score-forever split) + fingerprint dedup + near-dup
    // probe. Its OWN corpus: the two-tier generator with exactly 10%
    // of ids (id % 10 == 5) swapped to an off-target noise vocabulary
    // the LM's raw side knows and its target side does not — so the
    // gate must reject exactly nDocs/10 as off_target while pricing a
    // gram explode + broadcast-LM probe per micro-batch on top of
    // both dedup tiers.
    val noiseVocab = Array("qoph", "resh", "shin", "tav", "waw",
      "yodh", "zayin", "heth", "teth", "samekh")
    val csrc3 = s"$root/curation3_src"
    Files.createDirectories(Paths.get(csrc3))
    id = 0
    (0 until nFiles).foreach { f =>
      val sb = new StringBuilder(perDocFile * 300)
      (0 until perDocFile).foreach { _ =>
        val text =
          if (id % 20 == 19) "loop loop " * 20 + "loop"
          else if (id % 10 == 5) {
            val r = new scala.util.Random(id)
            Array.fill(45)(noiseVocab(r.nextInt(noiseVocab.length)))
              .mkString(" ")
          } else {
            val seed = if (id % 10 == 9) id - 1 else id
            val r = new scala.util.Random(seed)
            Array.fill(45)(vocab(r.nextInt(vocab.length))).mkString(" ")
          }
        sb.append(s"""{"doc_id": $id, "text": "$text",""")
          .append(s""" "lang": "en", "source": "crawl"}""").append('\n')
        id += 1
      }
      Files.writeString(
        Paths.get(csrc3).resolve(f"part-$f%04d.json"), sb.toString)
    }
    val dsirLm = s"$root/curation3_lm"
    locally {
      import spark.implicits._
      val ref = (0 until 200).map { i =>
        val r = new scala.util.Random(1000000 + i)
        if (i < 100)
          (i.toLong,
            Array.fill(45)(vocab(r.nextInt(vocab.length))).mkString(" "),
            "t")
        else
          (i.toLong,
            Array.fill(45)(noiseVocab(r.nextInt(noiseVocab.length)))
              .mkString(" "), "r")
      }.toDF("doc_id", "text", "source")
      graft.ops.Sampling.dsirFitStore(ref, col("doc_id"), col("text"),
        col("source") === "t", 4096, dsirLm)
    }
    val cur3Rec = new graft.pipeline.CurationPipeline.PhaseRecorder
    val cur3Sec = timed {
      val (cq, rq) = graft.pipeline.CurationPipeline.start(
        spark, csrc3, s"$root/curation3_out", s"$root/curation3_ck",
        nearDupStore = Some(s"$root/curation3_sigs"),
        dsirGate = Some((dsirLm, 0.0)),
        maxFilesPerTrigger = Some(4),
        phaseRecorder = Some(cur3Rec))
      cq.awaitTermination(); rq.awaitTermination()
    }
    val kept3 = graft.pipeline.CurationPipeline
      .curated(spark, s"$root/curation3_out").count()
    val offTarget = graft.pipeline.CurationPipeline
      .rejects(spark, s"$root/curation3_out")
      .filter(col("reject_reason") === "off_target").count()
    require(offTarget == nDocs / 10,
      s"dsir gate must reject exactly the planted noise docs: " +
        s"$offTarget vs ${nDocs / 10}")
    // kept2 is the right bound: the three-tier corpus is the two-tier
    // generator with 10% of ids swapped to noise docs the gate must
    // reject, so its survivor count sits strictly below the two-tier
    // run's (round-13 ADVICE: the old check compared against tier-1's
    // `kept` while the message printed kept2).
    require(kept3 > 0 && kept3 < kept2,
      s"three-tier implausible: kept=$kept3 (two-tier kept=$kept2)")
    val cur3Rate = nDocs / cur3Sec
    emitMetric("stream_curation3_docs_per_sec", cur3Rate,
      s""","unit":"docs/sec","docs":$nDocs,"seconds":$cur3Sec,""" +
      s""""kept":$kept3,"off_target":$offTarget,""" +
      s""""phases":${phasesJson(cur3Rec)}""")

    // Streaming BM25 postings maintenance: the curation corpus's doc
    // stream re-used as index arrivals — a base index is built from
    // the first half, the second half streams in as batchId-keyed
    // parts of the arrival log; the metric prices tokenize + the
    // postings and stats tables per doc. A post-ingest probe sanity-checks the
    // grown index answers.
    val bmBase = s"$root/bm25_idx"
    locally {
      import spark.implicits._
      val half = (0 until nDocs / 2).map { i =>
        val r = new scala.util.Random(i)
        (i.toLong,
          Array.fill(45)(vocab(r.nextInt(vocab.length))).mkString(" "))
      }.toDF("doc_id", "text")
      graft.ops.Bm25.ensurePostings(half, bmBase)
    }
    val bmsrc = s"$root/bm25_src"
    Files.createDirectories(Paths.get(bmsrc))
    val nArrivals = nDocs / 2
    val bsb = new StringBuilder(nArrivals * 300)
    (0 until nArrivals).foreach { i =>
      val docId = nDocs / 2 + i
      val r = new scala.util.Random(docId)
      val text =
        Array.fill(45)(vocab(r.nextInt(vocab.length))).mkString(" ")
      bsb.append(s"""{"doc_id": $docId, "text": "$text"}""").append('\n')
    }
    Files.writeString(Paths.get(bmsrc).resolve("arrivals.json"),
      bsb.toString)
    val bmSec = timed {
      graft.pipeline.PostingsPipeline.start(spark, bmsrc, bmBase,
        s"$root/bm25_ck").awaitTermination()
    }
    val probed = graft.ops.Bm25.scoreTopKIndexed(spark, bmBase,
      Seq("alpha", "kappa"), 10).count()
    require(probed == 10, s"bm25 probe implausible: $probed rows")
    val bmRate = nArrivals / bmSec
    emitMetric("stream_postings_docs_per_sec", bmRate,
      s""","unit":"docs/sec","docs":$nArrivals,"seconds":$bmSec""")

    // Streaming hybrid retrieval maintenance: ONE stream of documents
    // (text + embedding per record) feeds BOTH index halves through
    // RetrievalPipeline — the BM25 AND the IVF arrival logs. The
    // metric prices tokenize + centroid-assign + two batchId-keyed
    // part appends per doc; a post-ingest hybrid probe sanity-checks
    // that arrivals are retrievable by keyword AND by similarity.
    locally {
      import spark.implicits._
      val dim = 32
      def vec(idSeed: Long): Array[Float] = {
        val r = new scala.util.Random(idSeed)
        Array.fill(dim)(r.nextFloat() * 2f - 1f)
      }
      val half = nDocs / 2
      val retrBm = s"$root/retr_bm"
      val retrIvf = s"$root/retr_ivf"
      val baseDf = (0 until half).map { i =>
        val r = new scala.util.Random(i)
        (i.toLong,
          Array.fill(45)(vocab(r.nextInt(vocab.length))).mkString(" "),
          vec(i.toLong))
      }.toDF("doc_id", "text", "embedding")
      graft.ops.Bm25.ensurePostings(
        baseDf.select($"doc_id", $"text"), retrBm)
      graft.ops.VectorIndex.ensureIvf(
        baseDf.select($"doc_id".as("vec_id"), $"embedding"), retrIvf)
      val rsrc = s"$root/retr_src"
      Files.createDirectories(Paths.get(rsrc))
      val rsb = new StringBuilder(half * 600)
      (0 until half).foreach { i =>
        val docId = half + i
        val r = new scala.util.Random(docId)
        val text =
          Array.fill(45)(vocab(r.nextInt(vocab.length))).mkString(" ")
        val emb = vec(docId.toLong).mkString("[", ",", "]")
        rsb.append(s"""{"doc_id": $docId, "text": "$text", """ +
          s""""embedding": $emb}""").append('\n')
      }
      Files.writeString(Paths.get(rsrc).resolve("arrivals.json"),
        rsb.toString)
      val retrSec = timed {
        graft.pipeline.RetrievalPipeline.start(spark, rsrc, retrBm,
          retrIvf, s"$root/retr_ck").awaitTermination()
      }
      val probeVec = Seq(((1L << 40), vec((half + 7).toLong)))
        .toDF("vec_id", "embedding")
      val fused = graft.pipeline.RetrievalPipeline.hybridTopK(spark,
        retrBm, retrIvf, Seq("alpha", "kappa"), probeVec, 10).collect()
      require(fused.length == 10 &&
        fused.exists(_.getLong(0) == (half + 7).toLong),
        "hybrid probe must surface the planted arrival")
      val retrRate = half / retrSec
      emitMetric("stream_retrieval_docs_per_sec", retrRate,
        s""","unit":"docs/sec","docs":$half,"seconds":$retrSec""")
    }

    // Streaming vector ingest into a PQ-BACKED index: same arrival
    // stream shape, but the base index carries the residual-PQ half,
    // so every micro-batch's arrival part also holds its rows'
    // residual codes (VectorIndex.arrivalPart, books broadcast
    // memoized across batches). The metric prices centroid-assign +
    // the cells table + the codes table per vector; the
    // post-ingest probe must surface a planted arrival through the
    // ADC path (no uncoded batches exist, so exact fallback is empty).
    locally {
      import spark.implicits._
      val dim = 32
      def vec(idSeed: Long): Array[Float] = {
        val r = new scala.util.Random(idSeed)
        Array.fill(dim)(r.nextFloat() * 2f - 1f)
      }
      val half = nDocs / 2
      val pqIdx = s"$root/vecpq_idx"
      graft.ops.VectorIndex.ensureIvfPq(
        (0 until half).map(i => (i.toLong, vec(i.toLong)))
          .toDF("vec_id", "embedding"), pqIdx, m = 16, k = 64)
      val vsrc = s"$root/vecpq_src"
      Files.createDirectories(Paths.get(vsrc))
      val vsb = new StringBuilder(half * 400)
      (0 until half).foreach { i =>
        val vid = half + i
        val emb = vec(vid.toLong).mkString("[", ",", "]")
        vsb.append(s"""{"vec_id": $vid, "embedding": $emb}""")
          .append('\n')
      }
      Files.writeString(Paths.get(vsrc).resolve("arrivals.json"),
        vsb.toString)
      val vpqSec = timed {
        graft.pipeline.VectorIngestPipeline.start(spark, vsrc, pqIdx,
          s"$root/vecpq_ck").awaitTermination()
      }
      val (coded, uncoded) =
        graft.ops.VectorIndex.deltaByCoverage(spark, pqIdx)
      require(coded.isDefined && uncoded.isEmpty,
        "every streamed batch must land coded while books are current")
      val probe = Seq(((1L << 40), vec((half + 3).toLong)))
        .toDF("vec_id", "embedding")
      val top = graft.ops.VectorIndex.queryIvfPq(spark, pqIdx, probe, 5)
        .collect()
      require(top.exists(_.getLong(1) == (half + 3).toLong),
        "ADC probe must surface the planted streamed arrival")
      val vpqRate = half / vpqSec
      emitMetric("stream_vector_pq_docs_per_sec", vpqRate,
        s""","unit":"docs/sec","docs":$half,"seconds":$vpqSec""")
    }

    // Streaming heavy hitters: Zipf-ish term stream through the
    // sharded SpaceSaving state (TopKPipeline), then one snapshot
    // merge. Terms drawn from a 10k vocabulary with rank-skew so the
    // bench exercises both tracked-item increments and evictions.
    val tsrc = s"$root/topk_src"
    Files.createDirectories(Paths.get(tsrc))
    val nTerms = nEvents / 2
    val termVocab = 10000
    var seed = 0x9e3779b9L
    val tsb = new StringBuilder(nTerms * 24)
    (0 until nTerms).foreach { _ =>
      seed = seed * 6364136223846793005L + 1442695040888963407L
      val u = ((seed >>> 33).toDouble / (1L << 31).toDouble)
      // rank ~ u^3 * vocab concentrates mass on low ranks (skew)
      val rank = (u * u * u * termVocab).toInt
      tsb.append(s"""{"term":"t$rank","w":1}""").append('\n')
    }
    Files.write(Paths.get(tsrc, "terms.json"),
      tsb.toString.getBytes)
    val topkSec = timed {
      graft.pipeline.TopKPipeline.start(spark, tsrc,
        s"$root/topk_store", s"$root/topk_ck",
        capacity = 2048, shards = 8).awaitTermination()
    }
    val top = graft.pipeline.TopKPipeline.snapshot(spark,
      s"$root/topk_store", k = 20, capacity = 2048).collect()
    require(top.length == 20 && top.head.getLong(1) > 0,
      "topk snapshot implausible")
    val topkRate = nTerms / topkSec
    emitMetric("stream_topk_terms_per_sec", topkRate,
      s""","unit":"terms/sec","terms":$nTerms,"seconds":$topkSec""")

    // Streaming MEDIA ingest: base64 payloads (8x4 PNG for even ids,
    // 64-sample WAV for odd — the real codecs, incl. the DEFLATE
    // round trip) through MediaPipeline in 5 micro-batches; 2% corrupt
    // payloads exercise the dead-letter path on every batch. The
    // metric prices base64 decode + full codec decode + the two
    // batchId-keyed delta writes per batch.
    val msrc = s"$root/media_src"
    Files.createDirectories(Paths.get(msrc))
    // derive nMedia from what is actually WRITTEN (perMediaFile*nFiles
    // rows), not nEvents/20 directly — for nEvents where nEvents/20 is
    // not a multiple of nFiles the old claim over-counted and the
    // mediaOk+mediaBad reconciliation below failed spuriously
    // (round-12 ADVICE)
    val perMediaFile = nEvents / 20 / nFiles
    val nMedia = perMediaFile * nFiles
    val b64 = java.util.Base64.getEncoder
    id = 0
    (0 until nFiles).foreach { f =>
      val sb = new StringBuilder(perMediaFile * 256)
      (0 until perMediaFile).foreach { _ =>
        val docId = id.toLong
        val (payload, fmt) =
          if (id % 50 == 49) ("garbage-payload".getBytes, "png")
          else if (id % 2 == 0)
            (graft.ops.Multimodal.pngBytes(8, 4,
              (x, y) => graft.ops.Multimodal.packRgb(
                ((docId * 17 + x * 3 + y * 5) % 256).toInt,
                ((docId * 19 + x * 3 + y * 5) % 256).toInt,
                ((docId * 23 + x * 3 + y * 5) % 256).toInt)), "png")
          else (graft.ops.Multimodal.wavBytes(8000,
            Array.tabulate(64)(i =>
              ((docId * 31 + i * 17) % 256).toByte)), "wav")
        sb.append(s"""{"doc_id":$docId,"media_b64":"""")
          .append(b64.encodeToString(payload))
          .append(s"""","format":"$fmt"}""").append('\n')
        id += 1
      }
      Files.writeString(
        Paths.get(msrc).resolve(f"part-$f%04d.json"), sb.toString)
    }
    val mediaSec = timed {
      graft.pipeline.MediaPipeline.start(spark, msrc,
          s"$root/media_store", s"$root/media_ck",
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .awaitTermination()
    }
    val mediaOk = graft.pipeline.MediaPipeline
      .stats(spark, s"$root/media_store").count()
    val mediaBad = graft.pipeline.MediaPipeline
      .rejects(spark, s"$root/media_store").count()
    require(mediaOk + mediaBad == nMedia && mediaBad > 0,
      s"media ingest implausible: ok=$mediaOk bad=$mediaBad of $nMedia")
    val mediaRate = nMedia / mediaSec
    emitMetric("stream_media_docs_per_sec", mediaRate,
      s""","unit":"docs/sec","docs":$nMedia,"seconds":$mediaSec,""" +
      s""""decoded":$mediaOk,"dead_lettered":$mediaBad""")

    // Two-tier variant: the same stream with the perceptual-dedup
    // tier on — 10% of image arrivals are PNG 2x upscales of an
    // earlier BMP (the re-crawl byte-level dedup can't see). The
    // metric prices dHash + the self-excluding store probe + the two
    // extra delta writes per batch on top of the base decode.
    val msrc2 = s"$root/media2_src"
    Files.createDirectories(Paths.get(msrc2))
    id = 0
    (0 until nFiles).foreach { f =>
      val sb = new StringBuilder(perMediaFile * 256)
      (0 until perMediaFile).foreach { _ =>
        val docId = id.toLong
        def pix(k: Long, div: Int)(x: Int, y: Int): Int =
          graft.ops.Multimodal.packRgb(
            graft.ops.Multimodal.synthCell(k, x / div, y / div, 0),
            graft.ops.Multimodal.synthCell(k, x / div, y / div, 1),
            graft.ops.Multimodal.synthCell(k, x / div, y / div, 2))
        val (payload, fmt) =
          if (id % 50 == 49) ("garbage-payload".getBytes, "png")
          else if (id % 10 == 9) // planted re-crawl: upscale of id-1
            (graft.ops.Multimodal.pngBytes(16, 8,
              pix(docId - 1, 2)), "png")
          else if (id % 2 == 0)
            (graft.ops.Multimodal.bmpBytes(8, 4, pix(docId, 1)), "bmp")
          else (graft.ops.Multimodal.wavBytes(8000,
            Array.tabulate(64)(i =>
              ((docId * 31 + i * 17) % 256).toByte)), "wav")
        sb.append(s"""{"doc_id":$docId,"media_b64":"""")
          .append(b64.encodeToString(payload))
          .append(s"""","format":"$fmt"}""").append('\n')
        id += 1
      }
      Files.writeString(
        Paths.get(msrc2).resolve(f"part-$f%04d.json"), sb.toString)
    }
    val media2Sec = timed {
      graft.pipeline.MediaPipeline.start(spark, msrc2,
          s"$root/media2_store", s"$root/media2_ck",
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
          phashDedup = true)
        .awaitTermination()
    }
    val media2Kept = graft.pipeline.MediaPipeline
      .stats(spark, s"$root/media2_store").count()
    val media2Dups = graft.pipeline.MediaPipeline
      .dups(spark, s"$root/media2_store").count()
    require(media2Dups > 0 && media2Kept + media2Dups < nMedia,
      s"media dedup implausible: kept=$media2Kept dups=$media2Dups")
    val media2Rate = nMedia / media2Sec
    emitMetric("stream_media_dedup_docs_per_sec", media2Rate,
      s""","unit":"docs/sec","docs":$nMedia,"seconds":$media2Sec,""" +
      s""""kept":$media2Kept,"dups":$media2Dups""")
    // closing row: the run's health verdict over every timed region
    emit(s"""{"metric":"stream_health",""" +
      s""""degraded":${graft.obs.Health.degraded(runHealth)},""" +
      s""""health":${runHealth.json},"loadavg":$loadNow}""")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("STREAM_BENCH.json"),
      emitted.mkString("[", ",\n ", "]") + "\n")
    spark.stop()
  }
}
