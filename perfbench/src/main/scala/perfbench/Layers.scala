package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.agg.DailyRollup
import graft.ingest.{EventSink, EventSource}
import graft.model.Schemas

/** The traced run's per-layer metrics: Spark's own metrics (SQL
  * executions, tasks, jobs, stages, stream progress) attributed to the
  * harness's spans, plus three probes that time one layer's public
  * function on the run's own inputs after the measured phases.
  */
final class Layers(spark: SparkSession, tr: Tracer, in: Harness.Inputs,
    cores: Int) {

  private def noop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def execsIn(spans: Seq[Span]): Seq[Execution] =
    tr.executions.toList.filter(e => tr.inside(e.startMs, spans))

  private def tasksIn(spans: Seq[Span]): Seq[TaskSample] =
    tr.tasks.toList.filter(t => tr.inside(t.finishMs, spans))

  /** Length of the union of intervals `xs`, each clipped to `[lo, hi]`. */
  private def unionMs(xs: Seq[(Double, Double)], lo: Double,
      hi: Double): Double = {
    val clipped = xs.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    clipped.foldLeft((0.0, lo)) { case ((acc, reach), (a, b)) =>
      if (b <= reach) (acc, reach) else (acc + b - (a max reach), b)
    }._1
  }

  def compute(res: Harness.Results, direct: Harness.DirectOut,
      mv: Harness.MvOut, surface: Seq[(String, Double)],
      curation: Harness.CurationOut, measureS: Double, gcS: Double,
      heapMb: Double): Unit = {
    def put(name: String, v: Double, unit: String): Unit =
      res.layers(name) = (v, unit)

    // probes: one layer's public function over the run's own inputs
    def decoded = EventSource.decode(
      EventSource.batchRaw(spark, in.direct, "event_tracking"),
      Schemas.wireEvent)
    val decodeS = tr.span("probe.ingest.decode")(noop(decoded))
    val toEmailS = tr.span("probe.ingest.to_email_events")(
      noop(EventSink.toEmailEvents(EventSource.wellFormed(decoded))))
    val rollupS = tr.span("probe.agg.rollup")(noop(DailyRollup.fromQueue(
      EventSource.wellFormed(EventSource.decode(
        EventSource.batchRaw(spark, in.mv, "event_tracking"),
        Schemas.queueRecord)))))
    // count() against the full result, per surface entry: under a count
    // Catalyst may drop sorts, projections and aggregates (NOTES.md)
    val countS = surface.map(_._1).sorted.map { name =>
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, in.warehouse).count()
      name -> (System.nanoTime() - t0) / 1e9
    }
    res.record("surface_count_s") = countS.toMap
    tr.drain(spark)

    // ingest
    val directPhase = tr.named("phase.direct")
    val directExecs = execsIn(directPhase)
    val stored = directExecs.filter(_.outputPath.contains("/email_events"))
    val rows = stored.map(_.rowsWritten).sum
    put("ingest.decode_s", decodeS, "s")
    put("ingest.to_email_events_s", math.max(0.0, toEmailS - decodeS), "s")
    put("ingest.write_s", stored.map(_.seconds).sum, "s")
    put("ingest.rows_written", rows.toDouble, "count")
    put("ingest.dead_letter_rows", directExecs
      .filter(_.outputPath.contains("/dead_letter")).map(_.rowsWritten).sum
      .toDouble, "count")
    put("ingest.files_written", stored.map(_.filesWritten).sum.toDouble,
      "count")
    put("ingest.bytes_per_event",
      stored.map(_.bytesWritten).sum.toDouble / math.max(1L, rows), "B")

    // lookups
    val lookups = tr.named("query.lookup")
    val lookupExecs = execsIn(lookups)
    val n = math.max(1, lookups.size).toDouble
    put("spark.scan.files_per_lookup", lookupExecs.map(_.scanFiles).sum / n,
      "count")
    put("spark.scan.bytes_per_lookup", lookupExecs.map(_.scanBytes).sum / n,
      "B")
    put("spark.scan.time_ms_per_lookup",
      lookupExecs.map(_.scanTimeMs).sum / n, "ms")
    put("query.lookup_plan_ms", lookupExecs.map(_.planMs).sum / n, "ms")

    // streaming overheads and the aggregate store, over the mv phase
    val mvPhase = tr.named("phase.mv")
    val progress = tr.progress.toList.filter { case (name, _, at) =>
      name == "consumer" && tr.inside(at, mvPhase)
    }
    def streamS(key: String): Double =
      progress.map(_._2.getOrElse(key, 0L)).sum / 1000.0
    put("spark.stream.latest_offset_s", streamS("latestOffset"), "s")
    put("spark.stream.get_batch_s", streamS("getBatch"), "s")
    put("spark.stream.query_planning_s", streamS("queryPlanning"), "s")
    put("spark.stream.wal_commit_s", streamS("walCommit"), "s")
    put("spark.stream.commit_offsets_s", streamS("commitOffsets"), "s")
    put("pipeline.add_batch_s", streamS("addBatch"), "s")
    put("agg.rollup_s", rollupS, "s")
    put("agg.append_s", execsIn(mvPhase)
      .filter(_.outputPath.contains("/daily/batch=")).map(_.seconds).sum, "s")
    put("agg.read_s", mv.readMs.sum / 1000, "s")
    val reads = tr.named("agg.levelTotals")
    put("agg.read_files_scanned", execsIn(reads).map(_.scanFiles).sum /
      math.max(1, reads.size).toDouble, "count")
    put("agg.read_age_ratio", Stats.ageRatio(mv.readMs), "ratio")

    // the query surface
    surface.sortBy(_._1).foreach { case (name, s) => put(s"query.${name}_s", s, "s") }
    val surfacePhase = tr.named("phase.surface")
    val surfaceTasks = tasksIn(surfacePhase)
    put("spark.plan_s", execsIn(surfacePhase).map(_.planMs).sum / 1000, "s")
    val outside = surfacePhase.map { p =>
      p.seconds - unionMs(tr.jobs.toList.map { case (a, b) =>
        (a.toDouble, b.toDouble)
      }, p.startMs, p.endMs) / 1000
    }.sum
    put("spark.driver_outside_jobs_s", outside, "s")
    put("spark.shuffle_write_bytes", surfaceTasks.map(_.shuffleWrite).sum
      .toDouble, "B")
    put("spark.shuffle_read_bytes", surfaceTasks.map(_.shuffleRead).sum
      .toDouble, "B")
    put("spark.spill_bytes", surfaceTasks.map(_.spill).sum.toDouble, "B")
    put("spark.peak_exec_mem_bytes", surfaceTasks.map(_.peakMem)
      .maxOption.getOrElse(0L).toDouble, "B")
    put("spark.stages", tr.stageEnds.toList.count(t =>
      tr.inside(t, surfacePhase)).toDouble, "count")
    put("spark.task_cpu_s", surfaceTasks.map(_.cpuNs).sum / 1e9, "s")

    // streaming curation
    Seq("exact_dedup", "near_dup", "curated_write", "reject_write").foreach {
      k => put(s"pipeline.curation.${k}_s", curation.phases.getOrElse(k, 0.0),
        "s")
    }
    val storeReads = execsIn(tr.named("phase.curation"))
      .filter(_.scanPaths.exists(_.contains("/curation/curated")))
    put("pipeline.curation.store_rows_read_per_batch",
      storeReads.map(_.scanRows).sum /
        math.max(1, curation.batchS.size).toDouble, "count")
    // from batch 1 on: batch 0 seeds the stores, later ones read them
    put("pipeline.curation.age_ratio", Stats.ageRatio(curation.batchS.drop(1)),
      "ratio")

    // the whole run
    val phases = Seq("phase.direct", "phase.mv", "phase.surface",
      "phase.curation").flatMap(tr.named)
    put("jvm.gc_s", gcS, "s")
    put("jvm.peak_heap_after_gc_mb", heapMb, "MB")
    put("host.cpu_util", tasksIn(phases).map(_.cpuNs).sum / 1e9 /
      (measureS * cores), "ratio")
    put("trace.overhead_share", tr.overheadNs.get / 1e9 / measureS, "ratio")
  }
}
