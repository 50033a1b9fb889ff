package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.config.PipelineConfig
import graft.ingest.{EventSink, EventSource}
import graft.model.Schemas

/** End-to-end streaming tests for both reference pipelines over the
  * JSON-lines topic stand-in (kafka+clickhouse.md Part 1 + Part 2).
  */
class PipelineSpec extends SparkSpec {

  private def cfg(): PipelineConfig = {
    val root = tmpDir("topics")
    PipelineConfig(topicsRoot = root, warehouseRoot = tmpDir("warehouse"))
  }

  private def writeTopicFile(c: PipelineConfig, topicKey: String,
      name: String, lines: Seq[String]): Unit = {
    val dir = Paths.get(c.topicDir(topicKey))
    Files.createDirectories(dir)
    Files.write(dir.resolve(name), lines.mkString("\n").getBytes)
  }

  private def queueLine(ts: Long, level: String, msg: String) =
    s"""{"timestamp": $ts, "level": "$level", "message": "$msg"}"""

  test("materialized pipeline: MV totals equal direct recompute, incl. late data and replay") {
    val c = cfg()
    val day0 = 1700000000L
    writeTopicFile(c, "event_tracking", "b0.json",
      Seq(queueLine(day0, "info", "a"), queueLine(day0 + 10, "error", "b"),
        queueLine(day0 + 86400, "info", "c")))
    MaterializedPipeline.start(spark, c).awaitTermination()
    val t1 = MaterializedPipeline.levelTotals(spark, c)
      .orderBy("level").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(t1.toSeq == Seq(("error", 1L), ("info", 2L)))

    // second batch arrives: one LATE event for day0 (unbounded lateness)
    writeTopicFile(c, "event_tracking", "b1.json",
      Seq(queueLine(day0 + 20, "info", "late"),
        queueLine(day0 + 2 * 86400, "warn", "d")))
    MaterializedPipeline.start(spark, c).awaitTermination()
    val t2 = MaterializedPipeline.levelTotals(spark, c)
      .orderBy("level").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(t2.toSeq == Seq(("error", 1L), ("info", 3L), ("warn", 1L)))

    // restart with same checkpoint: no reprocessing, totals unchanged
    MaterializedPipeline.start(spark, c).awaitTermination()
    val t3 = MaterializedPipeline.levelTotals(spark, c)
      .orderBy("level").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(t3.toSeq == t2.toSeq)

    // the daily store holds PARTIALS (per-batch rows), proving MV
    // block-at-a-time semantics rather than a recompute
    val partialRows = MaterializedPipeline.dailyStore(c).read(spark).count()
    val rawPartials = spark.read
      .option("basePath", c.tablePath("daily"))
      .parquet(c.tablePath("daily") + "/batch=*").count()
    assert(rawPartials >= partialRows)
  }

  test("levelTotals is one sum(total) GROUP BY level over the visible " +
      "parts (REF:240-243)") {
    val c = cfg()
    val day0 = 1700000000L
    writeTopicFile(c, "event_tracking", "b0.json",
      Seq(queueLine(day0, "info", "a"), queueLine(day0 + 86400, "info", "b"),
        queueLine(day0 + 10, "error", "c")))
    MaterializedPipeline.start(spark, c).awaitTermination()
    val totals = MaterializedPipeline.levelTotals(spark, c)
    // the reference's read is one aggregate: no (day, level) merge
    // before the level sum
    val aggs = totals.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.size == 1, totals.queryExecution.optimizedPlan)
    assert(totals.orderBy("level").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
      == Seq(("error", 1L), ("info", 2L)))
  }

  /** FoldFanIn + 1 queue files, each its own micro-batch with
    * `maxFilesPerTrigger = 1`, so the MV pipeline folds the first
    * FoldFanIn parts before the last batch lands. Returns the exact
    * per-level totals. */
  private def foldingStream(c: PipelineConfig): Map[String, Long] = {
    val day0 = 1700000000L
    val levels = Seq("info", "warn", "error")
    val lines = (0 to MaterializedPipeline.FoldFanIn).map { b =>
      val batch = Seq((day0 + b * 3600L, levels(b % 3)),
        (day0 + b * 86400L, "info"))
      writeTopicFile(c, "event_tracking", f"b$b%03d.json",
        batch.map { case (ts, l) => queueLine(ts, l, s"m$b") })
      batch
    }
    lines.flatten.groupBy(_._2).map { case (l, xs) => l -> xs.size.toLong }
  }

  private def runMv(c: PipelineConfig) =
    MaterializedPipeline.start(spark, c, maxFilesPerTrigger = 1)

  private def totalsOf(c: PipelineConfig): Map[String, Long] =
    MaterializedPipeline.levelTotals(spark, c).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("MV fold: the pipeline folds the parts below the arriving batch " +
      "once FoldFanIn of them wait; a crash after the fold publishes " +
      "and before the batch's part lands replays exactly once") {
    import graft.scale.CommitProtocol
    val clean = cfg()
    val want = foldingStream(clean)
    runMv(clean).awaitTermination()
    assert(totalsOf(clean) == want)
    val k = MaterializedPipeline.FoldFanIn
    val daily = new java.io.File(clean.tablePath("daily"))
    assert(daily.list().contains("batch=compacted-0"), daily.list().toSeq)
    assert(scala.io.Source.fromFile(new java.io.File(daily, "_manifest"))
      .mkString.trim == s"0 ${k - 1}", "the fold covers ids below k only")
    val steps = CommitProtocol.stepsOf("part-fold")
    (steps.indexOf("publish-manifest") until steps.size).foreach { i =>
      val c = cfg()
      assert(foldingStream(c) == want)
      CommitProtocol.crashAfter = Some(("part-fold", i))
      val e = try intercept[org.apache.spark.sql.streaming
          .StreamingQueryException](runMv(c).awaitTermination())
        finally CommitProtocol.crashAfter = None
      assert(Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null)
        .exists(_.isInstanceOf[CommitProtocol.InjectedCrash]), e)
      // batch k's part never landed; the restart replays batch k and
      // its append is above the new watermark
      assert(!new java.io.File(c.tablePath("daily") + s"/batch=$k").exists)
      runMv(c).awaitTermination()
      assert(totalsOf(c) == want, s"after a crash at '${steps(i)}'")
    }
  }

  test("MV fold: a crash after the batch's part lands and before the " +
      "checkpoint commit replays exactly once") {
    val c = cfg()
    val want = foldingStream(c)
    runMv(c).awaitTermination()
    val k = MaterializedPipeline.FoldFanIn
    // the part of batch k landed but its commit did not
    val commits = c.checkpointDir("consumer") + "/commits"
    Seq(s"$k", s".$k.crc").foreach(n =>
      new java.io.File(commits, n).delete())
    assert(!new java.io.File(commits, s"$k").exists)
    val q = runMv(c)
    q.awaitTermination()
    assert(q.recentProgress.exists(p =>
      p.batchId == k && p.numInputRows > 0), "batch k must replay")
    assert(totalsOf(c) == want)
  }

  test("direct pipeline: wire events land in email_events; corrupt json dead-letters") {
    val c = cfg()
    def wire(ct: String, et: String, time: String, meta: String) =
      s"""{"campaign_id": "$ct", "workspace_id": "w", "email": "u@x.com",
         | "event_type": "$et", "event_time": "$time",
         | "metadata": $meta}""".stripMargin.replaceAll("\n", "")
    writeTopicFile(c, "event_tracking", "b0.json", Seq(
      wire("c1", "open", "2026-08-12T10:00:00", """{"subject": "hi"}"""),
      wire("c1", "delivered", "2026-08-12T10:00:01", "null"),
      wire("c2", "badtype", "2026-08-12T10:00:02", "null"),
      "{not json at all"))
    DirectPipeline.start(spark, c).awaitTermination()

    val events = DirectPipeline.emailEvents(spark, c)
    // badtype row excluded by enum domain check (Enum8 insert error)
    assert(events.count() == 2)
    val open = events.filter(col("event_type") === "open").head()
    assert(open.getAs[String]("metadata") == """{"subject":"hi"}""")
    // DEFAULT '' analog for absent metadata
    val delivered = events.filter(col("event_type") === "delivered").head()
    assert(delivered.getAs[String]("metadata") == "")
    // partition column derived as yyyyMMdd int
    assert(events.select("event_date").distinct().head().getInt(0)
      == 20260812)
    // corrupt record AND out-of-domain enum row routed to dead letter
    // (the reference would crash on the former, error on the latter —
    // kafka+clickhouse.md:97), each tagged with a triage reason
    val dead = spark.read.json(c.tablePath("dead_letter"))
    assert(dead.count() == 2)
    val badEnum = dead.filter(col("value").contains("badtype")).collect()
    assert(badEnum.length == 1)
    assert(badEnum.head.getAs[String]("reason") == "invalid_enum_event_type")
    assert(dead.filter(col("reason") === "corrupt_json").count() == 1)
  }

  test("publish -> consume round trip (producer A1 + topic routing A2)") {
    import spark.implicits._
    val c = cfg()
    val events = Seq(
      ("c1", "delivered", "2026-08-12T10:00:00"),
      ("c2", "open", "2026-08-12T10:00:01")
    ).toDF("campaign_id", "event_type", "event_time")
    EventSink.publish(events, c, "event_tracking")
    // unknown topic key must fail fast (config registry contract)
    intercept[IllegalArgumentException] {
      EventSink.publish(events, c, "no_such_topic")
    }
    val back = EventSource.wellFormed(EventSource.decode(
      EventSource.batchRaw(spark, c, "event_tracking"),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("campaign_id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("event_time",
          org.apache.spark.sql.types.StringType)))))
    val got = back.orderBy("campaign_id").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(got.toSeq == Seq(("c1", "delivered"), ("c2", "open")))
  }

  test("streaming dedup drops re-produced events across micro-batches") {
    val c = cfg()
    def wire(ct: String, time: String) =
      s"""{"campaign_id": "$ct", "workspace_id": "w", "email": "u@x.com",
         | "event_type": "open", "event_time": "$time", "metadata": null}"""
        .stripMargin.replaceAll("\n", "")
    val keys = Seq("campaign_id", "event_time", "email")
    // batch 0: an event + an in-batch duplicate
    writeTopicFile(c, "event_tracking", "b0.json",
      Seq(wire("c1", "2026-08-12T10:00:00"),
        wire("c1", "2026-08-12T10:00:00"),
        wire("c2", "2026-08-12T11:00:00")))
    DirectPipeline.start(spark, c, dedupKeys = keys).awaitTermination()
    assert(DirectPipeline.emailEvents(spark, c).count() == 2)
    // batch 1: the producer retries c1's event (cross-batch dup) plus
    // one genuinely new event
    writeTopicFile(c, "event_tracking", "b1.json",
      Seq(wire("c1", "2026-08-12T10:00:00"),
        wire("c3", "2026-08-12T12:00:00")))
    DirectPipeline.start(spark, c, dedupKeys = keys).awaitTermination()
    assert(DirectPipeline.emailEvents(spark, c).count() == 3,
      "cross-batch duplicate must be dropped by the state store")
  }

  test("watermarked dedup: bounded state, late rows dropped, corrupt bypasses") {
    val c = cfg()
    def wire(ct: String, time: String) =
      s"""{"campaign_id": "$ct", "workspace_id": "w", "email": "u@x.com",
         | "event_type": "open", "event_time": "$time", "metadata": null}"""
        .stripMargin.replaceAll("\n", "")
    val keys = Seq("campaign_id", "event_time", "email")
    // batch 0: c1@10:00 and c2@12:30; delay 1 h -> after the batch the
    // watermark is 11:30, so c1's dedup state (expiry 11:00) is
    // evictable while c2's (expiry 13:30) is live.
    writeTopicFile(c, "event_tracking", "b0.json",
      Seq(wire("c1", "2026-08-12T10:00:00"),
        wire("c1", "2026-08-12T10:00:00"), // in-batch dup
        wire("c2", "2026-08-12T12:30:00")))
    DirectPipeline.start(spark, c, dedupKeys = keys,
      dedupWithin = Some("1 hour")).awaitTermination()
    assert(DirectPipeline.emailEvents(spark, c).count() == 2)
    // batch 1: c2 retry arrives within the delay -> dropped by state;
    // c1 retry is older than the watermark -> dropped as LATE data
    // (the explicit bounded-state trade: expired keys are not
    // re-deduplicated, late events are not re-admitted); c3 is new and
    // in-window -> kept. A corrupt line must still dead-letter — it
    // bypasses the watermarked operator.
    writeTopicFile(c, "event_tracking", "b1.json",
      Seq(wire("c2", "2026-08-12T12:30:00"),
        wire("c1", "2026-08-12T10:00:00"),
        wire("c3", "2026-08-12T13:00:00"),
        """{"not json"""))
    DirectPipeline.start(spark, c, dedupKeys = keys,
      dedupWithin = Some("1 hour")).awaitTermination()
    val byCamp = DirectPipeline.emailEvents(spark, c)
      .groupBy("campaign_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byCamp === Map("c1" -> 1L, "c2" -> 1L, "c3" -> 1L),
      s"bounded-state dedup outcome wrong: $byCamp")
    val dead = spark.read.json(c.tablePath("dead_letter"))
    assert(dead.filter(col("reason") === "corrupt_json").count() === 1,
      "corrupt rows must bypass the watermark and still dead-letter")
  }

  test("enum name->code map matches the reference Enum8 exactly") {
    assert(Schemas.eventTypeCodes == Map("delivered" -> 1, "open" -> 2,
      "click" -> 3, "bounce" -> 4, "unsubscribe" -> 5))
    import spark.implicits._
    val df = Seq("open", "bogus").toDF("event_type")
    val codes = df.select(EventSink.eventTypeCode(col("event_type")))
      .collect().map(r => if (r.isNullAt(0)) -1 else r.getInt(0))
    assert(codes.toSeq == Seq(2, -1))
  }

  test("kafka swap point: reader options assemble from PipelineConfig") {
    // the one-line-swap claim (SURVEY.md §7.4) as compiled code: the
    // format("kafka") option map derives entirely from the SAME config
    // object the file-topic stand-in runs on
    val c = PipelineConfig(topicsRoot = "broker1:9092,broker2:9092",
      warehouseRoot = tmpDir("warehouse"))
    val opts = graft.ingest.EventSource.kafkaReaderOptions(
      c, "event_tracking")
    assert(opts("kafka.bootstrap.servers") === "broker1:9092,broker2:9092")
    assert(opts("subscribe") === "campaign.event_tracking")
    assert(opts("startingOffsets") === "earliest",
      "auto.offset.reset analog, kafka+clickhouse.md:130")
    assert(opts("kafka.group.id") === "clickhouse-writer")
    assert(opts("failOnDataLoss") === "true")
    assert(opts("maxOffsetsPerTrigger").toLong > 0)
    intercept[IllegalArgumentException] {
      graft.ingest.EventSource.kafkaReaderOptions(c, "nonexistent_topic")
    }
  }
}
