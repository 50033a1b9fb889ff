package graft.scale

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class SampleLayoutSpec extends SparkSpec {

  private lazy val events = Tables.events(spark, sf0001)

  private lazy val layout: String = {
    val p = tmpDir("sampleidx") + "/events"
    SampleLayout.ensureEvents(events, p)
    p
  }

  private val slabHi = SampleLayout.KeyDomain / 8

  test("sample population is exact: the slab scan returns precisely " +
      "the rows whose hashed id falls under the threshold") {
    val got = SampleLayout.sampleScan(spark, layout, 1, 8)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    val want = events
      .filter(SampleLayout.sampleKey(col("user_id")) < lit(slabHi))
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && want.nonEmpty)
  }

  test("sampling is by entity: a sampled user's events are ALL in " +
      "the sample (per-user analytics stay unbiased)") {
    val sampledCounts = SampleLayout.sampleScan(spark, layout, 1, 8)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rawCounts = events.groupBy("user_id")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sampledCounts.nonEmpty)
    sampledCounts.foreach { case (uid, n) =>
      assert(n == rawCounts(uid),
        s"user $uid partially sampled: $n of ${rawCounts(uid)} events")
    }
  }

  test("the SAMPLE scan prunes files: the 1/8 slab reads a fraction " +
      "of the layout where a time-sorted layout reads everything") {
    val hi = (slabHi - 1).toDouble
    val slabFrac = ZOrder.fileSurvivalFraction(
      spark.read.parquet(new PartLog(layout).view(spark).dirs: _*),
      "sample_key", 0.0, hi)
    // the counterfactual: same data sorted by ts — sample keys
    // scatter, every file's [min, max] spans the probe slab
    val tsPath = tmpDir("sampleidx") + "/ts_sorted"
    events.withColumn("sample_key",
        SampleLayout.sampleKey(col("user_id")))
      .repartitionByRange(16, col("ts")).sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(tsPath)
    val tsFrac = ZOrder.fileSurvivalFraction(
      spark.read.parquet(tsPath), "sample_key", 0.0, hi)
    info(f"1/8-slab file survival: sample-keyed $slabFrac%.2f vs " +
      f"ts-sorted $tsFrac%.2f")
    assert(tsFrac == 1.0, s"ts layout unexpectedly pruned: $tsFrac")
    assert(slabFrac <= 0.25,
      s"sample layout should read ~1/8 of files, got $slabFrac")
  }

  test("scaled estimates are within sampling error of the exact " +
      "answer (differential sanity, oracle gates exactness)") {
    val est = SampleLayout.sampleScan(spark, layout, 1, 8)
      .agg((count(lit(1)) * 8).as("n")).head().getLong(0)
    val exact = events.count()
    // loose bound: ~12 users survive a 1/8 entity sample at sf0.001,
    // so sampling error runs tens of percent — the check only needs
    // to catch a missing x8 scale-up (87% off), not grade accuracy
    // (the DuckDB oracle already gates the estimate bit-for-bit)
    assert(math.abs(est - exact).toDouble / exact < 0.6,
      s"1/8-sample estimate $est too far from exact $exact")
  }

  test("delta append: arrivals are sampled correctly on commit, " +
      "replay is idempotent, compact is answer-neutral") {
    val p = tmpDir("sampleidx-delta") + "/events"
    SampleLayout.ensureEvents(events, p)
    // one user inside the 1/8 slab, one outside — membership is a
    // pure function of the id, so a streamed arrival's fate is
    // decided the moment it lands
    val byKey = events.select(col("user_id"),
        SampleLayout.sampleKey(col("user_id")).as("k"))
      .distinct().collect().map(r => r.getLong(0) -> r.getLong(1))
    val inUser = byKey.find(_._2 < slabHi).get._1
    val outUser = byKey.find(_._2 >= slabHi).get._1
    val batch = events.filter(col("user_id").isin(inUser, outUser))
      .dropDuplicates("user_id")
      .withColumn("event_id", col("user_id") + lit(90000000L))
    SampleLayout.append(batch, p, batchId = 1, col("user_id"),
      Seq("ts"))
    def sampledNew() = SampleLayout.sampleScan(spark, p, 1, 8)
      .filter(col("event_id") >= 90000000L)
      .select("user_id").collect().map(_.getLong(0)).toSeq
    assert(sampledNew() == Seq(inUser),
      "in-slab arrival must surface; out-slab arrival must not")
    // replay the same batch: Overwrite, no duplicates
    SampleLayout.append(batch, p, batchId = 1, col("user_id"),
      Seq("ts"))
    assert(sampledNew() == Seq(inUser))
    // an uncommitted dir (no _SUCCESS) is invisible
    val fs = Hdfs.of(spark, p)
    batch.write.mode("overwrite").parquet(s"$p/batch=9")
    fs.delete(new org.apache.hadoop.fs.Path(s"$p/batch=9/_SUCCESS"), false)
    assert(sampledNew() == Seq(inUser),
      "markerless delta dir must stay invisible")
    fs.delete(new org.apache.hadoop.fs.Path(s"$p/batch=9"), true)
    // compact folds the delta into the next generation and flips the
    // manifest; answers are fixed. The folded delta dir SURVIVES this
    // publish on disk (the in-flight readers' grace window) but is
    // INVISIBLE — the crash-window shape the naive rewrite-then-
    // delete double-counted
    val before = SampleLayout.sampleScan(spark, p, 1, 8)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    SampleLayout.compact(spark, p, files = 16, sortCols = Seq("ts"))
    val after = SampleLayout.sampleScan(spark, p, 1, 8)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(after == before,
      "compaction changed sample answers (folded deltas still on " +
        "disk must not double-count)")
    // a replay of the already-folded batch is REFUSED loudly: its
    // rows are in the folded base (a crash-window replay loses
    // nothing), while silently landing it as a forever-invisible dir
    // would also swallow a wiped-checkpoint stream restarting at id 0
    val e = intercept[IllegalArgumentException] {
      SampleLayout.append(batch, p, batchId = 1, col("user_id"),
        Seq("ts"))
    }
    assert(e.getMessage.contains("watermark"), e.getMessage)
    assert(SampleLayout.sampleScan(spark, p, 1, 8)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      == before)
    // the NEXT fold garbage-collects everything the previous publish
    // superseded
    SampleLayout.compact(spark, p, files = 16, sortCols = Seq("ts"))
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(p))
      .exists(st => st.getPath.getName.stripPrefix("batch=")
        .toLongOption.isDefined ||
        st.getPath.getName == "batch=compacted-0"),
      "second fold must retire the superseded generation and deltas")
    assert(SampleLayout.sampleScan(spark, p, 1, 8)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      == before)
  }

  test("foreachBatch maintenance: a streamed in-slab arrival is " +
      "sampled once its batch commits") {
    val p = tmpDir("sampleidx-stream") + "/events"
    SampleLayout.ensureEvents(events, p)
    val inUser = events.select(col("user_id"),
        SampleLayout.sampleKey(col("user_id")).as("k"))
      .filter(col("k") < lit(slabHi))
      .head().getLong(0)
    val arrival = events.filter(col("user_id") === inUser).limit(1)
      .withColumn("event_id", lit(95000000L))
    val src = tmpDir("sampleidx-src")
    arrival.coalesce(1).write.mode("overwrite").parquet(src)
    val q = spark.readStream.schema(arrival.schema).parquet(src)
      .writeStream
      .option("checkpointLocation", tmpDir("sampleidx-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        SampleLayout.append(b, p, id, col("user_id"), Seq("ts"))
      }
      .start()
    q.awaitTermination()
    val got = SampleLayout.sampleScan(spark, p, 1, 8)
      .filter(col("event_id") === 95000000L).count()
    assert(got == 1L, "streamed in-slab arrival must be sampled")
  }

  test("a reader whose base generation is gone fails loudly — never " +
      "a silently partial delta-only answer") {
    val p = tmpDir("sampleidx-grace") + "/events"
    SampleLayout.ensureEvents(events, p)
    val fs = Hdfs.of(spark, p)
    fs.delete(new org.apache.hadoop.fs.Path(s"$p/batch=compacted-0"), true)
    val e = intercept[IllegalStateException] {
      SampleLayout.sampleScan(spark, p, 1, 8)
    }
    assert(e.getMessage.contains("grace window"), e.getMessage)
  }

  test("a crashed (markerless) delta's batch stays replayable across " +
      "a rebuild — only COMMITTED ids advance the watermark") {
    import org.apache.hadoop.fs.Path
    val p = tmpDir("sampleidx-crashed") + "/events"
    SampleLayout.ensureEvents(events, p)
    val batch = events.limit(1).withColumn("event_id", lit(97000000L))
    // simulate the crash: delta dir exists, commit marker does not
    batch.write.mode("overwrite").parquet(s"$p/batch=7")
    val fs = Hdfs.of(spark, p)
    fs.delete(new Path(s"$p/batch=7/_SUCCESS"), false)
    // rebuild (source refresh) — must NOT fold the uncommitted id 7
    // into the watermark, or the stream's legitimate replay wedges
    SampleLayout.write(events, p, col("user_id"), Seq("ts"), 16)
    SampleLayout.append(batch, p, batchId = 7, col("user_id"),
      Seq("ts"))
    assert(SampleLayout.sampleScan(spark, p, 1, 8).count() > 0)
  }

  test("ensure rebuilds a layout written in the previous on-disk " +
      "format, whose manifest names a base this format never wrote") {
    import org.apache.hadoop.fs.Path
    val p = tmpDir("sampleidx-legacy") + "/events"
    val fs = Hdfs.of(spark, p)
    events.limit(10).write.parquet(s"$p/base_g0")
    events.limit(3).write.parquet(s"$p/b_1")
    Hdfs.atomicWrite(fs, new Path(p, "_manifest"), "0 -1")
    Hdfs.atomicWrite(fs, new Path(p, "_graft_meta"), "layout=manifest-v1")
    SampleLayout.ensureEvents(events, p)
    def ids(path: String) = SampleLayout.sampleScan(spark, path, 1, 8)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(p) == ids(layout) && ids(p).nonEmpty)
    // the previous format's base and part dirs do not outlive the
    // rebuild
    val left = fs.listStatus(new Path(p)).map(_.getPath.getName)
    assert(!left.exists(n => n.startsWith("base_g") || n.startsWith("b_")),
      left.toSeq)
  }

  test("ensure is idempotent; fraction bounds are enforced") {
    val fs = Hdfs.of(spark, layout)
    val marker = new org.apache.hadoop.fs.Path(s"$layout/_graft_meta")
    val t0 = fs.getFileStatus(marker).getModificationTime
    SampleLayout.ensureEvents(events, layout)
    assert(fs.getFileStatus(marker).getModificationTime == t0)
    intercept[IllegalArgumentException] {
      SampleLayout.sampleScan(spark, layout, 9, 8)
    }
    intercept[IllegalArgumentException] {
      SampleLayout.sampleScan(spark, layout, 0, 8)
    }
  }
}
