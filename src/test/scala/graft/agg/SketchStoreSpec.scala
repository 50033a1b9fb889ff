package graft.agg

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** AggregatingMergeTree contract: states union across batches to the
  * same answer as a global distinct and roll up to coarser groupings
  * without rescanning raw data (replay and compaction are
  * PartStoreContractSpec's). At these cardinalities (hundreds) the HLL
  * estimate is exact, so assertions are equalities, not tolerances.
  */
class SketchStoreSpec extends SparkSpec {
  import spark.implicits._

  private def mkStore(): (SketchStore, String) = {
    val p = tmpDir("sketch") + "/store"
    (new SketchStore(p, Seq("day", "level")), p)
  }

  test("cross-batch union equals global distinct; rollup by states") {
    val (store, _) = mkStore()
    // users overlap across batches — summing per-batch distincts would
    // double-count; unioning states must not
    val b0 = Seq(("d1", "info", 1L), ("d1", "info", 2L),
      ("d1", "error", 1L), ("d2", "info", 5L))
    val b1 = Seq(("d1", "info", 2L), ("d1", "info", 3L),
      ("d2", "info", 5L), ("d2", "info", 6L))
    store.append(store.partials(
      b0.toDF("day", "level", "user"), col("user")), 0L)
    store.append(store.partials(
      b1.toDF("day", "level", "user"), col("user")), 1L)

    val perKey = store.read(spark)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        r.getLong(2))).toMap
    assert(perKey == Map(("d1", "info") -> 3L, ("d1", "error") -> 1L,
      ("d2", "info") -> 2L))

    // rollup to per-level WITHOUT raw data: states union across days.
    // user 5 appears only under d2/info; users {1,2,3} under d1/info —
    // a sum of estimates would give 5 for info via double-counting
    // user overlap across keys if any; the union gives exact 5 here
    val perLevel = store.readGrouped(spark, Seq("level"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(perLevel == Map("info" -> 5L, "error" -> 1L))
  }

  test("streaming maintenance: foreachBatch appends states per epoch") {
    import java.nio.file.{Files, Paths}
    import graft.config.PipelineConfig
    import graft.ingest.EventSource
    import graft.model.Schemas
    val c = PipelineConfig(topicsRoot = tmpDir("topics"),
      warehouseRoot = tmpDir("wh"))
    val dir = Paths.get(c.topicDir("event_tracking"))
    Files.createDirectories(dir)
    def line(ts: Long, lvl: String, user: String) =
      s"""{"timestamp": $ts, "level": "$lvl", "message": "$user"}"""
    // same user appears in both files: per-batch distinct partials
    // would double-count, unioned states must not
    Files.write(dir.resolve("b0.json"), Seq(
      line(1700000000L, "info", "u1"), line(1700000010L, "info", "u2"),
      line(1700000020L, "error", "u1")).mkString("\n").getBytes)
    Files.write(dir.resolve("b1.json"), Seq(
      line(1700090000L, "info", "u2"), line(1700090010L, "info", "u3"))
      .mkString("\n").getBytes)
    val store = new SketchStore(c.tablePath("distinct_users"),
      Seq("level"))
    val q = EventSource.wellFormed(
        EventSource.decode(
          EventSource.streamRaw(spark, c, "event_tracking", 1),
          Schemas.queueRecord))
      .writeStream
      .option("checkpointLocation", c.checkpointDir("sketcher"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
          id: Long) =>
        store.append(store.partials(batch, col("message")), id)
      }
      .start()
    q.awaitTermination()
    val got = store.read(spark).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("info" -> 3L, "error" -> 1L))
  }
}
