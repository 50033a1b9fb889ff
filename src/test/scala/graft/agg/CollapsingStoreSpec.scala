package graft.agg

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the CollapsingMergeTree-analog contract: sign-weighted reads
  * are correct with or without compaction, updates supersede, deletes
  * vanish, replays are idempotent. */
class CollapsingStoreSpec extends SparkSpec {
  import spark.implicits._

  private def store(dir: String) =
    new CollapsingStore(dir, Seq("id"), Seq("qty", "total"))

  test("update + delete lifecycle; compact preserves the read") {
    val dir = tmpDir("graft-collapse") + "/s"
    val s = store(dir)
    // batch 0: two entities created
    s.append(Seq(
      (1L, 1, 2L, 10.0), (2L, 1, 5L, 50.0)
    ).toDF("id", "sign", "qty", "total"), 0L)
    // batch 1: entity 1 updated (cancel old state, write new);
    // entity 2 deleted (cancel only)
    s.append(Seq(
      (1L, -1, 2L, 10.0), (1L, 1, 3L, 30.0),
      (2L, -1, 5L, 50.0)
    ).toDF("id", "sign", "qty", "total"), 1L)

    def check(): Unit = {
      val rows = s.read(spark).orderBy("id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3)))
      assert(rows.toSeq === Seq((1L, 1L, 3L, 30.0)),
        "entity 1 shows only its latest state; entity 2 is gone")
    }
    check()
    s.compact(spark)
    check() // identical after physical collapse
    // compaction physically dropped the cancelled rows
    assert(spark.read.parquet(s"$dir/batch=compacted-0").count() === 1)
  }

  test("replayed batch overwrites itself: read unchanged") {
    val dir = tmpDir("graft-collapse-replay") + "/s"
    val s = store(dir)
    val b = Seq((7L, 1, 1L, 5.0)).toDF("id", "sign", "qty", "total")
    s.append(b, 3L)
    s.append(b, 3L) // streaming retry of the same epoch
    assert(s.read(spark).count() === 1)
    assert(s.read(spark).select("qty").as[Long].head() === 1L)
  }

  test("replay of a compacted-away batch is refused; new batches append") {
    val dir = tmpDir("graft-collapse-guard") + "/s"
    val s = store(dir)
    val b = Seq((1L, 1, 1L, 5.0)).toDF("id", "sign", "qty", "total")
    s.append(b, 0L)
    s.append(Seq((2L, 1, 2L, 8.0)).toDF("id", "sign", "qty", "total"), 1L)
    s.compact(spark)
    // replaying batch 1 after its rows were folded into batch=compacted
    // would double-count entity 2 — the watermark guard must refuse it
    intercept[IllegalArgumentException](s.append(b, 1L))
    // a genuinely NEW batch (id above the watermark) still appends
    s.append(Seq((3L, 1, 3L, 9.0)).toDF("id", "sign", "qty", "total"), 2L)
    assert(s.read(spark).count() === 3)
  }

  test("unbalanced multi-insert nets correctly (sum-weighted values)") {
    val dir = tmpDir("graft-collapse-net") + "/s"
    val s = store(dir)
    // two +1 states without a cancel (producer crashed between write
    // and cancel): net sign 2, values sum — the documented ClickHouse
    // behavior for sign-weighted reads; consumers can detect the
    // anomaly via sign =!= 1.
    s.append(Seq(
      (9L, 1, 2L, 20.0), (9L, 1, 3L, 30.0)
    ).toDF("id", "sign", "qty", "total"), 0L)
    val r = s.read(spark).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      === ((9L, 2L, 5L, 50.0)))
  }
}
