package graft.agg

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SummingStoreSpec extends SparkSpec {
  import spark.implicits._

  private def store(path: String) =
    new SummingStore(path, Seq("day", "level"), Seq("total"))

  private def partials(rows: (String, String, Long)*) =
    rows.toDF("day", "level", "total")
      .withColumn("day", col("day").cast("date"))

  test("append partials then read re-sums by key") {
    val path = tmpDir("sumstore")
    val s = store(path)
    s.append(partials(("2026-01-01", "info", 2L),
      ("2026-01-01", "error", 1L)), batchId = 0)
    s.append(partials(("2026-01-01", "info", 3L),
      ("2026-01-02", "info", 5L)), batchId = 1)
    val got = s.read(spark).orderBy("day", "level").collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(("2026-01-01", "error", 1L),
      ("2026-01-01", "info", 5L), ("2026-01-02", "info", 5L)))
  }

  test("batchId rewrite is idempotent (streaming replay safety)") {
    val path = tmpDir("sumstore")
    val s = store(path)
    s.append(partials(("2026-01-01", "info", 2L)), batchId = 0)
    // replayed epoch writes the same batch again
    s.append(partials(("2026-01-01", "info", 2L)), batchId = 0)
    val got = s.read(spark).collect().map(r => r.getLong(2))
    assert(got.toSeq == Seq(2L))
  }

  test("compact preserves totals and collapses partial rows") {
    val path = tmpDir("sumstore")
    val s = store(path)
    (0 until 5).foreach(i =>
      s.append(partials(("2026-01-01", "info", 1L)), batchId = i.toLong))
    val before = s.read(spark).collect().map(r => r.getLong(2)).toSeq
    s.compact(spark)
    val after = s.read(spark).collect().map(r => r.getLong(2)).toSeq
    assert(before == Seq(5L) && after == Seq(5L))
    // the published view is ONE compacted block; the absorbed dirs
    // stay on disk one more fold as the in-flight readers' grace
    // window, invisible to reads
    assert(new graft.scale.PartLog(path).view(spark).dirs
      .map(_.split('/').last) == Seq("batch=compacted-0"))
    // a second fold retires them: disk holds at most two generations
    s.compact(spark)
    val dirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName)
    assert(dirs.toSet == Set("batch=compacted-0", "batch=compacted-1"),
      s"absorbed numeric dirs must be retired by the next fold: " +
        dirs.toSeq.sorted)
    assert(s.read(spark).collect().map(r => r.getLong(2)).toSeq == Seq(5L))
  }

  test("read racing a compact sees one complete view (reader-safe fold)") {
    val path = tmpDir("sumstore-race")
    val s = store(path)
    (0 until 4).foreach(i =>
      s.append(partials(("2026-01-01", "info", 1L)), batchId = i.toLong))
    // a reader whose file listing resolved BEFORE the fold: the fold
    // must not delete the dirs it scans (deferred retirement)
    val preFold = s.read(spark)
    s.compact(spark)
    assert(preFold.collect().map(_.getLong(2)).toSeq == Seq(4L),
      "pre-fold reader must still see its complete view after compact")
    assert(s.read(spark).collect().map(_.getLong(2)).toSeq == Seq(4L))
    // a reader created between folds keeps working across the NEXT
    // fold too (its generation is the one under grace)
    s.append(partials(("2026-01-01", "info", 1L)), batchId = 10L)
    val midGen = s.read(spark)
    s.compact(spark)
    assert(midGen.collect().map(_.getLong(2)).toSeq == Seq(5L),
      "between-folds reader must survive the following compact")
    assert(s.read(spark).collect().map(_.getLong(2)).toSeq == Seq(5L))
  }

  test("compact refuses an int-overflowing fold instead of wrapping") {
    val path = tmpDir("sumstore-overflow")
    val s = new SummingStore(path, Seq("level"), Seq("total"))
    // int-typed sum column; the folded long total exceeds Int.MaxValue,
    // so the downcast back to the raw schema would wrap negative under
    // the default non-ANSI cast — the guard must raise instead
    s.append(Seq(("click", Int.MaxValue)).toDF("level", "total"),
      batchId = 0)
    s.append(Seq(("click", 7)).toDF("level", "total"), batchId = 1)
    val e = intercept[Exception] { s.compact(spark) }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else t.toString +: causes(t.getCause)
    assert(causes(e).exists(_.contains("does not fit")), causes(e))
    // the failed fold must not have corrupted the store
    assert(s.read(spark).collect().map(_.getLong(1)).toSeq
      == Seq(Int.MaxValue.toLong + 7L))
  }

  test("compact is a safe no-op on an empty store") {
    val path = tmpDir("sumstore-empty")
    new java.io.File(path).mkdirs()
    store(path).compact(spark) // must not throw on the schema probe
    assert(new java.io.File(path).listFiles()
      .forall(!_.getName.startsWith("batch=")),
      "no-op compact must not create any batch dir")
  }

  test("a crashed fold attempt's orphan generation dir never eats the " +
      "published block (recovery data-loss regression)") {
    val path = tmpDir("sumstore-crash")
    val s = store(path)
    (0 until 3).foreach(i =>
      s.append(partials(("2026-01-01", "info", 1L)), batchId = i.toLong))
    s.compact(spark) // publishes generation 0
    s.append(partials(("2026-01-01", "info", 1L)), batchId = 5L)
    // simulate a fold that crashed AFTER landing batch=compacted-1 but
    // BEFORE flipping the manifest: the orphan dir is invisible junk
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(s"$path/batch=compacted-1")
    partials(("2026-01-01", "info", 99L)).write.parquet(orphan.toString)
    assert(s.read(spark).collect().map(_.getLong(2)).toSeq == Seq(4L),
      "orphan must be invisible before the retry")
    // the retried fold publishes the REAL generation 1 at that name —
    // and must not delete it as stale afterwards
    s.compact(spark)
    assert(s.read(spark).collect().map(_.getLong(2)).toSeq == Seq(4L),
      "retried fold must keep the published totals")
    assert(fs.exists(orphan), "the published generation dir must exist")
  }

  test("the fold's watermark derives from what it folded, not a " +
      "re-listing (append-racing-compact regression)") {
    // Direct protocol-level check: a batch appended after the fold's
    // snapshot, before its publish, must stay visible.
    val path = tmpDir("sumstore-latebatch")
    val s = store(path)
    s.append(partials(("2026-01-01", "info", 1L)), batchId = 0L)
    new graft.scale.PartLog(path).compact(spark) { parts =>
      // a batch lands AFTER the snapshot, BEFORE the fold completes
      s.append(partials(("2026-01-01", "info", 7L)), batchId = 3L)
      parts
    }
    assert(s.read(spark).collect().map(_.getLong(2)).toSeq == Seq(8L),
      "the late batch's rows must survive the fold")
  }
}
