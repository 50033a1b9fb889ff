package graft.pipeline

import java.nio.file.{Files, Paths}

import graft.SparkSpec

class CurationPipelineSpec extends SparkSpec {

  private def writeDocs(srcDir: String, name: String,
      docs: Seq[(Long, String)]): Unit = {
    val lines = docs.map { case (id, text) =>
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"crawl"}"""
    }
    Files.write(Paths.get(srcDir, name), lines.mkString("\n").getBytes)
  }

  private def runOnce(srcDir: String, outDir: String, ckDir: String,
      nearDupStore: Option[String] = None): Unit = {
    val (curatedQ, rejectsQ) = CurationPipeline.start(
      spark, srcDir, outDir, ckDir, nearDupStore = nearDupStore)
    curatedQ.awaitTermination()
    rejectsQ.awaitTermination()
  }

  test("gates + cross-batch dedup: rejects labeled, re-crawl dropped") {
    val base = tmpDir("curation")
    val (src, out, ck) = (s"$base/src", s"$base/out", s"$base/ck")
    Files.createDirectories(Paths.get(src))

    val goodText = "the quick brown fox jumps over the lazy dog today"
    // one file per AvailableNow run: same-mtime files order arbitrarily
    writeDocs(src, "b1.json", Seq(
      (1L, goodText),
      (2L, "too short"),                    // < 5 tokens
      (3L, "a b a b a b a b a b a b"),      // rep_ratio ~0.82
      (4L, "an entirely different clean document with many words")))
    runOnce(src, out, ck)

    writeDocs(src, "b2.json", Seq(
      (5L, goodText),                       // re-crawl of doc 1 -> dedup
      (6L, "fresh content arriving in the second batch of the crawl")))
    runOnce(src, out, ck)

    val curated = CurationPipeline.curated(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(curated.toSeq == Seq(1L, 4L, 6L),
      s"curated = ${curated.mkString(",")}")

    val rejects = CurationPipeline.rejects(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(rejects.toSeq == Seq((2L, "too_short"), (3L, "repetitive")))

    // kept metadata is usable downstream: token counts and rounded
    // repetition scores survive into the curated store
    val kept = CurationPipeline.curated(spark, out)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 1L)
      .head()
    assert(kept.getAs[Long]("n_tokens") == 10L)
    assert(kept.getAs[Double]("rep_ratio") == 0.0)

    // the stores hold exactly the schemas their reads declare
    import org.apache.spark.sql.types.StructType
    def stored(dir: String, declared: StructType) = {
      val got = spark.read.parquet(dir).drop("batch").schema
      val want = StructType(declared.filterNot(_.name == "batch"))
      assert(got.map(f => (f.name, f.dataType)) ==
        want.map(f => (f.name, f.dataType)), s"$dir: $got")
    }
    stored(s"$out/curated", CurationPipeline.curatedSchema)
    stored(s"$out/rejects", CurationPipeline.rejectsSchema)
  }

  test("language gate: content-predicted lang outside allow-list rejected") {
    val base = tmpDir("curation-lang")
    val (src, out, ck) = (s"$base/src", s"$base/out", s"$base/ck")
    Files.createDirectories(Paths.get(src))
    writeDocs(src, "b1.json", Seq(
      (1L, "the cat and the dog ran to the house of the baker"),
      (2L, "der hund und die katze und das haus ist nicht ein zoo")))
    val (cq, rq) = CurationPipeline.start(spark, src, out, ck,
      allowedLangs = Some(Set("en")))
    cq.awaitTermination(); rq.awaitTermination()
    assert(CurationPipeline.curated(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(CurationPipeline.rejects(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((2L, "lang")))
  }

  test("DSIR gate: off-target and gramless arrivals rejected " +
      "off_target, on-target curated") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = tmpDir("curation-dsir")
    val (src, out, ck) = (s"$base/src", s"$base/out", s"$base/ck")
    Files.createDirectories(Paths.get(src))
    // train once: target slice speaks tq/tw/te, raw additionally
    // nq/nw/ne — the persisted LM the stream scores against forever
    val ref = ((1L to 10L).map(i => (i, "tq tw te tq tw te tq", "t")) ++
      (11L to 20L).map(i => (i, "nq nw ne nq nw ne nq", "r")))
      .toDF("doc_id", "text", "source")
    val store = s"$base/dsir"
    graft.ops.Sampling.dsirFitStore(ref, col("doc_id"), col("text"),
      col("source") === "t", 4096, store)
    writeDocs(src, "b1.json", Seq(
      (1L, "tq tw te qa qb qc qd qe"),  // target grams -> weight > 0
      (2L, "nq nw ne ra rb rc rd re"),  // raw-exclusive grams -> < 0
      (3L, "1 2 3 4 5 6 7")))           // no [a-z] grams -> null weight
    val (cq, rq) = CurationPipeline.start(spark, src, out, ck,
      dsirGate = Some((store, 0.0)))
    cq.awaitTermination(); rq.awaitTermination()
    assert(CurationPipeline.curated(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    val rejects = CurationPipeline.rejects(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(rejects.toSeq ==
      Seq((2L, "off_target"), (3L, "off_target")), s"$rejects")
  }

  test("batch replay is exactly-once: rerun with fresh checkpoint, no dupes") {
    val base = tmpDir("curation-replay")
    val (src, out, ck) = (s"$base/src", s"$base/out", s"$base/ck")
    Files.createDirectories(Paths.get(src))
    writeDocs(src, "b1.json", Seq(
      (1L, "first document with a perfectly reasonable number of words"),
      (2L, "second document also fine and also kept by every gate")))
    runOnce(src, out, ck)
    val first = CurationPipeline.curated(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).sorted

    // simulate a replayed micro-batch: fresh checkpoint, same source ->
    // the SAME batch id re-executes; batchId-keyed overwrite must
    // rewrite, not append
    runOnce(src, out, s"$base/ck2")
    val second = CurationPipeline.curated(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(second.toSeq == first.toSeq,
      s"replay duplicated output: ${second.mkString(",")}")
  }

  test("near-dup tier: re-phrased crawl rejected against the store") {
    val base = tmpDir("curation-nd")
    val (src, out, ck) = (s"$base/src", s"$base/out", s"$base/ck")
    val store = Some(s"$base/sigstore")
    Files.createDirectories(Paths.get(src))

    val original =
      "the quick brown fox jumps over the lazy dog while birds sing in trees"
    writeDocs(src, "b1.json", Seq(
      (1L, original),
      (2L, "a completely different first batch document with its own words")))
    runOnce(src, out, ck, store)

    writeDocs(src, "b2.json", Seq(
      // NOT an exact copy (fingerprint differs) but a near-dup
      // (jaccard ~0.93): only the signature store can catch it
      (3L, original + " today"),
      (4L, "genuinely novel material arriving in the second batch here")))
    runOnce(src, out, ck, store)

    val curated = CurationPipeline.curated(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(curated.toSeq == Seq(1L, 2L, 4L),
      s"curated = ${curated.mkString(",")}")
    val rejects = CurationPipeline.rejects(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rejects.toSeq == Seq((3L, "near_dup")), rejects.toSeq.toString)
  }

  test("fingerprint migration: a pre-store-backed curated store is " +
      "backfilled once and then dedups a re-crawl; migrated store is " +
      "a no-op second time") {
    import org.apache.spark.sql.functions.col
    val base = tmpDir("curation-migrate")
    val (src, out, ck) = (s"$base/src", s"$base/out", s"$base/ck")
    Files.createDirectories(Paths.get(src))
    val oldText =
      "a perfectly ordinary document curated by the previous deployment"

    // a curated store written BEFORE dedup became store-backed: same
    // layout, NO fingerprint column
    import spark.implicits._
    Seq((100L, oldText, "en", "crawl", 9L, 0.0))
      .toDF("doc_id", "text", "lang", "source", "n_tokens", "rep_ratio")
      .withColumn("batch", org.apache.spark.sql.functions.lit(999L))
      .write.partitionBy("batch").parquet(s"$out/curated")

    CurationPipeline.migrateFingerprints(spark, out)
    val migrated = spark.read.parquet(s"$out/curated")
    assert(migrated.columns.contains("fingerprint"))
    val fpAfter = migrated.filter(col("doc_id") === 100L)
      .select("fingerprint").head().getString(0)
    // idempotent: a second run must not rewrite (same fingerprint,
    // same row count)
    CurationPipeline.migrateFingerprints(spark, out)
    assert(spark.read.parquet(s"$out/curated").count() == 1)
    assert(spark.read.parquet(s"$out/curated")
      .select("fingerprint").head().getString(0) == fpAfter)

    // the upgraded stream (fresh checkpoint, as the migration doc
    // requires) now dedups a re-crawl of the OLD store's doc via the
    // backfilled fingerprints
    writeDocs(src, "b1.json", Seq(
      (101L, oldText), // exact re-crawl of the pre-migration doc
      (102L, "novel content arriving after the deployment upgraded")))
    runOnce(src, out, ck)
    val curated = CurationPipeline.curated(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(curated.toSeq == Seq(100L, 102L),
      s"curated = ${curated.mkString(",")}")
  }

  test("fingerprint migration crash recovery: every mid-swap state " +
      "restores the store instead of silently losing it") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val base = tmpDir("curation-migrate-crash")
    val out = s"$base/out"
    def writeOldStore(): Unit =
      Seq((100L, "a doc", "en", "crawl", 2L, 0.0))
        .toDF("doc_id", "text", "lang", "source", "n_tokens",
          "rep_ratio")
        .withColumn("batch", lit(7L))
        .write.mode("overwrite").partitionBy("batch")
        .parquet(s"$out/curated")
    val fs = graft.scale.Hdfs.of(spark, out)
    def p(d: String) = new org.apache.hadoop.fs.Path(s"$out/$d")
    def countCurated() = spark.read.parquet(s"$out/curated").count()

    // crash between rename(curated -> backup) and rename(staged ->
    // curated): curated absent, BOTH staged (new data) and backup
    // (old) present — recovery must prefer the completed staged copy
    writeOldStore()
    CurationPipeline.migrateFingerprints(spark, out) // builds fp store
    fs.rename(p("curated"), p("curated_pre_fp_backup"))
    // simulate: the staged dir was already renamed in — reconstruct
    // the pre-rename interleaving instead: move curated (migrated) to
    // the staged name, leaving backup in place
    fs.rename(p("curated_pre_fp_backup"), p("curated_fp_migration"))
    writeOldStore() // old copy back under the backup name
    fs.rename(p("curated"), p("curated_pre_fp_backup"))
    CurationPipeline.migrateFingerprints(spark, out)
    assert(countCurated() == 1)
    assert(spark.read.parquet(s"$out/curated").columns
      .contains("fingerprint"))
    assert(!fs.exists(p("curated_fp_migration")) &&
      !fs.exists(p("curated_pre_fp_backup")),
      "recovery must leave no migration leftovers")

    // crash after the staged-in rename but before the backup delete:
    // curated (migrated) + backup both present — next run cleans up
    writeOldStore()
    CurationPipeline.migrateFingerprints(spark, out)
    Seq((1L, "x")).toDF("a", "b").write.mode("overwrite")
      .parquet(s"$out/curated_pre_fp_backup")
    CurationPipeline.migrateFingerprints(spark, out)
    assert(!fs.exists(p("curated_pre_fp_backup")),
      "post-swap leftover backup must be dropped")
    assert(countCurated() == 1)

    // crash mid-staged-write (no _SUCCESS): the partial stage is
    // rebuilt, not swapped in
    writeOldStore()
    fs.mkdirs(p("curated_fp_migration"))
    // a marker-less dir only (no _SUCCESS) — migrate must rebuild
    CurationPipeline.migrateFingerprints(spark, out)
    assert(spark.read.parquet(s"$out/curated").columns
      .contains("fingerprint"))
    assert(countCurated() == 1)
  }
}
