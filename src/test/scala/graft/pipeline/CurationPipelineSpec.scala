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

    // each log records the schema of its parts: the curated columns
    // (with the persisted fingerprint) and the gate rejects; no tier
    // reject landed, so that log was never written
    import org.apache.spark.sql.types.{DataType, StructType}
    def recorded(log: String) =
      DataType.fromJson(new String(Files.readAllBytes(
        Paths.get(s"$out/$log/_schema")))).asInstanceOf[StructType]
        .map(f => s"${f.name}:${f.dataType.simpleString}")
    assert(recorded("curated") == Seq("doc_id:bigint", "text:string",
      "lang:string", "source:string", "n_tokens:bigint",
      "rep_ratio:double", "fingerprint:string"))
    assert(recorded("rejects/gate") ==
      Seq("doc_id:bigint", "reject_reason:string"))
    assert(!Files.exists(Paths.get(s"$out/rejects/tier")))
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

  test("a curated part without _SUCCESS is invisible to curated() " +
      "and to the next batch's anti-join") {
    import org.apache.spark.sql.functions.{col, lit}
    val base = tmpDir("curation-torn")
    val (src, out, ck) = (s"$base/src", s"$base/out", s"$base/ck")
    Files.createDirectories(Paths.get(src))
    writeDocs(src, "b1.json", Seq(
      (1L, "first document with a perfectly reasonable number of words")))
    runOnce(src, out, ck)

    // a part whose write died during job commit: parquet files, no
    // _SUCCESS. It holds the fingerprint of the doc arriving next.
    val arriving = "a document whose earlier write never finished committing"
    CurationPipeline.curated(spark, out)
      .withColumn("doc_id", lit(900L))
      .withColumn("text", lit(arriving))
      .withColumn("fingerprint",
        graft.ops.TextAnalysis.fingerprint(col("text")))
      .write.parquet(s"$out/curated/batch=5")
    Files.delete(Paths.get(s"$out/curated/batch=5/_SUCCESS"))

    writeDocs(src, "b2.json", Seq((2L, arriving)))
    runOnce(src, out, ck)
    val curated = CurationPipeline.curated(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(curated.toSeq == Seq(1L, 2L),
      s"curated = ${curated.mkString(",")}")
  }

  test("a curated store written before fingerprints were persisted is " +
      "refused at the first batch, naming its path; its rows stay") {
    import spark.implicits._
    val base = tmpDir("curation-old-store")
    val (src, out, ck) = (s"$base/src", s"$base/out", s"$base/ck")
    Files.createDirectories(Paths.get(src))
    // the old writer's layout: one batch-keyed dir per micro-batch,
    // no fingerprint column, no recorded schema
    Seq((100L, "a perfectly ordinary document curated earlier", "en",
        "crawl", 6L, 0.0))
      .toDF("doc_id", "text", "lang", "source", "n_tokens", "rep_ratio")
      .write.parquet(s"$out/curated/batch=7")

    writeDocs(src, "b1.json", Seq(
      (101L, "novel content arriving after the deployment upgraded")))
    val (cq, rq) = CurationPipeline.start(spark, src, out, ck)
    val e = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException](cq.awaitTermination())
    rq.awaitTermination()
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains(s"$out/curated")), e.toString)

    assert(!Files.exists(Paths.get(s"$out/curated/_schema")))
    assert(new java.io.File(s"$out/curated").list().toSet ==
      Set("batch=7"))
    val old = spark.read.parquet(s"$out/curated/batch=7")
    assert(!old.columns.contains("fingerprint"))
    assert(old.select("doc_id").as[Long].collect().toSeq == Seq(100L))
  }
}
