package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.ops.Bm25

/** Streaming postings contract: streamed documents are scored
  * immediately and exactly (indexed == direct over the grown corpus),
  * a replayed batch overwrites itself rather than double-counting df
  * and avgdl, and delta compaction changes no answer.
  */
class PostingsPipelineSpec extends SparkSpec {

  private val terms = Seq("window", "merge")

  private def directTopK(corpus: org.apache.spark.sql.DataFrame) =
    Bm25.scoreTopK(corpus, terms, 15).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet

  private def indexedTopK(path: String) =
    Bm25.scoreTopKIndexed(spark, path, terms, 15).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet

  private def writeJson(dir: String, name: String,
      docs: Seq[(Long, String)]): Unit = {
    val lines = docs.map { case (id, text) =>
      s"""{"doc_id":$id,"text":"$text"}""" }
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes)
  }

  test("streamed docs score immediately and exactly; replay and " +
      "compaction change nothing") {
    val all = Tables.documents(spark, sf0001)
    val base = all.filter(col("doc_id") < 460)
    val arrivals = all.filter(col("doc_id") >= 460)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val path = tmpDir("postings-stream")
    Bm25.ensurePostings(base, path)

    val src = tmpDir("postings-drop")
    val ckpt = tmpDir("postings-ckpt")
    // two sequential AvailableNow runs over one checkpoint -> two
    // distinct batch ids (one run would coalesce both files into
    // batch 0)
    writeJson(src, "b0.json", arrivals.take(20).toSeq)
    PostingsPipeline.start(spark, src, path, ckpt)
      .awaitTermination(60000)
    writeJson(src, "b1.json", arrivals.drop(20).toSeq)
    PostingsPipeline.start(spark, src, path, ckpt)
      .awaitTermination(60000)

    val expected = directTopK(all)
    assert(indexedTopK(path) == expected,
      "streamed docs must score like a full rebuild, bit-for-bit")

    // replay batch 1 by hand (crash-replay analog): same batch id,
    // same rows — stats must not double-count
    import spark.implicits._
    Bm25.ingestBatch(
      arrivals.drop(20).toSeq.toDF("doc_id", "text"), path, 1L)
    assert(indexedTopK(path) == expected,
      "a replayed batch must overwrite itself, not double-ingest")

    Bm25.compactDeltas(spark, path)
    assert(indexedTopK(path) == expected,
      "compaction must be answer-neutral")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(Bm25.arrivals(path).view(spark).parts == 0,
      "compaction folds every part into the arrival log's base")
    // and the folded base carries the arrivals: a fresh ensure over
    // the grown corpus sees the index as current
    val meta = new org.apache.hadoop.fs.Path(s"$path/_graft_meta")
    val t1 = fs.getFileStatus(meta).getModificationTime
    Bm25.ensurePostings(all, path)
    assert(fs.getFileStatus(meta).getModificationTime == t1)
  }
}
