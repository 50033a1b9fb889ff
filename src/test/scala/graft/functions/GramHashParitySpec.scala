package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.{Curation, Sampling}

/** Bit-parity pins for the round-16 DSIR fast path.
  *
  * 1. [[GramHashes]] == the HOF formulation it replaces
  *    (`pmod(xxhash64(wordNgrams(ws, n)), buckets)` per element), on
  *    adversarial word arrays — empty, shorter-than-n, repeated and
  *    empty-string words.
  * 2. [[VectorGatherSum]] == the `aggregate` HOF lookup-sum, bit-for-
  *    bit (same accumulation order), including out-of-range skip.
  * 3. `dsirSelect` driver-LM path == the forced join path
  *    ([[Sampling.dsirSelectJoin]] via `driverLmMaxBuckets = 0`) on a
  *    mixed corpus — the end-to-end equality the oracle hash gate
  *    relies on, and the coverage that keeps the 100 TB wide-LM shape
  *    exercised — plus two regression inputs: a bucket whose every
  *    occurrence has a NULL `isTarget` (non-target on both paths), and
  *    a bucket count that is not a power of two.
  */
class GramHashParitySpec extends SparkSpec {
  import spark.implicits._

  private val words = Seq(
    Seq.empty[String],
    Seq("one"),
    Seq("a", "b"),
    Seq("the", "quick", "brown", "fox", "jumps"),
    Seq("rep", "rep", "rep", "rep"),
    Seq("", "x", ""), // empty-string words (the split filter removes
    // them upstream, but the expression must not care)
    (1 to 50).map(i => s"w${i % 7}")
  )

  private lazy val df = words.zipWithIndex
    .map { case (ws, i) => (i.toLong, ws) }
    .toDF("id", "ws")

  private def hofGrams(n: Int, buckets: Long) = {
    val g = Curation.wordNgrams(col("ws"), n)
    if (buckets > 0) transform(g, x => pmod(xxhash64(x), lit(buckets)))
    else transform(g, x => xxhash64(x))
  }

  test("gram_hashes == pmod(xxhash64(wordNgrams)) per element") {
    for (n <- Seq(1, 2, 5); buckets <- Seq(0L, 4096L, 64L)) {
      val got = df.select(col("id"),
          GramHashFunctions.gram_hashes(col("ws"), n, buckets).as("g"))
        .orderBy("id").collect().map(_.getSeq[Long](1))
      val want = df.select(col("id"), hofGrams(n, buckets).as("g"))
        .orderBy("id").collect().map(_.getSeq[Long](1))
      assert(got.toSeq == want.toSeq, s"n=$n buckets=$buckets")
    }
  }

  test("gram_hashes: null input yields an empty, non-null array") {
    val out = Seq((1L, null.asInstanceOf[Seq[String]]))
      .toDF("id", "ws")
      .select(GramHashFunctions.gram_hashes(col("ws"), 2, 64L).as("g"))
      .head()
    assert(!out.isNullAt(0) && out.getSeq[Long](0).isEmpty)
  }

  test("vec_gather_sum == aggregate-HOF lookup sum, bit-identical") {
    val lut = Seq(0.1, -2.5, math.Pi, 7.75, -0.0001)
    val lutLit = typedLit(lut)
    val idxDf = Seq(
      (1L, Seq(0L, 1L, 2L, 3L, 4L)),
      (2L, Seq(4L, 4L, 4L)),
      (3L, Seq.empty[Long]),
      (4L, Seq(2L, 0L, 2L, 1L)),
      (5L, Seq(99L, -1L, 3L)) // out of range skips (contributes 0.0)
    ).toDF("id", "ba")
    val got = idxDf.select(col("id"),
        graft.functions.VectorFunctions
          .vec_gather_sum(col("ba"), lutLit).as("s"))
      .orderBy("id").collect().map(_.getDouble(1))
    val want = idxDf.select(col("id"),
        aggregate(col("ba"), lit(0.0), (acc, b) =>
          acc + when(b >= 0 && b < lut.size,
            element_at(lutLit, (b + 1).cast("int")))
            .otherwise(lit(0.0))).as("s"))
      .orderBy("id").collect().map(_.getDouble(1))
    assert(got.toSeq.map(java.lang.Double.doubleToLongBits) ==
      want.toSeq.map(java.lang.Double.doubleToLongBits))
  }

  // the DsirSpec corpus shape: disjoint target/noise vocabularies plus
  // mixed and gramless docs
  private lazy val corpus = (
    (1L to 10L).map(i => (i, "tq tw te tq tw te tq", "t")) ++
    (11L to 20L).map(i => (i, "nq nw ne nq nw ne nq", "r")) ++
    (21L to 25L).map(i => (i, "tq tw nq nw tq tw te", "r")) ++
    Seq((30L, "tq tw te tw tq te tw", "r"), (31L, "", "r"))
  ).toDF("doc_id", "text", "source")

  // "zz" and "zz yy" occur only in docs whose source is NULL, so
  // their buckets' every occurrence carries a NULL isTarget
  private lazy val nullTargetCorpus = corpus.union(
    Seq((40L, "zz yy zz"), (41L, "zz tq"), (42L, ""))
      .toDF("doc_id", "text").withColumn("source", lit(null).cast("string")))

  test("dsirSelect driver-LM path == forced join path, bit-identical") {
    def rows(docs: org.apache.spark.sql.DataFrame, buckets: Int,
        driverMax: Int) =
      Sampling.dsirSelect(docs, col("doc_id"), col("text"),
          col("source") === "t", buckets, 5,
          driverLmMaxBuckets = driverMax)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3)))
        .toSeq
    for ((docs, buckets, what) <- Seq((corpus, 4096, "mixed corpus"),
        (nullTargetCorpus, 4096, "all-NULL-isTarget bucket"),
        (corpus, 3000, "non-power-of-two buckets"))) {
      val fast = rows(docs, buckets, Sampling.DsirDriverLmMaxBuckets)
      val join = rows(docs, buckets, 0) // forces dsirSelectJoin
      assert(fast == join, what)
      assert(fast.nonEmpty, what)
    }
  }
}
