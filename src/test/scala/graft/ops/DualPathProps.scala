package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** One contract per dual-path operator: each operator that keeps a
  * bounded driver shortcut and a distributed fallback returns the same
  * rows on both, over the adversarial input classes — NULL-bearing
  * rows, duplicate keys, empty input, a single hot key, and input
  * exactly at the bound (the fallback side one past it).
  *
  * The fallback is forced through the operator's own bound:
  * `driverMaxEdges` and `driverLmMaxBuckets` directly; the query-batch
  * operators ([[Bm25.scoreTopKBatch]], [[VectorIndex.queryIvf]]) have
  * no bound parameter, so their fallback run pads the batch past
  * [[Bm25.MaxBatchQueries]] with extra queries whose rows are dropped
  * before the compare (every query scores and ranks independently).
  * A plan marker checks that each side really ran the path it names.
  */
object DualPathProps extends Properties("DualPath") {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("DualPathProps")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  // every sample runs Spark jobs on both paths; the input classes, not
  // the sample count, carry the coverage
  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(3)

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** A frame's rows as a sorted multiset of strings: order-free and
    * null-safe; doubles print their exact shortest repr. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def plan(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  private def same(fast: Seq[String], slow: Seq[String]): Prop =
    (fast == slow) :| s"shortcut ${fast.take(8)} != fallback ${slow.take(8)}"

  private def withNulls[A](g: Gen[A], nullShare: Int): Gen[Any] =
    Gen.frequency((nullShare, Gen.const(null)), (10 - nullShare, g))

  // ---- Components.connectedComponents ----

  private val edgeSchema = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType)))
  private val node = Gen.choose(0L, 30L)
  private val edge: Gen[Row] = Gen.zip(node, node).map(e => Row(e._1, e._2))
  private val edges: Gen[List[Row]] =
    Gen.choose(1, 40).flatMap(Gen.listOfN(_, edge))

  /** The driver union-find returns a local relation; the loop never
    * does (its labels are checkpointed frames). */
  private def components(es: Seq[Row], shortcut: Boolean,
      shortCap: Int = Components.DriverMaxEdges,
      fallCap: Int = 0): Prop = {
    val e = frame(es, edgeSchema)
    val fast = Components.connectedComponents(e, driverMaxEdges = shortCap)
    val slow = Components.connectedComponents(e, driverMaxEdges = fallCap)
    ((plan(fast).contains("LocalRelation") == shortcut) :|
        "shortcut side ran the wrong path") &&
      ((!plan(slow).contains("LocalRelation")) :|
        "fallback side ran the driver union-find") &&
      same(rowsOf(fast), rowsOf(slow))
  }

  property("components: NULL-bearing rows") = Prop.forAll(
    Gen.nonEmptyListOf(Gen.zip(withNulls(node, 3), withNulls(node, 3))
      .map(e => Row(e._1, e._2))).map(Row(null, 0L) :: _)) { es =>
    // a NULL endpoint keeps the shortcut off: both sides are the loop
    components(es, shortcut = false)
  }

  property("components: duplicate keys") = Prop.forAll(edges) { es =>
    val dup = es ++ es ++ es.map(r => Row(r.get(1), r.get(0))) ++
      es.take(3).map(r => Row(r.get(0), r.get(0)))
    components(dup, shortcut = true)
  }

  private lazy val componentsEmpty = components(Nil, shortcut = true)
  property("components: empty input") = componentsEmpty

  property("components: single hot key") = Prop.forAll(node,
    Gen.nonEmptyListOf(Gen.zip(node, Gen.oneOf(true, false)))) {
    (hub, spokes) =>
      components(spokes.map { case (x, out) =>
        if (out) Row(hub, x) else Row(x, hub) }, shortcut = true)
  }

  property("components: exactly at the bound (fallback one past)") =
    Prop.forAll(edges) { es =>
      components(es, shortcut = true, shortCap = es.size,
        fallCap = es.size - 1)
    }

  // ---- Bm25.scoreTopKBatch ----

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val querySchema = StructType(Seq(
    StructField("query_id", StringType),
    StructField("terms", ArrayType(StringType))))
  private val vocab = Seq("ant", "bee", "cat", "dog", "eel", "fox")
  private val text: Gen[String] = Gen.choose(0, 8).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf(vocab :+ "42" :+ "Ant,"))).map(_.mkString(" "))
  private val docs: Gen[List[Row]] = Gen.choose(1, 25).flatMap(n =>
    Gen.listOfN(n, text)).map(_.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t) })
  private val terms: Gen[Seq[String]] =
    Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.oneOf(vocab :+ "yak")))
  private def queries(n: Gen[Int]): Gen[List[Row]] = n.flatMap(m =>
    Gen.listOfN(m, terms)).map(_.zipWithIndex.map { case (ts, i) =>
      Row(s"q$i", ts) })

  /** The mask-pivot tail (vec_dot) is the bounded batch's shortcut. */
  private def bm25(ds: Seq[Row], qs: Seq[Row], k: Int,
      shortcut: Boolean): Prop = {
    val d = frame(ds, docSchema)
    val fast = Bm25.scoreTopKBatch(d, frame(qs, querySchema), k)
    val pad = (qs.size to Bm25.MaxBatchQueries)
      .map(i => Row(s"~pad$i", Seq("zzpad")))
    val slow = Bm25.scoreTopKBatch(d, frame(qs ++ pad, querySchema), k)
    ((plan(fast).contains("vec_dot") == shortcut) :|
        "shortcut side ran the wrong path") &&
      ((!plan(slow).contains("vec_dot")) :| "fallback side ran the mask") &&
      same(rowsOf(fast), rowsOf(slow).filterNot(_.startsWith("~pad")))
  }

  private val k = Gen.choose(1, 4)

  property("bm25 batch: NULL-bearing rows") = Prop.forAll(docs,
    queries(Gen.choose(1, 12)), k) { (ds, qs, k) =>
    // NULL text, NULL query_id, NULL terms array, NULL term element
    val nullDocs = ds :+ Row(ds.size.toLong, null) :+ Row(null, "ant bee")
    val nullQs = qs ++ Seq(Row(null, Seq("cat")), Row("qn", null),
      Row("qe", Seq(null, "dog")))
    bm25(nullDocs, nullQs, k, shortcut = true)
  }

  property("bm25 batch: duplicate keys") = Prop.forAll(docs,
    queries(Gen.choose(1, 12)), k) { (ds, qs, k) =>
    // repeated query_ids union their terms; repeated doc_ids and terms
    val dupQs = qs ++ qs.map(r => Row(r.get(0), Seq("eel", "eel"))) ++ qs
    bm25(ds ++ ds.take(3), dupQs, k, shortcut = true)
  }

  private lazy val bm25Empty = Prop.all(
    bm25(Nil, Seq(Row("q0", Seq("ant"))), 3, shortcut = true),
    // an empty batch has no term union: both sides are the fallback
    bm25(Seq(Row(0L, "ant bee")), Nil, 3, shortcut = false))
  property("bm25 batch: empty input") = bm25Empty

  property("bm25 batch: single hot key") = Prop.forAll(docs,
    Gen.choose(1, 30), k) { (ds, n, k) =>
    val hot = ds.map(r => Row(r.get(0), s"cat ${r.get(1)}"))
    bm25(hot, (0 until n).map(i => Row(s"q$i", Seq("cat"))), k,
      shortcut = true)
  }

  property("bm25 batch: exactly at the bound (fallback one past)") =
    Prop.forAll(docs, queries(Gen.const(Bm25.MaxBatchQueries)), k) {
      (ds, qs, k) => bm25(ds, qs, k, shortcut = true)
    }

  // ---- VectorIndex.queryIvf ----

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** The indexed corpus: 200 seeded 8-d vectors around 8 centers. */
  private val pool: IndexedSeq[Seq[Float]] = {
    val rnd = new scala.util.Random(7)
    val centers = IndexedSeq.fill(8)(Seq.fill(8)(rnd.nextGaussian().toFloat))
    IndexedSeq.tabulate(200)(i =>
      centers(i % 8).map(_ + 0.1f * rnd.nextGaussian().toFloat))
  }
  private lazy val ivfPath = {
    val p = java.nio.file.Files.createTempDirectory("dualpath-ivf")
      .toString + "/index"
    VectorIndex.buildIvf(frame(pool.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, v) }, vecSchema), p, numCells = 8, refineIters = 1)
    p
  }

  /** A corpus vector, optionally nudged off its point. */
  private val vec: Gen[Seq[Float]] = Gen.zip(Gen.choose(0, pool.size - 1),
    Gen.choose(-0.05f, 0.05f)).map { case (i, d) => pool(i).map(_ + d) }
  private def probes(n: Gen[Int]): Gen[List[Row]] = n.flatMap(m =>
    Gen.listOfN(m, vec)).map(_.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, v) })

  private val PadBase = 1L << 40

  /** Driver cell assignment is the shortcut; the distributed one
    * evaluates centroid_top_cells in the plan. */
  private def ivf(qs: Seq[Row], k: Int, shortcut: Boolean): Prop = {
    val fast = VectorIndex.queryIvf(spark, ivfPath, frame(qs, vecSchema),
      k, nProbe = 2)
    val pad = (qs.size to Bm25.MaxBatchQueries)
      .map(i => Row(PadBase + i, pool(i % pool.size)))
    val slow = VectorIndex.queryIvf(spark, ivfPath,
      frame(qs ++ pad, vecSchema), k, nProbe = 2)
    ((plan(fast).contains("centroid_top_cells") != shortcut) :|
        "shortcut side ran the wrong path") &&
      (plan(slow).contains("centroid_top_cells") :|
        "fallback side ran the driver assignment") &&
      same(rowsOf(fast), rowsOf(slow.filter(
        col("query_id").isNull || col("query_id") < PadBase)))
  }

  property("ivf: NULL-bearing rows") = Prop.forAll(
    probes(Gen.choose(1, 10)), k) { (qs, k) =>
    // a NULL id or embedding keeps the shortcut off on both sides
    ivf(qs :+ Row(null, pool(0)) :+ Row(99L, null), k, shortcut = false)
  }

  property("ivf: duplicate keys") = Prop.forAll(
    probes(Gen.choose(1, 10)), vec, k) { (qs, v, k) =>
    // repeated vec_ids, with the same and with another embedding
    ivf(qs ++ qs.take(2) ++ qs.take(2).map(r => Row(r.get(0), v)), k,
      shortcut = true)
  }

  private lazy val ivfEmpty = ivf(Nil, 3, shortcut = true)
  property("ivf: empty input") = ivfEmpty

  property("ivf: single hot key") = Prop.forAll(vec,
    Gen.choose(1, 20), k) { (v, n, k) =>
    ivf((0 until n).map(i => Row(i.toLong, v)), k, shortcut = true)
  }

  property("ivf: exactly at the bound (fallback one past)") =
    Prop.forAll(probes(Gen.const(Bm25.MaxBatchQueries)), k) { (qs, k) =>
      ivf(qs, k, shortcut = true)
    }

  // ---- Sampling.dsirSelect ----

  private val dsirSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("tgt", BooleanType)))
  private val dsirText: Gen[String] = Gen.choose(0, 8).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf("tq", "tw", "te", "nq", "nw", "ne", "zz")))
    .map(_.mkString(" "))
  private def dsirDocs(tgt: Gen[Any]): Gen[List[Row]] =
    Gen.choose(1, 25).flatMap(n => Gen.listOfN(n, Gen.zip(dsirText, tgt)))
      .map(_.zipWithIndex.map { case ((t, g), i) => Row(i.toLong, t, g) })
  private val flag: Gen[Any] = Gen.oneOf(true, false)
  // powers of two and not: only the oracle needs the former
  private val buckets = Gen.oneOf(1, 3, 7, 64, 3000, 4096)

  private def dsir(ds: Seq[Row], b: Int, k: Int,
      shortCap: Int = Sampling.DsirDriverLmMaxBuckets,
      fallCap: Int = 0): Prop = {
    def run(cap: Int) = rowsOf(Sampling.dsirSelect(frame(ds, dsirSchema),
      col("doc_id"), col("text"), col("tgt"), b, k,
      driverLmMaxBuckets = cap))
    same(run(shortCap), run(fallCap))
  }

  property("dsir: NULL-bearing rows") = Prop.forAll(
    dsirDocs(withNulls(flag, 4)), buckets, k) { (ds, b, k) =>
    // "zz yy" lives only under a NULL isTarget; NULL text and doc_id,
    // gramless text
    val n = ds.size.toLong
    dsir(ds ++ Seq(Row(n, "zz yy zz", null), Row(n + 1, null, true),
      Row(null, "tq nq", false), Row(n + 2, "42 !", true)), b, k)
  }

  property("dsir: duplicate keys") = Prop.forAll(dsirDocs(flag),
    buckets, k) { (ds, b, k) =>
    // repeated doc_ids pool their grams; repeated texts under new ids
    val n = ds.size.toLong
    dsir(ds ++ ds.take(3) ++ ds.take(3).map(r =>
      Row(r.getLong(0) + n, r.get(1), r.get(2))), b, k)
  }

  private lazy val dsirEmpty = dsir(Nil, 64, 3)
  property("dsir: empty input") = dsirEmpty

  property("dsir: single hot key") = Prop.forAll(dsirDocs(flag), k) {
    (ds, k) =>
      // one bucket: every gram of every doc hashes to the same key
      dsir(ds, 1, k)
  }

  property("dsir: exactly at the bound (fallback one past)") =
    Prop.forAll(dsirDocs(flag), buckets, k) { (ds, b, k) =>
      dsir(ds, b, k, shortCap = b, fallCap = b - 1)
    }
}
