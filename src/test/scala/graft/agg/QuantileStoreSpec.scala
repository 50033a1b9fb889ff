package graft.agg

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Gates for the quantile-state family ([[QuantileState]] +
  * [[QuantileStore]]): GK rank-error accuracy against an exact sort,
  * merge-of-states == state-of-union, rollup to coarser keys from
  * states only, replay idempotence, and compaction neutrality — the
  * same contract grid SketchStoreSpec pins for HLL states.
  */
class QuantileStoreSpec extends SparkSpec {
  import spark.implicits._

  private val Eps = 0.01

  /** Rank of `v` in sorted `xs` vs the target rank p*n, as a bound
    * check: GK guarantees |rank(est) - p*n| <= eps*n. */
  private def rankErrorOk(xs: Seq[Double], v: Double, p: Double): Boolean = {
    val sorted = xs.sorted
    val lo = sorted.count(_ < v)
    val hi = sorted.count(_ <= v)
    val target = p * xs.size
    val slack = Eps * xs.size + 1
    target >= lo - slack && target <= hi + slack
  }

  test("state accuracy: every queried quantile is within GK rank error") {
    val xs = (1 to 10000).map(i => ((i * 2654435761L) % 9973).toDouble)
    val df = spark.sparkContext.parallelize(xs, 8).toDF("x")
    val state = df.agg(
      QuantileState.stateAgg(col("x"), Eps).as("s"))
    val got = state.select(
      QuantileState.value(col("s"), 0.5).as("p50"),
      QuantileState.value(col("s"), 0.9).as("p90"),
      QuantileState.value(col("s"), 0.99).as("p99")).head()
    Seq(0.5 -> got.getDouble(0), 0.9 -> got.getDouble(1),
      0.99 -> got.getDouble(2)).foreach { case (p, v) =>
      assert(rankErrorOk(xs, v, p), s"p=$p est=$v outside rank error")
    }
  }

  test("merge of per-partition states equals one global state's bounds") {
    val xs = (1 to 5000).map(i => (i % 617).toDouble)
    val df = spark.sparkContext.parallelize(xs.zipWithIndex, 8)
      .toDF("x", "i")
    // build states per bucket, then merge the states — the answer must
    // satisfy the same rank bound as a directly-built summary
    val merged = df.groupBy((col("i") % 4).as("b"))
      .agg(QuantileState.stateAgg(col("x"), Eps).as("s"))
      .agg(QuantileState.mergeAgg(col("s")).as("s"))
      .select(QuantileState.value(col("s"), 0.5).as("p50")).head()
    assert(rankErrorOk(xs, merged.getDouble(0), 0.5))
  }

  test("empty and null inputs: state exists, quantile is null") {
    val df = Seq[(Option[Double], Int)]((None, 1), (None, 2))
      .toDF("x", "i")
    val got = df.agg(QuantileState.stateAgg(col("x"), Eps).as("s"))
      .select(QuantileState.value(col("s"), 0.5).as("p50")).head()
    assert(got.isNullAt(0))
  }

  test("store: states merge across batches and roll up to coarser keys") {
    // replay, compaction and the rest of the store protocol are
    // PartStoreContractSpec's, for every engine
    val store = new QuantileStore(tmpDir("qstore") + "/s",
      Seq("day", "level"), Eps)
    val b0 = Seq(("d1", "info", 1.0), ("d1", "info", 2.0),
      ("d1", "error", 10.0), ("d2", "info", 3.0))
    val b1 = Seq(("d1", "info", 4.0), ("d2", "info", 5.0),
      ("d2", "info", 6.0))
    store.append(store.partials(b0.toDF("day", "level", "x"), col("x")),
      0L)
    store.append(store.partials(
      b1.toDF("day", "level", "x"), col("x")), 1L)

    // per-key medians over the union of batches (exact at this size:
    // the summary retains everything below the compress threshold)
    val perKey = store.read(spark, Seq(0.5)).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    assert(perKey == Map(("d1", "info") -> 2.0, ("d1", "error") -> 10.0,
      ("d2", "info") -> 5.0))

    // rollup to per-level WITHOUT raw data: states union across days.
    // info values across all batches: 1,2,3,4,5,6 -> GK median in
    // {3.0, 4.0} (rank-error-lawful at eps*n < 1 it must be exact
    // median rank: query(0.5) targets rank 3)
    val perLevel = store.readGrouped(spark, Seq("level"), Seq(0.5))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(perLevel("error") == 10.0)
    assert(Set(3.0, 4.0).contains(perLevel("info")), perLevel)
  }

  test("SQL surface: quantile_state family registered and consistent") {
    graft.functions.GraftExtensions.register(spark)
    val df = (1 to 1000).map(_.toDouble).toDF("x")
    df.createOrReplaceTempView("qs_vals")
    val sql = spark.sql(
      """SELECT quantile_state_value(
        |  quantile_state_merge(s), 0.5D) AS p50
        |FROM (SELECT quantile_state(x, 0.01D) AS s
        |      FROM qs_vals GROUP BY CAST(x AS INT) % 4)""".stripMargin)
      .head().getDouble(0)
    val colApi = df.groupBy((col("x").cast("int") % 4).as("b"))
      .agg(QuantileState.stateAgg(col("x"), 0.01).as("s"))
      .agg(QuantileState.mergeAgg(col("s")).as("s"))
      .select(QuantileState.value(col("s"), 0.5)).head().getDouble(0)
    assert(sql == colApi)
    assert(rankErrorOk((1 to 1000).map(_.toDouble), sql, 0.5))
  }
}
