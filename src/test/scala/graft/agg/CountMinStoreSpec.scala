package graft.agg

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Gates for the Count-Min state family ([[CountMinState]] +
  * [[CountMinStore]]): the one-sided guarantee (estimate >= true,
  * always), merge EXACTNESS (linear sketch — merged state is
  * byte-identical to one built over the concatenated stream), rollup
  * to coarser keys from states only, replay idempotence, compaction
  * neutrality, and SQL == Column parity — the same contract grid as
  * SketchStoreSpec (HLL) and QuantileStoreSpec (GK).
  */
class CountMinStoreSpec extends SparkSpec {
  import spark.implicits._

  test("no-collision regime: estimates are exact per key") {
    // width 2048 >> 50 distinct keys x depth 4 -> collisions in every
    // row are vanishingly unlikely AND deterministic (fixed hash);
    // planted frequencies: key k occurs k times
    val rows = (1L to 50L).flatMap(k => Seq.fill(k.toInt)(k))
    val df = spark.sparkContext.parallelize(rows, 8).toDF("k")
    val state = df.agg(CountMinState.stateAgg(col("k"), 4, 2048).as("s"))
    val got = state.select(
      (1L to 50L by 7L).map(k =>
        CountMinState.value(col("s"), lit(k)).as(s"f$k")): _*).head()
    (1L to 50L by 7L).zipWithIndex.foreach { case (k, i) =>
      assert(got.getLong(i) == k, s"key $k: ${got.getLong(i)} != $k")
    }
  }

  test("collision regime: estimate >= true for every key (one-sided)") {
    // width 32 << 500 keys forces collisions; the guarantee that MUST
    // hold per key is est >= true (CMS never undercounts)
    val rows = (1L to 500L).flatMap(k => Seq.fill((k % 7 + 1).toInt)(k))
    val df = spark.sparkContext.parallelize(rows, 8).toDF("k")
    val state = df.agg(CountMinState.stateAgg(col("k"), 4, 32).as("s"))
    val probes = (1L to 500L by 13L)
    val got = state.select(probes.map(k =>
      CountMinState.value(col("s"), lit(k)).as(s"f$k")): _*).head()
    probes.zipWithIndex.foreach { case (k, i) =>
      val truth = k % 7 + 1
      assert(got.getLong(i) >= truth,
        s"key $k undercounted: ${got.getLong(i)} < $truth")
    }
  }

  test("merge is exact: merged bytes == single-pass bytes") {
    // linearity: counters add elementwise, so building per-bucket
    // states and merging them yields the IDENTICAL encoded state as
    // one pass over everything — not just close, equal.
    val df = (1L to 2000L).map(k => (k % 97, k)).toDF("k", "i")
    val merged = df.groupBy((col("i") % 5).as("b"))
      .agg(CountMinState.stateAgg(col("k"), 4, 256).as("s"))
      .agg(CountMinState.mergeAgg(col("s")).as("s"))
      .select(col("s")).head().getAs[Array[Byte]](0)
    val single = df.agg(CountMinState.stateAgg(col("k"), 4, 256).as("s"))
      .select(col("s")).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, single))
  }

  test("nulls are skipped; empty group still yields a queryable state") {
    val df = Seq[(Option[Long], Int)]((Some(1L), 1), (None, 1), (None, 2))
      .toDF("k", "g")
    val got = df.groupBy(col("g"))
      .agg(CountMinState.stateAgg(col("k"), 4, 64).as("s"))
      .select(col("g"), CountMinState.value(col("s"), lit(1L)).as("f"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(got == Map(1 -> 1L, 2 -> 0L))
  }

  test("store: states merge across batches and roll up to coarser keys") {
    // replay, compaction and the rest of the store protocol are
    // PartStoreContractSpec's, for every engine
    val store = new CountMinStore(tmpDir("cmsstore") + "/s",
      Seq("day", "evt"), depth = 4, width = 512)
    val b0 = Seq(("d1", "click", 10L), ("d1", "click", 10L),
      ("d1", "view", 20L), ("d2", "click", 10L))
    val b1 = Seq(("d1", "click", 10L), ("d2", "click", 30L))
    store.append(store.partials(b0.toDF("day", "evt", "uid"), col("uid")),
      0L)
    store.append(store.partials(
      b1.toDF("day", "evt", "uid"), col("uid")), 1L)

    // per-key frequency of uid=10 over the union of batches
    val perKey = store.read(spark)
      .select(col("day"), col("evt"),
        CountMinState.value(col("cms"), lit(10L)).as("f"))
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(perKey == Map(("d1", "click") -> 3L, ("d1", "view") -> 0L,
      ("d2", "click") -> 1L))

    // rollup to per-evt WITHOUT raw data: uid=10 clicked 4x overall
    val perEvt = store.readGrouped(spark, Seq("evt"))
      .select(col("evt"),
        CountMinState.value(col("cms"), lit(10L)).as("f"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(perEvt == Map("click" -> 4L, "view" -> 0L))
  }

  test("empty merge sentinel queries as 0, not Long.MaxValue") {
    // cms_state_merge over an all-NULL state group (the left-join-
    // produced NULL column case) evaluates the depth-0 sentinel; a
    // query against it must say "never seen" = 0 — the unguarded
    // min-loop seed leaked 9223372036854775807
    graft.functions.GraftExtensions.register(spark)
    val got = Seq[Option[Array[Byte]]](None, None).toDF("s")
      .agg(CountMinState.mergeAgg(col("s")).as("s"))
      .select(CountMinState.value(col("s"), lit(7L)))
      .head().getLong(0)
    assert(got == 0L, s"empty-state query returned $got")
    val sqlGot = spark.sql(
      "SELECT cms_state_query(cms_state_merge(CAST(NULL AS BINARY)), 7L)")
      .head().getLong(0)
    assert(sqlGot == 0L, s"SQL empty-state query returned $sqlGot")
  }

  test("integral key widths hash identically: INT build, LONG probe") {
    // XxHash64 hashes INT and LONG differently — the surface widens
    // integral keys to LONG before hashing, so a sketch built over an
    // INT column probed with the natural lit(7L) (or vice versa) sees
    // the same counters instead of near-zero garbage
    val ints = (1 to 100).map(k => k % 10).toDF("k") // k is INT
    val longs = (1 to 100).map(k => (k % 10).toLong).toDF("k")
    def freq(df: org.apache.spark.sql.DataFrame,
        probe: org.apache.spark.sql.Column): Long =
      df.agg(CountMinState.stateAgg(col("k"), 4, 1024).as("s"))
        .select(CountMinState.value(col("s"), probe)).head().getLong(0)
    assert(freq(ints, lit(7L)) == 10L, "INT build / LONG probe")
    assert(freq(ints, lit(7)) == 10L, "INT build / INT probe")
    assert(freq(longs, lit(7)) == 10L, "LONG build / INT probe")
    assert(freq(longs, lit(7L)) == 10L, "LONG build / LONG probe")
  }

  test("SQL surface: cms_state family registered and == Column API") {
    graft.functions.GraftExtensions.register(spark)
    val df = (1L to 1000L).map(k => k % 41).toDF("k")
    df.createOrReplaceTempView("cms_vals")
    val sql = spark.sql(
      """SELECT cms_state_query(cms_state_merge(s), 7L) AS f
        |FROM (SELECT cms_state(k, 4, 256) AS s
        |      FROM cms_vals GROUP BY k % 3)""".stripMargin)
      .head().getLong(0)
    val colApi = df.groupBy((col("k") % 3).as("b"))
      .agg(CountMinState.stateAgg(col("k"), 4, 256).as("s"))
      .agg(CountMinState.mergeAgg(col("s")).as("s"))
      .select(CountMinState.value(col("s"), lit(7L))).head().getLong(0)
    assert(sql == colApi)
    // ground truth: k%41==7 occurs for k in {7,48,...} -> 25 times
    assert(colApi >= 25L)
  }
}
