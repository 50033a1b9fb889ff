package graft.ops

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Pins the dictGet analog: parity with a join, join-free plan,
  * missing-key semantics, and the size guard. */
class DictSpec extends SparkSpec {
  import spark.implicits._

  test("dictGet enrichment == left join; plan has no join or exchange") {
    val nations = Dict.fromTable(Tables.nation(spark, sf0001),
      "n_nationkey", "n_name")
    val got = Tables.supplier(spark, sf0001)
      .select(col("s_suppkey"),
        Dict.get(nations, col("s_nationkey")).as("nation"))
    val want = Tables.supplier(spark, sf0001)
      .join(Tables.nation(spark, sf0001),
        col("s_nationkey") === col("n_nationkey"), "left")
      .select(col("s_suppkey"), col("n_name").as("nation"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"dict lookup must be a pure projection, got:\n$plan")
  }

  test("missing keys: get -> null, getOrDefault -> default") {
    val dict = Dict.fromTable(
      Seq((1L, "one"), (2L, "two")).toDF("k", "v"), "k", "v")
    val out = Seq(1L, 99L).toDF("k")
      .select(col("k"), Dict.get(dict, col("k")).as("g"),
        Dict.getOrDefault(dict, col("k"), lit("?")).as("gd"))
      .orderBy(col("k"))
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(out.toSeq === Seq(("one", "one"), (null, "?")))
  }

  test("oversized dictionaries are refused") {
    val big = spark.range(0, 50).selectExpr("id AS k", "id AS v")
    intercept[IllegalArgumentException] {
      Dict.fromTable(big, "k", "v", maxEntries = 10)
    }
  }

  test("the size guard reads at most maxEntries + 1 rows") {
    def table(n: Int) = spark.range(0, n).selectExpr("id AS k", "id AS v")
    // exactly at the bound still builds; one past it is refused
    assert(Seq(9L).toDF("k").select(Dict.get(
      Dict.fromTable(table(10), "k", "v", maxEntries = 10), col("k")))
      .head().getString(0) == "9")
    val err = intercept[IllegalArgumentException] {
      Dict.fromTable(table(11), "k", "v", maxEntries = 10)
    }
    assert(err.getMessage.contains(
      "use a broadcast join for tables this large"), err.getMessage)
    // a large table's refused collect is limited, not a full-table read
    val plans = plansDuring {
      intercept[IllegalArgumentException] {
        Dict.fromTable(table(5000), "k", "v", maxEntries = 10)
      }
    }
    assert(plans.exists(_.contains("CollectLimit 11")),
      plans.mkString("\n---\n"))
  }
}
