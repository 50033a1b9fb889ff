package graft

import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** The bench times the WHOLE result: the executed plan keeps the final
  * ORDER BY and every output column, and the rows are the query's. */
class BenchMaterializeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("materialize keeps q1_pricing_summary's final Sort and every " +
      "output column") {
    val fn = SparkEntry.queries("q1_pricing_summary")
    val df = fn(spark, sf0001)
    val rows = Bench.materialize(df)
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case s: SortExec => s }.nonEmpty,
      s"no Sort in the executed plan:\n$plan")
    assert(plan.output.map(_.name) == df.columns.toSeq)
    assert(rows.nonEmpty && rows.forall(_.length == df.columns.length))
    assert(rows.toSeq == fn(spark, sf0001).collect().toSeq)
  }
}
