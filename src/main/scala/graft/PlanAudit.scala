package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SimpleMode}
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev diagnostic: one pass over the registered queries that prints,
  * per query, the AQE-final plan shape (exchange count, partial-agg
  * presence, join kinds, whole-stage-codegen spans — the `*(n)`
  * markers) and the per-TABLE FileScan counts across EVERY
  * QueryExecution the query fires. A table scanned 3+ times in one
  * query usually means a shared subtree is re-computed per consumer.
  * Staging runs in parquet mode, so every staged computation is a
  * visible FileScan. Complements PlanShapeSpec, which asserts bounds
  * on these numbers.
  *
  * Usage: runMain graft.PlanAudit [filter] [sfDir] [outDir]
  *  - filter: comma list of query-name substrings (default: all);
  *  - sfDir: dataset dir (default `SPARK_GRAFT_SF_DIR`);
  *  - outDir: when given, each query's AQE-final `explain("formatted")`
  *    is written to `<outDir>/<query>.txt`.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val filters = args.lift(0).filter(_.nonEmpty).map(_.split(",").toSeq)
    val sf = args.lift(1).filter(_.nonEmpty)
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("PlanAudit: no dataset dir (arg 2 or SPARK_GRAFT_SF_DIR)"))
    val outDir = args.lift(2)
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val spark = SparkEntry.localSession("ERROR")
    val tables = Seq("region", "nation", "customer", "supplier",
      "part", "orders", "lineitem", "events", "documents",
      "embeddings")
    val scanRe = ("FileScan parquet [^\\n]*/(" +
      tables.mkString("|") + ")\\.parquet").r
    def finalPlan(qe: QueryExecution): String =
      // AQE explain prints Final + Initial plans; audit the final
      qe.explainString(SimpleMode).split("== Initial Plan ==").head
    val hits = new ConcurrentHashMap[String, AtomicInteger]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        scanRe.findAllMatchIn(finalPlan(qe)).foreach { m =>
          hits.computeIfAbsent(m.group(1), _ => new AtomicInteger)
            .incrementAndGet()
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })
    spark.conf.set(graft.scale.Staging.ModeConf, "parquet")
    spark.conf.set(graft.scale.Staging.DirConf,
      Files.createTempDirectory("planaudit").toString)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => filters.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) =>
        hits.clear()
        try {
          val df = fn(spark, sf)
          df.collect() // execute THIS frame so AQE finalizes its plan
          ListenerBridge.drain(spark.sparkContext)
          val plan = finalPlan(df.queryExecution)
          def n(re: String) = re.r.findAllIn(plan).size
          val scans = new java.util.TreeMap[String, Integer]()
          hits.forEach((k, v) => scans.put(k, v.get()))
          val marker =
            if (scans.values().stream().anyMatch(_ > 2)) "  <-- 3+" else ""
          println(s"AUDIT $name exchanges=${n("Exchange (hash|range|Single)")}" +
            s" partialAgg=${plan.contains("partial_")}" +
            s" bhj=${n("BroadcastHashJoin")} smj=${n("SortMergeJoin")}" +
            s" bnlj=${n("BroadcastNestedLoop")}" +
            s" codegenSpans=${"\\*\\(\\d+\\)".r.findAllIn(plan).toSeq.distinct.size}" +
            s" scans=$scans$marker")
          outDir.foreach { d =>
            Files.writeString(Paths.get(d, s"$name.txt"),
              df.queryExecution.explainString(FormattedMode))
          }
        } catch { case e: Throwable =>
          println(s"AUDIT $name ERROR ${e.getClass.getSimpleName}: " +
            s"${String.valueOf(e.getMessage).take(80)}")
        }
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
      }
    spark.stop()
  }
}
