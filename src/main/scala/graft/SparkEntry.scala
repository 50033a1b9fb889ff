package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.agg.DailyRollup
import graft.query.{AnalyticsQueries, CurationQueries, PipelineQueries, ReferenceQueries, ReshapeQueries, SamplingQueries, SqlSurfaceQueries, StarSchemaQueries, TemporalQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001 (driver smoke-checks
    * rows>0): the reference's end-to-end rollup (kafka+clickhouse.md:
    * 453-470) — day/level partial counts re-summed per level.
    */
  def entry(spark: SparkSession): DataFrame =
    DailyRollup.levelTotals(
      DailyRollup.fromEvents(
        Tables.events(spark, "/root/testdata/sf0.001")))

  /** The local session every main runs on: `local[N]` with N from
    * `SPARK_GRAFT_CPUS` (default 4) and as many shuffle partitions, a
    * UTC session time zone, no UI. */
  def localSession(logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ReferenceQueries.queries ++ StarSchemaQueries.queries ++
      PipelineQueries.queries ++ SqlSurfaceQueries.queries ++
      TemporalQueries.queries ++ ReshapeQueries.queries ++
      SamplingQueries.queries ++ CurationQueries.queries ++
      AnalyticsQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ReferenceQueries.oracles ++ StarSchemaQueries.oracles ++
      PipelineQueries.oracles ++ SqlSurfaceQueries.oracles ++
      TemporalQueries.oracles ++ ReshapeQueries.oracles ++
      SamplingQueries.oracles ++ CurationQueries.oracles ++
      AnalyticsQueries.oracles

  /** The full oracle surface for one sf dir: the static map plus the
    * session-dynamic BPE oracles, which exist only after the queries
    * have trained a merge table for `sfDir` (Verify dumps this AFTER
    * running every query, so the BPE rows are hash-gated in the
    * driver's DuckDB compare — round-11 verdict #2). Callers that
    * never ran the queries get the static map back unchanged. */
  def oracleSqlFor(sfDir: String): Map[String, String] =
    oracleSqlFor(sfDir, None)

  /** As [[oracleSqlFor]], with `only` short-circuiting the dynamic
    * providers whose keys are excluded — they run Spark probe jobs,
    * which would defeat Verify's single-query fast path. */
  def oracleSqlFor(sfDir: String,
      only: Option[Set[String]]): Map[String, String] =
    oracleSql ++ PipelineQueries.dynamicOracles(sfDir, only) ++
      SamplingQueries.dynamicOracles(sfDir, only)
}
