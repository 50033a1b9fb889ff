package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: exactly (sfDir, outDir). The optional third
    // arg is a local-dev comma-list restricting the dump to named
    // queries (tools/check_oracle.py pre-checks a new query in
    // seconds instead of a full-surface sweep).
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = SparkEntry.localSession()
    new java.io.File(outDir).mkdirs()
    // Unlike Bench, the persisted stores (IVF index / signature band
    // table / int8 codes / LSH candidates) are NOT pre-built here: the
    // four store-backed queries build lazily on first call, which is
    // fine for a correctness dump (results are identical either way;
    // only that first call's latency includes the build).
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracleSqlFor, not oracleSql: the dynamic BPE oracles exist only
    // now that the queries above have trained this sfDir's merge table
    val json = SparkEntry.oracleSqlFor(sfDir, only)
      .filter { case (k, _) => only.forall(_(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
