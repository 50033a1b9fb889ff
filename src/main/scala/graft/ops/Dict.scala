package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ClickHouse external-dictionary analog (`dictGet`): a small
  * dimension table compiled into a literal in-plan map, so enrichment
  * is a scalar lookup with NO join operator at all — no shuffle, no
  * broadcast exchange, no hash relation; the map ships inside the
  * serialized plan exactly like ClickHouse ships dictionaries to every
  * server.
  *
  * The driver-side collect is the feature's contract, not a smell:
  * ClickHouse dictionaries are by definition bounded reference data
  * (countries, currencies, enum-ish code tables). `maxEntries` fails
  * fast if someone points this at a fact table — past that size the
  * right tool is a broadcast join, which Spark picks automatically.
  */
object Dict {

  /** Build a string->string lookup Column from a dimension table.
    * Missing keys yield null (pair with [[getOrDefault]]). */
  def fromTable(dim: DataFrame, keyCol: String, valCol: String,
      maxEntries: Int = 100000): Column = {
    val rows = graft.scale.Staging.boundedCollect(dim
        .select(col(keyCol).cast("string"), col(valCol).cast("string")),
        maxEntries)
      .getOrElse(throw new IllegalArgumentException(
        s"dictionary has more than $maxEntries entries — " +
          "use a broadcast join for tables this large"))
    val pairs = rows.flatMap(r => Seq(lit(r.getString(0)),
      lit(r.getString(1))))
    map(pairs.toIndexedSeq: _*)
  }

  /** dictGet: the dictionary value for `key`, null when absent. */
  def get(dict: Column, key: Column): Column =
    element_at(dict, key.cast("string"))

  /** dictGetOrDefault. */
  def getOrDefault(dict: Column, key: Column, default: Column): Column =
    coalesce(get(dict, key), default)
}
