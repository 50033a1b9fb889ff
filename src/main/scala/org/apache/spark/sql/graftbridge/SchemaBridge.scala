package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.types.{DataType, StructType}

/** Bridge into Spark's private schema helpers: the nullable form of a
  * schema, and equality that ignores nullability (file sources read
  * every column as nullable, so a stored schema is compared that way).
  * Contains no logic of its own. */
object SchemaBridge {
  def asNullable(s: StructType): StructType = s.asNullable
  def sameIgnoringNullability(a: StructType, b: StructType): Boolean =
    DataType.equalsIgnoreNullability(a, b)
}
