package graft

/** Dev smoke: what the driver's t1 gate does — run SparkEntry.entry on
  * sf0.001 and require rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession()
    val df = SparkEntry.entry(spark)
    df.show(20, truncate = false)
    println(s"entry rows=${df.count()}")
    spark.stop()
  }
}
