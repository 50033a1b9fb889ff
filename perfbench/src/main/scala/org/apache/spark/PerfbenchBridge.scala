package org.apache.spark

/** The one Spark-internal call the tracer needs: waiting until the
  * listener bus has delivered every event posted so far. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
