package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge into Spark's private[spark] listener bus: waits until every
  * event posted so far has been delivered, so a listener's totals are
  * complete for the work that has returned. Contains no logic of its
  * own. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
