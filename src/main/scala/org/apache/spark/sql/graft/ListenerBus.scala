package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Spark's listener bus is asynchronous and package-private; a listener
  * attached to measure a run reads its events only after [[drain]].
  */
object ListenerBus {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
