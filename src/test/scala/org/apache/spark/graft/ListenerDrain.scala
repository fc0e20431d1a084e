package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus: blocks until every posted event,
  * `QueryExecutionListener` callbacks included, has been delivered.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
