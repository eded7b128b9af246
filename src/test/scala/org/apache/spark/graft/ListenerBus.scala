package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a spec that counts
  * events drains the bus before it reads its counters.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
