package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Bridge into the `private[spark]` listener bus: listener events reach
  * listeners asynchronously, so a count of the jobs a block submitted is
  * complete only once the bus has drained. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
