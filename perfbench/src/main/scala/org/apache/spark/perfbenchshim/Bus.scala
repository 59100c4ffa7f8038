package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Re-exports the `private[spark]` listener-bus drain: listener events
  * are delivered asynchronously, so counters are read only after every
  * queued event has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
