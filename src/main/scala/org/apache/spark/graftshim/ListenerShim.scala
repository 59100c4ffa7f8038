package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus drain. Task-end events
  * are delivered asynchronously; a benchmark that diffs listener-side
  * counters around a blocking action must drain the bus first or the
  * tail of one query's tasks is attributed to the next. This shim
  * lives inside the `org.apache.spark` package solely to re-export
  * that one call for [[graft.Metrics.around]]. */
object ListenerShim {
  /** Block until every queued listener event has been delivered
    * (bounded by the bus's internal timeout; a timeout is surfaced,
    * not swallowed — a silently-partial drain would corrupt the
    * per-query attribution it exists to protect). */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Number of listeners currently registered on the shared
    * LiveListenerBus — the accumulation observable for the
    * per-query-session idiom (ScopedSessionSpec): if
    * minting a scoped session registered anything on the SHARED bus,
    * 10k mints would show here (and retain their SessionStates). */
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size()
}
