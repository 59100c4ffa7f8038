package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic

/** Bridge to the classic `SparkSession`'s `private[sql]`
  * `cloneSession()`: a SIBLING session sharing the parent's
  * SparkContext and SharedState (cache manager, catalog, warehouse)
  * but carrying its OWN SessionState — conf, experimental
  * rule/strategy hooks, and function registry are all deep-cloned, so
  * per-query SQL confs and injected rules live and die with the
  * scoped session instead of mutating the shared one.
  *
  * Why it exists (r18-VERDICT task 1): a query whose PLAN SHAPING
  * depends on session confs (runtime-bloom thresholds, broadcast
  * fencing) cannot return a lazy frame from a set-confs/try/restore
  * block — optimization happens at the caller's action, AFTER the
  * scope closed — and the r18 workaround (execute eagerly inside the
  * scope, hand back a localized aggregate) only works for tiny
  * results. Spark's public surface has `newSession()` (FRESH state:
  * the parent's runtime confs are lost) and keeps `cloneSession()`
  * private; this shim re-exports that one call
  * ([[graft.func.Confs.scopedSession]] is the public face). */
object SessionShim {
  /** A sibling session of `parent` behaving identically (cloned
    * SessionState) except for `confs` overlaid — scoped: the parent
    * session is never touched. Cheap enough to mint per query; frames
    * built on it execute under its confs whenever the caller acts on
    * them. */
  def scopedSession(parent: SparkSession,
      confs: Map[String, String]): SparkSession = {
    val s = parent.asInstanceOf[classic.SparkSession].cloneSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
}
