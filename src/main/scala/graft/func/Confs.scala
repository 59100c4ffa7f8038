package graft.func

import org.apache.spark.sql.SparkSession

/** ONE copy of the SQL-conf save/set/try/restore idiom (r18 review:
  * it had re-grown three hand copies across ScaleRehearsal, the
  * star query, and the lake spec after the r17 consolidation —
  * hoisted to shared main code this time so specs can use it too). */
object Confs {
  /** Run `body` with SQL confs set, restoring priors afterwards.
    * getOption, not get: an optional conf with no default (e.g.
    * spark.sql.adaptive.autoBroadcastJoinThreshold) reads as None
    * and must be UNSET on restore, not set(null). */
  def withSqlConfs[A](spark: SparkSession)(
      kvs: (String, String)*)(body: => A): A = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    // the sets live INSIDE the try: a throwing set (static conf,
    // validated value) must still restore the prefix already applied,
    // or the partial confs leak into the shared session (r18 review)
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Per-QUERY scoped session — the lazy-frame answer to the
    * [[withSqlConfs]] limitation that plan-shaping confs must hold at
    * the caller's ACTION, not at frame construction: a sibling
    * session sharing the parent's SparkContext and SharedState (cache,
    * catalog) whose SessionState is a deep CLONE of the parent's, with
    * `confs` overlaid. Frames built on the returned session stay LAZY
    * and execute under these confs whenever acted on; the parent
    * session is never mutated. Mint one per query — construction is
    * cheap. */
  def scopedSession(spark: SparkSession,
      confs: Seq[(String, String)]): SparkSession =
    org.apache.spark.sql.graftshim.SessionShim
      .scopedSession(spark, confs.toMap)
}
