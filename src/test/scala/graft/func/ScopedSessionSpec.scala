package graft.func

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The per-query scoped session ([[Confs.scopedSession]] /
  * SessionShim): conf pinning that HOLDS at the caller's later action
  * — the capability the star query's lazy form rides — and a parent
  * session whose hooks stay untouched when an operator installs its
  * own into the scoped one. */
class ScopedSessionSpec extends SparkSpec {

  test("scoped confs pin to the scoped session, hold at action time, " +
      "and never touch the parent") {
    val key = "spark.sql.shuffle.partitions"
    val parentParts = spark.conf.get(key)
    assert(parentParts !== "7", "fixture degenerate: parent already at 7")
    val scoped = Confs.scopedSession(spark, Seq(
      key -> "7", "spark.sql.adaptive.enabled" -> "false"))
    // same context/shared state; own conf
    assert(scoped.sparkContext eq spark.sparkContext)
    assert(scoped.conf.get(key) === "7")
    assert(spark.conf.get(key) === parentParts)
    // the conf holds when the CALLER acts on a lazy frame later — the
    // exact property the set/try/restore idiom cannot provide
    val df = scoped.range(100).groupBy(col("id") % 3).count()
    assert(df.queryExecution.toRdd.getNumPartitions === 7)
    // an identical parent-session frame does not see the override
    val pdf = spark.range(100).groupBy(col("id") % 3).count()
    assert(pdf.queryExecution.toRdd.getNumPartitions !== 7)
  }

  test("minted scoped sessions leave nothing on the shared machinery: " +
      "no shared-bus listeners, and dropped sessions are collectable") {
    // a mint that subscribed anything to the shared listener bus would
    // accumulate listeners and keep its cloned SessionState reachable
    // for good; a dropped scoped session must be garbage like any
    // other object. Every 50th mint runs a real action, so the
    // listener count covers sessions that were USED. Those four are
    // left out of the reachability count: Spark's exchange and AQE
    // pool threads, started lazily by an action, inherit the active
    // session through an InheritableThreadLocal and hold it
    import org.apache.spark.graftshim.ListenerShim
    val sc = spark.sparkContext
    ListenerShim.drainListenerBus(sc)
    val l0 = ListenerShim.listenerCount(sc)
    val dropped = (0 until 200).flatMap { i =>
      val s = Confs.scopedSession(spark,
        Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true"))
      if (i % 50 == 0) {
        assert(s.conf.get("spark.sql.autoBroadcastJoinThreshold") === "-1")
        assert(s.range(2).count() === 2L)
        None
      } else Some(new java.lang.ref.WeakReference(s))
    }
    ListenerShim.drainListenerBus(sc)
    val l1 = ListenerShim.listenerCount(sc)
    assert(l1 <= l0 + 2, s"200 mints added shared-bus listeners: $l0 -> $l1")
    def live = dropped.count(_.get != null)
    var tries = 0
    while (live > 0 && tries < 20) {
      System.gc(); Thread.sleep(50); tries += 1
    }
    assert(live === 0, s"$live of ${dropped.size} dropped scoped sessions " +
      "are still reachable — their cloned SessionStates are retained")
  }

  test("the native as-of plans inside a scoped session and leaves the " +
      "parent's hooks exactly as they were") {
    val priorStrategies = spark.experimental.extraStrategies
    val priorRules = spark.experimental.extraOptimizations
    val scoped = Confs.scopedSession(spark, Nil)
    // NativeAsOf.asOf installs strategy+rule into the session it is
    // GIVEN — on a scoped session that is per-query injection
    val native = graft.plans.NativeAsOf.latestOrderQuery(scoped, Sf)
      .select("event_id", "o_orderkey")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val composed = graft.operators.AsOf.latestOrderQuery(spark, Sf)
      .select("event_id", "o_orderkey")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(native === composed)
    assert(native.nonEmpty)
    assert(spark.experimental.extraStrategies === priorStrategies)
    assert(spark.experimental.extraOptimizations === priorRules)
  }
}
