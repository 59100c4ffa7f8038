package graft.ads

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class EventFlowsSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, String, Long)*) =
    rows.map { case (u, t, ms) => (u, t, new Timestamp(ms)) }
      .toDF("user_id", "event_type", "ts")

  test("funnel: stages must be reached strictly in order, first-touch") {
    val out = EventFlows.funnelOf(ev(
      // full path; the click BEFORE the first view must not count
      (1L, "click", 50L), (1L, "view", 100L), (1L, "click", 200L),
      (1L, "click", 300L), (1L, "purchase", 400L),
      // purchase before click-after-view: depth stops at 2
      (2L, "view", 100L), (2L, "purchase", 150L), (2L, "click", 200L),
      // never viewed: clicks and purchases are orphans, depth 0
      (3L, "click", 100L), (3L, "purchase", 200L),
      // view only
      (4L, "view", 900L)))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) === 100L)
    assert(out(1L).getLong(2) === 200L, "first click AFTER the view")
    assert(out(1L).getLong(3) === 400L)
    assert(out(1L).getInt(4) === 3)
    assert(out(2L).getLong(2) === 200L)
    assert(out(2L).isNullAt(3), "purchase before click doesn't convert")
    assert(out(2L).getInt(4) === 2)
    assert(out(3L).isNullAt(1) && out(3L).getInt(4) === 0)
    assert(out(4L).getInt(4) === 1)
  }

  test("funnel at Sf: depth is monotone-consistent with stage nulls") {
    val rows = EventFlows.funnelOf(Tables.events(spark, Sf)).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val reached = Seq(1, 2, 3).map(i => !r.isNullAt(i))
      // once a stage is missed, all later stages are missed
      assert(reached === reached.sorted.reverse, s"user ${r.getLong(0)}")
      assert(r.getInt(4) === reached.count(identity))
    }
    assert(rows.exists(_.getInt(4) === 3), "some user converts fully")
  }

  test("retention: cohort day-0 is the cohort size, offsets count distinct days") {
    val day = 86400000L
    val out = EventFlows.retentionOf(ev(
      // user 1: first day 0, active days 0, 1, 3 (two events on day 1)
      (1L, "view", 10L), (1L, "view", day + 1L), (1L, "click", day + 2L),
      (1L, "view", 3 * day + 5L),
      // user 2: also cohort 0, only day 0
      (2L, "view", 20L),
      // user 3: cohort day 1, active days 1 and 3 (offset 2)
      (3L, "view", day + 50L), (3L, "view", 3 * day + 60L)))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out((0L, 0L)) === ((2L, 1000000L)))
    assert(out((0L, 1L)) === ((1L, 500000L)), "double events on one day count once")
    assert(out((0L, 3L)) === ((1L, 500000L)))
    assert(out((1L, 0L)) === ((1L, 1000000L)))
    assert(out((1L, 2L)) === ((1L, 1000000L)))
    assert(out.size === 5)
  }

  test("sessionize: gap splits sessions, bounds and counts are per-session") {
    val g = EventFlows.SessionGapMs
    val rows = Seq(
      // user 1: two events 1 ms within gap, then a gap, then a single
      (1L, "view", 1000L, 10L), (1L, "click", 1000L + g, 11L),
      (1L, "view", 2 * g + 5000L, 12L),
      // user 2: one event
      (2L, "view", 500L, 20L))
      .map { case (u, t, ms, id) => (u, t, new Timestamp(ms), id) }
      .toDF("user_id", "event_type", "ts", "event_id")
    val out = EventFlows.sessionizeOf(rows).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // gap boundary is STRICT >: an exactly-gap-later event stays in session
    assert(out((1L, 1L)) === ((2L, 1000L, 1000L + g, g)))
    assert(out((1L, 2L)) === ((1L, 2 * g + 5000L, 2 * g + 5000L, 0L)))
    assert(out((2L, 1L)) === ((1L, 500L, 500L, 0L)))
    assert(out.size === 3)
  }

  test("sessionize: one exchange — the session groupBy reuses the window partitioning") {
    val plan = EventFlows.sessionizeOf(Tables.events(spark, Sf))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1,
      s"expected the (user_id, session_idx) aggregate to reuse the user_id exchange:\n$plan")
  }

  test("activeUsers: windows are trailing-inclusive, repeat days count once") {
    val day = 86400000L
    val out = EventFlows.activeUsersOf(ev(
      // user 1 active days 0 and 8; user 2 active day 8 twice
      (1L, "view", 10L), (1L, "view", 8 * day + 1L),
      (2L, "view", 8 * day + 5L), (2L, "click", 8 * day + 9L)))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // day 0: only user 1
    assert(out(0L) === ((1L, 1L, 1L)))
    // day 8: both users today; user 1's day-0 activity is outside the
    // 7-day window (8 > 8-7 fails... day 0 > 1 false) but inside 30
    assert(out(8L) === ((2L, 2L, 2L)))
    assert(out.size === 2)
  }

  test("activeUsers at Sf: dau <= wau <= mau, and mau spans the month") {
    val rows = EventFlows.activeUsersOf(Tables.events(spark, Sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (d, dau, wau, mau) =>
      assert(dau >= 1 && dau <= wau && wau <= mau, s"day $d: $dau/$wau/$mau")
    }
    // late days accumulate more trailing history than their first day
    val last = rows.maxBy(_._1)
    assert(last._4 >= last._2)
  }

  test("activeUsers plan: the trailing-window expansion is a broadcast join") {
    val plan = EventFlows.activeUsersOf(Tables.events(spark, Sf))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the O(history) day list must broadcast for the range predicate:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no unbounded cartesian:\n$plan")
    assert(!plan.contains("Expand"),
      s"(day, user)-first grouping must avoid the countDistinct expand:\n$plan")
  }

  test("retention at Sf: day-0 rows are 1e6 ppm and dominate every offset") {
    val rows = EventFlows.retentionOf(Tables.events(spark, Sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_._1._1)
    byCohort.foreach { case (cohort, rs) =>
      val m = rs.map { case ((_, off), v) => off -> v }.toMap
      assert(m.contains(0L), s"cohort $cohort has a day-0 row")
      assert(m(0L)._2 === 1000000L)
      val size = m(0L)._1
      m.foreach { case (off, (users, ppm)) =>
        assert(users <= size, s"cohort $cohort offset $off")
        assert(ppm === 1000000L * users / size)
      }
    }
  }

  test("hourlyAnomaly: integer 2-sigma test matches float recompute") {
    val out = EventFlows.hourlyAnomalyOf(Tables.events(spark, Sf)).collect()
    assert(out.nonEmpty)
    val byType = out.groupBy(_.getString(0))
    byType.foreach { case (_, rows) =>
      val cs = rows.map(_.getLong(2)).map(_.toDouble)
      val n = cs.length.toDouble
      val mu = cs.sum / n
      val sigma = math.sqrt(cs.map(c => (c - mu) * (c - mu)).sum / n)
      rows.foreach { r =>
        val expect = if (math.abs(r.getLong(2) - mu) > 2 * sigma) 1L else 0L
        assert(r.getLong(4) === expect,
          s"${r.getString(0)}@${r.getLong(1)}: c=${r.getLong(2)} mu=$mu sigma=$sigma")
      }
    }
  }

  test("attribution: last preceding non-purchase touch, direct fallback") {
    val out = EventFlows.attributionOf(Seq(
      // u1: view -> purchase(10) -> click -> purchase(20)
      (1L, "view", 100L, 1L, 10.0), (1L, "purchase", 200L, 2L, 10.0),
      (1L, "click", 300L, 3L, 0.0), (1L, "purchase", 400L, 4L, 20.0),
      // u2: history OPENS with a purchase -> direct; a purchase does
      // not attribute the next purchase
      (2L, "purchase", 100L, 5L, 5.0), (2L, "purchase", 200L, 6L, 7.0),
      // u3: no purchase at all - contributes nothing
      (3L, "view", 100L, 7L, 1.0))
      .map { case (u, t, ms, id, v) =>
        (u, t, new Timestamp(ms), id, v)
      }.toDF("user_id", "event_type", "ts", "event_id", "value"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("view").getLong(1) === 1L &&
      out("view").getLong(2) === 1000L)
    assert(out("click").getLong(1) === 1L &&
      out("click").getLong(2) === 2000L)
    assert(out("direct").getLong(1) === 2L &&
      out("direct").getLong(2) === 1200L,
      "both of u2's purchases are direct (purchases never attribute)")
    assert(out.size === 3)
  }

  test("attribution plan: one user-keyed window, no self-join") {
    val df = EventFlows.attributionOf(Tables.events(spark, Sf))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(user_id"),
      s"carry-forward must be a user-keyed window:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"attribution must not self-join the log:\n$plan")
    assert(df.collect().map(_.getLong(1)).sum > 0)
  }
}
