package graft.dwd

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, String, Long, Long)*) =
    rows.toDF("user_id", "event_type", "ms", "event_id")
      .select(col("user_id"), col("event_type"),
        timestamp_millis(col("ms")).as("ts"), col("event_id"))

  test("scd2: consecutive same-state runs collapse to one version") {
    val out = Scd2.scd2Of(ev(
      (1L, "view", 0L, 0L), (1L, "view", 10L, 1L), (1L, "click", 20L, 2L),
      (1L, "view", 30L, 3L), (1L, "view", 40L, 4L),
      (2L, "error", 5L, 5L)))
      .select("user_id", "state", "valid_from_ms", "valid_to_ms",
        "version", "is_current")
      .as[(Long, String, Long, Option[Long], Long, Boolean)]
      .collect().sortBy(r => (r._1, r._5))
    assert(out.toSeq === Seq(
      (1L, "view", 0L, Some(20L), 1L, false),
      (1L, "click", 20L, Some(30L), 2L, false),
      (1L, "view", 30L, None, 3L, true),
      (2L, "error", 5L, None, 1L, true)))
  }

  test("scd2 at Sf: intervals tile exactly, one current row per user") {
    val out = Scd2.scd2Of(Tables.events(spark, Sf)).cache()
    val users = graft.Tables.events(spark, Sf)
      .select("user_id").distinct().count()
    assert(out.filter(col("is_current")).count() === users,
      "exactly one open interval per user")
    // each interval's valid_to must be the NEXT interval's valid_from
    val overlaps = out.as("a").join(out.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.version") + 1 === col("b.version"))
      .filter(col("a.valid_to_ms") =!= col("b.valid_from_ms")).count()
    assert(overlaps === 0, "intervals tile with no gap or overlap")
    // versions are dense 1..n per user
    val dense = out.groupBy("user_id")
      .agg(max("version").as("mx"), count(lit(1)).as("ct"))
      .filter(col("mx") =!= col("ct")).count()
    assert(dense === 0)
    // the cached relation would otherwise satisfy the plan-shape test
    // below from memory (its stored plan string double-counts exchanges)
    out.unpersist()
  }

  test("scd2: one hash exchange serves both window passes") {
    val plan = Scd2.scd2Of(Tables.events(spark, Sf)).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, plan.take(2000))
  }

  test("pit: purchase sees the version valid at its timestamp") {
    val out = Scd2.pitOf(ev(
      (1L, "purchase", 5L, 90L),   // before any state → null payload
      (1L, "view", 10L, 0L), (1L, "click", 20L, 1L),
      (1L, "purchase", 15L, 91L),  // inside view [10,20) → view v1
      (1L, "purchase", 20L, 92L),  // at the click boundary → click v2
      (1L, "purchase", 99L, 93L))) // after the last change → click v2
      .select("event_id", "state", "version")
      .as[(Long, Option[String], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(90L) === ((None, None)))
    assert(out(91L) === ((Some("view"), Some(1L))))
    assert(out(92L) === ((Some("click"), Some(2L))))
    assert(out(93L) === ((Some("click"), Some(2L))))
  }

  test("pit at Sf: every purchase appears exactly once") {
    val purchases = graft.Tables.events(spark, Sf)
      .filter(col("event_type") === "purchase").count()
    val out = Scd2.pitOf(Tables.events(spark, Sf)).cache()
    assert(out.count() === purchases)
    assert(out.select("event_id").distinct().count() === purchases)
    // a matched state is never 'purchase' (states built without them)
    assert(out.filter(col("state") === "purchase").count() === 0)
  }

  test("snapshotDiff: classifies added/removed/changed, drops unchanged") {
    val orders = Seq(
      (3L, 10.0),    // ≡3 mod 97 → missing from old → added
      (5L, 20.0),    // ≡5 mod 89 → missing from new → removed
      (11L, 30.0),   // ≡0 mod 11 → +100 cents → changed
      (1L, 40.0))    // present in both, same price → dropped
      .toDF("o_orderkey", "o_totalprice")
    val out = Scd2.snapshotDiffOf(orders)
      .select("o_orderkey", "change_type", "old_cents", "new_cents")
      .as[(Long, String, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out.size === 3, "unchanged row must not appear")
    assert(out(3L) === (("added", None, Some(1000L))))
    assert(out(5L) === (("removed", Some(2000L), None)))
    assert(out(11L) === (("changed", Some(3000L), Some(3100L))))
  }

  test("snapshotDiff at Sf: change counts match the derivation mods") {
    val keys = graft.Tables.orders(spark, Sf).select("o_orderkey")
    val added = keys.filter(col("o_orderkey") % 97 === 3 &&
      col("o_orderkey") % 89 =!= 5).count()
    val removed = keys.filter(col("o_orderkey") % 89 === 5 &&
      col("o_orderkey") % 97 =!= 3).count()
    val changed = keys.filter(col("o_orderkey") % 11 === 0 &&
      col("o_orderkey") % 97 =!= 3 && col("o_orderkey") % 89 =!= 5).count()
    val got = Scd2.snapshotDiffOf(Tables.orders(spark, Sf))
      .groupBy("change_type").agg(count(lit(1)).as("ct"))
      .as[(String, Long)].collect().toMap
    assert(got.getOrElse("added", 0L) === added)
    assert(got.getOrElse("removed", 0L) === removed)
    assert(got.getOrElse("changed", 0L) === changed)
  }
}
