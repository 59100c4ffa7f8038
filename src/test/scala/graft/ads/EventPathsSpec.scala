package graft.ads

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class EventPathsSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: Seq[(Long, Long, String, Long)]) =
    rows.toDF("user_id", "event_id", "event_type", "ms")
      .withColumn("ts", timestamp_millis(col("ms")))

  test("transitions: per-user lag pairs with _start, row-stochastic ppm") {
    val events = ev(Seq(
      (1L, 1L, "view", 1000L),
      (1L, 2L, "click", 2000L),
      (1L, 3L, "purchase", 3000L),
      (2L, 4L, "view", 5000L)))
    val out = EventPaths.transitionsOf(events).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out((EventPaths.Start, "view")) === ((2L, 1000000L)))
    assert(out(("view", "click")) === ((1L, 1000000L)))
    assert(out(("click", "purchase")) === ((1L, 1000000L)))
    assert(out.size === 3)
  }

  test("transitions: same-ms events break ties by event_id") {
    val events = ev(Seq(
      (1L, 2L, "click", 1000L),
      (1L, 1L, "view", 1000L)))
    val out = EventPaths.transitionsOf(events).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(out === Set((EventPaths.Start, "view"), ("view", "click")))
  }

  test("timeToConvert: minute buckets with cumulative ppm") {
    val events = ev(Seq(
      (1L, 1L, "view", 0L), (1L, 2L, "purchase", 90000L),   // bucket 1
      (2L, 3L, "view", 0L), (2L, 4L, "purchase", 30000L),   // bucket 0
      (3L, 5L, "purchase", 10L), (3L, 6L, "view", 20L),     // no convert
      (4L, 7L, "view", 0L)))                                // no purchase
    val out = EventPaths.timeToConvertOf(events).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L) === ((1L, 500000L)))
    assert(out(1L) === ((1L, 1000000L)))
    assert(out.size === 2)
  }

  test("transitions on the events table: shares sum to ~1e6 per row") {
    val out = EventPaths.transitionsOf(Tables.events(spark, Sf))
      .groupBy("prev_type").agg(sum("share_ppm").as("s"), count(lit(1)).as("k"))
      .as[(String, Long, Long)].collect()
    assert(out.nonEmpty)
    // integer DIV truncation loses < k ppm per prev_type row group
    assert(out.forall { case (_, s, k) => s > 1000000L - k && s <= 1000000L })
  }
}
