package graft.dwd

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.Exprs

/** Slowly-changing-dimension (type 2) machinery over the behavior
  * stream: the history-keeping counterpart of the reference's
  * keep-latest dim upsert (gmall-time/.../func/DimSink.java upserts
  * overwrite in place; SCD2 is what a warehouse does when it must keep
  * every prior version queryable). `events` stands in for the CDC
  * change feed: each (user_id, event_type, ts) row is a state change
  * of the user dimension.
  *
  * Three operators:
  *  - [[scd2Of]]: the interval table — consecutive runs of the same
  *    state collapse to one row with [valid_from, valid_to) bounds, a
  *    version number, and an is_current flag.
  *  - [[pitOf]]: the point-in-time join — every purchase event looks up
  *    the state version valid at its timestamp (the query SCD2 exists
  *    to serve).
  *  - [[Scd2.snapshotDiffOf]]: the snapshot-vs-snapshot CDC diff that
  *    produces a change feed from two full extracts (how CDC is
  *    bootstrapped when the source has no binlog).
  *
  * All timestamps cross the engine boundary as epoch-ms BIGINT.
  */
object Scd2 {
  /** SCD2 interval build. Gaps-and-islands without a groupBy: a run of
    * equal states is represented by its FIRST row (lag(state) differs),
    * so filtering to change rows and taking lead(ms) among them yields
    * the interval bounds directly — no (user, island) re-aggregation.
    *
    * Scale shape: both window passes (the lag over all events, the
    * lead/row_number over the surviving change rows) partition by
    * `user_id` with the same (ms, event_id) order, so ONE hash
    * exchange + ONE sort serve the whole operator (the filter between
    * them preserves partitioning and order; exchange count is
    * plan-asserted in the spec). Output is bounded by the number of
    * state CHANGES, not events — the frame only ever shrinks. Input: any
    * (user_id, event_type, ts, event_id) frame. */
  def scd2Of(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"), col("event_type").as("state"),
      Exprs.epochMs(col("ts")).as("ms"), col("event_id"))
    // event_id breaks ms ties deterministically (epoch-ms truncation
    // can collide two sub-millisecond-apart events)
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    ev.withColumn("prev_state", lag("state", 1).over(w))
      .filter(col("prev_state").isNull || col("prev_state") =!= col("state"))
      .withColumn("valid_to_ms", lead("ms", 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
      .select(col("user_id"), col("state"),
        col("ms").as("valid_from_ms"), col("valid_to_ms"), col("version"),
        col("valid_to_ms").isNull.as("is_current"))
  }

  lazy val scd2Oracle: String =
    """WITH ev AS (SELECT user_id, event_type AS state, epoch_ms(ts) AS ms,
      |                   event_id FROM events),
      |ch AS (SELECT user_id, state, ms, event_id FROM (
      |  SELECT *, lag(state) OVER
      |           (PARTITION BY user_id ORDER BY ms, event_id) AS prev_state
      |  FROM ev) WHERE prev_state IS NULL OR prev_state <> state)
      |SELECT user_id, state, ms AS valid_from_ms,
      |       lead(ms) OVER w AS valid_to_ms,
      |       CAST(row_number() OVER w AS BIGINT) AS version,
      |       (lead(ms) OVER w IS NULL) AS is_current
      |FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)"""
      .stripMargin

  /** Point-in-time lookup: each purchase event joined to the user's
    * state version valid at purchase time. The state table is built
    * from the NON-purchase events (otherwise every purchase trivially
    * sees its own 'purchase' state) and deduped to one version per
    * (user, ms) — the [[graft.operators.AsOf]] uniqueness contract.
    *
    * Scale shape: delegates to [[graft.operators.AsOf.asOf]] — union +
    * one running-last window, ONE hash shuffle on `user_id`,
    * intermediate size |purchases| + |state versions| (never the
    * |purchases| × |versions| range-join blow-up). Input: any events
    * frame. */
  def pitOf(events: DataFrame): DataFrame = {
    val states = scd2Of(events.filter(col("event_type") =!= "purchase"))
      // one version per (user, valid_from_ms): keep the latest version
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "valid_from_ms")
          .orderBy(col("version").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("valid_from_ms").as("state_since_ms"),
        col("state"), col("version"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        Exprs.epochMs(col("ts")).as("purchase_ms"))
    graft.operators.AsOf.asOf(purchases, states,
      "user_id", "user_id", "purchase_ms", "state_since_ms",
      Seq("state", "version", "state_since_ms"))
  }

  lazy val pitOracle: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id
      |            FROM events),
      |ch AS (SELECT user_id, state, ms, event_id FROM (
      |  SELECT user_id, event_type AS state, ms, event_id,
      |         lag(event_type) OVER
      |           (PARTITION BY user_id ORDER BY ms, event_id) AS prev_state
      |  FROM ev WHERE event_type <> 'purchase')
      |  WHERE prev_state IS NULL OR prev_state <> state),
      |st AS (SELECT user_id, ms AS state_since_ms, state, version FROM (
      |  SELECT *, CAST(row_number() OVER
      |      (PARTITION BY user_id ORDER BY ms, event_id) AS BIGINT) AS version,
      |    row_number() OVER (PARTITION BY user_id, ms
      |                       ORDER BY event_id DESC) AS rn
      |  FROM ch) WHERE rn = 1),
      |pur AS (SELECT event_id, user_id, ms AS purchase_ms FROM ev
      |        WHERE event_type = 'purchase'),
      |hit AS (SELECT event_id, state, version, state_since_ms FROM (
      |  SELECT p.event_id, s.state, s.version, s.state_since_ms,
      |         row_number() OVER (PARTITION BY p.event_id
      |                            ORDER BY s.state_since_ms DESC) AS rn
      |  FROM pur p JOIN st s
      |    ON p.user_id = s.user_id AND s.state_since_ms <= p.purchase_ms)
      |  WHERE rn = 1)
      |SELECT p.event_id, p.user_id, p.purchase_ms,
      |       h.state, h.version, h.state_since_ms
      |FROM pur p LEFT JOIN hit h ON p.event_id = h.event_id""".stripMargin

  /** Snapshot-diff CDC bootstrap: two full extracts of `orders` are
    * compared keyed by `o_orderkey` and classified added / removed /
    * changed (unchanged rows are dropped — the whole point of a diff
    * is that its output is CHANGE-sized, not snapshot-sized). The two
    * snapshots are derived deterministically from the one orders
    * table: the old extract is missing keys ≡ 3 (mod 97) ("inserted
    * since"), the new one is missing keys ≡ 5 (mod 89) ("deleted
    * since"), and keys ≡ 0 (mod 11) gained one dollar ("updated").
    * Money travels as integer cents ([[Exprs.cents]]).
    *
    * Scale shape: ONE full-outer shuffle join co-partitioned on the
    * key — both sides are scans of the same source here, and at 100 TB
    * two real extracts bucketed on the key
    * ([[graft.sinks.Sinks.bucketedJoinQuery]] pattern) join with no
    * exchange at all. The change classification is a projection. Input:
    * any orders frame. */
  def snapshotDiffOf(orders: DataFrame): DataFrame = {
    val base = orders.select(col("o_orderkey"),
      Exprs.cents(col("o_totalprice")).as("cents"))
    val oldSnap = base.filter(col("o_orderkey") % 97 =!= 3)
      .select(col("o_orderkey"), col("cents").as("old_cents"))
    val newSnap = base.filter(col("o_orderkey") % 89 =!= 5)
      .select(col("o_orderkey"),
        (col("cents") + when(col("o_orderkey") % 11 === 0, 100L)
          .otherwise(0L)).as("new_cents"))
    oldSnap.join(newSnap, Seq("o_orderkey"), "full_outer")
      .withColumn("change_type",
        when(col("old_cents").isNull, "added")
          .when(col("new_cents").isNull, "removed")
          .when(col("old_cents") =!= col("new_cents"), "changed"))
      .filter(col("change_type").isNotNull)
      .select("o_orderkey", "change_type", "old_cents", "new_cents")
  }

  lazy val snapshotDiffOracle: String =
    """WITH base AS (SELECT o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |olds AS (SELECT o_orderkey, cents AS old_cents FROM base
      |         WHERE o_orderkey % 97 <> 3),
      |news AS (SELECT o_orderkey, cents +
      |           (CASE WHEN o_orderkey % 11 = 0 THEN 100 ELSE 0 END)
      |           AS new_cents
      |         FROM base WHERE o_orderkey % 89 <> 5)
      |SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
      |       CASE WHEN o.o_orderkey IS NULL THEN 'added'
      |            WHEN n.o_orderkey IS NULL THEN 'removed'
      |            WHEN o.old_cents <> n.new_cents THEN 'changed' END
      |         AS change_type,
      |       o.old_cents, n.new_cents
      |FROM olds o FULL OUTER JOIN news n ON o.o_orderkey = n.o_orderkey
      |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
      |   OR o.old_cents <> n.new_cents""".stripMargin
}
