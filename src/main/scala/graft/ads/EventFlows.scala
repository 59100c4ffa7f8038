package graft.ads

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Event-sequence analytics over the behavior log (`events` stands in
  * for the reference's `ods_base_log` stream): ordered conversion
  * funnel and cohort retention — the two dashboard families the
  * reference's Sugar API implies but never ships (it stops at
  * per-window visitor counts, gmall-publisher2 SugarController.java);
  * both are standard ADS-layer extensions of the same data.
  *
  * Everything is integer arithmetic on epoch milliseconds / epoch
  * days — bit-portable to the DuckDB oracle at any parallelism.
  */
object EventFlows {
  /** Ordered funnel stages, first-touch semantics: the first `view`,
    * the first `click` strictly after it, the first `purchase`
    * strictly after that. */
  val FunnelStages: Seq[String] = Seq("view", "click", "purchase")

  /** Conversion funnel, one row per user: first-view / first-click-
    * after-view / first-purchase-after-click epoch-ms (null where the
    * user never reached the stage) and the reached depth 0..3.
    *
    * Scale shape: every aggregate and join is keyed on `user_id`, so
    * one hash partitioning serves the whole chain (AQE reuses the
    * exchange); each stage's input shrinks to users that survived the
    * previous stage — the per-stage frames are filtered scans, never
    * the full log re-shuffled on a new key. No windows, no
    * collect-per-user lists: state per user is three longs. Input: any
    * (user_id, event_type, ts) frame. */
  def funnelOf(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"), col("event_type"),
      unix_millis(col("ts")).as("ms"))
    val v = ev.filter(col("event_type") === FunnelStages(0))
      .groupBy("user_id").agg(min("ms").as("view_ms"))
    val c = ev.filter(col("event_type") === FunnelStages(1))
      .join(v, "user_id").filter(col("ms") > col("view_ms"))
      .groupBy("user_id").agg(min("ms").as("click_ms"))
    val p = ev.filter(col("event_type") === FunnelStages(2))
      .join(c, "user_id").filter(col("ms") > col("click_ms"))
      .groupBy("user_id").agg(min("ms").as("purchase_ms"))
    ev.select("user_id").distinct()
      .join(v, Seq("user_id"), "left")
      .join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("view_ms"), col("click_ms"),
        col("purchase_ms"),
        (col("view_ms").isNotNull.cast("int") +
          col("click_ms").isNotNull.cast("int") +
          col("purchase_ms").isNotNull.cast("int")).as("depth"))
  }

  lazy val funnelOracle: String = {
    val Seq(s0, s1, s2) = FunnelStages
    s"""WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
       |v AS (SELECT user_id, min(ms) AS view_ms FROM ev
       |      WHERE event_type = '$s0' GROUP BY 1),
       |c AS (SELECT ev.user_id, min(ms) AS click_ms FROM ev JOIN v USING (user_id)
       |      WHERE event_type = '$s1' AND ms > view_ms GROUP BY 1),
       |p AS (SELECT ev.user_id, min(ms) AS purchase_ms FROM ev JOIN c USING (user_id)
       |      WHERE event_type = '$s2' AND ms > click_ms GROUP BY 1)
       |SELECT u.user_id, view_ms, click_ms, purchase_ms,
       |       CAST(CASE WHEN view_ms IS NOT NULL THEN 1 ELSE 0 END
       |          + CASE WHEN click_ms IS NOT NULL THEN 1 ELSE 0 END
       |          + CASE WHEN purchase_ms IS NOT NULL THEN 1 ELSE 0 END
       |          AS INTEGER) AS depth
       |FROM (SELECT DISTINCT user_id FROM ev) u
       |LEFT JOIN v USING (user_id)
       |LEFT JOIN c USING (user_id)
       |LEFT JOIN p USING (user_id)""".stripMargin
  }

  /** Cohort retention: users bucketed by first-active epoch-day, then
    * for every (cohort_day, day_offset) the distinct active users and
    * the retention rate vs the cohort's day-0 size (ppm, integer DIV).
    * Day arithmetic is pure epoch-ms integer division — no calendar
    * functions to disagree across engines.
    *
    * Scale shape: the distinct-activity projection collapses the log
    * to ≤ users×days rows FIRST (map-side combine on the distinct),
    * and everything after runs on that collapsed frame: first-day agg
    * and activity join share the `user_id` partitioning, the final
    * count groups by (cohort, offset) — tiny. The day-0 denominator
    * comes from a window over the already-aggregated counts (cohort
    * cardinality, not event cardinality). Input: any (user_id, ts)
    * frame. */
  def retentionOf(events: DataFrame): DataFrame = {
    val act = events
      .select(col("user_id"), expr("unix_millis(ts) DIV 86400000").as("day"))
      .distinct()
    val first = act.groupBy("user_id").agg(min("day").as("cohort_day"))
    val counts = act.join(first, "user_id")
      .select(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .groupBy("cohort_day", "day_offset").agg(count(lit(1)).as("users"))
    // offset 0 always exists (the first active day is in `act`), so the
    // max-over-cohort window always finds the denominator
    val wc = Window.partitionBy("cohort_day")
    counts
      .withColumn("cohort_size",
        max(when(col("day_offset") === 0, col("users"))).over(wc))
      .withColumn("retained_ppm", expr("(1000000 * users) DIV cohort_size"))
      .select("cohort_day", "day_offset", "users", "retained_ppm")
  }

  /** Session gap: 30 minutes of inactivity closes a session — the same
    * default as [[graft.streaming.StreamJobs.sessionBounces]]'s
    * `session_window` gap, so the batch and streaming session notions
    * agree. */
  val SessionGapMs = 1800000L

  /** Gap-based sessionization: per (user, session) ordinal, event
    * count, bounds, and duration. The classic lag → boundary-flag →
    * running-sum formulation: a session starts where the gap from the
    * previous event exceeds [[SessionGapMs]].
    *
    * Scale shape: ONE shuffle. Both window frames run on the
    * `user_id` hash partitioning, and the final groupBy keys
    * (user_id, session_idx) — a superset of the partition key — so
    * EnsureRequirements reuses the exchange instead of re-shuffling
    * (hash(user_id) already co-locates every (user_id, session_idx)
    * group). State per task is one sort run, spillable. Input: any
    * (user_id, event_id, ts) frame. */
  def sessionizeOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    events
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"))
      .withColumn("prev_ms", lag("ms", 1).over(w))
      .withColumn("new_s",
        when(col("prev_ms").isNull ||
          col("ms") - col("prev_ms") > SessionGapMs, 1L).otherwise(0L))
      .withColumn("session_idx",
        sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min("ms").as("start_ms"), max("ms").as("end_ms"))
      .withColumn("duration_ms", col("end_ms") - col("start_ms"))
  }

  lazy val sessionizeOracle: String =
    s"""WITH ev AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
       |f AS (SELECT user_id, event_id, ms,
       |        CASE WHEN lag(ms) OVER w IS NULL
       |               OR ms - lag(ms) OVER w > $SessionGapMs
       |             THEN 1 ELSE 0 END AS new_s
       |      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
       |s AS (SELECT user_id, ms,
       |        CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
       |                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
       |      FROM f)
       |SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS n_events,
       |       min(ms) AS start_ms, max(ms) AS end_ms,
       |       max(ms) - min(ms) AS duration_ms
       |FROM s GROUP BY 1, 2""".stripMargin

  /** Trailing-window widths (days) for the active-user curve. */
  val WauDays = 7L
  val MauDays = 30L

  /** Rolling active users: for every active epoch-day, the distinct
    * users active that day (DAU), in the trailing [[WauDays]] window
    * (WAU), and in the trailing [[MauDays]] window (MAU) — the
    * engagement curve every analytics dashboard opens with.
    *
    * Scale shape: the log first collapses to distinct (user, day) —
    * user×day cardinality, map-side combined — and every rolling
    * window runs on THAT frame, never the raw log. The day list is
    * O(history days): broadcast it and the trailing-window expansion
    * is a broadcast range join (day, activity-day) whose output is
    * bounded by user-days × window/actual-span, then one distinct
    * count per (day, window). No window function over the corpus, no
    * self-join of events. Grouping by (day, user) FIRST makes all
    * three distinct counts plain sums/counts at the second level —
    * three conditional countDistincts in one aggregate would go
    * through Catalyst's 3-way expand (3× the shuffle rows, the
    * documented [[graft.dws.ProductStats]] hazard). Input: any (user_id,
    * ts) frame. */
  def activeUsersOf(events: DataFrame): DataFrame = {
    val act = events
      .select(col("user_id"), expr("unix_millis(ts) DIV 86400000").as("day"))
      .distinct()
    val days = act.select(col("day").as("d")).distinct()
    val joined = broadcast(days).join(act,
      col("day") <= col("d") && col("day") > col("d") - MauDays)
    joined.groupBy(col("d"), col("user_id"))
      .agg(
        max(when(col("day") === col("d"), 1L).otherwise(0L)).as("is_dau"),
        max(when(col("day") > col("d") - WauDays, 1L).otherwise(0L)).as("is_wau"))
      .groupBy(col("d"))
      .agg(sum("is_dau").as("dau"), sum("is_wau").as("wau"),
        count(lit(1)).as("mau"))
      .select(col("d").as("day"), col("dau"), col("wau"), col("mau"))
  }

  lazy val activeUsersOracle: String =
    s"""WITH act AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
       |days AS (SELECT DISTINCT day AS d FROM act)
       |SELECT d AS day,
       |       CAST(count(DISTINCT CASE WHEN day = d THEN user_id END) AS BIGINT) AS dau,
       |       CAST(count(DISTINCT CASE WHEN day > d - $WauDays THEN user_id END) AS BIGINT) AS wau,
       |       CAST(count(DISTINCT user_id) AS BIGINT) AS mau
       |FROM days JOIN act ON day <= d AND day > d - $MauDays
       |GROUP BY d""".stripMargin

  lazy val retentionOracle: String =
    """WITH act AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
      |f AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY 1),
      |c AS (SELECT cohort_day, day - cohort_day AS day_offset,
      |             CAST(count(*) AS BIGINT) AS users
      |      FROM act JOIN f USING (user_id) GROUP BY 1, 2)
      |SELECT cohort_day, day_offset, users,
      |       (1000000 * users) //
      |         (max(CASE WHEN day_offset = 0 THEN users END)
      |            OVER (PARTITION BY cohort_day)) AS retained_ppm
      |FROM c""".stripMargin

  // ---- hourly anomaly flags ----------------------------------------

  /** Hourly volume anomaly flags per event type: a slot is anomalous
    * when its count sits more than 2σ from the type's mean slot
    * count — the ops-dashboard alert the reference's visitor-stats
    * windows feed but never compute. The z-test is kept INTEGER:
    * (c−μ)² > 4σ² cross-multiplies to (c·n − Σc)² > 4(n·Σc² − (Σc)²),
    * so no float crosses the engine boundary. Only ACTIVE slots
    * participate (an hour with zero events has no row — the
    * dead-hours alert is [[Queries.hourBackfill]]'s densify job).
    *
    * Scale shape (100 TB): the log collapses to (type, hour-slot)
    * counts under one map-side-combined shuffle — the frame is
    * calendar × |types|, NOT event-count, bounded. The moment
    * window is keyed by event_type over that bounded frame. BIGINT
    * envelope: (c·n)² must stay < 2⁶³ — safe while c·n ≲ 3·10⁹
    * (e.g. 10⁶-event slots over a 3000-slot calendar); past that the
    * two factors move to DECIMAL(38,0), same shape. Input: any
    * (event_type, ts) frame. */
  def hourlyAnomalyOf(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"),
        graft.func.Exprs.tumbleStart(col("ts"), 3600L).as("slot"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type")
    hourly
      .withColumn("sm", sum("c").over(w))
      .withColumn("sq", sum(col("c") * col("c")).over(w))
      .withColumn("n", count(lit(1)).over(w))
      .select(col("event_type"), col("slot"), col("c"),
        expr("(1000 * sm) DIV n").as("mean_milli"),
        when((col("c") * col("n") - col("sm")) *
          (col("c") * col("n") - col("sm")) >
          lit(4L) * (col("n") * col("sq") - col("sm") * col("sm")), 1L)
          .otherwise(0L).as("anomaly"))
  }

  lazy val hourlyAnomalyOracle: String =
    """WITH h AS (SELECT event_type,
      |             CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS slot,
      |             CAST(count(*) AS BIGINT) AS c
      |           FROM events GROUP BY 1, 2),
      |s AS (SELECT event_type, slot, c,
      |        CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS sm,
      |        CAST(sum(c*c) OVER (PARTITION BY event_type) AS BIGINT) AS sq,
      |        CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |      FROM h)
      |SELECT event_type, slot, c,
      |       CAST((1000 * sm) // n AS BIGINT) AS mean_milli,
      |       CAST(CASE WHEN (c*n - sm)*(c*n - sm) > 4*(n*sq - sm*sm)
      |            THEN 1 ELSE 0 END AS BIGINT) AS anomaly
      |FROM s""".stripMargin

  // ---- last-touch attribution --------------------------------------

  /** Last-touch purchase attribution: each purchase is credited to
    * the user's most recent PRECEDING non-purchase event type
    * (`direct` when the purchase opens the user's history) — the
    * marketing-attribution rollup a channel dashboard reads. Window
    * semantics, not a join: the carry-forward is
    * `last(non-purchase type, ignoreNulls)` over the user's ordered
    * history, the streaming-friendly formulation (same state shape a
    * `mapGroupsWithState` job would keep: one string per user).
    *
    * Scale shape (100 TB): ONE user_id-keyed window pass over the
    * log (same exchange family as funnel/sessionize — AQE reuses the
    * partitioning when composed), then a 5-row aggregate. Purchase
    * values carry in integer cents. Input: any (user_id, event_type, ts,
    * event_id, value) frame. */
  def attributionOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("direct")).as("touch"))
      .agg(count(lit(1)).as("n_purchases"),
        graft.func.Exprs.sumCents(col("value")).as("value_cents"))
  }

  lazy val attributionOracle: String =
    """WITH t AS (
      |  SELECT event_type, value,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
      |               IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      |  FROM events)
      |SELECT coalesce(touch, 'direct') AS touch,
      |       CAST(count(*) AS BIGINT) AS n_purchases,
      |       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
      |FROM t WHERE event_type = 'purchase'
      |GROUP BY 1""".stripMargin
}
