package graft.ads

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Path analytics over the behavior log — the Markov-chain view of the
  * event stream the reference's dashboard layer implies but never
  * ships (gmall-publisher2 stops at per-window counts): which event
  * follows which, and how long conversion takes. Both are integer
  * arithmetic on epoch milliseconds, bit-portable to the oracle.
  */
object EventPaths {
  /** Synthetic state for a user's first event (no predecessor). */
  val Start = "_start"

  /** First-order Markov transition matrix: for every ordered pair of
    * consecutive events of one user, count the (prev_type, next_type)
    * transition; the first event of each user transitions from
    * [[Start]]. `share_ppm` is the row-stochastic weight — the count's
    * ppm share of all transitions leaving `prev_type`.
    *
    * Scale shape (100 TB log): ONE shuffle keyed on `user_id` for the
    * lag window (per-user state is a single previous row, streamed by
    * the window operator — no per-user collect), then the pair count
    * is a two-level partial aggregate on the (prev, next) key space,
    * which is |event_type|² — tiny. The ppm denominator is a window
    * over that tiny aggregate, not over the log. Input: any (user_id,
    * event_id, event_type, ts) frame. */
  def transitionsOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    val pairs = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
      .withColumn("prev_type",
        coalesce(lag(col("event_type"), 1).over(w), lit(Start)))
    val counts = pairs.groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    counts.select(col("prev_type"), col("next_type"), col("n"),
      expr("1000000 * n DIV " +
        "sum(n) OVER (PARTITION BY prev_type)").as("share_ppm"))
  }

  lazy val transitionsOracle: String =
    s"""WITH ev AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
       |            FROM events),
       |p AS (SELECT coalesce(lag(event_type) OVER
       |               (PARTITION BY user_id ORDER BY ms, event_id),
       |             '$Start') AS prev_type,
       |             event_type AS next_type
       |      FROM ev),
       |c AS (SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
       |      FROM p GROUP BY 1, 2)
       |SELECT prev_type, next_type, n,
       |       CAST((1000000 * n) // sum(n) OVER (PARTITION BY prev_type)
       |            AS BIGINT) AS share_ppm
       |FROM c""".stripMargin

  /** Histogram bucket width for conversion latency. */
  val BucketMs = 60000L

  /** Time-to-convert distribution: per user, the delta between the
    * first `view` and the first `purchase` strictly after it, bucketed
    * into [[BucketMs]]-wide bins; one row per bin with the user count
    * and the cumulative ppm of converting users at or below the bin.
    *
    * Scale shape: both firsts are min-aggregates keyed on `user_id`
    * (one partitioning serves both and their join — AQE reuses the
    * exchange); the histogram groups by bucket (bounded by the time
    * horizon, not the log), and the cumulative window runs over that
    * tiny frame. Input: any (user_id, event_type, ts) frame. */
  def timeToConvertOf(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"), col("event_type"),
      unix_millis(col("ts")).as("ms"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ms").as("view_ms"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(v, "user_id").filter(col("ms") > col("view_ms"))
      .groupBy("user_id").agg(min(col("ms") - col("view_ms")).as("delta_ms"))
    val h = p.groupBy(expr(s"delta_ms DIV $BucketMs").as("bucket"))
      .agg(count(lit(1)).as("n_users"))
    h.select(col("bucket"), col("n_users"),
      expr("1000000 * sum(n_users) OVER (ORDER BY bucket " +
        "ROWS UNBOUNDED PRECEDING) DIV sum(n_users) OVER ()")
        .as("cum_ppm"))
  }

  lazy val timeToConvertOracle: String =
    s"""WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
       |v AS (SELECT user_id, min(ms) AS view_ms FROM ev
       |      WHERE event_type = 'view' GROUP BY 1),
       |p AS (SELECT ev.user_id, min(ms - view_ms) AS delta_ms
       |      FROM ev JOIN v USING (user_id)
       |      WHERE event_type = 'purchase' AND ms > view_ms GROUP BY 1),
       |h AS (SELECT delta_ms // $BucketMs AS bucket,
       |             CAST(count(*) AS BIGINT) AS n_users
       |      FROM p GROUP BY 1)
       |SELECT bucket, n_users,
       |       CAST((1000000 * sum(n_users) OVER (ORDER BY bucket
       |          ROWS UNBOUNDED PRECEDING)) // sum(n_users) OVER ()
       |            AS BIGINT) AS cum_ppm
       |FROM h""".stripMargin
}
