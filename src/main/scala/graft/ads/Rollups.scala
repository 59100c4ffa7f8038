package graft.ads

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.Exprs.{cents, sumCents}
import graft.func.Ranks

/** Multi-dimensional ADS extensions over the reference's dashboard
  * surface (gmall-publisher2 exposes flat GROUP BYs only — a BI layer
  * over the same marts adds exactly these four shapes):
  *
  *   - [[pivotSegment]] — crosstab (Spark `RelationalGroupedDataset
  *     .pivot` → a single-pass pivot aggregate).
  *   - [[gmvRollup]] — hierarchical totals (`rollup` → one Expand +
  *     one aggregate, NOT one job per level) with `grouping_id`.
  *   - [[gmvMa7]] — calendar-aware 7-day moving average via a RANGE
  *     window frame over day numbers (frame sees actual dates, so
  *     date gaps shrink the window instead of spanning 7 rows).
  *   - [[priceMedian]] — EXACT per-group median without a per-group
  *     sort of the raw orders, via [[Ranks.perGroup]].
  *
  * Scale shapes (100 TB): pivot and rollup are single aggregates over
  * the fact scan (pivot values are DECLARED, so no driver-side
  * distinct pass; rollup's Expand multiplies rows ×3 pre-shuffle but
  * map-side combine collapses them before exchange). The MA7 window
  * is over the per-DAY frame — bounded by the calendar, a deliberate
  * bounded collapse (same device as [[Queries.gmvGrowth]]). The
  * median never sorts orders: its segment-keyed cumulative window
  * runs over per-(segment, cents) counts, bounded by segments × the
  * price domain.
  */
object Rollups {
  /** TPC-H market segments — the declared pivot domain. Declaring the
    * values is what keeps `pivot` single-pass at scale: otherwise
    * Spark runs a driver-side distinct query first. */
  val Segments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** Pivot's inverse — UNPIVOT/melt: the per-day metric columns
    * (pv, uv, distinct event types) turned into (day, metric, value)
    * long form, the shape every metrics store / dashboard ingestion
    * consumes. `Dataset.unpivot` plans a local Expand (×metrics rows,
    * NO shuffle, no driver involvement), so the melt is free to
    * compose after any aggregate at 100 TB; only the upstream daily
    * aggregates exchange.
    *
    * The wide frame deliberately avoids TWO count_distincts in one
    * aggregate — that would ride Catalyst's multi-distinct Expand (3×
    * the shuffle rows of the RAW scan, the documented
    * [[graft.dws.ProductStats]] hazard). Instead each distinct runs
    * the two-level device over its own key and the tiny per-day
    * frames join back null-safely (a null event time groups as a
    * null day on both sides). */
  def metricsMelt(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(expr("unix_millis(ts) DIV 86400000").as("day"),
        col("user_id"), col("event_type"))
    // outer level counts the KEY COLUMN, not rows: a null user_id /
    // event_type forms its own group at the inner level, and counting
    // lit(1) would tally it as one distinct value where SQL's
    // count(DISTINCT x) excludes NULLs — count(x) makes the null-key
    // group contribute 0, matching the oracle on nullable input
    val base = ev.groupBy("day", "user_id")
      .agg(count(lit(1)).as("c"))
      .groupBy("day")
      .agg(sum("c").as("pv"), count(col("user_id")).as("uv"))
    val types = ev.groupBy("day", "event_type").agg(count(lit(1)).as("c"))
      .groupBy(col("day").as("tday"))
      .agg(count(col("event_type")).as("types"))
    base.join(types, base("day") <=> col("tday"))
      .select(col("day"), col("pv"), col("uv"), col("types"))
      .unpivot(Array(col("day")),
        Array(col("pv"), col("uv"), col("types")), "metric", "value")
  }

  /** DuckDB states the operator natively (UNPIVOT ... INTO NAME/VALUE);
    * identical daily aggregate upstream. */
  lazy val metricsMeltOracle: String =
    """WITH wide AS (SELECT epoch_ms(ts) // 86400000 AS day,
      |                     CAST(count(*) AS BIGINT) AS pv,
      |                     CAST(count(DISTINCT user_id) AS BIGINT) AS uv,
      |                     CAST(count(DISTINCT event_type) AS BIGINT) AS types
      |              FROM events GROUP BY 1)
      |SELECT day, metric, value
      |FROM (UNPIVOT wide ON pv, uv, types INTO NAME metric VALUE value)""".stripMargin

  /** Customers per nation crosstabbed by market segment. */
  def pivotSegment(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val piv = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .pivot("c_mktsegment", Segments)
      .agg(count(lit(1)))
    // absent (nation, segment) combos pivot to NULL; the oracle's
    // conditional counts yield NULL likewise via sum(CASE) — align on 0
    piv.select(col("n_name") +: Segments.map(s =>
      coalesce(col(s), lit(0L)).as(s)): _*)
  }

  lazy val pivotSegmentOracle: String = {
    val cols = Segments.map(s =>
      s"""CAST(coalesce(sum(CASE WHEN c_mktsegment = '$s' THEN 1 END), 0) AS BIGINT) AS "$s"""")
      .mkString(",\n       ")
    s"""SELECT n_name,
       |       $cols
       |FROM customer JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY 1""".stripMargin
  }

  /** GMV totals at (year, month), (year), and grand-total levels in
    * ONE aggregate — `rollup` + `grouping_id` (0 = leaf, 1 = year
    * subtotal, 3 = grand total). */
  def gmvRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        cents(col("o_totalprice")).as("c"))
      .rollup("yr", "mo")
      .agg(sum("c").as("gmv_cents"), count(lit(1)).as("n_orders"),
        grouping_id().cast("long").as("gid"))
      .select("yr", "mo", "gid", "gmv_cents", "n_orders")

  lazy val gmvRollupOracle: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      |       CAST(month(o_orderdate) AS BIGINT) AS mo,
      |       CAST(GROUPING_ID(CAST(year(o_orderdate) AS BIGINT),
      |                        CAST(month(o_orderdate) AS BIGINT)) AS BIGINT)
      |         AS gid,
      |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS gmv_cents,
      |       CAST(count(*) AS BIGINT) AS n_orders
      |FROM orders GROUP BY ROLLUP(yr, mo)""".stripMargin

  /** CUBE companion to [[gmvRollup]]: ALL four grouping sets over
    * (year, order-priority) — rollup's hierarchy plus the
    * column-marginal (priority totals across years) that a rollup
    * cannot express. Same single-pass Expand + grouping_id plan; the
    * fan-out is 2^dims rows per input row before map-side combine,
    * which is why dims stay few and low-cardinality at 100 TB. */
  def gmvCube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(year(col("o_orderdate")).cast("long").as("yr"),
        col("o_orderpriority").as("prio"),
        cents(col("o_totalprice")).as("c"))
      .cube("yr", "prio")
      .agg(sum("c").as("gmv_cents"), count(lit(1)).as("n_orders"),
        grouping_id().cast("long").as("gid"))
      .select("yr", "prio", "gid", "gmv_cents", "n_orders")

  lazy val gmvCubeOracle: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      |       o_orderpriority AS prio,
      |       CAST(GROUPING_ID(CAST(year(o_orderdate) AS BIGINT),
      |                        o_orderpriority) AS BIGINT) AS gid,
      |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS gmv_cents,
      |       CAST(count(*) AS BIGINT) AS n_orders
      |FROM orders GROUP BY CUBE(yr, prio)""".stripMargin

  /** Arbitrary GROUPING SETS — the two MARGINALS alone (year totals,
    * priority totals), the minimal statement neither rollup (forces
    * the hierarchy) nor cube (forces the cross + grand total on top)
    * can make. Scale shape: Expand fans out × the DECLARED set count
    * (2 here), not 2^dims — at 100 TB the ability to state exactly
    * the marginals a dashboard needs is what keeps the pre-combine
    * row multiplication at its floor. */
  def gmvGroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(year(col("o_orderdate")).cast("long").as("yr"),
        col("o_orderpriority").as("prio"),
        cents(col("o_totalprice")).as("c"))
      .groupingSets(Seq(Seq(col("yr")), Seq(col("prio"))),
        col("yr"), col("prio"))
      .agg(sum("c").as("gmv_cents"), count(lit(1)).as("n_orders"),
        grouping_id().cast("long").as("gid"))
      .select("yr", "prio", "gid", "gmv_cents", "n_orders")

  lazy val gmvGroupingSetsOracle: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      |       o_orderpriority AS prio,
      |       CAST(GROUPING_ID(CAST(year(o_orderdate) AS BIGINT),
      |                        o_orderpriority) AS BIGINT) AS gid,
      |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS gmv_cents,
      |       CAST(count(*) AS BIGINT) AS n_orders
      |FROM orders GROUP BY GROUPING SETS ((yr), (prio))""".stripMargin

  /** Calendar-aware trailing-7-day GMV average (integer cents): the
    * RANGE frame is over epoch-day numbers, so a 3-day gap leaves a
    * 4-day window — `ROWS BETWEEN 6 PRECEDING` would silently span
    * ~13 calendar days there. Daily frame = bounded collapse. */
  def gmvMa7(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(datediff(col("o_orderdate"), lit("1970-01-01"))
        .cast("long").as("day_no"))
      .agg(sumCents(col("o_totalprice")).as("gmv_cents"))
    val w = Window.orderBy("day_no").rangeBetween(-6, 0)
    daily
      .withColumn("sum7", sum("gmv_cents").over(w))
      .withColumn("days_in_window", count(lit(1)).over(w))
      .select(col("day_no"), col("gmv_cents"),
        expr("sum7 DIV days_in_window").as("ma7_cents"),
        col("days_in_window"))
      .orderBy("day_no")
  }

  lazy val gmvMa7Oracle: String =
    """WITH d AS (
      |  SELECT CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS day_no,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS gmv_cents
      |  FROM orders GROUP BY 1)
      |SELECT day_no, gmv_cents,
      |  CAST(CAST(sum(gmv_cents) OVER (ORDER BY day_no RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
      |    // count(*) OVER (ORDER BY day_no RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS ma7_cents,
      |  CAST(count(*) OVER (ORDER BY day_no RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS days_in_window
      |FROM d ORDER BY day_no""".stripMargin

  /** Exact per-segment median order value (cents), lower-discrete
    * (percentile_disc 0.5): the smallest value whose cumulative count
    * reaches ⌈n/2⌉ — [[Ranks.perGroup]]'s p = 50. */
  def priceMedian(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val j = Tables.orders(spark, dir)
      .join(c, col("o_custkey") === c("c_custkey"))
      .select(col("c_mktsegment"), cents(col("o_totalprice")).as("v"))
    Ranks.perGroup(j, "v", Seq("c_mktsegment"), "n_orders",
      Seq("median_cents" -> 50))
  }

  lazy val priceMedianOracle: String =
    """WITH j AS (
      |  SELECT c_mktsegment,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |c AS (SELECT c_mktsegment, v, CAST(count(*) AS BIGINT) AS cnt
      |      FROM j GROUP BY 1, 2),
      |o AS (SELECT c_mktsegment, v, cnt,
      |        CAST(sum(cnt) OVER (PARTITION BY c_mktsegment ORDER BY v) AS BIGINT) AS cum,
      |        CAST(sum(cnt) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS n
      |      FROM c)
      |SELECT c_mktsegment, CAST(max(n) AS BIGINT) AS n_orders,
      |       CAST(min(v) AS BIGINT) AS median_cents
      |FROM o WHERE cum * 2 >= n GROUP BY 1""".stripMargin
}
