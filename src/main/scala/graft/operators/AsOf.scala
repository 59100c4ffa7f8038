package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.Exprs

/** As-of join: for each left row, the single latest right row whose
  * time is at-or-before the left row's time, per key — the
  * point-in-time lookup (latest dim version, last prior order, rate
  * as-of trade) that Spark's built-in join set does not express
  * directly. Extends the reference's interval-join family
  * (gmall-time/.../app/dwm2/OrderWideApp2.java:171-185 bounds both
  * sides; as-of is the one-sided unbounded-lower limit of it).
  *
  * Composition, not a custom physical operator (escalation tier (a)):
  * tag both inputs, union them, and take a running
  * `last(payload, ignoreNulls)` over (key, time) — ONE hash shuffle on
  * the key plus a partition-local sort, intermediate size exactly
  * |left| + |right|. At 100 TB this beats the equi-join + filter +
  * row_number form, which materializes |left| × |matching right| rows
  * before pruning (quadratic in orders-per-customer). Time-range
  * partition pruning composes on top when the right side is
  * date-partitioned.
  *
  * Contract: key and time columns are LONG (pre-convert timestamps to
  * epoch ms — also sidesteps Spark 4's LTZ/NTZ comparison rules);
  * ties (right.time == left.time) MATCH (`<=` semantics, right row
  * sorts first); the right side must be unique per (key, time) —
  * pre-aggregate otherwise, or the winner among tied right rows is
  * undefined under either engine.
  */
object AsOf {
  /** Generic as-of join. `payload` columns from `right` are appended
    * to every `left` row (all null when no right row precedes it).
    * `asOf` is [[asOfDirection]]'s `backward` direction at its
    * default (infinite) tolerance — one device, so the two cannot
    * drift; it reserves the same internal names. */
  def asOf(left: DataFrame, right: DataFrame,
           leftKey: String, rightKey: String,
           leftTime: String, rightTime: String,
           payload: Seq[String]): DataFrame =
    asOfDirection(left, right, leftKey, rightKey, leftTime, rightTime,
      payload, "backward")

  /** Directional as-of join with a match tolerance — the full pandas
    * `merge_asof` surface (direction = backward | forward | nearest,
    * tolerance) on the one-shuffle union device described above:
    *
    *  - `backward`: latest right time ≤ left time; [[asOf]] is this
    *    direction;
    *  - `forward`: EARLIEST right time ≥ left time — the same running
    *    `last(ignoreNulls)` over the key partition ordered by time
    *    DESCENDING (in that order, "already seen" rows are exactly the
    *    at-or-after candidates, and the running last is the smallest
    *    of them). No new join shape, no O(n²) unbounded-following
    *    frame — both directions are running-frame windows;
    *  - `nearest`: both windows over the SAME hash exchange (one
    *    shuffle, two partition-local sorts), then the closer match,
    *    BACKWARD winning distance ties.
    *
    * The payload travels as ONE struct column: `last(ignoreNulls)`
    * applied per payload column would backfill a NULL field of the
    * picked right row from OLDER right rows — a row that exists
    * nowhere on the right. The struct is non-null exactly on right
    * rows (even when every field inside is null), so the running last
    * picks one right ROW atomically, matching ASOF-join semantics.
    * Right rows with a null key OR null time are dropped up front (an
    * equi-key never matches on null, and `t >= null` is never true —
    * nulls-first window order would otherwise make such a row
    * everyone's oldest match); null-key left rows survive with a null
    * payload.
    *
    * `toleranceMs` bounds |left time − right time| per direction
    * BEFORE nearest picks (pandas semantics: tolerance filters the
    * candidate, then nearest chooses among survivors); out-of-
    * tolerance matches null out. Ties at equal time match in both
    * directions (`<=`/`>=` semantics). Contract otherwise as the
    * object doc: LONG keys/times, right unique per (key, time). */
  def asOfDirection(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      payload: Seq[String], direction: String = "backward",
      toleranceMs: Long = Long.MaxValue): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"unknown direction $direction")
    require(toleranceMs >= 0, s"negative tolerance $toleranceMs")
    val leftCols = left.columns.toSeq
    require(payload.forall(c => !leftCols.contains(c)),
      s"payload ${payload.mkString(",")} collides with left columns")
    // __rt is a STRUCT FIELD here (the picked row's own time), so a
    // payload or input column of that name would make the struct
    // ambiguous — reserve it with the rest
    val reserved = Seq("__k", "__t", "__side", "__p", "__pb", "__pf", "__rt")
    val clash = (left.columns ++ right.columns).filter(reserved.contains)
    require(clash.isEmpty,
      s"input columns ${clash.mkString(",")} collide with asOf-internal " +
        s"names (${reserved.mkString(",")}) — rename them before joining")
    val lSchema = left.schema
    // the right TIME travels inside the struct so tolerance can be
    // applied to the ROW the window picked (post-filtering a field
    // from an older row would be the backfill bug the struct avoids)
    val payloadStruct =
      struct(col(rightTime).as("__rt") +: payload.map(col): _*)
    val lSide = left.select(
      col(leftKey).as("__k") +: col(leftTime).as("__t") +:
        lit(1).as("__side") +: (leftCols.map(col) :+
        lit(null).cast(right.select(payloadStruct).schema.head.dataType)
          .as("__p")): _*)
    val rSide = right
      .filter(col(rightKey).isNotNull && col(rightTime).isNotNull)
      .select(
      col(rightKey).as("__k") +: col(rightTime).as("__t") +:
        lit(0).as("__side") +:
        (leftCols.map(c => lit(null).cast(lSchema(c).dataType).as(c)) :+
          payloadStruct.as("__p")): _*)
    // right rows (side 0) sort before left rows at equal time under
    // BOTH orderings, so exactly-simultaneous rights are visible
    val wB = Window.partitionBy("__k")
      .orderBy(col("__t").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy("__k")
      .orderBy(col("__t").desc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def inTol(p: Column, dist: Column): Column =
      when(p.isNotNull && dist <= lit(toleranceMs), p)
    val union = lSide.unionByName(rSide)
    // materialize the window pick(s) FIRST, then apply tolerance to
    // the picked row's own __rt (never to the pre-window tag column)
    val picked = direction match {
      case "backward" =>
        union
          .withColumn("__pb", last(col("__p"), ignoreNulls = true).over(wB))
          .withColumn("__p",
            inTol(col("__pb"), col("__t") - col("__pb.__rt")))
          .drop("__pb")
      case "forward" =>
        union
          .withColumn("__pf", last(col("__p"), ignoreNulls = true).over(wF))
          .withColumn("__p",
            inTol(col("__pf"), col("__pf.__rt") - col("__t")))
          .drop("__pf")
      case "nearest" =>
        union
          .withColumn("__pb", last(col("__p"), ignoreNulls = true).over(wB))
          .withColumn("__pf", last(col("__p"), ignoreNulls = true).over(wF))
          .withColumn("__pb",
            inTol(col("__pb"), col("__t") - col("__pb.__rt")))
          .withColumn("__pf",
            inTol(col("__pf"), col("__pf.__rt") - col("__t")))
          .withColumn("__p",
            when(col("__pb").isNotNull && (col("__pf").isNull ||
              col("__t") - col("__pb.__rt") <=
                col("__pf.__rt") - col("__t")), col("__pb"))
              .otherwise(col("__pf")))
          .drop("__pb", "__pf")
    }
    picked
      .filter(col("__side") === 1)
      .select(leftCols.map(col) ++
        payload.map(c => col(s"__p.$c").as(c)): _*)
  }

  /** Concrete query: each behavior event joined as-of to the user's
    * most recent at-or-before order (events.user_id × orders.o_custkey,
    * orders deduped to one per (custkey, date) by max orderkey so the
    * tie winner is engine-independent). */
  def latestOrderQuery(spark: SparkSession, dir: String): DataFrame = {
    val (ev, ord) = eventOrderSides(spark, dir)
    asOf(ev, ord, "user_id", "o_custkey", "ts_ms", "o_date_ms",
      Seq("o_orderkey", "o_date_ms"))
      .withColumn("days_since",
        when(col("o_date_ms").isNotNull,
          expr("(ts_ms - o_date_ms) DIV 86400000")))
  }

  /** 30 days in ms — the concrete queries' match tolerance. */
  val TolMs: Long = 30L * 86400000L

  /** Forward + tolerance: each event joined to the user's NEXT order
    * at-or-after it, but only within 30 days ("did the session convert
    * this month" — the attribution-window form of the lookup). */
  def nextOrderQuery(spark: SparkSession, dir: String): DataFrame = {
    val (ev, ord) = eventOrderSides(spark, dir)
    asOfDirection(ev, ord, "user_id", "o_custkey", "ts_ms", "o_date_ms",
      Seq("o_orderkey", "o_date_ms"), "forward", TolMs)
      .withColumn("days_until",
        when(col("o_date_ms").isNotNull,
          expr("(o_date_ms - ts_ms) DIV 86400000")))
  }

  /** Nearest + tolerance: the closest order either side of the event
    * within 30 days, backward winning distance ties. */
  def nearestOrderQuery(spark: SparkSession, dir: String): DataFrame = {
    val (ev, ord) = eventOrderSides(spark, dir)
    asOfDirection(ev, ord, "user_id", "o_custkey", "ts_ms", "o_date_ms",
      Seq("o_orderkey", "o_date_ms"), "nearest", TolMs)
  }

  private def eventOrderSides(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(spark, dir).select(
      col("event_id"), col("user_id"),
      Exprs.epochMs(col("ts")).as("ts_ms"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        Exprs.epochMs(col("o_orderdate")).as("o_date_ms"),
        col("o_orderkey"))
      .groupBy("o_custkey", "o_date_ms")
      .agg(max("o_orderkey").as("o_orderkey"))
    (ev, ord)
  }

  /** DuckDB's ASOF JOIN picks the other direction from `<=` on the
    * ordering column; tolerance is a per-column CASE over the picked
    * row (null out-of-tolerance matches atomically). */
  val nextOrderOracle: String =
    s"""WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events),
       |o AS (SELECT o_custkey, epoch_ms(o_orderdate) AS o_date_ms,
       |             max(o_orderkey) AS o_orderkey
       |      FROM orders GROUP BY 1, 2),
       |f AS (SELECT e.event_id, e.user_id, e.ts_ms, o.o_orderkey, o.o_date_ms
       |      FROM e ASOF LEFT JOIN o
       |        ON e.user_id = o.o_custkey AND e.ts_ms <= o.o_date_ms)
       |SELECT event_id, user_id, ts_ms,
       |  CASE WHEN o_date_ms - ts_ms <= $TolMs THEN o_orderkey END AS o_orderkey,
       |  CASE WHEN o_date_ms - ts_ms <= $TolMs THEN o_date_ms END AS o_date_ms,
       |  CASE WHEN o_date_ms - ts_ms <= $TolMs
       |       THEN (o_date_ms - ts_ms) // 86400000 END AS days_until
       |FROM f""".stripMargin

  /** Backward and forward ASOF picks joined back on the unique event
    * id; tolerance per side, then the closer survivor (backward on
    * ties) — the reference restatement of `asOfDirection("nearest")`. */
  val nearestOrderOracle: String =
    s"""WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events),
       |o AS (SELECT o_custkey, epoch_ms(o_orderdate) AS o_date_ms,
       |             max(o_orderkey) AS o_orderkey
       |      FROM orders GROUP BY 1, 2),
       |b AS (SELECT e.event_id, o.o_orderkey AS bk, o.o_date_ms AS bm
       |      FROM e ASOF LEFT JOIN o
       |        ON e.user_id = o.o_custkey AND e.ts_ms >= o.o_date_ms),
       |f AS (SELECT e.event_id, o.o_orderkey AS fk, o.o_date_ms AS fm
       |      FROM e ASOF LEFT JOIN o
       |        ON e.user_id = o.o_custkey AND e.ts_ms <= o.o_date_ms),
       |j AS (SELECT e.event_id, e.user_id, e.ts_ms,
       |        CASE WHEN e.ts_ms - b.bm <= $TolMs THEN b.bk END AS bk,
       |        CASE WHEN e.ts_ms - b.bm <= $TolMs THEN b.bm END AS bm,
       |        CASE WHEN f.fm - e.ts_ms <= $TolMs THEN f.fk END AS fk,
       |        CASE WHEN f.fm - e.ts_ms <= $TolMs THEN f.fm END AS fm
       |      FROM e JOIN b ON e.event_id = b.event_id
       |             JOIN f ON e.event_id = f.event_id)
       |SELECT event_id, user_id, ts_ms,
       |  CASE WHEN bm IS NOT NULL AND (fm IS NULL OR ts_ms - bm <= fm - ts_ms)
       |       THEN bk ELSE fk END AS o_orderkey,
       |  CASE WHEN bm IS NOT NULL AND (fm IS NULL OR ts_ms - bm <= fm - ts_ms)
       |       THEN bm ELSE fm END AS o_date_ms
       |FROM j""".stripMargin

  /** DuckDB states the same operator natively (ASOF LEFT JOIN picks
    * the greatest right time <= left time per key). */
  val latestOrderOracle: String =
    """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events),
      |o AS (SELECT o_custkey, epoch_ms(o_orderdate) AS o_date_ms,
      |             max(o_orderkey) AS o_orderkey
      |      FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, e.ts_ms, o.o_orderkey, o.o_date_ms,
      |       CASE WHEN o.o_date_ms IS NOT NULL
      |            THEN (e.ts_ms - o.o_date_ms) // 86400000 END AS days_since
      |FROM e ASOF LEFT JOIN o
      |  ON e.user_id = o.o_custkey AND e.ts_ms >= o.o_date_ms""".stripMargin
}
