package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.TempDirs

/** Date-partitioned lake layout — the PARTITION-pruning leg of the
  * ingest-format family. The roundtrip legs ([[CsvLines]],
  * [[JsonLines]], [[OrcEvents]]) prove predicate pushdown and column
  * pruning reach the file scan; this leg proves the third scan
  * optimization a 100 TB lake lives on: directory-level partition
  * elimination. The reference's db sink routes each table to its own
  * path partition (gmall-realtime/.../app/dwd2/BaseDBApp2.java:74-87
  * keys the sink by table name); a date-partitioned fact lake is the
  * same layout discipline applied to time, and "read one day" must
  * open one directory, not scan-and-discard 30.
  *
  * Layout: `dt=yyyy-MM-dd/` Hive-style directories via
  * `partitionBy("dt")`, the layout every table format (Hive, Iceberg,
  * Delta) degrades to on a plain filesystem. The dt column is DATE
  * (derived `to_date(ts)` under the session's UTC contract —
  * [[graft.Tables.events]] enforces it), so the partition values
  * round-trip typed and the pruning filter is a typed equality, not a
  * string compare.
  *
  * Scale shape: the one-day query's scan lists and reads ONLY the
  * matching `dt=` directory — `PartitionFilters` in the plan, file
  * count spec-asserted from the scan's own numFiles metric against
  * the filesystem. Work is O(day), not O(lake); the remaining data
  * predicate (user cap) still pushes into the day's row groups, and
  * unreferenced columns still prune — all three scan optimizations
  * compose on one scan, for BOTH columnar formats.
  *
  * Fixture discipline as [[OrcEvents]]: per-(JVM, dir, format) cached
  * path, overwrite-mode so bench reps re-render in place. Read-back
  * passes the writer frame's explicit schema: a degenerate empty
  * input leaves a footerless directory that schema inference cannot
  * read, and the explicit schema also pins the partition column's
  * DATE type independent of inference. */
object PartitionedLake {
  /** The day the pruning query reads (mid-range of the generator's
    * 30-day event window at every sf). */
  val PruneDay = "2024-01-15"

  /** Pushdown-able data predicate kept alongside the partition
    * filter — ALIASES [[OrcEvents.UserCap]] so the roundtrip
    * families cannot silently diverge from the shared bound the
    * docs state. */
  val UserCap: Long = OrcEvents.UserCap

  private def eventsWithDt(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).withColumn("dt", to_date(col("ts")))

  /** Render `dir`'s events into a dt-partitioned lake in `format`
    * ("parquet" | "orc"); returns the lake root.
    *
    * Write shape: every writer task holding rows for a dt value opens
    * its own file in that directory, so an unmanaged `partitionBy`
    * write sprays up to tasks × days files — the SMALL-FILES problem
    * that dominates listing and scan-planning cost on a 100 TB lake.
    * [[compactedLakeDir]] is the managed shape. */
  def lakeDir(spark: SparkSession, dir: String, format: String): String = {
    val out = lakeRoot(dir, format)
    eventsWithDt(spark, dir)
      .write.mode("overwrite").format(format).partitionBy("dt").save(out)
    out
  }

  /** The lake's root path WITHOUT (re-)rendering it — for layout
    * inspection of an already-written lake (re-calling [[lakeDir]]
    * overwrites, which would decouple an executed scan's metrics from
    * the files on disk). */
  def lakeRoot(dir: String, format: String): String =
    TempDirs.cachedFor(s"lake$format", dir)

  /** The compacted lake: `repartition(dt)` routes each day's rows to
    * ONE writer task before `partitionBy(dt)`, so each day directory
    * holds exactly one file (spec-asserted) — the standard
    * small-files compaction device. The added shuffle is the price;
    * at 100 TB a day is usually larger than one task, and the same
    * device generalizes to `repartition(N, dt, salt)` for N
    * similar-sized files per day (bound N by day volume /
    * maxRecordsPerFile). Query results are write-shape-independent —
    * [[pruneQuery]] over this root returns exactly the
    * [[lakeDir]] answers. */
  def compactedLakeDir(spark: SparkSession, dir: String,
      format: String): String = {
    val out = TempDirs.cachedFor(s"lakec$format", dir)
    eventsWithDt(spark, dir)
      .repartition(col("dt"))
      .write.mode("overwrite").format(format).partitionBy("dt").save(out)
    out
  }

  /** One day of the lake, accounted per event type — must open only
    * the `dt=[[PruneDay]]` directory. Output contract as
    * [[OrcEvents.orcRoundtrip]]: (event_type, n_rows, user_sum,
    * max_event). */
  def pruneQuery(spark: SparkSession, dir: String,
      format: String): DataFrame = {
    val schema = eventsWithDt(spark, dir).schema
    spark.read.format(format).schema(schema)
      .load(lakeDir(spark, dir, format))
      .filter(col("dt") === to_date(lit(PruneDay)) &&
        col("user_id").isNotNull && col("user_id") <= UserCap)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("user_id")).as("user_sum"),
        max(col("event_id")).as("max_event"))
  }

  /** DYNAMIC partition pruning — the join-derived twin of
    * [[pruneQuery]]'s static elimination, and the access pattern the
    * reference's star schema actually runs at 100 TB: a fact scan
    * filtered through a DIM predicate (the six dim joins of
    * gmall-time/.../app/dwm2/OrderWideApp2.java:190-322 — none of
    * their filters name the fact's partition column directly). Here
    * the fact is the dt-partitioned lake and the dim is a calendar
    * frame of BUSY days (days whose event count exceeds the per-day
    * mean — an aggregate attribute, deliberately NOT a function of
    * the join key, so no static constraint propagation can reach the
    * fact side and the only partition filter is the one Catalyst
    * derives AT RUNTIME from the dim's rows: the
    * `dynamicpruningexpression(dt IN subquery)` the spec asserts).
    *
    * Scale shape: the dim is bounded by the CALENDAR (one row per
    * day), so the broadcast hint is bounded-by-construction and DPP
    * rides the reused broadcast for free — the fact scan lists and
    * reads only the busy days' directories (numFiles metric
    * spec-asserted < lake total), exactly how "last month's busy
    * days" must touch a 100 TB lake. The mean threshold is exact
    * integer cross-multiplication (d_n · t_days > t_n) — no decimal
    * average to drift cross-engine. */
  def dppQuery(spark: SparkSession, dir: String,
      format: String): DataFrame = {
    val schema = eventsWithDt(spark, dir).schema
    val fact = spark.read.format(format).schema(schema)
      .load(lakeDir(spark, dir, format))
    val dim = busyDays(spark, dir)
    fact.join(broadcast(dim), fact("dt") === dim("d_dt"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("user_id")).as("user_sum"),
        max(col("event_id")).as("max_event"))
  }

  /** The busier-than-average calendar dim: one row per day whose
    * event count strictly exceeds the all-days mean. Bounded by the
    * calendar window regardless of corpus size.
    *
    * The threshold rides a GLOBAL window over the per-day frame (a
    * bounded collapse — one row per calendar day) rather than a
    * cross join against a one-row aggregate: a filter above a cross
    * join gets absorbed into the nested-loop JOIN CONDITION by
    * `PushDownPredicates`, leaving no `Filter` node in the dim
    * subtree — and Catalyst's `PartitionPruning` only treats a join
    * side as prune-worthy if it can SEE a selective `Filter` there
    * (`hasPartitionPruningFilter`). The window form keeps the
    * comparison an explicit post-window `Filter`, which is exactly
    * what flips DPP on. */
  def busyDays(spark: SparkSession, dir: String): DataFrame = {
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("d_dt"))
      .agg(count(lit(1)).as("d_n"))
      .withColumn("t_n", sum(col("d_n")).over(all))
      .withColumn("t_days", count(lit(1)).over(all))
      .filter(col("d_n") * col("t_days") > col("t_n"))
      .select("d_dt")
  }

  /** [[dppQuery]] over the parquet lake, kept as its own entry point
    * because the `perfbench` warehouse build calls it. */
  def dppParquet(spark: SparkSession, dir: String): DataFrame =
    dppQuery(spark, dir, "parquet")

  /** Nation key of the selective customer dim in [[starQuery]] —
    * chosen non-empty at every sf (~1/25 of customers, ~9% of the
    * fact's user traffic at sf0.01). */
  val StarNation = 19

  /** SQL confs [[starQuery]] executes under — narrowed to the set
    * only a session conf CAN carry (r19-VERDICT task 3). The bloom
    * thresholds are opened because the 10 GB
    * `applicationSideScanSizeThreshold` default keeps the feature
    * silent below cluster scale (PLANS §r17 bloom). The static
    * `autoBroadcastJoinThreshold = -1` must stay session-scoped even
    * though the JOIN SHAPE is now fenced per-join (the SHUFFLE_HASH
    * hint in [[starFrame]]): Catalyst's `InjectRuntimeFilter` gates
    * injection on `isProbablyShuffleJoin`, which consults the
    * SIZE-based `canBroadcastBySize(dim)` — a toy-scale dim under the
    * 10 MB default reads broadcastable and vetoes the bloom REGARDLESS
    * of how the join is actually planned, and no per-join hint reaches
    * that estimate. The r18/r19 form also pinned
    * `spark.sql.adaptive.autoBroadcastJoinThreshold = -1`; that one IS
    * replaceable by the hint (AQE's runtime broadcast demotion honors
    * an explicit per-join strategy), so it is gone. At the 100 TB
    * shape the DEFAULT config fires and none of these overrides are
    * needed — the dim is past every broadcast estimate. */
  private[graft] val starConfs: Seq[(String, String)] = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")

  /** The composed star-schema frame behind [[starQuery]] — the
    * r17-VERDICT task-1 shape: ONE fact scan of the dt-partitioned
    * lake carrying all three scan-side devices AT ONCE, the way the
    * reference's six-dim fact access
    * (gmall-time/.../app/dwm2/OrderWideApp2.java:190-322) must touch
    * a 100 TB lake:
    *
    *  1. DYNAMIC PARTITION PRUNING from the calendar dim: the
    *     busy-day join ([[busyDays]], window-form filter) prunes the
    *     fact to the busy days' directories at runtime —
    *     `dynamicpruningexpression` in the scan's PartitionFilters,
    *     numFiles < lake total (directory level);
    *  2. RUNTIME BLOOM FILTER from a SECOND, non-partition dim key:
    *     customers of one nation — `InjectRuntimeFilter` builds a
    *     bloom from the filtered dim and semi-filters the fact on
    *     `user_id` BEFORE its shuffle (`might_contain` on the fact
    *     side — row level, covering the key DPP cannot);
    *  3. PUSHED DATA PREDICATE: `event_type <> 'error'` reaches the
    *     file scan's PushedFilters (row-group level), with unread
    *     columns pruned from ReadSchema.
    *
    * All three are asserted on the SAME executed scan in
    * PartitionedLakeSpec; each device is proven separately by
    * [[dppQuery]], the bloom rehearsal, and [[pruneQuery]] — this
    * query proves they COMPOSE. */
  private[graft] def starFrame(spark: SparkSession, dir: String,
      format: String): DataFrame = {
    val schema = eventsWithDt(spark, dir).schema
    val fact = spark.read.format(format).schema(schema)
      .load(lakeDir(spark, dir, format))
      .filter(col("event_type") =!= "error")
    val cal = busyDays(spark, dir)
    val users = Tables.customer(spark, dir)
      .filter(col("c_nationkey") === StarNation)
      .select(col("c_custkey"))
    // per-join fences (r19-VERDICT task 3): the customer join is
    // pinned SHUFFLE_HASH so the bloom semi-filter has a shuffle to
    // pay off on (and AQE cannot demote it to broadcast at toy scale
    // — this hint replaces the session-wide adaptive threshold the
    // r19 form pinned); the calendar join keeps its explicit
    // broadcast, which DPP rides for free
    fact.join(users.hint("SHUFFLE_HASH"), col("user_id") === col("c_custkey"))
      .join(broadcast(cal), fact("dt") === cal("d_dt"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("user_id")).as("user_sum"),
        max(col("event_id")).as("max_event"))
  }

  /** Board form of [[starFrame]]: a LAZY frame on a per-query SCOPED
    * SESSION ([[graft.func.Confs.scopedSession]]) carrying
    * [[starConfs]]. Plan-shaping confs must hold at EXECUTION time —
    * the r18 form executed eagerly under a set/try/restore scope and
    * handed back a localized aggregate, which could never generalize
    * past tiny results; the scoped session pins the confs to the
    * frame itself (they apply whenever the caller acts on it, and the
    * shared session is never mutated), so the composed scan is now a
    * reusable first-class query. The result is conf-independent — the
    * shared oracle is the proof; the scoped-vs-parent conf isolation
    * and the lazy plan are spec-asserted. */
  def starQuery(spark: SparkSession, dir: String,
      format: String = "parquet"): DataFrame =
    starFrame(graft.func.Confs.scopedSession(spark, starConfs),
      dir, format)

  /** The oracle replays the three-way star over the raw parquet
    * tables — same busy-day arithmetic as [[dppOracle]], plus the
    * nation-filtered customer dim and the pushed predicate. */
  lazy val starOracle: String =
    s"""WITH day_n AS MATERIALIZED (
       |  SELECT CAST(ts AS DATE) AS d_dt, CAST(count(*) AS BIGINT) AS d_n
       |  FROM events GROUP BY 1),
       |tot AS MATERIALIZED (
       |  SELECT CAST(sum(d_n) AS BIGINT) AS t_n,
       |         CAST(count(*) AS BIGINT) AS t_days FROM day_n),
       |busy AS MATERIALIZED (
       |  SELECT d_dt FROM day_n, tot WHERE d_n * t_days > t_n)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
       |       CAST(sum(user_id) AS BIGINT) AS user_sum,
       |       max(event_id) AS max_event
       |FROM events
       |JOIN busy ON CAST(ts AS DATE) = busy.d_dt
       |JOIN customer ON user_id = c_custkey
       |WHERE c_nationkey = $StarNation AND event_type <> 'error'
       |GROUP BY 1""".stripMargin

  /** The oracle replays fact-through-dim over the parquet events
    * table; the busy-day dim is the same exact integer arithmetic. */
  lazy val dppOracle: String =
    """WITH day_n AS MATERIALIZED (
      |  SELECT CAST(ts AS DATE) AS d_dt, CAST(count(*) AS BIGINT) AS d_n
      |  FROM events GROUP BY 1),
      |tot AS MATERIALIZED (
      |  SELECT CAST(sum(d_n) AS BIGINT) AS t_n,
      |         CAST(count(*) AS BIGINT) AS t_days FROM day_n),
      |busy AS MATERIALIZED (
      |  SELECT d_dt FROM day_n, tot WHERE d_n * t_days > t_n)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(user_id) AS BIGINT) AS user_sum,
      |       max(event_id) AS max_event
      |FROM events JOIN busy ON CAST(ts AS DATE) = busy.d_dt
      |GROUP BY 1""".stripMargin

  /** The oracle replays the day slice from the parquet events table
    * (UTC calendar date both engines) — the partitioned roundtrip
    * must be value-exact. */
  lazy val pruneOracle: String =
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
       |       CAST(sum(user_id) AS BIGINT) AS user_sum,
       |       max(event_id) AS max_event
       |FROM events
       |WHERE CAST(ts AS DATE) = DATE '$PruneDay'
       |  AND user_id IS NOT NULL AND user_id <= $UserCap
       |GROUP BY 1""".stripMargin
}
