package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sink layer: the Spark-batch restatement of the reference's four
  * write paths.
  *
  *  - [[writeDedupLatest]] — K3/K4: the Phoenix upsert + ClickHouse
  *    ReplacingMergeTree contract (keep the max-ts row per key;
  *    re-writing the same batch is a no-op — idempotent stores,
  *    reference gmall-time/.../utils/ClickHouseUtil.java:18-20 and
  *    app/func/DimSink.java:41-93). One hash shuffle on the key;
  *    `overwrite` makes replays idempotent.
  *  - [[writeRouted]] — K2: the dynamic-topic Kafka sink
  *    (per-record topic from a routing column,
  *    utils/MyKafkaUtil.java:38-44) as a `partitionBy` parquet write:
  *    one pass, one directory per "topic", no per-topic re-scan.
  *  - [[writeDropTransient]] — K4's `@TransientSink` column skip
  *    (bean/TransientSink.java:16-19): drop helper columns at the
  *    sink boundary instead of annotating beans.
  */
object Sinks {
  /** Keep-latest upsert write: among rows sharing `keys`, only the one
    * with the highest `tsCol` (ties → highest payload, see
    * [[dedupLatest]]) survives, then overwrite `path`. */
  def writeDedupLatest(df: DataFrame, keys: Seq[String], tsCol: String,
      path: String): Unit =
    dedupLatest(df, keys, tsCol).write.mode("overwrite").parquet(path)

  /** The dedup transform alone (unit-testable without IO).
    *
    * Tie-break on ts is by the remaining DATA columns (descending, in
    * frame order) — a replay of the same batch keeps the same row under
    * ANY partition layout, which the ReplacingMergeTree/upsert contract
    * requires (reference ClickHouseUtil.java:18-20). A
    * `monotonically_increasing_id()` tie-break would be partitioning-
    * dependent and could keep different payloads on re-run. Payload
    * columns must be orderable (no maps) — true for every sink row
    * shape here. */
  def dedupLatest(df: DataFrame, keys: Seq[String], tsCol: String): DataFrame = {
    val payload = df.columns.filterNot(c => keys.contains(c) || c == tsCol)
    val ordering = col(tsCol).desc +: payload.toIndexedSeq.map(col(_).desc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Dynamic-topic fan-out: one write partitioned by the routing
    * column — `path/<routeCol>=<topic>/part-*.parquet`. */
  def writeRouted(df: DataFrame, routeCol: String, path: String): Unit =
    df.write.mode("overwrite").partitionBy(routeCol).parquet(path)

  /** Drop transient (not-for-sink) columns before a write. */
  def writeDropTransient(df: DataFrame, transientCols: Seq[String],
      path: String): Unit =
    df.drop(transientCols: _*).write.mode("overwrite").parquet(path)

  /** Bucketed table write: pre-shuffles once at write time so later
    * equi-joins and aggregations on `bucketCols` are co-located — no
    * Exchange at read time. The 100-TB pattern for fact↔fact joins
    * that repeat every run (e.g. orders×lineitem on the order key):
    * pay the shuffle once, amortize it across every downstream query.
    *
    * The `repartition(buckets, bucketCols)` before the write is
    * load-bearing twice over. (1) Small files: each writer task opens
    * one file PER bucket it holds rows for, so w tasks × b buckets
    * sprays w·b files; repartitioning on the bucket hash (the same
    * Murmur3 `HashPartitioning` bucketing uses) routes each bucket's
    * rows to ONE task — exactly b files. (2) Sort elimination: a
    * scan can only report the `sortBy` ordering when each bucket
    * holds at most one file (across files the order is unknowable).
    * Spark 3+ additionally gates reporting it behind
    * `spark.sql.legacy.bucketedTableScan.outputOrdering` (off by
    * default — SPARK-28632 judged the forced one-file-per-bucket
    * read a bad trade for most tables); with this layout the flag's
    * precondition genuinely holds, and enabling it yields an SMJ
    * with NEITHER Exchange NOR Sort (both asserted in SinksSpec).
    *
    * The trade (r17-ADVICE): the repartition also CAPS write
    * parallelism at exactly `buckets` tasks — one writer per bucket —
    * so a large fact written at a small bucket count serializes the
    * write and concentrates each bucket's rows in one task's memory.
    * Pick `buckets` with write parallelism and per-task volume in
    * mind (at 100 TB that means hundreds-to-thousands of buckets,
    * never single digits); a caller that prefers many files per
    * bucket over one can write `df` through `bucketBy` directly and
    * accept the w×b file spray this helper exists to avoid. */
  def writeBucketed(df: DataFrame, bucketCols: Seq[String], buckets: Int,
      table: String): Unit =
    df.repartition(buckets, bucketCols.map(col): _*)
      .write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Reset a managed table across JVMs: the in-memory catalog starts
    * empty each session, but the table's warehouse directory survives
    * — and `saveAsTable` refuses to create a managed table over a
    * non-empty leftover location (overwrite only applies to tables the
    * CATALOG knows). Drop both halves so the query is re-runnable. */
  private[graft] def resetManagedTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val base = java.nio.file.Paths.get(
      if (wh.startsWith("file:")) new java.net.URI(wh).getPath else wh)
    val loc = base.resolve(table.toLowerCase(java.util.Locale.ROOT))
    if (java.nio.file.Files.exists(loc)) {
      import java.util.Comparator
      java.nio.file.Files.walk(loc)
        .sorted(Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f): Unit)
    }
  }

  /** Driver-checkable bucketed-join query: orders and customer written
    * through [[writeBucketed]] on their join key (8 buckets), then
    * joined table-to-table and rolled up per nation. Bucketing must be
    * RESULT-INVISIBLE — the oracle is the plain join on the raw
    * parquet — while the physical plan joins bucket-to-bucket with no
    * shuffle exchange (asserted in SinksSpec; the pre-shuffled layout
    * is the 100-TB pattern for repeated joins on one key). */
  def bucketedJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.func.Exprs._
    resetManagedTable(spark, "graft_q_orders_b")
    resetManagedTable(spark, "graft_q_customer_b")
    writeBucketed(graft.Tables.orders(spark, dir)
        .select(col("o_custkey"), col("o_totalprice")),
      Seq("o_custkey"), 8, "graft_q_orders_b")
    writeBucketed(graft.Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey")),
      Seq("c_custkey"), 8, "graft_q_customer_b")
    spark.table("graft_q_orders_b")
      .join(spark.table("graft_q_customer_b"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("order_ct"),
        sumCents(col("o_totalprice")).as("amount_cents"))
  }

  val bucketedJoinOracle: String =
    """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS order_ct,
      |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS amount_cents
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY 1""".stripMargin

  /** K5: stats re-publish — the same frame written to its primary
    * store AND re-published for downstream SQL consumers (reference
    * app/dws2/ProductStatsApp.java:421-424). The input is computed
    * once (cache) and written twice. */
  def publishBoth(df: DataFrame, primaryPath: String,
      republishPath: String): Unit = {
    val cached = df.cache()
    try {
      // size-derived writer fan-out (r20-VERDICT task 6, guide §6
      // small files): the cache pins the frame's shuffle partitioning
      // (AQE cannot re-coalesce a cached plan), so an aggregate at 32
      // shuffle partitions wrote 32 near-empty files PER SINK — the
      // classic sink anti-pattern at scale. Materialize the cache
      // once, read its measured in-memory size off the relation stats,
      // and size to ceil(bytes / target) writer tasks — one file
      // per ~target bytes, derived from the data, no fixed constant,
      // and both sinks share the single materialization. (In-memory
      // bytes overestimate parquet bytes, so files land under the
      // target — the safe side.) An AQE `rebalance` hint was A/B'd in
      // r20 and REVERTED: its extra shuffle cost ~3× the write wall.
      cached.count(): Unit
      val bytes = cached.queryExecution.optimizedPlan.stats.sizeInBytes
      val targetFileBytes = 128L << 20
      val nFiles = ((bytes + targetFileBytes - 1) / targetFileBytes)
        .min(BigInt(1 << 15)).toInt.max(1)
      val sized = writerFanOut(cached, nFiles)
      sized.write.mode("overwrite").parquet(primaryPath)
      sized.write.mode("overwrite").parquet(republishPath)
    } finally cached.unpersist()
  }

  /** `df` at exactly `nFiles` writer tasks. `coalesce` only merges
    * partitions, so it cannot raise the count: a frame cached at fewer
    * partitions than its size calls for would silently keep its larger
    * files. Above the current count the frame is repartitioned (one
    * round-robin shuffle); at or below it, coalesced without one. */
  private[sinks] def writerFanOut(df: DataFrame, nFiles: Int): DataFrame =
    if (nFiles > df.rdd.getNumPartitions) df.repartition(nFiles)
    else df.coalesce(nFiles)

  /** Read back a routed "topic" (for tests and downstream jobs). */
  def readTopic(spark: SparkSession, path: String, routeCol: String,
      topic: String): DataFrame =
    spark.read.parquet(path).filter(col(routeCol) === topic)

  // ---------------------------------------------------------------------
  // Driver-checkable sink queries (K2–K5): each performs a REAL write →
  // read-back through the sink path and returns the read-back frame, so
  // the oracle compares durable state, not an in-memory transform.
  // ---------------------------------------------------------------------

  /** One temp directory per (tag, JVM) — [[graft.func.TempDirs.cached]].
    * The writes below are all mode("overwrite"), so re-running a sink
    * query (bench does warmup + two timed runs) re-writes the SAME
    * directory instead of leaking a fresh parquet tree per invocation —
    * timing then measures the write path, not filesystem accumulation. */
  private def tmpDir(tag: String): String =
    graft.func.TempDirs.cached(s"graft_sink_$tag")

  /** K3/K4 (q_sink_dedup_latest): three deterministic versions per
    * order — v1/v3 tie on the max ts, v2 trails — written through the
    * keep-latest sink and read back. The survivor per key is fully
    * determined by (ts desc, status desc, amount desc), so DuckDB can
    * state it with one row_number(). */
  def dedupLatestQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.func.Exprs._
    val dup = graft.Tables.orders(spark, dir)
      .select(
        col("o_orderkey").as("order_id"),
        epochMs(col("o_orderdate")).as("base_ts"),
        cents(col("o_totalprice")).as("base_cents"),
        explode(array(lit(1), lit(2), lit(3))).as("v"))
      .select(
        col("order_id"),
        (col("base_ts") + when(col("v") === 2, 0L).otherwise(1000L)).as("ts"),
        concat(lit("v"), col("v")).as("status"),
        (col("base_cents") + col("v")).as("amount_cents"))
    val path = tmpDir("dedup")
    writeDedupLatest(dup, Seq("order_id"), "ts", path)
    spark.read.parquet(path)
  }

  val dedupLatestOracle: String =
    """WITH dup AS (
      |  SELECT o_orderkey AS order_id,
      |         epoch_ms(o_orderdate) + CASE WHEN v = 2 THEN 0 ELSE 1000 END AS ts,
      |         'v' || CAST(v AS VARCHAR) AS status,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) + v AS amount_cents
      |  FROM orders, LATERAL (SELECT unnest([1, 2, 3]) AS v) u),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY order_id
      |            ORDER BY ts DESC, status DESC, amount_cents DESC) AS rn
      |  FROM dup)
      |SELECT order_id, ts, status, amount_cents FROM ranked WHERE rn = 1""".stripMargin

  /** K2 (q_sink_route): events fanned out to one directory per "topic"
    * (the dynamic-topic sink), read back whole, counted per topic —
    * proves the fan-out is lossless and the routing column survives as
    * partition metadata. */
  def routeQuery(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type").as("topic"))
    val path = tmpDir("route")
    writeRouted(events, "topic", path)
    // explicit schema: a partitionBy write of an EMPTY frame leaves no
    // data files (and no footers), so schema inference fails on the
    // read-back — an empty day of events must still round-trip
    // (DegenerateSpec). Non-empty reads are unchanged: the partition
    // column parses from the directory names against this schema.
    spark.read.schema(events.schema).parquet(path)
      .groupBy(col("topic").cast("string").as("topic"))
      .agg(count(lit(1)).as("row_ct"), countDistinct(col("user_id")).as("user_ct"))
  }

  val routeOracle: String =
    """SELECT event_type AS topic, count(*) AS row_ct,
      |       count(DISTINCT user_id) AS user_ct
      |FROM events GROUP BY 1""".stripMargin

  /** K5 (q_sink_republish): a stats frame written to its primary store
    * AND re-published; the read-back of the REPUBLISH copy must equal
    * the primary computation (the oracle recomputes it from source). */
  def republishQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.func.Exprs._
    val stats = graft.Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyyMMdd").as("dt"))
      .agg(sumCents(col("o_totalprice")).as("order_amount_cents"))
    val primary = tmpDir("primary")
    val republish = tmpDir("republish")
    publishBoth(stats, primary, republish)
    spark.read.parquet(republish)
  }

  val republishOracle: String =
    """SELECT strftime(o_orderdate, '%Y%m%d') AS dt,
      |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS order_amount_cents
      |FROM orders GROUP BY 1""".stripMargin
}
