package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-generated test tables (TESTDATA.md).
  *
  * Every board query ([[SparkEntry]]) is a pure `(SparkSession, sfDir)
  * => DataFrame` function; the operators behind them are frame
  * transforms, and these loaders are the only place paths are built.
  * Reads are plain parquet scans so Catalyst predicate pushdown and
  * column pruning apply end-to-end (check `PushedFilters` /
  * `ReadSchema` in `.explain("formatted")`).
  *
  * Reference mapping (FIXTURES.md §B): `events` stands in for the
  * behavior-log stream (reference `ods_base_log`,
  * gmall-time/.../app/dwd2/BaseLogApp2.java:61), `orders`/`lineitem`
  * for the order_info/order_detail CDC facts
  * (gmall-time/.../app/dwm2/OrderWideApp2.java:95-100), and
  * `customer`/`nation`/`region`/`part`/`supplier` for the HBase/Phoenix
  * dimension tables (gmall-time/.../utils/DimUtil.java:18-43).
  */
object Tables {
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` has shipped in two parquet encodings across driver
    * testdata generations: TIMESTAMP(NANOS) (which Spark 4 refuses to
    * read natively — read as LONG nanos and floor-divide to micros,
    * the same truncation DuckDB applies) and plain TIMESTAMP(MICROS)
    * (read natively as TIMESTAMP_NTZ). Normalize both to session-TZ
    * TIMESTAMP (UTC everywhere in this project) so `epoch_ms(ts)`
    * agrees with the DuckDB oracle either way. Integer DIV (not `/`)
    * on the nanos path because epoch nanos ≈ 1.7e18 exceeds double's
    * 2^53 exact range. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The TIMESTAMP_NTZ→TIMESTAMP fallback below is session-TZ-dependent.
    // FAIL FAST instead of silently mutating session state: a caller
    // that deliberately runs another TZ would otherwise have every
    // later timestamp expression in unrelated queries shift under it
    // (review r9). Every repo entry point pins UTC at session build.
    require(s.conf.get("spark.sql.session.timeZone") == "UTC",
      "Tables.events requires spark.sql.session.timeZone=UTC " +
        "(the TIMESTAMP_NTZ fallback cast is session-TZ-dependent)")
    normalizeTs(read(s, d, "events"))
  }

  /** The encoding dispatch for `events.ts`, shared by the batch reader
    * above and [[graft.streaming.StreamJobs.eventsStream]] so both
    * paths accept either testdata generation. */
  def normalizeTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = read(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
