package graft.dwm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.Exprs._

/** DWM wide-fact assembly: the reference's OrderWideApp2 /
  * PaymentWideApp2 — interval joins between fact streams plus six
  * async dimension enrichments (reference
  * gmall-time/.../app/dwm2/OrderWideApp2.java:171-322,
  * PaymentWideApp2.java:71-82).
  *
  * Spark-first:
  *  - J1 interval join (order×detail, |Δt| bounded) = equi-join on the
  *    order key plus a range predicate. The equi key drives a sort-merge
  *    join; the range predicate filters matched pairs — no custom
  *    operator needed, and AQE handles skewed order keys.
  *  - J3 async dim lookups (per-record Phoenix RPC + Redis cache in the
  *    reference) = broadcast hash joins: the dim IS the cache, shipped
  *    once per executor, no RPC, no thread pool
  *    (DimAsyncFunction.java:34-92 collapses to `broadcast(dim)`).
  *  - J2 payment×order [-30 min, 0] = same equi+range shape.
  *
  * Table mapping (FIXTURES.md §B): orders↔order_info,
  * lineitem↔order_detail, customer↔DIM_USER_INFO, nation↔province,
  * part↔DIM_SKU_INFO, supplier↔DIM_SPU_INFO.
  */
object OrderWide {
  /** J1 bound: detail ships within this many ms of the order (the
    * reference's ±5 ms, scaled to the testdata's day-granular dates). */
  val ShipBoundMs: Long = 90L * 24 * 3600 * 1000 // 90 days

  /** Internal wide join carrying every column later stages need — built
    * once so enrichment does not re-join the fact. */
  private def wide(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    o.join(l,
        o("o_orderkey") === l("l_orderkey") &&
        abs(epochMs(l("l_shipdate")) - epochMs(o("o_orderdate"))) <= ShipBoundMs)
      .select(
        col("l_orderkey").as("order_id"),
        col("l_linenumber").cast("int").as("detail_id"),
        col("o_custkey").as("user_id"),
        col("l_partkey").as("sku_id"),
        col("l_suppkey").as("supp_id"),
        cents(col("l_quantity")).as("sku_num_x100"),
        cents(col("l_extendedprice")).as("split_total_amount_cents"),
        cents(col("o_totalprice")).as("total_amount_cents"),
        epochMs(col("o_orderdate")).as("create_ts"))
  }

  /** J1: order×detail interval join → order_wide. */
  def apply(spark: SparkSession, dir: String): DataFrame =
    wide(spark, dir).drop("supp_id")

  val oracle: String =
    s"""SELECT l_orderkey AS order_id,
       |       CAST(l_linenumber AS INTEGER) AS detail_id,
       |       o_custkey AS user_id,
       |       l_partkey AS sku_id,
       |       CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS sku_num_x100,
       |       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS split_total_amount_cents,
       |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS total_amount_cents,
       |       epoch_ms(o_orderdate) AS create_ts
       |FROM orders JOIN lineitem
       |  ON o_orderkey = l_orderkey
       | AND abs(epoch_ms(l_shipdate) - epoch_ms(o_orderdate)) <= $ShipBoundMs""".stripMargin

  /** J3: order_wide enriched with SIX independent dimension joins —
    * user, province, sku, spu, category3, trademark — mirroring the
    * reference's six chained async enrichments
    * (OrderWideApp2.java:190-322). category3/trademark are standalone
    * dim tables derived from the sku dim's attributes (the star-schema
    * mapping has no separate files for them), each with its own
    * deterministic surrogate key and its own broadcast join, so all
    * six joins exist as genuine plan nodes. Derived age: the reference
    * computes it from BIRTHDAY (:199-216); customer has no birthday so
    * age is a deterministic function of the user key — same operator
    * shape, reproducible oracle. */
  def withDims(spark: SparkSession, dir: String): DataFrame = {
    val ow = wide(spark, dir)
    val c  = Tables.customer(spark, dir)
    val n  = Tables.nation(spark, dir)
    val p  = Tables.part(spark, dir)
    val s  = Tables.supplier(spark, dir)
    // standalone category3/trademark dims with md5-derived surrogate ids
    val cat3 = p.select(col("p_type").as("c3_name")).distinct()
      .withColumn("c3_id", md5Nibbles(col("c3_name"), 12))
    val tm = p.select(col("p_brand").as("tm_name")).distinct()
      .withColumn("tm_key", md5Nibbles(col("tm_name"), 12))

    // broadcast() hints only on the genuinely bounded sides: nation is
    // fixed-size (25 rows at ANY sf), and cat3/tm are distinct-value
    // projections bounded by the attribute domain. part/supplier scale
    // LINEARLY with sf (like customer) — AQE decides those at runtime.
    ow.join(c, col("user_id") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(p, col("sku_id") === p("p_partkey"))
      .join(s, col("supp_id") === s("s_suppkey"))
      .join(broadcast(cat3), p("p_type") === cat3("c3_name"))
      .join(broadcast(tm), p("p_brand") === tm("tm_name"))
      .select(
        col("order_id"), col("detail_id"), col("user_id"),
        (lit(18) + col("user_id") % 50).cast("int").as("user_age"),
        col("n_nationkey").cast("int").as("province_id"),
        col("n_name").as("province_name"),
        col("sku_id"), col("p_name").as("sku_name"),
        col("tm_key").as("tm_id"), col("tm_name"),
        col("c3_id").as("category3_id"), col("c3_name").as("category3_name"),
        col("s_name").as("spu_name"),
        col("split_total_amount_cents"))
  }

  /** DuckDB lacks conv(); the surrogate ids are rebuilt from md5 hex
    * nibbles (same 48-bit value). */
  private def hexIdSql(arg: String): String = {
    val nib = (1 to 12).map(k =>
      s"(instr('0123456789abcdef', substr(md5($arg), $k, 1)) - 1) * ${1L << (4 * (12 - k))}")
      .mkString(" + ")
    s"CAST($nib AS BIGINT)"
  }

  val withDimsOracle: String =
    s"""SELECT l_orderkey AS order_id,
       |       CAST(l_linenumber AS INTEGER) AS detail_id,
       |       o_custkey AS user_id,
       |       CAST(18 + o_custkey % 50 AS INTEGER) AS user_age,
       |       CAST(n_nationkey AS INTEGER) AS province_id,
       |       n_name AS province_name,
       |       l_partkey AS sku_id,
       |       p_name AS sku_name,
       |       ${hexIdSql("p_brand")} AS tm_id,
       |       p_brand AS tm_name,
       |       ${hexIdSql("p_type")} AS category3_id,
       |       p_type AS category3_name,
       |       s_name AS spu_name,
       |       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS split_total_amount_cents
       |FROM orders
       |JOIN lineitem ON o_orderkey = l_orderkey
       | AND abs(epoch_ms(l_shipdate) - epoch_ms(o_orderdate)) <= $ShipBoundMs
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation   ON c_nationkey = n_nationkey
       |JOIN part     ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey""".stripMargin

  /** J2: payment×order interval join with the asymmetric [-30 min, 0]
    * bound (payment within 30 min AFTER the order,
    * PaymentWideApp2.java:76). Payments are derived deterministically
    * from orders (FIXTURES.md §B): pay_ts = order_ts + (key mod 3600) s,
    * so the bound genuinely filters (~half the orders qualify). */
  def paymentWide(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val pay = o.select(
      col("o_orderkey").as("payment_order_id"),
      (epochMs(col("o_orderdate")) + (col("o_orderkey") % 3600) * 1000)
        .as("pay_ts"),
      cents(col("o_totalprice")).as("payment_amount_cents"))
    val ow = o.select(
      col("o_orderkey").as("order_id"),
      col("o_custkey").as("user_id"),
      epochMs(col("o_orderdate")).as("order_ts"))

    pay.join(ow,
        col("payment_order_id") === col("order_id") &&
        col("order_ts") >= col("pay_ts") - 1800000L &&
        col("order_ts") <= col("pay_ts"))
      .select(col("order_id"), col("user_id"), col("pay_ts"),
        col("order_ts"), col("payment_amount_cents"))
  }

  val paymentWideOracle: String =
    """WITH pay AS (
      |  SELECT o_orderkey AS payment_order_id,
      |         epoch_ms(o_orderdate) + (o_orderkey % 3600) * 1000 AS pay_ts,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS payment_amount_cents
      |  FROM orders),
      |ow AS (
      |  SELECT o_orderkey AS order_id, o_custkey AS user_id,
      |         epoch_ms(o_orderdate) AS order_ts
      |  FROM orders)
      |SELECT order_id, user_id, pay_ts, order_ts, payment_amount_cents
      |FROM pay JOIN ow ON payment_order_id = order_id
      | AND order_ts >= pay_ts - 1800000 AND order_ts <= pay_ts""".stripMargin
}
