package graft.ads

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.Exprs._
import graft.func.Ranks
import graft.func.Materialize.MatOps

/** ADS layer: the reference's query surface — the MyBatis @Select
  * ClickHouse SQL behind the Sugar dashboard REST API
  * (gmall-publisher2 mapper @Select files, controller/SugarController.java;
  * SURVEY.md §2.7 Q1–Q10). Each becomes a named DataFrame query; the
  * ClickHouse functions map to Spark builtins (toYYYYMMDD→date_format,
  * toHour→hour, multiIf→when chains).
  *
  * All are aggregations over pre-joined facts; every one is a single
  * scan + hash aggregate (+ broadcast dim join where needed) — the
  * shapes that scale linearly with input at 100 TB.
  */
object Queries {
  /** Q1: GMV per day (toYYYYMMDD(stt) grouping,
    * ProductStatsMapper.java:19 — parameterless variant groups all
    * days). */
  def gmvDay(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyyMMdd").as("dt"))
      .agg(sumCents(col("o_totalprice")).as("order_amount_cents"))
      .orderBy("dt")

  val gmvDayOracle: String =
    """SELECT strftime(o_orderdate, '%Y%m%d') AS dt,
      |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS order_amount_cents
      |FROM orders GROUP BY 1 ORDER BY dt""".stripMargin

  /** Q2: top-N trademarks by amount (having sum>0, desc, limit —
    * ProductStatsMapper.java:25-28). tm ↔ p_brand. */
  def topTrademark(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    Tables.lineitem(spark, dir)
      .join(p, col("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand").as("tm_id"))
      .agg(sumCents(col("l_extendedprice")).as("order_amount_cents"))
      .filter(col("order_amount_cents") > 0)
      .orderBy(col("order_amount_cents").desc, col("tm_id"))
      .limit(10)
  }

  val topTrademarkOracle: String =
    """SELECT p_brand AS tm_id,
      |       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS order_amount_cents
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1 HAVING sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) > 0
      |ORDER BY order_amount_cents DESC, tm_id LIMIT 10""".stripMargin

  /** Q3: top-N category3 (ProductStatsMapper.java:33-36). ↔ p_type. */
  def topCategory(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    Tables.lineitem(spark, dir)
      .join(p, col("l_partkey") === p("p_partkey"))
      .groupBy(col("p_type").as("category3_name"))
      .agg(sumCents(col("l_extendedprice")).as("order_amount_cents"))
      .filter(col("order_amount_cents") > 0)
      .orderBy(col("order_amount_cents").desc, col("category3_name"))
      .limit(10)
  }

  val topCategoryOracle: String =
    """SELECT p_type AS category3_name,
      |       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS order_amount_cents
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1 HAVING sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) > 0
      |ORDER BY order_amount_cents DESC, category3_name LIMIT 10""".stripMargin

  /** Q4: top-N SPU with amount + order count
    * (ProductStatsMapper.java:42-45). spu ↔ supplier. */
  def topSpu(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir)
    Tables.lineitem(spark, dir)
      .join(s, col("l_suppkey") === s("s_suppkey"))
      .groupBy(col("s_name").as("spu_name"))
      .agg(
        sumCents(col("l_extendedprice")).as("order_amount_cents"),
        countDistinct(col("l_orderkey")).as("order_ct"))
      .orderBy(col("order_amount_cents").desc, col("spu_name"))
      .limit(10)
  }

  val topSpuOracle: String =
    """SELECT s_name AS spu_name,
      |       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS order_amount_cents,
      |       count(DISTINCT l_orderkey) AS order_ct
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY 1 ORDER BY order_amount_cents DESC, spu_name LIMIT 10""".stripMargin

  /** Q5: visitor stats by new-visitor flag (VisitorStatsMapper.java:14-16);
    * is_new derived per the T1 repair. */
  def visitorByNewFlag(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstDay = min(to_date(col("ts")))
      .over(Window.partitionBy(col("user_id")))
    Tables.events(spark, dir)
      .withColumn("is_new",
        when(to_date(col("ts")) === firstDay, 1).otherwise(0).cast("int"))
      .groupBy(col("is_new"))
      .agg(
        count(lit(1)).as("pv_ct"),
        countDistinct(col("user_id")).as("uv_ct"),
        sumCents(col("value")).as("dur_sum_cents"))
      .orderBy("is_new")
  }

  val visitorByNewFlagOracle: String =
    """WITH t AS (
      |  SELECT *, CAST(CASE WHEN CAST(ts AS DATE) =
      |                min(CAST(ts AS DATE)) OVER (PARTITION BY user_id)
      |           THEN 1 ELSE 0 END AS INTEGER) AS is_new
      |  FROM events)
      |SELECT is_new, count(*) AS pv_ct, count(DISTINCT user_id) AS uv_ct,
      |       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS dur_sum_cents
      |FROM t GROUP BY 1 ORDER BY is_new""".stripMargin

  /** Q6: hourly visitor curve with conditional aggregation
    * (sum(if(...)) — VisitorStatsMapper.java:24-27). */
  def hourlyCurve(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(hour(col("ts")).as("hr"))
      .agg(
        sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("new_uv"),
        count(lit(1)).as("pv_ct"),
        sumCents(col("value")).as("dur_sum_cents"))
      .orderBy("hr")

  val hourlyCurveOracle: String =
    """SELECT CAST(hour(ts) AS INTEGER) AS hr,
      |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS new_uv,
      |       count(*) AS pv_ct,
      |       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS dur_sum_cents
      |FROM events GROUP BY 1 ORDER BY hr""".stripMargin

  /** Q7: weighted keyword ranking — sum(ct × multiIf(source…))
    * (KeywordStatsMapper.java:16-21; weights SEARCH 10 / ORDER 3 /
    * CART 2 / CLICK 1). Runs over the U2 C2R rows. */
  def keywordRanking(spark: SparkSession, dir: String): DataFrame = {
    val weight = when(col("source") === "SEARCH", 10L)
      .when(col("source") === "ORDER", 3L)
      .when(col("source") === "CART", 2L)
      .when(col("source") === "CLICK", 1L)
      .otherwise(0L)
    graft.dws.KeywordStats.productC2R(spark, dir)
      .groupBy(col("keyword"))
      .agg(sum(col("ct") * weight).as("score"))
      .orderBy(col("score").desc, col("keyword"))
      .limit(20)
  }

  val keywordRankingOracle: String =
    """WITH m AS (
      |  SELECT p_brand AS keyword,
      |         count(*) AS click_ct,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS cart_ct,
      |         count(DISTINCT l_orderkey) AS order_ct
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY p_brand),
      |c2r AS (
      |  SELECT keyword, source, ct FROM (
      |    SELECT keyword, 'CLICK' AS source, click_ct AS ct FROM m
      |    UNION ALL SELECT keyword, 'CART', cart_ct FROM m
      |    UNION ALL SELECT keyword, 'ORDER', order_ct FROM m)
      |  WHERE ct > 0)
      |SELECT keyword,
      |       CAST(sum(ct * CASE source WHEN 'SEARCH' THEN 10 WHEN 'ORDER' THEN 3
      |                     WHEN 'CART' THEN 2 WHEN 'CLICK' THEN 1 ELSE 0 END) AS BIGINT) AS score
      |FROM c2r GROUP BY keyword
      |ORDER BY score DESC, keyword LIMIT 20""".stripMargin

  /** Q8: province order map (ProvinceStatsMapper.java:14-16). */
  def provinceMap(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    Tables.orders(spark, dir)
      .join(c, col("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(
        col("n_nationkey").cast("int").as("province_id"),
        col("n_name").as("province_name"))
      .agg(sumCents(col("o_totalprice")).as("order_amount_cents"))
      .orderBy("province_id")
  }

  val provinceMapOracle: String =
    """SELECT CAST(n_nationkey AS INTEGER) AS province_id,
      |       n_name AS province_name,
      |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS order_amount_cents
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1, 2 ORDER BY province_id""".stripMargin

  /** Q9: derived ratios with zero-guard (bounce rate, dwell/session,
    * pages/session — bean/VisitorStats.java:37-66). floor-scaled so the
    * doubles are engine-portable. */
  def visitorRatios(spark: SparkSession, dir: String): DataFrame = {
    val vs = graft.dws.VisitorStats(spark, dir)
      .groupBy(col("ch"))
      .agg(
        sum(col("pv_ct")).as("pv"),
        sum(col("sv_ct")).as("sv"),
        sum(col("uj_ct")).as("uj"))
    vs.select(
        col("ch"),
        ratio(col("uj") * 100, col("sv")).as("uj_rate"),
        ratio(col("pv"), col("sv")).as("pv_per_sv"))
      .orderBy("ch")
  }

  val visitorRatiosOracle: String =
    """WITH flagged AS (
      |  SELECT user_id, event_type, ts,
      |         epoch_ms(ts) AS ts_ms,
      |         lag(epoch_ms(ts)) OVER w AS prev_ms,
      |         lead(epoch_ms(ts)) OVER w AS next_ms
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |vs AS (
      |  SELECT event_type AS ch,
      |         count(*) AS pv,
      |         CAST(sum(CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS sv,
      |         CAST(sum(CASE WHEN (prev_ms IS NULL OR ts_ms - prev_ms > 1800000)
      |                   AND (next_ms IS NULL OR next_ms - ts_ms > 1800000)
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS uj
      |  FROM flagged GROUP BY 1)
      |SELECT ch,
      |       CASE WHEN sv = 0 THEN 0.0
      |            ELSE floor(CAST(uj*100 AS DOUBLE) * 100 / CAST(sv AS DOUBLE)) / 100 END AS uj_rate,
      |       CASE WHEN sv = 0 THEN 0.0
      |            ELSE floor(CAST(pv AS DOUBLE) * 100 / CAST(sv AS DOUBLE)) / 100 END AS pv_per_sv
      |FROM vs ORDER BY ch""".stripMargin

  /** Q10: hour back-fill 0..23 (SugarController.java:82-108) — left
    * join the full hour range so missing hours appear as zeros. */
  def hourBackfill(spark: SparkSession, dir: String): DataFrame = {
    val hours = spark.range(24).select(col("id").cast("int").as("hr"))
    val purchases = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("purchase_ct"))
    hours.join(purchases, Seq("hr"), "left")
      .select(col("hr"), coalesce(col("purchase_ct"), lit(0L)).as("purchase_ct"))
      .orderBy("hr")
  }

  val hourBackfillOracle: String =
    """SELECT CAST(h.range AS INTEGER) AS hr,
      |       coalesce(p.purchase_ct, 0) AS purchase_ct
      |FROM range(24) h
      |LEFT JOIN (SELECT CAST(hour(ts) AS INTEGER) AS hr, count(*) AS purchase_ct
      |           FROM events WHERE event_type = 'purchase' GROUP BY 1) p
      |  ON CAST(h.range AS INTEGER) = p.hr
      |ORDER BY hr""".stripMargin

  /** Top-3 part brands per region by lineitem revenue — the per-group
    * top-N the reference's global top-Ns (Q2–Q4) never compose: a
    * snowflake join chain lineitem → supplier → nation → region (+
    * part for the brand), then rank-within-group.
    *
    * Scale shape: supplier/nation/region are bounded dims — broadcast
    * hints; part is sf-scaled, so AQE decides its side (the Q2
    * precedent). The ONE corpus-scale shuffle is the (region, brand)
    * aggregate; the row_number window then runs over the aggregated
    * ≤ |regions|·|brands| table, partitioned by region — never over
    * fact rows. */
  def topBrandRegion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_regionkey")
    val r = Tables.region(spark, dir).select("r_regionkey", "r_name")
    val p = Tables.part(spark, dir).select("p_partkey", "p_brand")
    val rev = Tables.lineitem(spark, dir)
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("r_name").as("region"), col("p_brand").as("brand"))
      .agg(sumCents(col("l_extendedprice")).as("revenue_cents"))
    val w = Window.partitionBy("region")
      .orderBy(col("revenue_cents").desc, col("brand"))
    rev.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
  }

  val topBrandRegionOracle: String =
    """WITH rev AS MATERIALIZED (
      |  SELECT r_name AS region, p_brand AS brand,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS revenue_cents
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2)
      |SELECT region, brand, revenue_cents,
      |       CAST(row_number() OVER (PARTITION BY region
      |              ORDER BY revenue_cents DESC, brand) AS BIGINT) AS rnk
      |FROM rev QUALIFY rnk <= 3""".stripMargin

  /** Day-over-day GMV growth — Q1's curve with a lag window on top:
    * (dt, gmv_cents, prev_cents, diff_cents, growth_ppm). growth_ppm
    * is exact integer millionths, sign-split so BOTH engines truncate
    * toward zero (Spark `div` truncates, DuckDB `//` floors — they
    * only agree when every DIV operand is non-negative); null on the
    * first day and on a zero base.
    *
    * Scale shape: the lag window runs UNPARTITIONED — over the
    * already-aggregated per-day table, which is calendar-bounded
    * (O(3k) rows for a decade), not corpus-scaled; the real shuffle is
    * the day aggregate, map-side combined. */
  def gmvGrowth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyyMMdd").as("dt"))
      .agg(sumCents(col("o_totalprice")).as("gmv_cents"))
    daily
      .withColumn("prev_cents", lag("gmv_cents", 1).over(Window.orderBy("dt")))
      .withColumn("diff_cents", col("gmv_cents") - col("prev_cents"))
      .withColumn("growth_ppm",
        when(col("prev_cents").isNull || col("prev_cents") === 0L,
          lit(null).cast("long"))
          .when(col("diff_cents") >= 0L,
            expr("(1000000 * diff_cents) DIV prev_cents"))
          .otherwise(-expr("(1000000 * (-diff_cents)) DIV prev_cents")))
      .orderBy("dt")
  }

  val gmvGrowthOracle: String =
    """WITH d AS MATERIALIZED (
      |  SELECT strftime(o_orderdate, '%Y%m%d') AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS gmv_cents
      |  FROM orders GROUP BY 1),
      |l AS (SELECT dt, gmv_cents,
      |             lag(gmv_cents) OVER (ORDER BY dt) AS prev_cents FROM d)
      |SELECT dt, gmv_cents, prev_cents,
      |       gmv_cents - prev_cents AS diff_cents,
      |       CAST(CASE WHEN prev_cents IS NULL OR prev_cents = 0 THEN NULL
      |            WHEN gmv_cents >= prev_cents
      |              THEN (1000000 * (gmv_cents - prev_cents)) // prev_cents
      |            ELSE -((1000000 * (prev_cents - gmv_cents)) // prev_cents)
      |       END AS BIGINT) AS growth_ppm
      |FROM l ORDER BY dt""".stripMargin

  /** Coarse band width (cents) for the monetary quintile's rank key —
    * bounds the offsets frame by the VALUE domain (≈ max lifetime
    * spend / $1000), not the customer count. */
  val RfmMonetaryBandCents = 100000L

  /** RFM customer segmentation: per customer, recency (days since
    * last order, against the corpus max date), frequency (order
    * count), monetary (lifetime cents), each cut into quintiles —
    * bit-identical to `ntile(5)` with a custkey tiebreak (1 = best —
    * most recent / most frequent / highest spend), plus the composite
    * 3-digit segment.
    *
    * Scale shape: the corpus-scale work is a per-customer aggregate
    * (map-side combined). The quintiles do NOT use global ntile
    * windows (a single-partition sort of every customer, three
    * times); each is [[Ranks.perRow]]'s distributed rank
    * (keys: recency_days / frequency — value-domain-bounded — and a
    * [[RfmMonetaryBandCents]]-wide monetary band). ntile is then pure
    * positional arithmetic on (rank, total): the first n%5 buckets
    * take n/5+1 rows, the rest n/5 — so the only corpus-sized
    * exchanges are hash partitionings on the rank keys. */
  def rfm(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(max(col("o_orderdate")).as("last_dt"),
        count(lit(1)).as("frequency"),
        sumCents(col("o_totalprice")).as("monetary_cents"))
    // anchor from the FACT table, not from `per`: max over customers'
    // maxes equals the global max, and aggregating `per` again would
    // duplicate the per-customer exchange in the plan
    val anchor = Tables.orders(spark, dir)
      .agg(max(col("o_orderdate")).as("anchor_dt"))
    val base = per.crossJoin(broadcast(anchor))
      .withColumn("recency_days",
        datediff(col("anchor_dt"), col("last_dt")).cast("long"))
      .withColumn("_mband",
        expr(s"monetary_cents DIV $RfmMonetaryBandCents"))
    val r = rfmQuintile(base, "recency_days", asc = true,
      Seq(col("custkey")), "r_bin")
    val f = rfmQuintile(r, "frequency", asc = false,
      Seq(col("custkey")), "f_bin")
    val m = rfmQuintile(f, "_mband", asc = false,
      Seq(col("monetary_cents").desc, col("custkey")), "m_bin")
    m
      .withColumn("segment",
        col("r_bin") * 100L + col("f_bin") * 10L + col("m_bin"))
      .select("custkey", "recency_days", "frequency", "monetary_cents",
        "r_bin", "f_bin", "m_bin", "segment")
  }

  /** Exact distributed quintile step for [[rfm]]: the global rank by
    * (key, within...) from [[Ranks.perRow]], then
    * positional ntile(5) arithmetic (QueriesSpec asserts the plan
    * shape on this step directly). `asc` orients the key; `within`
    * finishes the total order inside one key value.
    *
    * LAZY localCheckpoint on the input: each quintile reads it TWICE
    * (offset branch + rank join), so three chained quintiles doubled
    * the logical plan per step — 2³ = 8 copies of the per-customer
    * aggregate, 16 orders scans and 29 Exchanges in the r20 plan
    * audit. Checkpointing the step input pins each doubling to one
    * cached frame (the copurchasePairs device); wall 2.81 s → ~1.6 s
    * at sf0.1, answers unchanged. Package-private so the spec can
    * assert each step's keyed-window shape, which the checkpoint
    * boundaries hide from the composed query's final plan. */
  private[ads] def rfmQuintile(df0: DataFrame, key: String, asc: Boolean,
      within: Seq[org.apache.spark.sql.Column], out: String): DataFrame =
    Ranks.perRow(df0.matLazily, key, asc, within,
        rank = "_rn", size = "_n")
      .withColumn(out, expr(
        """CASE WHEN _rn <= (_n DIV 5 + 1) * (_n % 5)
          |  THEN (_rn - 1) DIV (_n DIV 5 + 1) + 1
          |  ELSE _n % 5 + (_rn - (_n DIV 5 + 1) * (_n % 5) - 1)
          |         DIV greatest(_n DIV 5, 1) + 1 END""".stripMargin)
        .cast("long"))
      .drop("_n", "_rn")

  /** Market-basket co-purchase pairs: distinct part pairs bought in
    * the same order, support-counted, the top pairs ranked (support
    * desc, then part keys — fully deterministic).
    *
    * Scale shape: NO self-join — the per-order part set is collected
    * into a sorted array (orders are small: ≤ dozens of lines, so the
    * array is bounded) and pairs expand array-side, which costs one
    * shuffle on `l_orderkey` instead of joining the fact table to
    * itself; pa < pb falls out of the sort order for free. The pair
    * count is a second map-side-combined aggregate, and the global
    * top-k plans as TakeOrderedAndProject (per-partition heaps, no
    * full sort exchange — plan-asserted in the spec). */
  def copurchase(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps)),
          |            y -> struct(x AS pa, y AS pb))))""".stripMargin))
        .as("g"))
      .select(col("g.pa").as("pa"), col("g.pb").as("pb"))
    val sup = pairs.groupBy("pa", "pb").agg(count(lit(1)).as("support"))
      .filter(col("support") >= CopurchaseMinSupport)
    val ord = Seq(col("support").desc, col("pa").asc, col("pb").asc)
    sup.orderBy(ord: _*).limit(CopurchaseTopC)
      // rank over the already-LIMITed frame (constant-size formality)
      .withColumn("rnk", row_number().over(Window.orderBy(ord: _*)).cast("long"))
      .select("rnk", "pa", "pb", "support")
  }

  /** Pairs seen in fewer orders than this are noise, not affinity. */
  val CopurchaseMinSupport = 2L
  /** Ranked co-purchase pairs returned. */
  val CopurchaseTopC = 100

  val copurchaseOracle: String =
    s"""WITH it AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |sup AS MATERIALIZED (
       |  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
       |         CAST(count(*) AS BIGINT) AS support
       |  FROM it a JOIN it b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= $CopurchaseMinSupport)
       |SELECT CAST(row_number() OVER (ORDER BY support DESC, pa, pb) AS BIGINT)
       |         AS rnk, pa, pb, support
       |FROM sup ORDER BY support DESC, pa, pb LIMIT $CopurchaseTopC"""
      .stripMargin

  val rfmOracle: String =
    """WITH per AS MATERIALIZED (
      |  SELECT o_custkey AS custkey, max(o_orderdate) AS last_dt,
      |         CAST(count(*) AS BIGINT) AS frequency,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS monetary_cents
      |  FROM orders GROUP BY 1),
      |a AS (SELECT max(o_orderdate) AS anchor_dt FROM orders),
      |b AS (SELECT custkey,
      |             CAST(date_diff('day', CAST(last_dt AS DATE),
      |                            CAST(anchor_dt AS DATE)) AS BIGINT) AS recency_days,
      |             frequency, monetary_cents
      |      FROM per, a),
      |s AS (SELECT custkey, recency_days, frequency, monetary_cents,
      |        CAST(ntile(5) OVER (ORDER BY recency_days, custkey) AS BIGINT) AS r_bin,
      |        CAST(ntile(5) OVER (ORDER BY frequency DESC, custkey) AS BIGINT) AS f_bin,
      |        CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, custkey) AS BIGINT) AS m_bin
      |      FROM b)
      |SELECT custkey, recency_days, frequency, monetary_cents,
      |       r_bin, f_bin, m_bin,
      |       r_bin * 100 + f_bin * 10 + m_bin AS segment
      |FROM s""".stripMargin
}
