package graft.func

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The distributed-rank device: exact global ranks, group sizes,
  * prefix sums and order statistics without a global sort. The rows
  * first collapse to an OFFSETS frame — one row per distinct
  * (partition, key) value with its row count and the count (and
  * weight) of the rows ordered before it — and the cumulative sums run
  * over that frame only. [[perRow]] broadcasts it back onto the rows:
  * a rank is offset + row_number among the rows sharing the
  * (partition, key) value, a KEYED window, so the only row-sized
  * exchange is a hash partitioning on (partition, key). [[perGroup]]
  * reads order statistics off the offsets frame alone.
  *
  * Bounded-input proof for the one single-partition window: with no
  * partition columns the cumulative windows in [[offsets]] are
  * unpartitioned, and they run over one row per distinct key value,
  * not per input row. Every caller ranks by a key with a bounded value
  * domain (a length, a ppm score, a word frequency, a day count, a
  * spend band, a sketch bin, the spans inside one range-join bucket);
  * a key with an unbounded domain (an id) would defeat the device.
  *
  * Null keys keep their place in the order (Spark's default: first
  * ascending, last descending) and count toward the size, but are
  * never output: [[perRow]]'s inner join to the offsets frame drops
  * their rows, and [[perGroup]] returns the first non-null key at or
  * after the target rank. A null partition value is a partition of
  * its own, as in `PARTITION BY`. The helper adds no materialization
  * barrier: [[perRow]] reads its input twice (offsets, then rows), so
  * a caller with an expensive input materializes it first. */
object Ranks {
  /** Columns the helper uses or adds; the input must not carry them. */
  private val Reserved = Seq("cnt", "off", "wsum", "woff", "prefix", "mass")

  /** One row per distinct (`parts`, `key`): `cnt` rows, `off` rows
    * before it in its partition, `size` rows in the partition and,
    * with a `weight` column, `woff` weight before it and `mass` weight
    * in the partition. With a `counted` column each input row stands
    * for that many rows. */
  private def offsets(df: DataFrame, key: String, asc: Boolean,
      parts: Seq[String], size: String, weight: Option[String],
      counted: Option[String] = None): DataFrame = {
    require(!df.columns.exists(Reserved.contains),
      s"input columns clash with ${Reserved.mkString(", ")}")
    val keys = (parts :+ key).map(col)
    val all = Window.partitionBy(parts.map(col): _*)
    val before = all.orderBy(if (asc) col(key).asc else col(key).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val weighted = weight.toSeq.flatMap(_ =>
      Seq(coalesce(sum("wsum").over(before), lit(0L)).as("woff"),
        sum("wsum").over(all).as("mass")))
    df.groupBy(keys: _*)
      .agg(counted.fold(count(lit(1)))(c => sum(c)).as("cnt"),
        weight.toSeq.map(w => sum(w).as("wsum")): _*)
      .select(keys ++ Seq(col("cnt"),
        coalesce(sum("cnt").over(before), lit(0L)).as("off"),
        sum("cnt").over(all).as(size)) ++ weighted: _*)
  }

  /** Per row: adds `size`, the partition's row count, and `rank`, the
    * row's 1-based BIGINT position — `count(*)` and `row_number()` over
    * `PARTITION BY partitionBy ORDER BY key [DESC], tiebreak…`. With a
    * `weight` column it also adds `mass`, the partition's weight total,
    * and `prefix`, the weight of the rows strictly before this one (0
    * for the first). `tiebreak` must complete the order. Rows with a
    * null key are dropped. */
  def perRow(df: DataFrame, key: String, asc: Boolean = true,
      tiebreak: Seq[Column], partitionBy: Seq[String] = Nil,
      rank: String = "rank", size: String = "size",
      weight: Option[String] = None): DataFrame = {
    require(tiebreak.nonEmpty, "a rank needs tie-break columns")
    val keys = partitionBy :+ key
    val offs = offsets(df, key, asc, partitionBy, size, weight)
    // keys renamed after the hint: `offs` derives from `df`, and equal
    // attributes on both sides would make the condition trivially true
    val o = broadcast(offs).select(offs.columns.toSeq.map(c =>
      if (keys.contains(c)) col(c).as(s"__o_$c") else col(c)): _*)
    val on = (col(key) === col(s"__o_$key")) +:
      partitionBy.map(p => col(p) <=> col(s"__o_$p"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(tiebreak: _*)
    val ranked = df.join(o, on.reduce(_ && _))
      .withColumn(rank, col("off") + row_number().over(w).cast("long"))
    weight.fold(ranked)(wt => ranked.withColumn("prefix", col("woff") +
        coalesce(sum(wt).over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L))))
      .drop(keys.map(k => s"__o_$k") ++ Seq("cnt", "off", "woff"): _*)
  }

  /** Per group: one row per `partitionBy` value with `size`, its row
    * count, and per `(name, p)` of `percentiles` the discrete p-th
    * percentile of `key`: the smallest key whose ascending cumulative
    * count reaches rank ⌈n·p/100⌉ = `(n·p + 99) DIV 100` (p = 50: the
    * lower median). With no partition columns the result is one row,
    * all null on an empty input. A `counted` column makes the input a
    * histogram: each row stands for that many rows, repeated keys add. */
  def perGroup(df: DataFrame, key: String, partitionBy: Seq[String],
      size: String, percentiles: Seq[(String, Int)],
      counted: Option[String] = None): DataFrame = {
    val cum = col("off") + col("cnt")
    offsets(df, key, asc = true, partitionBy, size, None, counted)
      .groupBy(partitionBy.map(col): _*)
      .agg(max(size).as(size), percentiles.map { case (name, p) =>
        // cum ≥ ⌈n·p/100⌉ ⇔ 100·cum ≥ n·p over the integers
        min(when(cum * 100 >= col(size) * p, col(key))).as(name)
      }: _*)
  }
}
