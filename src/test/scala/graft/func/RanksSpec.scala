package graft.func

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** [[Ranks]] against plain references on small adversarial frames:
  * ties inside one key value and across key values, both orders, an
  * empty frame, a single row, a null partition value and null keys.
  * The per-row form is compared with SQL `row_number()` / `count(*)`
  * / exclusive running `sum` windows, the per-group form with ranks
  * read off a driver-side sort (and, given a counted histogram of the
  * same rows, with its own uncounted answer). */
class RanksSpec extends SparkSpec {
  import spark.implicits._

  /** (partition, key, tiebreak, weight) rows; `t` is unique. */
  private type Row4 = (Option[String], Option[Long], Long, Long)

  private val ties: Seq[Row4] = Seq(
    (Some("a"), Some(3L), 1L, 5L), (Some("a"), Some(1L), 2L, 7L),
    (Some("a"), Some(3L), 3L, 2L), (Some("a"), Some(1L), 4L, 1L),
    (Some("a"), Some(2L), 5L, 4L), (Some("a"), Some(3L), 6L, 3L),
    (Some("b"), Some(1L), 7L, 6L), (Some("b"), Some(2L), 8L, 8L),
    (Some("b"), Some(2L), 9L, 9L))

  private val frames: Seq[(String, Seq[Row4])] = Seq(
    "ties" -> ties,
    "null partition" -> (ties ++ Seq((None, Some(2L), 10L, 1L),
      (None, Some(1L), 11L, 2L), (None, Some(2L), 12L, 3L))),
    "null key" -> (ties ++ Seq((Some("a"), None, 13L, 4L),
      (Some("b"), None, 14L, 5L), (None, None, 15L, 6L),
      (None, Some(4L), 16L, 7L))),
    "single row" -> Seq((Some("a"), Some(9L), 1L, 4L)),
    "empty" -> Seq.empty[Row4])

  private def frame(rows: Seq[Row4]): DataFrame = rows.toDF("p", "k", "t", "w")

  test("perRow equals row_number / count / running-sum windows") {
    for ((name, rows) <- frames; asc <- Seq(true, false);
         parts <- Seq(Seq("p"), Nil)) {
      val df = frame(rows)
      val got = Ranks.perRow(df, "k", asc, Seq(col("t")), parts,
          weight = Some("w"))
        .select("t", "rank", "size", "prefix", "mass")
        .as[(Long, Long, Long, Long, Long)].collect()
      df.createOrReplaceTempView("ranks_ref")
      val by = if (parts.isEmpty) "" else "PARTITION BY p"
      val ord = s"ORDER BY k ${if (asc) "ASC" else "DESC"}, t"
      // the reference ranks EVERY row; the helper drops null-key rows
      // but leaves them their place in the order and in the size
      val want = spark.sql(
        s"""SELECT t, k,
           |  CAST(row_number() OVER ($by $ord) AS BIGINT) AS rank,
           |  count(*) OVER ($by) AS size,
           |  coalesce(sum(w) OVER ($by $ord
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix,
           |  sum(w) OVER ($by) AS mass
           |FROM ranks_ref""".stripMargin)
        .filter(col("k").isNotNull).drop("k")
        .as[(Long, Long, Long, Long, Long)].collect()
      val ctx = s"$name, asc=$asc, partitionBy=$parts"
      assert(got.sortBy(_._1).toSeq === want.sortBy(_._1).toSeq, ctx)
      assert(got.length === rows.count(_._2.isDefined),
        s"$ctx: exactly the null-key rows are dropped")
    }
  }

  test("perRow keeps the input columns and adds BIGINT size and rank") {
    val out = Ranks.perRow(frame(ties), "k", tiebreak = Seq(col("t")),
      partitionBy = Seq("p"), rank = "r", size = "n")
    assert(out.columns.toSeq === Seq("p", "k", "t", "w", "n", "r"))
    assert(out.schema("r").dataType.typeName === "long")
    assert(out.schema("n").dataType.typeName === "long")
  }

  /** Discrete percentiles by driver-side sort: per partition, keys in
    * Spark's ascending order (nulls first); the statistic is the first
    * non-null key at or after rank ⌈n·p/100⌉. */
  private def sortedPercentiles(rows: Seq[Row4], parts: Boolean,
      ps: Seq[Int]): Map[Option[String], (Long, Seq[Option[Long]])] =
    rows.groupBy(r => if (parts) r._1 else None).map { case (g, rs) =>
      val keys = rs.map(_._2).sortBy(k => (k.isDefined, k.getOrElse(0L)))
      val n = keys.length.toLong
      g -> (n, ps.map { p =>
        val target = ((n * p + 99) / 100).toInt
        keys.drop(math.max(target - 1, 0)).find(_.isDefined).flatten
      })
    }

  test("perGroup equals percentiles read off a driver-side sort") {
    val ps = Seq(1, 25, 50, 90, 100)
    for ((name, rows) <- frames; parts <- Seq(true, false)) {
      val by = if (parts) Seq("p") else Nil
      val out = Ranks.perGroup(frame(rows), "k", by, "n",
        ps.map(p => s"q$p" -> p))
      assert(out.columns.toSeq === by ++ Seq("n") ++ ps.map(p => s"q$p"))
      val rs = out.collect().toSeq
      val ctx = s"$name, partitionBy=$by"
      if (rows.isEmpty && !parts) {
        // a global aggregate answers one all-null row on empty input
        assert(rs.length === 1 && rs.head.toSeq.forall(_ == null), ctx)
      } else {
        val got = rs.map { r =>
          val g = if (parts) Option(r.getString(0)) else None
          val i = by.length
          g -> ((r.getLong(i), ps.indices.map(j =>
            if (r.isNullAt(i + 1 + j)) None else Some(r.getLong(i + 1 + j)))))
        }.toMap
        assert(got === sortedPercentiles(rows, parts, ps), ctx)
      }
      // the same rows as a counted histogram, split in two halves so
      // keys repeat (merged sketches add): same answer
      val halves = rows.zipWithIndex.partition(_._2 % 2 == 0)
      val hist = Seq(halves._1, halves._2).map(h => frame(h.map(_._1))
          .groupBy("p", "k").agg(count(lit(1)).as("c")))
        .reduce(_ unionByName _)
      val counted = Ranks.perGroup(hist, "k", by, "n",
        ps.map(p => s"q$p" -> p), counted = Some("c"))
      assert(counted.collect().toSeq.map(_.toSeq).toSet ===
        rs.map(_.toSeq).toSet, s"$ctx, counted")
    }
  }
}
