package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  /** Candidate work per cell of a range join, read off the operator's
    * own plan: its sort-merge join's two inputs, executed and counted
    * per join key (the bucket, plus the salt group when salted); a
    * cell's work is its left rows × right rows — the occupancy product
    * the auto-mitigation census models, and the work of the task that
    * joins the cell. Planned without AQE or broadcast, so the one join
    * is a sort-merge join over both exploded sides, and run without
    * whole-stage codegen: compiling the two sides would cost more than
    * counting their rows. Returns (max cell, max/mean over the cells
    * both sides populate, total). */
  private def cellWork(df: => DataFrame)
      : (Long, Double, Long) =
    graft.func.Confs.withSqlConfs(spark)(
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.codegen.wholeStage" -> "false") {
      import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression}
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      val Seq(smj) = df.queryExecution.executedPlan
        .collect { case j: SortMergeJoinExec => j }
      def keyed(side: SparkPlan, keys: Seq[Expression], tag: Int) = {
        val bound = keys.map(BindReferences.bindReference(_, side.output))
        side.execute().map(r => tag -> bound.map(_.eval(r)))
      }
      val n = keyed(smj.left, smj.leftKeys, 0)
        .union(keyed(smj.right, smj.rightKeys, 1)).countByValue()
      val ws = n.toSeq.collect { case ((0, k), l) if n.contains(1 -> k) =>
        l * n(1 -> k) }
      (ws.max, ws.max / (ws.sum.toDouble / ws.size), ws.sum)
    }

  /** `df`, once its executed plan is shown to keep the bucket
    * equi-join: a literal fixture column lets the optimizer fold the
    * bucket key away and plan a CartesianProduct (or a
    * BroadcastNestedLoopJoin), and an invariance check between two
    * such plans compares cross joins, not the operator. */
  private def bucketJoined(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the range join lost its bucket equi-join:\n$plan")
    df
  }

  test("pointInInterval equals the naive theta join, once per pair") {
    val points = Seq(0L, 5L, 1024L, 1500L, 4096L, 9999L).toDF("p")
    val intervals = Seq(
      (1L, 0L, 10L),       // within one bucket
      (2L, 1000L, 2000L),  // spans a bucket boundary
      (3L, 0L, 9000L),     // spans many buckets: dups would show here
      (4L, 7L, 3L),        // inverted: never matches
      (5L, 9999L, 9999L)   // single-point interval, inclusive bounds
    ).toDF("id", "lo", "hi")
    val got = RangeJoin.pointInInterval(points, intervals, "p", "lo", "hi")
      .select("id", "p").as[(Long, Long)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    val naive = points.join(intervals,
        col("p") >= col("lo") && col("p") <= col("hi"))
      .select("id", "p").as[(Long, Long)].collect().toSet
    assert(got.values.forall(_ == 1), s"pair produced more than once: $got")
    assert(got.keySet === naive)
    assert(got.keySet.contains((5L, 9999L)), "inclusive single-point bound")
    assert(!got.keySet.exists(_._1 == 4L), "inverted interval never matches")
  }

  test("negative bounds bucket correctly — floor, not truncate-toward-zero") {
    // -1 DIV 1024 truncates to 0 (the bucket of +1); a truncating
    // bucketizer drops every pair that straddles zero. Points and
    // intervals on both sides of zero, plus straddlers.
    val points = Seq(-5000L, -1024L, -1L, 0L, 1L, 5000L).toDF("p")
    val intervals = Seq(
      (1L, -10L, 10L),        // straddles zero inside bucket +-0
      (2L, -3000L, -1000L),   // fully negative, spans buckets
      (3L, -6000L, 6000L),    // wide straddler: dedup check under sign
      (4L, -1024L, -1024L)    // single-point negative, bucket boundary
    ).toDF("id", "lo", "hi")
    val got = RangeJoin.pointInInterval(points, intervals, "p", "lo", "hi")
      .select("id", "p").as[(Long, Long)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    val naive = points.join(intervals,
        col("p") >= col("lo") && col("p") <= col("hi"))
      .select("id", "p").as[(Long, Long)].collect().toSet
    assert(got.values.forall(_ == 1), s"pair produced more than once: $got")
    assert(got.keySet === naive)
    assert(got.keySet.contains((1L, -1L)), "zero-straddling interval catches -1")
    assert(got.keySet.contains((4L, -1024L)), "negative bucket boundary")

    val a = Seq((1L, -100L, -1L), (2L, -2000L, 50L)).toDF("a_id", "lo_a", "hi_a")
    val b = Seq((10L, -50L, 20L), (11L, -5000L, -1500L)).toDF("b_id", "lo_b", "hi_b")
    val gotO = RangeJoin.intervalOverlap(a, b, "lo_a", "hi_a", "lo_b", "hi_b")
      .select("a_id", "b_id").as[(Long, Long)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    val naiveO = a.join(b, col("lo_a") <= col("hi_b") && col("lo_b") <= col("hi_a"))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(gotO.values.forall(_ == 1), s"pair produced more than once: $gotO")
    assert(gotO.keySet === naiveO)
    assert(gotO.keySet === Set((1L, 10L), (2L, 10L), (2L, 11L)))
  }

  test("pointInInterval: null points and null bounds never match") {
    val points = Seq(Some(5L), None).toDF("p")
    val intervals = Seq(
      (1L, Some(0L), Some(10L)),
      (2L, None: Option[Long], Some(10L)),
      (3L, Some(0L), None: Option[Long])
    ).toDF("id", "lo", "hi")
    val got = RangeJoin.pointInInterval(points, intervals, "p", "lo", "hi")
      .select("id", "p").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 5L)))
  }

  test("pathological interval span fails loudly, naming the knob") {
    val points = Seq(5L).toDF("p")
    val intervals = Seq((1L, 0L, Long.MaxValue - 2)).toDF("id", "lo", "hi")
    val e = intercept[Exception] {
      RangeJoin.pointInInterval(points, intervals, "p", "lo", "hi").collect()
    }
    // the guard's message, not sequence()'s opaque length error
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("raise bucketWidth")),
      s"expected the span-guard error, got: ${messages(e)}")
    // sane spans (incl. exactly the cap) still work
    val wide = Seq((1L, 0L, RangeJoin.MaxSpanBuckets * RangeJoin.BucketWidth - 1))
      .toDF("id", "lo", "hi")
    assert(RangeJoin.pointInInterval(points, wide, "p", "lo", "hi")
      .count() === 1L)
    // the guard is EXACT (saturating longs, not doubles): one bucket
    // past the cap trips, where double rounding could have let a
    // marginal interval slip
    val justOver = Seq((1L, 0L, RangeJoin.MaxSpanBuckets * RangeJoin.BucketWidth))
      .toDF("id", "lo", "hi")
    val e1b = intercept[Exception] {
      RangeJoin.pointInInterval(points, justOver, "p", "lo", "hi").collect()
    }
    assert(messages(e1b).exists(_.contains("raise bucketWidth")),
      s"expected the span-guard error one past the cap: ${messages(e1b)}")
    // signed-contract overflow: at width 1, MinValue/2..MaxValue/2
    // makes the bucket-index DIFFERENCE overflow a Long — try_subtract
    // yields NULL there and the coalesce saturates to Long.MaxValue, so
    // the guard must still raise ITS error, not fall through to
    // sequence()'s or ANSI's opaque one
    val signedWide = Seq((1L, Long.MinValue / 2, Long.MaxValue / 2))
      .toDF("id", "lo", "hi")
    val e2 = intercept[Exception] {
      RangeJoin.pointInInterval(points, signedWide, "p", "lo", "hi",
        bucketWidth = 1L).collect()
    }
    assert(messages(e2).exists(_.contains("raise bucketWidth")),
      s"expected the span-guard error on the overflow span: ${messages(e2)}")
  }

  test("intervalOverlap equals the naive theta join, once per pair") {
    val a = Seq(
      (1L, 0L, 10L),        // within one bucket
      (2L, 1000L, 3000L),   // spans buckets: responsibility dedup here
      (3L, 5000L, 5000L),   // degenerate point interval
      (4L, 9L, 3L)          // inverted: never matches
    ).toDF("a_id", "lo_a", "hi_a")
    val b = Seq(
      (10L, 10L, 1200L),    // touches 1 at the endpoint (inclusive), 2 mid
      (11L, 2000L, 6000L),  // overlaps 2 across buckets and 3 exactly
      (12L, 20L, 30L),      // disjoint from everything but b-side only
      (13L, 0L, 9000L)      // covers all
    ).toDF("b_id", "lo_b", "hi_b")
    val got = RangeJoin.intervalOverlap(a, b, "lo_a", "hi_a", "lo_b", "hi_b")
      .select("a_id", "b_id").as[(Long, Long)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    // the raw theta predicate alone would MATCH inverted intervals
    // (9 <= 9000 && 0 <= 3); the contract excludes them up front
    val naive = a.filter(col("lo_a") <= col("hi_a"))
      .join(b.filter(col("lo_b") <= col("hi_b")),
        col("lo_a") <= col("hi_b") && col("lo_b") <= col("hi_a"))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got.values.forall(_ == 1), s"pair produced more than once: $got")
    assert(got.keySet === naive)
    assert(got.keySet.contains((1L, 10L)), "inclusive endpoint touch")
    assert(got.keySet.contains((2L, 11L)), "cross-bucket overlap")
    assert(!got.keySet.exists(_._1 == 4L), "inverted interval never matches")

    // at volume and constant bucket occupancy (16 interval starts per
    // bucket per side, spans uniform in [0, width)): the bucket device
    // equals the theta join on a 200-row subset, its candidate pairs
    // grow ~linearly over x1/x3/x10, and one interval spanning 30
    // buckets finds exactly the rights it overlaps
    val w = RangeJoin.BucketWidth
    def side(n: Long, salt: Long, id: String, lo: String, hi: String) =
      spark.range(n).select(col("id").as(id),
        pmod(xxhash64(col("id"), lit(salt)), lit(n * w / 16)).as(lo))
        .withColumn(hi,
          col(lo) + pmod(xxhash64(col(id), lit(salt + 1)), lit(w)))
    def rung(s: Int) = (side(2000L * s, 7L, "l_id", "l_lo", "l_hi"),
      side(2000L * s, 77L, "r_id", "r_lo", "r_hi"))
    val (l1, r1) = rung(1)
    val lSub = l1.filter(col("l_id") < 200)
    val theta = lSub.join(r1,
      col("l_lo") <= col("r_hi") && col("r_lo") <= col("l_hi")).count()
    assert(RangeJoin.intervalOverlap(lSub, r1,
      "l_lo", "l_hi", "r_lo", "r_hi").count() === theta)
    assert(theta > 0)
    val growth = Seq(1, 3, 10).map { s =>
      val (l, r) = rung(s)
      s -> cellWork(RangeJoin.intervalOverlap(
        l, r, "l_lo", "l_hi", "r_lo", "r_hi"))._3.toDouble
    }
    val aCand = graft.llm.ScaleRehearsal.fitAlpha(growth)
    assert(aCand <= 1.4, f"interval-overlap candidate work is " +
      f"super-linear at constant occupancy: alpha=$aCand%.2f ($growth)")
    val wideHi = w * 30 - 1
    val wide = spark.range(1).select(col("id").as("l_id"),
      lit(0L).as("l_lo"), lit(wideHi).as("l_hi"))
    assert(RangeJoin.intervalOverlap(wide, r1, "l_lo", "l_hi", "r_lo",
      "r_hi").count() === r1.filter(col("r_lo") <= wideHi).count())
  }

  test("price-band AUTO and SALTED queries match the fixed-width " +
      "board query") {
    val auto = bucketJoined(RangeJoin.priceBandAutoQuery(spark, Sf))
      .as[(Long, Long)].collect().toMap
    val fixed = bucketJoined(RangeJoin.priceBandQuery(spark, Sf))
      .as[(Long, Long)].collect().toMap
    assert(auto === fixed)
    val salted = bucketJoined(RangeJoin.priceBandSaltedQuery(spark, Sf))
      .as[(Long, Long)].collect().toMap
    assert(salted === fixed)
    assert(auto.nonEmpty, "vacuous fixture — no price lands in any band")
  }

  test("pointInIntervalSalted: salt placement never changes the answer") {
    // random corpus through salt 1 (the plain operator) and salt 5 —
    // per-pair multiplicity maps must be identical: every point meets
    // the full interval set of its salt group exactly once
    val pts = spark.range(3000).select(col("id").as("rid"),
      pmod(xxhash64(col("id"), lit(9L)), lit(50000L)).as("p"))
    val iv = spark.range(500).select(col("id").as("i_id"),
        pmod(xxhash64(col("id"), lit(11L)), lit(50000L)).as("lo"))
      .withColumn("hi", col("lo") + pmod(xxhash64(col("i_id"), lit(12L)),
        lit(2000L)))
    def got(salt: Int) = bucketJoined(RangeJoin.pointInInterval(
      pts, iv, "p", "lo", "hi", RangeJoin.BucketWidth, salt, Seq("rid")))
      .groupBy("i_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    val plain = got(1)
    assert(got(5) === plain)
    assert(plain.nonEmpty)
    // salt > 1 without stable id columns must refuse, not silently
    // fall back to a recompute-unsafe assignment
    intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(
        pts, iv, "p", "lo", "hi", RangeJoin.BucketWidth, 5)
    }
  }

  test("autoPointMitigation: a value crowd salts at the probe width, " +
      "a range crowd refines without salt") {
    // VALUE crowd: 50k points at ONE value share a bucket at every
    // width — the regime detector must keep the probe width (refining
    // only inflates the interval explode) and derive salt ≥ 2 for the
    // ~20M-pair hot task (materialized, like every literal crowd here:
    // the optimizer folds a literal point column into the interval
    // filter, and the bucket join disappears from the plan)
    val vPts = spark.range(50000).select(col("id").as("rid"),
      lit(100L).as("p")).localCheckpoint()
    val iv = spark.range(404).select(col("id").as("i_id"),
        when(col("id") < 4, lit(0L)).otherwise(lit(600L)).as("lo"),
        when(col("id") < 4, lit(700L)).otherwise(lit(1023L)).as("hi"))
    val (wv, kv) = RangeJoin.autoPointMitigation(vPts, "p", iv, "lo", "hi")
    assert(wv === RangeJoin.BucketWidth,
      s"a value crowd must keep the probe width, got $wv")
    assert(kv >= 2, s"a value crowd must salt, got $kv")
    // RANGE crowd (the sibling fixture): spread over [0,512) — width
    // splits it, and the residual after refinement needs no salt
    val rPts = spark.range(50000).select(
      pmod(xxhash64(col("id"), lit(3L)), lit(512L)).as("p"))
    val (wr, kr) = RangeJoin.autoPointMitigation(rPts, "p", iv, "lo", "hi")
    assert(wr < RangeJoin.BucketWidth,
      s"a range crowd must refine, got $wr")
    assert(kr === 1, s"a split range crowd needs no salt, got $kr")
    // and the salted join at the derived mitigation matches salt-1
    def got(pts: DataFrame, w: Long, k: Int) =
      bucketJoined(RangeJoin.pointInInterval(pts, iv, "p", "lo", "hi", w, k,
          Seq("rid")))
        .groupBy("i_id").agg(count(lit(1)).as("n"))
        .as[(Long, Long)].collect().toMap
    assert(got(vPts, wv, kv) === got(vPts, RangeJoin.BucketWidth, 1))

    // twice the crowd (100k points × the 404 local intervals ≈ 40M
    // candidates in one cell) derives salt ≥ 3, and salting must cut
    // the hottest cell's candidate work at least 2×; the answer holds
    // across width and salt (checked on 44 of the intervals)
    val probe = RangeJoin.BucketWidth
    val vBig = spark.range(100000).select(col("id").as("rid"),
      lit(100L).as("p")).localCheckpoint()
    val (wb, kb) = RangeJoin.autoPointMitigation(vBig, "p", iv, "lo", "hi")
    assert(wb === probe && kb >= 3, s"value crowd mitigation ($wb, $kb)")
    def hotCell(k: Int) = cellWork(RangeJoin.pointInInterval(
      vBig, iv, "p", "lo", "hi", probe, k, Seq("rid")))._1
    val (mPlain, mSalted) = (hotCell(1), hotCell(kb))
    assert(mPlain >= 2 * mSalted,
      s"salting did not shrink the hot cell: $mPlain -> $mSalted")
    val ivSub = iv.filter(col("i_id") < 44)
    def sub(w: Long, k: Int) = bucketJoined(RangeJoin.pointInInterval(
        vBig, ivSub, "p", "lo", "hi", w, k, Seq("rid")))
      .groupBy("i_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    val plain = sub(probe, 1)
    assert(sub(wb, kb) === plain && sub(probe / 64, 1) === plain)
    assert(plain.values.sum === 400000L)
  }

  test("intervalOverlapSalted: salt placement never changes the answer") {
    // random corpus + a planted SAME-RANGE crowd through salt 1 (the
    // plain operator) and salt 6 — per-pair multiplicity maps must be
    // identical: a left row meets its group's full replicated right
    // set exactly once at the responsibility bucket
    def side(n: Int, salt: Long, id: String, lo: String, hi: String) =
      spark.range(n).select(col("id").as(id),
        pmod(xxhash64(col("id"), lit(salt)), lit(50000L)).as(lo))
        .withColumn(hi, col(lo) + pmod(xxhash64(col(id), lit(salt + 1)),
          lit(2000L)))
        .unionByName(spark.range(200).select((col("id") + 900000L).as(id),
          lit(100L).as(lo)).withColumn(hi, lit(800L)))
    val a = side(1500, 9L, "a_id", "lo_a", "hi_a")
    val b = side(1500, 19L, "b_id", "lo_b", "hi_b")
    def got(salt: Int) = bucketJoined(RangeJoin.intervalOverlap(
      a, b, "lo_a", "hi_a", "lo_b", "hi_b", RangeJoin.BucketWidth, salt,
      Seq("a_id")))
      .select("a_id", "b_id").as[(Long, Long)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    val plain = got(1)
    val salted = got(6)
    assert(salted === plain)
    assert(plain.values.forall(_ == 1), "pair produced more than once")
    assert(plain.nonEmpty)
    // salt > 1 without stable LEFT id columns must refuse
    intercept[IllegalArgumentException] {
      RangeJoin.intervalOverlap(
        a, b, "lo_a", "hi_a", "lo_b", "hi_b", RangeJoin.BucketWidth, 6)
    }
    // id columns that live on the RIGHT must refuse with the swap hint
    val e = intercept[IllegalArgumentException] {
      RangeJoin.intervalOverlap(
        a, b, "lo_a", "hi_a", "lo_b", "hi_b", RangeJoin.BucketWidth, 6,
        Seq("b_id"))
    }
    assert(e.getMessage.contains("swap the inputs"))
  }

  test("autoOverlapMitigation: a same-range crowd salts at the probe " +
      "width, a distinct-interval crowd refines, benign keeps probe") {
    // VALUE crowd: 5000 IDENTICAL [100, 110] intervals on each side —
    // every width puts them all in one bucket (25M-pair hot task);
    // the detector must keep the probe width and salt
    def dup(id: String, lo: String, hi: String) =
      spark.range(5000).select(col("id").as(id), lit(100L).as(lo))
        .withColumn(hi, lit(110L))
    val (wv, kv) = RangeJoin.autoOverlapMitigation(
      dup("a_id", "lo_a", "hi_a"), dup("b_id", "lo_b", "hi_b"),
      "lo_a", "hi_a", "lo_b", "hi_b")
    assert(wv === RangeJoin.BucketWidth,
      s"a same-range crowd must keep the probe width, got $wv")
    assert(kv >= 2, s"a same-range crowd must salt, got $kv")
    // RANGE crowd: 5000 DISTINCT tiny intervals crammed into one
    // probe bucket — width splits it (the crowded-bucket fixture)
    def crowd(salt: Long, id: String, lo: String, hi: String) =
      spark.range(5000).select(col("id").as(id),
        pmod(xxhash64(col("id"), lit(salt)), lit(993L)).as(lo))
        .withColumn(hi,
          col(lo) + pmod(xxhash64(col(id), lit(salt + 1)), lit(7L)))
    val (wr, kr) = RangeJoin.autoOverlapMitigation(
      crowd(3L, "a_id", "lo_a", "hi_a"), crowd(33L, "b_id", "lo_b", "hi_b"),
      "lo_a", "hi_a", "lo_b", "hi_b")
    assert(wr < RangeJoin.BucketWidth,
      s"a distinct-interval crowd must refine, got $wr")
    assert(kr === 1, s"a width-split range crowd needs no salt, got $kr")
    // benign corpus: spread wide, nothing crosses the budget
    def uni(salt: Long, id: String, lo: String, hi: String) =
      spark.range(4000).select(col("id").as(id),
        pmod(xxhash64(col("id"), lit(salt)), lit(65536L)).as(lo))
        .withColumn(hi,
          col(lo) + pmod(xxhash64(col(id), lit(salt + 1)), lit(1024L)))
    val (wb, kb) = RangeJoin.autoOverlapMitigation(
      uni(7L, "a_id", "lo_a", "hi_a"), uni(77L, "b_id", "lo_b", "hi_b"),
      "lo_a", "hi_a", "lo_b", "hi_b")
    assert((wb, kb) === (RangeJoin.BucketWidth, 1))
    // and the salted join at the derived mitigation matches salt-1
    val aD = dup("a_id", "lo_a", "hi_a")
    val bD = dup("b_id", "lo_b", "hi_b").filter(col("b_id") < 50)
    def pairs(w: Long, k: Int) = bucketJoined(RangeJoin.intervalOverlap(
      aD, bD, "lo_a", "hi_a", "lo_b", "hi_b", w, k, Seq("a_id")))
      .select("a_id", "b_id").as[(Long, Long)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(pairs(wv, kv) === pairs(RangeJoin.BucketWidth, 1))

    // a larger same-range crowd — 12,000 lefts × 1,500 rights on one
    // range, 18M candidates in one cell — derives salt ≥ 3: the finest
    // width leaves the hottest cell as it was (identical intervals
    // share a bucket at every width), salting must cut it at least 2×,
    // and the answer holds across width and salt (checked with 20 of
    // the rights, as (count, pair-hash xor))
    val probe = RangeJoin.BucketWidth
    // (materialized, so literal bounds cannot fold into the plan)
    def same(n: Int, id: String, lo: String, hi: String) =
      spark.range(n).select(col("id").as(id), lit(100L).as(lo))
        .withColumn(hi, lit(107L)).localCheckpoint()
    val aBig = same(12000, "a_id", "lo_a", "hi_a")
    val bBig = same(1500, "b_id", "lo_b", "hi_b")
    val (wm, km) = RangeJoin.autoOverlapMitigation(aBig, bBig,
      "lo_a", "hi_a", "lo_b", "hi_b", saltIdCols = Seq("a_id"))
    assert(wm === probe && km >= 3, s"same-range crowd mitigation ($wm, $km)")
    def hotCell(w: Long, k: Int) = cellWork(RangeJoin.intervalOverlap(
      aBig, bBig, "lo_a", "hi_a", "lo_b", "hi_b", w, k, Seq("a_id")))._1
    val mHot = hotCell(probe, 1)
    assert(mHot === 18000000L)
    assert(hotCell(probe / 64, 1) === mHot, "width split a same-range crowd")
    val mSalted = hotCell(wm, km)
    assert(mHot >= 2 * mSalted,
      s"salting did not shrink the hot cell: $mHot -> $mSalted")
    val bSub = bBig.filter(col("b_id") < 20)
    def sig(w: Long, k: Int) = bucketJoined(RangeJoin.intervalOverlap(
        aBig, bSub, "lo_a", "hi_a", "lo_b", "hi_b", w, k, Seq("a_id")))
      .agg(count(lit(1)), expr("bit_xor(xxhash64(a_id, b_id))")).head()
      .toSeq
    val plain = sig(probe, 1)
    assert(sig(wm, km) === plain && sig(probe / 64, 1) === plain)
    assert(plain.head === 240000L)
  }

  test("autoOverlapMitigation: degenerate saltIdCols warn loudly, " +
      "healthy ids stay silent") {
    // the hazard the lazy operator cannot see (r19-ADVICE): a salt
    // derived from id columns CONSTANT within the crowd is a no-op —
    // every crowd row hashes to one group while the right side still
    // pays the full replication. The census path must say so.
    def crowd(idCol: org.apache.spark.sql.Column, id: String,
        lo: String, hi: String) =
      spark.range(5000).select(idCol.as(id), lit(100L).as(lo))
        .withColumn(hi, lit(110L))
    val r = crowd(col("id"), "b_id", "lo_b", "hi_b")
    def run(l: DataFrame): ((Long, Int), String) = {
      val buf = new java.io.ByteArrayOutputStream
      val wk = Console.withOut(new java.io.PrintStream(buf, true)) {
        RangeJoin.autoOverlapMitigation(l, r,
          "lo_a", "hi_a", "lo_b", "hi_b", saltIdCols = Seq("a_id"))
      }
      (wk, buf.toString)
    }
    val ((_, kBad), outBad) = run(crowd(lit(7L), "a_id", "lo_a", "hi_a"))
    assert(kBad >= 2, s"the crowd must still derive a salt, got $kBad")
    assert(outBad.contains("DEGENERATE"),
      s"constant ids must trip the degeneracy warning, got: $outBad")
    val ((_, kOk), outOk) = run(crowd(col("id"), "a_id", "lo_a", "hi_a"))
    assert(kOk >= 2)
    assert(!outOk.contains("DEGENERATE"),
      s"high-cardinality ids must stay silent, got: $outOk")
    // the false-positive shape (review r20): the crowd sits on the
    // RIGHT side (40k rows → derived salt ~24, past the work budget),
    // so the pooled census derives a salt far above the handful of
    // left rows in the hot bucket — those rows reaching "only" their
    // own count of groups is perfect placement, and the warning must
    // stay quiet (the old k-based bound fired here: ~8 of 24 groups)
    val bigR = crowd(col("id"), "b_id", "lo_b", "hi_b")
      .unionByName(spark.range(35000).select(
        (col("id") + 100000L).as("b_id"), lit(100L).as("lo_b"))
        .withColumn("hi_b", lit(110L)))
    val fewLeft = spark.range(10)
      .select(col("id").as("a_id"), lit(100L).as("lo_a"))
      .withColumn("hi_a", lit(110L))
    val buf = new java.io.ByteArrayOutputStream
    val (_, kFew) = Console.withOut(new java.io.PrintStream(buf, true)) {
      RangeJoin.autoOverlapMitigation(fewLeft, bigR,
        "lo_a", "hi_a", "lo_b", "hi_b", saltIdCols = Seq("a_id"))
    }
    assert(kFew > 20, s"the right crowd must still derive a large salt, got $kFew")
    assert(!buf.toString.contains("DEGENERATE"),
      s"few distinct left rows must not read as degenerate: ${buf.toString}")
  }

  test("band-overlap SALTED query matches the fixed-width board query") {
    val salted = bucketJoined(RangeJoin.bandOverlapSaltedQuery(spark, Sf))
      .as[(Long, Long)].collect().toMap
    val fixed = bucketJoined(RangeJoin.bandOverlapQuery(spark, Sf))
      .as[(Long, Long)].collect().toMap
    assert(salted === fixed)
    assert(salted.nonEmpty)
  }

  test("autoWidthPoints: a small crowd is under the work budget and " +
      "keeps the probe width") {
    // 4000 points in one bucket × ~1 local interval ≈ 4000 candidate
    // evaluations — re-keying a trivial task buys nothing, so the
    // work-budget rule must keep the probe width (the r18 point-term
    // lesson: point OCCUPANCY alone is not a reason to refine)
    val pts = spark.range(4000).select(
      pmod(xxhash64(col("id"), lit(3L)), lit(993L)).as("p"))
    val iv = spark.range(64).select(col("id").as("i_id"),
      (pmod(xxhash64(col("id"), lit(5L)), lit(64L)) * 1024L).as("lo"))
      .withColumn("hi", col("lo") + lit(512L))
    val (w, _) = RangeJoin.autoPointMitigation(pts, "p", iv, "lo", "hi")
    assert(w === RangeJoin.BucketWidth,
      s"a ~4000-pair hot task is under the work budget, got $w")
  }

  test("autoWidthPoints: a crowd whose point x interval product " +
      "exceeds the work budget re-keys; result width-invariant") {
    // bucket 0 holds 50k points in [0,512) and 404 intervals: 400
    // value-disjoint from the points ([600,1023] — candidates, never
    // matches) + 4 covering ones. Work = 50k × 404 ≈ 20.2M > the
    // ~16.8M budget → re-key; at the refined width the disjoint 400
    // stop sharing buckets with the points at all, which is the win
    val pts = spark.range(50000).select(
      pmod(xxhash64(col("id"), lit(3L)), lit(512L)).as("p"))
    val iv = spark.range(404).select(col("id").as("i_id"),
        when(col("id") < 4, lit(0L)).otherwise(lit(600L)).as("lo"),
        when(col("id") < 4, lit(700L)).otherwise(lit(1023L)).as("hi"))
    val (w, _) = RangeJoin.autoPointMitigation(pts, "p", iv, "lo", "hi")
    assert(w < RangeJoin.BucketWidth,
      s"a 20M-pair hot task must re-key, got $w")
    // the join at the derived width matches the probe width (per-
    // interval match counts — 200k output rows stay in Spark)
    def got(width: Long) = bucketJoined(RangeJoin.pointInInterval(
      pts, iv, "p", "lo", "hi", width))
      .groupBy("i_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    val probe = RangeJoin.BucketWidth
    val atProbe = got(probe)
    assert(got(w) === atProbe)
    assert(got(probe / 64) === atProbe)
    assert(atProbe.values.sum === 200000L)
    // efficacy on the hottest cell's candidate work (points × local
    // intervals): the hand-tuned width (probe/64) must cut the probe
    // cell at least 2×, the derived width at least 4×, and the derived
    // width's max/mean cell work must stay in the hand-tuned class
    def cw(width: Long) =
      cellWork(RangeJoin.pointInInterval(pts, iv, "p", "lo", "hi", width))
    val (hot, fine, auto) = (cw(probe), cw(probe / 64), cw(w))
    assert(hot._1 >= 2 * fine._1,
      s"the width knob did not shrink the hot cell: $hot -> $fine")
    assert(hot._1 >= 4 * auto._1,
      s"auto width $w did not shrink the hot cell: $hot -> $auto")
    assert(auto._2 <= fine._2 * 1.75 + 0.5, s"auto width's cell balance " +
      s"${auto._2} is not in the hand-tuned class ${fine._2}")
  }

  test("band-overlap STREAM query matches the batch board query on " +
      "the FULL corpus") {
    // the streaming operator (bucket state + responsibility emission)
    // through the file-sink drain — full corpus since r19; repeated
    // calls must also work (fresh stream + sink subdir per invocation)
    val streamed = RangeJoin.bandOverlapStreamQuery(spark, Sf)
      .as[(Long, Long)].collect().toMap
    val fixed = RangeJoin.bandOverlapQuery(spark, Sf)
      .as[(Long, Long)].collect().toMap
    assert(streamed === fixed)
    val again = RangeJoin.bandOverlapStreamQuery(spark, Sf)
      .as[(Long, Long)].collect().toMap
    assert(again === fixed)
    assert(streamed.nonEmpty)
    // the 2-D salt-grid path on the same real corpus: grid placement
    // (rows hashed, transpose replication, responsibility untouched)
    // must be invisible in the answer — the board leg's contract
    val gridded = RangeJoin.bandOverlapStreamSaltedQuery(spark, Sf)
      .as[(Long, Long)].collect().toMap
    assert(gridded === fixed)
  }

  test("band-overlap AUTO query matches the fixed-width board query") {
    // width-independence end to end on real data: whatever width the
    // census picks, the answer is the fixed-width query's answer
    val auto = bucketJoined(RangeJoin.bandOverlapAutoQuery(spark, Sf))
      .as[(Long, Long)].collect().toMap
    val fixed = bucketJoined(RangeJoin.bandOverlapQuery(spark, Sf))
      .as[(Long, Long)].collect().toMap
    assert(auto === fixed)
    assert(auto.nonEmpty, "vacuous fixture — no overlapping bands")
  }

  test("band-overlap query plans an EQUI join and matches the theta form") {
    val q = RangeJoin.bandOverlapQuery(spark, Sf)
    q.queryExecution.toRdd.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"overlap join must ride the bucket equi-join:\n$plan")
    val got = q.as[(Long, Long)].collect().toMap
    val iv = graft.Tables.part(spark, Sf)
      .select(col("p_partkey"),
        floor(col("p_retailprice") * 100).cast("long").as("rp"))
      .select(col("p_partkey"),
        (col("rp") - expr("rp DIV 1000")).as("lo"),
        (col("rp") + expr("rp DIV 1000")).as("hi"))
    val naive = iv.as("a").join(iv.as("b"),
        col("a.p_partkey") < col("b.p_partkey") &&
        col("a.lo") <= col("b.hi") && col("b.lo") <= col("a.hi"))
      .groupBy(col("a.p_partkey")).agg(count(lit(1)).as("ct"))
      .as[(Long, Long)].collect().toMap
    assert(got === naive)
    assert(got.nonEmpty, "vacuous fixture — no band overlaps any other")
  }

  test("price-band query plans an EQUI join — no nested loop, no cartesian") {
    val q = RangeJoin.priceBandQuery(spark, Sf)
    q.queryExecution.toRdd.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"range join must ride the bucket equi-join:\n$plan")
    // the per-part counts equal the naive theta-join recompute
    val got = q.as[(Long, Long)].collect().toMap
    val iv = graft.Tables.part(spark, Sf)
      .select(col("p_partkey"),
        floor(col("p_retailprice") * 100).cast("long").as("rp"))
      .select(col("p_partkey"),
        (col("rp") - expr("rp DIV 1000")).as("lo"),
        (col("rp") + expr("rp DIV 1000")).as("hi"))
    val pts = graft.Tables.lineitem(spark, Sf)
      .select(floor(col("l_extendedprice") * 100).cast("long").as("pc"))
    val naive = pts.join(iv, col("pc") >= col("lo") && col("pc") <= col("hi"))
      .groupBy("p_partkey").agg(count(lit(1)).as("ct"))
      .as[(Long, Long)].collect().toMap
    assert(got === naive)
    assert(got.nonEmpty, "vacuous fixture — no price lands in any band")
  }

  test("autoWidth: balanced corpus keeps the probe width") {
    // spans ~ probe width, lo hash-uniform over many buckets — no
    // bucket materially out-censuses the mean
    def uni(n: Int, salt: Long, id: String, lo: String, hi: String) =
      spark.range(n).select(col("id").as(id),
        pmod(xxhash64(col("id"), lit(salt)), lit(65536L)).as(lo))
        .withColumn(hi,
          col(lo) + pmod(xxhash64(col(id), lit(salt + 1)), lit(1024L)))
    val (w, _) = RangeJoin.autoOverlapMitigation(
      uni(4000, 7L, "a_id", "lo_a", "hi_a"),
      uni(4000, 77L, "b_id", "lo_b", "hi_b"),
      "lo_a", "hi_a", "lo_b", "hi_b")
    assert(w === RangeJoin.BucketWidth,
      s"balanced corpus must keep the probe width, got $w")
  }

  test("autoWidth: crowded bucket re-keys to the crowd's span scale") {
    // 4000 tiny intervals (span <= 7) crammed into [0, 1000) — ONE
    // probe-width bucket — over a thin uniform background
    def crowd(salt: Long, id: String, lo: String, hi: String) =
      spark.range(4000).select(col("id").as(id),
        pmod(xxhash64(col("id"), lit(salt)), lit(993L)).as(lo))
        .withColumn(hi,
          col(lo) + pmod(xxhash64(col(id), lit(salt + 1)), lit(7L)))
    def bg(salt: Long, id: String, lo: String, hi: String) =
      spark.range(64).select((col("id") + 100000L).as(id),
        (pmod(xxhash64(col("id"), lit(salt)), lit(64L)) * 1024L + 2048L).as(lo))
        .withColumn(hi, col(lo) + lit(512L))
    val a = crowd(3L, "a_id", "lo_a", "hi_a")
      .unionByName(bg(5L, "a_id", "lo_a", "hi_a"))
    val b = crowd(33L, "b_id", "lo_b", "hi_b")
      .unionByName(bg(55L, "b_id", "lo_b", "hi_b"))
    val (w, _) =
      RangeJoin.autoOverlapMitigation(a, b, "lo_a", "hi_a", "lo_b", "hi_b")
    assert(w < RangeJoin.BucketWidth, s"crowding must re-key, got $w")
    assert(w >= 1L && w <= 16L,
      s"width should land at the crowd's median-span scale (~3), got $w")
    // the knob never changes answers: auto width == probe width results
    def pairs(width: Long) = bucketJoined(
      RangeJoin.intervalOverlap(a, b, "lo_a", "hi_a", "lo_b", "hi_b", width))
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val probe = RangeJoin.BucketWidth
    val atProbe = pairs(probe)
    assert(pairs(w) === atProbe)
    assert(pairs(probe / 64) === atProbe)
    // the knob's efficacy, read off the hottest cell's candidate work:
    // the probe bucket pairs ~4000 × 4000 crowd rows; the hand-tuned
    // width (probe/64) must cut that at least 2×, and the derived width
    // at least 2× too while staying within 4× of the hand-tuned cell
    def hot(width: Long) = cellWork(RangeJoin.intervalOverlap(
      a, b, "lo_a", "hi_a", "lo_b", "hi_b", width))._1
    val (mHot, mFine, mAuto) = (hot(probe), hot(probe / 64), hot(w))
    assert(mHot >= 2 * mFine,
      s"the width knob did not shrink the hot cell: $mHot -> $mFine")
    assert(mHot >= 2 * mAuto && mAuto <= 4 * mFine, s"auto width $w's " +
      s"hot cell $mAuto is not in the hand-tuned class ($mHot -> $mFine)")
  }

  test("autoWidth: a narrow domain crowding ONE bucket re-keys on the " +
      "absolute occupancy cap (the ratio test is blind there)") {
    // every interval in probe-bucket 0, NO background: the census has
    // a single row, so max/mean == 1 and the ratio can never trip —
    // only the AutoOccupancyCap work budget catches this corpus
    def crowd(salt: Long, id: String, lo: String, hi: String) =
      spark.range(4000).select(col("id").as(id),
        pmod(xxhash64(col("id"), lit(salt)), lit(993L)).as(lo))
        .withColumn(hi,
          col(lo) + pmod(xxhash64(col(id), lit(salt + 1)), lit(7L)))
    val a = crowd(3L, "a_id", "lo_a", "hi_a")
    val b = crowd(33L, "b_id", "lo_b", "hi_b")
    val (w, _) =
      RangeJoin.autoOverlapMitigation(a, b, "lo_a", "hi_a", "lo_b", "hi_b")
    assert(w < RangeJoin.BucketWidth,
      s"single-bucket crowding must re-key, got $w")
    assert(w >= 1L && w <= 16L,
      s"width should land at the crowd's median-span scale (~3), got $w")
  }

  test("autoWidth: the MaxSpanBuckets floor keeps the guard un-trippable") {
    // the crowd says "width 1"; the one huge background interval
    // (span 2^23) at width 1 would explode past the 2^20 cap — the
    // auto floor ceil(maxSpan / (MaxSpanBuckets - 1)) must win
    def crowd(salt: Long, id: String, lo: String, hi: String) =
      spark.range(4000).select(col("id").as(id),
        pmod(xxhash64(col("id"), lit(salt)), lit(1000L)).as(lo))
        .withColumn(hi, col(lo))
    val wide = Seq((999999L, 5L, 5L + (1L << 23))).toDF("a_id", "lo_a", "hi_a")
    val a = crowd(3L, "a_id", "lo_a", "hi_a").unionByName(wide)
    val b = crowd(33L, "b_id", "lo_b", "hi_b")
    val (w, _) =
      RangeJoin.autoOverlapMitigation(a, b, "lo_a", "hi_a", "lo_b", "hi_b")
    assert(w < RangeJoin.BucketWidth, s"crowding must re-key, got $w")
    val span = (1L << 23) + 1L
    val floor = span / (RangeJoin.MaxSpanBuckets - 1) +
      (if (span % (RangeJoin.MaxSpanBuckets - 1) == 0) 0L else 1L)
    assert(w >= floor, s"width $w under the guard floor $floor")
    // and the join at the auto width must run, not raise the span error
    val n = RangeJoin.intervalOverlap(a, b,
      "lo_a", "hi_a", "lo_b", "hi_b", w).count()
    assert(n > 0L)
  }

  test("autoWidth: degenerate inputs fall back to the probe width") {
    val empty = Seq.empty[(Long, Long, Long)].toDF("a_id", "lo_a", "hi_a")
    val emptyB = Seq.empty[(Long, Long, Long)].toDF("b_id", "lo_b", "hi_b")
    assert(RangeJoin.autoOverlapMitigation(empty, emptyB,
      "lo_a", "hi_a", "lo_b", "hi_b") === ((RangeJoin.BucketWidth, 1)))
    val inv = Seq((1L, 10L, 3L)).toDF("a_id", "lo_a", "hi_a") // inverted
    val nul = Seq((2L, None: Option[Long], Some(5L)))
      .toDF("b_id", "lo_b", "hi_b")
    assert(RangeJoin.autoOverlapMitigation(inv, nul,
      "lo_a", "hi_a", "lo_b", "hi_b") === ((RangeJoin.BucketWidth, 1)))
  }

  test("salt 1 is the fixed-width plan: no salt column, one bucket " +
      "Generate per exploded side") {
    // the board's fixed-width legs (the default salt = 1) must plan
    // exactly as the unsalted operator always did: the join is on the
    // bucket alone; the salted legs add the salt column and the
    // replicated side's salt Generate
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    def shape(df: DataFrame): (Int, Boolean) = {
      val plan = df.queryExecution.optimizedPlan
      (plan.collect { case g: Generate => g }.size,
        plan.find(_.output.exists(_.name == "__s")).isDefined)
    }
    assert(shape(RangeJoin.priceBandQuery(spark, Sf)) === ((1, false)))
    assert(shape(RangeJoin.bandOverlapQuery(spark, Sf)) === ((2, false)))
    assert(shape(RangeJoin.priceBandSaltedQuery(spark, Sf)) === ((2, true)))
    assert(shape(RangeJoin.bandOverlapSaltedQuery(spark, Sf)) === ((3, true)))
  }

  test("overlapStreamStateParts: census-derived, clamped, no constant") {
    // the stream leg's state-partition count follows the buffered-row
    // census (r20-VERDICT task 2): ceil(rows / target), never a pinned
    // local-mode constant
    val t = RangeJoin.StreamStatePartTargetRows
    assert(RangeJoin.overlapStreamStateParts(0L) === 1)
    assert(RangeJoin.overlapStreamStateParts(1L) === 1)
    assert(RangeJoin.overlapStreamStateParts(t) === 1)
    assert(RangeJoin.overlapStreamStateParts(t + 1) === 2)
    assert(RangeJoin.overlapStreamStateParts(10 * t) === 10)
    // sf0.1-shaped census (~20k bands x 1 bucket x 2 sides) lands in
    // the same small-partition regime the r19/r20 A/B pinned at 8
    val sf01 = RangeJoin.overlapStreamStateParts(40000L)
    assert(sf01 >= 4 && sf01 <= 12, s"sf0.1-shaped census derived $sf01")
    // the clamp bounds runaway estimates
    assert(RangeJoin.overlapStreamStateParts(Long.MaxValue / 2) === 1024)
  }
}
