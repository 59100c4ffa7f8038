package graft

import org.apache.spark.sql.functions._

/** Window-reformulated streaming operators (T1/T2/T3, A1) against
  * hand-built frames seeded from the reference's comment samples
  * (gmall-time/.../app/dwd2/BaseLogApp2.java:172-191,
  * app/dwm2/UV2.java:129-233). */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  // (event_id, mid, ts_ms): mid "a" has a session pair + a lone visit;
  // mid "b" a single event (bounce by definition)
  private def events = Seq(
    (1L, "a", 1000L), (2L, "a", 5000L),          // same session (gap 4 s)
    (3L, "a", 10000000L),                        // isolated → bounce
    (4L, "b", 2000L))                            // isolated → bounce
    .toDF("event_id", "mid", "ts_ms")

  test("jump detect (T3): lone events bounce, sessioned events do not") {
    import org.apache.spark.sql.expressions.Window
    val gap = 10000L // 10 s, the reference's CEP within()
    val w = Window.partitionBy(col("mid")).orderBy(col("ts_ms"), col("event_id"))
    val bounces = events
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
      .withColumn("next_ms", lead(col("ts_ms"), 1).over(w))
      .filter(
        (col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > gap) &&
        (col("next_ms").isNull || col("next_ms") - col("ts_ms") > gap))
      .select("event_id").as[Long].collect().toSet
    assert(bounces == Set(3L, 4L))
  }

  test("UV dedup (T2): first visit per (mid, day) survives") {
    val d = Seq(
      (1L, "a", "2021-03-21 10:00:00"), (2L, "a", "2021-03-21 12:00:00"),
      (3L, "a", "2021-03-22 09:00:00"), (4L, "b", "2021-03-21 09:30:00"))
      .toDF("event_id", "mid", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s")))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("mid"), to_date(col("ts")))
      .orderBy(col("ts"), col("event_id"))
    val kept = d.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("event_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("is_new repair (T1): later-day claims rewritten to 0") {
    import org.apache.spark.sql.expressions.Window
    val d = Seq(
      ("m1", "2021-03-21"), ("m1", "2021-03-22"), ("m2", "2021-03-22"))
      .toDF("mid", "dt")
    val firstDay = min(col("dt")).over(Window.partitionBy(col("mid")))
    val out = d.withColumn("is_new",
        when(col("dt") === firstDay, 1).otherwise(0))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2))
      .toMap
    assert(out(("m1", "2021-03-21")) == 1)
    assert(out(("m1", "2021-03-22")) == 0, "the reference's T1 bug, fixed")
    assert(out(("m2", "2021-03-22")) == 1)
  }

  test("visitor stats (A1) aggregation is input-order invariant") {
    val base = dws.VisitorStats(spark, Sf).collect().toSet
    // same pipeline over a repartitioned (order-scrambled) source is
    // the same result — sums/counts must not depend on arrival order
    val scrambled = dws.VisitorStats(spark, Sf).repartition(7).collect().toSet
    assert(base == scrambled)
    assert(base.nonEmpty)
  }

  test("hopping windows: every event lands in exactly size/slide windows") {
    val hop = dws.VisitorStats.hopping(spark, Sf).collect()
    val events = spark.read.parquet(s"$Sf/events.parquet").count()
    // fixed x2 fan-out: total pv mass is exactly 2x the event count
    assert(hop.map(_.getLong(2)).sum === 2L * events)
    // adjacent windows genuinely overlap: somewhere in the stream two
    // consecutive starts differ by EXACTLY one slide (a regression to
    // every-other-window emission — step 2×slide — fails this; the
    // old %-slide check was vacuous for grid-aligned starts)
    val starts = hop.map(_.getLong(0)).distinct.sorted
    assert(starts.sliding(2).exists {
      case Array(a, b) => b - a == dws.VisitorStats.HopSlideSec
      case _ => false
    }, s"no slide-adjacent window pair in ${starts.take(10).toSeq}...")
    assert(hop.forall(r => r.getLong(3) <= r.getLong(2)),
      "distinct users never exceed page views")
  }

  test("Exprs: ratio zero-guard and tumbleStart floor") {
    val d = Seq((10L, 0L), (10L, 4L)).toDF("num", "den")
    val r = d.select(func.Exprs.ratio(col("num"), col("den")))
      .as[Double].collect()
    assert(r(0) == 0.0 && r(1) == 2.5)
    val t = Seq("2021-03-21 10:00:07").toDF("s")
      .select(func.Exprs.tumbleStart(to_timestamp(col("s")), 10))
      .as[Long].head()
    assert(t % 10 == 0 && t <= 1616320807L && t > 1616320807L - 10)
  }

  test("oracle SQL carries no uninitialized constant splices") {
    // an oracle val declared above the constants it interpolates reads
    // their pre-init defaults (0 for Long, null for String) — DuckDB
    // then computes NULL columns while the row count still matches
    // (caught live in chunkThenPackOracle). Scala's forward-reference
    // rules don't flag cross-section object vals, so guard the whole
    // contract surface instead.
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      Seq("% 0 ", "// 0 ", "% 0\n", "// 0\n", "'null'", " null)", "* 0 +")
        .foreach { bad =>
          assert(!sql.contains(bad), s"$name oracle contains '$bad'")
        }
    }
    // and every declared oracle key has a matching query
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("board names are unique and well-formed") {
    // a duplicate name would be dropped silently when the maps are built
    val names = SparkEntry.board.map(_.name)
    assert(names.diff(names.distinct).isEmpty, "duplicate board names")
    names.foreach(n => assert(n.matches("q_[a-z0-9_]+"), s"bad board name '$n'"))
  }

  test("only the four rows-only queries lack an oracle") {
    val rowsOnly = SparkEntry.board.filter(_.oracle.isEmpty).map(_.name).toSet
    assert(rowsOnly == Set("q_dws_product_stats_approx", "q_llm_ann_ivf",
      "q_llm_ann_pq", "q_llm_ann_ivfpq"))
  }

  test("every oracle is non-blank SQL") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql != null && sql.trim.nonEmpty, s"$name oracle is blank")
    }
  }

  test("an unknown query name fails with the valid names") {
    val e = intercept[IllegalArgumentException](SparkEntry.query("q_no_such"))
    assert(e.getMessage.contains("q_no_such"))
    assert(e.getMessage.contains("q_dws_province_stats, "))
  }
}
