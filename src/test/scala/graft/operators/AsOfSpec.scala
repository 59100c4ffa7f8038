package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class AsOfSpec extends SparkSpec {
  import spark.implicits._

  test("asOf picks the latest at-or-before right row per key") {
    val left = Seq(
      (1L, 5L, "e1"),   // before any right row -> null
      (1L, 10L, "e2"),  // ties right t=10 -> matches it (<=)
      (1L, 25L, "e3"),  // after both -> t=20 wins
      (2L, 50L, "e4")   // key with no right rows -> null
    ).toDF("k", "t", "ev")
    val right = Seq(
      (1L, 10L, 100L),
      (1L, 20L, 200L)
    ).toDF("rk", "rt", "payload")

    val out = AsOf.asOf(left, right, "k", "rk", "t", "rt", Seq("payload"))
      .select("ev", "payload").as[(String, Option[Long])].collect().toMap

    assert(out("e1").isEmpty)
    assert(out("e2").contains(100L))
    assert(out("e3").contains(200L))
    assert(out("e4").isEmpty)
  }

  test("asOf fails fast when an input carries a reserved internal name") {
    val left = Seq((1L, 5L, "x")).toDF("k", "t", "__side")
    val right = Seq((1L, 5L, 9L)).toDF("rk", "rt", "payload")
    val e = intercept[IllegalArgumentException] {
      AsOf.asOf(left, right, "k", "rk", "t", "rt", Seq("payload"))
    }
    assert(e.getMessage.contains("__side"))
    val rightBad = Seq((1L, 5L, 9L)).toDF("rk", "rt", "__p")
    intercept[IllegalArgumentException] {
      AsOf.asOf(left.withColumnRenamed("__side", "ev"), rightBad,
        "k", "rk", "t", "rt", Seq("__p"))
    }
    // asOf shares asOfDirection's reserved set, whose __rt is the
    // picked right row's time inside the payload struct
    val ok = left.withColumnRenamed("__side", "ev")
    val e2 = intercept[IllegalArgumentException] {
      AsOf.asOf(ok.withColumnRenamed("ev", "__rt"), right,
        "k", "rk", "t", "rt", Seq("payload"))
    }
    assert(e2.getMessage.contains("__rt"))
    val e3 = intercept[IllegalArgumentException] {
      AsOf.asOf(ok, right.withColumnRenamed("payload", "__rt"),
        "k", "rk", "t", "rt", Seq("__rt"))
    }
    assert(e3.getMessage.contains("__rt"))
  }

  test("asOf takes the latest right ROW atomically; null keys never match") {
    val left = Seq(
      (Some(1L), 20L, "e1"),  // latest right row has b=null: must NOT backfill
      (None: Option[Long], 20L, "e2")  // null key: no match ever
    ).toDF("k", "t", "ev")
    val right = Seq(
      (Some(1L), Some(5L), Some(1L), Some(2L)),
      (Some(1L), Some(10L), Some(9L), None), // latest for k=1: (a=9, b=null)
      (None: Option[Long], Some(10L), Some(7L), Some(7L)), // null key: dropped
      (Some(1L), None: Option[Long], Some(8L), Some(8L))   // null time: dropped
    ).toDF("rk", "rt", "a", "b")

    val out = AsOf.asOf(left, right, "k", "rk", "t", "rt", Seq("a", "b"))
      .select("ev", "a", "b").as[(String, Option[Long], Option[Long])]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out("e1") === ((Some(9L), None)))  // not (9, 2) column-mixing
    assert(out("e2") === ((None, None)))
  }

  // ---- native custom-plan tier (graft.plans.NativeAsOf) ----

  test("asOfDirection: forward picks the earliest at-or-after; ties match") {
    val left = Seq(
      (1L, 5L, "e1"),   // before both rights -> t=10
      (1L, 10L, "e2"),  // ties right t=10 -> matches it (>=)
      (1L, 15L, "e3"),  // between -> t=20
      (1L, 25L, "e4"),  // after both -> null
      (2L, 5L, "e5")    // key with no right rows -> null
    ).toDF("k", "t", "ev")
    val right = Seq((1L, 10L, 100L), (1L, 20L, 200L)).toDF("rk", "rt", "p")
    val out = AsOf.asOfDirection(left, right, "k", "rk", "t", "rt",
        Seq("p"), "forward")
      .select("ev", "p").as[(String, Option[Long])].collect().toMap
    assert(out === Map("e1" -> Some(100L), "e2" -> Some(100L),
      "e3" -> Some(200L), "e4" -> None, "e5" -> None))
  }

  test("asOfDirection: nearest picks the closer side, backward on ties") {
    val left = Seq(
      (1L, 12L, "e1"),  // dist 2 back (10), 8 fwd (20) -> back 100
      (1L, 17L, "e2"),  // dist 7 back, 3 fwd -> fwd 200
      (1L, 15L, "e3"),  // equidistant (5/5) -> BACKWARD wins -> 100
      (1L, 3L, "e4"),   // only forward exists -> 100
      (1L, 30L, "e5")   // only backward within reach -> 200
    ).toDF("k", "t", "ev")
    val right = Seq((1L, 10L, 100L), (1L, 20L, 200L)).toDF("rk", "rt", "p")
    val out = AsOf.asOfDirection(left, right, "k", "rk", "t", "rt",
        Seq("p"), "nearest")
      .select("ev", "p").as[(String, Option[Long])].collect().toMap
    assert(out === Map("e1" -> Some(100L), "e2" -> Some(200L),
      "e3" -> Some(100L), "e4" -> Some(100L), "e5" -> Some(200L)))
  }

  test("asOfDirection: tolerance nulls the picked ROW atomically, " +
      "per side, before nearest chooses") {
    val left = Seq(
      (1L, 100L, "e1"), // back dist 90 > tol; fwd dist 10 <= tol -> fwd
      (1L, 25L, "e2"),  // back dist 15 <= 20; fwd dist 85 > 20 -> back
      (1L, 60L, "e3")   // both out of tolerance -> null
    ).toDF("k", "t", "ev")
    val right = Seq((1L, 10L, 100L), (1L, 110L, 200L)).toDF("rk", "rt", "p")
    def run(dir: String) =
      AsOf.asOfDirection(left, right, "k", "rk", "t", "rt",
          Seq("p"), dir, toleranceMs = 20L)
        .select("ev", "p").as[(String, Option[Long])].collect().toMap
    assert(run("nearest") === Map("e1" -> Some(200L), "e2" -> Some(100L),
      "e3" -> None))
    assert(run("backward") === Map("e1" -> None, "e2" -> Some(100L),
      "e3" -> None))
    assert(run("forward") === Map("e1" -> Some(200L), "e2" -> None,
      "e3" -> None))
  }

  test("asOfDirection nearest plans ONE key exchange — two stacked " +
      "windows, no join") {
    val q = AsOf.nearestOrderQuery(spark, Sf)
    q.queryExecution.toRdd.count()
    // AQE's toString echoes the initial plan below the final one —
    // assert on the FINAL section only
    val plan = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("Exchange hashpartitioning\\(__k".r.findAllIn(plan).length === 1,
      s"both direction windows must share one key exchange:\n$plan")
    assert("Window \\[last".r.findAllIn(plan).length === 2,
      s"expected the backward and forward running-last windows:\n$plan")
    assert(!plan.contains("Join"),
      s"the union device must not plan a join:\n$plan")
    assert(!plan.contains("unboundedfollowing"),
      s"forward must ride the DESC running frame, not an O(n^2) " +
        s"unbounded-following frame:\n$plan")
  }

  test("asOfDirection backward with infinite tolerance equals asOf " +
      "on the real tables") {
    val ev = graft.Tables.events(spark, Sf).select(
      col("event_id"), col("user_id"),
      graft.func.Exprs.epochMs(col("ts")).as("ts_ms"))
    val ord = graft.Tables.orders(spark, Sf)
      .select(col("o_custkey"),
        graft.func.Exprs.epochMs(col("o_orderdate")).as("o_date_ms"),
        col("o_orderkey"))
      .groupBy("o_custkey", "o_date_ms")
      .agg(max("o_orderkey").as("o_orderkey"))
    val a = AsOf.asOf(ev, ord, "user_id", "o_custkey", "ts_ms",
        "o_date_ms", Seq("o_orderkey"))
      .select("event_id", "o_orderkey")
      .as[(Long, Option[Long])].collect().toMap
    val b = AsOf.asOfDirection(ev, ord, "user_id", "o_custkey", "ts_ms",
        "o_date_ms", Seq("o_orderkey"), "backward")
      .select("event_id", "o_orderkey")
      .as[(Long, Option[Long])].collect().toMap
    assert(a === b)
    assert(a.nonEmpty, "vacuous fixture")
  }

  test("native asOf matches the composition on null keys/times and ties") {
    val left = Seq(
      (Some(1L), Some(5L), "e1"),   // before any right row -> null
      (Some(1L), Some(10L), "e2"),  // ties right t=10 -> matches (<=)
      (Some(1L), Some(25L), "e3"),  // after both -> t=20 wins
      (Some(2L), Some(50L), "e4"),  // key with no right rows -> null
      (None: Option[Long], Some(9L), "e5"),  // null left key -> null payload
      (Some(1L), None: Option[Long], "e6")   // null left time -> null payload
    ).toDF("k", "t", "ev")
    val right = Seq(
      (Some(1L), Some(10L), Some(100L)),
      (Some(1L), Some(20L), Some(200L)),
      (None: Option[Long], Some(1L), Some(666L)),  // null key: never matches
      (Some(1L), None: Option[Long], Some(777L))   // null time: never matches
    ).toDF("rk", "rt", "payload")

    val native = graft.plans.NativeAsOf
      .asOf(spark, left, right, "k", "rk", "t", "rt", Seq("payload"))
    val composed = AsOf.asOf(left, right, "k", "rk", "t", "rt", Seq("payload"))
    assert(native.schema === composed.schema)
    val n = native.select("ev", "payload")
      .as[(String, Option[Long])].collect().toMap
    val c = composed.select("ev", "payload")
      .as[(String, Option[Long])].collect().toMap
    assert(n === c)
    assert(n === Map("e1" -> None, "e2" -> Some(100L), "e3" -> Some(200L),
      "e4" -> None, "e5" -> None, "e6" -> None))
  }

  test("native asOf nulls a NON-NULLABLE payload column on unmatched rows") {
    // the projection must bind against a nullable view of the right
    // side: a Seq[(Long,Long,Long)] frame carries non-nullable payload
    // attributes, and a projection bound at that nullability skips the
    // null check and emits 0 instead of NULL for unmatched left rows
    val left = Seq((1L, 5L, "miss"), (1L, 30L, "hit")).toDF("k", "t", "ev")
    val right = Seq((1L, 10L, 0L)).toDF("rk", "rt", "payload")
    assert(!right.schema("payload").nullable)
    val out = graft.plans.NativeAsOf
      .asOf(spark, left, right, "k", "rk", "t", "rt", Seq("payload"))
    assert(out.schema("payload").nullable)
    val got = out.select("ev", "payload")
      .as[(String, Option[Long])].collect().toMap
    assert(got === Map("miss" -> None, "hit" -> Some(0L)))
  }

  test("native asOf equals the composition row-for-row at sf0.01") {
    val composed = AsOf.latestOrderQuery(spark, Sf01)
    val native = graft.plans.NativeAsOf.latestOrderQuery(spark, Sf01)
    assert(native.schema.map(f => (f.name, f.dataType)) ===
      composed.schema.map(f => (f.name, f.dataType)))
    assert(native.count() === composed.count())
    assert(native.exceptAll(composed).isEmpty &&
      composed.exceptAll(native).isEmpty)
  }

  test("native asOf plans AsOfJoinExec; rule restores pushdown + pruning") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-asof-plan").toString
    Seq((1L, 10L, 6L, 1L), (1L, 20L, 7L, 2L), (2L, 30L, 3L, 3L))
      .toDF("k", "t", "extra1", "extra2")
      .write.mode("overwrite").parquet(s"$base/left")
    Seq((1L, 5L, 100L, 11L), (2L, 25L, 200L, 22L))
      .toDF("rk", "rt", "p1", "p2")
      .write.mode("overwrite").parquet(s"$base/right")

    val out = graft.plans.NativeAsOf.asOf(spark,
        spark.read.parquet(s"$base/left"),
        spark.read.parquet(s"$base/right"),
        "k", "rk", "t", "rt", Seq("p1", "p2"))
      .filter(col("extra1") > 5L)
      .select("k", "p1")
    // rows first (also finalizes the AQE plan before inspection):
    // extra1>5 keeps the two k=1 left rows; both see right (1, t=5)
    val rows = out.as[(Long, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(rows === Seq((1L, Some(100L)), (1L, Some(100L))))

    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"),
      s"custom exec must be picked:\n$plan")
    // 1. the left-only predicate commuted below the node into the scan
    assert(plan.contains("GreaterThan(extra1,5)"),
      s"left filter must land in PushedFilters:\n$plan")
    // 2. pruning: unused left column and unused payload column never
    //    reach either scan's ReadSchema
    assert(!plan.contains("extra2"),
      s"unused left column must be pruned from the scan:\n$plan")
    assert(!plan.contains("p2"),
      s"unused payload column must be pruned from the right scan:\n$plan")
  }

  test("native asOf executes on empty inputs (either side, both)") {
    val l = Seq((1L, 10L, "e")).toDF("k", "t", "ev")
    val r = Seq((1L, 5L, 9L)).toDF("rk", "rt", "payload")
    val le = l.limit(0)
    val re = r.limit(0)
    def run(left: org.apache.spark.sql.DataFrame,
            right: org.apache.spark.sql.DataFrame) =
      graft.plans.NativeAsOf
        .asOf(spark, left, right, "k", "rk", "t", "rt", Seq("payload"))
        .collect()
    assert(run(le, r).isEmpty)
    val rightEmpty = run(l, re)
    assert(rightEmpty.length === 1 && rightEmpty.head.isNullAt(3))
    assert(run(le, re).isEmpty)
  }

  test("asOf equals the join+row_number reference form on real tables") {
    val got = AsOf.latestOrderQuery(spark, Sf)
    // reference form: explode all qualifying (event, order) pairs,
    // keep rank-1 by latest order date — quadratic but obviously right
    val ev = graft.Tables.events(spark, Sf).select(
      col("event_id"), col("user_id"),
      graft.func.Exprs.epochMs(col("ts")).as("ts_ms"))
    val ord = graft.Tables.orders(spark, Sf)
      .select(col("o_custkey"),
        graft.func.Exprs.epochMs(col("o_orderdate")).as("o_date_ms"),
        col("o_orderkey"))
      .groupBy("o_custkey", "o_date_ms")
      .agg(max("o_orderkey").as("o_orderkey"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_id").orderBy(col("o_date_ms").desc)
    val ref = ev.join(ord,
        ev("user_id") === ord("o_custkey") &&
        ord("o_date_ms") <= ev("ts_ms"), "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("o_orderkey").as("ref_orderkey"))

    val joined = got.select(col("event_id"), col("o_orderkey"))
      .join(ref, Seq("event_id"))
    assert(joined.count() === ev.count())
    assert(joined.filter(!(col("o_orderkey") <=> col("ref_orderkey"))).count() === 0)
  }
}
