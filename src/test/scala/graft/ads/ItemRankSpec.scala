package graft.ads

import graft.SparkSpec

class ItemRankSpec extends SparkSpec {
  import spark.implicits._

  test("itemRank: hand-computed 4-round recurrence on a path graph") {
    // path 1 - 2 - 3 (unit weights): the center node collects from
    // both leaves every round; leaves each get half of the center
    val out = ItemRank.itemRankOf(
      Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("pa", "pb", "support"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // rounds (leaf, center): (575000, 1850000) -> (936250, 1127500)
    //   -> (629187, 1741625) -> (890190, 1219617)
    assert(out(1L) === 890190L)
    assert(out(3L) === 890190L)
    assert(out(2L) === 1219617L)
  }

  test("itemRank: symmetric graph gives symmetric scores; hub dominates") {
    // star: hub 10 connected to 11, 12, 13
    val out = ItemRank.itemRankOf(
      Seq((10L, 11L, 2L), (10L, 12L, 2L), (10L, 13L, 2L))
        .toDF("pa", "pb", "support"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(11L) === out(12L) && out(12L) === out(13L))
    assert(out(10L) > out(11L), "hub centrality exceeds the spokes'")
  }

  test("itemRank on sf data: every graph node scored, base respected") {
    val out = ItemRank.itemRank(spark, Sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getLong(1) >= ItemRank.BasePpm),
      "teleport mass is a floor on every score")
    assert(out.map(_.getLong(0)).distinct.length === out.length)
  }
  test("triangles: K4 plus a pendant, counted once each") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles) + pendant edge (1,5)
    val pairs = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),(1L,5L))
      .toDF("pa", "pb")
    val r = ItemRank.trianglesOf(pairs).collect().head
    assert(r.getAs[Long]("n_edges") === 7L)
    // degrees 4,3,3,3,1 -> wedges = 6 + 3*3 + 0 = 15
    assert(r.getAs[Long]("n_wedges") === 15L)
    assert(r.getAs[Long]("n_triangles") === 4L)
    // 3*4/15 in ppm
    assert(r.getAs[Long]("clustering_ppm") === 800000L)
  }

  test("triangles at Sf: closed wedges never exceed all wedges") {
    val r = ItemRank.triangles(spark, Sf).collect().head
    assert(r.getAs[Long]("n_triangles") * 3 <= r.getAs[Long]("n_wedges"))
    assert(r.getAs[Long]("clustering_ppm") <= 1000000L)
  }

  test("hubbed co-purchase corpus: degree-ordered wedges spread, " +
      "balanced shuffle, triangles and itemRank equal driver replays") {
    // 10k orders of 5 items (40% from a 100-item head, the rest from a
    // 1,000-item tail) plus hub items 1, 2, 3 in 20%, 3% and 2% of the
    // orders — the SMALLEST ids, so a naive pa < pb orientation would
    // send every hub edge out of the hub
    val dir = graft.func.TempDirs.scoped("hub-graph")
    spark.range(10000L).as[Long].flatMap { o =>
      val rnd = new java.util.Random(o * 6364136223846793005L + 1L)
      val hubs = Seq(1L -> 0.20, 2L -> 0.03, 3L -> 0.02)
        .collect { case (id, p) if rnd.nextDouble() < p => id }
      (hubs ++ (0 until 5).map(_ =>
        if (rnd.nextDouble() < 0.4) 1000L + rnd.nextInt(100)
        else 100000L + rnd.nextInt(1000))).map(pk => (o, pk))
    }.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val pairs = ItemRank.copurchasePairs(spark, dir).localCheckpoint()
    val es = pairs.select("pa", "pb", "support").as[(Long, Long, Long)]
      .collect()
    val degM = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    assert(degM(1L) > 500, s"the 20% hub must dominate: ${degM(1L)}")

    // degree-ordered orientation (lower (deg, id) endpoint first)
    // spreads the hubs' wedges: no vertex holds a tenth of them
    def first(a: Long, b: Long) =
      degM(a) < degM(b) || (degM(a) == degM(b) && a < b)
    val outDeg = es.map(e => if (first(e._1, e._2)) e._1 else e._2)
      .groupBy(identity).view.mapValues(_.length.toLong)
    val wedgesAt = outDeg.values.map(d => d * (d - 1) / 2)
    assert(wedgesAt.max * 10 < wedgesAt.sum,
      "degree-ordered orientation failed to spread the hub's wedges")

    // the distributed triangle job at 16 shuffle partitions: no stage
    // reading over 10k shuffle rows puts 8× its mean on one task
    val (tri, m) = graft.func.Confs.withSqlConfs(spark)(
        "spark.sql.shuffle.partitions" -> "16",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      graft.Metrics.around(spark)(ItemRank.trianglesOf(pairs).head())
    }
    val skew = m.stages.map(_.taskShuffleReadRecs).filter(_.sum > 10000)
      .map(rs => rs.max / (rs.sum.toDouble / rs.size))
    assert(skew.nonEmpty && skew.max < 8.0, s"wedge-join shuffle skew: $skew")

    // driver replay of the triangle count: every undirected wedge,
    // and every oriented wedge closed by an oriented edge
    val eset = es.map(e => if (first(e._1, e._2)) (e._1, e._2)
      else (e._2, e._1)).toSet
    val closed = eset.groupBy(_._1).values.map { out =>
      val ns = out.toSeq.map(_._2)
      ns.combinations(2).count { case Seq(x, y) =>
        eset((x, y)) || eset((y, x)) }.toLong
    }.sum
    assert((tri.getLong(0), tri.getLong(1), tri.getLong(2)) ===
      ((es.length.toLong, degM.values.map(d => d * (d - 1) / 2).sum, closed)))
    assert(closed > 0)

    // driver replay of all four itemRank rounds, score for score
    val wOut = es.flatMap(e => Seq(e._1 -> e._3, e._2 -> e._3))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    var scores = wOut.map { case (v, _) => v -> 1000000L }
    (1 to ItemRank.Rounds).foreach { _ =>
      val cin = es.flatMap { case (a, b, w) => Seq(
          b -> scores(a) * w / wOut(a), a -> scores(b) * w / wOut(b)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum)
      scores = cin.map { case (v, c) =>
        v -> (ItemRank.BasePpm + ItemRank.DampPpm * c / 1000000L) }.toMap
    }
    val ranked = ItemRank.itemRankOf(pairs).as[(Long, Long)].collect().toMap
    assert(ranked === scores, "itemRank differs from the driver replay")
  }

  test("triangles plan: keyed joins only — src-keyed wedges, " +
      "(b,c)-keyed semi close, no cartesian") {
    // the documented 100 TB shape (ItemRank.trianglesOf): the wedge
    // self-join shuffles on src, the closing check is a LEFT SEMI
    // keyed on (b, c), and nothing falls back to a cartesian.
    // Forcing shuffle joins makes the keys visible at smoke scale.
    withForcedShuffleJoins {
      val plan = ItemRank.triangles(spark, Sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"no cartesian anywhere in the triangle plan:\n$plan")
      assert(plan.contains("LeftSemi"),
        s"the closing check must be a LEFT SEMI join:\n$plan")
      assert("hashpartitioning\\(src".r.findFirstIn(plan).nonEmpty,
        s"wedge join must shuffle on src:\n$plan")
      assert("hashpartitioning\\(b[#,]".r.findFirstIn(plan).nonEmpty,
        s"semi close must shuffle on (b, c):\n$plan")
    }
  }
}
