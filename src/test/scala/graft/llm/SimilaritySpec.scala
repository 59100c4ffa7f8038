package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("dot/norm/cosine match hand arithmetic") {
    val a = Array.fill(64)(0.0f); a(0) = 3f; a(1) = 4f
    val b = Array.fill(64)(0.0f); b(0) = 3f; b(1) = 4f
    val c = Array.fill(64)(0.0f); c(0) = -4f; c(1) = 3f
    val df = Seq((a.toSeq, b.toSeq), (a.toSeq, c.toSeq)).toDF("x", "y")
    val cos = df.select(Similarity.cosine(col("x"), col("y"))).as[Double]
      .collect()
    assert(math.abs(cos(0) - 1.0) < 1e-12, "parallel vectors → 1")
    assert(math.abs(cos(1)) < 1e-12, "orthogonal vectors → 0")
  }

  test("bruteTopK: rank 1 is the max-cosine neighbor, k rows per query") {
    val out = Similarity.bruteTopK(spark, Sf).cache()
    val perQuery = out.groupBy("query_id").count().as[(Long, Long)].collect()
    assert(perQuery.nonEmpty)
    assert(perQuery.forall(_._2 == Similarity.TopK))
    val ranked = out.filter(col("query_id") === perQuery.head._1)
      .orderBy("rank").select("cos_ppm").as[Long].collect()
    assert(ranked.toSeq == ranked.sortBy(-_).toSeq, "cos_ppm descending by rank")
  }

  test("ivfTopK: probes only promising cells yet recalls most true top-k") {
    val brute = Similarity.bruteTopK(spark, Sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(spark, Sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.3,
      s"IVF nprobe=${Similarity.NProbe} recall vs brute was $recall")
  }

  test("ivfTopKFullProbe: nprobe=KCells is bit-identical to bruteTopK") {
    // cells partition the vectors, so probing every cell must recover
    // the exact brute-force answer — quantizer/probe-join/scoring
    // pinned data-independently (the registered oracle is the brute one)
    val brute = Similarity.bruteTopK(spark, Sf)
      .as[(Long, Int, Long, Long)].collect().toSet
    val full = Similarity.ivfTopKFullProbe(spark, Sf)
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(full === brute)
  }

  test("ivfRecall: full query population, every query meets the floor") {
    val rec = Similarity.ivfRecall(spark, Sf)
      .as[(Long, Int)].collect().toMap
    val expected = graft.Tables.embeddings(spark, Sf)
      .filter(col("vec_id") % Similarity.QueryStride === 0 &&
        col("vec_id") < Similarity.QueryStride * Similarity.MaxQueries)
      .select("vec_id").as[Long].collect().toSet
    assert(rec.keySet == expected, "one row per deterministic query id")
    assert(rec.values.forall(_ == 1),
      s"queries under the ${Similarity.RecallFloorPpm} ppm floor: " +
        rec.filter(_._2 != 1).keys.mkString(","))
  }

  test("pqCodebooks: deterministic, one codebook per subspace") {
    val raw = graft.Tables.embeddings(spark, Sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val a = Similarity.pqCodebooks(raw)
    val b = Similarity.pqCodebooks(raw)
    assert(a.length === Similarity.PqM)
    a.foreach { book =>
      assert(book.length === Similarity.PqK)
      book.foreach(c => assert(c.length === Similarity.PqSubDim))
    }
    // two builds from the same frame are bit-identical (fixed seeds,
    // fixed rounds, pinned IEEE order)
    assert(a.flatten.flatten.toSeq === b.flatten.flatten.toSeq)
  }

  test("pqTopK: exact-rescore scores agree with brute on shared pairs") {
    val brute = Similarity.bruteTopK(spark, Sf)
      .select("query_id", "neighbor_id", "cos_ppm")
      .as[(Long, Long, Long)].collect()
      .map { case (q, n, c) => (q, n) -> c }.toMap
    val pq = Similarity.pqTopK(spark, Sf)
      .select("query_id", "neighbor_id", "cos_ppm")
      .as[(Long, Long, Long)].collect()
    assert(pq.nonEmpty)
    // recovered pairs carry the EXACT cosine ppm (same expression path)
    pq.foreach { case (q, n, c) =>
      brute.get((q, n)).foreach(bc => assert(bc === c, s"pair ($q, $n)"))
    }
    // per-query output is exactly TopK, ranks 1..k
    val byQ = pq.groupBy(_._1)
    byQ.values.foreach(rows => assert(rows.length === Similarity.TopK))
  }

  test("pqRecall: full query population, every query meets the floor") {
    val rec = Similarity.pqRecall(spark, Sf)
      .as[(Long, Int)].collect().toMap
    val expected = graft.Tables.embeddings(spark, Sf)
      .filter(col("vec_id") % Similarity.QueryStride === 0 &&
        col("vec_id") < Similarity.QueryStride * Similarity.MaxQueries)
      .select("vec_id").as[Long].collect().toSet
    assert(rec.keySet == expected, "one row per deterministic query id")
    assert(rec.values.forall(_ == 1),
      s"queries under the ${Similarity.PqRecallFloorPpm} ppm floor: " +
        rec.filter(_._2 != 1).keys.mkString(","))
  }

  test("ivfPqTopK: candidates come only from probed cells, exact rescored") {
    val brute = Similarity.bruteTopK(spark, Sf)
      .select("query_id", "neighbor_id", "cos_ppm")
      .as[(Long, Long, Long)].collect()
      .map { case (q, n, c) => (q, n) -> c }.toMap
    val out = Similarity.ivfPqTopK(spark, Sf)
      .select("query_id", "neighbor_id", "cos_ppm")
      .as[(Long, Long, Long)].collect()
    assert(out.nonEmpty)
    // rescored pairs carry the EXACT cosine ppm on brute-shared pairs
    out.foreach { case (q, n, c) =>
      brute.get((q, n)).foreach(bc => assert(bc === c, s"pair ($q, $n)"))
    }
    // wider probing than plain IVF: the composed path must recall at
    // least what the spec demands of ivfTopK
    val bruteSet = brute.keySet
    val got = out.map { case (q, n, _) => (q, n) }.toSet
    val recall = (bruteSet intersect got).size.toDouble / bruteSet.size
    assert(recall >= 0.3, s"IVFADC recall vs brute was $recall")
  }

  test("ivfPqRecall: full query population, every query meets the floor") {
    val rec = Similarity.ivfPqRecall(spark, Sf)
      .as[(Long, Int)].collect().toMap
    val expected = graft.Tables.embeddings(spark, Sf)
      .filter(col("vec_id") % Similarity.QueryStride === 0 &&
        col("vec_id") < Similarity.QueryStride * Similarity.MaxQueries)
      .select("vec_id").as[Long].collect().toSet
    assert(rec.keySet == expected, "one row per deterministic query id")
    assert(rec.values.forall(_ == 1),
      s"queries under the ${Similarity.IvfPqRecallFloorPpm} ppm floor: " +
        rec.filter(_._2 != 1).keys.mkString(","))
  }

  test("embedKeepList: keepers are component minima of the near-dup graph") {
    val pairs = Similarity.lshNearDup(spark, Sf)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
    val out = Similarity.embedKeepList(spark, Sf)
      .as[(Long, Long, Int)].collect()
      .map { case (v, k, kept) => v -> ((k, kept)) }.toMap
    // driver-side union-find over the same pair set
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val allVecs = graft.Tables.embeddings(spark, Sf)
      .select("vec_id").as[Long].collect()
    assert(out.keySet === allVecs.toSet, "one verdict per embedding")
    allVecs.foreach { v =>
      val keeper = find(v)
      assert(out(v) === ((keeper, if (keeper == v) 1 else 0)), s"vec $v")
    }
    // the list actually deduplicates at this corpus shape
    assert(out.values.exists(_._2 == 0), "no drops — vacuous keep-list")
  }

  test("quantizeInt8: codes in range, dequantization error bounded") {
    val codes = Similarity.quantizeInt8(spark, Sf)
      .as[(Long, Long, Long)].collect()
      .map { case (id, pos, c) => (id, pos) -> c }.toMap
    val vecs = graft.Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    assert(codes.size === vecs.length * Similarity.Dim)
    assert(codes.values.forall(c => c >= 0 && c <= 255))
    vecs.foreach { case (id, emb) =>
      val v = emb.map(_.toDouble)
      val (vmin, vmax) = (v.min, v.max)
      val scale = vmax - vmin
      v.zipWithIndex.foreach { case (x, i) =>
        val c = codes((id, i + 1L))
        if (scale == 0.0) assert(c === 0L)
        else {
          // floor((x-vmin)·255/scale) ⇒ the code's cell contains x
          val lo = vmin + c * scale / 255.0
          assert(x >= lo - 1e-9 && x <= lo + scale / 255.0 + 1e-9,
            s"vec $id pos ${i + 1}: x=$x outside cell of code $c")
        }
      }
    }
    val plan = Similarity.quantizeInt8(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      s"quantizeInt8 should scan only (vec_id, embedding):\n$plan")
  }

  test("embedDimStats: Dim rows of exact integer code statistics") {
    val out = Similarity.embedDimStats(spark, Sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size === Similarity.Dim)
    val codes = Similarity.quantizeInt8(spark, Sf)
      .as[(Long, Long, Long)].collect()
    val byPos = codes.groupBy(_._2)
    out.foreach { case (pos, r) =>
      val cs = byPos(pos).map(_._3)
      val n = cs.length.toLong
      val sum = cs.sum
      assert(r.getLong(1) === n && r.getLong(2) === cs.min &&
        r.getLong(3) === cs.max && r.getLong(4) === sum)
      assert(r.getLong(5) === 1000L * sum / n)
      val m = n * cs.map(c => c * c).sum - sum * sum
      assert(r.getLong(6) === 1000L * m / (n * n))
    }
  }

  test("lshNearDup: 100% precision (every pair verified ≥ threshold)") {
    val pairs = Similarity.lshNearDup(spark, Sf)
      .select("cos_ppm").as[Long].collect()
    assert(pairs.forall(_ >= Similarity.NearDupPpm))
  }

  /** Scratch corpus with PLANTED cos ≥ 0.9 pairs: the sf vectors have
    * no production-regime duplicates (max pairwise cos ≈ 0.5), so the
    * prod-threshold board queries are vacuous there — this corpus
    * gives the cos ≥ 0.9 verify path real rows to prove itself on.
    * Twin 10000+i copies vector 10·i exactly (cos = 1); 20000 is a
    * ×2-scaled copy of vector 0 (same direction, cos = 1) — all
    * planted pairs share every band signature, so LSH finds them
    * deterministically, and nothing else clears 0.9. */
  private lazy val prodDir: String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-prod-neardup").toString
    val base = graft.Tables.embeddings(spark, Sf)
    val twins = (0 until 5).map { i =>
      base.filter(col("vec_id") === i * 10L)
        .withColumn("vec_id", lit(10000L + i))
    }.reduce(_ unionByName _)
    val scaled = base.filter(col("vec_id") === 0L)
      .withColumn("vec_id", lit(20000L))
      .withColumn("embedding",
        transform(col("embedding"), x => (x * 2.0f).cast("float")))
    base.unionByName(twins).unionByName(scaled)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("lshNearDupProd finds exactly the planted cos≥0.9 pairs") {
    val got = graft.SparkEntry.query("q_llm_embed_neardup_prod")(spark, prodDir)
      .select("vec_a", "vec_b", "cos_ppm").as[(Long, Long, Long)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    val expectedKeys = ((0 until 5).map(i => (i * 10L, 10000L + i)) :+
      ((0L, 20000L)) :+ ((10000L, 20000L))).toSet
    assert(got.keySet === expectedKeys,
      s"planted pairs only; got ${got.keySet}")
    assert(got.values.forall(_ >= Similarity.NearDupProdPpm))
    // and the same corpus at the 0.35 board threshold is a SUPERSET —
    // the prod filter is the only difference in the pipeline
    val loose = Similarity.lshNearDup(spark, prodDir)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(expectedKeys.subsetOf(loose))
  }

  test("embedKeepListProd collapses the planted twins to min-id keepers") {
    val out = graft.SparkEntry.query("q_llm_embed_keeplist_prod")(spark, prodDir)
      .as[(Long, Long, Int)].collect()
      .map { case (v, k, kept) => v -> ((k, kept)) }.toMap
    assert(out.size === 506)
    (0 until 5).foreach { i =>
      assert(out(10000L + i) === ((i * 10L, 0)), s"twin $i drops")
      assert(out(i * 10L) === ((i * 10L, 1)), s"original ${i * 10} keeps")
    }
    // 0, its twin 10000, and its scaled copy 20000 are ONE component
    assert(out(20000L) === ((0L, 0)))
    // everything unplanted keeps itself — no chance pair clears 0.9
    assert(out.count(_._2._2 == 0) === 6)
  }

  test("scaleBits: occupancy-targeted width, clamped, board-compatible") {
    // 500 sf vectors → clamp floor 4: the scaled board query REDUCES
    // to the oracle-locked default banding at board cardinality
    assert(Similarity.scaleBits(500L) === 4)
    assert(Similarity.scaleBits(2000L) === 4)   // log2(16) = 4 exactly
    assert(Similarity.scaleBits(8000L) === 6)   // log2(64) = 6
    assert(Similarity.scaleBits(16000L) === 7)  // log2(128) = 7
    assert(Similarity.scaleBits(1000000L) === 7) // clamp ceiling
    assert(Similarity.scaleBits(0L) === 4)       // degenerate: clamp floor
    val n = graft.Tables.embeddings(spark, Sf).count()
    val scaled = Similarity.embedKeepListScaled(spark, Sf)
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    val explicit = Similarity
      .embedKeepList(spark, Sf, 8, Similarity.scaleBits(n))
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    assert(scaled.toSeq === explicit.toSeq)
  }

  test("native VecDot/VecNorm are bit-equal to the unrolled IEEE spec") {
    val e = graft.Tables.embeddings(spark, Sf)
    val pairs = e.as("a").join(e.as("b"),
        col("a.vec_id") < col("b.vec_id") && col("a.vec_id") % 7 === 0)
      .select(col("a.embedding").as("x"), col("b.embedding").as("y"))
    val diff = pairs.select(
        Similarity.dot(col("x"), col("y")).as("n"),
        Similarity.dotUnrolled(col("x"), col("y")).as("u"),
        Similarity.norm(col("x")).as("nn"),
        Similarity.normUnrolled(col("x")).as("un"))
      .filter(col("n") =!= col("u") || col("nn") =!= col("un"))
      .count()
    assert(diff == 0)
  }

  test("vec_dot / vec_norm register as SQL functions via install") {
    graft.expr.GraftFunctions.install(spark)
    graft.Tables.embeddings(spark, Sf).limit(5)
      .createOrReplaceTempView("emb_sql_test")
    val r = spark.sql(
      """SELECT vec_dot(embedding, embedding) AS d,
        |       vec_norm(embedding) AS n FROM emb_sql_test""".stripMargin)
      .as[(Double, Double)].collect()
    assert(r.nonEmpty)
    r.foreach { case (d, n) => assert(math.abs(math.sqrt(d) - n) < 1e-9) }
  }

  test("mapPartitions signatures equal the Catalyst signBits expression") {
    val e = graft.Tables.embeddings(spark, Sf)
    val viaLoop = Similarity.signatures(e)
      .as[(Long, Long)].collect().toMap
    val viaExpr = e.select(col("vec_id"),
        Similarity.signBits(col("embedding")).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(viaLoop == viaExpr)
  }

  test("plane weights are ±1 and deterministic") {
    val w = for (j <- 0 until Similarity.Planes; d <- 0 until Similarity.Dim)
      yield Similarity.planeWeight(j, d)
    assert(w.forall(x => x == 1.0 || x == -1.0))
    assert(w.count(_ > 0) > w.size / 3 && w.count(_ < 0) > w.size / 3,
      "roughly balanced signs")
  }
  test("dedupSweep: monotone in threshold, exact on a hand pair frame") {
    import spark.implicits._
    val pairs = Seq(
      (1L, 2L, 950000L), (1L, 3L, 850000L), (4L, 5L, 450000L))
      .toDF("vec_a", "vec_b", "cos_ppm")
    val out = Similarity.dedupSweepFrom(pairs)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(400000L) === ((3L, 5L)))
    assert(out(500000L) === ((2L, 3L)))
    assert(out(900000L) === ((1L, 2L)))
    // every threshold present, including past-the-max zeros
    assert(out.keySet === Similarity.SweepThresholds.toSet)

    val sf = Similarity.dedupSweep(spark, Sf)
      .orderBy("threshold_ppm").as[(Long, Long, Long)].collect()
    assert(sf.length === Similarity.SweepThresholds.size)
    sf.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo._2 >= hi._2 && lo._3 >= hi._3,
          s"dup counts must fall as the threshold rises: $lo vs $hi")
      case _ =>
    }
  }
  test("mmrSelect: the redundancy penalty demotes a near-duplicate") {
    import spark.implicits._
    // query = x-hat; v1 and v2 identical (theta off-axis), v3 mirrored
    // across x: rel(v1)=rel(v2)=rel(v3)=cos(theta), sim(v1,v2)=1,
    // sim(v1,v3)=cos(2*theta) < rel — so after picking v1, diverse v3
    // must beat the duplicate v2 despite equal relevance
    val dim = Similarity.Dim
    def vec(xs: (Int, Float)*): Seq[Float] = {
      val a = Array.fill(dim)(0.0f)
      xs.foreach { case (i, v) => a(i) = v }
      a.toSeq
    }
    val c = 0.9f; val sn = 0.43589f
    val emb = Seq(
      (0L, vec(0 -> 1.0f)),          // query
      (1L, vec(0 -> c, 1 -> sn)),
      (2L, vec(0 -> c, 1 -> sn)),    // duplicate of 1
      (3L, vec(0 -> c, 1 -> -sn)))   // mirrored: diverse
      .toDF("vec_id", "embedding")
    val sel = Similarity.mmrSelectOf(emb)
      .orderBy("sel_rank").select("vec_id").as[Long].collect().toSeq
    assert(sel.take(3) === Seq(1L, 3L, 2L),
      s"expected duplicate demoted below the diverse vector, got $sel")
  }

  test("mmrSelect plan: pool generation is top-k, not a global sort") {
    // only the candidate/matrix halves are plan-auditable (the greedy
    // runs driver-side), and they execute INSIDE mmrSelectOf — so
    // capture the operator's actual executed plans with a
    // QueryExecutionListener instead of auditing a re-derived copy
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // the execution-listener bus is ASYNC and shared JVM-wide: a
      // late-delivered event from an EARLIER action in this JVM could
      // land in the queue and be swept as if the operator executed it,
      // and a slow bus could miss a fixed deadline (review r11).
      // Deterministic capture instead: drain the bus, discard anything
      // already delivered, run the operator, drain again — the queue
      // then holds exactly this call's plans, no polling loop.
      org.apache.spark.graftshim.ListenerShim
        .drainListenerBus(spark.sparkContext)
      plans.clear()
      assert(Similarity.mmrSelect(spark, Sf).collect().nonEmpty)
      // the operator performs two internal collects (pool candidates,
      // C×C matrix) and the test's own collect is the third event
      org.apache.spark.graftshim.ListenerShim
        .drainListenerBus(spark.sparkContext)
      val all = scala.jdk.CollectionConverters
        .CollectionHasAsScala(plans).asScala.toVector
      assert(all.size >= 3,
        s"expected the pool, matrix, and result plans; got ${all.size}")
      assert(all.exists(_.contains("TakeOrderedAndProject")),
        s"pool selection must be per-partition top-k; captured " +
          s"${all.length} plans:\n${all.mkString("\n----\n")}")
      assert(all.forall(!_.contains("CartesianProduct")),
        "no cartesian in any stage the operator executed")
    } finally spark.listenerManager.unregister(listener)
  }

  test("mmrSelect at Sf: k rows, first pick is the top-relevance vector") {
    val out = Similarity.mmrSelect(spark, Sf)
      .orderBy("sel_rank").collect()
    assert(out.length === Similarity.MmrK)
    assert(out.map(_.getAs[Long]("vec_id")).distinct.length === out.length)
    // selection 1 has no penalty: it is the relevance argmax
    assert(out.head.getAs[Long]("mmr") ===
      Similarity.MmrLambda * out.head.getAs[Long]("rel_ppm"))
    assert(out.head.getAs[Long]("rel_ppm") ===
      out.map(_.getAs[Long]("rel_ppm")).max)
  }
}
