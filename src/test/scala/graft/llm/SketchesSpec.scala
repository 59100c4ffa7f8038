package graft.llm

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  // ---- HyperLogLog --------------------------------------------------

  test("hllSketch: duplicate documents collapse to one register hit") {
    val docs = Seq((1L, "alpha"), (2L, "alpha"), (3L, "beta"))
      .toDF("doc_id", "text")
    val one = Sketches.hllSketchOf(docs.filter($"doc_id" <= 1))
      .as[(Long, Long)].collect().toMap
    val dup = Sketches.hllSketchOf(docs.filter($"doc_id" <= 2))
      .as[(Long, Long)].collect().toMap
    assert(one === dup, "identical text must not move any register")
    val all = Sketches.hllSketchOf(docs).as[(Long, Long)].collect()
    assert(all.forall { case (b, r) => b >= 0 && b < Sketches.HllM &&
      r >= 1 && r <= 33 })
  }

  test("hllSketch merges: max-merge of two halves equals the union") {
    val docs = Tables.documents(spark, Sf)
    val whole = Sketches.hllSketchOf(docs).as[(Long, Long)].collect().toMap
    val a = Sketches.hllSketchOf(docs.filter($"doc_id" % 2 === 0))
      .as[(Long, Long)].collect().toMap
    val b = Sketches.hllSketchOf(docs.filter($"doc_id" % 2 =!= 0))
      .as[(Long, Long)].collect().toMap
    val merged = (a.keySet ++ b.keySet).map(k =>
      k -> math.max(a.getOrElse(k, 0L), b.getOrElse(k, 0L))).toMap
    assert(merged === whole, "register max-merge is the union sketch")
  }

  test("hllEstimate: estimate lands within the m=64 error envelope") {
    val r = Sketches.hllEstimateOf(Tables.documents(spark, Sf)).collect().head
    val est = r.getAs[Long]("est")
    val exact = r.getAs[Long]("n_exact")
    // 1.04/sqrt(64) = 13% std error; allow 3 sigma
    assert(math.abs(est - exact) <= (exact * 39) / 100 + 1,
      s"est=$est exact=$exact")
    assert(r.getAs[Long]("n_buckets") <= Sketches.HllM)
  }

  test("hll plan: no distinct shuffle — one bucket-keyed exchange") {
    val plan = Sketches.hllSketchOf(Tables.documents(spark, Sf))
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(bucket"),
      s"register aggregation must shuffle on bucket:\n$plan")
    assert(!plan.contains("hashpartitioning(text") &&
      !plan.contains("hashpartitioning(m#"),
      s"the corpus must never be shuffled on content for the sketch:\n$plan")
  }

  // ---- Grouped HLL --------------------------------------------------

  test("uvSketch: per-group registers, estimate tracks exact per key") {
    val out = Sketches.uvSketchOf(Tables.events(spark, Sf)).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_buckets") <= Sketches.GroupHllM)
      assert(r.getAs[Long]("est") > 0)
      // tiny-sf groups sit below the raw estimator's calibrated range;
      // the bound here is sanity (same order of magnitude), the real
      // check is the oracle identity at the driver's sf
      val est = r.getAs[Long]("est"); val exact = r.getAs[Long]("n_exact")
      assert(est <= exact * 4 && est * 4 >= exact, s"est=$est exact=$exact")
    }
  }

  test("uvSketch plan: register exchange is (group, bucket)-keyed") {
    val plan = Sketches.uvSketchOf(Tables.events(spark, Sf))
      .queryExecution.executedPlan.toString
    // the SKETCH branch's only exchange: hashpartitioning(event_type,
    // bucket) — the exact-count adjudicator branch legitimately does
    // its own (event_type, user_id) distinct exchange
    assert("hashpartitioning\\(event_type#\\d+, bucket#\\d+".r
      .findFirstIn(plan).isDefined,
      s"registers must shuffle on (group, bucket):\n$plan")
  }

  // ---- Count-Min ----------------------------------------------------

  test("cmsSketch: cell mass equals total token mass, d times") {
    val docs = Tables.documents(spark, Sf)
    val total = docs
      .select(explode(graft.func.Tokenizer.tokens($"text")).as("w"))
      .count()
    val perRow = Sketches.cmsSketchOf(docs)
      .groupBy("r").agg(sum("c_cell").as("s")).as[(Long, Long)]
      .collect().toMap
    assert(perRow.keySet === (0L until Sketches.CmsD).toSet)
    assert(perRow.values.forall(_ === total),
      "every hash row preserves the full count mass")
  }

  test("cmsTopK: estimates never undercount and match exact for " +
    "collision-free words") {
    val out = Sketches.cmsTopKOf(Tables.documents(spark, Sf)).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("c_est") >= r.getAs[Long]("c_exact"),
        s"CMS must never underestimate: $r")
      assert(r.getAs[Long]("overcount") ===
        r.getAs[Long]("c_est") - r.getAs[Long]("c_exact"))
    }
  }

  test("cmsTopK plan: sketch joins broadcast — no corpus-keyed join") {
    val plan = Sketches.cmsTopKOf(Tables.documents(spark, Sf))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the bounded sketch must broadcast against the candidates:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no vocabulary-sized shuffle join in a point query:\n$plan")
  }

  // ---- DSIR ---------------------------------------------------------

  // ---- KMV ----------------------------------------------------------

  test("kmvSketch: k smallest distinct hashes, merge law holds") {
    val sk = Sketches.kmvSketchOf(Tables.documents(spark, Sf))
      .as[(String, Long, Long)].collect()
    val bySrc = sk.groupBy(_._1)
    bySrc.foreach { case (s, rows) =>
      assert(rows.length <= Sketches.KmvK, s"source $s over k")
      val hvs = rows.sortBy(_._2).map(_._3)
      assert(hvs.toSeq == hvs.sorted.toSeq && hvs.distinct.length == hvs.length,
        s"source $s ranks must walk ascending distinct hashes")
    }
    // MERGE LAW: the k smallest of (sketch(A) ∪ sketch(B)) equal the
    // k smallest of hashes(A ∪ B) — sketches compose without revisiting
    // the corpus (the property HLL has for max and KMV has for min)
    val docs = Tables.documents(spark, Sf)
    val ab = docs.filter(col("source").isin("src0", "src1"))
    val direct = Sketches.kmvSketchOf(
        ab.withColumn("source", lit("both")))
      .as[(String, Long, Long)].collect().sortBy(_._2).map(_._3).toSeq
    val merged = (bySrc("src0").map(_._3) ++ bySrc("src1").map(_._3))
      .distinct.sorted.take(Sketches.KmvK.toInt).toSeq
    assert(direct == merged, "sketch-of-union != union-of-sketches")
  }

  test("kmvEstimate: estimator branch live, within the k=16 envelope") {
    val rows = Sketches.kmvEstimateOf(Tables.documents(spark, Sf))
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (s, est, exact, errPpm) =>
      // every sf source has more distinct tokens than k, so the
      // (k-1)·M/h_k branch — not the exact-set fallback — produced est
      assert(exact > Sketches.KmvK, s"fixture: $s must exceed k")
      assert(est >= exact / 2 && est <= exact * 2,
        s"$s est $est vs exact $exact outside the 1/sqrt(k-2) regime")
      assert(errPpm == math.abs(est - exact) * 1000000L / exact)
    }
  }

  test("kmvOverlap: intersection estimate tracks the exact overlap") {
    val got = Sketches.kmvOverlapOf(Tables.documents(spark, Sf))
      .as[(String, String, Long, Long, Long)].collect()
    assert(got.length >= 3)
    // exact per-pair distinct-token intersections (small at Sf)
    val toks = Tables.documents(spark, Sf)
      .select(col("source"), explode(
        graft.func.Tokenizer.tokens(col("text"))).as("w"))
      .distinct().as[(String, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    got.foreach { case (a, b, xCt, unionEst, interEst) =>
      val (sa, sb) = (toks(a), toks(b))
      val exactU = (sa ++ sb).size
      val exactI = (sa intersect sb).size
      assert(xCt <= Sketches.KmvK)
      assert(unionEst >= exactU / 2 && unionEst <= exactU * 2,
        s"($a,$b) union $unionEst vs exact $exactU")
      assert(interEst >= exactI / 2 && interEst <= exactI * 2,
        s"($a,$b) intersection $interEst vs exact $exactI")
    }
  }

  test("dsirScore: target-slice tokens score higher than source-only") {
    // 'tgtword' appears only in the en slice, 'srcword' only outside it
    val docs = Seq(
      (1L, "en", "tgtword tgtword tgtword"),
      (2L, "en", "tgtword tgtword"),
      (3L, "fr", "srcword srcword srcword"),
      (4L, "fr", "srcword srcword"),
      (5L, "en", "")).toDF("doc_id", "lang", "text")
    val out = Dsir.dsirScoreOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_toks"),
        r.getAs[Long]("score_bits"))).toMap
    // tgtword bucket: tf_t=5 tf_s=0 → bitlen(6)-bitlen(1)=3-1=+2/token
    assert(out(1L) === ((3L, 6L)))
    // srcword bucket: tf_t=0 tf_s=5 → bitlen(1)-bitlen(6)=-2/token
    assert(out(3L) === ((3L, -6L)))
    assert(out(5L) === ((0L, 0L)), "token-less doc scores 0")
  }

  test("dsirScore plan: bucket weights broadcast back to the corpus") {
    val plan = Dsir.dsirScoreOf(Tables.documents(spark, Sf))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the bounded weight table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"scoring must not shuffle corpus tokens into a join:\n$plan")
  }

  test("hq sketch: add-merge of two halves equals the whole; merged " +
      "estimates equal whole estimates") {
    val docs = Tables.documents(spark, Sf)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (Option(r.getString(0)), r.getAs[Long]("bin"))
        -> r.getAs[Long]("ct")).toMap
    val whole = Sketches.hqSketchOf(docs)
    val a = Sketches.hqSketchOf(docs.filter(col("doc_id") % 2 === 0))
    val b = Sketches.hqSketchOf(docs.filter(col("doc_id") % 2 === 1))
    val merged = a.unionByName(b)
      .groupBy("lang", "bin").agg(sum("ct").as("ct"))
    assert(toMap(merged) === toMap(whole), "counts must ADD per (lang, bin)")
    def est(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => Option(r.getString(0)) -> r.toSeq.drop(1)).toMap
    assert(est(Sketches.hqEstimateFrom(merged)) ===
      est(Sketches.hqEstimateFrom(whole)))
    assert(toMap(whole).nonEmpty, "vacuous fixture")
  }

  test("hq estimate: every quantile lands in its bin — within " +
      "HqBinW - 1 of the exact value") {
    def num(r: org.apache.spark.sql.Row, c: String): Long =
      r.getAs[Number](c).longValue()
    val exact = CorpusOps.qualityQuantilesOf(Tables.documents(spark, Sf)).collect()
      .map(r => Option(r.getString(0)) ->
        CorpusOps.QuantilePoints.map(p => num(r, s"q$p"))).toMap
    val sk = Sketches.hqEstimate(spark, Sf).collect()
      .map(r => Option(r.getString(0)) ->
        CorpusOps.QuantilePoints.map(p => num(r, s"q${p}_lo"))).toMap
    assert(exact.keySet === sk.keySet)
    exact.foreach { case (lang, eqs) =>
      eqs.zip(sk(lang)).zip(CorpusOps.QuantilePoints).foreach {
        case ((e, lo), p) =>
          assert(lo <= e && e < lo + Sketches.HqBinW,
            s"lang=$lang p=$p exact=$e est_lo=$lo")
      }
    }
  }
}
