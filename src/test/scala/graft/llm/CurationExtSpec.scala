package graft.llm

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** Round-8 curation extensions: model-based quality scoring,
  * boilerplate-block removal, fractional-epoch upsampling. */
class CurationExtSpec extends SparkSpec {
  import spark.implicits._

  // ---- QualityModel -------------------------------------------------

  test("qualityModel: null/empty text scores 0 and passes (pred=1)") {
    // a real corpus has null and empty docs; an unguarded aggregate
    // over a null token array yields score=null — the driver oracle
    // coalesces to 0, so the Spark side must too
    val docs = Seq(
      (1L, "en", "some ordinary text here"),
      (2L, "en", null.asInstanceOf[String]),
      (3L, "en", ""),
      (4L, "en", "!!! ...")).toDF("doc_id", "lang", "text")
    val out = QualityModel.scoreOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    Seq(2L, 3L, 4L).foreach { id =>
      assert(out(id).getLong(2) === 0L, s"doc $id score must be 0")
      assert(out(id).getLong(3) === 1L, s"doc $id pred must be 1")
    }
  }

  test("qualityModel: score is additive over the token multiset") {
    // sum-of-weights ⇒ "a a" scores exactly 2× "a", and order of
    // tokens cannot matter
    val docs = Seq(
      (1L, "en", "alpha"),
      (2L, "en", "alpha alpha"),
      (3L, "en", "alpha beta"),
      (4L, "en", "beta alpha")).toDF("doc_id", "lang", "text")
    val s = QualityModel.scoreOf(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(s(2L) === 2L * s(1L))
    assert(s(3L) === s(4L))
    assert(s.values.forall(v => v.abs <= 1000L * 2), "weights in span")
  }

  test("qualityModel is a pure projection — zero shuffles") {
    val plan = QualityModel.scoreOf(Tables.documents(spark, Sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"quality scoring must not shuffle:\n$plan")
  }

  // ---- Boilerplate --------------------------------------------------

  test("boilerplate: cross-document repeated block is removed") {
    val shared = (1 to 10).map(i => s"w$i").mkString(" ") // one full block
    val docs = Seq(
      (1L, s"$shared x1 x2 x3 x4 x5"), // 2 blocks: shared + 5-token tail
      (2L, s"$shared y1 y2"),          // 2 blocks: shared + 2-token tail
      (3L, "z1 z2 z3 z4"),             // 1 unique block
      (4L, "")).toDF("doc_id", "text") // empty → absent from output
    val out = Boilerplate.boilerplateOf(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) === ((2L, 1L, 5L)))
    assert(out(2L) === ((2L, 1L, 2L)))
    assert(out(3L) === ((1L, 0L, 4L)))
    assert(!out.contains(4L))
  }

  test("boilerplate: block alignment is per-document positional") {
    // the same 10 tokens offset by one position hash differently —
    // block identity is position-aligned text, not a shingle set
    val ws = (1 to 11).map(i => s"w$i")
    val docs = Seq(
      (1L, ws.take(10).mkString(" ")),
      (2L, ws.drop(1).mkString(" "))).toDF("doc_id", "text")
    val out = Boilerplate.boilerplateOf(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) === 0L && out(2L) === 0L, "offset blocks are not dups")
  }

  test("boilerplate: join strategy is AQE-chosen, not hinted") {
    // the boilerplate set is corpus-derived and unbounded by
    // construction — PLANS.md rule #2 forbids a hard broadcast hint;
    // the logical plan must carry no join hint at all
    val df = Boilerplate.boilerplateOf(Tables.documents(spark, Sf))
    assert(!df.queryExecution.optimizedPlan.toString.contains("ResolvedHint") &&
      !df.queryExecution.logical.toString.contains("UnresolvedHint"),
      "no broadcast hint on the boilerplate side")
    assert(df.count() > 0L)
  }

  // ---- Upsample -----------------------------------------------------

  test("upsample: every doc appears 1–3 times with contiguous epochs") {
    val out = Upsample.upsampleOf(Tables.documents(spark, Sf))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max("epoch").as("mx"), min("epoch").as("mn"))
      .as[(Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    assert(out.forall { case (_, n, mx, mn) =>
      n >= 1L && n <= 3L && mn == 1L && mx == n
    }, "reps in [1,3], epochs contiguous from 1")
  }

  test("upsample: per-language rep counts differ by at most one doc-level") {
    // factor is per-language; within a language every doc gets either
    // floor(f) or floor(f)+1 epochs
    val spread = Upsample.upsampleOf(Tables.documents(spark, Sf))
      .groupBy("lang", "doc_id").agg(count(lit(1)).as("n"))
      .groupBy("lang").agg((max("n") - min("n")).as("d"))
      .as[(String, Long)].collect()
    assert(spread.forall(_._2 <= 1L), spread.mkString(","))
  }

  // ---- epoch-aware packing -----------------------------------------

  test("packingUpsampled: one unit per (doc, epoch), shard-local prefix sums") {
    val out = Upsample.packingUpsampledOf(Tables.documents(spark, Sf))
      .select("doc_id", "epoch", "lang", "shard", "n_tokens", "cum_tokens")
      .as[(Long, Long, String, Long, Long, Long)].collect()
    // unit multiset = the upsample expansion, exactly
    val nUnits = Upsample.upsampleOf(Tables.documents(spark, Sf)).count()
    assert(out.length.toLong === nUnits, "every (doc, epoch) unit packed once")
    // per (lang, shard), cum_tokens is the running sum in (doc_id, epoch) order
    out.groupBy(u => (u._3, u._4)).foreach { case (_, us) =>
      var run = 0L
      us.sortBy(u => (u._1, u._2)).foreach { u =>
        run += u._5
        assert(u._6 === run, s"prefix sum broken at doc ${u._1} epoch ${u._2}")
      }
    }
    // epoch scatter: some multi-epoch doc's epochs land in different
    // shards (shard hashes (doc_id, epoch), not doc_id)
    val scattered = out.groupBy(_._1).exists(_._2.map(_._4).distinct.length > 1)
    assert(scattered, "epochs of one doc must scatter across shards")
  }

  // ---- quality-priority keep-list ----------------------------------

  test("qualityKeepList: cluster survives its best-scored member") {
    val docs = Seq(
      (1L, "en", "alpha beta gamma"),
      (2L, "en", "delta epsilon"),
      (3L, "en", "zeta eta theta"),
      (4L, "en", "iota")).toDF("doc_id", "lang", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.qualityKeepListOf(docs, pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(3)))
      .toMap
    // {1,2,3} is one cluster labeled by its min id; 4 is a singleton
    Seq(1L, 2L, 3L).foreach(id => assert(out(id)._1 === 1L))
    assert(out(4L)._1 === 4L && out(4L)._3 === 1)
    val cluster = Seq(1L, 2L, 3L).map(id => (id, out(id)._2))
    val best = cluster.minBy { case (id, s) => (-s, id) }._1
    Seq(1L, 2L, 3L).foreach { id =>
      assert(out(id)._3 === (if (id == best) 1 else 0),
        s"doc $id kept flag: expected best=$best")
    }
  }

  test("upsample plan: no shuffle — projection + bounded explode") {
    val plan = Upsample.upsampleOf(Tables.documents(spark, Sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"upsampling must not shuffle:\n$plan")
  }
  test("qualityAgreement: cells partition the corpus; keep-rate bounded") {
    val out = QualityModel.qualityAgreementOf(Tables.documents(spark, Sf)).collect()
    assert(out.nonEmpty)
    val docs = graft.Tables.documents(spark, Sf).count()
    assert(out.map(_.getLong(2)).sum === docs, "every doc in one cell")
    out.foreach { r =>
      assert(r.getLong(0) >= -1L &&
        r.getLong(0) < QualityModel.AgreementBands)
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000000L)
    }
    // within a band, every cell reports the same keep-rate (it is a
    // band-level statistic riding the cell rows)
    out.groupBy(_.getLong(0)).foreach { case (_, cells) =>
      assert(cells.map(_.getLong(3)).distinct.length === 1)
    }
  }
}
