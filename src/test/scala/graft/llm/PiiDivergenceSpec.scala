package graft.llm

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class PiiDivergenceSpec extends SparkSpec {
  import spark.implicits._

  // ---- Pii ----------------------------------------------------------

  test("piiScan: counts each class independently") {
    val docs = Seq(
      (1L, "mail a.b@x.io and c@y.co phone 555-123-4567 ip 10.0.0.1"),
      (2L, "no pii here"),
      (3L, "almost 12-345-6789 and 999.1.2 and user@nodot")) // none match
      .toDF("doc_id", "text")
    val out = Pii.piiScanOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) === 2L) // emails
    assert(out(1L).getLong(2) === 1L) // phones
    assert(out(1L).getLong(3) === 1L) // ips
    assert(out(1L).getLong(4) === 4L && out(1L).getLong(5) === 1L)
    assert(out(2L).getLong(4) === 0L && out(2L).getLong(5) === 0L)
    assert(out(3L).getLong(4) === 0L)
  }

  test("piiRedact: placeholders replace every match, count carried") {
    val docs = Seq(
      (1L, "reach a@b.com or c@d.org at 10.1.2.3 tel 555-000-1111"))
      .toDF("doc_id", "text")
    val r = Pii.piiRedactOf(docs).head()
    assert(r.getString(1) ===
      "reach [EMAIL] or [EMAIL] at [IP] tel [PHONE]")
    assert(r.getLong(2) === 4L)
  }

  test("pii render fires on the sf data and stays shuffle-free") {
    val df = Pii.piiScan(spark, Sf)
    val agg = df.agg(sum("n_emails"), sum("n_phones"), sum("n_ips")).head()
    assert(agg.getLong(0) > 0 && agg.getLong(1) > 0 && agg.getLong(2) > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"pii scan must be a pure projection:\n$plan")
  }

  // ---- LangModel.pplFilter ------------------------------------------

  test("pplFilter: per-language terciles with deterministic ties") {
    // lang A: 4 scorable docs -> head gets ceil boundary at rank 1,
    // ranks 2 in head? 3*(r-1)<4 -> r=1,2 head; r=3 middle; r=4 tail
    val docs = Seq(
      (1L, "a a a a", "A"),   // high self-similarity -> high fluency
      (2L, "a a b b", "A"),
      (3L, "a b c d", "A"),
      (4L, "d c b a", "A"),
      (5L, "a a a", "B"),
      (6L, "x", "B")) // unscorable: dropped
      .toDF("doc_id", "text", "lang")
    val out = LangModel.pplFilterOf(docs).collect()
    assert(!out.exists(_.getLong(0) == 6L), "single-token doc dropped")
    val a = out.filter(_.getString(1) == "A")
      .sortBy(_.getLong(3)).map(r => (r.getLong(0), r.getString(4)))
    assert(a.map(_._2).toSeq === Seq("head", "head", "middle", "tail"))
    assert(a.head._1 === 1L, "best-fluency doc ranks first")
    val b = out.filter(_.getString(1) == "B")
    assert(b.length === 1 && b.head.getString(4) === "head")
  }

  test("pplFilter plan: rank window is lang/score-keyed, not single") {
    val plan = LangModel.pplFilterOf(Tables.documents(spark, Sf))
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(lang"),
      s"rank must run under a (lang, score)-keyed window:\n$plan")
  }

  // ---- Divergence ---------------------------------------------------

  test("sourceDivergence: identical source has TV 0; disjoint near 1e6") {
    val docs = Seq(
      (1L, "a b", "s1"), (2L, "a b", "s2"), // two identical halves
      (3L, "z z", "s3"))                    // plus a disjoint third
      .toDF("doc_id", "text", "source")
    val out = Divergence.sourceDivergenceOf(docs).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    // corpus: a=2/6 b=2/6 z=2/6 -> each source dist: s1=s2 {a:.5,b:.5},
    // s3 {z:1}. TV(s1)=|500000-333333|*2 + 333333 -> /2
    assert(out("s1") === out("s2"))
    assert(out("s1") === (2L * (500000L - 333333L) + 333333L) / 2L)
    assert(out("s3") === ((1000000L - 333333L) + 2L * 333333L) / 2L)
  }

  test("sourceDivergence on sf data: one row per source, ppm-bounded") {
    val out = Divergence.sourceDivergenceOf(Tables.documents(spark, Sf)).collect()
    assert(out.length === 20)
    assert(out.forall(r => r.getLong(3) >= 0L && r.getLong(3) <= 1000000L))
  }
}
