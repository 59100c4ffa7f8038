package graft.llm

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("zero-token docs score NULL ppm instead of killing the job (ANSI)") {
    // empty/punctuation-only text WILL occur in a real corpus; under
    // Spark 4's default ANSI mode an unguarded `DIV n_tokens` throws
    // DIVIDE_BY_ZERO on the first such row — the guarded forms must
    // emit NULL, matching the DuckDB oracle's `x // 0 = NULL`
    val docs = Seq((1L, "the of data"), (2L, "!!! ..."), (3L, ""))
      .toDF("doc_id", "text")
    val q = TextAnalysis.qualityOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(q(1L).getLong(3) > 0)
    Seq(2L, 3L).foreach { id =>
      assert(q(id).getLong(1) === 0L, "n_tokens 0")
      assert(q(id).isNullAt(3) && q(id).isNullAt(4) && q(id).isNullAt(5),
        s"doc $id ppm columns must be NULL")
    }
    val t = TextAnalysis.tokenStatsOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(t(2L).isNullAt(6), "ttr_ppm NULL for zero-token doc")
  }

  import spark.implicits._

  test("langId: marker hits pick the language, lexicographic tiebreak") {
    val d = Seq(
      (1L, "the cat and the dog of the house", "en"),
      (2L, "el perro y la casa de que es", "es"),
      (3L, "zzz qqq www", "zh"))
      .toDF("doc_id", "text", "lang")
    d.createOrReplaceTempView("x")
    val out = TextAnalysis.langIdOf(d).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "es")
    assert(out(3L) == "und", "no markers → und")
  }

  test("quality: ppm integer arithmetic, stopword ratio exact") {
    val d = Seq((1L, "the the the x")).toDF("doc_id", "text")
    val r = TextAnalysis.qualityOf(d)
      .select("n_tokens", "n_stop", "stop_ppm").as[(Long, Long, Long)]
      .head()
    assert(r == ((4L, 3L, 750000L)))
  }

  test("fingerprint is order- and repetition-invariant") {
    val d = Seq((1L, "b a a c"), (2L, "c b a"), (3L, "a b d"))
      .toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprintOf(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("tokenStats on the documents table: types ≤ tokens, ttr ≤ 1e6") {
    val out = TextAnalysis.tokenStatsOf(Tables.documents(spark, Sf))
      .select("n_tokens", "n_types", "ttr_ppm").as[(Long, Long, Long)]
      .collect()
    assert(out.nonEmpty)
    assert(out.forall { case (nt, ty, ttr) => ty <= nt && ttr <= 1000000L })
  }

  test("docKeywords: tf-first ranking, common terms demoted by df") {
    // doc 1: 'rare' and 'common' both tf=2; 'common' is in every doc
    // (df=3) so 'rare' (df=1) must outrank it at equal tf
    val d = Seq(
      (1L, "rare rare common common x y"),
      (2L, "common z"),
      (3L, "common w")).toDF("doc_id", "text")
    val out = TextAnalysis.docKeywordsOf(d)
      .select("doc_id", "rank", "term", "tf", "df")
      .as[(Long, Long, String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(out(1L).map(r => (r._3, r._4, r._5)) ===
      Seq(("rare", 2L, 1L), ("common", 2L, 3L), ("x", 1L, 1L)))
    // ranks are 1..k, k bounded, and every doc appears
    assert(out.keySet === Set(1L, 2L, 3L))
    out.values.foreach { rows =>
      assert(rows.map(_._2) === (1L to rows.length))
      assert(rows.length <= TextAnalysis.KeywordsPerDoc)
    }
    // WindowGroupLimit must be in the plan (map-side top-k, not a
    // full per-partition sort at corpus scale)
    val plan = TextAnalysis.docKeywordsOf(Tables.documents(spark, Sf))
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }
  test("langIdEval: rows partition labels; recall sums to 1e6 per label") {
    val out = TextAnalysis.langIdEvalOf(Tables.documents(spark, Sf)).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    val docs = graft.Tables.documents(spark, Sf).count()
    assert(out.map(_._2._1).sum === docs, "matrix covers every doc once")
    out.groupBy(_._1._1).foreach { case (lang, cells) =>
      val total = cells.map(_._2._2).sum
      // floor division: Σ recall_ppm ∈ (1e6 − |cells|, 1e6]
      assert(total <= 1000000L && total > 1000000L - cells.length,
        s"$lang recalls sum to ~1e6: $total")
    }
  }
}
