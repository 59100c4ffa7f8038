package graft.llm

import graft.{SparkSpec, Tables}

class LangModelSpec extends SparkSpec {
  import spark.implicits._

  test("bigramScore: exact MLE ppm, frequent continuations score higher") {
    // corpus: "a b" x3, "a c" x1 → c(a)=4 (as bigram-left occurrences
    // it's 4; unigram count of 'a' is 4), c(a,b)=3, c(a,c)=1
    val docs = Seq(
      (1L, "a b"), (2L, "a b"), (3L, "a b"), (4L, "a c"),
      (5L, "z"),           // 1 token: no bigrams, NULL score
      (6L, "")).toDF("doc_id", "text")
    val out = LangModel.bigramScoreOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1: one bigram (a,b): 1e6*3 DIV 4 = 750000
    assert(out(1L).getLong(1) === 1L)
    assert(out(1L).getLong(3) === 750000L)
    // doc 4: (a,c): 1e6*1 DIV 4 = 250000 — rarer continuation, lower
    assert(out(4L).getLong(3) === 250000L)
    assert(out(1L).getLong(3) > out(4L).getLong(3))
    // short/empty docs: zero bigrams, null score
    Seq(5L, 6L).foreach { id =>
      assert(out(id).getLong(1) === 0L)
      assert(out(id).isNullAt(2) && out(id).isNullAt(3))
    }
  }

  test("bigramScore at Sf: every scored doc within [0, 1e6], total bigram conservation") {
    val rows = LangModel.bigramScoreOf(Tables.documents(spark, Sf)).collect()
    assert(rows.nonEmpty)
    var totalBigrams = 0L
    rows.foreach { r =>
      totalBigrams += r.getLong(1)
      if (!r.isNullAt(3)) {
        val f = r.getLong(3)
        assert(f >= 0L && f <= 1000000L, s"doc ${r.getLong(0)}: $f")
      }
    }
    // sum of per-doc bigram counts == corpus bigram mass
    val expected = graft.Tables.documents(spark, Sf)
      .select(graft.func.Tokenizer.tokens(org.apache.spark.sql.functions.col("text")).as("t"))
      .as[Seq[String]].collect().map(t => math.max(t.size - 1, 0).toLong).sum
    assert(totalBigrams === expected)
  }
}
