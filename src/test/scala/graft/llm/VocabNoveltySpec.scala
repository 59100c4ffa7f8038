package graft.llm

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class VocabNoveltySpec extends SparkSpec {
  import spark.implicits._

  // ---- VocabCoverage ------------------------------------------------

  test("vocabCoverage: Zipf table with exact cumulative ppm") {
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = VocabCoverage.vocabCoverageOf(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out("a") === ((2L, 1L, 400000L)))
    assert(out("b") === ((2L, 2L, 800000L)))
    assert(out("c") === ((1L, 3L, 1000000L)))
  }

  test("vocabCoverage plan: vocab-sized exchange is keyed, not single") {
    val plan = VocabCoverage.vocabCoverageOf(Tables.documents(spark, Sf))
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(freq"),
      s"word rank must run under a freq-keyed window:\n$plan")
  }

  test("oovRate: tokens outside the top-V vocabulary are counted") {
    // 25 distinct words; w01..w20 appear twice (doc 2) so the top-20
    // vocab is exactly w01..w20 and doc 1's w21..w25 are OOV
    val common = (1 to 20).map(i => f"w$i%02d").mkString(" ")
    val all = (1 to 25).map(i => f"w$i%02d").mkString(" ")
    val docs = Seq((1L, all), (2L, common), (3L, ""))
      .toDF("doc_id", "text")
    val out = VocabCoverage.oovRateOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) === 25L)
    assert(out(1L).getLong(2) === 5L)
    assert(out(1L).getLong(3) === 200000L)
    assert(out(2L).getLong(2) === 0L && out(2L).getLong(3) === 0L)
    assert(out(3L).getLong(1) === 0L && out(3L).isNullAt(3),
      "token-less doc: oov_ppm NULL")
  }

  test("oovRate plan: vocab keep-set rides a broadcast join") {
    val plan = VocabCoverage.oovRateOf(Tables.documents(spark, Sf))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"top-V vocab must broadcast, not shuffle the corpus:\n$plan")
  }

  // ---- Novelty ------------------------------------------------------

  test("novelty: first-seen attribution by ascending doc_id") {
    val docs = Seq(
      (1L, "a b c d"),   // grams 'a b c', 'b c d' — both novel
      (2L, "a b c"),     // gram 'a b c' first seen in doc 1
      (3L, "x y"),       // < 3 tokens — absent
      (4L, "a b c a b c a b c")) // distinct grams: abc(seen), bca, cab
      .toDF("doc_id", "text")
    val out = Novelty.noveltyOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(1L) === ((2L, 2L, 1000000L)))
    assert(out(2L) === ((1L, 0L, 0L)))
    assert(!out.contains(3L))
    assert(out(4L) === ((3L, 2L, 666666L)))
  }

  test("novelty on documents: ppm bounded, grams positive") {
    val out = Novelty.noveltyOf(Tables.documents(spark, Sf))
      .select("n_grams", "n_novel", "novelty_ppm").as[(Long, Long, Long)]
      .collect()
    assert(out.nonEmpty)
    assert(out.forall { case (g, n, p) => g > 0 && n <= g && p <= 1000000L })
  }

  // ---- Curriculum ---------------------------------------------------

  test("curriculum: distributed rank equals the single-window rank") {
    val docs = Seq((1L, 10L), (2L, 5L), (3L, 5L), (4L, 20L), (5L, 1L))
      .toDF("doc_id", "n_chars")
    val out = CorpusLayout.curriculumOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out(5L) === ((1L, 1L)))
    assert(out(2L) === ((2L, 2L)))
    assert(out(3L) === ((3L, 3L)))
    assert(out(1L) === ((4L, 4L)))
    assert(out(4L) === ((5L, 5L)))
  }

  test("curriculum plan: corpus-sized exchange is keyed, not single") {
    val plan = CorpusLayout.curriculumOf(Tables.documents(spark, Sf))
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(n_chars"),
      s"doc rank must run under a length-keyed window:\n$plan")
    // the only SinglePartition shuffle allowed is the tiny
    // per-length offsets frame, which sits under a broadcast
    val bands = CorpusLayout.curriculumOf(Tables.documents(spark, Sf))
      .groupBy("band").count().as[(Long, Long)].collect().toMap
    assert(bands.keySet === (1L to CorpusLayout.Bands).toSet)
    assert(bands.values.max - bands.values.min <= 1L,
      "equal rank-width bands")
  }
  // ---- Vocabulary growth --------------------------------------------

  test("vocabGrowth: first-seen deciles partition the vocabulary") {
    val docs = Seq(
      (0L, "a b"), (1L, "a c"), (2L, ""), (3L, "d"),
      (4L, "a"), (5L, "e f"), (6L, "a"), (7L, "a"),
      (8L, "a"), (9L, "g"))
      .toDF("doc_id", "text")
    val out = VocabCoverage.vocabGrowthOf(docs)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out.length === VocabCoverage.GrowthDeciles)
    // decile d covers exactly doc d here (10 ids, 10 deciles)
    assert(out(0) === ((0L, 2L, 2L)))   // a b
    assert(out(1) === ((1L, 1L, 3L)))   // c
    assert(out(2) === ((2L, 0L, 3L)))   // empty doc
    assert(out(3) === ((3L, 1L, 4L)))   // d
    assert(out(5) === ((5L, 2L, 6L)))   // e f
    assert(out(9) === ((9L, 1L, 7L)))   // g
    assert(out.last._3 === 7L, "cumulative = total distinct words")
  }

  test("vocabGrowth at Sf: monotone cumulative, total = vocab size") {
    val out = VocabCoverage.vocabGrowthOf(Tables.documents(spark, Sf))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._3).toSeq === out.map(_._3).sorted.toSeq)
    val vocab = graft.Tables.documents(spark, Sf)
      .select(org.apache.spark.sql.functions.explode(
        graft.func.Tokenizer.tokens($"text")).as("w"))
      .distinct().count()
    assert(out.last._3 === vocab)
  }
}
