package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.{OracleSql, Tokenizer}
import graft.func.Materialize.MatOps

/** Statistical language-model scoring over `documents`: a bigram
  * maximum-likelihood fluency score — the integer-exact cousin of the
  * KenLM-perplexity filter every public curation pipeline runs (CCNet,
  * Gopher §A1.2). Instead of mean log-probability (transcendental,
  * engine-dependent), each bigram contributes its exact-rational MLE
  * conditional probability `1e6·c(a,b) DIV c(a)` and a document scores
  * the integer mean — monotone in the same signal (frequent
  * continuations score high, improbable ones drag the mean down) and
  * bit-portable to the oracle.
  *
  * Scale shape: BOTH count tables are corpus-derived, so neither
  * join carries a broadcast hint (PLANS.md rule #2): a word
  * vocabulary is unbounded over open-domain text just as the bigram
  * type space is, and forcing either to broadcast would OOM the
  * driver at scale; AQE still broadcasts whichever side is small at
  * runtime. The pairs frame is already
  * grouped on (w1, w2) to build the counts, so the scoring join
  * reuses that partitioning, and AQE still picks broadcast when the
  * table is actually small. The only other corpus-scale shuffle is
  * the per-doc aggregate (map-side combined). Docs with < 2 tokens
  * survive via left join with null score.
  */
object LangModel {
  /** Bigram-LM fluency scores over any (doc_id, text) frame. */
  def bigramScoreOf(docs: DataFrame): DataFrame = {
    // LAZY localCheckpoint: toks feeds the pair stream (twice — bigram
    // counts + the scoring join) and the unigram table; without it the
    // tokenize pass appears 4× in the plan (r20 audit: documents
    // scanned 4× in q_llm_bigram_lm) — at corpus scale, four full
    // text passes for one
    val toks = docs.select(col("doc_id"), Tokenizer.tokens(col("text")).as("t"))
      .matLazily
    // guard size >= 2: Spark's sequence(1, 0) DESCENDS instead of
    // emitting empty, so short docs must not reach the transform
    val pairs = toks.filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), " +
          "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"))
        .as("g"))
      .select(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2"))
    val uni = toks.select(explode(col("t")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val bi = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val scored = pairs
      .join(bi, Seq("w1", "w2"))
      .join(uni, Seq("w1")) // unhinted: corpus-derived (rule #2)
      .withColumn("p_ppm", expr("(1000000 * c2) DIV c1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("p_ppm").as("p_sum"))
      .withColumn("fluency_ppm", expr("p_sum DIV n_bigrams"))
    docs.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("p_sum"), col("fluency_ppm"))
  }

  /** CCNet-style perplexity filter (public pipeline: CCNet buckets
    * pages into head/middle/tail by per-LANGUAGE KenLM perplexity
    * terciles; Gopher and LLaMA reuse the device). Here the score is
    * [[bigramScoreOf]]'s integer fluency_ppm and the terciles are
    * exact per-language rank terciles — bucket boundaries at
    * rank·3/n, ties broken by doc_id, bit-identical in both engines.
    * Docs with no bigram (< 2 tokens) have no score and are dropped,
    * as CCNet drops unscorable pages.
    *
    * Scale shape (100 TB): the per-language GLOBAL rank uses the
    * distributed-rank device ([[CorpusLayout.curriculumOf]]): scores
    * collapse to a per-(lang, score) count — bounded by
    * |langs| × 1e6 ppm values, NOT by corpus size — cumulative
    * offsets are a window over that bounded frame, and each doc's
    * rank is offset + row_number within its (lang, score) partition,
    * a hash-partitioned window. No single-partition corpus-sized
    * WindowExec anywhere; the offset table rides a broadcast join.
    * Input: any (doc_id, text, lang) frame. */
  def pplFilterOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // LAZY localCheckpoint: `scored` feeds both the counts branch and
    // the final rank join — without it the whole bigram-scoring
    // subtree executes twice (PLANS.md rule #17)
    val scored = bigramScoreOf(docs)
      .filter(col("n_bigrams") >= 1L)
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .select("doc_id", "lang", "fluency_ppm")
      .matLazily
    // bounded frame: one row per distinct (lang, score)
    val counts = scored.groupBy("lang", "fluency_ppm")
      .agg(count(lit(1)).as("cnt"))
    val offsets = counts.select(col("lang"), col("fluency_ppm"),
      expr("sum(cnt) OVER (PARTITION BY lang ORDER BY fluency_ppm DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)").as("off"),
      expr("sum(cnt) OVER (PARTITION BY lang)").as("n_lang"))
      .select(col("lang"), col("fluency_ppm"),
        coalesce(col("off"), lit(0L)).as("off"), col("n_lang"))
    val w = Window.partitionBy("lang", "fluency_ppm").orderBy("doc_id")
    scored.join(broadcast(offsets), Seq("lang", "fluency_ppm"))
      .withColumn("lang_rank", col("off") + row_number().over(w).cast("long"))
      .select(col("doc_id"), col("lang"), col("fluency_ppm"), col("lang_rank"),
        when(lit(3L) * (col("lang_rank") - 1L) < col("n_lang"), "head")
          .when(lit(3L) * (col("lang_rank") - 1L) < lit(2L) * col("n_lang"),
            "middle")
          .otherwise("tail").as("bucket"))
  }

  lazy val pplFilterOracle: String = {
    val toks = OracleSql.toks
    s"""WITH t AS (SELECT doc_id, $toks AS t FROM documents),
       |pp AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2 FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
       |           i -> {'w1': t[i], 'w2': t[i + 1]})) AS g
       |  FROM t WHERE len(t) >= 2)),
       |uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
       |        FROM (SELECT unnest(t) AS w1 FROM t) GROUP BY 1),
       |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM pp GROUP BY 1, 2),
       |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |              CAST(sum((1000000 * c2) // c1) AS BIGINT) AS p_sum
       |       FROM pp JOIN bi USING (w1, w2) JOIN uni USING (w1) GROUP BY 1),
       |j AS (SELECT d.doc_id, d.lang,
       |             CAST(p_sum // n_bigrams AS BIGINT) AS fluency_ppm
       |      FROM documents d JOIN sc USING (doc_id) WHERE n_bigrams >= 1),
       |r AS (SELECT doc_id, lang, fluency_ppm,
       |        CAST(row_number() OVER (PARTITION BY lang
       |               ORDER BY fluency_ppm DESC, doc_id) AS BIGINT)
       |          AS lang_rank,
       |        CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
       |      FROM j)
       |SELECT doc_id, lang, fluency_ppm, lang_rank,
       |       CASE WHEN 3 * (lang_rank - 1) < n_lang THEN 'head'
       |            WHEN 3 * (lang_rank - 1) < 2 * n_lang THEN 'middle'
       |            ELSE 'tail' END AS bucket
       |FROM r""".stripMargin
  }

  lazy val bigramScoreOracle: String = {
    val toks = OracleSql.toks
    s"""WITH t AS (SELECT doc_id, $toks AS t FROM documents),
       |pp AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2 FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
       |           i -> {'w1': t[i], 'w2': t[i + 1]})) AS g
       |  FROM t WHERE len(t) >= 2)),
       |uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
       |        FROM (SELECT unnest(t) AS w1 FROM t) GROUP BY 1),
       |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM pp GROUP BY 1, 2),
       |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |              CAST(sum((1000000 * c2) // c1) AS BIGINT) AS p_sum
       |       FROM pp JOIN bi USING (w1, w2) JOIN uni USING (w1) GROUP BY 1)
       |SELECT d.doc_id, coalesce(n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
       |       p_sum, p_sum // n_bigrams AS fluency_ppm
       |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin
  }
}
