package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.{OracleSql, Tokenizer}
import graft.func.Materialize.MatOps

/** Vocabulary data-card operators: the corpus frequency-rank table
  * (which words carry the token mass — the Zipf curve every tokenizer
  * design starts from) and the OOV rate a fixed vocabulary budget
  * would leave per document. Both are standard training-data-pipeline
  * reports; the reference has no text-curation layer (SURVEY.md §2
  * extension).
  */
object VocabCoverage {
  /** Frequency-rank table with cumulative coverage: one row per
    * distinct corpus word — rank (freq desc, word asc), token count,
    * and the cumulative ppm of all corpus tokens covered by ranks
    * ≤ this one. `cum_ppm` at rank k answers "how much of the corpus
    * does a k-word vocabulary cover".
    *
    * Scale shape (100 TB): the corpus collapses to the WORD VOCABULARY
    * in one partial-aggregated shuffle (map-side combine — the
    * exchange carries one row per distinct word per map task, not one
    * per token). Rank and cumulative sum are then the curriculum
    * distributed-rank device ([[CorpusLayout.curriculumOf]]) with
    * FREQ as the key — the Zipf collapse: distinct frequency values
    * are O(√tokens), so the offsets frame (per-freq word count, token
    * mass, and their running totals) is tiny even when the vocabulary
    * itself is open-domain (URLs, code identifiers). Within one freq
    * value every word contributes the same `freq` to the cumsum, so
    * rank = word_offset + row_number and cum = mass_offset +
    * freq × row_number under a freq-KEYED window — the only
    * vocabulary-sized exchange is a hash partitioning on freq. Input:
    * any frame with a `text` column. */
  def vocabCoverageOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // LAZY localCheckpoint: the vocab-bounded count frame feeds both
    // the offset branch and the rank join — without it the corpus
    // explode+aggregate executes twice (PLANS.md rule #17; caught by
    // the r9 duplicate-scan audit)
    val words = docs
      .select(explode(Tokenizer.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .matLazily
    // tiny frame: one row per distinct frequency (Zipf: O(√tokens))
    val offs = words.groupBy("freq")
      .agg(count(lit(1)).as("_cnt"), sum("freq").as("_mass"))
      .select(col("freq"),
        coalesce(sum("_cnt").over(Window.orderBy(col("freq").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("_woff"),
        coalesce(sum("_mass").over(Window.orderBy(col("freq").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("_moff"),
        sum("_mass").over(Window.partitionBy(lit(1))).as("_total"))
    val w = Window.partitionBy("freq").orderBy("word")
    words.join(broadcast(offs), "freq")
      .withColumn("_rn", row_number().over(w).cast("long"))
      .select(col("word"), col("freq"),
        (col("_woff") + col("_rn")).as("rank"),
        expr("1000000 * (_moff + freq * _rn) DIV _total").as("cum_ppm"))
  }

  lazy val vocabCoverageOracle: String = {
    val toks = OracleSql.toks
    s"""WITH w AS MATERIALIZED (
       |  SELECT unnest($toks) AS word FROM documents),
       |v AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
       |      FROM w GROUP BY 1)
       |SELECT word, freq,
       |       CAST(row_number() OVER (ORDER BY freq DESC, word) AS BIGINT)
       |         AS rank,
       |       CAST((1000000 * sum(freq) OVER (ORDER BY freq DESC, word
       |          ROWS UNBOUNDED PRECEDING)) // sum(freq) OVER ()
       |            AS BIGINT) AS cum_ppm
       |FROM v""".stripMargin
  }

  /** Decile count for the [[vocabGrowthOf]] curve. */
  val GrowthDeciles = 10L

  /** Heaps-law vocabulary growth curve: sweep the corpus in ingest
    * order (ascending doc_id), report per decile of the id range how
    * many NEW words first appear there and the cumulative vocabulary
    * size — the "is the corpus still contributing new types" data
    * card that decides whether more of a source is worth ingesting.
    * Empty deciles report 0 (spine-joined), so the output is always
    * exactly [[GrowthDeciles]] rows.
    *
    * Scale shape (100 TB): first-seen attribution is the Novelty
    * device — ONE word-keyed map-side-combined min aggregate (the
    * corpus collapses to the vocabulary before any exchange); the
    * decile rollup and the 10-row cumulative window are
    * vocabulary-then-constant sized. Input: any (doc_id, text) frame. */
  def vocabGrowthOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val mx = docs.agg((max("doc_id") + 1L).as("n_ids"))
    val first = docs
      .select(col("doc_id"), Tokenizer.explodeTokens(col("text")).as("w"))
      .groupBy("w").agg(min("doc_id").as("first_seen"))
    val perB = first.crossJoin(broadcast(mx))
      .select(expr(s"first_seen * $GrowthDeciles DIV n_ids").as("decile"))
      .groupBy("decile").agg(count(lit(1)).as("new_words"))
    val spine = (0L until GrowthDeciles).toDF("decile")
    spine.join(perB, Seq("decile"), "left")
      .select(col("decile"), coalesce(col("new_words"), lit(0L)).as("new_words"))
      // constant 10-row frame: the unpartitioned window is a formality
      .withColumn("cum_vocab", sum("new_words").over(Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  lazy val vocabGrowthOracle: String = {
    val toks = OracleSql.toks
    s"""WITH w AS (SELECT doc_id, unnest($toks) AS w FROM documents),
       |f AS (SELECT w, min(doc_id) AS first_seen FROM w GROUP BY 1),
       |mx AS (SELECT max(doc_id) + 1 AS n_ids FROM documents),
       |pb AS (SELECT first_seen * $GrowthDeciles // n_ids AS decile,
       |              CAST(count(*) AS BIGINT) AS new_words
       |       FROM f, mx GROUP BY 1),
       |sp AS (SELECT unnest(range(0, $GrowthDeciles)) AS decile)
       |SELECT CAST(sp.decile AS BIGINT) AS decile,
       |       coalesce(pb.new_words, 0) AS new_words,
       |       CAST(sum(coalesce(pb.new_words, 0)) OVER (ORDER BY sp.decile
       |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
       |FROM sp LEFT JOIN pb ON sp.decile = pb.decile""".stripMargin
  }

  /** Vocabulary budget for the OOV report. */
  val VocabBudget = 20

  /** Per-document out-of-vocabulary rate under a [[VocabBudget]]-word
    * vocabulary (top words by corpus frequency, word-asc tiebreak):
    * token count, OOV token count, and OOV ppm (null for token-less
    * docs — ANSI-safe, matches DuckDB `x // 0 = NULL`).
    *
    * Scale shape: the vocabulary is built by the same collapsed
    * aggregate as [[vocabCoverageOf]] and its top-[[VocabBudget]] rows
    * are a `TakeOrderedAndProject` (no global sort materialized); the
    * budget-sized keep-set is BROADCAST back against the exploded
    * corpus, so the per-doc accounting costs one doc_id-keyed shuffle
    * and zero token-keyed ones. Input: any (doc_id, text) frame. */
  def oovRateOf(docs: DataFrame): DataFrame = {
    // LAZY localCheckpoint: the vocabulary head and the per-doc OOV
    // scoring each re-ran the tokenize pass (r20 plan audit:
    // documents scanned 2× here); both now read one cached pass of
    // doc-level token arrays
    val toks = docs
      .select(col("doc_id"), Tokenizer.tokens(col("text")).as("t"))
      .matLazily
    val vocab = toks
      .select(explode(col("t")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(VocabBudget)
      .select(col("word"), lit(1L).as("in_vocab"))
    toks
      .select(col("doc_id"), explode_outer(col("t")).as("word"))
      .join(broadcast(vocab), Seq("word"), "left")
      .groupBy("doc_id")
      .agg(
        count(col("word")).as("n_tokens"),
        sum(when(col("word").isNotNull && col("in_vocab").isNull, 1L)
          .otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        when(col("n_tokens") === 0L, lit(null).cast("long"))
          .otherwise(expr("1000000 * n_oov DIV n_tokens")).as("oov_ppm"))
  }

  lazy val oovRateOracle: String = {
    val toks = OracleSql.toks
    s"""WITH t AS MATERIALIZED (SELECT doc_id, $toks AS t FROM documents),
       |w AS MATERIALIZED (
       |  SELECT doc_id, unnest(t) AS word FROM t),
       |v AS MATERIALIZED (
       |  SELECT word FROM (SELECT word, count(*) AS freq FROM w GROUP BY 1)
       |  ORDER BY freq DESC, word LIMIT $VocabBudget),
       |a AS MATERIALIZED (
       |  SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |         CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n_oov
       |  FROM w LEFT JOIN v ON w.word = v.word GROUP BY 1)
       |SELECT t.doc_id,
       |       coalesce(a.n_tokens, 0) AS n_tokens,
       |       coalesce(a.n_oov, 0) AS n_oov,
       |       CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN NULL
       |            ELSE (1000000 * a.n_oov) // a.n_tokens END AS oov_ppm
       |FROM t LEFT JOIN a ON t.doc_id = a.doc_id""".stripMargin
  }
}
