package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.{Exprs, OracleSql}

/** Model-based quality scoring — the fastText-classifier curation
  * stage (CCNet, GPT-3 WebText filter): every document is scored by a
  * linear model over hashed token features and thresholded into
  * keep/drop. The reference has no ML-filter stage; this is part of
  * the beyond-reference LLM-pipeline surface.
  *
  * No trained weights can exist in this sandbox, so the MODEL is a
  * deterministic closed form: token → md5 bucket in [0, [[Buckets]]),
  * bucket → integer weight in [-1000, 1000] derived from the md5 of
  * the bucket id. That keeps every value integer-exact and
  * oracle-checkable while exercising the real plumbing. A production
  * model swaps `weightOf` for a lookup into a broadcast `Array[Int]`
  * of trained weights — same plan shape, same cost model.
  *
  * Scale shape (100 TB): scoring is a PURE PROJECTION — tokenize,
  * `transform` each token to its weight, `aggregate` the array to a
  * sum. Zero shuffles, zero joins (plan-asserted in the spec);
  * whole-stage codegen keeps the md5/conv chain inside the scan
  * stage. This is the shape that matters at scale: a quality filter
  * that shuffles is a quality filter that costs a corpus pass of
  * network.
  */
object QualityModel {
  /** Feature-hash space. Small enough that bucket collisions are the
    * norm — exactly like a production hashing-trick classifier. */
  val Buckets = 256L

  /** Weight span: weights land in [-1000, 1000]. */
  val WeightSpan = 2001L

  /** md5-derived bucket of a token. */
  private def bucketOf(w: Column): Column =
    Exprs.md5Nibbles(w, 4) % Buckets

  /** md5-derived integer weight of a bucket id. */
  private def weightOf(w: Column): Column =
    Exprs.md5Nibbles(concat(lit("b:"), bucketOf(w).cast("string")), 4) %
      WeightSpan - 1000L

  /** Model quality scores over any (doc_id, lang, text) frame.
    * `pred` = 1 iff the doc passes (score ≥ 0). */
  def scoreOf(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id"),
        col("lang"),
        coalesce(
          aggregate(
            transform(graft.func.Tokenizer.tokens(col("text")), w => weightOf(w)),
            lit(0L),
            (acc, x) => acc + x),
          lit(0L)).as("score"))
      .withColumn("pred", when(col("score") >= 0L, 1L).otherwise(0L))

  /** Quality bands for the agreement matrix (clamped fifths of the
    * heuristic composite's ppm scale; −1 = undefined/zero-token). */
  val AgreementBands = 5L

  /** Model-vs-heuristic agreement matrix — the filter-swap diagnostic:
    * cross the hashed-feature model's keep/drop verdict with the
    * heuristic composite's quality band and report cell counts plus
    * the model keep-rate within each band (window over the bounded
    * matrix). A model worth swapping in agrees with the heuristic at
    * the extremes and adds signal in the middle — this is the table
    * that shows whether it does.
    *
    * Scale shape: each scorer is itself a zero-shuffle projection;
    * the corpus is scanned twice and the two narrow (doc_id, flag)
    * frames join doc_id-keyed — the deliberate two-scan trade
    * (oov_rate precedent, PLANS.md rule #17): fusing into one
    * projection would require duplicating both scorers' formulas,
    * the drift hazard the shared-oracle-CTE design exists to
    * prevent. The matrix itself is bounded by
    * 2·([[AgreementBands]]+1) cells. Input: any (doc_id, lang, text)
    * frame. */
  def qualityAgreementOf(docs: DataFrame): DataFrame = {
    val heur = TextAnalysis.qualityOf(docs)
      .select(col("doc_id"),
        when(col("quality_ppm").isNull, lit(-1L))
          .otherwise(least(expr(s"quality_ppm * $AgreementBands DIV 1000000"),
            lit(AgreementBands - 1))).as("band"))
    scoreOf(docs).select(col("doc_id"), col("pred"))
      .join(heur, Seq("doc_id"))
      .groupBy("band", "pred")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("band_keep_ppm",
        expr("1000000 * sum(CASE WHEN pred = 1 THEN n_docs ELSE 0 END) " +
          "OVER (PARTITION BY band) DIV sum(n_docs) OVER (PARTITION BY band)"))
  }

  lazy val qualityAgreementOracle: String =
    s"""WITH ${TextAnalysis.qualityCtesSql(withLang = false, nonEmptyOnly = false)},
       |hb AS (SELECT doc_id,
       |         CASE WHEN quality_ppm IS NULL THEN -1
       |              ELSE least(quality_ppm * $AgreementBands // 1000000,
       |                         ${AgreementBands - 1}) END AS band
       |       FROM q),
       |md AS (SELECT doc_id, pred FROM ($scoreOracle) m),
       |cells AS (SELECT band, pred, CAST(count(*) AS BIGINT) AS n_docs
       |          FROM hb JOIN md USING (doc_id) GROUP BY 1, 2)
       |SELECT CAST(band AS BIGINT) AS band, pred, n_docs,
       |       CAST(1000000 * sum(CASE WHEN pred = 1 THEN n_docs ELSE 0 END)
       |              OVER (PARTITION BY band)
       |            // sum(n_docs) OVER (PARTITION BY band) AS BIGINT)
       |         AS band_keep_ppm
       |FROM cells""".stripMargin

  lazy val scoreOracle: String = {
    val toks = OracleSql.toks
    val bucket = s"(${OracleSql.hexNibbles("md5(w)", 4)}) % $Buckets"
    val weight =
      s"(${OracleSql.hexNibbles("md5('b:' || CAST(bk AS VARCHAR))", 4)})" +
        s" % $WeightSpan - 1000"
    s"""WITH t AS MATERIALIZED (SELECT doc_id, lang, $toks AS t FROM documents),
       |w AS (SELECT doc_id, lang, unnest(t) AS w FROM t),
       |b AS (SELECT doc_id, lang, $bucket AS bk FROM w),
       |s AS MATERIALIZED (
       |  SELECT doc_id, lang, CAST(sum($weight) AS BIGINT) AS score
       |  FROM b GROUP BY 1, 2)
       |SELECT t.doc_id, t.lang, CAST(coalesce(s.score, 0) AS BIGINT) AS score,
       |       CAST(CASE WHEN coalesce(s.score, 0) >= 0 THEN 1 ELSE 0 END
       |            AS BIGINT) AS pred
       |FROM t LEFT JOIN s ON t.doc_id = s.doc_id AND t.lang = s.lang""".stripMargin
  }
}
