package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.{Exprs, OracleSql, Tokenizer}
import graft.func.Materialize.MatOps

/** Data Selection via Importance Resampling (DSIR, Xie et al. 2023)
  * in integer-exact form: score every document by how target-like its
  * hashed n-gram features are, where "target" is a designated
  * high-quality slice of the corpus and "source" is the rest. The
  * standard importance weight is Π_tokens p_target(b)/p_source(b);
  * in log space that is Σ log p_t(b) − log p_s(b). Transcendental
  * logs don't cross the engine boundary bit-identically, so the score
  * uses the INTEGER log2: bit_length(x) = length(bin(x)), giving
  * score_bits = Σ_tokens [bitlen(tf_t(b)+1) − bitlen(tf_s(b)+1)] —
  * a whole-bit-resolution log-likelihood ratio with add-one
  * smoothing. Rank order is what selection consumes, and whole-bit
  * resolution preserves it to ±1 bit — the deterministic trade the
  * repo makes everywhere (cf. Divergence.scala choosing TV over KL).
  *
  * Scale shape (100 TB): the feature table is BOUNDED by
  * [[DsirBuckets]] — the corpus collapses onto it with one map-side-
  * combined shuffle (conditional sums, one pass for both slices); the
  * per-bucket weight table is broadcast back, so scoring costs one
  * doc_id-keyed rollup and ZERO vocabulary- or corpus-keyed joins.
  * The corpus is scanned twice (once for bucket stats, once for
  * scoring) — deliberately not materialized: corpus-TOKEN rows cost
  * more to hold than a codegen'd re-split (PLANS.md rule #17, the
  * oov_rate precedent).
  */
object Dsir {
  /** Hashed-feature space (unigram buckets). */
  val DsirBuckets = 4096L

  /** The target slice: English documents (the quality-proxy slice a
    * real run would point at its curated target corpus). */
  val TargetLang = "en"

  /** DSIR scores over any (doc_id, lang, text) frame: per document,
    * its token count and integer log2 importance score (positive =
    * target-like). Token-less documents score 0. */
  def dsirScoreOf(docs: DataFrame): DataFrame = {
    def toksOf(d: DataFrame) = d.select(col("doc_id"), col("lang"),
        Tokenizer.explodeTokens(col("text")).as("w"))
      .withColumn("b",
        Exprs.md5Nibbles(col("w"), 4) % DsirBuckets)
      // the token string is consumed by the bucket hash above; both
      // consumers below key on (doc_id, lang, b) only — drop it so
      // the shared cache holds 3 small columns, not the corpus text
      .select(col("doc_id"), col("lang"), col("b"))
    // LAZY localCheckpoint: the bucket stats and the per-doc scoring
    // each re-ran the tokenize+md5 pass before r20 (plan audit:
    // documents scanned 3× in q_llm_dsir_score)
    val toks = toksOf(docs).matLazily
    val bs = toks.groupBy("b").agg(
      sum(when(col("lang") === TargetLang, 1L).otherwise(0L)).as("tf_t"),
      sum(when(col("lang") =!= TargetLang, 1L).otherwise(0L)).as("tf_s"))
    val wt = bs.select(col("b"),
      (length(bin(col("tf_t") + 1L)).cast("long") -
        length(bin(col("tf_s") + 1L)).cast("long")).as("wt"))
    val scored = toks
      .join(broadcast(wt), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("wt").as("score_bits"))
    docs.select(col("doc_id"), col("lang"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("score_bits"), lit(0L)).as("score_bits"))
  }

  lazy val dsirScoreOracle: String = {
    val toks = OracleSql.toks
    val bucket = s"(${OracleSql.hexNibbles("md5(w)", 4)}) % $DsirBuckets"
    s"""WITH t AS MATERIALIZED (SELECT doc_id, lang, $toks AS t FROM documents),
       |w AS MATERIALIZED (
       |  SELECT doc_id, lang, $bucket AS b
       |  FROM (SELECT doc_id, lang, unnest(t) AS w FROM t)),
       |bs AS (SELECT b,
       |         CAST(sum(CASE WHEN lang = '$TargetLang' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS tf_t,
       |         CAST(sum(CASE WHEN lang <> '$TargetLang' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS tf_s
       |       FROM w GROUP BY 1),
       |wt AS (SELECT b, CAST(length(bin(tf_t + 1)) - length(bin(tf_s + 1))
       |                      AS BIGINT) AS wt
       |       FROM bs),
       |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       |             CAST(sum(wt) AS BIGINT) AS score_bits
       |      FROM w JOIN wt USING (b) GROUP BY 1)
       |SELECT t.doc_id, t.lang,
       |       coalesce(s.n_toks, 0) AS n_toks,
       |       coalesce(s.score_bits, 0) AS score_bits
       |FROM t LEFT JOIN s ON t.doc_id = s.doc_id""".stripMargin
  }
}
