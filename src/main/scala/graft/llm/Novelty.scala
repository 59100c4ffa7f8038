package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.{OracleSql, Tokenizer}

/** N-gram novelty scoring — per document, how much of its local
  * phrase structure appears nowhere earlier in the corpus. The dual of
  * the dedup family: dedup finds what repeats, novelty scores what
  * doesn't, and the stream form ("what does this doc add over docs
  * 0..id-1") is the standard memorization-risk / contribution metric
  * a data card reports per source. First-seen is attributed by
  * ascending `doc_id` — the corpus's stable ingest order.
  */
object Novelty {
  /** n-gram width. */
  val N = 3

  /** Per-document novelty: distinct [[N]]-gram count, the count of
    * those grams whose corpus-wide first occurrence (min doc_id) is
    * this document, and their ppm share. Documents shorter than [[N]]
    * tokens have no grams and are absent from the output.
    *
    * Scale shape (100 TB): per-doc grams are deduped doc-locally
    * BEFORE any exchange, then shuffle ONCE keyed on the 128-bit md5
    * of the gram (fixed 32-byte key — same device as exact dedup);
    * the min-doc_id aggregate and the attribution join share that one
    * partitioning (AQE reuses the exchange). The per-doc rollup is
    * the second, doc_id-keyed shuffle. No all-pairs comparison
    * anywhere — cost is corpus-gram-linear. Input: any (doc_id, text)
    * frame. */
  def noveltyOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), Tokenizer.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= N) // sequence(0,-1) DESCENDS — guard first
    val grams = toks
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(t) - $N), " +
          s"i -> md5(concat_ws(' ', slice(t, i + 1, $N))))")).as("gkey"))
      .distinct()
    val first = grams.groupBy("gkey").agg(min("doc_id").as("first_seen"))
    grams.join(first, "gkey")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("first_seen") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("1000000 * n_novel DIV n_grams").as("novelty_ppm"))
  }

  lazy val noveltyOracle: String = {
    val toks = OracleSql.toks
    s"""WITH t0 AS MATERIALIZED (SELECT doc_id, $toks AS t FROM documents),
       |t AS (SELECT * FROM t0 WHERE len(t) >= $N),
       |g AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |         md5(array_to_string(t[(i+1):(i+$N)], ' ')) AS gkey
       |  FROM (SELECT doc_id, t, unnest(range(0, len(t) - ${N - 1})) AS i
       |        FROM t)),
       |f AS MATERIALIZED (
       |  SELECT gkey, min(doc_id) AS first_seen FROM g GROUP BY 1)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |       CAST(sum(CASE WHEN first_seen = doc_id THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_novel,
       |       CAST((1000000 * sum(CASE WHEN first_seen = doc_id THEN 1 ELSE 0 END))
       |         // count(*) AS BIGINT) AS novelty_ppm
       |FROM g JOIN f USING (gkey) GROUP BY 1""".stripMargin
  }
}
