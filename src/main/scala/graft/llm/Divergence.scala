package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.{OracleSql, Tokenizer}
import graft.func.Materialize.MatOps

/** Per-source distribution drift — for every source, the total-
  * variation distance between its unigram distribution and the whole
  * corpus's, in ppm. The data-card statistic a mixture designer reads
  * before weighting sources (a source at TV≈0 adds no distributional
  * novelty; a far-out source shifts the mixture): the integer-exact
  * stand-in for the KL-against-corpus drift checks public corpus
  * reports run (Dolma's per-source summaries, The Pile's §2 source
  * analyses), chosen over KL because TV needs no transcendental log
  * and so crosses the engine boundary bit-identically.
  *
  * TV = ½ · Σ_w |p_s(w) − p(w)| over the UNION of supports. Since
  * every source word is a corpus word, the sum splits into the
  * source's support plus the mass of corpus words absent from the
  * source: TV_ppm = (A_s + B − C_s) DIV 2 with
  * A_s = Σ_{w∈s} |ppm_s(w) − ppm(w)|, C_s = Σ_{w∈s} ppm(w), and
  * B = Σ_w ppm(w) a corpus scalar — so no full-outer join is needed.
  *
  * Scale shape (100 TB): ONE corpus-sized shuffle — the
  * (source, word) count (map-side combined). The corpus word table
  * derives from those counts by a second, vocabulary-sized groupBy
  * (no second corpus scan); the A/C join is word-keyed on
  * vocabulary-bounded frames; per-source totals and the B scalar ride
  * broadcast joins. Output is |sources| rows.
  */
object Divergence {
  /** Per-source drift over any (source, text) frame. */
  def sourceDivergenceOf(docs: DataFrame): DataFrame = {
    val words = docs.select(col("source"),
      Tokenizer.explodeTokens(col("text")).as("w"))
    // LAZY localCheckpoint: the (source, word) counts feed the corpus
    // word table, the per-source totals, AND the A/C join — without
    // it the corpus tokenize+count pass executes three times
    // (PLANS.md rule #17)
    val sw = words.groupBy("source", "w").agg(count(lit(1)).as("c_sw"))
      .matLazily
    val cw = sw.groupBy("w").agg(sum("c_sw").as("c_w"))
    val ns = sw.groupBy("source")
      .agg(sum("c_sw").as("n_s"), count(lit(1)).as("vocab_s"))
    val tot = cw.agg(sum("c_w").as("n"))
    val cw2 = cw.crossJoin(broadcast(tot))
      .select(col("w"), expr("1000000 * c_w DIV n").as("ppm_w"))
    val b = cw2.agg(sum("ppm_w").as("b_sum"))
    sw.join(cw2, Seq("w"))
      .join(broadcast(ns), Seq("source"))
      .groupBy("source")
      .agg(
        sum(abs(expr("1000000 * c_sw DIV n_s") - col("ppm_w"))).as("a_s"),
        sum("ppm_w").as("c_s"),
        // constant per source (join inputs) — carrying them through
        // the aggregate drops the second broadcast join (review r9)
        max("n_s").as("n_s"), max("vocab_s").as("vocab_s"))
      .crossJoin(broadcast(b))
      .select(col("source"), col("n_s").as("n_tokens"),
        col("vocab_s").as("vocab_size"),
        expr("(a_s + b_sum - c_s) DIV 2").as("tv_ppm"))
  }

  lazy val sourceDivergenceOracle: String = {
    val toks = OracleSql.toks
    s"""WITH t AS (SELECT source, unnest($toks) AS w FROM documents),
       |sw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c_sw
       |       FROM t GROUP BY 1, 2),
       |cw AS (SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY 1),
       |ns AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s,
       |              CAST(count(*) AS BIGINT) AS vocab_s
       |       FROM sw GROUP BY 1),
       |tot AS (SELECT CAST(sum(c_w) AS BIGINT) AS n FROM cw),
       |cw2 AS (SELECT w, CAST((1000000 * c_w) // n AS BIGINT) AS ppm_w
       |        FROM cw, tot),
       |b AS (SELECT CAST(sum(ppm_w) AS BIGINT) AS b_sum FROM cw2),
       |a AS (SELECT source,
       |        CAST(sum(abs((1000000 * c_sw) // n_s - ppm_w)) AS BIGINT)
       |          AS a_s,
       |        CAST(sum(ppm_w) AS BIGINT) AS c_s
       |      FROM sw JOIN cw2 USING (w) JOIN ns USING (source) GROUP BY 1)
       |SELECT source, n_s AS n_tokens, vocab_s AS vocab_size,
       |       CAST((a_s + b_sum - c_s) // 2 AS BIGINT) AS tv_ppm
       |FROM a JOIN ns USING (source), b""".stripMargin
  }
}
