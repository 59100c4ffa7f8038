package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.{Exprs, OracleSql}

/** Deterministic weighted reservoir sampling — pick k documents with
  * inclusion preference proportional to a weight column, without any
  * global state. The float-exact form is Efraimidis–Spirakis A-ES
  * (keys u^(1/w), keep the k largest); transcendental pow doesn't
  * cross the engine boundary bit-identically, so the key here is the
  * integer surrogate `u DIV (w + 1)` (u = 40 md5 bits of the doc id,
  * keep the k SMALLEST): monotone in u for fixed w and stochastically
  * decreasing in w, so heavier docs win ties toward inclusion with
  * the same plan shape and determinism contract as the repo's other
  * md5-driven samplers (CorpusOps.mixtureSampleOf).
  *
  * Weight = `n_chars` — length-proportional sampling, the shape a
  * token-budget subcorpus draw uses (longer docs carry more tokens,
  * so a uniform-by-doc draw would under-represent them).
  *
  * Scale shape (100 TB): the key is a pure projection inside the scan
  * stage; the k-row result comes out of `TakeOrderedAndProject`
  * (per-partition top-k, then a k-row merge on one reducer — no
  * global sort, no full shuffle). Spec-asserted.
  */
object Sampling {
  /** Sample size. */
  val SampleK = 50

  /** Salt for the sampling hash — independent of every other md5 use
    * on doc_id (mixture "mix:", splits "split:", …). */
  val Salt = "ws:"

  /** The weighted sample over any (doc_id, n_chars) frame. */
  def weightedSampleOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("n_chars"),
        // integral DIV (not /): float division's rounding could flip
        // the floor at exact-quotient boundaries vs DuckDB's //
        call_function("div", Exprs.md5Nibbles(
          concat(lit(Salt), col("doc_id").cast("string")), 10),
          col("n_chars") + 1).as("skey"))
      .orderBy(col("skey"), col("doc_id"))
      .limit(SampleK)

  lazy val weightedSampleOracle: String = {
    val u = OracleSql.hexNibbles(s"md5('$Salt' || CAST(doc_id AS VARCHAR))", 10)
    s"""SELECT doc_id, n_chars,
       |       CAST($u // (n_chars + 1) AS BIGINT) AS skey
       |FROM documents
       |ORDER BY skey, doc_id LIMIT $SampleK""".stripMargin
  }
}
