package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.OracleSql
import graft.func.Materialize.MatOps

/** Boilerplate removal over `documents` — the RefinedWeb/CCNet-style
  * curation pass that strips corpus-common text segments (nav bars,
  * cookie banners, license headers) before training. The reference has
  * no text-curation layer at all; this is part of the beyond-reference
  * LLM-pipeline surface (SURVEY.md §2 extension).
  *
  * The corpus text is a single unsegmented token stream (no newlines —
  * TESTDATA.md), so the "line" unit is a fixed window: consecutive
  * non-overlapping [[BlockTokens]]-token blocks, position-aligned per
  * document (the last block may be short). A block whose document
  * frequency reaches [[MinDf]] is boilerplate — by definition text
  * repeated across distinct documents — and is dropped; the operator
  * reports per-document removal accounting, the corpus-side effect a
  * data card records.
  *
  * Scale shape (100 TB): blocks shuffle ONCE for the df aggregate,
  * keyed by the 128-bit md5 of the block text (fixed 32-byte shuffle
  * key instead of up to block-width bytes — same trick as exact
  * dedup, Dedup.scala). `countDistinct(doc_id)` is planned as a
  * two-level partial aggregate, so the exchange carries one row per
  * (block, doc) pair per map task at most. The boilerplate SET
  * (df ≥ [[MinDf]]) is usually the Zipf head of the block
  * distribution, but it is CORPUS-DERIVED and unbounded by
  * construction — so it carries NO broadcast hint: AQE picks a
  * broadcast join when the runtime size clears the threshold and
  * falls back to a shuffled hash join on the same md5 key when it
  * doesn't (the hinted form would OOM the driver on a corpus whose
  * repeat head is large). The per-doc accounting aggregate is the
  * second, doc_id-keyed shuffle.
  */
object Boilerplate {
  /** Tokens per block — the segmentation unit standing in for a line
    * break (the synthetic corpus has none). */
  val BlockTokens = 10

  /** Blocks appearing in at least this many distinct documents are
    * boilerplate. 2 = "any cross-document repeat", the aggressive
    * end of the RefinedWeb setting. */
  val MinDf = 2L

  /** Boilerplate removal over any (doc_id, text) frame.
    * Output per doc: total block count, blocks removed as boilerplate,
    * and tokens surviving the removal. */
  def boilerplateOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), graft.func.Tokenizer.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 1) // sequence(0,-1) DESCENDS (LangModel lesson)
    val blocks = toks
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(t) + ${BlockTokens - 1}) DIV $BlockTokens - 1), " +
          s"i -> slice(t, i * $BlockTokens + 1, $BlockTokens))")))
      .select(
        col("doc_id"),
        col("pos").as("block_idx"),
        md5(concat_ws(" ", col("col"))).as("bkey"),
        size(col("col")).cast("long").as("blen"))
      // LAZY localCheckpoint: the df table and the verdict join both
      // read the block frame — without it the tokenize + per-block
      // md5 pass runs twice (r20 plan audit: documents scanned 2×)
      .matLazily
    val df = blocks.groupBy("bkey")
      .agg(countDistinct(col("doc_id")).as("block_df"))
    val boiler = df.filter(col("block_df") >= MinDf)
      .select(col("bkey"), lit(1L).as("is_boiler"))
    // no broadcast hint: boiler is corpus-derived (PLANS.md rule #2 —
    // hints only on genuinely bounded sides); AQE chooses the strategy
    blocks.join(boiler, Seq("bkey"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("blocks_total"),
        sum(coalesce(col("is_boiler"), lit(0L))).as("blocks_removed"),
        sum(when(col("is_boiler").isNull, col("blen")).otherwise(0L))
          .as("tokens_kept"))
  }

  lazy val boilerplateOracle: String = {
    val toks = OracleSql.toks
    val B = BlockTokens
    s"""WITH t0 AS MATERIALIZED (SELECT doc_id, $toks AS t FROM documents),
       |t AS (SELECT * FROM t0 WHERE len(t) >= 1),
       |b AS MATERIALIZED (
       |  SELECT doc_id,
       |         md5(array_to_string(t[(i*$B+1):(i*$B+$B)], ' ')) AS bkey,
       |         len(t[(i*$B+1):(i*$B+$B)]) AS blen
       |  FROM (SELECT doc_id, t, unnest(range(0, (len(t)+${B - 1})//$B)) AS i
       |        FROM t)),
       |df AS MATERIALIZED (
       |  SELECT bkey, count(DISTINCT doc_id) AS block_df FROM b GROUP BY 1)
       |SELECT doc_id, count(*) AS blocks_total,
       |       CAST(sum(CASE WHEN block_df >= $MinDf THEN 1 ELSE 0 END)
       |            AS BIGINT) AS blocks_removed,
       |       CAST(sum(CASE WHEN block_df >= $MinDf THEN 0 ELSE blen END)
       |            AS BIGINT) AS tokens_kept
       |FROM b JOIN df USING (bkey) GROUP BY 1""".stripMargin
  }
}
