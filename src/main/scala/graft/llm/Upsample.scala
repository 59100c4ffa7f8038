package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.{Exprs, OracleSql}

/** Fractional epoch upsampling — the mixture side the down-sampling
  * operators (CorpusOps.mixtureSampleOf / mixtureTemperatureOf) don't
  * cover: when a language's target weight EXCEEDS its natural share,
  * training data pipelines repeat its documents a fractional number of
  * epochs (the Llama/Gopher "epochs per source" knob). A factor of
  * 2.4 means every doc appears twice and a deterministic 40% of docs
  * appear a third time.
  *
  * The per-language factor (ppm, in [1×, 3×]) is md5-derived from the
  * language code so the operator is closed-form at any scale factor;
  * the fractional part is resolved per document by the same salted
  * md5-bucket device as mixture sampling — reproducible, uniform
  * (modulo bias ≈ 6·10⁻⁷), and independent of the sampling buckets
  * because the salt differs.
  *
  * Scale shape (100 TB): pure projection plus a bounded `explode`
  * (fan-out ≤ 3 — the factor cap, not data-dependent). Zero shuffles
  * (plan-asserted); the scan reads only (doc_id, lang). Epoch ids are
  * emitted explicitly so a downstream shuffle/pack pass can treat each
  * repeat as a distinct sequence-layout unit.
  */
object Upsample {
  /** ppm denominator for factors and fractional buckets. */
  val Ppm = 1000000L

  /** Factor range above 1×: md5(lang) maps into [0, 2e6] additional
    * ppm, i.e. factors in [1.0, 3.0]. */
  val FactorSpanPpm = 2000001L

  /** Per-language repeat factor in ppm (≥ [[Ppm]] = at least 1×). */
  def factorPpm(lang: Column): Column =
    lit(Ppm) + Exprs.md5Nibbles(concat(lit("up:"), lang), 8) % FactorSpanPpm

  /** The epoch expansion over ANY frame carrying (doc_id, lang) —
    * payload columns ride along untouched, which is what lets the
    * packer consume upsampled units without a join back to the
    * corpus. Adds an `epoch` column (1-based), one row per repeat. */
  def upsampleUnitsOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("fppm", factorPpm(col("lang")))
      .withColumn("reps",
        expr(s"fppm DIV $Ppm") +
          when(Exprs.md5Bucket(col("doc_id"), "up2:", 10, Ppm)
            < col("fppm") % Ppm, 1L).otherwise(0L))
      .withColumn("epoch", explode(sequence(lit(1L), col("reps"))))
      .drop("fppm", "reps")

  /** Upsampled units over any (doc_id, lang) frame.
    * One output row per (doc, epoch); epoch is 1-based. */
  def upsampleOf(docs: DataFrame): DataFrame =
    upsampleUnitsOf(docs.select(col("doc_id"), col("lang")))
      .select(col("doc_id"), col("lang"), col("epoch"))

  lazy val upsampleOracle: String = {
    val factor =
      s"$Ppm + (${OracleSql.hexNibbles("md5('up:' || lang)", 8)}) % $FactorSpanPpm"
    val bucket =
      s"(${OracleSql.hexNibbles("md5('up2:' || CAST(doc_id AS VARCHAR))", 10)}) % $Ppm"
    s"""WITH d AS MATERIALIZED (
       |  SELECT doc_id, lang, $factor AS fppm, $bucket AS bucket
       |  FROM documents)
       |SELECT doc_id, lang,
       |       CAST(unnest(range(1, fppm // $Ppm
       |         + CASE WHEN bucket < fppm % $Ppm THEN 1 ELSE 0 END + 1))
       |         AS BIGINT) AS epoch
       |FROM d""".stripMargin
  }

  // ---- epoch-aware packing -----------------------------------------

  /** The composition a training loader actually reads: the upsampled
    * (doc, epoch) stream fed through the SHARDED next-fit packer
    * ([[CorpusOps.packingShardedTokens]]'s discipline), so repeated
    * epochs reach the sequence layout as independent units. The shard
    * key hashes (doc_id, epoch) — not doc_id alone — so a document's
    * epochs scatter across shards instead of packing back-to-back
    * (repeats adjacent in one sequence would defeat the point of
    * upsampling); within a (lang, shard) stream, units are ordered by
    * (doc_id, epoch) — deterministic under any partitioning.
    *
    * Scale shape (100 TB): tokenization is counted ONCE per document
    * before the ≤3× epoch fan-out (the expansion replicates a LONG,
    * not the text), then one window shuffle keyed (lang, shard) —
    * the [[CorpusOps.packingShardedOf]] plan unchanged, partitions
    * bounded by langs × [[CorpusOps.PackShards]] shards. Input: any
    * (doc_id, lang, text) frame. */
  def packingUpsampledOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counted = docs.select(col("doc_id"), col("lang"),
      size(graft.func.Tokenizer.tokens(col("text"))).cast("long")
        .as("n_tokens"))
    val units = upsampleUnitsOf(counted)
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id", "epoch")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    units
      .select(col("doc_id"), col("epoch"), col("lang"),
        Exprs.md5Bucket(concat_ws(":", col("doc_id"), col("epoch")),
          CorpusOps.PackShardSalt, 4, CorpusOps.PackShards).as("shard"),
        col("n_tokens"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("pack_id",
        expr(s"(cum_tokens - n_tokens) DIV ${CorpusOps.PackCapacity}"))
      .withColumn("pack_offset",
        expr(s"(cum_tokens - n_tokens) % ${CorpusOps.PackCapacity}"))
  }

  lazy val packingUpsampledOracle: String = {
    val factor =
      s"$Ppm + (${OracleSql.hexNibbles("md5('up:' || lang)", 8)}) % $FactorSpanPpm"
    val bucket =
      s"(${OracleSql.hexNibbles("md5('up2:' || CAST(doc_id AS VARCHAR))", 10)}) % $Ppm"
    val shardNib = OracleSql.hexNibbles(
      s"md5('${CorpusOps.PackShardSalt}' || CAST(doc_id AS VARCHAR)" +
        " || ':' || CAST(epoch AS VARCHAR))", 4)
    val cap = CorpusOps.PackCapacity
    s"""WITH d AS MATERIALIZED (
       |  SELECT doc_id, lang, CAST(len(${OracleSql.toks}) AS BIGINT) AS n_tokens,
       |         $factor AS fppm, $bucket AS bucket
       |  FROM documents),
       |u AS MATERIALIZED (
       |  SELECT doc_id, lang, n_tokens,
       |         CAST(unnest(range(1, fppm // $Ppm
       |           + CASE WHEN bucket < fppm % $Ppm THEN 1 ELSE 0 END + 1))
       |           AS BIGINT) AS epoch
       |  FROM d),
       |s AS MATERIALIZED (
       |  SELECT doc_id, epoch, lang,
       |         CAST($shardNib % ${CorpusOps.PackShards} AS BIGINT) AS shard,
       |         n_tokens
       |  FROM u),
       |c AS (SELECT doc_id, epoch, lang, shard, n_tokens,
       |        sum(n_tokens) OVER (PARTITION BY lang, shard
       |          ORDER BY doc_id, epoch
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
       |      FROM s)
       |SELECT doc_id, epoch, lang, shard, n_tokens,
       |       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       |       CAST((cum_tokens - n_tokens) // $cap AS BIGINT) AS pack_id,
       |       CAST((cum_tokens - n_tokens) % $cap AS BIGINT) AS pack_offset
       |FROM c""".stripMargin
  }
}
