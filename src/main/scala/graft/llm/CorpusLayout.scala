package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.{Exprs, OracleSql, Tokenizer}
import graft.func.Materialize.MatOps

/** Corpus layout operators — the physical-arrangement half of a
  * training-data pipeline (reference analog: the shard/bucket layout
  * steps gmallBiGuan's warehouse leaves to its sinks): a deterministic
  * global shuffle into training shards, the token-length data card,
  * and the utilization report for the next-fit packer.
  */
object CorpusLayout {

  // ---- deterministic corpus shuffle --------------------------------

  /** Shard count for [[corpusShuffleOf]]. Test-scale 16; at 100 TB this
    * is THE parallelism knob: one shard = one independently-sorted
    * training file family = one reducer's sort buffer. The shard key
    * is a pure function of doc_id, so growing the count re-buckets
    * deterministically with no layout state to migrate. */
  val ShuffleShards = 16L

  /** Salt for the shuffle hash — distinct from [[CorpusOps.hashSplit]]
    * (unsalted) and the packer's "shard:" so shuffle order is
    * statistically independent of split and pack assignment. */
  val ShuffleSalt = "shuf:"

  /** Deterministic global shuffle: every document gets a pseudorandom
    * but reproducible position — shard = md5-bucket of doc_id, pos =
    * rank of the md5 key within the shard. A training loader that
    * reads shards in any order and rows by pos sees the corpus in a
    * fixed random permutation, independent of input file layout.
    *
    * Scale shape: ONE hash exchange on `shard`, then each shard sorts
    * independently inside its reducer — there is no global total
    * order, so no single-partition bottleneck; [[ShuffleShards]] is
    * sized to the cluster. This is the Spark-native answer to "shuffle
    * 100 TB before training": sort-within-bucket, never sort-all. Input:
    * any (doc_id, lang) frame. `skey` (the full md5) and `shard` (its
    * first 4 nibbles mod [[ShuffleShards]], via the shared
    * [[Exprs.md5Bucket]]) are derived from the SAME salted hash, so the
    * oracle states both from one md5() call. */
  def corpusShuffleOf(docs: DataFrame): DataFrame = {
    val keyed = docs.select(col("doc_id"), col("lang"),
      md5(concat(lit(ShuffleSalt), col("doc_id").cast("string"))).as("skey"),
      Exprs.md5Bucket(col("doc_id"), ShuffleSalt, 4, ShuffleShards)
        .as("shard"))
    // doc_id tiebreak: md5 collisions are negligible but the contract
    // is DETERMINISTIC, not almost-deterministic
    val w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    keyed
      .withColumn("pos", row_number().over(w).cast("long"))
      .select("doc_id", "lang", "shard", "pos")
  }

  lazy val corpusShuffleOracle: String = {
    val nib = OracleSql.hexNibbles("skey", 4)
    s"""WITH k AS (SELECT doc_id, lang,
       |             md5('$ShuffleSalt' || CAST(doc_id AS VARCHAR)) AS skey
       |           FROM documents)
       |SELECT doc_id, lang, CAST($nib % $ShuffleShards AS BIGINT) AS shard,
       |       CAST(row_number() OVER (PARTITION BY $nib % $ShuffleShards
       |              ORDER BY skey, doc_id) AS BIGINT) AS pos
       |FROM k""".stripMargin
  }

  // ---- token-length histogram (data card) --------------------------

  /** Order-of-magnitude token-length histogram per language — the
    * length panel of a data card. Buckets by DECIMAL DIGIT COUNT of
    * n_tokens (1 → 0-9 tokens, 2 → 10-99, …): exact integer-string
    * arithmetic in both engines, where floor(log2(n)) would ride on
    * float ulp at exact powers and could disagree between engines.
    *
    * Scale shape: tokenize-and-count projection, then ONE map-side-
    * combinable aggregate over a (langs × ~12)-bounded key space —
    * shuffle volume is rows-per-map-task, the cheapest full-corpus
    * pass there is. Input: any (lang, text) frame. Null text counts as
    * zero tokens (magnitude 1 bucket, with the 0-9 docs), matching the
    * oracle's coalesce. */
  def lengthHistOf(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"),
        coalesce(size(Tokenizer.tokens(col("text"))).cast("long"), lit(0L))
          .as("n_tokens"))
      .withColumn("magnitude", length(col("n_tokens").cast("string")).cast("long"))
      .groupBy("lang", "magnitude")
      .agg(count(lit(1)).as("doc_ct"), sum("n_tokens").as("token_sum"),
        min("n_tokens").as("min_tokens"), max("n_tokens").as("max_tokens"))

  lazy val lengthHistOracle: String =
    s"""WITH t AS (SELECT lang,
       |             CAST(coalesce(len(${OracleSql.toks}), 0) AS BIGINT) AS n_tokens
       |           FROM documents)
       |SELECT lang, CAST(len(CAST(n_tokens AS VARCHAR)) AS BIGINT) AS magnitude,
       |       CAST(count(*) AS BIGINT) AS doc_ct,
       |       CAST(sum(n_tokens) AS BIGINT) AS token_sum,
       |       min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
       |FROM t GROUP BY 1, 2""".stripMargin

  // ---- pack utilization report -------------------------------------

  /** Per-(lang, shard) utilization of [[CorpusOps.packingShardedOf]]'s
    * next-fit layout: how much of the allocated pack capacity actually
    * carries tokens — the number a pipeline owner watches to decide
    * whether the packer needs a smarter (best-fit / chunk-first)
    * layout. util_ppm = 1e6·used DIV capacity, integer-exact; the 1e6
    * scaling stays under Long past 1e12 tokens per (lang, shard)
    * slice, which [[CorpusOps.PackShards]] is sized to keep true.
    * util_ppm EXCEEDS 1e6 exactly when docs straddle a capacity
    * boundary: the packer assigns a doc to the pack its START offset
    * falls in and never splits it (splitting is [[CorpusOps
    * .chunkThenPack]]'s job), so a straddling doc's tail overflows
    * its pack. straddle_ct counts them, so the report itself says
    * whether >100% is boundary overflow or a bug.
    *
    * Scale shape: the groupBy key (lang, shard) EQUALS the packing
    * window's partition key, so this aggregate reuses the packer's
    * exchange — zero additional shuffles on top of [[CorpusOps
    * .packingSharded]]. */
  def packUtil(spark: SparkSession, dir: String): DataFrame =
    packUtilOf(CorpusOps.packingShardedOf(Tables.documents(spark, dir)))

  /** [[packUtil]] over any packed (lang, shard, n_tokens, pack_id)
    * frame — public for tests. */
  def packUtilOf(packed: DataFrame): DataFrame =
    packed.groupBy("lang", "shard")
      .agg(count(lit(1)).as("doc_ct"),
        sum("n_tokens").as("used_tokens"),
        (max("pack_id") + lit(1L)).as("pack_ct"),
        sum(when(col("pack_offset") + col("n_tokens") > CorpusOps.PackCapacity,
          1L).otherwise(0L)).as("straddle_ct"))
      .withColumn("capacity_tokens",
        expr(s"pack_ct * ${CorpusOps.PackCapacity}"))
      .withColumn("util_ppm",
        expr("(1000000 * used_tokens) DIV capacity_tokens"))

  /** Derives from [[CorpusOps.packingShardedOracle]] verbatim — the
    * utilization oracle restates NOTHING about the layout; MATERIALIZED
    * because chained-derivation CTEs re-inline and hang otherwise. */
  lazy val packUtilOracle: String =
    s"""WITH base AS MATERIALIZED (${CorpusOps.packingShardedOracle})
       |SELECT lang, shard, CAST(count(*) AS BIGINT) AS doc_ct,
       |       CAST(sum(n_tokens) AS BIGINT) AS used_tokens,
       |       CAST(max(pack_id) + 1 AS BIGINT) AS pack_ct,
       |       CAST(sum(CASE WHEN pack_offset + n_tokens > ${CorpusOps.PackCapacity}
       |                THEN 1 ELSE 0 END) AS BIGINT) AS straddle_ct,
       |       CAST((max(pack_id) + 1) * ${CorpusOps.PackCapacity} AS BIGINT) AS capacity_tokens,
       |       CAST((1000000 * sum(n_tokens)) // ((max(pack_id) + 1) * ${CorpusOps.PackCapacity}) AS BIGINT) AS util_ppm
       |FROM base GROUP BY lang, shard""".stripMargin

  // ---- exact token-budget allocation (largest remainder) -----------

  /** Global sample budget [[splitAllocOf]] distributes, in tokens. */
  val AllocBudget = 1000000L

  /** Largest-remainder (Hamilton) allocation of a fixed token budget
    * across languages, proportional to corpus token mass: quotaᵢ =
    * ⌊N·mᵢ/M⌋ plus one of the N − Σ⌊·⌋ leftover tokens for the largest
    * fractional remainders (ties to the lexically-smaller lang). The
    * result sums to the budget EXACTLY — the property proportional
    * rounding cannot give and a mixture sampler needs before it draws
    * per-language quotas ([[CorpusOps.mixtureSampleOf]] takes rates;
    * this takes a budget).
    *
    * All arithmetic is DECIMAL(38,0)/HUGEINT — N·mᵢ overflows BIGINT
    * once a language holds ≳10¹³ tokens, which a 100-TB corpus does.
    *
    * Scale shape: ONE map-side-combined aggregate collapses the corpus
    * to a languages-sized frame; the two unpartitioned windows (total
    * mass, remainder rank) run over those few rows — a driver-sized
    * formality, same as [[Colloc.pmiOf]]'s rank. Input: any (lang, text)
    * frame. */
  def splitAllocOf(docs: DataFrame): DataFrame = {
    val perLang = docs
      .select(col("lang"), size(Tokenizer.tokens(col("text"))).cast("long").as("n"))
      .groupBy("lang").agg(sum("n").as("tokens"))
    val all = Window.partitionBy(lit(1))
    val dec = "decimal(38,0)"
    // m = 0 (every document tokenless — NULL/empty text) would mod-by-
    // zero under ANSI; there is nothing to allocate against, so each
    // lang's quota is 0 (DegenerateSpec). The driver's corpora always
    // have tokens, so board semantics are untouched.
    val scaled = perLang
      .withColumn("m", sum("tokens").over(all).cast(dec))
      .withColumn("nm", lit(AllocBudget).cast(dec) * col("tokens"))
      .withColumn("qf", when(col("m") === 0, lit(0).cast(dec))
        .otherwise(Exprs.decimalFloorDiv(col("nm"), col("m"))))
      .withColumn("rem", when(col("m") === 0, lit(0).cast(dec))
        .otherwise(col("nm") % col("m")))
    scaled
      .withColumn("left_over", lit(AllocBudget).cast(dec) - sum("qf").over(all))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("lang"))))
      .select(col("lang"), col("tokens"),
        (col("qf") + when(col("m") > 0 && col("rk") <= col("left_over"), 1L)
          .otherwise(0L))
          .cast("long").as("quota"))
  }

  lazy val splitAllocOracle: String = {
    val toks = OracleSql.toks
    s"""WITH per AS MATERIALIZED (
       |  SELECT lang, CAST(sum(len($toks)) AS BIGINT) AS tokens
       |  FROM documents GROUP BY 1),
       |sc AS MATERIALIZED (
       |  SELECT lang, tokens,
       |         CAST(sum(tokens) OVER () AS HUGEINT) AS m,
       |         CAST($AllocBudget AS HUGEINT) * tokens AS nm
       |  FROM per),
       |q AS MATERIALIZED (
       |  SELECT lang, tokens, nm // m AS qf, nm % m AS rem FROM sc),
       |l AS (SELECT lang, tokens, qf,
       |        CAST($AllocBudget AS HUGEINT) - sum(qf) OVER () AS left_over,
       |        row_number() OVER (ORDER BY rem DESC, lang) AS rk
       |      FROM q)
       |SELECT lang, tokens,
       |       CAST(qf + CASE WHEN rk <= left_over THEN 1 ELSE 0 END AS BIGINT)
       |         AS quota
       |FROM l""".stripMargin
  }

  // ---- curriculum ordering -----------------------------------------

  /** Difficulty bands for [[curriculumOf]]. */
  val Bands = 5L

  /** Curriculum ordering: every document gets its global difficulty
    * rank (by `n_chars` asc, doc_id tiebreak — short-to-long
    * curriculum learning) and a band 1..[[Bands]] of equal rank-width,
    * the unit a curriculum-aware loader schedules epochs over.
    *
    * Scale shape (100 TB): the GLOBAL rank is computed WITHOUT a
    * global sort. Distinct lengths collapse to a per-length count
    * (bounded by the length domain, not the corpus); their cumulative
    * offsets are a window over that tiny frame; each doc's rank is
    * offset(length) + its row_number within its length partition — a
    * length-KEYED window, so the only corpus-sized exchange is hash
    * partitioning on `n_chars`. The offset table rides a broadcast
    * join. This is the two-pass distributed-rank device a single
    * `row_number() OVER (ORDER BY …)` (single-partition window)
    * cannot survive at scale. Input: any (doc_id, n_chars) frame. */
  def curriculumOf(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("n_chars"))
    val counts = d.groupBy("n_chars").agg(count(lit(1)).as("cnt"))
    // tiny frame: one row per distinct length — the single-partition
    // window is a deliberate bounded collapse
    val offsets = counts.select(col("n_chars"), col("cnt"),
      expr("sum(cnt) OVER (ORDER BY n_chars " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)").as("off"),
      expr("sum(cnt) OVER ()").as("total"))
      .select(col("n_chars"), coalesce(col("off"), lit(0L)).as("off"),
        col("total"))
    val w = Window.partitionBy("n_chars").orderBy("doc_id")
    d.join(broadcast(offsets), "n_chars")
      .withColumn("rn", col("off") + row_number().over(w).cast("long"))
      .select(col("doc_id"), col("n_chars"), col("rn"),
        (expr(s"(rn - 1) * $Bands DIV total") + 1L).as("band"))
  }

  lazy val curriculumOracle: String =
    s"""WITH d AS (SELECT doc_id, n_chars FROM documents)
       |SELECT doc_id, n_chars,
       |       CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
       |         AS rn,
       |       CAST((row_number() OVER (ORDER BY n_chars, doc_id) - 1)
       |              * $Bands // count(*) OVER () + 1 AS BIGINT) AS band
       |FROM d""".stripMargin

  // ---- token-budget selection --------------------------------------

  /** Global token budget for [[budgetSelectOf]] — the compute envelope
    * a training run fixes first (tokens, not documents). */
  val TokenBudget = 10000L

  /** Data selection under a token budget: rank documents by quality
    * (best first, doc_id tiebreak) and keep every document whose
    * STARTING cumulative token offset is still inside the budget —
    * the greedy quality-first selection public curation work applies
    * when the corpus exceeds the compute envelope (C4 ranks by
    * heuristics, QuRating/DsDm by learned quality — the selection
    * step downstream of either is exactly this). The start-offset
    * boundary rule mirrors [[CorpusOps]]' packer, so the chosen set
    * is deterministic and one doc may straddle the boundary rather
    * than the boundary doc being ambiguous. Zero-token docs cannot
    * contribute budget and are not candidates (and their NULL score
    * would rank differently per engine).
    *
    * Scale shape (100 TB): ranked cumulative sums WITHOUT a global
    * sort — per-score token totals (bounded by the ppm score domain,
    * ≤ 1e6 rows, NOT corpus-sized), cumulative offsets over that
    * bounded frame, then each doc's running total is offset + an
    * intra-score window KEYED on quality_ppm. The same
    * distributed-rank device as [[curriculumOf]], extended from
    * rank to prefix-sum. Input: any (doc_id, text) frame. */
  def budgetSelectOf(docs: DataFrame): DataFrame = {
    // LAZY localCheckpoint: `q` feeds both the per-score totals and
    // the final offset join (PLANS.md rule #17 — one scoring pass)
    val q = TextAnalysis.qualityOf(docs)
      .filter(col("n_tokens") > 0L)
      .select("doc_id", "n_tokens", "quality_ppm")
      .matLazily
    // bounded frame: one row per distinct score
    val g = q.groupBy("quality_ppm").agg(sum("n_tokens").as("tok_sum"))
    val offsets = g.select(col("quality_ppm"),
      expr("sum(tok_sum) OVER (ORDER BY quality_ppm DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)").as("off"))
      .select(col("quality_ppm"), coalesce(col("off"), lit(0L)).as("off"))
    val w = Window.partitionBy("quality_ppm").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    q.join(broadcast(offsets), Seq("quality_ppm"))
      .withColumn("cum_before",
        col("off") + coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(col("doc_id"), col("quality_ppm"), col("n_tokens"),
        col("cum_before"),
        when(col("cum_before") < TokenBudget, 1L).otherwise(0L)
          .as("selected"))
  }

  lazy val budgetSelectOracle: String =
    s"""WITH ${TextAnalysis.qualityCtesSql(withLang = false, nonEmptyOnly = true)},
       |s AS (SELECT doc_id, quality_ppm, n_tokens,
       |        CAST(coalesce(sum(n_tokens) OVER (
       |          ORDER BY quality_ppm DESC, doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS BIGINT) AS cum_before
       |      FROM q)
       |SELECT doc_id, quality_ppm, n_tokens, cum_before,
       |       CAST(CASE WHEN cum_before < $TokenBudget THEN 1 ELSE 0 END
       |            AS BIGINT) AS selected
       |FROM s""".stripMargin
}
