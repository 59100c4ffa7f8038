package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.{Exprs, OracleSql, Tokenizer}
import graft.func.Materialize.MatOps

/** Mergeable integer sketches — the bounded-state devices a 100 TB
  * pipeline uses where exact answers would cost a corpus- or
  * vocabulary-sized shuffle: a HyperLogLog register table for distinct
  * counting (Flajolet et al. 2007) and a Count-Min matrix for
  * point-frequency / heavy-hitter queries (Cormode & Muthukrishnan
  * 2005). The reference has no sketch layer (its distinct counts are
  * exact per-window sets — app/dws2/ProductStatsApp.java keeps a
  * HashSet per key); at corpus scale the sketch IS the operator.
  *
  * Both sketches are DETERMINISTIC and integer-only: hashes come from
  * md5 nibbles (the repo-wide device, func/OracleSql.scala), the HLL
  * estimator is evaluated in exact BIGINT arithmetic (see
  * [[hllEstimateOf]]), so every output crosses the engine boundary
  * bit-identically and the DuckDB oracle replays the sketch itself —
  * not a canned reference answer.
  *
  * Scale shape (100 TB):
  *  - HLL: the corpus NEVER sees a distinct(). Each document maps to
  *    a (bucket, rho) pair projected inside the scan stage; the only
  *    exchange is the ≤ [[HllM]]-rows-per-map-task (after partial
  *    max) register aggregation. The register table is the mergeable
  *    state — union two corpora by max-merging registers.
  *  - CMS: cell counts derive from the vocabulary frame (the cell is
  *    a function of the word alone), so the sketch costs one
  *    map-side-combined shuffle bounded by [[CmsD]]·[[CmsW]] cells
  *    per task; point queries join a k-row candidate set against the
  *    bounded sketch (broadcast).
  */
object Sketches {
  // ---------------------------------------------------------------
  // HyperLogLog — distinct-document cardinality
  // ---------------------------------------------------------------

  /** Register count (2^6). Small enough that the raw estimator is in
    * its calibrated regime (n/m > 5/2) at every test sf; production
    * would use 2^12–2^14 — the plan shape is m-independent. */
  val HllM = 64L

  /** alpha_64 in ppm (standard HLL bias constant for m = 64). */
  val HllAlphaPpm = 709000L

  /** alpha·m² pre-divided once so the estimator's largest product
    * stays far inside BIGINT (see [[hllEstimateOf]] overflow note). */
  val HllAlphaScaled: Long = HllAlphaPpm * HllM * HllM / 1000000L

  /** rho of the 32-bit value in md5 nibbles 3..10: leading zeros + 1,
    * i.e. 33 − bit_length(v), with v = 0 → 33. bit_length via
    * length(bin(v)) — identical in Spark and DuckDB (both render
    * minimal binary; bin(0) = "0" is handled by the v = 0 branch). */
  private def rhoOf(v: Column): Column =
    when(v === 0L, lit(33L)).otherwise(lit(33L) - length(bin(v)).cast("long"))

  /** (group*, bucket, r_max) register table for md5-hashed items,
    * shared by the global and grouped HLL forms. */
  private def registersOf(df: DataFrame, groupCols: Seq[String],
      itemMd5: Column, m: Long): DataFrame = {
    val gs = groupCols.map(col)
    df.select(gs :+ itemMd5.as("m"): _*)
      .select(gs ++ Seq(
        (conv(substring(col("m"), 1, 2), 16, 10).cast("long") % m)
          .as("bucket"),
        conv(substring(col("m"), 3, 8), 16, 10).cast("long").as("v")): _*)
      .select(gs ++ Seq(col("bucket"), rhoOf(col("v")).as("rho")): _*)
      .groupBy((gs :+ col("bucket")): _*).agg(max("rho").as("r_max"))
  }

  /** HLL register table over DISTINCT DOCUMENT CONTENT (item hash =
    * md5(text) — the exact-dedup key, llm/Dedup.scala): one row per
    * non-empty bucket, `r_max` = max rho observed. Duplicate documents
    * collapse for free (same text → same (bucket, rho)) — that is the
    * point: the post-dedup corpus cardinality with no dedup shuffle.
    * Input: any frame with a `text` column. */
  def hllSketchOf(docs: DataFrame): DataFrame =
    registersOf(docs, Nil, md5(col("text")), HllM)

  private def hllSketchSql: String = {
    val bucket = OracleSql.hexNibblesAt("m", 1, 2)
    val v = OracleSql.hexNibblesAt("m", 3, 8)
    s"""h AS (SELECT md5(text) AS m FROM documents),
       |br AS (SELECT ($bucket) % $HllM AS bucket, $v AS v FROM h),
       |sk AS (SELECT CAST(bucket AS BIGINT) AS bucket,
       |              CAST(max(CASE WHEN v = 0 THEN 33
       |                            ELSE 33 - length(bin(v)) END) AS BIGINT)
       |                AS r_max
       |       FROM br GROUP BY 1)""".stripMargin
  }

  lazy val hllSketchOracle: String =
    s"""WITH $hllSketchSql
       |SELECT bucket, r_max FROM sk""".stripMargin

  /** One-row distinct-count report: the sketch-side estimate in exact
    * integer arithmetic, plus the exact distinct count and the ppm
    * error as TEST ADJUDICATORS (a production run reads only `est` —
    * the exact column is what this query exists to be judged against,
    * same convention as the ANN recall queries).
    *
    * Estimator, all BIGINT: with R = max register, S = Σ_buckets
    * 2^(R − M_j) (empty buckets contribute 2^R), the raw HLL estimate
    * α·m² / Σ 2^(−M_j) equals α·m²·2^R / S. [[HllAlphaScaled]] is
    * α·m² pre-divided by the ppm scale, so est = AlphaScaled·2^R
    * DIV S. Overflow: AlphaScaled < 2^12, 2^R ≤ 2^33 → product
    * < 2^45; S ≤ m·2^33 < 2^39 — far inside int64 in BOTH engines'
    * plain BIGINT (no HUGEINT widening on the oracle side: every
    * product is written in pre-bounded factors). Input: any frame with a
    * `text` column. */
  def hllEstimateOf(docs: DataFrame): DataFrame = {
    // LAZY localCheckpoint: the ≤ m-row register table feeds the R/nb
    // scalar AND the S aggregation — without it the corpus scan runs
    // twice (PLANS.md rule #17)
    val sk = hllSketchOf(docs).matLazily
    val mx = sk.agg(max("r_max").as("rr"), count(lit(1)).as("nb"))
    val s = sk.crossJoin(broadcast(mx))
      .groupBy("rr", "nb")
      .agg(sum(expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(rr - r_max AS INT))")).as("s1"))
      .select(col("rr"), col("nb"),
        (col("s1") + (lit(HllM) - col("nb")) *
          expr("shiftleft(CAST(1 AS BIGINT), CAST(rr AS INT))")).as("s_total"))
    val estExpr = s"$HllAlphaScaled * " +
      "shiftleft(CAST(1 AS BIGINT), CAST(rr AS INT)) DIV s_total"
    val exact = docs.agg(countDistinct(col("text")).as("n_exact"))
    s.crossJoin(broadcast(exact))
      .select(
        lit(HllM).as("m"),
        col("nb").as("n_buckets"),
        col("rr").as("r_max"),
        col("s_total"),
        expr(estExpr).as("est"),
        col("n_exact"),
        expr(s"1000000 * abs($estExpr - n_exact) DIV n_exact").as("err_ppm"))
  }

  lazy val hllEstimateOracle: String = {
    val est = s"$HllAlphaScaled * (1::BIGINT << rr) // s_total"
    s"""WITH $hllSketchSql,
       |mx AS (SELECT max(r_max) AS rr, CAST(count(*) AS BIGINT) AS nb FROM sk),
       |s AS (SELECT rr, nb,
       |             CAST(sum(1::BIGINT << (rr - r_max)) +
       |                  ($HllM - nb) * (1::BIGINT << rr) AS BIGINT) AS s_total
       |      FROM sk, mx GROUP BY 1, 2),
       |ex AS (SELECT CAST(count(DISTINCT text) AS BIGINT) AS n_exact
       |       FROM documents)
       |SELECT CAST($HllM AS BIGINT) AS m, nb AS n_buckets,
       |       CAST(rr AS BIGINT) AS r_max, s_total,
       |       CAST($est AS BIGINT) AS est,
       |       n_exact,
       |       CAST(1000000 * abs(($est) - n_exact) // n_exact AS BIGINT)
       |         AS err_ppm
       |FROM s, ex""".stripMargin
  }

  // ---------------------------------------------------------------
  // Grouped HLL — per-key distinct counting (the sketch form of the
  // reference's per-window HashSet UV counts,
  // app/dws2/VisitorStatsApp.java / ProductStatsApp.java)
  // ---------------------------------------------------------------

  /** Registers per group — smaller than [[HllM]] because the grouped
    * query's per-key cardinalities are smaller; m = 32 keeps the
    * sf0.01 gate inside the raw estimator's calibrated regime
    * (n/m > 5/2). */
  val GroupHllM = 32L

  /** alpha_32 in ppm (standard HLL bias constant for m = 32). */
  val GroupHllAlphaPpm = 697000L

  val GroupHllAlphaScaled: Long = GroupHllAlphaPpm * GroupHllM * GroupHllM / 1000000L

  /** The grouped register table alone — the streaming-safe half of
    * [[uvSketchOf]] (groupBy + max runs in update/complete mode; the
    * R/S estimator below needs a batch window). In production the
    * streaming job maintains THIS as its state store and the serving
    * layer runs the estimator over the stored registers. */
  def uvRegistersOf(events: DataFrame): DataFrame =
    registersOf(events, Seq("event_type"),
      md5(col("user_id").cast("string")), GroupHllM)

  /** Per-event-type distinct-user estimate: the UV/dedup-count the
    * reference computes with an exact per-key HashSet
    * (gmall-time app/dws2/VisitorStatsApp.java:61-96), here as a
    * per-group HLL register table — the form that survives 100 TB,
    * where per-key exact sets are a corpus-sized state. Exact count
    * and err_ppm ride along as test adjudicators (ANN-recall
    * convention).
    *
    * Scale shape: ONE (event_type, bucket)-keyed exchange, ≤
    * groups·[[GroupHllM]] rows per map task after partial max; the
    * per-group R/S reduction is a window + aggregate over that
    * bounded register frame; the exact-count join is groups-sized.
    * Input: any (event_type, user_id) frame. */
  def uvSketchOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val regs = uvRegistersOf(events)
    val grp = regs
      .withColumn("rr", max("r_max").over(Window.partitionBy("event_type")))
      .groupBy("event_type", "rr")
      .agg(count(lit(1)).as("nb"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(rr - r_max AS INT))"))
          .as("s1"))
      .select(col("event_type"), col("nb"), col("rr"),
        (col("s1") + (lit(GroupHllM) - col("nb")) *
          expr("shiftleft(CAST(1 AS BIGINT), CAST(rr AS INT))")).as("s_total"))
    val estExpr = s"$GroupHllAlphaScaled * " +
      "shiftleft(CAST(1 AS BIGINT), CAST(rr AS INT)) DIV s_total"
    val exact = events.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    grp.join(broadcast(exact), Seq("event_type"))
      .select(col("event_type"), col("nb").as("n_buckets"),
        col("rr").as("r_max"), col("s_total"),
        expr(estExpr).as("est"), col("n_exact"),
        expr(s"1000000 * abs($estExpr - n_exact) DIV n_exact").as("err_ppm"))
  }

  lazy val uvSketchOracle: String = {
    val bucket = OracleSql.hexNibblesAt("m", 1, 2)
    val v = OracleSql.hexNibblesAt("m", 3, 8)
    val est = s"$GroupHllAlphaScaled * (1::BIGINT << rr) // s_total"
    s"""WITH h AS (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS m
       |           FROM events),
       |br AS (SELECT event_type, ($bucket) % $GroupHllM AS bucket,
       |              $v AS v FROM h),
       |sk AS (SELECT event_type, bucket,
       |              max(CASE WHEN v = 0 THEN 33
       |                       ELSE 33 - length(bin(v)) END) AS r_max
       |       FROM br GROUP BY 1, 2),
       |g AS (SELECT event_type, r_max,
       |             max(r_max) OVER (PARTITION BY event_type) AS rr
       |      FROM sk),
       |s AS (SELECT event_type, rr, CAST(count(*) AS BIGINT) AS nb,
       |             CAST(sum(1::BIGINT << (rr - r_max)) +
       |                  ($GroupHllM - count(*)) * (1::BIGINT << rr)
       |               AS BIGINT) AS s_total
       |      FROM g GROUP BY 1, 2),
       |ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
       |              AS n_exact
       |       FROM events GROUP BY 1)
       |SELECT event_type, nb AS n_buckets, CAST(rr AS BIGINT) AS r_max,
       |       s_total, CAST($est AS BIGINT) AS est, n_exact,
       |       CAST(1000000 * abs(($est) - n_exact) // n_exact AS BIGINT)
       |         AS err_ppm
       |FROM s JOIN ex USING (event_type)""".stripMargin
  }

  // ---------------------------------------------------------------
  // Count-Min — word-frequency point queries
  // ---------------------------------------------------------------

  /** Hash rows (independent salted hashes). */
  val CmsD = 4

  /** Cells per row — test-scaled so the toy vocabulary actually
    * collides (overcount > 0 exercises the min-across-rows recovery);
    * production uses 2^20-ish, and nothing in the plan depends on W. */
  val CmsW = 64L

  /** Salted md5 cell of a word for hash row `r`. */
  private def cellOf(r: Int, w: Column): Column =
    Exprs.md5Nibbles(concat(lit(s"r$r:"), w), 4) % CmsW

  /** Vocabulary frame (word, count) — shared base of both CMS
    * queries; the cell is a function of the word alone, so the sketch
    * never rescans the corpus. */
  private def vocabOf(docs: DataFrame): DataFrame =
    docs.select(Tokenizer.explodeTokens(col("text")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))

  /** (r, cell) fan-out of a (w, c) vocabulary frame. */
  private def cmsCellsOf(vocab: DataFrame): DataFrame =
    vocab.select(
        explode(array((0 until CmsD).map(r =>
          struct(lit(r.toLong).as("r"), cellOf(r, col("w")).as("cell"))): _*))
          .as("rc"),
        col("w"), col("c"))
      .select(col("rc.r").as("r"), col("rc.cell").as("cell"),
        col("w"), col("c"))

  /** The d×w count matrix as (r, cell, c_cell) rows — non-empty cells
    * only. Mergeable by cell-wise addition; size bounded by
    * [[CmsD]]·[[CmsW]] regardless of vocabulary. Input: any frame with a
    * `text` column. */
  def cmsSketchOf(docs: DataFrame): DataFrame =
    sketchFromVocab(vocabOf(docs))

  /** The (r, cell) → Σc sketch aggregate off a (w, c) vocabulary —
    * single construction point for both CMS queries. */
  private def sketchFromVocab(vocab: DataFrame): DataFrame =
    cmsCellsOf(vocab)
      .groupBy("r", "cell").agg(sum("c").as("c_cell"))

  private def cmsSql(toks: String): String = {
    val cell = OracleSql.hexNibbles("md5('r' || CAST(r AS VARCHAR) || ':' || w)", 4)
    s"""vf AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest($toks) AS w FROM documents) GROUP BY 1),
       |rc AS (SELECT CAST(r AS BIGINT) AS r,
       |              CAST(($cell) % $CmsW AS BIGINT) AS cell, w, c
       |       FROM vf CROSS JOIN (SELECT unnest(range(0, $CmsD)) AS r)),
       |sk AS (SELECT r, cell, CAST(sum(c) AS BIGINT) AS c_cell
       |       FROM rc GROUP BY 1, 2)""".stripMargin
  }

  lazy val cmsSketchOracle: String =
    s"""WITH ${cmsSql(OracleSql.toks)}
       |SELECT r, cell, c_cell FROM sk""".stripMargin

  /** Top-k candidates. */
  val CmsTopK = 20

  /** Heavy-hitter point query: the [[CmsTopK]] most frequent words
    * (freq desc, word asc — deterministic) with their exact count,
    * the CMS estimate (min over the d cells), and the collision
    * overcount (always ≥ 0 — CMS never underestimates). At 100 TB the
    * candidate set comes from a cheap sample, not an exact top-k; the
    * exact column here is the adjudicator. Input: any frame with a
    * `text` column. */
  def cmsTopKOf(docs: DataFrame): DataFrame = {
    // LAZY localCheckpoint: the vocabulary feeds the sketch AND the
    // top-k candidates — one corpus pass (PLANS.md rule #17)
    val vocab = vocabOf(docs).matLazily
    val sk = sketchFromVocab(vocab)
    val top = vocab.orderBy(col("c").desc, col("w")).limit(CmsTopK)
    cmsCellsOf(top)
      .join(broadcast(sk), Seq("r", "cell"))
      .groupBy("w", "c").agg(min("c_cell").as("c_est"))
      .select(col("w"), col("c").as("c_exact"), col("c_est"),
        (col("c_est") - col("c")).as("overcount"))
  }

  lazy val cmsTopKOracle: String = {
    val cell = OracleSql.hexNibbles("md5('r' || CAST(r AS VARCHAR) || ':' || w)", 4)
    s"""WITH ${cmsSql(OracleSql.toks)},
       |top AS (SELECT w, c FROM vf ORDER BY c DESC, w LIMIT $CmsTopK),
       |tc AS (SELECT CAST(r AS BIGINT) AS r,
       |              CAST(($cell) % $CmsW AS BIGINT) AS cell, w, c
       |       FROM top CROSS JOIN (SELECT unnest(range(0, $CmsD)) AS r)),
       |est AS (SELECT w, c, min(c_cell) AS c_est
       |        FROM tc JOIN sk USING (r, cell) GROUP BY 1, 2)
       |SELECT w, c AS c_exact, CAST(c_est AS BIGINT) AS c_est,
       |       CAST(c_est - c AS BIGINT) AS overcount
       |FROM est""".stripMargin
  }

  // ---------------------------------------------------------------
  // KMV (k minimum values) — distinct counts WITH set operations
  // ---------------------------------------------------------------

  /** Sketch size. The third sketch beside HLL and CMS: KMV (Beyer et
    * al. 2007, "On synopses for distinct value estimation") keeps the
    * k smallest hash values of a set. What HLL cannot do and KMV can:
    * the union of two sketches is a sketch (k smallest of the merged
    * values), and the INTERSECTION cardinality falls out of the same
    * structure (the fraction of the union sketch present in both
    * sides) — the per-source-pair distinct-token overlap card that
    * would otherwise cost a vocabulary×vocabulary join.
    *
    * k = 16 sits BELOW the ~31-distinct-token per-source vocabulary of
    * the sf corpora, so the estimator branch (not the exact-set
    * fallback) is what the board locks; production uses k in the
    * hundreds–thousands (stderr ≈ 1/√(k−2)) — the plan shape is
    * k-independent. */
  val KmvK = 16L

  /** Hash domain: 12 md5 nibbles → [0, 2^48). */
  val KmvM: Long = 1L << 48

  /** Distinct (source, token-hash) universe — the item set each
    * per-source sketch summarizes. */
  private def kmvHashes(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        explode(Tokenizer.tokens(col("text"))).as("w"))
      .select(col("source"),
        Exprs.md5Nibbles(col("w"), 12).as("hv"))
      .distinct()

  private def kmvHashesSql: String =
    s"""tok AS (SELECT source, unnest(${OracleSql.toks}) AS w FROM documents),
       |hv AS (SELECT DISTINCT source,
       |              ${OracleSql.hexNibbles("md5(w)", 12)} AS hv FROM tok)"""
      .stripMargin

  /** Per-source KMV sketch: the [[KmvK]] smallest distinct token
    * hashes, ranked ascending. Scale shape: one map-side-combinable
    * distinct on (source, hash) — bounded by the vocabulary, the same
    * frame the CMS rides — then a per-source top-k (WindowGroupLimit
    * pushes the k cut below the sort at scale); the sketch table is
    * sources × k rows, broadcastable by construction. Input: any
    * (source, text) frame. */
  def kmvSketchOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("hv")
    kmvHashes(docs)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= KmvK)
      .select("source", "rank", "hv")
  }

  lazy val kmvSketchOracle: String =
    s"""WITH $kmvHashesSql,
       |rk AS (SELECT source, hv,
       |              CAST(row_number() OVER (PARTITION BY source ORDER BY hv)
       |                   AS BIGINT) AS rank
       |       FROM hv)
       |SELECT source, rank, hv FROM rk WHERE rank <= $KmvK""".stripMargin

  /** Per-source distinct-token estimate from the sketch: with h_k =
    * the k-th smallest hash over a domain of [[KmvM]], est =
    * (k−1)·M DIV h_k (the unbiased KMV estimator); a source with
    * fewer than k distinct hashes IS its own exact answer. Exact
    * distinct count + ppm error ride along as test adjudicators
    * (the [[hllEstimateOf]] convention). All BIGINT: with k = 16,
    * (k−1)·M = 15·2^48 < 2^52; in general (k−1)·2^48 stays below
    * the 2^63 BIGINT ceiling for any k up to ~32768. Input: any (source,
    * text) frame. */
  def kmvEstimateOf(docs: DataFrame): DataFrame = {
    val hv = kmvHashes(docs).matLazily
    val sk = kmvSketchOf(docs)
      .groupBy("source")
      .agg(count(lit(1)).as("n_sk"), max("hv").as("h_k"))
    val exact = hv.groupBy("source").agg(count(lit(1)).as("n_exact"))
    sk.join(exact, Seq("source"))
      .select(col("source"),
        when(col("n_sk") < KmvK, col("n_sk"))
          .otherwise(expr(s"(${KmvK - 1} * ${KmvM}L) DIV h_k")).as("est"),
        col("n_exact"))
      .withColumn("err_ppm",
        expr("abs(est - n_exact) * 1000000 DIV n_exact"))
  }

  lazy val kmvEstimateOracle: String =
    s"""WITH $kmvHashesSql,
       |rk AS (SELECT source, hv,
       |              row_number() OVER (PARTITION BY source ORDER BY hv) AS rank
       |       FROM hv),
       |sk AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sk,
       |              max(hv) AS h_k
       |       FROM rk WHERE rank <= $KmvK GROUP BY 1),
       |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact
       |       FROM hv GROUP BY 1)
       |SELECT sk.source,
       |       CAST(CASE WHEN n_sk < $KmvK THEN n_sk
       |                 ELSE (${KmvK - 1} * ${KmvM}) // h_k END AS BIGINT)
       |         AS est,
       |       n_exact,
       |       CAST(abs(CASE WHEN n_sk < $KmvK THEN n_sk
       |                     ELSE (${KmvK - 1} * ${KmvM}) // h_k END
       |                - n_exact) * 1000000 // n_exact AS BIGINT) AS err_ppm
       |FROM sk JOIN ex ON sk.source = ex.source""".stripMargin

  /** Pairwise source overlap from the sketches ALONE — no vocabulary
    * join: for each source pair, merge the two k-min lists, keep the
    * k smallest distinct values (that IS the union's KMV sketch, so
    * union_est follows from the same estimator), and count how many
    * of those appear in BOTH input sketches: inter_est = that
    * fraction × union_est (the standard KMV Jaccard device). Output
    * is sources²/2 rows of pure BIGINT — every value replayed exactly
    * by the oracle, estimator quality adjudicated in SketchesSpec
    * against the exact per-pair intersections. Input: any (source, text)
    * frame. */
  def kmvOverlapOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sk = kmvSketchOf(docs).select(col("source"), col("hv"))
      .matLazily
    val srcs = sk.select("source").distinct()
    val prs = srcs.select(col("source").as("src_a"))
      .join(srcs.select(col("source").as("src_b")),
        col("src_a") < col("src_b"))
    // union-of-sketches rows per pair, deduped on the hash value —
    // two equi-joins (an OR condition would plan a nested loop; fine
    // for a bounded sketch, but the equi form costs nothing)
    val uni = prs
      .join(sk.select(col("source").as("src_a"), col("hv")), Seq("src_a"))
      .unionByName(prs
        .join(sk.select(col("source").as("src_b"), col("hv")), Seq("src_b")))
      .select(col("src_a"), col("src_b"), col("hv")).distinct()
    val w = Window.partitionBy("src_a", "src_b").orderBy("hv")
    val uk = uni.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= KmvK)
    // membership of each union-sketch value in BOTH input sketches
    val marked = uk
      .join(sk.select(col("source").as("src_a"), col("hv"),
        lit(1).as("in_a")), Seq("src_a", "hv"), "left")
      .join(sk.select(col("source").as("src_b"), col("hv"),
        lit(1).as("in_b")), Seq("src_b", "hv"), "left")
    marked.groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("k_u"), max("hv").as("h_k"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L)
          .otherwise(0L)).as("x_ct"))
      .select(col("src_a"), col("src_b"), col("x_ct"), col("k_u"),
        when(col("k_u") < KmvK, col("k_u"))
          .otherwise(expr(s"(${KmvK - 1} * ${KmvM}L) DIV h_k"))
          .as("union_est"))
      // the Jaccard fraction divides by the ACTUAL union-sketch size:
      // when the union has fewer than k distinct values the sketch is
      // the exact union and x/k_u is the exact containment fraction —
      // dividing by k there would silently understate the overlap
      .withColumn("inter_est", expr("x_ct * union_est DIV k_u"))
      .drop("k_u")
  }

  lazy val kmvOverlapOracle: String =
    s"""WITH $kmvHashesSql,
       |rk AS (SELECT source, hv,
       |              row_number() OVER (PARTITION BY source ORDER BY hv) AS rank
       |       FROM hv),
       |sk AS MATERIALIZED (SELECT source, hv FROM rk WHERE rank <= $KmvK),
       |prs AS (SELECT a.source AS src_a, b.source AS src_b
       |        FROM (SELECT DISTINCT source FROM sk) a
       |        JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source),
       |uni AS (SELECT DISTINCT p.src_a, p.src_b, s.hv
       |        FROM prs p JOIN sk s
       |          ON s.source = p.src_a OR s.source = p.src_b),
       |uk AS (SELECT src_a, src_b, hv,
       |              row_number() OVER (PARTITION BY src_a, src_b ORDER BY hv)
       |                AS rank
       |       FROM uni),
       |mk AS (SELECT u.src_a, u.src_b, u.hv,
       |              CASE WHEN sa.hv IS NULL THEN 0 ELSE 1 END AS in_a,
       |              CASE WHEN sb.hv IS NULL THEN 0 ELSE 1 END AS in_b
       |       FROM uk u
       |       LEFT JOIN sk sa ON sa.source = u.src_a AND sa.hv = u.hv
       |       LEFT JOIN sk sb ON sb.source = u.src_b AND sb.hv = u.hv
       |       WHERE u.rank <= $KmvK),
       |agg AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS k_u,
       |               max(hv) AS h_k,
       |               CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1
       |                             ELSE 0 END) AS BIGINT) AS x_ct
       |        FROM mk GROUP BY 1, 2)
       |SELECT src_a, src_b, x_ct,
       |       CAST(CASE WHEN k_u < $KmvK THEN k_u
       |                 ELSE (${KmvK - 1} * ${KmvM}) // h_k END AS BIGINT)
       |         AS union_est,
       |       CAST(x_ct * (CASE WHEN k_u < $KmvK THEN k_u
       |                         ELSE (${KmvK - 1} * ${KmvM}) // h_k END)
       |            // k_u AS BIGINT) AS inter_est
       |FROM agg""".stripMargin

  // ---- histogram-quantile sketch -----------------------------------

  /** Bin width (ppm of quality score): 10⁴ ppm = 1 % of the score
    * domain, so the sketch is ≤ ~101 (lang, bin) rows per language
    * and every estimate lands within one bin width of the exact
    * quantile. */
  val HqBinW = 10000L

  /** Histogram-quantile sketch — the fourth mergeable sketch beside
    * HLL/CMS/KMV, and the DETERMINISTIC alternative to Spark's
    * `percentile_approx` ([[CorpusOps.qualityQuantilesApproxOf]]) for
    * distributed quantiles: fixed-width value bins, counts per
    * (lang, bin). Unlike percentile_approx's randomized-compaction
    * KLL state, the histogram is a pure GROUP BY — integer binning,
    * no sketch internals — so the DuckDB oracle replays it exactly
    * and the estimates are HASH-LOCKED, while staying mergeable
    * (union two corpora's sketches by ADDING counts per (lang, bin);
    * merge law spec-asserted) and map-side combinable.
    *
    * Scale shape (100 TB): the corpus never sorts. Each doc projects
    * to one bin inside the scan stage; the only exchange carries the
    * ≤ 101-rows-per-lang-per-map-task partial counts. The exact form
    * ([[CorpusOps.qualityQuantilesOf]]) serializes each language
    * through one reducer's sort — the calibration path, not the
    * production path. Trade-off: the estimate is the quantile's bin
    * LOWER BOUND, within [[HqBinW]] − 1 ppm of the exact value
    * (spec-bounded against the exact form); rank targeting uses the
    * exact form's ceil convention `(n·p + 99) DIV 100`. Input: any
    * (doc_id, text, lang) frame; the scoreable corpus contract is
    * [[CorpusOps.scoredByLang]]'s. */
  def hqSketchOf(docs: DataFrame): DataFrame =
    CorpusOps.scoredByLang(docs)
      .select(col("lang"), expr(s"quality_ppm DIV $HqBinW").as("bin"))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("ct"))

  def hqEstimate(spark: SparkSession, dir: String): DataFrame =
    hqEstimateFrom(hqSketchOf(Tables.documents(spark, dir)))

  /** Quantile estimates from a SKETCH frame (lang, bin, ct) — taking
    * the sketch (not the corpus) is what the merge-law spec exercises:
    * estimates from a merged sketch must equal estimates from the
    * whole corpus's sketch. */
  def hqEstimateFrom(sketch: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cum = sketch
      .withColumn("cum",
        sum("ct").over(Window.partitionBy("lang").orderBy("bin")))
      .withColumn("n", sum("ct").over(Window.partitionBy("lang")))
    val qs = CorpusOps.QuantilePoints.map(p =>
      (min(when(col("cum") >= expr(s"(n * $p + 99) DIV 100"), col("bin")))
        * lit(HqBinW)).cast("long").as(s"q${p}_lo"))
    cum.groupBy("lang")
      .agg(max("n").cast("long").as("n_docs"), qs: _*)
  }

  /** Oracle replays the binning itself (same quality CTEs as the
    * exact quantile oracle). */
  lazy val hqSketchOracle: String =
    s"""WITH ${TextAnalysis.qualityCtesSql(withLang = true, nonEmptyOnly = true)}
       |SELECT lang, quality_ppm // $HqBinW AS bin,
       |       CAST(count(*) AS BIGINT) AS ct
       |FROM q GROUP BY 1, 2""".stripMargin

  lazy val hqEstimateOracle: String = {
    val qs = CorpusOps.QuantilePoints.map(p =>
      s"CAST(min(CASE WHEN cum >= (n * $p + 99) // 100 THEN bin END) " +
        s"* $HqBinW AS BIGINT) AS q${p}_lo").mkString(",\n       |       ")
    s"""WITH ${TextAnalysis.qualityCtesSql(withLang = true, nonEmptyOnly = true)},
       |hqh AS (SELECT lang, quality_ppm // $HqBinW AS bin, count(*) AS ct
       |        FROM q GROUP BY 1, 2),
       |hqc AS (SELECT lang, bin, ct,
       |          sum(ct) OVER (PARTITION BY lang ORDER BY bin) AS cum,
       |          sum(ct) OVER (PARTITION BY lang) AS n
       |        FROM hqh)
       |SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
       |       $qs
       |FROM hqc GROUP BY lang""".stripMargin
  }
}
