package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.{OracleSql, Tokenizer}
import graft.func.Materialize.MatOps

/** Collocation mining over `documents`: top adjacent-bigram pairs by
  * pointwise mutual information — the corpus-analysis pass that
  * surfaces multi-word expressions ("new york") before tokenizer or
  * phrase-table construction.
  *
  * PMI = log p(a,b)/(p(a)p(b)) is transcendental; ranking by it does
  * not need the log (monotone), so the sort key is the exact integer
  * lift 1e6·c(a,b)·N DIV (c(a)·c(b)) — computed in DECIMAL(38,0)
  * (Spark) / HUGEINT (DuckDB) because c·N products overflow a BIGINT
  * near 10¹³ corpus tokens. The key is internal: the output carries
  * only ranks and raw counts (all BIGINT — a hapax pair's lift itself
  * can exceed Long at scale even though its rank is well-defined).
  *
  * Scale shape: the unigram table is vocabulary-sized — i.e.
  * corpus-derived, NOT bounded by construction (PLANS.md rule #2:
  * open-domain token universes grow with the corpus), so both its
  * joins (left and right word) are UNHINTED: AQE broadcasts at every
  * size where that is right and falls back to shuffle joins instead
  * of a driver OOM past the threshold. The bigram counts stay where
  * their groupBy put them (distinct bigram types grow with the
  * corpus — never broadcast, never reshuffled). The pair total N is
  * a 1-row broadcast (bounded by construction — hint kept). Global
  * top-k goes through orderBy+limit, which Spark plans as
  * TakeOrderedAndProject — per-partition heaps, no full sort
  * exchange.
  */
object Colloc {
  /** Noise floor: pairs seen fewer times than this are not ranked
    * (hapax pairs otherwise dominate any PMI list). */
  val MinPairCount = 5L

  /** Ranked pairs returned. */
  val TopC = 30

  /** PMI-ranked collocations over any (doc_id, text) frame. */
  def pmiOf(docs: DataFrame): DataFrame = {
    // LAZY localCheckpoint: toks feeds the unigram table, the bigram
    // table and (before r20) the pair total — without it the
    // tokenize pass ran 3× (r20 profile: three single-task 5000-doc
    // stages, ~0.3–0.45 cpu-s each; at corpus scale that is three
    // full text passes for one)
    val toks = docs.select(col("doc_id"), Tokenizer.tokens(col("text")).as("t"))
      .matLazily
    // guard size >= 2: Spark's sequence(1, 0) DESCENDS instead of
    // emitting empty (the LangModel lesson)
    val pairs = toks.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), " +
          "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"))
        .as("g"))
      .select(col("g.w1").as("w1"), col("g.w2").as("w2"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    // one pair pass: the UNFILTERED bigram aggregate yields both the
    // ranked table and the pair total (Σ c_ab over all bigram types
    // IS count(pairs) exactly) — before, `n` re-exploded the pair
    // stream a second time
    val biAll = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .matLazily
    val bi = biAll.filter(col("c_ab") >= MinPairCount)
    val n = biAll.agg(sum(col("c_ab")).as("n_pairs"))
    val scored = bi
      // no broadcast hints on the unigram sides: corpus-derived
      // (PLANS.md rule #2) — AQE decides
      .join(uni.select(col("w").as("w1"), col("c").as("c_a")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c_b")), Seq("w2"))
      .crossJoin(broadcast(n))
      .withColumn("lift",
        graft.func.Exprs.decimalFloorDiv(
          lit(1000000L).cast("decimal(38,0)") * col("c_ab") * col("n_pairs"),
          col("c_a").cast("decimal(38,0)") * col("c_b")))
    val ord = Seq(col("lift").desc, col("w1").asc, col("w2").asc)
    scored.orderBy(ord: _*).limit(TopC)
      // rank over the already-LIMITed frame: TopC rows, so the
      // unpartitioned window is a constant-size driver-side formality
      .withColumn("rank",
        row_number().over(Window.orderBy(ord: _*)).cast("long"))
      .select("rank", "w1", "w2", "c_ab", "c_a", "c_b")
  }

  lazy val pmiOracle: String = {
    val toks = OracleSql.toks
    s"""WITH t AS MATERIALIZED (SELECT doc_id, $toks AS t FROM documents),
       |pp AS MATERIALIZED (SELECT g.w1 AS w1, g.w2 AS w2 FROM (
       |  SELECT unnest(list_transform(range(1, len(t)),
       |           i -> {'w1': t[i], 'w2': t[i + 1]})) AS g
       |  FROM t WHERE len(t) >= 2)),
       |uni AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS c
       |       FROM (SELECT unnest(t) AS w FROM t) GROUP BY 1),
       |bi AS MATERIALIZED (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
       |      FROM pp GROUP BY 1, 2 HAVING count(*) >= $MinPairCount),
       |np AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pp),
       |sc AS MATERIALIZED (SELECT b.w1, b.w2, b.c_ab, ua.c AS c_a, ub.c AS c_b,
       |        (CAST(1000000 AS HUGEINT) * b.c_ab * np.n_pairs)
       |          // (CAST(ua.c AS HUGEINT) * ub.c) AS lift
       |      FROM bi b JOIN uni ua ON b.w1 = ua.w
       |                JOIN uni ub ON b.w2 = ub.w, np)
       |SELECT CAST(row_number() OVER (ORDER BY lift DESC, w1, w2) AS BIGINT)
       |         AS rank, w1, w2, c_ab, c_a, c_b
       |FROM sc ORDER BY lift DESC, w1, w2 LIMIT $TopC""".stripMargin
  }

  // ---- per-language bigram heavy hitters ---------------------------

  /** Ranked bigrams kept per language by [[topNgramsOf]]. */
  val TopNgramsPerLang = 5

  /** Per-language top bigrams by raw frequency — the heavy-hitter
    * companion to [[pmiOf]] (PMI surfaces SURPRISING pairs; a data
    * card also wants the plain most-COMMON ones, per language) and the
    * bigram sibling of [[CorpusOps.vocabReport]]'s unigram table.
    * Deterministic ties: count desc, then the pair lexically.
    *
    * Scale shape: the bigram count is one map-side-combined aggregate
    * on (lang, w1, w2); the rank-≤-k filter plans as WindowGroupLimit
    * (plan-asserted), so each partition keeps only k candidates per
    * language before the window exchange — the full bigram-type table
    * is never sorted globally. Input: any (lang, text) frame. */
  def topNgramsOf(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("lang"), Tokenizer.tokens(col("text")).as("t"))
    val pairs = toks.filter(size(col("t")) >= 2)
      .select(col("lang"), explode(expr(
        "transform(sequence(1, size(t) - 1), " +
          "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"))
        .as("g"))
      .select(col("lang"), col("g.w1").as("w1"), col("g.w2").as("w2"))
    val cnt = pairs.groupBy("lang", "w1", "w2").agg(count(lit(1)).as("c_ab"))
    val w = Window.partitionBy("lang")
      .orderBy(col("c_ab").desc, col("w1").asc, col("w2").asc)
    cnt.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= TopNgramsPerLang)
  }

  lazy val topNgramsOracle: String = {
    val toks = OracleSql.toks
    s"""WITH t AS MATERIALIZED (SELECT lang, $toks AS t FROM documents),
       |pp AS MATERIALIZED (SELECT lang, g.w1 AS w1, g.w2 AS w2 FROM (
       |  SELECT lang, unnest(list_transform(range(1, len(t)),
       |           i -> {'w1': t[i], 'w2': t[i + 1]})) AS g
       |  FROM t WHERE len(t) >= 2)),
       |cnt AS MATERIALIZED (
       |  SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS c_ab
       |  FROM pp GROUP BY 1, 2, 3)
       |SELECT lang, w1, w2, c_ab,
       |       CAST(row_number() OVER (PARTITION BY lang
       |              ORDER BY c_ab DESC, w1, w2) AS BIGINT) AS rnk
       |FROM cnt QUALIFY rnk <= $TopNgramsPerLang""".stripMargin
  }
}
