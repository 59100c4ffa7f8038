package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.{OracleSql, Tokenizer}
import graft.func.Materialize.MatOps

/** Corpus-wide lexical index structures over `documents`: an inverted
  * index (token → document frequency + bounded posting-list head) and
  * an IDF-weighted rarity score per document — the retrieval-side
  * complement to the per-doc [[TextAnalysis]] stats (a training-data
  * pipeline needs both: postings for lexical lookup/decontamination,
  * rarity as a "how much low-frequency content" quality signal).
  *
  * Both are pure integer arithmetic (counts and ppm integer division;
  * IDF is the exact rational 1e6/df, not a logarithm) so every value
  * is bit-portable to the DuckDB oracle.
  */
object Index {
  /** Posting-list head length kept per token. The full posting list is
    * O(df) and for corpus-frequent tokens that is the corpus itself —
    * a per-key collect that cannot scale; the head is the bounded
    * artifact (the tip a lookup service would mmap first). */
  val PostingHead = 8

  private val toksSql = OracleSql.toks

  /** Inverted index: one row per distinct token with its document
    * frequency and the first [[PostingHead]] doc_ids (ascending,
    * comma-joined).
    *
    * Scale shape: ONE shuffle. The (token, doc_id) pairs are exploded
    * from distinct per-doc token sets (dedup happens inside the row,
    * before the shuffle), then a single hash-partition by token serves
    * both window frames — `count` over the partition for df and
    * `row_number` ordered by doc_id for the head — and the final
    * groupBy(token) reuses the same partitioning (no second exchange;
    * `collect_list` is bounded by the rn ≤ [[PostingHead]] filter
    * before it, never O(df)). Input: any (doc_id, text) frame. */
  def invertedIndexOf(docs: DataFrame): DataFrame = {
    val pairs = docs.select(col("doc_id"),
      explode(array_distinct(Tokenizer.tokens(col("text")))).as("token"))
    val byToken = Window.partitionBy("token")
    val ranked = pairs
      .withColumn("df", count(lit(1)).over(byToken))
      .withColumn("rn", row_number().over(byToken.orderBy("doc_id")))
    ranked.filter(col("rn") <= PostingHead)
      .groupBy("token")
      .agg(max("df").as("df"),
        concat_ws(",",
          transform(sort_array(collect_list(col("doc_id"))), _.cast("string")))
          .as("head_postings"))
  }

  lazy val invertedIndexOracle: String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |pairs AS (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM t),
       |r AS (SELECT token, doc_id,
       |        CAST(count(*) OVER (PARTITION BY token) AS BIGINT) AS df,
       |        row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
       |      FROM pairs)
       |SELECT token, max(df) AS df,
       |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS head_postings
       |FROM r WHERE rn <= $PostingHead GROUP BY token""".stripMargin

  /** IDF rarity score per document: over all token OCCURRENCES (not
    * types), sum the exact-rational inverse document frequency
    * `1e6 DIV df` and normalize by token count — high when a document
    * is built from corpus-rare vocabulary, low for stopword soup. The
    * integer-DIV IDF keeps the score hash-exact where `ln(N/df)`
    * would be transcendental and engine-dependent.
    *
    * Scale shape: the df table is vocabulary-sized, i.e.
    * corpus-derived and NOT bounded by construction (open-domain text
    * — URLs, code identifiers — grows the token universe with the
    * corpus), so the join carries NO broadcast hint: AQE picks
    * broadcast whenever the runtime size clears the threshold and
    * degrades to a shuffle join instead of a driver OOM when it does
    * not (PLANS.md rule #2, the Boilerplate precedent). The final
    * per-doc aggregate shuffles (and map-side combines) on doc_id.
    * Docs with zero tokens survive via the left join with null
    * score. Input: any (doc_id, text) frame. */
  def idfRarityOf(docs: DataFrame): DataFrame = {
    // LAZY localCheckpoint at the DOC level (arrays, not the exploded
    // token stream — same bytes as the corpus, far fewer rows): the
    // df table and the scoring join each re-ran the tokenize pass
    // before r20 (plan audit: documents scanned 3× here); both
    // explodes below re-read the one cached pass, and the final
    // left-join base reuses it too (a bare projection never changes
    // the doc_id set)
    val toks = docs.select(col("doc_id"),
        Tokenizer.tokens(col("text")).as("t"))
      .matLazily
    val exploded = toks.select(col("doc_id"), explode(col("t")).as("token"))
    val dfs = exploded.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    // no broadcast hint on dfs: vocabulary-sized = corpus-derived
    // (PLANS.md rule #2) — AQE decides
    val scored = exploded.join(dfs, "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(expr("1000000 DIV df")).as("idf_sum"))
      .withColumn("rarity_ppm", expr("idf_sum DIV n_tokens"))
    toks.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("idf_sum"), col("rarity_ppm"))
  }

  lazy val idfRarityOracle: String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |ex AS (SELECT doc_id, unnest(toks) AS token FROM t),
       |dfs AS (SELECT token, CAST(count(*) AS BIGINT) AS df
       |        FROM (SELECT DISTINCT doc_id, token FROM ex) GROUP BY 1),
       |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |              CAST(sum(1000000 // df) AS BIGINT) AS idf_sum
       |       FROM ex JOIN dfs USING (token) GROUP BY 1)
       |SELECT d.doc_id, coalesce(n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
       |       idf_sum, idf_sum // n_tokens AS rarity_ppm
       |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin

  // ---- BM25 retrieval ----------------------------------------------

  /** The fixed query whose top hits [[bm25Of]] returns — constants so
    * the oracle replays the identical retrieval. */
  val Bm25Terms = Seq("spark", "join", "window")

  /** Result-list length. */
  val Bm25TopK = 20

  /** Integer-exact BM25 (k1 = 1.2, b = 0.75) over [[Bm25Terms]]:
    * per matching doc, score = Σ_t idf(t) · tf·(k1+1) /
    * (tf + k1·(1 − b + b·dl/avgdl)). Two exactness substitutions keep
    * it bit-portable to the oracle: idf is the rational surrogate
    * (1e6·N) DIV df (monotone in the classic log-idf, no
    * transcendentals), and the rational k1/b/avgdl denominator is
    * cleared by multiplying through by 10·A (A = total tokens,
    * N = docs; avgdl = A/N never materializes as a float):
    * score_t = idf_ppm · 22 · tf · A DIV (10·tf·A + 3·A + 9·dl·N).
    * Products run in DECIMAL(38,0)/HUGEINT — tf·A·idf terms pass
    * 10¹⁸ long before a 100-TB corpus does.
    *
    * Scale shape: the corpus-side work is one tokenize + filter to
    * the query terms (explode emits ONLY matching occurrences) and a
    * (doc, term) aggregate; term stats (≤ |terms| rows) join
    * UNHINTED — AQE broadcasts them at any realistic size, and
    * token-keyed frames derived from the corpus carry no hints by
    * convention (PLANS.md rule #2) even when, as here, the row count
    * is term-list-bounded. Only the scalar one-row (N, A) frame keeps
    * its hint. The global top-k is orderBy+limit →
    * TakeOrderedAndProject, per-partition heaps, no sort exchange.
    * Input: any (doc_id, text) frame. */
  def bm25Of(docs: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val toks = docs
      .select(col("doc_id"), Tokenizer.tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        coalesce(size(col("t")).cast("long"), lit(0L)).as("dl"))
      // LAZY localCheckpoint: the corpus stats and the term-frequency
      // branch each re-ran the tokenize pass before r20 (documents
      // scanned 3× in the bm25 plan)
      .matLazily
    val stats = toks.agg(count(lit(1)).as("n_docs"), sum("dl").as("a_tokens"))
    val tf = toks
      .select(col("doc_id"), col("dl"), explode(col("t")).as("token"))
      .filter(col("token").isin(Bm25Terms: _*))
      .groupBy("doc_id", "dl", "token").agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(dfs, "token") // unhinted: AQE broadcasts (rule #2)
      .crossJoin(broadcast(stats))
      .withColumn("idf_ppm", graft.func.Exprs.decimalFloorDiv(
        lit(1000000L).cast(dec) * col("n_docs"), col("df").cast(dec)))
      .withColumn("score_t", graft.func.Exprs.decimalFloorDiv(
        col("idf_ppm") * lit(22L) * col("tf") * col("a_tokens"),
        lit(10L).cast(dec) * col("tf") * col("a_tokens") +
          lit(3L).cast(dec) * col("a_tokens") +
          lit(9L).cast(dec) * col("dl") * col("n_docs")))
      .groupBy("doc_id", "dl")
      .agg(sum("score_t").cast("long").as("score"))
    val ord = Seq(col("score").desc, col("doc_id").asc)
    scored.orderBy(ord: _*).limit(Bm25TopK)
      .withColumn("rank",
        row_number().over(Window.orderBy(ord: _*)).cast("long"))
      .select("rank", "doc_id", "dl", "score")
  }

  lazy val bm25Oracle: String = {
    val terms = Bm25Terms.mkString("('", "', '", "')")
    s"""WITH t AS MATERIALIZED (SELECT doc_id, $toksSql AS toks FROM documents),
       |d AS MATERIALIZED (SELECT doc_id, toks,
       |       CAST(coalesce(len(toks), 0) AS BIGINT) AS dl FROM t),
       |st AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(dl) AS BIGINT) AS a_tokens FROM d),
       |tf AS MATERIALIZED (SELECT doc_id, dl, token,
       |       CAST(count(*) AS BIGINT) AS tf
       |     FROM (SELECT doc_id, dl, unnest(toks) AS token FROM d)
       |     WHERE token IN $terms GROUP BY 1, 2, 3),
       |dfs AS MATERIALIZED (SELECT token, CAST(count(*) AS BIGINT) AS df
       |      FROM tf GROUP BY 1),
       |sc AS MATERIALIZED (SELECT doc_id, dl, CAST(sum(
       |        (((CAST(1000000 AS HUGEINT) * n_docs) // df) * 22 * tf * a_tokens)
       |        // (CAST(10 AS HUGEINT) * tf * a_tokens
       |            + CAST(3 AS HUGEINT) * a_tokens
       |            + CAST(9 AS HUGEINT) * dl * n_docs)
       |      ) AS BIGINT) AS score
       |      FROM tf JOIN dfs USING (token), st GROUP BY 1, 2)
       |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
       |         AS rank, doc_id, dl, score
       |FROM sc ORDER BY score DESC, doc_id LIMIT $Bm25TopK""".stripMargin
  }

  /** Fixed phrase for the positional query (same fixed-term
    * convention as [[Bm25Terms]]). */
  val Phrase = Seq("table", "scan")

  /** Positional phrase search: documents containing [[Phrase]] as
    * consecutive tokens, with the exact occurrence count and the
    * first match position (0-based).
    *
    * The adjacency test uses the ANCHOR device, not a k-way
    * self-join: a posting of phrase term i at position p is mapped to
    * anchor p − i, so a phrase occurrence at position a is exactly an
    * anchor `a` covered by all k terms. One term-filtered posting
    * union, ONE (doc_id, anchor)-keyed map-side-combined aggregate —
    * versus the naive chain of k−1 position joins.
    *
    * Scale shape (100 TB): the term filter lands INSIDE the posting
    * explode's projection (rare phrase terms → the exchange carries
    * only matching postings, not the corpus); the anchor aggregate
    * and the per-doc rollup share the doc_id partitioning. Input: any
    * (doc_id, text) frame. */
  def phraseSearchOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val k = Phrase.length
    val pos = docs.select(col("doc_id"),
      posexplode(Tokenizer.tokens(col("text"))).as(Seq("pos", "token")))
    val terms = Phrase.zipWithIndex.map { case (t, i) => (t, i.toLong) }
      .toDF("token", "i")
    val anchored = pos
      .join(broadcast(terms), Seq("token"))
      .select(col("doc_id"), (col("pos") - col("i")).as("anchor"))
    anchored
      .groupBy("doc_id", "anchor").agg(count(lit(1)).as("k_hit"))
      .filter(col("k_hit") === k && col("anchor") >= 0)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), min("anchor").as("first_pos"))
  }

  lazy val phraseSearchOracle: String = {
    val k = Phrase.length
    val ph = Phrase.zipWithIndex
      .map { case (t, i) => s"('$t', $i)" }.mkString(", ")
    s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM documents),
       |p AS (SELECT doc_id, unnest(t) AS token,
       |             unnest(range(0, len(t))) AS pos
       |      FROM t),
       |a AS (SELECT doc_id, pos - i AS anchor
       |      FROM p JOIN (VALUES $ph) AS ph(term, i) ON p.token = ph.term),
       |h AS (SELECT doc_id, anchor FROM a
       |      GROUP BY 1, 2 HAVING count(*) = $k)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
       |       CAST(min(anchor) AS BIGINT) AS first_pos
       |FROM h WHERE anchor >= 0 GROUP BY 1""".stripMargin
  }
}
