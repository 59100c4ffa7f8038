package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.Tokenizer
import graft.func.Materialize.MatOps

/** Text-analysis operators for an LLM data pipeline, over `documents`:
  * language ID (marker-token heuristic), quality scoring, token
  * counting, and content fingerprinting.
  *
  * All scores are integer arithmetic (counts + ppm integer division) —
  * deterministic at any parallelism and bit-portable to the DuckDB
  * oracle. Every operator is scan → narrow projection → (at most) one
  * hash aggregate: linear, no shuffle beyond the aggregate, no UDFs —
  * the whole thing stays in whole-stage codegen.
  */
object TextAnalysis {
  /** Marker stopwords per language (tiny n-gram-free heuristic: count
    * marker hits, argmax with deterministic lexicographic tiebreak;
    * 'und' when nothing matches). */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "es"),
    "fr" -> Seq("le", "la", "de", "et", "les", "est"))

  /** English-ish stopword list for the quality score. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "on", "for")

  private val toksSql = graft.func.OracleSql.toks
  /** ASCII-translate lowercasing of `text` in DuckDB — the oracle
    * twin of the Spark-side translate (see Tokenizer.scala, r13). */
  private val translateSql =
    s"translate(text, '${graft.func.Tokenizer.Uppers}', " +
      s"'${graft.func.Tokenizer.Lowers}')"

  private def hits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t =>
      array_contains(array(words.map(lit): _*), t))).cast("long")

  /** Marker/stopword hit count over a `toks` list column, as DuckDB
    * SQL — shared with [[CorpusOps.filterFunnelOracle]] so the
    * language-ID contract has ONE SQL statement. */
  private[llm] def hitsSql(words: Seq[String]): String =
    s"CAST(len(list_filter(toks, t -> list_contains(${words.mkString("['", "', '", "']")}, t))) AS BIGINT)"

  /** Language ID: (doc_id, pred_lang, hit_ct, is_match vs the labeled
    * `lang`). The `lang` column is the ground-truth label; the
    * heuristic's agreement rate is itself a useful corpus stat. Kept
    * beside [[langIdOf]] because the `perfbench` curation calls it. */
  def langId(spark: SparkSession, dir: String): DataFrame =
    langIdOf(Tables.documents(spark, dir))

  /** [[langId]] over any (doc_id, text, lang) frame — public for tests. */
  def langIdOf(docs: DataFrame): DataFrame = {
    val toks = Tokenizer.tokens(col("text"))
    val withHits = docs
      .select(Seq(col("doc_id"), col("lang")) ++
        Markers.map { case (l, ws) => hits(toks, ws).as(s"h_$l") }: _*)
    val mx = greatest(Markers.map { case (l, _) => col(s"h_$l") }: _*)
    // ties break to the lexicographically-first language (Markers is
    // declared sorted), mirroring the oracle's CASE order
    val predLex: Column =
      Markers.reverse.foldLeft(lit("und"): Column) { case (rest, (l, _)) =>
        when(col(s"h_$l") === mx && mx > 0, l).otherwise(rest)
      }
    withHits
      .select(col("doc_id"), col("lang"), predLex.as("pred_lang"),
        mx.as("hit_ct"))
      .withColumn("is_match", (col("pred_lang") === col("lang")).cast("int"))
  }

  val langIdOracle: String = {
    val hitCols = Markers.map { case (l, ws) => s"${hitsSql(ws)} AS h_$l" }
      .mkString(", ")
    val mx = Markers.map { case (l, _) => s"h_$l" }
      .mkString("greatest(", ", ", ")")
    val pred = Markers.map { case (l, _) =>
      s"WHEN h_$l = mx AND mx > 0 THEN '$l'"
    }.mkString("CASE ", " ", " ELSE 'und' END")
    s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
       |h AS (SELECT doc_id, lang, $hitCols FROM t),
       |m AS (SELECT *, $mx AS mx FROM h)
       |SELECT doc_id, lang, $pred AS pred_lang, mx AS hit_ct,
       |       CAST($pred = lang AS INTEGER) AS is_match
       |FROM m""".stripMargin
  }

  /** Language-ID confusion matrix — the evaluation artifact for
    * [[langId]]: one row per (labeled, predicted) pair with the doc
    * count and the cell's recall share of its labeled row in ppm.
    * This is the harness view a classifier swap is judged by: which
    * languages leak into which, and the per-label recall on the
    * diagonal.
    *
    * Scale shape: rides the zero-shuffle scorer; the matrix is ONE
    * map-side-combined aggregate bounded by |langs|·(|langs|+1)
    * cells; the row-total window runs over that tiny frame. Input: any
    * (doc_id, text, lang) frame. */
  def langIdEvalOf(docs: DataFrame): DataFrame =
    langIdOf(docs)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("recall_ppm",
        expr("1000000 * n_docs DIV " +
          "sum(n_docs) OVER (PARTITION BY lang)"))

  lazy val langIdEvalOracle: String =
    s"""WITH base AS ($langIdOracle)
       |SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(1000000 * count(*) //
       |            sum(count(*)) OVER (PARTITION BY lang) AS BIGINT)
       |         AS recall_ppm
       |FROM base GROUP BY 1, 2""".stripMargin

  /** Quality score: stopword ratio, mean token length, and a composite
    * — all ppm integers. The shape every corpus-filtering pass needs:
    * per-doc, embarrassingly parallel. Kept beside [[qualityOf]]
    * because the `perfbench` curation calls it. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityOf(Tables.documents(spark, dir))

  /** [[qualityScore]] over any (doc_id, text) frame — public for tests.
    * Zero-token documents (empty / punctuation-only text — certain to
    * occur somewhere in a real corpus) score NULL ppm, matching the
    * oracle's `x // 0 = NULL`: the divisions are CASE-guarded because
    * Spark 4's default ANSI mode otherwise THROWS on the first such
    * row and kills the whole job (spec-locked on a zero-token doc). */
  def qualityOf(docs: DataFrame): DataFrame = qualityOf(docs, Nil)

  /** [[qualityOf]] with passthrough columns carried beside the score —
    * lets grouped consumers ([[CorpusOps.scoredByLang]]) keep their
    * group key through the pure projection instead of re-attaching it
    * with a doc_id self-join (one less shuffle, and the projection
    * stays streamable). `keep = Nil` is schema-identical to before. */
  def qualityOf(docs: DataFrame, keep: Seq[String]): DataFrame = {
    val toks = Tokenizer.tokens(col("text"))
    docs
      .select((col("doc_id") +: keep.map(col)) ++ Seq(
        size(toks).cast("long").as("n_tokens"),
        hits(toks, Stopwords).as("n_stop"),
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("len_sum")): _*)
      .withColumn("stop_ppm",
        expr("CASE WHEN n_tokens > 0 THEN (1000000 * n_stop) DIV n_tokens END"))
      .withColumn("mean_len_ppm",
        expr("CASE WHEN n_tokens > 0 THEN (1000000 * len_sum) DIV n_tokens END"))
      .withColumn("len_ok",
        when(col("n_tokens").between(20, 80), 1000000L).otherwise(300000L))
      .withColumn("quality_ppm",
        expr("(stop_ppm + mean_len_ppm DIV 10 + len_ok) DIV 3"))
      .select(("doc_id" +: keep) ++ Seq("n_tokens", "n_stop", "stop_ppm",
        "mean_len_ppm", "quality_ppm") map col: _*)
  }

  /** The quality-score pipeline as shared DuckDB CTE text ending in a
    * CTE `q(doc_id[, lang], n_tokens, n_stop, stop_ppm, mean_len_ppm,
    * quality_ppm)`. ONE source of oracle truth for the formula in
    * [[qualityOf]] — [[qualityOracle]], [[CorpusOps.topQualityOracle]]
    * and [[CorpusOps.qualityQuantilesOracle]] all splice this in, so a
    * change to the Spark-side score cannot silently desync one of them
    * (the drift hazard [[graft.func.OracleSql]] exists to prevent).
    *
    * @param withLang      carry the `lang` column through every CTE
    * @param nonEmptyOnly  drop zero-token docs (they have no defined
    *                      score and engines rank NULLs differently —
    *                      the window-consumers' portable contract) */
  def qualityCtesSql(withLang: Boolean, nonEmptyOnly: Boolean): String = {
    val lang = if (withLang) ", lang" else ""
    val where = if (nonEmptyOnly) " WHERE len(toks) > 0" else ""
    s"""t AS (SELECT doc_id$lang, $toksSql AS toks FROM documents),
       |c AS (SELECT doc_id$lang,
       |        CAST(len(toks) AS BIGINT) AS n_tokens,
       |        ${hitsSql(Stopwords)} AS n_stop,
       |        CAST(list_reduce(list_prepend(0, list_transform(toks, x -> strlen(x))), (a,b) -> a+b) AS BIGINT) AS len_sum
       |      FROM t$where),
       |r AS (SELECT doc_id$lang, n_tokens, n_stop,
       |        (1000000 * n_stop) // n_tokens AS stop_ppm,
       |        (1000000 * len_sum) // n_tokens AS mean_len_ppm,
       |        CASE WHEN n_tokens BETWEEN 20 AND 80 THEN 1000000 ELSE 300000 END AS len_ok
       |      FROM c),
       |q AS (SELECT doc_id$lang, n_tokens, n_stop, stop_ppm, mean_len_ppm,
       |        (stop_ppm + mean_len_ppm // 10 + len_ok) // 3 AS quality_ppm
       |      FROM r)""".stripMargin
  }

  val qualityOracle: String =
    s"""WITH ${qualityCtesSql(withLang = false, nonEmptyOnly = false)}
       |SELECT doc_id, n_tokens, n_stop, stop_ppm, mean_len_ppm, quality_ppm
       |FROM q""".stripMargin

  /** BPE-ish pre-tokenizer pattern (GPT-2 style, lower-case corpus):
    * letter runs, digit runs, punctuation runs, each with optional
    * leading space. Counting its matches approximates subword token
    * budget before merges. */
  val BpePattern = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"

  /** Token counting: regex word tokens, whitespace tokens, BPE-ish
    * pre-tokens, distinct tokens, type-token ratio (ppm) — per doc.
    * Input: any (doc_id, text) frame. */
  def tokenStatsOf(docs: DataFrame): DataFrame = {
    val toks = Tokenizer.tokens(col("text"))
    docs
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(toks).cast("long").as("n_tokens"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_ws_tokens"),
        regexp_count(translate(col("text"), graft.func.Tokenizer.Uppers,
          graft.func.Tokenizer.Lowers), lit(BpePattern)).cast("long")
          .as("n_bpe_tokens"),
        size(array_distinct(toks)).cast("long").as("n_types"))
      // same ANSI zero-guard as [[qualityOf]]: NULL, not a job kill
      .withColumn("ttr_ppm",
        expr("CASE WHEN n_tokens > 0 THEN (1000000 * n_types) DIV n_tokens END"))
  }

  val tokenStatsOracle: String =
    s"""WITH t AS (SELECT doc_id, length(text) AS n_chars, $toksSql AS toks,
       |             string_split_regex(trim(text), '\\s+') AS ws,
       |             len(regexp_extract_all($translateSql, '$BpePattern')) AS n_bpe
       |           FROM documents)
       |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       |       CAST(len(toks) AS BIGINT) AS n_tokens,
       |       CAST(len(ws) AS BIGINT) AS n_ws_tokens,
       |       CAST(n_bpe AS BIGINT) AS n_bpe_tokens,
       |       CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
       |       (1000000 * CAST(len(list_distinct(toks)) AS BIGINT)) // len(toks) AS ttr_ppm
       |FROM t""".stripMargin

  /** Content fingerprint: md5 over the sorted distinct token set —
    * invariant to word order and repetition (a cheap canonical-form
    * document hash, the batch analog of a rolling-hash fingerprint).
    * Input: any (doc_id, text) frame. `roll_fp` is a winnowing-style
    * rolling fingerprint: the minimum 48-bit hash over all character
    * 8-grams — stable under small edits anywhere outside the minimizing
    * window (the batch analog of a rolling-hash document sketch). Typed
    * `mapPartitions`, not Column expressions: the per-position md5 ran
    * as an INTERPRETED `transform` HOF — one interpreted md5 per
    * character of every document, the slowest row in the LLM bench block
    * (4.8 s → measured below 1 s at sf0.1). Same escalation rationale as
    * the LSH signature stage (PLANS.md #7); hash semantics are
    * bit-identical (md5 over UTF-8, first 48 bits / 16 hex nibbles — all
    * tokens ASCII by construction) and remain oracle-checked. Per-doc
    * linear work, embarrassingly parallel. */
  def fingerprintOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def md5Hex(s: String): String = {
          md.reset()
          val dig = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val sb = new StringBuilder(32)
          dig.foreach(b => sb.append(f"${b & 0xff}%02x"))
          sb.toString
        }
        // first 6 digest bytes = the 12 leading hex nibbles as a long
        def hash48(s: String): Long = {
          md.reset()
          val dig = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          var acc = 0L
          var i = 0
          while (i < 6) { acc = (acc << 8) | (dig(i) & 0xffL); i += 1 }
          acc
        }
        it.map { case (id, text) =>
          // null text → all-null row, matching the oracle's md5(NULL)
          if (text == null)
            (id, null: String, None: Option[Long], None: Option[Long])
          else {
            val fp = md5Hex(Dedup.tokensOf(text).distinct.sorted.mkString(" "))
            // rolling windows slide over CODEPOINTS, not UTF-16 code
            // units — Java substring would split surrogate pairs and
            // disagree with every codepoint-based engine's substr
            // (r13 unicode corpus; ASCII behavior identical)
            val cps = text.codePoints().toArray
            val roll: Option[Long] =
              if (cps.length >= 8) {
                var best = Long.MaxValue
                var i = 0
                while (i <= cps.length - 8) {
                  val h = hash48(new String(cps, i, 8))
                  if (h < best) best = h
                  i += 1
                }
                Some(best)
              } else None
            val bucket = java.lang.Long.parseLong(fp.substring(0, 4), 16) % 256
            (id, fp, roll, Some(bucket))
          }
        }
      }.toDF("doc_id", "fp", "roll_fp", "fp_bucket")
  }

  val fingerprintOracle: String = {
    val gramNum =
      graft.func.OracleSql.hexNibbles("md5(substr(text, i, 8))", 12)
    s"""WITH t AS (SELECT doc_id, text,
       |             md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fp
       |           FROM documents)
       |SELECT doc_id, fp,
       |       CASE WHEN length(text) >= 8 THEN
       |         list_min(list_transform(range(1, length(text) - 6),
       |           i -> CAST($gramNum AS BIGINT)))
       |       END AS roll_fp,
       |       ${graft.func.OracleSql.hexNibbles("fp", 4)} % 256 AS fp_bucket
       |FROM t""".stripMargin
  }

  // ---- per-doc keyword extraction ---------------------------------

  /** Keywords reported per document by [[docKeywordsOf]]. */
  val KeywordsPerDoc = 3

  /** Per-document keyword extraction, the TF-IDF idea restated in
    * integers: rank a doc's terms by (tf DESC, df ASC, term ASC) —
    * high in-doc frequency first, corpus-common terms (high document
    * frequency) demoted — and keep the top [[KeywordsPerDoc]]. The
    * integer ordering is a monotone surrogate for tf·idf that needs
    * no log/float, so the output is bit-portable to the oracle, and
    * the (df, term) tie-breaks make the ranking a total order (terms
    * are distinct within a doc).
    *
    * Scale shape: tf is one (doc_id, term) hash aggregate; df reduces
    * tf (already distinct per doc) by term — vocabulary-bounded, far
    * smaller than the corpus; the df join back is term-keyed (skew on
    * ultra-common terms is bounded by each doc contributing one row
    * per distinct term, and AQE splits what remains); the final
    * per-doc top-k runs as WindowGroupLimit — map-side heaps, no full
    * sort of any partition. Input: any (doc_id, text) frame. */
  def docKeywordsOf(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), Tokenizer.explodeTokens(col("text")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // LAZY localCheckpoint: the df table and the ranking join both
      // read the tf aggregate — without it the tokenize + tf groupBy
      // runs twice (r20 plan audit: documents scanned 2× here)
      .matLazily
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(df, Seq("term"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KeywordsPerDoc)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("term"), col("tf"), col("df"))
  }

  val docKeywordsOracle: String =
    s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |        row_number() OVER (PARTITION BY tf.doc_id
       |          ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rank
       |      FROM tf JOIN df USING (term))
       |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
       |       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
       |FROM r WHERE rank <= $KeywordsPerDoc""".stripMargin
}
