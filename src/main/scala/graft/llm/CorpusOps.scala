package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.Materialize.MatOps

/** Corpus-curation operators an LLM training-data pipeline runs after
  * dedup: repetition-based quality signals (the Gopher/MassiveText
  * family of "fraction of duplicated n-grams" filters, Rae et al. 2021
  * §A1.1 — public paper), deterministic train/valid/test hash splits,
  * and per-language score quantiles for threshold calibration.
  *
  * All outputs are integer (counts + ppm integer division) and every
  * operator is per-doc or one aggregate — the same determinism and
  * scale discipline as [[TextAnalysis]].
  */
object CorpusOps {
  private val toksSql = graft.func.OracleSql.toks

  // ---- repetition signals -----------------------------------------

  /** Smallest / largest n for the duplicated-n-gram CHARACTER
    * fractions ([[repetitionOf]]'s dup5..dup10 columns). */
  val DupCharMinN = 5
  val DupCharMaxN = 10

  /** Per-doc n-gram repetition signals — the full public Gopher filter
    * family (Rae et al. 2021 §A1.1):
    *  - top-n-gram fractions for n = 2, 3, 4 (ppm of total n-grams
    *    taken by the single most frequent one), plus the bigram
    *    total/top counts the fractions derive from;
    *  - duplicated-n-gram fractions for n = 2, 3 (occurrences beyond
    *    each gram's first, over total grams);
    *  - duplicated-n-gram CHARACTER fractions for n = 5..10: the ppm
    *    of token characters lying inside ANY occurrence of an n-gram
    *    that appears ≥ 2 times — each token position counted once
    *    however many duplicated grams overlap it (Gopher's
    *    "taking care not to count characters more than once"),
    *    character-weighted so one long duplicated run scores what it
    *    costs. Docs with fewer than n tokens (or zero characters)
    *    score 0, not null.
    *
    * Typed partition-local pass (the [[Dedup.shingleSets]] escalation):
    * gram counting and position marking are doc-local, so a per-doc
    * hash map + boolean cover array beat the explode →
    * two-level-aggregate form — zero shuffle, and no interpreted
    * higher-order functions on the hot path. Linear in corpus size
    * (9 gram widths ⇒ 9 linear sweeps per doc), embarrassingly
    * parallel at any scale. Input: any (doc_id, text) frame. */
  def repetitionOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val toks = Dedup.tokensOf(text)
        val totalChars = { var s = 0L; toks.foreach(s += _.length); s }
        def gramAt(i: Int, n: Int): String = {
          val sb = new StringBuilder(toks(i))
          var j = 1
          while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
          sb.toString
        }
        // (total, distinct, topCount) for word n-grams of size n
        def gramStats(n: Int): (Long, Long, Long) =
          if (toks.length < n) (0L, 0L, 0L)
          else {
            val counts = scala.collection.mutable.HashMap.empty[String, Long]
            var top = 0L
            var i = 0
            while (i <= toks.length - n) {
              val g = gramAt(i, n)
              val c = counts.getOrElse(g, 0L) + 1L
              counts(g) = c
              if (c > top) top = c
              i += 1
            }
            (toks.length.toLong - n + 1, counts.size.toLong, top)
          }
        // chars under any occurrence of a duplicated n-gram, each
        // token position counted once (overlap-safe cover array)
        def dupChars(n: Int): Long =
          if (toks.length < n) 0L
          else {
            val m = toks.length - n + 1
            val grams = new Array[String](m)
            val counts = scala.collection.mutable.HashMap.empty[String, Int]
            var i = 0
            while (i < m) {
              grams(i) = gramAt(i, n)
              counts(grams(i)) = counts.getOrElse(grams(i), 0) + 1
              i += 1
            }
            val covered = new Array[Boolean](toks.length)
            i = 0
            while (i < m) {
              if (counts(grams(i)) >= 2) {
                var j = i
                while (j < i + n) { covered(j) = true; j += 1 }
              }
              i += 1
            }
            var cc = 0L
            var k = 0
            while (k < toks.length) {
              if (covered(k)) cc += toks(k).length
              k += 1
            }
            cc
          }
        def ppm(num: Long, den: Long): Long =
          if (den > 0) 1000000L * num / den else 0L
        val (t2, d2, top2) = gramStats(2)
        val (t3, d3, top3) = gramStats(3)
        val (t4, _, top4) = gramStats(4)
        val dup = (DupCharMinN to DupCharMaxN)
          .map(n => ppm(dupChars(n), totalChars))
        (id, t2, top2, ppm(top2, t2), ppm(top3, t3), ppm(top4, t4),
          ppm(t2 - d2, t2), ppm(t3 - d3, t3),
          dup(0), dup(1), dup(2), dup(3), dup(4), dup(5))
      }).toDF("doc_id", "n_bigrams", "top_bigram_ct", "top_bigram_ppm",
        "top3_ppm", "top4_ppm", "dup2_ppm", "dup3_ppm",
        "dup5_char_ppm", "dup6_char_ppm", "dup7_char_ppm",
        "dup8_char_ppm", "dup9_char_ppm", "dup10_char_ppm")
  }

  val repetitionOracle: String = {
    // per-n CTE family: g{n} = positioned grams, c{n} = gram counts,
    // a{n} = per-doc totals, cov{n} = chars under duplicated grams
    // (distinct positions first — the overlap-once rule)
    def gramExpr(n: Int): String =
      (0 until n).map(k => s"toks[i+$k]").mkString(" || ' ' || ")
    def gCte(n: Int): String =
      s"""g$n AS (SELECT doc_id, i, ${gramExpr(n)} AS g
         |       FROM t, LATERAL (SELECT unnest(range(1, len(toks) - ${n - 2})) AS i) u
         |       WHERE len(toks) >= $n)""".stripMargin
    def cCte(n: Int): String =
      s"c$n AS (SELECT doc_id, g, count(*) AS ct FROM g$n GROUP BY 1, 2)"
    def aCte(n: Int): String =
      s"""a$n AS (SELECT doc_id, sum(ct) AS total$n, count(*) AS dist$n,
         |              max(ct) AS top$n FROM c$n GROUP BY doc_id)""".stripMargin
    def covCte(n: Int): String =
      s"""cov$n AS (SELECT o.doc_id, sum(length(t.toks[o.p])) AS cc
         |       FROM (SELECT DISTINCT gg.doc_id, q.p
         |             FROM (SELECT g$n.doc_id, g$n.i FROM g$n
         |                   JOIN c$n ON g$n.doc_id = c$n.doc_id AND g$n.g = c$n.g
         |                   WHERE c$n.ct >= 2) gg,
         |                  LATERAL (SELECT unnest(range(gg.i, gg.i + $n)) AS p) q) o
         |       JOIN t ON o.doc_id = t.doc_id GROUP BY 1)""".stripMargin
    def topPpm(n: Int): String =
      s"""CAST(CASE WHEN coalesce(a$n.total$n, 0) > 0
         |            THEN (1000000 * a$n.top$n) // a$n.total$n ELSE 0 END AS BIGINT)""".stripMargin
    def dupPpm(n: Int): String =
      s"""CAST(CASE WHEN coalesce(a$n.total$n, 0) > 0
         |            THEN (1000000 * (a$n.total$n - a$n.dist$n)) // a$n.total$n ELSE 0 END AS BIGINT)""".stripMargin
    def dupCharPpm(n: Int): String =
      s"""CAST(CASE WHEN coalesce(tc.total_chars, 0) > 0
         |            THEN (1000000 * coalesce(cov$n.cc, 0)) // tc.total_chars ELSE 0 END AS BIGINT)""".stripMargin
    val charNs = DupCharMinN to DupCharMaxN
    val ctes = (Seq("t AS (SELECT doc_id, " + toksSql + " AS toks FROM documents)",
      "tc AS (SELECT doc_id, coalesce(length(array_to_string(toks, '')), 0) AS total_chars FROM t)") ++
      (2 to 4).flatMap(n => Seq(gCte(n), cCte(n), aCte(n))) ++
      charNs.flatMap(n => Seq(gCte(n), cCte(n), covCte(n)))).mkString(",\n")
    val joins = ((2 to 4).map(n => s"LEFT JOIN a$n ON d.doc_id = a$n.doc_id") ++
      charNs.map(n => s"LEFT JOIN cov$n ON d.doc_id = cov$n.doc_id"))
      .mkString("\n")
    s"""WITH $ctes
       |SELECT d.doc_id,
       |       CAST(coalesce(a2.total2, 0) AS BIGINT) AS n_bigrams,
       |       CAST(coalesce(a2.top2, 0) AS BIGINT) AS top_bigram_ct,
       |       ${topPpm(2)} AS top_bigram_ppm,
       |       ${topPpm(3)} AS top3_ppm,
       |       ${topPpm(4)} AS top4_ppm,
       |       ${dupPpm(2)} AS dup2_ppm,
       |       ${dupPpm(3)} AS dup3_ppm,
       |       ${charNs.map(n => s"${dupCharPpm(n)} AS dup${n}_char_ppm").mkString(",\n       ")}
       |FROM documents d
       |LEFT JOIN tc ON d.doc_id = tc.doc_id
       |$joins""".stripMargin
  }

  // ---- quality filter funnel --------------------------------------

  /** [[filterFunnelOf]] thresholds — the C4/Gopher-style rule set
    * (Raffel et al. 2020 §2.2, Rae et al. 2021 §A1.1), tuned to the
    * corpus envelope: token count in [25, 90], ≥ 2 stopword hits,
    * top-bigram and duplicated-bigram fractions ≤ 10 %, and language-ID
    * agreement with the label. */
  val FunnelMinTokens = 25L
  val FunnelMaxTokens = 90L
  val FunnelMinStopHits = 2L
  val FunnelTopBigramPpm = 100000L
  val FunnelDupBigramPpm = 100000L

  /** The filter FUNNEL every curation run reports before training:
    * per language, how many documents each quality rule would reject
    * (counted independently, so a rule's bite is visible even when
    * another rule also fires), how many pass every rule, and the
    * surviving token volume. Composes the [[TextAnalysis]] length /
    * stopword / language-ID signals with [[repetitionOf]]'s bigram
    * fractions into one decision table — the artifact a mixture
    * designer reads next to [[corpusReport]].
    *
    * Scale shape: ONE corpus scan, zero joins — all five signals are
    * doc-local, so one typed partition pass (the [[repetitionOf]]
    * escalation) computes every flag, and the only shuffle is the
    * map-side-combinable aggregate over bounded lang keys. The
    * equivalent Column-expression form would be three scans of
    * `documents` joined on doc_id — this is the fused plan a 100-TB
    * run needs. Input: any (doc_id, lang, text) frame; streaming-safe
    * (stateless per-doc flags + an aggregate). */
  def filterFunnelOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val stopSet = TextAnalysis.Stopwords.toSet
    val markerSets = TextAnalysis.Markers.map { case (l, ws) => (l, ws.toSet) }
    val flags = docs.select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (_, lang, text) =>
        val toks = Dedup.tokensOf(text)
        val n = toks.length.toLong
        var nStop = 0L
        toks.foreach(t => if (stopSet(t)) nStop += 1)
        // language-ID: occurrence hits per marker list, argmax with
        // the lexicographic tie-break ([[TextAnalysis.langIdOf]]'s
        // contract — Markers is declared sorted)
        val hits = markerSets.map { case (l, ws) =>
          var h = 0L; toks.foreach(t => if (ws(t)) h += 1); (l, h)
        }
        val mx = hits.iterator.map(_._2).max
        val pred = if (mx == 0L) "und" else hits.find(_._2 == mx).get._1
        // bigram total / distinct / top ([[repetitionOf]]'s gramStats
        // shape at n = 2)
        var total2 = 0L; var dist2 = 0L; var top2 = 0L
        if (toks.length >= 2) {
          val counts = scala.collection.mutable.HashMap.empty[String, Long]
          var i = 0
          while (i < toks.length - 1) {
            val g = toks(i) + " " + toks(i + 1)
            val c = counts.getOrElse(g, 0L) + 1L
            counts(g) = c
            if (c > top2) top2 = c
            i += 1
          }
          total2 = toks.length - 1L
          dist2 = counts.size.toLong
        }
        def ppm(num: Long, den: Long): Long =
          if (den > 0) 1000000L * num / den else 0L
        def b(x: Boolean): Long = if (x) 1L else 0L
        val failLen = n < FunnelMinTokens || n > FunnelMaxTokens
        val failStop = nStop < FunnelMinStopHits
        val failTop = ppm(top2, total2) > FunnelTopBigramPpm
        val failDup = ppm(total2 - dist2, total2) > FunnelDupBigramPpm
        val failLang = pred != lang
        val pass = !(failLen || failStop || failTop || failDup || failLang)
        (lang, b(failLen), b(failStop), b(failTop), b(failDup), b(failLang),
          b(pass), if (pass) n else 0L)
      })
      .toDF("lang", "fail_len", "fail_stop", "fail_topgram",
        "fail_dupgram", "fail_langid", "pass_all", "kept")
    flags.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum("fail_len").as("fail_len"),
      sum("fail_stop").as("fail_stop"),
      sum("fail_topgram").as("fail_topgram"),
      sum("fail_dupgram").as("fail_dupgram"),
      sum("fail_langid").as("fail_langid"),
      sum("pass_all").as("pass_all"),
      sum("kept").as("kept_tokens"))
  }

  lazy val filterFunnelOracle: String = {
    // ONE source of truth for the hit-count SQL: TextAnalysis owns the
    // language-ID contract; restating it here would let the funnel's
    // fail_langid silently drift from q_llm_lang_id
    import TextAnalysis.hitsSql
    val markerCols = TextAnalysis.Markers
      .map { case (l, ws) => s"${hitsSql(ws)} AS h_$l" }.mkString(", ")
    val mx = TextAnalysis.Markers.map { case (l, _) => s"h_$l" }
      .mkString("greatest(", ", ", ")")
    val pred = TextAnalysis.Markers.map { case (l, _) =>
      s"WHEN h_$l = mx AND mx > 0 THEN '$l'"
    }.mkString("CASE ", " ", " ELSE 'und' END")
    s"""WITH d0 AS (SELECT doc_id, lang, coalesce(text, '') AS text FROM documents),
       |t AS (SELECT doc_id, lang, $toksSql AS toks FROM d0),
       |s AS (SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
       |        ${hitsSql(TextAnalysis.Stopwords)} AS n_stop,
       |        $markerCols
       |      FROM t),
       |sm AS (SELECT *, $mx AS mx FROM s),
       |g AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
       |      FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) u
       |      WHERE len(toks) >= 2),
       |c AS (SELECT doc_id, g, count(*) AS ct FROM g GROUP BY 1, 2),
       |a AS (SELECT doc_id, sum(ct) AS total2, count(*) AS dist2,
       |             max(ct) AS top2 FROM c GROUP BY 1),
       |f AS (SELECT sm.lang, sm.n_tokens, sm.n_stop,
       |        $pred AS pred,
       |        CASE WHEN coalesce(a.total2, 0) > 0
       |             THEN 1000000 * a.top2 // a.total2 ELSE 0 END AS top_ppm,
       |        CASE WHEN coalesce(a.total2, 0) > 0
       |             THEN 1000000 * (a.total2 - a.dist2) // a.total2
       |             ELSE 0 END AS dup_ppm
       |      FROM sm LEFT JOIN a ON sm.doc_id = a.doc_id),
       |v AS (SELECT lang, n_tokens,
       |        CAST(n_tokens < $FunnelMinTokens OR n_tokens > $FunnelMaxTokens AS BIGINT) AS fail_len,
       |        CAST(n_stop < $FunnelMinStopHits AS BIGINT) AS fail_stop,
       |        CAST(top_ppm > $FunnelTopBigramPpm AS BIGINT) AS fail_topgram,
       |        CAST(dup_ppm > $FunnelDupBigramPpm AS BIGINT) AS fail_dupgram,
       |        CAST(pred <> lang AS BIGINT) AS fail_langid
       |      FROM f)
       |SELECT lang, count(*) AS n_docs,
       |       CAST(sum(fail_len) AS BIGINT) AS fail_len,
       |       CAST(sum(fail_stop) AS BIGINT) AS fail_stop,
       |       CAST(sum(fail_topgram) AS BIGINT) AS fail_topgram,
       |       CAST(sum(fail_dupgram) AS BIGINT) AS fail_dupgram,
       |       CAST(sum(fail_langid) AS BIGINT) AS fail_langid,
       |       CAST(sum(CASE WHEN fail_len + fail_stop + fail_topgram
       |                        + fail_dupgram + fail_langid = 0
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS pass_all,
       |       CAST(sum(CASE WHEN fail_len + fail_stop + fail_topgram
       |                        + fail_dupgram + fail_langid = 0
       |                     THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
       |FROM v GROUP BY 1""".stripMargin
  }

  // ---- deterministic hash split -----------------------------------

  /** Split-bucket boundaries out of 100: [0,80) train, [80,90) valid,
    * [90,100) test. */
  val TrainUpper = 80L
  val ValidUpper = 90L

  /** Deterministic train/valid/test assignment: bucket = first 16 bits
    * of md5(doc_id) mod 100. Pure projection — no shuffle, no state,
    * stable under reruns, re-partitioning, and corpus growth (a doc's
    * split never depends on other docs) — the property that makes
    * hash splits the standard at corpus scale. */
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        graft.func.Exprs.md5Bucket(col("doc_id"), "", 4, 100L)
          .as("bucket"))
      .withColumn("split", splitOf(col("bucket")))

  /** bucket → split label; ONE definition shared by [[hashSplit]] and
    * the compositions that inline the split to avoid a second
    * documents scan ([[curationPipeline]]). */
  private[llm] def splitOf(bucket: org.apache.spark.sql.Column) =
    when(bucket < TrainUpper, "train")
      .when(bucket < ValidUpper, "valid")
      .otherwise("test")

  val hashSplitOracle: String = {
    val nib = graft.func.OracleSql.hexNibbles("m", 4)
    s"""WITH h AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS m
       |           FROM documents)
       |SELECT doc_id, lang, CAST($nib % 100 AS BIGINT) AS bucket,
       |       CASE WHEN $nib % 100 < $TrainUpper THEN 'train'
       |            WHEN $nib % 100 < $ValidUpper THEN 'valid'
       |            ELSE 'test' END AS split
       |FROM h""".stripMargin
  }

  /** Leakage-safe train/valid/test split: hash the near-dup CLUSTER
    * KEEPER, not the document — every member of a duplicate cluster
    * lands in the SAME split. A plain [[hashSplit]] leaks: two
    * near-identical docs hash independently, one trains and the other
    * evaluates, and the eval set silently overlaps the training set
    * (the contamination class the decontamination ops catch BETWEEN
    * corpora, recurring INSIDE one). Composition of
    * [[Dedup.dedupClosure]] (keeper = min doc_id of the LSH closure
    * component; singletons keep themselves) with the md5-bucket
    * assignment — same 16-bit bucket space and thresholds as
    * [[hashSplit]], so singleton docs get identical assignments under
    * both operators.
    *
    * Scale shape (100 TB): the closure's cost profile is
    * [[Dedup.dedupClosure]]'s (LSH-bounded pair graph, bounded driver
    * union-find with distributed pointer-doubling fallback); the split
    * itself adds a pure projection on top — no new shuffle. */
  def leakageSplit(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupClosure(spark, dir)
      .select(col("doc_id"), col("lang"), col("keeper"),
        graft.func.Exprs.md5Bucket(col("keeper"), "", 4, 100L).as("bucket"))
      .withColumn("split", splitOf(col("bucket")))

  val leakageSplitOracle: String = {
    val nib = graft.func.OracleSql.hexNibbles("m", 4)
    val closure = Dedup.dedupClosureOracle.replace("\n", "\n  ")
    s"""WITH h AS (
       |  SELECT doc_id, lang, keeper, md5(CAST(keeper AS VARCHAR)) AS m
       |  FROM (
       |  $closure
       |  ) c)
       |SELECT doc_id, lang, keeper, CAST($nib % 100 AS BIGINT) AS bucket,
       |       CASE WHEN $nib % 100 < $TrainUpper THEN 'train'
       |            WHEN $nib % 100 < $ValidUpper THEN 'valid'
       |            ELSE 'test' END AS split
       |FROM h""".stripMargin
  }

  // ---- deterministic mixture sampling -----------------------------

  /** Per-language sampling rates (ppm) for [[mixtureSampleOf]] — the
    * data-mixing weight table a training run tunes (upsample
    * low-resource languages, downsample the dominant one). Literal
    * config here, the same role as [[graft.dwd.DbRouter.config]]. */
  val MixRates: Seq[(String, Long)] = Seq(
    "de" -> 850000L, "en" -> 400000L, "es" -> 700000L,
    "fr" -> 900000L, "zh" -> 800000L)

  /** Rate applied to a language absent from [[MixRates]]. */
  val MixDefaultPpm = 500000L

  /** Deterministic mixture sampling: doc kept iff its hash bucket (40
    * bits of md5("mix:"+doc_id), mod 10⁶) falls below its language's
    * rate. The data-mixing primitive every pretraining run needs,
    * with the properties random sampling lacks at corpus scale: a
    * doc's verdict never depends on other docs (stable under corpus
    * growth and re-partitioning), reruns are bit-identical, and the
    * realized rate converges to the configured ppm by uniformity of
    * md5 — 10 nibbles, NOT fewer, because rate accuracy is this
    * operator's contract and the modulo bias is (2^40 mod 10⁶)/2^40 ≈
    * 6·10⁻⁷ relative (a 24-bit prefix would oversample every language
    * by up to 1.3 %). The salt decouples these buckets from
    * [[hashSplit]]'s, so sampling is independent of split assignment.
    * Pure projection — zero shuffle, embarrassingly parallel at any
    * scale. Input: any (doc_id, lang) frame; streaming-safe (a
    * stateless projection: the SAME body runs unchanged over a documents
    * stream — ingest-time sampling — with parity asserted in
    * StreamingSpec). */
  def mixtureSampleOf(docs: DataFrame): DataFrame = {
    val rate = MixRates.foldLeft(lit(MixDefaultPpm)) {
      case (rest, (l, r)) => when(col("lang") === l, r).otherwise(rest)
    }
    docs
      .select(col("doc_id"), col("lang"),
        graft.func.Exprs.md5Bucket(col("doc_id"), "mix:", 10, 1000000L)
          .as("mix_bucket"),
        rate.as("rate_ppm"))
      .withColumn("sampled",
        (col("mix_bucket") < col("rate_ppm")).cast("int"))
  }

  /** The lang-rate CASE both mixture oracles share. */
  private def mixLangRateSql: String =
    MixRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString("CASE ", " ", s" ELSE $MixDefaultPpm END")

  val mixtureSampleOracle: String = {
    val nib = graft.func.OracleSql.hexNibbles(
      "md5('mix:' || CAST(doc_id AS VARCHAR))", 10)
    val rate = mixLangRateSql
    s"""SELECT doc_id, lang,
       |       CAST($nib % 1000000 AS BIGINT) AS mix_bucket,
       |       CAST($rate AS BIGINT) AS rate_ppm,
       |       CAST($nib % 1000000 < $rate AS INTEGER) AS sampled
       |FROM documents""".stripMargin
  }

  /** (lang, source)-level rate overrides for [[mixtureSampleStratifiedOf]]
    * — real mixing weights strata, not just languages (a books-like
    * source upsampled, a noisy crawl slice downsampled, within the
    * same language). Literal config, like [[MixRates]]. */
  val MixStratumRates: Seq[((String, String), Long)] = Seq(
    ("en", "src0") -> 150000L, ("en", "src1") -> 950000L,
    ("zh", "src2") -> 250000L, ("de", "src3") -> 990000L)

  /** [[mixtureSampleOf]] with a per-stratum rate cascade:
    * (lang, source) override → lang rate → default. The SAME salted
    * bucket as the lang-only form, so a doc's verdict changes only
    * where its stratum's rate does — re-tuning weights never
    * re-rolls the dice (the reproducibility property a curation run
    * audits against). Still a pure projection: zero shuffle, verdicts
    * independent of other docs, stable under corpus growth. Input: any
    * (doc_id, lang, source) frame. */
  def mixtureSampleStratifiedOf(docs: DataFrame): DataFrame = {
    val langRate = MixRates.foldLeft(lit(MixDefaultPpm)) {
      case (rest, (l, r)) => when(col("lang") === l, r).otherwise(rest)
    }
    val rate = MixStratumRates.foldLeft(langRate) {
      case (rest, ((l, s), r)) =>
        when(col("lang") === l && col("source") === s, r).otherwise(rest)
    }
    docs
      .select(col("doc_id"), col("lang"), col("source"),
        graft.func.Exprs.md5Bucket(col("doc_id"), "mix:", 10, 1000000L)
          .as("mix_bucket"),
        rate.as("rate_ppm"))
      .withColumn("sampled",
        (col("mix_bucket") < col("rate_ppm")).cast("int"))
  }

  val mixtureSampleStratifiedOracle: String = {
    val nib = graft.func.OracleSql.hexNibbles(
      "md5('mix:' || CAST(doc_id AS VARCHAR))", 10)
    val rate = MixStratumRates.map { case ((l, s), r) =>
      s"WHEN lang = '$l' AND source = '$s' THEN $r"
    }.mkString("CASE ", " ", s" ELSE $mixLangRateSql END")
    s"""SELECT doc_id, lang, source,
       |       CAST($nib % 1000000 AS BIGINT) AS mix_bucket,
       |       CAST($rate AS BIGINT) AS rate_ppm,
       |       CAST($nib % 1000000 < $rate AS INTEGER) AS sampled
       |FROM documents""".stripMargin
  }

  // ---- temperature-scaled mixture ---------------------------------

  /** Mixing exponent α = 1/T for [[mixtureTemperatureOf]], as thousandths
    * (α = 0.5, i.e. T = 2 — the multilingual-pretraining standard:
    * target language mass ∝ n^α, upsampling low-resource languages;
    * Conneau & Lample 2019 §3.1, Xue et al. 2021 §3.2). α = 0.5 is
    * also the one exponent whose rate math stays bit-portable across
    * engines: the keep-rate reduces to a sqrt, and IEEE 754 REQUIRES
    * sqrt/·/÷ to be correctly rounded, so Spark and the DuckDB oracle
    * compute the identical double — a general pow() carries no such
    * guarantee. */
  val MixAlphaThousandths = 500L

  /** [[mixtureSampleOf]] with DATA-DRIVEN rates instead of a literal
    * table: per-language token counts feed temperature sampling with
    * target mass ∝ tokens^α. Realizing that by per-doc keep/drop means
    * rate_l ∝ tokens_l^(α-1), normalized so the scarcest language
    * keeps 100 %: rate_ppm = ⌊10⁶·√(min_tokens / tokens_l)⌋ at α = ½.
    * The SAME salted md5 bucket as the static forms, so switching
    * between literal and temperature-derived weights never re-rolls
    * any doc's dice.
    *
    * Scale shape: one map-side-combinable aggregate over bounded lang
    * keys, a broadcast of that handful of (lang, rate) rows back onto
    * the corpus scan, and a pure projection — the rate table is the
    * only coordination, and it is O(langs), not O(docs). Languages
    * with zero tokens have no defined target mass and are excluded
    * (inner join), matching the oracle's HAVING. Input: any (doc_id,
    * lang, text) frame. */
  def mixtureTemperatureOf(docs: DataFrame): DataFrame = {
    require(MixAlphaThousandths == 500L,
      "rate formula below is the α = 1/2 (sqrt) specialization")
    val langTokens = docs
      .select(col("lang"),
        size(graft.func.Tokenizer.tokens(col("text"))).cast("long")
          .as("n_tokens"))
      .groupBy("lang").agg(sum("n_tokens").as("lang_tokens"))
      .filter(col("lang_tokens") > 0L)
    val minTokens = langTokens.agg(min("lang_tokens").as("min_tokens"))
    val rates = langTokens.crossJoin(broadcast(minTokens))
      .select(col("lang"), col("lang_tokens"),
        floor(lit(1000000d) *
          sqrt(col("min_tokens").cast("double") /
            col("lang_tokens").cast("double")))
          .cast("long").as("rate_ppm"))
    docs
      .select(col("doc_id"), col("lang"),
        graft.func.Exprs.md5Bucket(col("doc_id"), "mix:", 10, 1000000L)
          .as("mix_bucket"))
      .join(broadcast(rates), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("lang_tokens"),
        col("rate_ppm"), col("mix_bucket"),
        (col("mix_bucket") < col("rate_ppm")).cast("int").as("sampled"))
  }

  val mixtureTemperatureOracle: String = {
    val nib = graft.func.OracleSql.hexNibbles(
      "md5('mix:' || CAST(doc_id AS VARCHAR))", 10)
    s"""WITH t AS (SELECT doc_id, lang,
       |             CAST(coalesce(len($toksSql), 0) AS BIGINT) AS n_tokens
       |           FROM documents),
       |l AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS lang_tokens
       |      FROM t GROUP BY 1 HAVING sum(n_tokens) > 0),
       |m AS (SELECT min(lang_tokens) AS min_tokens FROM l),
       |r AS (SELECT lang, lang_tokens,
       |        CAST(floor(1000000 * sqrt(CAST(min_tokens AS DOUBLE) /
       |          CAST(lang_tokens AS DOUBLE))) AS BIGINT) AS rate_ppm
       |      FROM l, m)
       |SELECT d.doc_id, d.lang, r.lang_tokens, r.rate_ppm,
       |       CAST($nib % 1000000 AS BIGINT) AS mix_bucket,
       |       CAST($nib % 1000000 < r.rate_ppm AS INTEGER) AS sampled
       |FROM documents d JOIN r ON d.lang = r.lang""".stripMargin
  }

  // ---- corpus report (data card) ----------------------------------

  /** Per-(lang, source) corpus report — the "data card" aggregate a
    * mixture designer reads before setting [[MixRates]]: document /
    * token / char volumes plus the mean quality score per stratum.
    * Every doc contributes to the counts; the quality mean is over
    * scoreable (non-zero-token) docs, floor-divided so the output
    * stays integer and bit-portable. The group key space is bounded
    * (langs × sources), so this is one map-side-combinable aggregate
    * whose shuffle carries a handful of rows per map task — the
    * cheapest possible full-corpus pass at any scale. */
  def corpusReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scoreable =
      docs.filter(size(graft.func.Tokenizer.tokens(col("text"))) > 0)
    docs.select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .join(TextAnalysis.qualityOf(scoreable)
        .select(col("doc_id"), col("n_tokens"), col("quality_ppm")),
        Seq("doc_id"), "left")
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("doc_ct"),
        count(col("quality_ppm")).as("scoreable_ct"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("token_sum"),
        sum(col("n_chars")).as("char_sum"),
        // integer floor division on BOTH engines (a float `/` + cast
        // would round in DuckDB but truncate in Spark), guarded: a
        // stratum with zero scoreable docs must yield NULL, not the
        // DIVIDE_BY_ZERO that Spark's default ANSI mode throws
        expr("CASE WHEN count(quality_ppm) > 0 THEN sum(quality_ppm) DIV count(quality_ppm) END")
          .as("mean_quality_ppm"))
  }

  val corpusReportOracle: String =
    s"""WITH ${TextAnalysis.qualityCtesSql(withLang = false, nonEmptyOnly = true)}
       |SELECT d.lang, d.source,
       |       count(*) AS doc_ct,
       |       count(q.quality_ppm) AS scoreable_ct,
       |       CAST(coalesce(sum(q.n_tokens), 0) AS BIGINT) AS token_sum,
       |       CAST(sum(d.n_chars) AS BIGINT) AS char_sum,
       |       CAST(CASE WHEN count(q.quality_ppm) > 0
       |            THEN sum(q.quality_ppm) // count(q.quality_ppm) END AS BIGINT) AS mean_quality_ppm
       |FROM documents d LEFT JOIN q ON d.doc_id = q.doc_id
       |GROUP BY 1, 2""".stripMargin

  // ---- vocabulary report ------------------------------------------

  /** Terms reported per language by [[vocabReport]]. */
  val VocabTopK = 10

  /** Per-language top-k terms by document frequency — the vocabulary
    * diagnostic a curation pass reads to build stopword lists and
    * sanity-check language labels (a term's df, not its raw count:
    * per-doc distinct first, so one spammy document cannot promote a
    * term). Plan shape at 100 TB: the explode feeds ONE map-side-
    * combinable (lang, token) aggregate, so the shuffle carries
    * partial counts, not token instances; the rank-limit then runs
    * over the vocabulary-sized aggregate and Spark 4's
    * WindowGroupLimit keeps it map-side top-k heaps (same rewrite as
    * [[topQuality]], asserted in spec). */
  def vocabReport(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("lang"),
        explode(array_distinct(graft.func.Tokenizer.tokens(col("text"))))
          .as("token"))
      .groupBy("lang", "token")
      .agg(count(lit(1)).as("df"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("df").desc, col("token"))))
      .filter(col("rk") <= VocabTopK)
  }

  val vocabReportOracle: String =
    s"""WITH t AS (SELECT lang, list_distinct($toksSql) AS toks FROM documents),
       |e AS (SELECT lang, unnest(toks) AS token FROM t),
       |c AS (SELECT lang, token, count(*) AS df FROM e GROUP BY 1, 2),
       |rk AS (SELECT lang, token, df,
       |         row_number() OVER (PARTITION BY lang
       |           ORDER BY df DESC, token) AS rk
       |       FROM c)
       |SELECT lang, token, df, CAST(rk AS INTEGER) AS rk
       |FROM rk WHERE rk <= $VocabTopK""".stripMargin

  // ---- sliding-window chunking ------------------------------------

  /** Tokens per training chunk and the stride between chunk starts
    * (overlap = size - stride). */
  val ChunkSize = 32
  val ChunkStride = 24

  /** Sliding-window chunking: each document's token sequence is cut
    * into [[ChunkSize]]-token windows starting every [[ChunkStride]]
    * tokens — the context-window layout for documents LONGER than the
    * training sequence (the complement of [[packingOf]], which groups
    * documents shorter than it). Chunk count = 1 + ceil(max(n-size,0)
    * / stride), so every token lands in ≥ 1 chunk and consecutive
    * chunks overlap by size - stride tokens for continuity.
    *
    * Scale shape: one narrow projection + a bounded explode (≈
    * n/stride output rows per doc) — no shuffle, no state; the
    * sequence/slice/array_join chain is all codegen'd built-ins. Input:
    * any (doc_id, text) frame. `keep` names extra input columns carried
    * through unchanged (e.g. `lang` for a downstream per-language
    * layout) — passthrough, not a join, so composing stays shuffle-free. */
  def chunkOf(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val toks = graft.func.Tokenizer.tokens(col("text"))
    val kept = keep.map(col)
    docs
      .select(Seq(col("doc_id"), toks.as("toks"),
        size(toks).cast("long").as("n_tokens")) ++ kept: _*)
      .filter(col("n_tokens") > 0)
      .withColumn("n_chunks",
        expr(s"1L + (CASE WHEN n_tokens > $ChunkSize THEN n_tokens - $ChunkSize ELSE 0L END + ${ChunkStride - 1}) DIV $ChunkStride"))
      .select(Seq(col("doc_id"), col("toks"), col("n_tokens"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id")) ++
        kept: _*)
      .withColumn("start", col("chunk_id") * ChunkStride)
      .select(Seq(col("doc_id"), col("chunk_id"),
        least(lit(ChunkSize.toLong), col("n_tokens") - col("start"))
          .as("n_chunk_tokens"),
        array_join(slice(col("toks"), (col("start") + 1).cast("int"),
          lit(ChunkSize)), " ").as("chunk_text")) ++ kept: _*)
  }

  val chunkOracle: String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
       |        1 + (CASE WHEN len(toks) > $ChunkSize THEN len(toks) - $ChunkSize ELSE 0 END + ${ChunkStride - 1}) // $ChunkStride AS n_chunks
       |      FROM t WHERE len(toks) > 0),
       |c AS (SELECT doc_id, toks, n_tokens,
       |        CAST(u.i AS BIGINT) AS chunk_id, u.i * $ChunkStride AS start
       |      FROM n, LATERAL (SELECT unnest(range(0, n_chunks)) AS i) u)
       |SELECT doc_id, chunk_id,
       |       CAST(least($ChunkSize, n_tokens - start) AS BIGINT) AS n_chunk_tokens,
       |       array_to_string(list_slice(toks, start + 1, start + $ChunkSize), ' ') AS chunk_text
       |FROM c""".stripMargin

  // ---- composed pipeline: dedup → sample → split → report ----------

  /** The master curation pipeline as ONE query — the end-to-end pass a
    * pretraining data run executes, chained from four operator
    * families with no glue code:
    *   1. near-dup dedup keep-list ([[Dedup.keepList]], MinHash-LSH);
    *   2. deterministic mixture sampling over the survivors
    *      ([[mixtureSampleOf]]);
    *   3. deterministic hash split ([[hashSplit]]);
    *   4. a per-(split, lang) volume report of what remains.
    * The output is the table a run reviews before training starts:
    * how many documents and tokens survive curation, per stratum. The
    * DuckDB oracle restates ALL FOUR stages (the keep-list's full LSH
    * CTE chain included), so the composition is hash-checked end to
    * end — operators that each verify alone can still disagree when
    * chained (column drift, verdict semantics); this pins the chain.
    *
    * Scale shape: the LSH keep-list dominates (its own audited plan);
    * sampling and splitting are pure projections on the survivor set;
    * the report is one bounded-key map-side-combinable aggregate.
    * split and n_tokens are per-row projections of the SAME documents
    * scan, so they are computed in one pass and joined once — not one
    * scan + join each. */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val kept = Dedup.keepList(spark, dir).filter(col("kept") === 1)
    val sampled = mixtureSampleOf(kept.select(col("doc_id"), col("lang")))
      .filter(col("sampled") === 1)
      .select(col("doc_id"), col("lang"))
    val meta = Tables.documents(spark, dir)
      .select(col("doc_id"),
        splitOf(graft.func.Exprs.md5Bucket(col("doc_id"), "", 4, 100L))
          .as("split"),
        coalesce(size(graft.func.Tokenizer.tokens(col("text"))).cast("long"),
          lit(0L)).as("n_tokens"))
    sampled
      .join(meta, Seq("doc_id"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("doc_ct"), sum(col("n_tokens")).as("token_sum"))
  }

  lazy val curationPipelineOracle: String = {
    val mixNib = graft.func.OracleSql.hexNibbles(
      "md5('mix:' || CAST(doc_id AS VARCHAR))", 10)
    val splitNib = graft.func.OracleSql.hexNibbles(
      "md5(CAST(doc_id AS VARCHAR))", 4)
    val keepInner = Dedup.keepListOracle.replace("\n", "\n  ")
    s"""WITH kl AS (
       |  $keepInner
       |),
       |surv AS (SELECT doc_id, lang FROM kl
       |         WHERE kept = 1 AND $mixNib % 1000000 < $mixLangRateSql),
       |sp AS (SELECT doc_id,
       |         CASE WHEN $splitNib % 100 < $TrainUpper THEN 'train'
       |              WHEN $splitNib % 100 < $ValidUpper THEN 'valid'
       |              ELSE 'test' END AS split
       |       FROM documents),
       |tok AS (SELECT doc_id,
       |          CAST(coalesce(len($toksSql), 0) AS BIGINT) AS n_tokens
       |        FROM documents)
       |SELECT sp.split, s.lang, count(*) AS doc_ct,
       |       CAST(sum(tok.n_tokens) AS BIGINT) AS token_sum
       |FROM surv s
       |JOIN sp ON s.doc_id = sp.doc_id
       |JOIN tok ON s.doc_id = tok.doc_id
       |GROUP BY 1, 2""".stripMargin
  }

  // ---- composed pipeline: chunk → pack -----------------------------

  /** Pseudo-doc key stride for [[chunkThenPack]]: pseudo_id = doc_id ·
    * span + chunk_id. Valid while every document has fewer chunks than
    * the span — at [[ChunkStride]] 24 that is documents under ~2.4 M
    * tokens, far beyond any web document; enforced at runtime by
    * [[chunkPseudoKey]]'s raise_error guard (and in spec). */
  val ChunkKeySpan = 100000L

  /** The injective pseudo-doc key doc_id · [[ChunkKeySpan]] + chunk_id
    * — with a runtime guard (not just a spec-scale check): the key is
    * collision- and overflow-free only while chunk_id < span and
    * doc_id fits the remaining Long headroom, and a corpus violating
    * either would silently wrap/collide, so the row fails the job
    * instead. The guard is one comparison per row, inside codegen. */
  def chunkPseudoKey(docId: Column, chunkId: Column): Column = {
    val maxDocId = (Long.MaxValue - (ChunkKeySpan - 1)) / ChunkKeySpan
    when(chunkId >= ChunkKeySpan || chunkId < 0L ||
        docId < 0L || docId > maxDocId,
      raise_error(concat(
        lit(s"chunk pseudo-key out of range (span=$ChunkKeySpan): doc_id="),
        docId, lit(" chunk_id="), chunkId)).cast("long"))
      .otherwise(docId * ChunkKeySpan + chunkId)
  }

  /** The end-to-end "make training shards" composition: documents are
    * cut to ≤ [[ChunkSize]]-token windows ([[chunkOf]], long docs),
    * each chunk becomes a pseudo-document with the deterministic key
    * doc_id · [[ChunkKeySpan]] + chunk_id, and the chunks are packed
    * by the sharded next-fit layout ([[packingShardedOf]], short
    * docs) — the two complements composed the way a real pipeline
    * runs them, proving the curation operators chain without glue.
    *
    * Plan shape: chunking is a shuffle-free projection + bounded
    * explode carrying `lang` through (passthrough, not a join), so
    * the composition's ONE shuffle is the packing window's
    * (lang, shard) exchange — identical to packing alone. The oracle
    * restates the whole two-stage pipeline in SQL, so the composition
    * is hash-checked end to end. */
  def chunkThenPack(spark: SparkSession, dir: String): DataFrame = {
    // n_chunk_tokens feeds the packer directly ([[packingShardedTokens]])
    // — re-tokenizing chunk_text would pay a second full pass over the
    // corpus just to recount what the chunker already knows
    val pseudo = chunkOf(Tables.documents(spark, dir), keep = Seq("lang"))
      .select(chunkPseudoKey(col("doc_id"), col("chunk_id")).as("doc_id"),
        col("lang"), col("n_chunk_tokens").as("n_tokens"))
    packingShardedTokens(pseudo)
  }

  // lazy: splices PackShardSalt/PackShards/PackCapacity, which are
  // declared further down the object — eager init would read 0/null
  // (the Similarity.Dim declaration-order hazard)
  lazy val chunkThenPackOracle: String = {
    val nib = graft.func.OracleSql.hexNibbles(
      s"md5('$PackShardSalt' || CAST(doc_id AS VARCHAR))", 4)
    s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
       |n AS (SELECT doc_id, lang, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
       |        1 + (CASE WHEN len(toks) > $ChunkSize THEN len(toks) - $ChunkSize ELSE 0 END + ${ChunkStride - 1}) // $ChunkStride AS n_chunks
       |      FROM t WHERE len(toks) > 0),
       |ch AS (SELECT doc_id, lang, CAST(u.i AS BIGINT) AS chunk_id,
       |         CAST(least($ChunkSize, n_tokens - u.i * $ChunkStride) AS BIGINT) AS n_tokens
       |       FROM n, LATERAL (SELECT unnest(range(0, n_chunks)) AS i) u),
       |p AS (SELECT CAST(doc_id * $ChunkKeySpan + chunk_id AS BIGINT) AS doc_id,
       |             lang, n_tokens FROM ch),
       |s AS (SELECT doc_id, lang, CAST($nib % $PackShards AS BIGINT) AS shard,
       |             n_tokens FROM p),
       |c AS (SELECT doc_id, lang, shard, n_tokens,
       |        sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
       |      FROM s)
       |SELECT doc_id, lang, shard, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
       |       CAST((cum_tokens - n_tokens) // $PackCapacity AS BIGINT) AS pack_id,
       |       CAST((cum_tokens - n_tokens) % $PackCapacity AS BIGINT) AS pack_offset
       |FROM c""".stripMargin
  }

  // ---- benchmark decontamination ----------------------------------

  /** A test doc is flagged contaminated when it shares at least this
    * many rare shingles with ANY train doc. */
  val ContaminationMinShared = 3L

  /** Train/test decontamination: flag test-split documents whose rare
    * word-3-gram shingles also occur in the train split — the overlap
    * check every benchmark-hygiene pass runs before evaluation
    * (the n-gram form of C4/GPT-style decontamination, over the
    * [[hashSplit]] assignment).
    *
    * Shape at 100 TB: one posting list over the corpus keyed by
    * shingle, df-capped (df ≤ [[Dedup.MaxDf]]) so no shingle bucket
    * degenerates; the train side collapses to DISTINCT shingles before
    * the join, so the probe carries set-membership rows, not doc pairs
    * — |test postings| × membership, never |test| × |train|. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val (split, pruned) = splitAndPrunedPostings(spark, dir)
    val trainSh = pruned.filter(col("split") === "train")
      .select(col("sh")).distinct()
    val shared = pruned.filter(col("split") === "test")
      .join(trainSh, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("sh")).as("shared_ct"))
    contaminationVerdicts(split, shared)
  }

  /** The shared front of both contamination forms: the split frame and
    * the df-pruned (doc_id, split, sh) posting list. */
  private def splitAndPrunedPostings(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir)
    // LAZY localCheckpoints (r20): `split` feeds the posting join AND
    // the verdict frame (hashSplit re-scanned documents per consumer),
    // and `pruned` feeds the train and test branches (each re-ran the
    // explode + df join) — the plan audit read documents 5× in
    // q_llm_contamination. The split cache is (doc_id, split); the
    // pruned cache is the df-pruned posting list this family is
    // built around.
    val split = hashSplit(spark, dir).select(col("doc_id"), col("split"))
      .matLazily
    val post = Dedup.shingleSetsShared(docs)
      .join(split, Seq("doc_id"))
      .select(col("doc_id"), col("split"), explode(col("shingles")).as("sh"))
    val rare = post.groupBy(col("sh"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= Dedup.MaxDf)
      .select(col("sh"))
    (split, post.join(rare, Seq("sh")).matLazily)
  }

  /** The shared tail: every test doc left-joined to its shared-shingle
    * count, flagged against [[ContaminationMinShared]]. */
  private def contaminationVerdicts(split: DataFrame,
      shared: DataFrame): DataFrame =
    split.filter(col("split") === "test").select(col("doc_id"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("shared_ct"), lit(0L)).as("shared_ct"))
      .withColumn("contaminated",
        (col("shared_ct") >= ContaminationMinShared).cast("int"))

  /** False-positive probability for [[contaminationBloom]]'s filter. */
  val BloomFpp = 0.01

  /** The corpus-scale form of [[contamination]]: a Bloom filter over
    * the distinct train shingles pre-filters the test postings BEFORE
    * the membership join — semijoin reduction, the standard fix when
    * train ≫ test makes the probe join's shuffled test side the
    * bottleneck. Bloom filters have no false negatives, and the
    * survivors still go through the exact membership join (false
    * positives verified away), so the OUTPUT is bit-identical to the
    * exact form — same oracle, hash-checkable, asserted equal in
    * CorpusOpsSpec.
    *
    * Scale shape: the filter ships once per executor (broadcast, ~1.2
    * bytes/item at 1 % fpp) and rejects (1 - fpp) of the non-shared
    * test postings map-side, so the shuffle carries only plausible
    * matches. The driver-resident filter becomes a memory hazard when
    * the train side grows past ~10⁹ distinct shingles —
    * [[contaminationBloomSharded]] is the form that removes it. */
  def contaminationBloom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (split, pruned) = splitAndPrunedPostings(spark, dir)
    // materialized once (eager localCheckpoint, lineage-free): it feeds
    // the count, the bloom aggregate, and the exact verify join
    val trainSh = pruned.filter(col("split") === "train")
      .select(col("sh")).distinct().matEagerly
    val nTrain = trainSh.count()
    // stat.bloomFilter NPEs on a 0-row frame (null aggregation buffer);
    // an empty train split means an empty filter — nothing can be
    // contaminated by it (DegenerateSpec)
    val bloom =
      if (nTrain == 0L)
        org.apache.spark.util.sketch.BloomFilter.create(1000L, BloomFpp)
      else trainSh.stat.bloomFilter("sh", math.max(nTrain, 1000L), BloomFpp)
    val bc = spark.sparkContext.broadcast(bloom)
    val candidates = pruned.filter(col("split") === "test")
      .select(col("doc_id"), col("sh")).as[(Long, String)]
      .mapPartitions { it =>
        val b = bc.value
        it.filter { case (_, sh) => b.mightContain(sh) }
      }.toDF("doc_id", "sh")
    val shared = candidates.join(trainSh, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("sh")).as("shared_ct"))
    contaminationVerdicts(split, shared)
  }

  /** Shingle-hash bucket count for [[contaminationBloomSharded]].
    * Test-scale 4; at 100 TB sized so one bucket's distinct-shingle
    * filter (~1.2 bytes/item at 1 % fpp) fits one executor's memory —
    * the bucket key is a pure hash of the shingle, so growing the
    * count re-buckets deterministically. */
  val BloomShardCount = 4

  /** The ≫10⁹-shingle form of [[contaminationBloom]]: one Bloom
    * filter per shingle-hash bucket instead of one filter over all
    * train shingles. Closes the single-bloom form's documented memory
    * hazard — there, the full-corpus filter is an aggregate whose
    * whole-size partial state passes through every task AND ends up
    * driver-resident. Here:
    *  - each bucket's filter is built on ONE executor
    *    (`groupByKey(bucket).mapGroups`), so no aggregation buffer,
    *    executor, or the driver ever holds more than 1/S of the bits;
    *  - the probe co-partitions test postings with the filters on the
    *    SAME bucket partitioner and zips partitions, so each filter
    *    crosses the cluster exactly once (partition-to-partition, not
    *    per row, and never through the driver) and every shingle is
    *    checked only against its own shard's filter.
    * RDD `zipPartitions` is the one genuinely per-partition imperative
    * step ("give this partition its one filter"); everything around it
    * stays declarative. Bloom filters have no false negatives and the
    * survivors still pass the exact membership join, so the OUTPUT is
    * bit-identical to [[contamination]] / [[contaminationBloom]] —
    * same oracle, asserted equal in CorpusOpsSpec. */
  def contaminationBloomSharded(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.util.sketch.BloomFilter
    val (split, pruned) = splitAndPrunedPostings(spark, dir)
    val bucket = pmod(hash(col("sh")), lit(BloomShardCount))
    // materialized once: feeds the size aggregate, the per-bucket
    // builds, and the exact verify join
    val trainSh = pruned.filter(col("split") === "train")
      .select(col("sh")).distinct().matEagerly
    val trainB = trainSh.select(col("sh"), bucket.as("bucket"))
    // per-bucket cardinalities size each filter: S scalars to the
    // driver (coordination, not data — the k-means precedent)
    val sizes = trainB.groupBy("bucket").count().as[(Int, Long)]
      .collect().toMap
    val bcSizes = spark.sparkContext.broadcast(sizes)
    val blooms = trainB.as[(String, Int)]
      .groupByKey(_._2)
      .mapGroups { (b, it) =>
        val f = BloomFilter.create(math.max(bcSizes.value(b), 1000L), BloomFpp)
        it.foreach { case (sh, _) => f.putString(sh) }
        val bos = new java.io.ByteArrayOutputStream()
        f.writeTo(bos)
        (b, bos.toByteArray)
      }
    val part = new org.apache.spark.HashPartitioner(BloomShardCount)
    val bloomRdd = blooms.rdd.partitionBy(part)
    val probeRdd = pruned.filter(col("split") === "test")
      .select(col("doc_id"), col("sh"), bucket.as("bucket"))
      .as[(Long, String, Int)].rdd
      .map { case (id, sh, b) => (b, (id, sh)) }
      .partitionBy(part)
    val candidates = bloomRdd.zipPartitions(probeRdd) { (fit, pit) =>
      // ≤ 1 filter per partition (bucket b → partition b mod S, and
      // buckets are distinct in 0..S-1); an absent filter means the
      // bucket holds no train shingles, so nothing here can match
      fit.toSeq.headOption match {
        case None => Iterator.empty
        case Some((_, bytes)) =>
          val f = BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
          pit.collect { case (_, (id, sh)) if f.mightContain(sh) => (id, sh) }
      }
    }.toDF("doc_id", "sh")
    val shared = candidates.join(trainSh, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("sh")).as("shared_ct"))
    contaminationVerdicts(split, shared)
  }

  val contaminationOracle: String = {
    val nib = graft.func.OracleSql.hexNibbles("m", 4)
    s"""WITH sp AS (SELECT doc_id,
       |  CASE WHEN $nib % 100 < $TrainUpper THEN 'train'
       |       WHEN $nib % 100 < $ValidUpper THEN 'valid' ELSE 'test' END AS split
       |  FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents)),
       |t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |shl AS (SELECT doc_id, CASE WHEN len(toks) >= 3
       |          THEN list_distinct(list_transform(range(1, len(toks) - 1),
       |               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
       |          ELSE [] END AS shingles FROM t),
       |post AS (SELECT s.doc_id, sp.split, unnest(s.shingles) AS sh
       |         FROM shl s JOIN sp ON s.doc_id = sp.doc_id),
       |rare AS (SELECT sh FROM post GROUP BY sh HAVING count(*) <= ${Dedup.MaxDf}),
       |pr AS (SELECT p.doc_id, p.split, p.sh FROM post p JOIN rare r ON p.sh = r.sh),
       |tr AS (SELECT DISTINCT sh FROM pr WHERE split = 'train'),
       |sh AS (SELECT p.doc_id, count(DISTINCT p.sh) AS shared_ct
       |       FROM pr p JOIN tr ON p.sh = tr.sh WHERE p.split = 'test'
       |       GROUP BY p.doc_id)
       |SELECT s.doc_id, coalesce(sh.shared_ct, 0) AS shared_ct,
       |       CAST(coalesce(sh.shared_ct, 0) >= $ContaminationMinShared AS INTEGER) AS contaminated
       |FROM sp s LEFT JOIN sh ON s.doc_id = sh.doc_id
       |WHERE s.split = 'test'""".stripMargin
  }

  // ---- sequence packing -------------------------------------------

  /** Token capacity of one training sequence pack. */
  val PackCapacity = 256L

  /** Deterministic next-fit sequence packing: documents are laid out
    * in (lang, doc_id) order and each starts in the pack its running
    * token offset falls into — pack_id = floor(tokens-before / C).
    * The assignment every training-data loader needs to group short
    * documents into fixed-size context windows, made reproducible:
    * it depends only on the ordered prefix sums, not on partitioning
    * or scheduling. (Next-fit lets a document straddle its pack
    * boundary rather than re-ordering — the standard streaming-packing
    * trade-off; bin-packing heuristics that reorder lose determinism.)
    *
    * Scale note: the running sum is one window shuffle per `lang`
    * partition — a handful of languages means a handful of reducers,
    * each serializing its language's whole corpus. [[packingShardedOf]]
    * is the 100-TB form: partition key (lang, shard), bounded
    * partitions, still deterministic. This sequential form stays as
    * the oracle-checked calibration path and the per-shard reference
    * (property-tested equal shard-by-shard in CorpusOpsSpec). Input: any
    * (doc_id, lang, text) frame. */
  def packingOf(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("lang"),
        size(graft.func.Tokenizer.tokens(col("text"))).cast("long")
          .as("n_tokens"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("pack_id",
        expr(s"(cum_tokens - n_tokens) DIV $PackCapacity"))
      .withColumn("pack_offset",
        expr(s"(cum_tokens - n_tokens) % $PackCapacity"))
  }

  val packingOracle: String =
    s"""WITH t AS (SELECT doc_id, lang,
       |             CAST(len($toksSql) AS BIGINT) AS n_tokens
       |           FROM documents),
       |c AS (SELECT doc_id, lang, n_tokens,
       |        sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
       |      FROM t)
       |SELECT doc_id, lang, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
       |       CAST((cum_tokens - n_tokens) // $PackCapacity AS BIGINT) AS pack_id,
       |       CAST((cum_tokens - n_tokens) % $PackCapacity AS BIGINT) AS pack_offset
       |FROM c""".stripMargin

  /** Shard count for [[packingShardedOf]]. Test-scale 8; at 100 TB this
    * is sized so one (lang, shard) slice fits a reducer's spill budget
    * (the shard key is a pure function of doc_id, so growing the count
    * re-buckets deterministically — no layout state to migrate). */
  val PackShards = 8L

  /** Salt for the packing shard hash. Salted for the same reason as
    * [[mixtureSampleOf]]'s "mix:": the UNSALTED md5 prefix is what
    * [[hashSplit]] reduces mod 100, and gcd(8, 100) = 4 means a given
    * split bucket could only ever land in 2 of 8 unsalted shards — a
    * hidden correlation if packing runs on a split-filtered corpus.
    * The salt makes shard assignment independent of split assignment. */
  val PackShardSalt = "shard:"

  /** The 100-TB form of [[packingOf]]: the running token sum is keyed by
    * (lang, shard) where shard = md5-bucket of doc_id — the same
    * deterministic-hash trick as [[hashSplit]], so DuckDB can state
    * the identical window. Each shard is an independent pack stream
    * (pack ids are shard-local): what a 1000-executor layout actually
    * wants, since a global pack numbering would chain every shard
    * behind a prefix-sum barrier for no training benefit — packs are
    * consumed as unordered files. Plan shape is unchanged from
    * [[packingOf]] (one window shuffle + partition-local sort), but the
    * partition count is langs × [[PackShards]] instead of langs, so no
    * reducer ever holds a whole language.
    *
    * Shard-local totals are property-tested against the sequential
    * form: filtering [[packingOf]]'s input to one shard's docs yields
    * exactly this operator's rows for that shard. Input: any (doc_id,
    * lang, text) frame. */
  def packingShardedOf(docs: DataFrame): DataFrame =
    packingShardedTokens(docs.select(col("doc_id"), col("lang"),
      size(graft.func.Tokenizer.tokens(col("text"))).cast("long")
        .as("n_tokens")))

  /** The sharded packer over a frame that ALREADY carries its token
    * counts (doc_id, lang, n_tokens) — the composition entry point:
    * an upstream stage that just produced the counts (e.g.
    * [[chunkOf]]'s n_chunk_tokens) must not pay a second full
    * tokenization pass over the corpus. */
  def packingShardedTokens(counted: DataFrame): DataFrame = {
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counted
      .select(col("doc_id"), col("lang"),
        graft.func.Exprs.md5Bucket(col("doc_id"), PackShardSalt, 4, PackShards)
          .as("shard"),
        col("n_tokens"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("pack_id",
        expr(s"(cum_tokens - n_tokens) DIV $PackCapacity"))
      .withColumn("pack_offset",
        expr(s"(cum_tokens - n_tokens) % $PackCapacity"))
  }

  val packingShardedOracle: String = {
    val nib = graft.func.OracleSql.hexNibbles(
      s"md5('$PackShardSalt' || CAST(doc_id AS VARCHAR))", 4)
    s"""WITH t AS (SELECT doc_id, lang, CAST($nib % $PackShards AS BIGINT) AS shard,
       |             CAST(len($toksSql) AS BIGINT) AS n_tokens
       |           FROM documents),
       |c AS (SELECT doc_id, lang, shard, n_tokens,
       |        sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
       |      FROM t)
       |SELECT doc_id, lang, shard, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
       |       CAST((cum_tokens - n_tokens) // $PackCapacity AS BIGINT) AS pack_id,
       |       CAST((cum_tokens - n_tokens) % $PackCapacity AS BIGINT) AS pack_offset
       |FROM c""".stripMargin
  }

  // ---- packed-sequence payloads -----------------------------------

  /** The consumable artifact [[packingShardedOf]] only assigns: one row
    * per (lang, shard, pack_id) with the ordered concatenated token
    * payload and its token fill count — what a training loader
    * actually reads (the assignment alone is an index, not data; same
    * materialize-then-consume discipline as the sink layer,
    * [[graft.sinks.Sinks]]). Documents are laid out inside the pack in
    * doc_id order — exactly the order the running-sum assignment
    * walked — via `array_sort(collect_list(struct(doc_id, text)))`,
    * so the concat is deterministic under any partitioning. A doc that
    * straddles its pack boundary (next-fit) contributes its whole text
    * to the pack it STARTS in, so `fill_tokens` may exceed
    * [[PackCapacity]] on straddle packs — the loader's cursor, not a
    * bug; the companion `pack_offset` column in [[packingShardedOf]]
    * locates the straddle.
    *
    * Scale shape: one extra hash shuffle on (lang, shard, pack_id)
    * after the packing window — keys are ~corpus_tokens/[[PackCapacity]]
    * packs, values bounded by a pack's worth of text (+ one straddling
    * doc), so no reducer hot-spots. The window itself is the
    * [[packingShardedOf]] plan unchanged. Input: any (doc_id, lang, text)
    * frame. */
  def packPayloadOf(docs: DataFrame): DataFrame = {
    val toks = graft.func.Tokenizer.tokens(col("text"))
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("lang"),
        graft.func.Exprs.md5Bucket(col("doc_id"), PackShardSalt, 4, PackShards)
          .as("shard"),
        size(toks).cast("long").as("n_tokens"),
        array_join(toks, " ").as("text_norm"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("pack_id",
        expr(s"(cum_tokens - n_tokens) DIV $PackCapacity"))
      .withColumn("pack_offset",
        expr(s"(cum_tokens - n_tokens) % $PackCapacity"))
      .groupBy("lang", "shard", "pack_id")
      .agg(
        count(lit(1)).as("doc_ct"),
        sum(col("n_tokens")).as("fill_tokens"),
        // one sorted struct list feeds both the payload concat and the
        // doc-boundary offsets (the attention-reset points a loader
        // masks at) — doc_id leads the struct, so array_sort orders
        // both projections identically
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("text_norm"),
            col("pack_offset")))),
          s => s.getField("text_norm")), " ").as("payload"),
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("text_norm"),
            col("pack_offset")))),
          s => s.getField("pack_offset").cast("string")), ",").as("doc_offsets"))
  }

  val packPayloadOracle: String = {
    val nib = graft.func.OracleSql.hexNibbles(
      s"md5('$PackShardSalt' || CAST(doc_id AS VARCHAR))", 4)
    s"""WITH t AS (SELECT doc_id, lang, CAST($nib % $PackShards AS BIGINT) AS shard,
       |             CAST(len($toksSql) AS BIGINT) AS n_tokens,
       |             array_to_string($toksSql, ' ') AS text_norm
       |           FROM documents),
       |c AS (SELECT doc_id, lang, shard, n_tokens, text_norm,
       |        sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
       |      FROM t)
       |SELECT lang, shard,
       |       CAST((cum_tokens - n_tokens) // $PackCapacity AS BIGINT) AS pack_id,
       |       count(*) AS doc_ct,
       |       CAST(sum(n_tokens) AS BIGINT) AS fill_tokens,
       |       string_agg(text_norm, ' ' ORDER BY doc_id) AS payload,
       |       string_agg(CAST((cum_tokens - n_tokens) % $PackCapacity AS VARCHAR),
       |                  ',' ORDER BY doc_id) AS doc_offsets
       |FROM c GROUP BY 1, 2, 3""".stripMargin
  }

  /** The final hop of the curation pipeline: [[packPayloadOf]] rows
    * materialized as a consumable shard DIRECTORY — one parquet
    * partition per (lang, shard), the layout a training loader lists,
    * shuffles, and reads ([[graft.sinks.Sinks.writeRouted]]'s
    * dynamic-fan-out discipline applied to the curation artifact).
    * Write → read the directory back → per-shard manifest (pack
    * count, token volume, payload bytes), so the driver checks
    * DURABLE state: a lost partition, a dropped pack, or a mangled
    * payload string all surface as a red manifest row.
    *
    * Scale shape: the write adds no shuffle ([[packPayloadOf]]'s
    * aggregate already leaves rows grouped by pack key); the manifest
    * is one bounded-key aggregate over the read-back. Partition
    * values round-trip as directory NAMES, so both keys are re-cast
    * to their written types on read-back (a numeric-looking lang
    * would otherwise infer as INT); empty/null partition values are
    * out of this operator's contract — they round-trip as
    * __HIVE_DEFAULT_PARTITION__/NULL, which no lang column a curation
    * pass emits should contain. */
  def shardExport(spark: SparkSession, dir: String): DataFrame = {
    // keyed by the FULL input dir (sanitized, not hashed): the
    // returned frame lazily reads this path, so a shared tag would let
    // a run for another scale factor overwrite the directory under a
    // deferred consumer — and a 32-bit hashCode key would reintroduce
    // exactly that bug for colliding dir strings
    val path = graft.func.TempDirs.cachedFor("graft_llm_shard_export", dir)
    val packed = packPayloadOf(Tables.documents(spark, dir))
    packed.write.mode("overwrite")
      .partitionBy("lang", "shard").parquet(path)
    // explicit schema: an empty corpus leaves a footerless partitioned
    // dir that schema inference refuses (DegenerateSpec; the sink-route
    // precedent)
    spark.read.schema(packed.schema).parquet(path)
      .groupBy(col("lang").cast("string").as("lang"),
        col("shard").cast("long").as("shard"))
      .agg(
        count(lit(1)).as("pack_ct"),
        sum(col("fill_tokens")).as("token_sum"),
        sum(length(col("payload")).cast("long")).as("payload_chars"))
  }

  lazy val shardExportOracle: String = {
    val nib = graft.func.OracleSql.hexNibbles(
      s"md5('$PackShardSalt' || CAST(doc_id AS VARCHAR))", 4)
    s"""WITH t AS (SELECT doc_id, lang, CAST($nib % $PackShards AS BIGINT) AS shard,
       |             CAST(len($toksSql) AS BIGINT) AS n_tokens,
       |             array_to_string($toksSql, ' ') AS text_norm
       |           FROM documents),
       |c AS (SELECT doc_id, lang, shard, n_tokens, text_norm,
       |        sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
       |      FROM t),
       |packs AS (SELECT lang, shard,
       |            (cum_tokens - n_tokens) // $PackCapacity AS pack_id,
       |            sum(n_tokens) AS fill_tokens,
       |            string_agg(text_norm, ' ' ORDER BY doc_id) AS payload
       |          FROM c GROUP BY 1, 2, 3)
       |SELECT lang, shard, count(*) AS pack_ct,
       |       CAST(sum(fill_tokens) AS BIGINT) AS token_sum,
       |       CAST(sum(length(payload)) AS BIGINT) AS payload_chars
       |FROM packs GROUP BY 1, 2""".stripMargin
  }

  // ---- per-language quality quantiles -----------------------------

  /** Quantile points (percent) reported per language. */
  val QuantilePoints = Seq(25, 50, 75, 90)

  /** (lang, doc_id, quality_ppm) with zero-token documents excluded —
    * the ONE definition of "scoreable corpus" every quality aggregate
    * below consumes (exact and approx quantiles, top-k). Zero-token
    * documents are excluded up front: they have no defined quality
    * score (the ppm ratios divide by token count), and engines
    * disagree on where a NULL score ranks (Spark sorts nulls first,
    * DuckDB last) — filtering is the portable contract, and sharing
    * the helper is what keeps the exact/approx pair's documented
    * equivalence from drifting. */
  private[llm] def scoredByLang(docs: DataFrame): DataFrame = {
    val scoreable =
      docs.filter(size(graft.func.Tokenizer.tokens(col("text"))) > 0)
    // lang rides THROUGH the score projection (qualityOf keep) — no
    // doc_id self-join to re-attach it, so the scored frame is a pure
    // projection: one less shuffle for every quantile consumer, and
    // it runs unchanged on a streaming documents frame
    TextAnalysis.qualityOf(scoreable, Seq("lang"))
      .select(col("lang"), col("doc_id"), col("quality_ppm"))
  }

  /** Per-language discrete quantiles of the [[TextAnalysis]] quality
    * score: the value at rank ceil(p·n/100) of the sorted scores —
    * exact, integer, and identically defined in both engines (unlike
    * continuous-interpolation percentiles, whose midpoint arithmetic
    * is engine-specific). The calibration table a corpus-filtering
    * pass reads its thresholds from.
    *
    * Scale note: rank-by-window is one shuffle per language partition
    * and a partition-local sort — fine while every language fits an
    * executor's spill budget; at 100 TB swap in approx_percentile
    * (t-digest) behind the same output shape, as
    * [[graft.dws.ProductStats.approx]] does for distinct counts. Input:
    * any (doc_id, text, lang) frame. Scoreable-corpus contract: see
    * [[scoredByLang]]. */
  def qualityQuantilesOf(docs: DataFrame): DataFrame = {
    val ranked = scoredByLang(docs).select("lang", "quality_ppm")
      .withColumn("rn", row_number()
        .over(Window.partitionBy("lang").orderBy("quality_ppm")).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
    val qs = QuantilePoints.map(p =>
      max(when(expr(s"rn = (n * $p + 99) DIV 100"), col("quality_ppm")))
        .as(s"q$p"))
    ranked.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), qs: _*)
  }

  /** [[percentile_approx]] accuracy for [[qualityQuantilesApproxOf]] —
    * error bound is 1/accuracy of the rank range, so 10⁴ keeps the
    * reported value within 0.01 % of the true rank while the sketch
    * stays a few KB per language. */
  val ApproxAccuracy = 10000

  /** The 100-TB form of [[qualityQuantilesOf]]: Spark's
    * `percentile_approx` (a mergeable rank sketch) behind the SAME
    * output shape — one map-side-combinable aggregate, no per-language
    * window, no partition-local sort, so a language's volume never
    * serializes through one reducer. percentile_approx's randomized
    * estimates are not oracle-comparable, so the BOARD slot for
    * distributed quantiles is the deterministic, hash-locked
    * histogram sketch ([[graft.llm.Sketches.hqSketchOf]] pair); this
    * form remains the library surface for callers who want Spark's
    * built-in KLL path, spec-bounded (rank error vs the exact form)
    * rather than board-checked. Input: any (doc_id, text, lang) frame.
    * Same scoreable-corpus front as the exact form BY CONSTRUCTION
    * ([[scoredByLang]]). */
  def qualityQuantilesApproxOf(docs: DataFrame): DataFrame = {
    val qs = QuantilePoints.map(p =>
      percentile_approx(col("quality_ppm"), lit(p / 100.0),
        lit(ApproxAccuracy)).as(s"q$p"))
    scoredByLang(docs).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), qs: _*)
  }

  /** Rows kept per language by [[topQuality]]. */
  val TopKPerLang = 5

  /** Best-k documents per language by quality score (deterministic
    * doc_id tiebreak) — the selection pass a curation pipeline runs
    * after scoring ("keep the k best examples per stratum").
    *
    * Scale shape: `row_number <= k` over a window is rewritten by
    * Spark 4's WindowGroupLimit rule into a per-partition top-k
    * (map-side k-row heaps before the shuffle), so the full per-lang
    * sort never materializes — the reason to state top-k THIS way
    * rather than sort+limit per group. Zero-token docs are excluded
    * exactly as in [[qualityQuantilesOf]] (null scores order
    * differently across engines). */
  def topQuality(spark: SparkSession, dir: String): DataFrame =
    scoredByLang(Tables.documents(spark, dir))
      .withColumn("rk", row_number().over(Window.partitionBy("lang")
        .orderBy(col("quality_ppm").desc, col("doc_id"))))
      .filter(col("rk") <= TopKPerLang)

  val topQualityOracle: String =
    s"""WITH ${TextAnalysis.qualityCtesSql(withLang = true, nonEmptyOnly = true)},
       |rk AS (SELECT lang, doc_id, quality_ppm,
       |         row_number() OVER (PARTITION BY lang
       |           ORDER BY quality_ppm DESC, doc_id) AS rk
       |       FROM q)
       |SELECT lang, doc_id, quality_ppm, CAST(rk AS INTEGER) AS rk
       |FROM rk WHERE rk <= $TopKPerLang""".stripMargin

  val qualityQuantilesOracle: String = {
    val qs = QuantilePoints.map(p =>
      s"max(CASE WHEN rn = (n * $p + 99) // 100 THEN quality_ppm END) AS q$p")
      .mkString(",\n       |       ")
    s"""WITH ${TextAnalysis.qualityCtesSql(withLang = true, nonEmptyOnly = true)},
       |rk AS (SELECT lang, quality_ppm,
       |         row_number() OVER (PARTITION BY lang ORDER BY quality_ppm) AS rn,
       |         count(*) OVER (PARTITION BY lang) AS n
       |       FROM q)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |       $qs
       |FROM rk GROUP BY lang""".stripMargin
  }
}
