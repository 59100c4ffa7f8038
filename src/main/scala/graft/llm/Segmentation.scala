package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.{OracleSql, Tokenizer}

/** Dictionary word-break segmentation — the classic per-item dynamic
  * program (minimum dictionary words covering an unspaced string).
  *
  * The recurrence runs in a typed `mapPartitions` loop, NOT an
  * `aggregate` higher-order function: the HOF form was built first
  * and measured 24 s warm at sf0.1 — Spark evaluates higher-order
  * lambdas INTERPRETED (they have no codegen path), and the nested
  * per-position × per-word lambda binding costs ~5 ms/doc where the
  * JVM loop costs microseconds. Same trade as
  * [[Similarity.signatures]] (mapPartitions over a janino-hostile
  * expression); the oracle replays the identical integer recurrence
  * so the engine boundary is unaffected.
  *
  * Fixture: each document's unspaced string is its own tokens
  * concatenated; the dictionary is the corpus top-[[DictSize]] words
  * (the [[VocabCoverage.oovRateOf]] population), so segmentability
  * measures top-vocab coverage at the CHARACTER level — aliasing
  * across token boundaries is real (the DP may find fewer words than
  * the original token count).
  *
  * Scale shape (100 TB): the dictionary is vocabulary-derived and
  * budget-bounded — one tiny aggregate collected to [[DictSize]]
  * driver rows (the IVF-seed/BPE-merge precedent) and closed over by
  * the partition loop; scoring is a zero-shuffle narrow projection,
  * O(len·|dict|) per document. */
object Segmentation {
  /** Dictionary budget (top corpus words, freq desc / word asc). */
  val DictSize = 20

  /** Unreachable sentinel for the DP. Far above any real count (dp
    * values are bounded by the unspaced length, so a fixed 1e6-style
    * sentinel would collide with legitimately megachar documents);
    * never incremented (the relaxation guards dp < Big first), so no
    * overflow on either engine. */
  val Big = 1L << 60

  /** Word break over any (doc_id, text) frame: per doc, the
    * unspaced length, whether the top-vocab dictionary can tile it,
    * and the minimum word count when it can (NULL otherwise). */
  def wordBreakOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // DictSize driver rows — the IVF-seed / BPE-merge bounded-collect
    // precedent; sorted so the closure is deterministic
    val dict: Array[String] = docs
      .select(Tokenizer.explodeTokens(col("text")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w")).limit(DictSize)
      .select("w").as[String].collect().sorted
    docs
      .select(col("doc_id"),
        concat_ws("", Tokenizer.tokens(col("text"))).as("ns"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val words = dict
        it.map { case (id, s) =>
          val n = s.length
          val dp = Array.fill(n + 1)(Big)
          dp(0) = 0L
          var i = 1
          while (i <= n) {
            var k = 0
            while (k < words.length) {
              val w = words(k); val lw = w.length
              if (i >= lw && dp(i - lw) < Big &&
                s.regionMatches(i - lw, w, 0, lw)) {
                val c = dp(i - lw) + 1L
                if (c < dp(i)) dp(i) = c
              }
              k += 1
            }
            i += 1
          }
          (id, n.toLong, if (dp(n) < Big) 1L else 0L,
            if (dp(n) < Big) Some(dp(n)) else Option.empty[Long])
        }
      }
      .toDF("doc_id", "ns_len", "seg_ok", "min_words")
  }

  /** Rolling-hash window width for [[cdcChunksOf]]. */
  val CdcW = 8
  /** Polynomial base. 131, NOT the folkloric 31: 31² ≡ 1 (mod 64),
    * so with a power-of-two divisor the window hash collapses onto
    * two effective multipliers and boundary density is wildly biased
    * (measured: an 850-char fixture produced ZERO boundaries).
    * Largest term: 122·131^7 ≈ 7.6e16 — safe BIGINT on both engines
    * with no modulus needed. */
  val CdcB = 131L
  /** Boundary divisor — prime, coprime to every base power, giving
    * ~[[CdcD]]-char average chunks at unbiased 1/D density. */
  val CdcD = 61L

  /** Content-defined chunking — boundaries where the rolling hash of
    * the last [[CdcW]] characters divides [[CdcD]] — the
    * storage-dedup chunker (Rabin/FastCDC family): unlike the
    * fixed-window chunker ([[CorpusOps.chunkOf]]), an insertion early
    * in a document shifts only the chunks it touches, so chunk-level
    * dedup across document revisions keeps working. One row per
    * chunk: (doc_id, chunk_id, start_pos, chunk_len), 1-based
    * positions; token-less documents emit no chunks.
    *
    * Per-item sequential scan → typed flatMap partition loop (the
    * [[wordBreakOf]] HOF lesson); the hash is recomputed per position
    * (O(len·W), W = 8) to match the oracle's unrolled-term sum
    * exactly — both engines evaluate the identical integer
    * polynomial, so boundaries are bit-portable.
    *
    * Scale shape (100 TB): zero-shuffle narrow projection; output is
    * corpus-length / [[CdcD]] rows. */
  def cdcChunksOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"),
        concat_ws("", Tokenizer.tokens(col("text"))).as("ns"))
      .as[(Long, String)]
      .flatMap { case (id, s) =>
        cdcEnds(s).zipWithIndex.map { case ((st, en), k) =>
          (id, (k + 1).toLong, (st + 1).toLong, (en - st).toLong)
        }
      }
      .toDF("doc_id", "chunk_id", "start_pos", "chunk_len")
  }

  /** Shared oracle prefix: the (doc_id, chunk_id, start_pos,
    * chunk_len) chunk table plus the unspaced-text CTE `n`, reused by
    * both CDC queries. */
  private lazy val cdcCoreSql: String = {
    val toks = OracleSql.toks
    val hash = (0 until CdcW).map(j =>
      s"CAST(unicode(substr(ns, CAST(i - $j AS INTEGER), 1)) AS BIGINT) * ${
        (0 until j).foldLeft(1L)((a, _) => a * CdcB)}")
      .mkString("(", " + ", ")")
    s"""n AS (SELECT doc_id,
       |             coalesce(array_to_string($toks, ''), '') AS ns
       |           FROM documents),
       |pos AS (SELECT doc_id, i
       |        FROM n, LATERAL (SELECT unnest(range($CdcW,
       |               length(ns) + 1)) AS i) t
       |        WHERE ($hash) % $CdcD = 0),
       |b AS (SELECT doc_id, i AS e,
       |             CAST(row_number() OVER w AS BIGINT) AS k,
       |             lag(i, 1, 0) OVER w AS p
       |      FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
       |c1 AS (SELECT doc_id, k AS chunk_id,
       |              CAST(p + 1 AS BIGINT) AS start_pos,
       |              CAST(e - p AS BIGINT) AS chunk_len
       |       FROM b),
       |fin AS (SELECT n.doc_id,
       |               CAST(coalesce(max(b.k), 0) + 1 AS BIGINT) AS chunk_id,
       |               CAST(coalesce(max(b.e), 0) + 1 AS BIGINT) AS start_pos,
       |               CAST(length(n.ns) - coalesce(max(b.e), 0) AS BIGINT)
       |                 AS chunk_len
       |        FROM n LEFT JOIN b ON n.doc_id = b.doc_id
       |        GROUP BY n.doc_id, length(n.ns)
       |        HAVING length(n.ns) > coalesce(max(b.e), 0)),
       |ch AS (SELECT doc_id, chunk_id, start_pos, chunk_len FROM c1
       |       UNION ALL
       |       SELECT doc_id, chunk_id, start_pos, chunk_len FROM fin)"""
      .stripMargin
  }

  lazy val cdcChunksOracle: String =
    s"""WITH $cdcCoreSql
       |SELECT doc_id, chunk_id, start_pos, chunk_len FROM ch""".stripMargin

  /** Chunk-level dedup report — the payoff of content-defined
    * boundaries: shared passages across documents (revisions,
    * mirrors, boilerplate reuse) land in IDENTICAL chunks, so a
    * corpus-wide rollup of chunk-content hashes measures how much of
    * the corpus is chunk-duplicated. One row: total chunks, distinct
    * chunk contents, and the dup share in ppm.
    *
    * The chunk MD5 is computed inside the same partition loop (Java
    * MessageDigest over UTF-8 = the md5() of both engines); the
    * rollup is one map-side-combined distinct over the fixed-width
    * hash — the exact-dedup shape, at chunk grain.
    *
    * Scale shape (100 TB): this is how storage-level dedup actually
    * runs — chunk, hash, count distinct; cost is one scan plus an
    * exchange of 16-byte keys bounded by corpus-length/[[CdcD]]. */
  def cdcDedupOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val hashes = docs
      .select(col("doc_id"),
        concat_ws("", Tokenizer.tokens(col("text"))).as("ns"))
      .as[(Long, String)]
      .flatMap { case (_, s) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        cdcEnds(s).map { case (st, en) =>
          md.reset()
          md.digest(s.substring(st, en).getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
        }
      }
      .toDF("h")
    hashes.agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("h")).as("n_unique"))
      .select(col("n_chunks"), col("n_unique"),
        // zero-guard: an all-empty corpus has 0 chunks, and ANSI
        // division-by-zero would kill the job (repo CASE convention)
        expr("CASE WHEN n_chunks = 0 THEN 0 " +
          "ELSE 1000000 * (n_chunks - n_unique) DIV n_chunks END")
          .as("dup_ppm"))
  }

  /** Chunk (start, end) 0-based exclusive spans of an unspaced
    * string — the single boundary-scan shared by [[cdcChunksOf]] and
    * [[cdcDedupOf]]. */
  private def cdcEnds(s: String): Seq[(Int, Int)] = {
    val n = s.length
    val bs = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = CdcW
    while (i <= n) {
      var h = 0L; var j = 0; var p = 1L
      while (j < CdcW) {
        h += s.charAt(i - 1 - j).toLong * p
        p *= CdcB; j += 1
      }
      if (h % CdcD == 0L) bs += i
      i += 1
    }
    val ends = if (n > 0 && (bs.isEmpty || bs.last < n)) bs :+ n else bs
    var prev = 0
    ends.toSeq.map { e => val r = (prev, e); prev = e; r }
  }

  lazy val cdcDedupOracle: String =
    s"""WITH $cdcCoreSql,
       |hs AS (SELECT md5(substr(n.ns, CAST(ch.start_pos AS INTEGER),
       |                         CAST(ch.chunk_len AS INTEGER))) AS h
       |       FROM ch JOIN n ON ch.doc_id = n.doc_id)
       |SELECT CAST(count(*) AS BIGINT) AS n_chunks,
       |       CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
       |       CAST(CASE WHEN count(*) = 0 THEN 0
       |            ELSE 1000000 * (count(*) - count(DISTINCT h)) // count(*)
       |            END AS BIGINT) AS dup_ppm
       |FROM hs""".stripMargin

  lazy val wordBreakOracle: String = {
    val toks = OracleSql.toks
    // DuckDB list_reduce has no init accumulator and requires
    // acc/element type equality — fold over single-element BIGINT
    // lists with the [0] seed prepended (the dotSql device, lifted to
    // a list-typed accumulator)
    val dp = s"""list_reduce(
      list_prepend([0::BIGINT], list_transform(range(1, length(ns) + 1),
                                               i -> [i::BIGINT])),
      (acc, x) -> list_append(acc, list_min(list_transform(dict, w ->
        CASE WHEN x[1] >= length(w)
                  AND substr(ns, CAST(x[1] - length(w) + 1 AS INTEGER),
                             CAST(length(w) AS INTEGER)) = w
                  AND acc[CAST(x[1] - length(w) + 1 AS INTEGER)] < $Big
             THEN acc[CAST(x[1] - length(w) + 1 AS INTEGER)] + 1
             ELSE $Big END))))[CAST(length(ns) + 1 AS INTEGER)]"""
    s"""WITH vf AS (SELECT w, count(*) AS freq
       |           FROM (SELECT unnest($toks) AS w FROM documents)
       |           GROUP BY 1),
       |d AS (SELECT list_sort(list(w)) AS dict
       |      FROM (SELECT w FROM vf ORDER BY freq DESC, w LIMIT $DictSize)),
       |n AS (SELECT doc_id,
       |             coalesce(array_to_string($toks, ''), '') AS ns
       |      FROM documents),
       |s AS (SELECT doc_id, ns, ($dp) AS dpv FROM n, d)
       |SELECT doc_id, CAST(length(ns) AS BIGINT) AS ns_len,
       |       CAST(CASE WHEN dpv < $Big THEN 1 ELSE 0 END AS BIGINT) AS seg_ok,
       |       CASE WHEN dpv < $Big THEN CAST(dpv AS BIGINT) ELSE NULL END
       |         AS min_words
       |FROM s""".stripMargin
  }
}
