package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.Tokenizer
import graft.func.Materialize.MatOps

/** Deduplication operators for an LLM training-data pipeline, over the
  * `documents` table: exact (hash-groupBy), MinHash+LSH near-dup
  * (shingle → signature → banded bucket-join → within-bucket verify),
  * and SimHash with banded Hamming candidate search.
  *
  * Design for 100 TB:
  *  - Never all-pairs. Candidate generation is a self-equi-join on
  *    (band, signature) buckets — the shuffle key is the bucket, and
  *    only same-bucket rows meet. Pair count scales with bucket
  *    occupancy, not n².
  *  - All hashing bottoms out in md5 (a codegen'd built-in on both
  *    Spark and the DuckDB oracle): each shingle gets ONE md5, whose
  *    first 48 bits seed a K-member universal-hash family
  *    (A_i·x + B_i mod P) evaluated in exact 64-bit integer
  *    arithmetic — portable across engines bit-for-bit, and ~K× less
  *    hashing than md5-per-permutation.
  *  - Exact Jaccard verification happens only within candidate pairs
  *    (the LSH contract), as integer counts with ppm integer division —
  *    no floats anywhere in dedup.
  *
  * Reference scope: the reference engine has no dedup operators; these
  * extend its keyed-dedup idea (gmall-time/.../app/dwm2/UV2.java:61-112
  * keeps first-per-key) to content-level near-duplicate detection.
  */
object Dedup {
  // MinHash geometry: K hashes in B bands of R rows. Threshold ≈
  // (1/B)^(1/R) ≈ 0.59 — pairs with Jaccard ≥ 0.9 (the planted dups)
  // are caught with p ≈ 1 - (1 - 0.9^4)^8 ≈ 0.9997.
  val K = 32
  val Bands = 8
  val R = 4
  require(Bands * R == K)

  // Universal-hash family over one md5-derived 48-bit integer per
  // shingle: h_i(x) = (A_i·x + B_i) mod P. One md5 per shingle instead
  // of K — cut the signature stage ~4× at sf0.1. A_i ≤ 2^12 keeps
  // A_i·x < 2^61: no 64-bit overflow, so Spark and DuckDB agree
  // exactly. P is the largest prime below 2^48.
  val P = 281474976710597L
  def hashA(i: Int): Long = 2L * ((i * 2654435761L) % 2047L) + 3L
  def hashB(i: Int): Long = ((i + 17) * 1099511628211L) % P

  /** The ONE exact-Jaccard verification every candidate family ends
    * in (LSH bands, inverted index, prefix filter, sorted
    * neighborhood) — the hash-locked arithmetic the oracles replay,
    * factored so a change cannot silently desync one copy. `u_ct > 0`
    * guards candidate generators that can pair zero-shingle docs
    * (sorted neighborhood); for shared-shingle candidates it is a
    * no-op. */
  private[llm] def jaccardVerify(cands: DataFrame, shl: DataFrame): DataFrame =
    cands
      .join(shl.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(shl.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa.shingles"), col("sb.shingles")))
          .cast("long").as("i_ct"),
        (size(col("sa.shingles")) + size(col("sb.shingles")))
          .cast("long").as("sz_sum"))
      // |A∪B| = |A| + |B| − |A∩B| EXACTLY (shingle arrays are
      // distinct-element by construction), so the union needs no
      // second O(|A|+|B|) string-hash pass — array_union was ~half
      // the per-candidate verify cpu across the four candidate
      // families that end here (r20, guide §1.2 per-task work)
      .withColumn("u_ct", col("sz_sum") - col("i_ct"))
      .filter(col("u_ct") > 0)
      .withColumn("jac_ppm", expr("(1000000 * i_ct) DIV u_ct"))
      .filter(col("jac_ppm") >= JaccardPpmThreshold)
      .select(col("doc_a"), col("doc_b"), col("jac_ppm"))

  /** Minimum Jaccard (in ppm) for a candidate pair to count as a dup. */
  val JaccardPpmThreshold = 800000L

  /** Word n-gram shingles (distinct), n=3. Guarded so short docs yield
    * an empty set rather than a descending `sequence`. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = Tokenizer.tokens(text)
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** DuckDB equivalent of [[shingles]] over a `toks` list column. */
  private def shinglesSql(toks: String): String =
    s"CASE WHEN len($toks) >= 3 THEN list_distinct(list_transform(" +
      s"range(1, len($toks) - 1), i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2])) " +
      "ELSE [] END"

  private val toksSql = graft.func.OracleSql.toks

  /** Exact dedup: documents grouped by content hash; rank 1 per group
    * is the keeper. One hash-shuffle on the 32-hex key — the exact
    * analog of `GROUP BY md5(text)` at any scale. */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("content_key")).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("content_key"))
      .withColumn("dup_rank", row_number().over(w).cast("int"))
      .withColumn("group_ct", count(lit(1))
        .over(Window.partitionBy(col("content_key"))))
  }

  val exactOracle: String =
    """SELECT doc_id, md5(text) AS content_key,
      |       CAST(row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS INTEGER) AS dup_rank,
      |       count(*) OVER (PARTITION BY md5(text)) AS group_ct
      |FROM documents""".stripMargin

  /** Shingle document-frequency ceiling for [[sourceOverlap]]: only
    * shingles in at most this many documents count as "rare" shared
    * content. Much tighter than the near-dup [[MaxDf]] on purpose — a
    * data card asking "which sources copy each other" must not count
    * corpus-common phrases as evidence. */
  val OverlapMaxDf = 4L

  /** Cross-source overlap matrix: for every source pair, how many
    * RARE word-3-gram shingles (df ≤ [[OverlapMaxDf]]) both sources
    * contain — the data-card view that surfaces mirror/scraper source
    * pairs before dedup budgets are set. Pairs are emitted once with
    * source_a < source_b; source pairs sharing nothing are absent.
    *
    * Scale shape: one shuffle builds the shingle postings; the df
    * filter bounds the self-join fan-out per shingle to ≤ min(df,
    * |sources|)² rows, and the output is bounded by |sources|² — the
    * same rare-shingle trick that keeps [[CorpusOps.contamination]]
    * join-safe at corpus scale. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapOf(Tables.documents(spark, dir))

  /** [[sourceOverlap]] over any (doc_id, source, text) frame — public
    * for tests. */
  def sourceOverlapOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // typed shingle pass (the interpreted higher-order-function form
    // costs O(tokens²) copying per doc — the shingleSets lesson),
    // run ONCE: df and the source set come out of the same aggregate
    val post = docs.select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.flatMap { case (_, src, t) =>
        val toks = tokensOf(t)
        val sh =
          if (toks.length >= 3)
            toks.sliding(3).map(_.mkString(" ")).toArray.distinct
          else Array.empty[String]
        sh.iterator.map(s => (s, src))
      }).toDF("sh", "source")
    // shingles are per-doc distinct, so count(*) per sh IS the df; the
    // df cap bounds collect_set to ≤ OverlapMaxDf sources, and source
    // pairs expand array-side (the copurchase trick) — no posting-list
    // self-join, ONE corpus-scale shuffle on `sh` total
    post.groupBy("sh")
      .agg(count(lit(1)).as("df"),
        sort_array(collect_set(col("source"))).as("ss"))
      .filter(col("df") <= OverlapMaxDf && size(col("ss")) >= 2)
      .select(explode(expr(
        """flatten(transform(ss, (x, i) ->
          |  transform(slice(ss, i + 2, size(ss)),
          |            y -> struct(x AS a, y AS b))))""".stripMargin))
        .as("g"))
      .groupBy(col("g.a").as("source_a"), col("g.b").as("source_b"))
      .agg(count(lit(1)).as("shared_shingles"))
  }

  lazy val sourceOverlapOracle: String =
    s"""WITH t AS MATERIALIZED (SELECT doc_id, source, $toksSql AS toks
       |     FROM documents),
       |post AS MATERIALIZED (SELECT doc_id, source,
       |       unnest(${shinglesSql("toks")}) AS sh FROM t),
       |rare AS MATERIALIZED (SELECT sh FROM post
       |       GROUP BY sh HAVING count(*) <= $OverlapMaxDf),
       |ks AS MATERIALIZED (SELECT DISTINCT sh, source
       |      FROM post JOIN rare USING (sh))
       |SELECT a.source AS source_a, b.source AS source_b,
       |       CAST(count(*) AS BIGINT) AS shared_shingles
       |FROM ks a JOIN ks b ON a.sh = b.sh AND a.source < b.source
       |GROUP BY 1, 2""".stripMargin

  /** Per-doc MinHash signature, long form: (doc_id, h, sig) — K rows
    * per doc. The groupBy(doc_id) with K min() aggregates is one
    * map-side-combinable shuffle regardless of shingle count. */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    val sigWide = signaturesWide(Tables.documents(spark, dir))
    sigWide.select(col("doc_id"), posexplode(
      array((0 until K).map(h => col(s"h$h")): _*)).as(Seq("h", "sig")))
      .withColumn("h", col("h").cast("int"))
  }

  /** Tokenizer-equivalent plain-Scala tokens (Locale.ROOT lower-case,
    * ASCII-safe — matches Spark's locale-independent `lower`). Null
    * text tokenizes to empty, matching the Column form where
    * `tokens(NULL)` is null and every downstream explode/when drops
    * it — the typed passes must not trade that tolerance for an NPE. */
  private[llm] def tokensOf(text: String): Array[String] =
    if (text == null) Array.empty
    else {
      // ASCII-only lowercasing, the JVM twin of Tokenizer.tokens'
      // translate — Java's full toLowerCase EXPANDS U+0130 'İ' to
      // 'i' + combining dot (r13 unicode corpus), minting a token
      // per-codepoint engines don't; see Tokenizer.scala
      val sb = new java.lang.StringBuilder(text.length)
      var i = 0
      while (i < text.length) {
        val ch = text.charAt(i)
        sb.append(if (ch >= 'A' && ch <= 'Z') (ch + 32).toChar else ch)
        i += 1
      }
      sb.toString.split("[^a-z0-9]+").filter(_.nonEmpty)
    }

  /** (doc_id, shingles[]) via a typed map: the Column-expression
    * version (`transform` + `slice` higher-order functions) runs
    * interpreted with O(tokens²) copying per doc — the dominant cost
    * of the whole dedup family before this. Shingle SET semantics are
    * identical (distinct 3-grams in first-occurrence order). */
  def shingleSets(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val toks = tokensOf(t)
        val sh =
          if (toks.length >= 3)
            toks.sliding(3).map(_.mkString(" ")).toArray.distinct
          else Array.empty[String]
        (id, sh)
      }).toDF("doc_id", "shingles")
  }

  /** Lazily-materialized shingle frame: the typed shingle pass feeds
    * up to six consumers in one dedup query (posting-list self-join
    * sides, df pruning, both verify joins), and Spark has no common-
    * subexpression materialization across DataFrame branches — without
    * this, the plan recomputes tokenize+shingle per consumer (measured
    * 6× in q_llm_ngram_jaccard's physical plan). A LAZY localCheckpoint
    * materializes on first use, is shared by every branch of THIS
    * query invocation, and (unlike `persist` of an identical plan) is
    * NOT reused across repeated invocations — bench timings stay
    * honest. Same shape at 100 TB: persist the shingle intermediate
    * before multi-way reuse instead of recomputing it per branch. */
  private[llm] def shingleSetsShared(docs: DataFrame): DataFrame =
    shingleSets(docs).matLazily

  /** Wide signature frame: doc_id, h0..h{K-1} (BIGINT minhashes). */
  private def signaturesWide(docs: DataFrame): DataFrame =
    signaturesWideOf(shingleSets(docs))

  /** [[signaturesWide]] from an existing (doc_id, shingles) frame. */
  private def signaturesWideOf(shl: DataFrame): DataFrame = {
    val exploded = shl
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      // one md5 per shingle; 12 hex chars = 48 bits, exact in a LONG
      .withColumn("x",
        expr("CAST(conv(substring(md5(sh), 1, 12), 16, 10) AS BIGINT)"))
    val aggs = (0 until K).map(i =>
      min((lit(hashA(i)) * col("x") + lit(hashB(i))) % lit(P)).as(s"h$i"))
    exploded.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** DuckDB lacks conv(); rebuild the 48-bit value from hex nibbles. */
  private val xNumSql: String = graft.func.OracleSql.hexNibbles("m", 12)

  private def signaturesWideSql: String = {
    val mins = (0 until K)
      .map(i => s"min((${hashA(i)} * x + ${hashB(i)}) % $P) AS h$i")
      .mkString(", ")
    s"""toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |shl AS (SELECT doc_id, ${shinglesSql("toks")} AS shingles FROM toks),
       |sh AS (SELECT doc_id, md5(unnest(shingles)) AS m FROM shl),
       |shx AS (SELECT doc_id, CAST($xNumSql AS BIGINT) AS x FROM sh),
       |sig AS (SELECT doc_id, $mins FROM shx GROUP BY doc_id)""".stripMargin
  }

  val minhashOracle: String = {
    val branches = (0 until K).map(h => s"($h, h$h)").mkString(", ")
    s"""WITH ${signaturesWideSql}
       |SELECT doc_id, CAST(u.h AS INTEGER) AS h, u.sig
       |FROM sig, LATERAL (SELECT * FROM (VALUES $branches) t(h, sig)) u""".stripMargin
  }

  /** Banded bucket frame from a wide signature frame, for any
    * (bands × rows) split of the K minhashes. */
  private def bandedOf(sigWide: DataFrame, bands: Int, rows: Int): DataFrame = {
    require(bands * rows <= K,
      s"banding $bands×$rows needs ${bands * rows} hashes, have $K")
    val bandCols = (0 until bands).map(b =>
      md5(concat_ws("|", (0 until rows).map(r => col(s"h${b * rows + r}")): _*)))
    sigWide.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bsig")))
  }

  /** MinHash-LSH near-dup pairs: same-bucket candidates, verified with
    * exact shingle Jaccard (integer ppm), threshold 0.8. The shingle
    * pass and the per-doc signature aggregate are each materialized
    * once (lazy checkpoint) — the band self-join and both verify joins
    * re-read them instead of re-tokenizing the corpus per branch. */
  def lshDuplicates(spark: SparkSession, dir: String): DataFrame =
    lshDuplicatesOf(Tables.documents(spark, dir))

  /** [[lshDuplicates]] over any (doc_id, text) frame. `bands`×`rows`
    * is the RECALL knob. The default [[Bands]]×[[R]] = 8×4 has
    * band-hit probability 1−(1−J⁴)⁸ ≈ 0.990 at J = 0.81, which the
    * round-10 scale rehearsal measured as 97/100k docs (0.097%)
    * losing every band cut on an adversarial chain corpus. When
    * recall at the 0.8 verify threshold matters, 16×2 over the same
    * K = 32 signature raises the hit probability to 1−(1−J²)¹⁶ ≈
    * 1−3e-8 at the same verify cost per emitted candidate (more
    * candidates, same exact Jaccard filter — precision is unchanged by
    * construction). The board query stays on the default; the
    * rehearsal re-runs the constructed-truth corpus at 16×2 and
    * measures recall → 100% (PLANS.md §r11). */
  def lshDuplicatesOf(docs: DataFrame,
                      bands: Int = Bands, rows: Int = R): DataFrame = {
    val shl = shingleSetsShared(docs)
    val bands0 = bandedOf(signaturesWideOf(shl).matLazily,
      bands, rows)
    val cands = bands0.as("a").join(bands0.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    jaccardVerify(cands, shl)
  }

  /** [[lshDuplicates]] behind an EXACT-duplicate pre-collapse — the
    * mass-duplication guard (r13, VERDICT r11 task 5). A corpus with
    * a boilerplate cluster at fraction f puts C(f·n, 2) candidate
    * pairs into ONE (band, bsig) bucket — a quadratic hot task no
    * banding knob can split, because identical texts have identical
    * signatures in EVERY band. Collapsing to one representative per
    * distinct text first (hash-groupBy — embarrassingly parallel)
    * removes the hot bucket by construction and shrinks the output
    * contract from quadratic (all pairs inside the cluster) to
    * linear. Near-dup semantics are EXACTLY preserved at the
    * component level: members of an exact group share signatures
    * with their representative, so rep-level pairs + exact groups
    * reconstruct the same connected components and the same min-id
    * keepers (asserted in DedupSpec, including under a 20%-mass
    * boilerplate text). Production rule: ALWAYS exact-dedup
    * before near-dup banding.
    *
    * NULL and empty texts are EXCLUDED from the collapse (and so from
    * the exact-group edge set): the plain pipeline never pairs them
    * (no shingles → no signature → no bands), so pooling them into
    * one exact group would mark every null-text doc a duplicate of
    * the min-id one — a component that exists nowhere in the plain
    * pipeline's output. */
  def lshDuplicatesCollapsed(spark: SparkSession, dir: String): DataFrame =
    lshDuplicatesOf(collapsedDocs(Tables.documents(spark, dir)))

  /** The exact-collapse device shared by every `*Collapsed` variant:
    * one representative (min doc_id) per distinct non-null non-empty
    * text. Hash-groupBy — embarrassingly parallel, no skew (the
    * group KEY is the text; a mass-duplicated text is one group whose
    * partial aggregates combine map-side). */
  private[llm] def collapsedDocs(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull && col("text") =!= "")
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text"))

  /** SQL shadow CTE replaying [[collapsedDocs]] — spliced ahead of an
    * unchanged pipeline oracle so the oracle is literally "exact
    * dedup, then the same pipeline" (DuckDB scoping: the inner
    * reference must schema-qualify `main.documents`). */
  private val collapsedDocsCte: String =
    """documents AS MATERIALIZED (
      |  SELECT min(doc_id) AS doc_id, text
      |  FROM main.documents
      |  WHERE text IS NOT NULL AND text <> ''
      |  GROUP BY text)""".stripMargin

  val lshOracle: String = {
    val bandExprs = (0 until Bands).map { b =>
      val parts = (0 until R).map(r => s"CAST(h${b * R + r} AS VARCHAR)")
        .mkString(" || '|' || ")
      s"($b, md5($parts))"
    }.mkString(", ")
    s"""WITH ${signaturesWideSql},
       |band AS (SELECT doc_id, u.band, u.bsig
       |         FROM sig, LATERAL (SELECT * FROM (VALUES $bandExprs) t(band, bsig)) u),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM band a JOIN band b
       |           ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
       |jac AS (SELECT c.doc_a, c.doc_b,
       |          CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS i_ct,
       |          CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS BIGINT) AS u_ct
       |        FROM cand c
       |        JOIN shl sa ON c.doc_a = sa.doc_id
       |        JOIN shl sb ON c.doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, (1000000 * i_ct) // u_ct AS jac_ppm
       |FROM jac WHERE (1000000 * i_ct) // u_ct >= $JaccardPpmThreshold""".stripMargin
  }

  /** [[lshDuplicatesCollapsed]]'s oracle: the exact-collapse as a
    * `documents` CTE shadowing the base table (DuckDB scoping), then
    * the UNCHANGED [[lshOracle]] chain over it — the operator is
    * literally "exact dedup, then the same near-dup pipeline". */
  lazy val lshCollapsedOracle: String =
    s"WITH $collapsedDocsCte,\n${lshOracle.stripPrefix("WITH ")}"

  /** End-to-end corpus dedup: every document, flagged kept/dropped by
    * the MinHash-LSH verdicts — greedy keep-smallest-id within each
    * duplicate pair (a left anti join against the dropped-id set; the
    * transitive-closure variant would iterate min-id propagation, but
    * pairwise-greedy matches what a streaming ingest pipeline does).
    * One broadcast-or-shuffle anti join over the verdicts — the pair
    * set is tiny relative to the corpus at any scale. */
  def keepList(spark: SparkSession, dir: String): DataFrame = {
    val dropped = lshDuplicates(spark, dir)
      .select(col("doc_b").as("doc_id")).distinct()
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"))
      .join(dropped.withColumn("dropped", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        when(col("dropped").isNotNull, 0).otherwise(1).cast("int").as("kept"))
  }

  val keepListOracle: String = {
    // the full LSH pipeline as a CTE chain, reduced to the dropped-id set
    val inner = lshOracle.replace("\n", "\n  ")
    s"""WITH dropped AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM (
       |  $inner
       |  ) p)
       |SELECT d.doc_id, d.lang, d.source,
       |       CAST(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
       |FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id""".stripMargin
  }

  // ---- n-gram Jaccard (inverted index) ----------------------------

  /** Document-frequency cap for the n-gram inverted index: shingles in
    * more than MaxDf docs are stop-grams, dropped from CANDIDATE
    * GENERATION only (the exact verify still uses full shingle sets).
    * This bounds bucket occupancy — candidate pairs scale with
    * Σ df² ≤ MaxDf·Σ df, never n². */
  val MaxDf = 64L
  /** A candidate pair must share at least this many surviving shingles.
    * J ≥ 0.8 pairs share ≥ 44% of their union, so real near-dups clear
    * this easily; it prunes the long tail of single-shared-shingle
    * coincidences before the array-carrying verify join. (Docs with
    * < MinShared total shingles can be missed — the LSH family covers
    * those; this operator's contract is the inverted-index path.) */
  val MinShared = 3L

  /** Near-dup pairs via n-gram Jaccard with inverted-index candidate
    * generation — the classic alternative to MinHash when exact
    * Jaccard (not a sketch) must drive the verdict. Shape at 100 TB:
    * postings list keyed by shingle (one shuffle), df-pruned to bound
    * every bucket, same-shingle self-join emits id-only pairs, a
    * count-≥-MinShared filter shrinks the candidate set BEFORE the
    * joins that carry shingle arrays, and exact verification runs only
    * within candidates (the same contract as [[lshDuplicates]], which
    * it must agree with on any pair both generate). */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardOf(Tables.documents(spark, dir))

  /** [[ngramJaccard]] over any (doc_id, text) frame. */
  def ngramJaccardOf(docs: DataFrame): DataFrame = {
    val (cands, shl) = jaccardCandidates(docs)
    jaccardVerify(cands, shl)
  }

  /** Shared inverted-index candidate generation for the exact-shingle
    * scorers ([[ngramJaccard]], [[containment]]): df-pruned postings →
    * same-shingle id-only pairs → MinShared count filter. Returns the
    * (doc_a < doc_b) candidate frame and the shingle-set frame. */
  private def jaccardCandidates(docs: DataFrame): (DataFrame, DataFrame) = {
    val shl = shingleSetsShared(docs)
    val postings = shl.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val rare = postings.groupBy(col("sh"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxDf)
      .select(col("sh"))
    // LAZY materialization of the df-pruned postings (r20-VERDICT task
    // 5, guide §2.4): the self-join below consumes `pruned` on BOTH
    // sides, and each side re-derives explode + df-aggregate + join
    // from the shingle checkpoint (ReuseExchange cannot fuse the probe
    // side's explode with the aggregate's). One narrow (sh, doc_id)
    // materialization feeds both sides — same device as the
    // contamination postings (r20). Shared by q_llm_ngram_jaccard(2)
    // and q_llm_containment(2).
    val pruned = postings.join(rare, Seq("sh")).matLazily
    val cands = pruned.as("a").join(pruned.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_ct"))
      .filter(col("shared_ct") >= MinShared)
      .select(col("doc_a"), col("doc_b"))
    (cands, shl)
  }

  /** Sorted-neighborhood sort-key width (unspaced-text prefix). */
  val SnKeyLen = 32
  /** Neighborhood window: pairs within this rank distance compare. */
  val SnWindow = 4L

  /** Sorted-neighborhood dedup (Hernández & Stolfo's merge/purge) —
    * the third blocking family beside LSH bands ([[lshDuplicates]])
    * and inverted-index candidates ([[ngramJaccard]]): sort the
    * corpus by a key (here the [[SnKeyLen]]-char unspaced prefix),
    * compare only documents within [[SnWindow]] ranks, verify with
    * exact Jaccard. Catches the near-identical-prefix class (mirrors,
    * recrawls, head-edited revisions) with a candidate count of
    * n·window — no quadratic blowup, no banding tuning.
    *
    * Scale shape (100 TB): ONE global sort by the key (inherent to
    * the method — this is the sortBy exchange), ranks assigned by
    * partition-offset indexing (`zipWithIndex`: a count job + local
    * increments; the values depend only on the total (key, doc_id)
    * order, so they are deterministic regardless of partition
    * boundaries). The window join is an EQUIJOIN on rank-buckets
    * (each left row probes its own and the next bucket — a 2× fanout,
    * never a non-equi nested loop), and the Jaccard verify runs only
    * on window pairs. */
  def sortedNeighborDups(spark: SparkSession, dir: String): DataFrame =
    sortedNeighborDupsOf(Tables.documents(spark, dir))

  /** [[sortedNeighborDups]] over any (doc_id, text) frame. */
  def sortedNeighborDupsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val shl = shingleSetsShared(docs)
    val keyed = docs.select(col("doc_id"),
      substring(concat_ws("", Tokenizer.tokens(col("text"))), 1, SnKeyLen)
        .as("k"))
    val ranked = keyed.as[(Long, String)].rdd
      .map { case (id, k) => (k, id) }
      .sortBy(identity)
      .zipWithIndex()
      .map { case ((_, id), r) => (id, r) }
      .toDF("doc_id", "rank")
      .withColumn("b", expr(s"rank DIV $SnWindow"))
      .matLazily
    val probes = ranked.select(col("doc_id"), col("rank"),
      explode(array(col("b"), col("b") + 1L)).as("jb"))
    val cands = probes.as("x")
      .join(ranked.withColumnRenamed("b", "jb").as("y"), Seq("jb"))
      .filter(col("y.rank") > col("x.rank") &&
        col("y.rank") <= col("x.rank") + SnWindow)
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
    jaccardVerify(cands, shl)
  }

  lazy val sortedNeighborDupsOracle: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |shl AS (SELECT doc_id, ${shinglesSql("toks")} AS shingles FROM toks),
       |kk AS (SELECT doc_id,
       |              substr(coalesce(array_to_string(toks, ''), ''), 1,
       |                     $SnKeyLen) AS k
       |       FROM toks),
       |r AS (SELECT doc_id,
       |             CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT)
       |               AS rank
       |      FROM kk),
       |p AS (SELECT least(a.doc_id, b.doc_id) AS doc_a,
       |             greatest(a.doc_id, b.doc_id) AS doc_b
       |      FROM r a JOIN r b
       |        ON b.rank > a.rank AND b.rank <= a.rank + $SnWindow),
       |jac AS (SELECT p.doc_a, p.doc_b,
       |          CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
       |            AS i_ct,
       |          CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles)))
       |            AS BIGINT) AS u_ct
       |        FROM p
       |        JOIN shl sa ON p.doc_a = sa.doc_id
       |        JOIN shl sb ON p.doc_b = sb.doc_id
       |        WHERE len(list_distinct(
       |                list_concat(sa.shingles, sb.shingles))) > 0)
       |SELECT doc_a, doc_b, (1000000 * i_ct) // u_ct AS jac_ppm
       |FROM jac WHERE (1000000 * i_ct) // u_ct >= $JaccardPpmThreshold"""
      .stripMargin

  /** Containment floor (ppm of the SMALLER doc's shingles inside the
    * intersection) for a reported subsumption pair. */
  val ContainmentPpmThreshold = 600000L

  /** Asymmetric containment — near-SUBSUMPTION detection, the case
    * symmetric Jaccard under-scores: a short doc fully embedded in a
    * long one has tiny J (union is big) but containment ≈ 1. Reports
    * candidate pairs where the smaller shingle set is ≥
    * [[ContainmentPpmThreshold]] inside the intersection, with the
    * contained side identified — the quote/excerpt/boilerplate-reuse
    * relation a dedup pass needs beside [[ngramJaccard]].
    *
    * Scale shape: identical to [[ngramJaccard]] (same candidate
    * pipeline, same bounded posting joins) — only the final verify
    * arithmetic differs. */
  def containment(spark: SparkSession, dir: String): DataFrame =
    containmentOf(Tables.documents(spark, dir))

  /** [[containment]] over any (doc_id, text) frame. */
  def containmentOf(docs: DataFrame): DataFrame = {
    val (cands, shl) = jaccardCandidates(docs)
    cands
      .join(shl.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(shl.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa.shingles"), col("sb.shingles")))
          .cast("long").as("i_ct"),
        size(col("sa.shingles")).cast("long").as("size_a"),
        size(col("sb.shingles")).cast("long").as("size_b"))
      .withColumn("cont_ppm",
        expr("(1000000 * i_ct) DIV least(size_a, size_b)"))
      .filter(col("cont_ppm") >= ContainmentPpmThreshold)
      .select(col("doc_a"), col("doc_b"),
        when(col("size_a") <= col("size_b"), col("doc_a"))
          .otherwise(col("doc_b")).as("contained_doc"),
        col("cont_ppm"))
  }

  lazy val containmentOracle: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |shl AS (SELECT doc_id, ${shinglesSql("toks")} AS shingles FROM toks),
       |post AS (SELECT doc_id, unnest(shingles) AS sh FROM shl),
       |rare AS (SELECT sh FROM post GROUP BY sh HAVING count(*) <= $MaxDf),
       |pr AS (SELECT p.doc_id, p.sh FROM post p JOIN rare r ON p.sh = r.sh),
       |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM pr a JOIN pr b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |         GROUP BY 1, 2 HAVING count(*) >= $MinShared),
       |sc AS (SELECT c.doc_a, c.doc_b,
       |         CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
       |           AS i_ct,
       |         CAST(len(sa.shingles) AS BIGINT) AS size_a,
       |         CAST(len(sb.shingles) AS BIGINT) AS size_b
       |       FROM cand c
       |       JOIN shl sa ON c.doc_a = sa.doc_id
       |       JOIN shl sb ON c.doc_b = sb.doc_id)
       |SELECT doc_a, doc_b,
       |       CASE WHEN size_a <= size_b THEN doc_a ELSE doc_b END
       |         AS contained_doc,
       |       (1000000 * i_ct) // least(size_a, size_b) AS cont_ppm
       |FROM sc
       |WHERE (1000000 * i_ct) // least(size_a, size_b)
       |      >= $ContainmentPpmThreshold""".stripMargin

  /** [[ngramJaccard]] behind the exact-duplicate pre-collapse — the
    * same mass-duplication guard as [[lshDuplicatesCollapsed]]: a
    * boilerplate cluster at fraction f makes every one of its shingles
    * co-occur in f·n docs, which is C(f·n, 2) id-pairs out of EVERY
    * posting under [[MaxDf]] — the same quadratic hot bucket, here in
    * the inverted-index join. Beyond killing the quadratic, collapsing
    * first also REPAIRS the candidate semantics under mass
    * duplication: document frequency is counted over distinct texts,
    * so a genuinely rare shingle that boilerplate copies inflated past
    * [[MaxDf]] (hiding its true near-dup pair) prunes correctly again
    * — dedup-then-mine is the production stage order. */
  def ngramJaccardCollapsed(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardOf(collapsedDocs(Tables.documents(spark, dir)))

  /** [[containment]] behind the exact-duplicate pre-collapse — same
    * rationale as [[ngramJaccardCollapsed]] (shared candidate
    * pipeline, shared hot bucket, shared df repair). */
  def containmentCollapsed(spark: SparkSession, dir: String): DataFrame =
    containmentOf(collapsedDocs(Tables.documents(spark, dir)))

  /** Exact n-gram Jaccard via PREFIX FILTERING (the SSJoin/PPJoin
    * device — Chaudhuri et al., ICDE'06; Xiao et al., WWW'08) — the
    * LOSSLESS alternative to [[ngramJaccard]]'s df-cap/MinShared
    * candidate pruning: under a single global token ordering (here
    * rarest-first by document frequency, ties by the shingle itself),
    * any pair with J ≥ t must share a token within each side's first
    * `|x| − ⌈t·|x|⌉ + 1` ordered shingles, so joining only those
    * PREFIX postings generates a candidate superset of every true
    * pair — no recall loss to tune around, unlike [[MaxDf]] (drops
    * pairs whose shared shingles are all common) and [[MinShared]]
    * (drops small docs). A length filter (`min·10^6 ≥ t·max`, implied
    * by J ≥ t) prunes candidates before the array-carrying verify.
    *
    * Scale shape: the df aggregate and the doc-local rank window are
    * two extra shuffles over the postings, and in exchange the
    * self-join input shrinks to ~(1−t) of the postings — at t = 0.8,
    * 5× fewer rows and ~25× fewer same-shingle pairs, with the
    * surviving prefixes biased toward RARE tokens (low df² fan-out)
    * by construction. Candidates, not postings, dominate at 100 TB,
    * so the trade wins there; [[PLANS.md]] §r15 records the measured
    * A/B. Mass duplication still defeats any prefix scheme (identical
    * texts share identical prefixes) — the [[collapsedDocs]] guard
    * composes in front, boarded as [[ngramJaccardPrefixCollapsed]].
    *
    * Output contract: EVERY pair with exact Jaccard ≥
    * [[JaccardPpmThreshold]] (docs with < 3 tokens have no shingles
    * and never pair). The oracle is device-independent — all
    * shared-shingle pairs, exactly verified — so a prefix bug that
    * drops one true pair hash-fails. */
  def ngramJaccardPrefix(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPrefixOf(Tables.documents(spark, dir))

  /** The prefix-posting frame (doc_id, sz, sh) behind
    * [[ngramJaccardPrefixOf]], shared with the rehearsal's
    * candidate-economy measurement. */
  private[llm] def prefixPostings(shl: DataFrame): DataFrame = {
    val t = JaccardPpmThreshold
    val post = shl.select(col("doc_id"),
      size(col("shingles")).cast("long").as("sz"),
      explode(col("shingles")).as("sh"))
    val dfs = post.groupBy("sh").agg(count(lit(1)).as("df"))
    // per-doc rank under the GLOBAL (df, sh) order; integer-pure
    // ceil: ⌈t·sz⌉ = (t·sz + 10^6 − 1) DIV 10^6
    post.join(dfs, Seq("sh"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))))
      .filter(col("rk") <=
        col("sz") - expr(s"($t * sz + 999999) DIV 1000000") + 1)
      .select("doc_id", "sz", "sh")
  }

  /** [[ngramJaccardPrefix]] over any (doc_id, text) frame. */
  def ngramJaccardPrefixOf(docs: DataFrame): DataFrame = {
    val t = JaccardPpmThreshold
    val shl = shingleSetsShared(docs)
    // LAZY materialization of the prefix postings (r21, guide §2.4 —
    // the jaccardCandidates/contamination device): the self-join
    // consumes `prefix` on BOTH sides, and each side re-derived
    // explode + df-aggregate + join + per-doc rank window from the
    // shingle checkpoint. The frame is ~(1−t) of the postings —
    // small by the prefix principle — so one narrow materialization
    // replaces the duplicated five-op chain.
    val prefix = prefixPostings(shl).matLazily
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
        col("a.sz") * lit(1000000L) >= col("b.sz") * lit(t) &&
        col("b.sz") * lit(1000000L) >= col("a.sz") * lit(t))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    jaccardVerify(cands, shl)
  }

  /** [[ngramJaccardPrefix]] behind the exact-duplicate pre-collapse —
    * the production stage order for this family (the
    * [[ngramJaccardCollapsed]] rationale; identical texts share
    * identical prefixes, so collapse is what bounds the hot bucket). */
  def ngramJaccardPrefixCollapsed(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPrefixOf(collapsedDocs(Tables.documents(spark, dir)))

  /** Device-independent exact contract: every ≥-one-shared-shingle
    * pair (a superset of every J ≥ t pair, since t > 0), exactly
    * verified. DuckDB plans the distinct-pair join natively; no
    * prefix arithmetic appears on the oracle side on purpose. */
  val ngramJaccardPrefixOracle: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |shl AS MATERIALIZED (SELECT doc_id, ${shinglesSql("toks")} AS shingles FROM toks),
       |post AS (SELECT doc_id, unnest(shingles) AS sh FROM shl),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM post a JOIN post b ON a.sh = b.sh AND a.doc_id < b.doc_id),
       |jac AS (SELECT c.doc_a, c.doc_b,
       |          CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS i_ct,
       |          CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS BIGINT) AS u_ct
       |        FROM cand c
       |        JOIN shl sa ON c.doc_a = sa.doc_id
       |        JOIN shl sb ON c.doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, (1000000 * i_ct) // u_ct AS jac_ppm
       |FROM jac WHERE (1000000 * i_ct) // u_ct >= $JaccardPpmThreshold""".stripMargin

  lazy val ngramJaccardPrefixCollapsedOracle: String =
    s"WITH $collapsedDocsCte,\n${ngramJaccardPrefixOracle.stripPrefix("WITH ")}"

  lazy val ngramJaccardCollapsedOracle: String =
    s"WITH $collapsedDocsCte,\n${ngramJaccardOracle.stripPrefix("WITH ")}"

  lazy val containmentCollapsedOracle: String =
    s"WITH $collapsedDocsCte,\n${containmentOracle.stripPrefix("WITH ")}"

  val ngramJaccardOracle: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |shl AS (SELECT doc_id, ${shinglesSql("toks")} AS shingles FROM toks),
       |post AS (SELECT doc_id, unnest(shingles) AS sh FROM shl),
       |rare AS (SELECT sh FROM post GROUP BY sh HAVING count(*) <= $MaxDf),
       |pr AS (SELECT p.doc_id, p.sh FROM post p JOIN rare r ON p.sh = r.sh),
       |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM pr a JOIN pr b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |         GROUP BY 1, 2 HAVING count(*) >= $MinShared),
       |jac AS (SELECT c.doc_a, c.doc_b,
       |          CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS i_ct,
       |          CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS BIGINT) AS u_ct
       |        FROM cand c
       |        JOIN shl sa ON c.doc_a = sa.doc_id
       |        JOIN shl sb ON c.doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, (1000000 * i_ct) // u_ct AS jac_ppm
       |FROM jac WHERE (1000000 * i_ct) // u_ct >= $JaccardPpmThreshold""".stripMargin

  /** Transitive dedup closure: connected components over the LSH dup
    * pair graph, so a→b, b→c chains keep exactly ONE doc per component
    * (the min id) — the corpus-correct form [[keepList]]'s
    * pairwise-greedy approximates. The closure itself is
    * [[closureKeepers]]'s sized dispatch: driver union-find while the
    * banded pair graph stays under [[DriverClosureMaxEdges]] (its
    * normal regime — candidate generation exists to keep it tiny),
    * distributed pointer-doubling rounds beyond that. */
  def dedupClosure(spark: SparkSession, dir: String): DataFrame = {
    val pairs = lshDuplicates(spark, dir).select(col("doc_a"), col("doc_b"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"))
      .join(closureKeepers(pairs), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        coalesce(col("keeper"), col("doc_id")).as("keeper"),
        when(col("keeper").isNull || col("keeper") === col("doc_id"), 1)
          .otherwise(0).cast("int").as("kept"))
  }

  /** Round cap for [[closureKeepers]]. With pointer doubling each round
    * at least SQUARES the label-jump distance, so 20 rounds covers
    * component diameters up to ~2^20 hops — far beyond any real dup
    * graph. Hitting the cap with labels still moving now THROWS instead
    * of silently returning wrong keepers. */
  val ClosureMaxRounds = 20

  /** The label-propagation loop alone: (doc_id, keeper) for every node
    * of the pair graph, keeper = min id of its connected component.
    * Unit-testable on synthetic graphs (chains, forests).
    *
    * Each round does two distributed steps: (1) neighbor-min — adopt
    * the smallest keeper among direct neighbors; (2) pointer doubling —
    * adopt the keeper's OWN keeper (keeper-of-keeper). Step 2 squares
    * the effective hop distance per round, so convergence is
    * O(log diameter) rounds rather than O(diameter) one-hop rounds —
    * the property that makes deep near-dup chains (incremental-edit
    * lineages at corpus scale) converge inside the round cap.
    *
    * Every round ends in ONE `localCheckpoint` (eager), NOT `cache`:
    * the round's plan references the previous labels twice and the hop
    * frame twice, so without truncation the LOGICAL plan grows 4× per
    * round — by round 7 the analyzer walks ~16k copies of the seed
    * plan (measured: minutes of driver CPU on a 60-node chain) even
    * though execution reuses the cache. Checkpointing the round's
    * fused output pins it to a LogicalRDD, keeping analysis O(1) per
    * round while running exactly one materialization job per round
    * (neighbor-min and pointer doubling are composed in one plan, and
    * the checkpointed frame carries `prev_keeper` so the convergence
    * count is a scan of the materialized RDD, not a second join). */
  /** Undirected-edge ceiling for the driver union-find shortcut in
    * [[closureKeepers]] (compared against HALF the doubled-direction
    * row count). 4M undirected edges collects as ~8M boxed tuples —
    * a few hundred MB of driver heap for milliseconds of union-find —
    * while the
    * distributed loop at ANY size pays several multi-stage shuffle
    * rounds (measured: 7 rounds ≈ 8 s on a 3k-edge graph at 32-way
    * parallelism, overhead only). LSH banding exists precisely to keep
    * the candidate graph ≪ corpus, so real workloads land far under
    * this; past it the pointer-doubling loop takes over with the same
    * keeper = component-min contract. */
  val DriverClosureMaxEdges = 4000000L

  def closureKeepers(pairs: DataFrame): DataFrame = {
    val edges = undirectedEdges(pairs).cache()
    try {
      // undirectedEdges doubles every pair into both directions, so
      // the row count is 2× the undirected edge count the bound names
      if (edges.count() <= 2 * DriverClosureMaxEdges) driverClosure(edges)
      else loopOnEdges(edges)._1
    } finally { edges.unpersist(); () }
  }

  // r11: ScaleRehearsal now feeds driverClosure the SINGLE-direction
  // pair list (union-find is direction-agnostic; half the collect
  // heap), so this is Dedup-internal again
  private def undirectedEdges(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()

  /** Min-union-find over a collected edge list: union-by-min keeps the
    * invariant that every root IS its component's minimum id, and path
    * compression makes the whole pass near-linear. Only reachable
    * under the [[DriverClosureMaxEdges]] bound.
    *
    * Driver-heap budget (review r11): the collected edge array is the
    * dominant term — `Array[(Long, Long)]` specializes to unboxed
    * `Tuple2$mcJJ$sp`, ~32 B/edge, so the 2×[[DriverClosureMaxEdges]]
    * = 8M-doubled-row ceiling costs ~256 MB plus the vertex HashMap
    * (~50 B/vertex, vertices ≤ 2×edges in pathological graphs). The
    * vertex set is accumulated in ONE pass alongside the unions —
    * an earlier draft built a 2×|edges| boxed Seq and `.distinct`ed
    * it, hundreds of MB of avoidable garbage at the ceiling. */
  // private[llm] so ScaleRehearsal can use it as the exact adjudicator
  // against loopOnEdges (review r10) — not part of the public surface
  private[llm] def driverClosure(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.as[(Long, Long)].collect()
    val parent = new java.util.HashMap[Long, Long]()
    val vertices = new java.util.LinkedHashSet[java.lang.Long]()
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrDefault(x, x) != x) x = parent.get(x)
      var y = x0
      while (parent.getOrDefault(y, y) != y) {
        val nxt = parent.get(y); parent.put(y, x); y = nxt
      }
      x
    }
    es.foreach { case (a, b) =>
      vertices.add(a); vertices.add(b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    import scala.jdk.CollectionConverters._
    vertices.iterator().asScala
      .map(v => (v.longValue(), find(v.longValue()))).toSeq
      .toDF("doc_id", "keeper")
  }

  /** [[closureKeepers]] plus the number of propagation rounds it took —
    * exposed so the O(log diameter) convergence claim is empirically
    * testable (DedupSpec runs a 1000-node path graph and asserts the
    * round count stays logarithmic, where one-hop propagation would
    * need ~1000 rounds and blow the [[ClosureMaxRounds]] cap). */
  private[llm] def closureKeepersCounted(pairs: DataFrame): (DataFrame, Int) = {
    val edges = undirectedEdges(pairs).cache()
    try loopOnEdges(edges) finally { edges.unpersist(); () }
  }

  /** The distributed pointer-doubling loop over a cached undirected
    * edge frame (the ≫ [[DriverClosureMaxEdges]] path). */
  private def loopOnEdges(edges: DataFrame): (DataFrame, Int) = {
    // seed with round 1's neighbor-min already applied — keeper(x) =
    // min(x, N(x)) is the identity-init loop's first output, computed
    // here as part of the init aggregate instead of a separate
    // distributed round (for the common disjoint-pair graph the seed
    // IS the fixpoint, so the loop's first moved-count hits 0)
    var labels = edges.groupBy(col("src").as("doc_id"))
      .agg(min(col("dst")).as("nbr"))
      .select(col("doc_id"),
        least(col("doc_id"), col("nbr")).as("keeper"))
      .matEagerly
    var moved = 1L
    var rounds = 0
    while (moved > 0 && rounds < ClosureMaxRounds) {
      val nbrMin = edges.as("e")
        .join(labels.as("l"), col("e.dst") === col("l.doc_id"))
        .groupBy(col("e.src").as("doc_id"))
        .agg(min(col("l.keeper")).as("nbr_keeper"))
      val hop = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("keeper"), coalesce(col("nbr_keeper"), col("keeper")))
            .as("keeper"),
          col("keeper").as("prev_keeper"))
      // pointer doubling: keeper ids are themselves graph nodes, so
      // they carry a label row — chase one level (keeper := keeper's
      // keeper). Renamed projection, not an alias self-join, to stay
      // clear of Spark's ambiguous-self-join detection; `hop` is
      // referenced twice but both references are within THIS round's
      // plan, truncated by the single round-end checkpoint.
      val byId = hop.select(col("doc_id").as("k_id"), col("keeper").as("k_keeper"))
      val next = hop.join(byId, col("keeper") === col("k_id"), "left")
        .select(col("doc_id"),
          least(col("keeper"), coalesce(col("k_keeper"), col("keeper")))
            .as("keeper"),
          col("prev_keeper"))
        .matEagerly
      moved = next.filter(col("keeper") =!= col("prev_keeper")).count()
      labels = next.select("doc_id", "keeper")
      rounds += 1
    }
    if (moved > 0)
      throw new IllegalStateException(
        s"closureKeepers did not converge in $ClosureMaxRounds rounds " +
          s"($moved labels still moving) — component diameter beyond 2^$ClosureMaxRounds?")
    (labels, rounds)
  }

  /** DuckDB states the same closure with a recursive CTE (reach-set per
    * node, keeper = min reachable id). */
  val dedupClosureOracle: String = {
    val inner = lshOracle.replace("\n", "\n  ")
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |  $inner
       |  ) p),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |walk(src, reach) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
       |  UNION
       |  SELECT w.src, e.dst FROM walk w JOIN edges e ON w.reach = e.src),
       |label AS (SELECT src AS doc_id, min(reach) AS keeper FROM walk GROUP BY src)
       |SELECT d.doc_id, d.lang, d.source,
       |       coalesce(l.keeper, d.doc_id) AS keeper,
       |       CAST(CASE WHEN l.keeper IS NULL OR l.keeper = d.doc_id
       |            THEN 1 ELSE 0 END AS INTEGER) AS kept
       |FROM documents d LEFT JOIN label l ON d.doc_id = l.doc_id""".stripMargin
  }

  /** Cluster-size histogram of the transitive dedup closure — the
    * data-card view of corpus duplication structure (how many
    * singletons, pairs, long chains): one row per cluster size with
    * the cluster count and total docs covered. Σ n_docs = corpus size
    * (every doc is in exactly one cluster, singletons included).
    *
    * Scale shape: rides [[dedupClosure]]'s labels; the size rollup is
    * one keeper-keyed map-side-combined aggregate and the histogram
    * collapses to the (tiny) distinct-size frame. */
  def clusterHist(spark: SparkSession, dir: String): DataFrame =
    clusterHistFrom(dedupClosure(spark, dir))

  /** [[clusterHist]] over any frame with a `keeper` label column. */
  def clusterHistFrom(labeled: DataFrame): DataFrame =
    labeled.groupBy("keeper").agg(count(lit(1)).as("csize"))
      .groupBy("csize")
      .agg(count(lit(1)).as("n_clusters"), sum("csize").as("n_docs"))

  lazy val clusterHistOracle: String =
    s"""WITH base AS (SELECT * FROM (
       |  ${dedupClosureOracle.replace("\n", "\n  ")}
       |) t),
       |sz AS (SELECT keeper, CAST(count(*) AS BIGINT) AS csize
       |       FROM base GROUP BY 1)
       |SELECT csize, CAST(count(*) AS BIGINT) AS n_clusters,
       |       CAST(sum(csize) AS BIGINT) AS n_docs
       |FROM sz GROUP BY 1""".stripMargin

  // ---- SimHash ----------------------------------------------------

  /** SimHash width in bits; each bit j comes from the j-th hex nibble's
    * high bit of each token's md5 (char >= '8' — ASCII compare is
    * identical in both engines). 32 bits (md5 has 32 nibbles) keeps
    * band buckets small even on a homogeneous corpus — at 16 bits the
    * largest nibble-band bucket held 59% of all docs, degenerating the
    * candidate join toward all-pairs. */
  val SimBits = 32
  /** Band layout: 4 bands × 8 bits. Hamming ≤ 2 flips bits in at most
    * 2 bands, so every qualifying pair shares ≥ 1 intact band. */
  val SimBands = 4
  val SimBandBits = 8

  /** Per-doc 32-bit SimHash over the token multiset. One explode + one
    * map-side-combinable groupBy — linear in token count. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashOf(Tables.documents(spark, dir))

  /** SimHash over any (doc_id, text) frame — public for tests.
    *
    * Typed per-doc pass, zero shuffle: the earlier explode + 32
    * conditional `sum`s pushed ~1M (doc, md5-hex) token rows through a
    * 32-column aggregate and evaluated 32 substring compares per token
    * (measured ~60% of q_llm_simhash_dups at sf0.1). The majority vote
    * is doc-local, so it belongs in one partition-local loop — the same
    * escalation as [[shingleSets]]. Bit j comes from md5 nibble j's
    * high bit (hex char >= '8'), identical to the SQL form in
    * [[simhashSql]]; docs with zero tokens are skipped, matching the
    * explode form (no token rows → no group). */
  def simhashOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, t) =>
          val toks = tokensOf(t)
          if (toks.isEmpty) Iterator.empty
          else {
            val counts = new Array[Int](SimBits)
            toks.foreach { tok =>
              md.reset()
              val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              var j = 0
              while (j < SimBits) {
                val nib =
                  if ((j & 1) == 0) (d(j >> 1) >> 4) & 0xF else d(j >> 1) & 0xF
                counts(j) += (if (nib >= 8) 1 else -1)
                j += 1
              }
            }
            var hash = 0L
            var j = 0
            while (j < SimBits) {
              if (counts(j) >= 0) hash |= 1L << j
              j += 1
            }
            Iterator.single((id, hash))
          }
        }
      }.toDF("doc_id", "simhash")
  }

  private val simhashSql: String = {
    val sums = (0 until SimBits).map(j =>
      s"sum(CASE WHEN substr(th, ${j + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS s$j")
      .mkString(", ")
    val hash = (0 until SimBits).map(j =>
      s"CASE WHEN s$j >= 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""tok AS (SELECT doc_id, md5(unnest($toksSql)) AS th FROM documents),
       |bits AS (SELECT doc_id, $sums FROM tok GROUP BY doc_id),
       |simh AS (SELECT doc_id, CAST($hash AS BIGINT) AS simhash FROM bits)""".stripMargin
  }

  val simhashOracle: String =
    s"""WITH $simhashSql
       |SELECT doc_id, simhash FROM simh""".stripMargin

  /** SimHash near-dup pairs: Hamming distance ≤ 2 on the 32-bit hash.
    * Pigeonhole over 4 byte-bands: ≤2 differing bits touch ≤2 bands,
    * so every qualifying pair shares ≥1 intact band — the band
    * equi-join is the candidate filter, never all-pairs. */
  def simhashDuplicates(spark: SparkSession, dir: String): DataFrame =
    simhashDuplicatesOf(Tables.documents(spark, dir))

  /** [[simhashDuplicates]] behind the exact-duplicate pre-collapse —
    * the same mass-duplication guard as [[lshDuplicatesCollapsed]]
    * and for the same reason: identical texts have the IDENTICAL
    * 32-bit simhash, hence identical nibbles in every band, so a
    * boilerplate cluster is one (band, nib) bucket emitting C(f·n, 2)
    * candidate pairs that all verify at hamming 0. Component
    * equivalence is exact, as for MinHash-LSH: an exact-group member
    * shares its representative's simhash verbatim, so rep-level pairs
    * + exact groups reconstruct the same components (null/empty texts
    * excluded — the plain pipeline drops zero-token docs before
    * hashing). */
  def simhashDuplicatesCollapsed(spark: SparkSession, dir: String): DataFrame =
    simhashDuplicatesOf(collapsedDocs(Tables.documents(spark, dir)))

  /** [[simhashDuplicates]] over any (doc_id, text) frame. */
  def simhashDuplicatesOf(docs: DataFrame): DataFrame = {
    // LAZY localCheckpoint: the band frame feeds both sides of the
    // candidate self-join — without it the typed tokenize+md5 simhash
    // pass runs twice (r20 plan audit: documents scanned 2× here).
    // The cache is (doc_id, simhash): 12 bytes a row.
    val sh = simhashOf(docs).matLazily
    val bands = sh.select(col("doc_id"), col("simhash"), posexplode(
      array((0 until SimBands).map(b =>
        shiftright(col("simhash"), SimBandBits * b)
          .bitwiseAND((1 << SimBandBits) - 1)): _*))
      .as(Seq("band", "nib")))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.nib") === col("b.nib") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int"))
      .filter(col("hamming") <= 2)
      .select("doc_a", "doc_b", "hamming")
  }

  val simhashDupOracle: String = {
    val bandVals = (0 until SimBands).map(b =>
      s"($b, (simhash >> ${SimBandBits * b}) & ${(1 << SimBandBits) - 1})").mkString(", ")
    s"""WITH $simhashSql,
       |band AS (SELECT doc_id, simhash, u.band, u.nib
       |         FROM simh, LATERAL (SELECT * FROM (VALUES $bandVals) t(band, nib)) u),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                a.simhash AS sh_a, b.simhash AS sh_b
       |         FROM band a JOIN band b
       |           ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
       |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 2""".stripMargin
  }

  lazy val simhashDupCollapsedOracle: String =
    s"WITH $collapsedDocsCte,\n${simhashDupOracle.stripPrefix("WITH ")}"

  // ---- cross-document repeated spans (exact-substring family) ------

  /** Span width (tokens) for [[spanCoverage]]. Small at this corpus
    * shape (random word soup repeats short spans only); a web corpus
    * runs wider windows (Lee et al. use 50 tokens) — the plan shape is
    * width-independent. */
  val SpanK = 3

  /** Cross-document repeated-span coverage — the exact-substring dedup
    * signal (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better", public paper): for every document, the
    * fraction of token positions lying inside any [[SpanK]]-gram that
    * ALSO occurs in at least one OTHER document. Boilerplate, license
    * headers, and templates repeat verbatim across documents; a doc
    * mostly covered by cross-doc spans is a strip/remove candidate
    * even when no whole-doc near-dup fires — the complement of the
    * pairwise family above, and the cross-doc complement of
    * [[CorpusOps.repetition]]'s within-doc signals.
    *
    * Shape at 100 TB: positioned postings (one row per token, like the
    * decontamination posting list but carrying `pos`), ONE map-side-
    * combinable distinct-doc count per span, a semijoin back to the
    * postings, and a bounded position explode (×[[SpanK]]) before the
    * per-doc count — never doc×doc, never all-pairs. A full suffix
    * array (the paper's single-node structure) does not distribute;
    * fixed-width span postings are the standard cluster restatement. */
  def spanCoverage(spark: SparkSession, dir: String): DataFrame =
    spanCoverageOf(graft.Tables.documents(spark, dir))

  /** [[spanCoverage]] over any (doc_id, text) frame — public for tests. */
  def spanCoverageOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // positioned postings, typed (the shingleSets escalation): 1-based
    // pos so the DuckDB range arithmetic is identical
    val post = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        val toks = tokensOf(t)
        (0 to toks.length - SpanK).iterator.map { i =>
          (id, i + 1L, toks.slice(i, i + SpanK).mkString(" "))
        }
      }).toDF("doc_id", "pos", "g")
      .matLazily // feeds the df count AND the semijoin
    val crossDoc = post.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("docs"))
      .filter(col("docs") >= 2)
      .select(col("g"))
    val covered = post.join(crossDoc, Seq("g"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (SpanK - 1))).as("p"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("covered_ct"))
    docs.select(col("doc_id"),
        coalesce(size(graft.func.Tokenizer.tokens(col("text"))).cast("long"),
          lit(0L)).as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("covered_ct"), lit(0L)).as("covered_ct"))
      .withColumn("span_dup_ppm",
        expr("CASE WHEN n_tokens > 0 THEN (1000000 * covered_ct) DIV n_tokens ELSE 0 END"))
  }

  val spanCoverageOracle: String = {
    val toksSql = graft.func.OracleSql.toks
    val gram = (0 until SpanK).map(k => s"toks[i+$k]").mkString(" || ' ' || ")
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, $gram AS g
       |      FROM t, LATERAL (SELECT unnest(range(1, len(toks) - ${SpanK - 2})) AS i) u
       |      WHERE len(toks) >= $SpanK),
       |cr AS (SELECT g FROM g GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
       |cov AS (SELECT DISTINCT g.doc_id, q.p
       |        FROM g JOIN cr USING (g),
       |             LATERAL (SELECT unnest(range(g.pos, g.pos + $SpanK)) AS p) q),
       |cc AS (SELECT doc_id, count(*) AS covered_ct FROM cov GROUP BY 1),
       |n AS (SELECT doc_id, CAST(coalesce(len(toks), 0) AS BIGINT) AS n_tokens FROM t)
       |SELECT n.doc_id, n.n_tokens,
       |       CAST(coalesce(cc.covered_ct, 0) AS BIGINT) AS covered_ct,
       |       CAST(CASE WHEN n.n_tokens > 0
       |            THEN (1000000 * coalesce(cc.covered_ct, 0)) // n.n_tokens
       |            ELSE 0 END AS BIGINT) AS span_dup_ppm
       |FROM n LEFT JOIN cc ON n.doc_id = cc.doc_id""".stripMargin
  }

  // ---- incremental (batch-vs-snapshot) dedup -----------------------

  /** Re-crawled copies get this doc_id offset in the fixture batch. */
  val RecrawlIdOffset = 1000000000L
  /** Within-batch duplicate copies get this offset. */
  val BatchDupIdOffset = 2000000000L

  /** Incremental ingest dedup: a new crawl batch deduped against the
    * existing corpus snapshot by content hash — the steady-state form
    * of [[exact]] (a production pipeline never re-dedups the whole
    * corpus per ingest; it checks the delta against the snapshot).
    * Verdict per incoming doc: `dup_of_base` (content already in the
    * snapshot), `dup_in_batch` (first seen in this very batch — the
    * lower doc_id wins), or `kept`.
    *
    * The synthetic corpus has zero exact duplicate texts, so the
    * incoming batch is derived to contain real collisions: fresh docs
    * (doc_id ≡ 7 mod 10) plus re-crawls of snapshot docs (≡ 4 mod 20,
    * re-keyed +[[RecrawlIdOffset]] — same text, new id, the classic
    * re-fetched-URL case) plus second copies of fresh docs (≡ 7 mod
    * 30, +[[BatchDupIdOffset]] — a within-batch mirror).
    *
    * Scale shape: the batch and the snapshot hash set meet in ONE
    * equi-join on the 32-hex key, and the within-batch ranking windows
    * on the same key — one partitioning serves both. The snapshot side
    * ships only its distinct hash column (not text), and at 100 TB a
    * bloom pre-filter on the batch ([[CorpusOps.contaminationBloom]]
    * pattern) keeps the join's snapshot side to candidate buckets. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame =
    incrementalDedupOf(Tables.documents(spark, dir))

  /** [[incrementalDedup]] over any (doc_id, text) frame. */
  def incrementalDedupOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashed = docs.select(col("doc_id"), md5(col("text")).as("h"))
    val base = hashed.filter(col("doc_id") % 10 =!= 7)
    val incoming = hashed.filter(col("doc_id") % 10 === 7)
      .unionByName(base.filter(col("doc_id") % 20 === 4)
        .select((col("doc_id") + RecrawlIdOffset).as("doc_id"), col("h")))
      .unionByName(hashed.filter(col("doc_id") % 30 === 7)
        .select((col("doc_id") + BatchDupIdOffset).as("doc_id"), col("h")))
    val baseHashes = base.select("h").distinct().withColumn("in_base", lit(true))
    val w = Window.partitionBy("h").orderBy("doc_id")
    incoming.join(baseHashes, Seq("h"), "left")
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"),
        when(col("in_base"), "dup_of_base")
          .when(col("rn") > 1, "dup_in_batch")
          .otherwise("kept").as("verdict"))
  }

  lazy val incrementalDedupOracle: String =
    s"""WITH h AS MATERIALIZED (SELECT doc_id, md5(text) AS h FROM documents),
       |base AS MATERIALIZED (SELECT * FROM h WHERE doc_id % 10 <> 7),
       |inc AS MATERIALIZED (
       |  SELECT doc_id, h FROM h WHERE doc_id % 10 = 7
       |  UNION ALL
       |  SELECT doc_id + $RecrawlIdOffset, h FROM base WHERE doc_id % 20 = 4
       |  UNION ALL
       |  SELECT doc_id + $BatchDupIdOffset, h FROM h WHERE doc_id % 30 = 7),
       |bh AS (SELECT DISTINCT h FROM base),
       |r AS (SELECT i.doc_id, (b.h IS NOT NULL) AS in_base,
       |        row_number() OVER (PARTITION BY i.h ORDER BY i.doc_id) AS rn
       |      FROM inc i LEFT JOIN bh b ON i.h = b.h)
       |SELECT doc_id, CASE WHEN in_base THEN 'dup_of_base'
       |                    WHEN rn > 1 THEN 'dup_in_batch'
       |                    ELSE 'kept' END AS verdict
       |FROM r""".stripMargin

  // ---- quality-priority keep-list ----------------------------------

  /** Near-dup keep-list that keeps the BEST document of each cluster
    * instead of the smallest id — the production SemDeDup/CCNet rule:
    * when near-dups collide, survive the copy the quality model ranks
    * highest ([[QualityModel]] score, doc_id-asc tiebreak). Cluster
    * identity is the same LSH-pair connected-component closure as
    * [[dedupClosure]]; singleton docs are their own cluster and always
    * survive.
    *
    * Scale shape (100 TB): clusters come from [[closureKeepers]] (LSH
    * bands bound the pair graph ≪ corpus); scoring is the zero-shuffle
    * projection of [[QualityModel.scoreOf]]; the per-cluster argmax is
    * a window keyed on the cluster label — one hash exchange on
    * `keeper`, no skew risk because near-dup clusters are small by
    * construction (a giant cluster means the corpus IS one document).
    */
  def qualityKeepList(spark: SparkSession, dir: String): DataFrame =
    qualityKeepListOf(Tables.documents(spark, dir),
      lshDuplicates(spark, dir).select(col("doc_a"), col("doc_b")))

  /** [[qualityKeepList]] over any (doc_id, lang, text) frame and
    * (doc_a, doc_b) pair graph — public for tests. */
  def qualityKeepListOf(docs: DataFrame, pairs: DataFrame): DataFrame = {
    // keepers attach directly to the scored frame (r21, guide §2.4):
    // scoreOf is a row-preserving projection of `docs`, so the old
    // separate docs.select(doc_id) scan and its equi-join against the
    // scored frame re-derived a doc_id set the scored frame already
    // carries — one documents scan and one join for nothing. The
    // closure label table is ≪ corpus (pair-graph nodes only), so the
    // left join broadcasts at scale.
    val scored = QualityModel.scoreOf(docs).select(col("doc_id"), col("score"))
    val w = Window.partitionBy("keeper")
      .orderBy(col("score").desc, col("doc_id"))
    scored.join(closureKeepers(pairs), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("keeper"), col("doc_id")).as("keeper"),
        col("score"))
      .withColumn("kept",
        when(row_number().over(w) === 1, 1).otherwise(0).cast("int"))
      .select(col("doc_id"), col("keeper"), col("score"), col("kept"))
  }

  lazy val qualityKeepListOracle: String = {
    val inner = lshOracle.replace("\n", "\n  ")
    val score = QualityModel.scoreOracle.replace("\n", "\n  ")
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |  $inner
       |  ) p),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |walk(src, reach) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
       |  UNION
       |  SELECT w.src, e.dst FROM walk w JOIN edges e ON w.reach = e.src),
       |label AS MATERIALIZED (
       |  SELECT src AS doc_id, min(reach) AS keeper FROM walk GROUP BY src),
       |q AS MATERIALIZED (SELECT doc_id, score FROM (
       |  $score
       |  ) s),
       |j AS MATERIALIZED (
       |  SELECT d.doc_id, coalesce(l.keeper, d.doc_id) AS keeper, q.score
       |  FROM documents d
       |  LEFT JOIN label l ON d.doc_id = l.doc_id
       |  JOIN q ON q.doc_id = d.doc_id)
       |SELECT doc_id, keeper, score,
       |       CAST(CASE WHEN row_number() OVER (PARTITION BY keeper
       |              ORDER BY score DESC, doc_id) = 1
       |            THEN 1 ELSE 0 END AS INTEGER) AS kept
       |FROM j""".stripMargin
  }
}
