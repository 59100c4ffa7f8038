package graft.llm

import graft.{Metrics, Session}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale rehearsals (VERDICT r9 task 3, extended per VERDICT r10
  * tasks 2/3/5/6) — a standalone main, NOT part of the query board.
  * Everything written goes under [[Root]] in /tmp; /root/testdata is
  * never touched. Only the checks that need corpus scale live here;
  * the streaming, range-join, graph, skewed-corpus and scoped-session
  * checks run at seconds-scale sizes in their specs (StreamingSpec,
  * RangeJoinSpec, ItemRankSpec, DedupSpec, ScopedSessionSpec).
  *
  * Every gate reads an exact aggregate or a deterministic work
  * counter, never cpu or wall time, so a failed gate is a failed
  * check on any machine: the run exits 0 when every section passes
  * and 1 on the first section whose gates fail.
  *
  * Sections (select by passing names as args; no args = all):
  *
  * - `closure` (r10): 100k-doc corpus of 900 near-dup clusters × 100
  *   plus 40 sliding-window chains × 250 — the banded pair graph is
  *   ~4.47M pairs > DriverClosureMaxEdges = 4M, so
  *   [[Dedup.closureKeepers]]'s dispatch takes the DISTRIBUTED loop
  *   on real LSH output. Labels adjudicated exactly against a driver
  *   union-find over the same edges.
  *
  * - `vocab` (r10): 50k docs × 200 tokens (30k-word Zipf core + 20
  *   unique URL/id-class tokens per doc = 10M tokens, 1M+ word
  *   types). Measures the vocabulary frames whose broadcast hints
  *   r10 deleted, runs idfRarity/bigramScore/pmi unhinted, and
  *   validates vocabCoverage's freq-keyed device at 1M+ types.
  *
  * - `recall` (r11, VERDICT r10 task 5): re-runs the closure corpus
  *   through [[Dedup.lshDuplicatesOf]] at the stricter 16×2
  *   banding and requires the r10-measured 97-doc recall gap to
  *   close to zero against the constructed truth.
  *
  * - `bpe` (r11, VERDICT r10 task 6): runs [[Bpe.learn]] at a
  *   production-scale configuration (≥4k learned merges; batch 256,
  *   pool 1024) on a 10M-token letter-word corpus and records
  *   runtime and merge-table size. Board constants are untouched.
  *
  * - `ladder` (r13, VERDICT r11 task 1): the board's cost GROWTH,
  *   measured, not argued. A three-rung corpus ladder (x1 mirrors
  *   sf0.1 cardinalities per TESTDATA.md; x3 and x10 scale facts,
  *   catalog, time range, documents, and embeddings together — the
  *   TPC-H convention: growth adds days and SKUs, not just density)
  *   runs the top-CPU board pipelines end-to-end under [[Metrics]]
  *   and fits the log-log growth exponent of work records (input
  *   plus shuffle-read records) per query. Targets: product_stats,
  *   copurchase, item_rank, triangles, lshDuplicates, embedKeepList —
  *   plus the scale-aware banding variant of the last one, because
  *   fixed 8×4 sign-LSH is the ONE shape with an expected
  *   super-linear term (chance candidates ~ bands·n²/2^bits) and the
  *   knob that removes it ([[Similarity.lshNearDup]]'s bits ≈
  *   log2(n/targetBucket)) must be demonstrated, not asserted.
  *
  * - `prefixcross` (r16, VERDICT r15 task 1): the lossless
  *   prefix-filter Jaccard against the MaxDf-pruned path in the
  *   df-skewed / boilerplate regime the cap exists for (fragment df
  *   just UNDER the cap + rare tails), x1/x3/x10 candidate economy +
  *   equal-output set check; plus a trap corpus where EVERY shared
  *   shingle exceeds MaxDf, pinning the recall hole (pruned finds 0
  *   of 200 planted true pairs, prefix 200).
  */
object ScaleRehearsal {
  val Root = "/tmp/graft-scale"

  // closure corpus
  val Clusters = 900
  val ClusterSize = 100
  val ClusterBaseTokens = 60
  val Chains = 40
  val ChainLen = 250
  val ChainTokens = 80
  val ChainStride = 4

  // vocab corpus
  val VocabDocs = 50000
  val CoreVocab = 30000
  val CoreTokensPerDoc = 180
  val UniqueTokensPerDoc = 20

  // recall knob rehearsal: 16 bands × 2 rows over the same K=32
  // signature (band-hit prob at J=0.81: 1-(1-J²)¹⁶ ≈ 1-3e-8, vs
  // ≈0.990 for the default 8×4 — the measured 97-doc gap's cause)
  val RecallBands = 16
  val RecallRows = 2

  // bpe production config: 300 × 256 capacity, targeting ≥4k
  // LEARNED merges. The first r11 attempt ran 16×256 on the
  // digit-alphabet vocab corpus and learned 30 merges in 26 s — the
  // dominance batch is bounded by SYMBOL-DISJOINT pairs, and a
  // 13-character alphabet ('w','u','x',0-9,eow) caps that at a
  // handful per round regardless of BatchCap. A real tokenizer
  // corpus has natural-language symbol diversity, so the rehearsal
  // gets its own corpus of Zipf-distributed random LETTER words
  // (26-char alphabet; the batch widens as merges mint new symbols)
  // and enough rounds for the batch to ramp. Board constants and
  // the 1024-merge oracle lockstep are untouched.
  // measured ramp: 363 merges @64 rounds, 2,716 @200, 6,751 @300
  // in 275 s (the batch widens as merges mint symbols)
  val BpeRounds = 300
  val BpeBatchCap = 256
  val BpeCandCap = 1024
  val BpeDocs = 50000
  val BpeVocab = 30000
  val BpeTokensPerDoc = 200

  // ladder corpus: x1 mirrors sf0.1 cardinalities (TESTDATA.md —
  // 150k orders / ~600k lineitem / 20k part / 5k documents / 2k
  // embeddings). Catalog and time range scale WITH the fact rows:
  // that is how 100 TB actually arrives (more days, more SKUs), and
  // it is the TPC-H scaling convention. Duplicate-cluster and
  // planted-near-dup FRACTIONS are held constant across rungs so the
  // dedup pipelines see a scale-invariant task, not a densifying one.
  val LadderScales: Seq[Int] = Seq(1, 3, 10)
  val LadderOrders = 150000L
  val LadderParts = 20000
  val LadderDocs = 5000L
  val LadderVecs = 2000L
  val LadderWindows = 2400 // distinct 10 s ship windows at x1
  val LadderDocVocab = 30000
  // scale-INVARIANT task structure. Co-purchase: the catalog is
  // partitioned into fixed-size communities and each order draws its
  // items from one community — more scale = more communities (new
  // SKUs with their own neighborhoods), NOT a denser graph, so edge /
  // wedge / triangle counts grow ∝ S and a fitted exponent measures
  // the OPERATOR, not corpus densification. (A fixed head catalog
  // would densify quadratically; a uniform growing catalog would
  // dilute the support-filtered graph to nothing.)
  val LadderLines = 4          // lineitem rows per order (600k at x1)
  val LadderCommunity = 50     // items per co-purchase community
  // documents: a fixed 20% of docs sit in 5-doc near-dup clusters
  // (J ≈ 0.9 > the 0.8 verify threshold); the rest are unique draws
  // from the shared vocabulary. Cluster count ∝ S, fractions fixed.
  val LadderDocClusterSize = 5
  val LadderDocClusterFrac = 0.20
  val LadderDocTokens = 60
  // embeddings: a fixed 10% of vectors sit in 4-vector near-dup
  // clusters (cos ≈ 0.98 ≫ the 0.35 verify threshold); the rest are
  // iid gaussian noise whose pairwise cos ~ N(0, 1/64).
  val LadderVecClusterSize = 4
  val LadderVecClusterFrac = 0.10

  // prefix-crossover corpora (r16, VERDICT r15 task 1): the
  // df-skewed / boilerplate-heavy regime the MaxDf cap exists for.
  // Regime B (cpu A/B): every doc = PxPositions boilerplate fragments
  // drawn from per-position pools sized to hold fragment df ≈
  // PxDfTarget — just UNDER MaxDf = 64, so the pruned path KEEPS the
  // common shingles and pays their C(df,2) candidate bill — plus a
  // rare per-doc tail (exactly what the prefix filter's rarest-first
  // order selects). Pools scale WITH the rung so df, and with it the
  // per-shingle bill, is scale-invariant: the corpus grows, the
  // regime does not. Regime A (recall trap): fixed-size, NO rare
  // tail, pools small enough that EVERY shingle — including the
  // fragment-boundary ones — has df > MaxDf, so the pruned path's
  // candidate generation keeps nothing at all.
  val PxScales: Seq[Int] = Seq(1, 3, 10)
  val PxDocs = 2500L       // rung x1 (x10 = 25k docs)
  val PxPositions = 10     // boilerplate fragments per doc
  val PxFragTokens = 8     // tokens per fragment
  val PxDfTarget = 48L     // fragment df, just under Dedup.MaxDf
  val PxTailTokens = 20    // rare per-doc tail tokens
  val PxTwinPairEvery = 40L // docs per planted twin pair
  val TrapDocs = 5000L
  val TrapPositions = 16   // 16 fragments ⇒ differ-one-fragment J ≈ 0.85
  val TrapPool = 7         // boundary-combo df = 5000/49 ≈ 102 > MaxDf
  val TrapTwinPairs = 200

  /** Scale-aware sign-LSH band width — delegates to the operator-owned
    * [[Similarity.scaleBits]] (same formula the board query and its
    * SQL oracle replay). */
  def ladderBits(nVecs: Long): Int = Similarity.scaleBits(nVecs)

  /** Least-squares slope of ln(y) vs ln(scale) — the measured growth
    * exponent shared by the ladder-style sections and RangeJoinSpec. */
  private[graft] def fitAlpha(pts: Seq[(Int, Double)]): Double = {
    val xs = pts.map(p => math.log(p._1.toDouble))
    val ys = pts.map(p => math.log(p._2.max(1e-3)))
    val (xm, ym) = (xs.sum / xs.size, ys.sum / ys.size)
    xs.zip(ys).map { case (x, y) => (x - xm) * (y - ym) }.sum /
      xs.map(x => (x - xm) * (x - xm)).sum
  }

  private def time[A](tag: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"[scale] $tag: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    r
  }

  /** One section's gates. A failed gate prints at once and is kept;
    * [[verdict]] fails the section at its end with every broken gate.
    * Failures accumulate instead of throwing so that one run reports
    * all of a section's broken gates, not only the first. */
  private final class Gates(section: String) {
    private val broken = scala.collection.mutable.ArrayBuffer.empty[String]
    def apply(ok: Boolean, msg: String): Unit = if (!ok) {
      println(s"[scale] GATE FAILED ($section): $msg")
      broken += msg
    }
    def verdict(): Unit = if (broken.nonEmpty)
      sys.error(s"$section gates failed (results above are complete): " +
        broken.mkString("; "))
  }

  /** (result, work records) of one growth-ladder run: input records
    * plus shuffle-read records over every task the body ran. They
    * count the rows the pipeline moves, so unlike cpu or wall seconds
    * they do not move with machine load or JVM warmth. They do move a
    * little with the core count: map-side partial aggregation emits
    * one row per key per task, and the task counts follow the cores. */
  private def workRecords[A](spark: SparkSession)(f: => A): (A, Long) = {
    val (r, m) = Metrics.around(spark)(f)
    (r, m.stages.map(s => s.inRecs + s.taskShuffleReadRecs.sum).sum)
  }

  def main(args: Array[String]): Unit = {
    val all = Set("closure", "vocab", "recall", "bpe", "ladder",
      "prefixcross")
    val sections = if (args.isEmpty) all else {
      val s = args.toSet
      require(s.subsetOf(all), s"unknown sections: ${s.diff(all)}")
      s
    }
    val spark = Session.local("graft-scale-rehearsal")

    // corpus generation is idempotent: skip when COMPLETE — _SUCCESS,
    // not bare dir existence, or an interrupted write would be
    // silently reused as a partial corpus (review r10)
    val closureDir = s"$Root/closure"
    if (sections("closure") || sections("recall"))
      genClosureCorpus(spark, closureDir)
    val vocabDir = s"$Root/vocab"
    if (sections("vocab")) genVocabCorpus(spark, vocabDir)
    val bpeDir = s"$Root/bpetext"
    if (sections("bpe")) genBpeCorpus(spark, bpeDir)
    val ladderDir = s"$Root/ladder"
    if (sections("ladder"))
      LadderScales.foreach(s => genLadderRung(spark, s"$ladderDir/x$s", s))

    if (sections("closure")) closureSection(spark, closureDir)
    if (sections("vocab")) vocabSection(spark, vocabDir)
    if (sections("recall")) recallSection(spark, closureDir)
    if (sections("bpe")) bpeSection(spark, bpeDir)
    if (sections("ladder")) ladderSection(spark, ladderDir)
    if (sections("prefixcross")) prefixCrossSection(spark, s"$Root/prefix")

    spark.stop()
    println("[scale] DONE")
  }

  private def complete(dir: String, table: String = "documents"): Boolean =
    new java.io.File(s"$dir/$table.parquet/_SUCCESS").exists()

  // ---- corpus generators -------------------------------------------

  private def genClosureCorpus(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    if (complete(dir)) return
    time("generate closure corpus") {
      val clusters = spark.range(Clusters.toLong * ClusterSize).map { i =>
        val k = i / ClusterSize; val j = i % ClusterSize
        val base = (0 until ClusterBaseTokens)
          .map(t => s"k${k}b$t").mkString(" ")
        (k * 1000L + j, s"$base k${k}u$j")
      }
      val chains = spark.range(Chains.toLong * ChainLen).map { i =>
        val c = i / ChainLen; val j = i % ChainLen
        val start = ChainStride * j.toInt
        val toks = (start until start + ChainTokens).map(t => s"c${c}w$t")
        (10000000L + c * 1000L + j, toks.mkString(" "))
      }
      clusters.union(chains).toDF("doc_id", "text")
        .withColumn("lang", lit("en"))
        .withColumn("source", lit("scale"))
        .withColumn("n_chars", length(col("text")))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
  }

  private def genVocabCorpus(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    if (complete(dir)) return
    time("generate vocab corpus") {
      spark.range(VocabDocs.toLong).map { i =>
        val rnd = new java.util.Random(i * 2654435761L + 12345L)
        val b = new StringBuilder
        var u = 0
        (0 until CoreTokensPerDoc).foreach { t =>
          // inverse-CDF Zipf-ish rank: log-uniform over [1, CoreVocab]
          val r = math.min(CoreVocab - 1,
            math.exp(rnd.nextDouble() * math.log(CoreVocab.toDouble)).toInt)
          b.append('w').append(r).append(' ')
          if (t % (CoreTokensPerDoc / UniqueTokensPerDoc) == 0
              && u < UniqueTokensPerDoc) { // intersperse the unique ids
            b.append('u').append(i).append('x').append(u).append(' ')
            u += 1
          }
        }
        (i, b.result().trim)
      }.toDF("doc_id", "text")
        .withColumn("lang", lit("en"))
        .withColumn("source", lit("scale"))
        .withColumn("n_chars", length(col("text")))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
  }

  private def genBpeCorpus(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    if (complete(dir)) return
    time("generate bpe letter-word corpus") {
      // deterministic random letter word for vocabulary rank r:
      // 4-12 lowercase chars (ReplacePasses guard allows ≤ 15)
      def wordOf(r: Int): String = {
        val rnd = new java.util.Random(r * 1103515245L + 54321L)
        val len = 4 + rnd.nextInt(9)
        val sb = new StringBuilder
        (0 until len).foreach(_ => sb.append(('a' + rnd.nextInt(26)).toChar))
        sb.result()
      }
      val nVocab = BpeVocab
      val perDoc = BpeTokensPerDoc
      spark.range(BpeDocs.toLong).map { i =>
        val rnd = new java.util.Random(i * 2654435761L + 98765L)
        val b = new StringBuilder
        (0 until perDoc).foreach { _ =>
          val r = math.min(nVocab - 1,
            math.exp(rnd.nextDouble() * math.log(nVocab.toDouble)).toInt)
          b.append(wordOf(r)).append(' ')
        }
        (i, b.result().trim)
      }.toDF("doc_id", "text")
        .withColumn("lang", lit("en"))
        .withColumn("source", lit("scale"))
        .withColumn("n_chars", length(col("text")))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
  }

  // ---- (closure) the >4M-edge closure on real LSH output -----------

  private def closureSection(spark: SparkSession, closureDir: String): Unit = {
    println(s"[scale] === closure rehearsal ($closureDir) ===")
    val (pairs, nPairs) = time("lshDuplicates (shingle→minhash→band→verify)") {
      val p = Dedup.lshDuplicatesOf(graft.Tables.documents(spark, closureDir))
        .select("doc_a", "doc_b").localCheckpoint()
      (p, p.count())
    }
    println(s"[scale] banded+verified pairs: $nPairs " +
      s"(bound ${Dedup.DriverClosureMaxEdges}; doubled rows " +
      s"${2 * nPairs} > ${2 * Dedup.DriverClosureMaxEdges} ⇒ " +
      s"closureKeepers dispatches to the DISTRIBUTED loop)")
    require(nPairs > Dedup.DriverClosureMaxEdges,
      "rehearsal corpus must exceed the driver-closure bound")
    val (labels, labeled, rounds) =
      time("closureKeepersCounted (pointer doubling)") {
        val (l, r) = Dedup.closureKeepersCounted(pairs)
        (l, l.count(), r)
      }
    println(s"[scale] pointer-doubling rounds: $rounds " +
      s"(cap ${Dedup.ClosureMaxRounds})")
    // EXACT adjudication: the distributed loop must equal the
    // connected components of the pair graph LSH ACTUALLY EMITTED —
    // Dedup.driverClosure (union-by-min + path compression) over the
    // same edges, the path closureKeepers takes BELOW the bound.
    // Driver heap note (review r11): union-find is direction-
    // agnostic, so collect the SINGLE-direction pair list (~4.5M ×
    // 32 B specialized tuples ≈ 145 MB), not the doubled edge frame —
    // half the heap of the symmetric form for the same components.
    val exact = time("driver union-find adjudicator") {
      Dedup.driverClosure(
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .withColumnRenamed("keeper", "exact_keeper")
        .localCheckpoint()
    }
    val nExact = exact.count()
    // label-SET equality, made explicit (review r11): equal mismatch-
    // free inner-join cardinality alone admits equal-sized sets with
    // different membership — require joined == labeled == nExact so
    // the doc_id sets provably coincide.
    val joined = labels.join(exact, Seq("doc_id")).localCheckpoint()
    val nJoined = joined.count()
    val wrong = joined.filter(col("keeper") =!= col("exact_keeper")).count()
    println(s"[scale] labels: $labeled docs (exact: $nExact, joined: " +
      s"$nJoined); distributed loop vs driver union-find mismatches: $wrong")
    require(wrong == 0 && labeled == nExact && nJoined == labeled,
      "distributed closure disagrees with the exact component labels")

    reportRecall(labels, labeled, tag = s"${Dedup.Bands}×${Dedup.R}",
      requireComplete = false)
  }

  /** Banding RECALL vs the constructed cluster/chain truth —
    * informational for the default banding (LSH is probabilistic by
    * design), REQUIRED complete for the stricter recall knob. */
  private def reportRecall(labels: DataFrame, labeled: Long, tag: String,
                           requireComplete: Boolean): Unit = {
    val intended = expr(
      """CASE WHEN doc_id >= 10000000
        |     THEN 10000000 + ((doc_id - 10000000) DIV 1000) * 1000
        |     ELSE (doc_id DIV 1000) * 1000 END""".stripMargin)
    val offTruth = labels.filter(col("keeper") =!= intended).count()
    println(f"[scale] banding recall ($tag): $offTruth of $labeled docs " +
      f"(${100.0 * offTruth / labeled}%.3f%%) differ from the " +
      "constructed-corpus components (missed band edges)")
    // recall guard must ALSO catch docs dropped from the pair graph
    // entirely (they are absent from `labels`, not mislabeled): by
    // construction every doc has ≥1 intra-cluster/adjacent edge, so
    // the label set itself must stay near-complete (review r10)
    val nDocs = Clusters.toLong * ClusterSize + Chains.toLong * ChainLen
    if (requireComplete) {
      require(labeled == nDocs,
        s"stricter banding still lost docs: $labeled of $nDocs")
      require(offTruth == 0L,
        s"stricter banding left $offTruth docs off the constructed truth")
    } else {
      require(labeled >= nDocs - nDocs / 100,
        s"label set lost docs: $labeled of $nDocs — edges dropped " +
          "wholesale, investigate signature pipeline")
      require(offTruth < labeled / 100,
        "banding recall collapsed — investigate signature pipeline")
    }
  }

  // ---- (recall) the bands/rows knob closes the measured gap --------

  private def recallSection(spark: SparkSession, closureDir: String): Unit = {
    println(s"[scale] === recall-knob rehearsal " +
      s"($RecallBands×$RecallRows banding) ===")
    val (pairs, nPairs) =
      time(s"lshDuplicatesOf($RecallBands, $RecallRows)") {
        val p = Dedup.lshDuplicatesOf(
            graft.Tables.documents(spark, closureDir), RecallBands, RecallRows)
          .select("doc_a", "doc_b").localCheckpoint()
        (p, p.count())
      }
    println(s"[scale] verified pairs at $RecallBands×$RecallRows: $nPairs")
    val (labels, labeled, rounds) = time("closureKeepersCounted") {
      val (l, r) = Dedup.closureKeepersCounted(pairs)
      (l, l.count(), r)
    }
    println(s"[scale] rounds: $rounds")
    reportRecall(labels, labeled,
      tag = s"$RecallBands×$RecallRows", requireComplete = true)
    println(s"[scale] recall knob CLOSES the gap: 100% of docs on the " +
      "constructed truth (vs 0.097% adrift at 8×4 in r10)")
  }

  // ---- (vocab) vocabulary-frame sizes at 10× sf0.1 -----------------

  private def vocabSection(spark: SparkSession, vocabDir: String): Unit = {
    println(s"[scale] === vocab-frame measurement ($vocabDir) ===")
    val docs = graft.Tables.documents(spark, vocabDir)
    val toks = docs.select(
      explode(graft.func.Tokenizer.tokens(col("text"))).as("w"))
    val Seq(nTok, nTypes, wBytes) = time("word-type frame") {
      val t = toks.groupBy("w").agg(count(lit(1)).as("c"))
      val r = t.agg(sum("c"), count(lit(1)),
        // UnsafeRow(string, long) ≈ 8B header + 16B field slots +
        // padded string bytes — the broadcast-side cost model
        sum(length(col("w")) + lit(28L))).head()
      Seq(r.getLong(0), r.getLong(1), r.getLong(2))
    }
    println(s"[scale] tokens=$nTok wordTypes=$nTypes " +
      f"dfTableEst=${wBytes / 1e6}%.1f MB " +
      "(= df/unigram/BPE-word frame row count)")
    val Seq(nBg, bgBytes) = time("bigram-type frame") {
      val bg = docs
        .select(graft.func.Tokenizer.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(t) - 1), " +
            "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
          .as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("c"))
      val r = bg.agg(count(lit(1)), sum(length(col("bg")) + lit(28L))).head()
      Seq(r.getLong(0), r.getLong(1))
    }
    println(f"[scale] bigramTypes=$nBg est=${bgBytes / 1e6}%.1f MB")

    // vocabCoverage was REWRITTEN in r9 for exactly this regime (the
    // freq-keyed offsets device replacing a global-rank window over
    // the vocabulary) — validate the Zipf-collapse premise and the
    // device's exactness at 1M+ open-domain types
    time("vocabCoverage at 1M types (freq-keyed device)") {
      val cov = VocabCoverage.vocabCoverageOf(docs).localCheckpoint()
      val nFreqs = cov.select("freq").distinct().count()
      val r = cov.agg(count(lit(1)), max("rank"), max("cum_ppm")).head()
      println(s"[scale] coverage rows=${r.getLong(0)} " +
        s"distinctFreqs=$nFreqs (the O(√tokens) offsets frame) " +
        s"maxRank=${r.getLong(1)} finalCum=${r.getLong(2)} ppm")
      require(r.getLong(0) == r.getLong(1) && r.getLong(2) == 1000000L,
        "coverage must rank every word exactly once and close at 1e6")
    }

    val idf = time("idfRarity end-to-end (unhinted)")(
      full(Index.idfRarityOf(docs)))
    println(s"[scale] idfRarity joins: ${joins(idf)}")
    val lm = time("bigramScore end-to-end (unhinted)")(
      full(LangModel.bigramScoreOf(docs)))
    println(s"[scale] bigramScore joins: ${joins(lm)}")
    val pmi = time("pmi end-to-end (unhinted)")(full(Colloc.pmiOf(docs)))
    println(s"[scale] pmi joins: ${joins(pmi)}")
  }

  /** Executed-plan join lines — what AQE actually picked. */
  private def joins(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("Join")).map(_.trim.take(100))
      .mkString(" | ")

  /** toRdd.count() (the Profile device) evaluates THIS df's full
    * plan — no column pruning (a bare Dataset.count() lets Catalyst
    * skip the scoring expressions) — and finalizes its AQE plan so
    * [[joins]] reads what actually ran. */
  private def full(d: DataFrame): d.type = {
    d.queryExecution.toRdd.count(); d
  }

  // ---- (bpe) the 4096-merge production configuration ---------------

  private def bpeSection(spark: SparkSession, bpeDir: String): Unit = {
    println(s"[scale] === BPE production-config rehearsal " +
      s"($BpeRounds×$BpeBatchCap = ${BpeRounds * BpeBatchCap}-merge " +
      "capacity, letter-word corpus) ===")
    val docs = graft.Tables.documents(spark, bpeDir)
    val nTok = docs.select(sum(size(
      graft.func.Tokenizer.tokens(col("text"))))).head().getLong(0)
    println(s"[scale] corpus: $nTok tokens")
    val t0 = System.nanoTime()
    val (merges, vocab) =
      Bpe.learn(docs, BpeRounds, BpeBatchCap, BpeCandCap)
    val secs = (System.nanoTime() - t0) / 1e9
    val tableBytes = merges.map { case (p, _) => p.length + 16 }.sum
    val nSyms = vocab.select(explode(split(trim(col("syms")), " ")))
      .distinct().count()
    println(f"[scale] learned ${merges.size} merges in $secs%.1f s " +
      f"(${secs / BpeRounds}%.1f s/round; merge table ≈ " +
      f"${tableBytes / 1e3}%.1f KB, final symbol vocabulary $nSyms)")
    require(merges.size >= 4000,
      s"production config must learn ≥4k merges, got ${merges.size}")
  }

  // ---- (ladder) growth exponents for the top-CPU pipelines ---------

  /** One rung of the sf ladder at scale `s` — every table a top-CPU
    * pipeline reads, at x`s` the sf0.1 cardinality, with scale-
    * INVARIANT task structure (see the Ladder* constant comments):
    * co-purchase communities of fixed size, dup-cluster and near-dup
    * fractions fixed, time range and catalog growing WITH the facts. */
  private def genLadderRung(spark: SparkSession, dir: String,
                            s: Int): Unit = {
    import spark.implicits._
    if (complete(dir, "embeddings")) return
    time(s"generate ladder rung x$s") {
      val nOrders = LadderOrders * s
      val nParts = LadderParts.toLong * s
      val nComms = nParts / LadderCommunity
      val nWindows = LadderWindows.toLong * s
      val (lines, comm) = (LadderLines, LadderCommunity)
      val baseTs = 1700000000L
      spark.range(nOrders).flatMap { o =>
        val rnd = new java.util.Random(
          o * 6364136223846793005L + 99L)
        val c = math.floorMod(rnd.nextLong(), nComms)
        val w = math.floorMod(rnd.nextLong(), nWindows)
        val shipS = baseTs + w * 10 + rnd.nextInt(10)
        (0 until lines).map { i =>
          (o, 1L + c * comm + rnd.nextInt(comm), 1L + rnd.nextInt(1000),
            i + 1, (1 + rnd.nextInt(50)).toDouble,
            (100 + rnd.nextInt(9000000)) / 100.0,
            rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
            Seq("A", "N", "R")(rnd.nextInt(3)),
            Seq("O", "F")(rnd.nextInt(2)), shipS)
        }
      }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "ship_s")
        .withColumn("l_shipdate", timestamp_seconds(col("ship_s")))
        .drop("ship_s")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

      spark.range(1, nParts + 1).select(
        col("id").as("p_partkey"),
        concat(lit("part-"), col("id")).as("p_name"),
        concat(lit("brand-"), pmod(col("id"), lit(50))).as("p_brand"),
        concat(lit("type-"), pmod(col("id"), lit(10))).as("p_type"),
        pmod(col("id"), lit(50)).cast("int").as("p_size"),
        (pmod(col("id"), lit(10000)) / lit(100.0) + lit(1.0))
          .as("p_retailprice"))
        .repartition(4)
        .write.mode("overwrite").parquet(s"$dir/part.parquet")

      val nDocs = LadderDocs * s
      val nClusters =
        (nDocs * LadderDocClusterFrac / LadderDocClusterSize).toLong
      val clusterDocs = nClusters * LadderDocClusterSize
      val (dcs, dTok, vocab) =
        (LadderDocClusterSize, LadderDocTokens, LadderDocVocab)
      spark.range(nDocs).map { i =>
        if (i < clusterDocs) {
          val c = i / dcs; val j = i % dcs
          val base = (0 until dTok).map(t => s"d${c}b$t").mkString(" ")
          (i, s"$base d${c}u$j")
        } else {
          val rnd = new java.util.Random(i * 6364136223846793005L + 7L)
          (i, (0 until dTok).map(_ => s"w${rnd.nextInt(vocab)}")
            .mkString(" "))
        }
      }.toDF("doc_id", "text")
        .withColumn("lang", lit("en"))
        .withColumn("source", lit("ladder"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val nVecs = LadderVecs * s
      val nVClusters =
        (nVecs * LadderVecClusterFrac / LadderVecClusterSize).toLong
      val vClusterVecs = nVClusters * LadderVecClusterSize
      val (vcs, dim) = (LadderVecClusterSize, Similarity.Dim)
      spark.range(nVecs).map { i =>
        if (i < vClusterVecs) {
          val c = i / vcs
          val bRnd = new java.util.Random(c * 2862933555777941757L + 13L)
          val base = Array.fill(dim)(bRnd.nextGaussian())
          val mRnd = new java.util.Random(i * 6364136223846793005L + 17L)
          // |noise|/|base| ≈ 0.15 ⇒ pairwise cos ≈ 0.98 within a
          // cluster — safely past the 0.35 verify threshold and in
          // the cos ≥ 0.9 regime where even 7-bit bands keep recall
          (i, base.map(x => (x + 0.15 * mRnd.nextGaussian()).toFloat),
            c.toInt)
        } else {
          val rnd = new java.util.Random(i * 6364136223846793005L + 23L)
          (i, Array.fill(dim)(rnd.nextGaussian().toFloat), -1)
        }
      }.toDF("vec_id", "embedding", "label")
        .repartition(8)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
  }

  /** The six top-CPU board pipelines (≈45% of board CPU per the r11
    * plan audit) plus the scale-aware sign-LSH banding variant, run
    * end-to-end per rung under [[Metrics]]; the log-log slope of
    * work records vs scale is the measured growth exponent. Work
    * records, not cpu or wall seconds, are fitted: they count the rows
    * each pipeline reads and shuffles, so the exponent does not move
    * with machine load. */
  private def ladderSection(spark: SparkSession, ladderDir: String): Unit = {
    println(s"[scale] === ladder rehearsal (${LadderScales.map("x" + _)
      .mkString("/")} at $ladderDir) ===")
    def docs(op: DataFrame => DataFrame) =
      (sp: SparkSession, d: String) => op(graft.Tables.documents(sp, d))
    def pipesFor(s: Int): Seq[(String, (SparkSession, String) => DataFrame)] = {
      val bits = ladderBits(LadderVecs * s)
      Seq(
        "product_stats" -> ((sp: SparkSession, d: String) =>
          graft.dws.ProductStats(sp, d)),
        "copurchase" -> (graft.ads.Queries.copurchase _),
        "item_rank" -> (graft.ads.ItemRank.itemRank _),
        "triangles" -> (graft.ads.ItemRank.triangles _),
        "lsh_dups" -> docs(Dedup.lshDuplicatesOf(_)),
        "keeplist_8x4" -> ((sp: SparkSession, d: String) =>
          Similarity.embedKeepList(sp, d, 8, 4)),
        s"keeplist_aware_8x$bits" -> ((sp: SparkSession, d: String) =>
          Similarity.embedKeepList(sp, d, 8, bits)),
        // second CPU tier (r13 verdict task 5): the next-largest board
        // block (~17 cpu-s at sf0.1), previously measured at one scale
        // point only
        "containment" -> docs(Dedup.containmentOf),
        "ngram_jaccard" -> docs(Dedup.ngramJaccardOf),
        // the lossless candidate generator (r15): same verify, exact
        // contract — its growth must stay comparable to the pruned path
        "ngram_jaccard_prefix" -> (Dedup.ngramJaccardPrefix _),
        "novelty" -> docs(Novelty.noveltyOf),
        "product_stats_approx" -> ((sp: SparkSession, d: String) =>
          graft.dws.ProductStats.approx(sp, d)),
        // dedup_sweep inherits lshNearDup's FIXED 8×4 banding, so its
        // pair population carries the known-quadratic chance term; the
        // aware twin sweeps the same thresholds over scale-aware pairs
        // — the production configuration of the same data card
        "dedup_sweep" -> (Similarity.dedupSweep _),
        s"dedup_sweep_aware_8x$bits" -> ((sp: SparkSession, d: String) =>
          Similarity.dedupSweepFrom(
            Similarity.lshNearDup(sp, d, 8, bits))))
    }
    // canonical pipe name across rungs (the aware variants' bits — and
    // so their display names — change with the rung; the fit needs one
    // key per pipeline)
    def key(name: String): String =
      if (name.startsWith("keeplist_aware")) "keeplist_aware"
      else if (name.startsWith("dedup_sweep_aware")) "dedup_sweep_aware"
      else name

    val res = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[
        Int, (Long, Long)]]
    LadderScales.foreach { s =>
      val dir = s"$ladderDir/x$s"
      pipesFor(s).foreach { case (name, fn) =>
        val (rows, work) =
          workRecords(spark)(fn(spark, dir).queryExecution.toRdd.count())
        println(s"[scale] ladder x$s $name: $work work records, $rows rows")
        res.getOrElseUpdate(key(name),
          scala.collection.mutable.LinkedHashMap.empty) += s -> (work, rows)
      }
    }
    println("[scale] ladder growth exponents (work records ~ scale^alpha):")
    val alphas = res.map { case (name, byScale) =>
      val a = fitAlpha(byScale.toSeq.map { case (s, v) => (s, v._1.toDouble) })
      val pts = byScale.map { case (s, (w, r)) =>
        s"x$s $w work/$r rows" }.mkString("  ")
      println(f"[scale]   $name%-16s alpha=$a%.2f   $pts")
      name -> a
    }
    // The knob demonstration: fixed 8×4 banding carries a chance-
    // candidate term ~ bands·n²/2^bits (quadratic at fixed bits);
    // occupancy-targeted bits restore ~linear growth on the SAME
    // corpus and verify threshold. A gate, not a printed warning:
    // it is the only automated check on the growth property (the
    // r13 planeWeight bug is exactly what it exists to catch).
    val gate = new Gates("ladder")
    val (aFixed, aAware) = (alphas("keeplist_8x4"), alphas("keeplist_aware"))
    gate(aFixed - aAware >= 0.25,
      f"scale-aware banding must beat fixed banding's growth: " +
        f"fixed alpha=$aFixed%.2f aware alpha=$aAware%.2f")
    gate(aAware <= 1.5,
      f"scale-aware sign-LSH should grow ~linearly, got $aAware%.2f")
    // second tier: everything except the deliberately-fixed-banding
    // dedup_sweep (whose pair population carries the quadratic
    // chance term by construction — its aware twin is the gate)
    Seq("containment", "ngram_jaccard", "ngram_jaccard_prefix",
        "novelty", "product_stats_approx", "dedup_sweep_aware").foreach { n =>
      alphas.get(n).foreach(a =>
        gate(a <= 1.5, f"$n should grow ~linearly, got alpha=$a%.2f"))
    }
    // prefix-filter candidate economy (r15): same-shingle id-pair
    // populations Σ C(df,2) over the full postings, the MaxDf-pruned
    // postings, and the prefix postings — the number that dominates
    // at 100 TB. Measured at the top rung.
    locally {
      val topDir = s"$ladderDir/x${LadderScales.last}"
      val shl = Dedup.shingleSetsShared(
        graft.Tables.documents(spark, topDir))
      val post = shl.select(col("doc_id"), explode(col("shingles")).as("sh"))
      def pairs(p: DataFrame): Long =
        p.groupBy("sh").agg(count(lit(1)).as("df"))
          .agg(coalesce(sum(expr("df * (df - 1) DIV 2")), lit(0L)))
          .head.getLong(0)
      val full = pairs(post)
      val pruned = pairs(post.join(
        post.groupBy("sh").agg(count(lit(1)).as("d2"))
          .filter(col("d2") <= Dedup.MaxDf).select("sh"), Seq("sh")))
      val prefix = pairs(Dedup.prefixPostings(shl).select("doc_id", "sh"))
      println(f"[scale] ladder prefix economy (x${LadderScales.last}): " +
        f"full=$full%d pruned(df<=${Dedup.MaxDf})=$pruned%d " +
        f"prefix=$prefix%d (lossless)")
    }
    gate.verdict()
  }

  // ---- (prefixcross) prefix-filter Jaccard in its target regime ----

  /** Regime-B corpus: boilerplate at df just under MaxDf plus a rare
    * per-doc tail. Twin pairs (the first 2·m docs) share fragments
    * and all but the last tail token — J ≈ 0.94, found by BOTH paths
    * (the shared tail shingles are rare), so the rungs compare the
    * candidate generators on equal recall. */
  private def genPrefixCorpus(spark: SparkSession, dir: String,
      s: Int): Unit = {
    import spark.implicits._
    if (complete(dir)) return
    time(s"generate prefix-crossover corpus x$s") {
      val n = PxDocs * s
      val pool = math.max(2L, n / PxDfTarget)
      val m = n / PxTwinPairEvery
      val (pos, ft, tail) = (PxPositions, PxFragTokens, PxTailTokens)
      spark.range(n).map { i =>
        val paired = i < 2 * m
        val seed: Long = if (paired) i / 2 else i
        val rnd = new java.util.Random(seed * 6364136223846793005L + 101L)
        val frags = (0 until pos).map { q =>
          val c = math.floorMod(rnd.nextLong(), pool)
          (0 until ft).map(t => s"p${q}f${c}w$t").mkString(" ")
        }
        val tailToks = (0 until tail).map(j => s"u${seed}t$j")
        val toks = frags ++ (if (paired && i % 2 == 1)
          tailToks.init :+ s"u${seed}alt" else tailToks)
        (i, toks.mkString(" "))
      }.toDF("doc_id", "text")
        .withColumn("lang", lit("en"))
        .withColumn("source", lit("px"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
  }

  /** Regime-A corpus: pure fragment combinatorics, no rare tokens
    * anywhere. Twin pairs differ in exactly one of [[TrapPositions]]
    * fragments (J ≈ 0.85 ≥ 0.8); every shingle — fragment-internal
    * (df ≈ n/pool ≈ 714) and boundary-spanning (df ≈ n/pool² ≈ 102) —
    * sits above MaxDf = 64, so the df-capped inverted index generates
    * NO candidates and misses every planted pair. */
  private def genTrapCorpus(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    if (complete(dir)) return
    time("generate trap corpus (every shingle df > MaxDf)") {
      val (n, pos, pool, m) =
        (TrapDocs, TrapPositions, TrapPool, TrapTwinPairs)
      spark.range(n).map { i =>
        val paired = i < 2L * m
        val seed: Long = if (paired) i / 2 else i
        val rnd = new java.util.Random(seed * 2862933555777941757L + 211L)
        val choices =
          Array.fill(pos)(math.floorMod(rnd.nextLong(), pool).toInt)
        if (paired && i % 2 == 1) {
          val q = (seed % pos).toInt
          choices(q) = (choices(q) + 1) % pool
        }
        val toks = (0 until pos).flatMap(q =>
          (0 until PxFragTokens).map(t => s"p${q}f${choices(q)}w$t"))
        (i, toks.mkString(" "))
      }.toDF("doc_id", "text")
        .withColumn("lang", lit("en"))
        .withColumn("source", lit("trap"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
  }

  /** VERDICT r15 task 1: the lossless prefix filter's 100 TB claim,
    * measured in its TARGET regime rather than inferred from a
    * benign corpus. Regime A pins the recall hole the MaxDf cap opens
    * (the pruned path, held to the device-independent exact contract
    * the prefix oracle states, would hash-fail). Regime B compares the
    * two candidate generators at x1/x3/x10 on a boilerplate corpus
    * whose common shingles sit just UNDER the cap — the df² bill the
    * cap cannot dodge: exact candidate id-pair counts per rung (the
    * gate), equal output sets per rung, and both paths' work-record
    * growth exponents. */
  private def prefixCrossSection(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    println("[scale] === prefix-filter Jaccard crossover " +
      "(df-skewed boilerplate regime) ===")

    // ---- regime A: the MaxDf recall hole, demonstrated -------------
    val trapDir = s"$dir/trap"
    genTrapCorpus(spark, trapDir)
    val trapDocs = graft.Tables.documents(spark, trapDir)
    val planted = spark.range(TrapTwinPairs)
      .select((col("id") * 2).as("doc_a"), (col("id") * 2 + 1).as("doc_b"))
    // arm check: the planted twins really clear the exact threshold
    val armed = Dedup.jaccardVerify(planted,
      Dedup.shingleSetsShared(trapDocs)).count()
    require(armed == TrapTwinPairs, s"trap mis-tuned: only $armed of " +
      s"$TrapTwinPairs planted twins clear the exact J >= 0.8")
    val prunedTrap = Dedup.ngramJaccardOf(trapDocs)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val prefixTrap = Dedup.ngramJaccardPrefixOf(trapDocs)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val prunedHit = prunedTrap.join(planted, Seq("doc_a", "doc_b")).count()
    val prefixHit = prefixTrap.join(planted, Seq("doc_a", "doc_b")).count()
    println(s"[scale] trap (every shingle df > MaxDf): planted = " +
      s"$TrapTwinPairs, exact-verified $armed | MaxDf path found " +
      s"$prunedHit (total output ${prunedTrap.count()}) | prefix path " +
      s"found $prefixHit (total ${prefixTrap.count()})")
    println("[scale] trap: held to the device-independent exact contract " +
      "(the prefix oracle's), the MaxDf path would hash-fail here — " +
      s"${TrapTwinPairs - prunedHit} true pairs missing")
    require(prefixHit == TrapTwinPairs,
      "prefix filter dropped a true pair — lossless property broken")
    require(prunedHit == 0, "trap corpus no longer demonstrates the " +
      "MaxDf recall hole (retune TrapPool/TrapDocs)")

    // ---- regime B: candidate economy at x1/x3/x10 -------------------
    PxScales.foreach(s => genPrefixCorpus(spark, s"$dir/x$s", s))
    val paths: Seq[(String, DataFrame => DataFrame)] = Seq(
      "maxdf_pruned" -> (Dedup.ngramJaccardOf(_)),
      "prefix_filter" -> (Dedup.ngramJaccardPrefixOf(_)))
    val res = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[
        Int, (Long, Set[(Long, Long)])]]
    val gate = new Gates("prefixcross")
    PxScales.foreach { s =>
      val docs = graft.Tables.documents(spark, s"$dir/x$s")
      // candidate economy (exact aggregates): the same-shingle
      // id-pair population each generator feeds downstream
      val shl = Dedup.shingleSetsShared(docs)
      val post = shl.select(col("doc_id"),
        explode(col("shingles")).as("sh"))
      def sumPairs(p: DataFrame): Long =
        p.groupBy("sh").agg(count(lit(1)).as("df"))
          .agg(coalesce(sum(expr("df * (df - 1) DIV 2")), lit(0L)))
          .head.getLong(0)
      val prunedPairs = sumPairs(post.join(
        post.groupBy("sh").agg(count(lit(1)).as("d2"))
          .filter(col("d2") <= Dedup.MaxDf).select("sh"), Seq("sh")))
      val prefixPairs =
        sumPairs(Dedup.prefixPostings(shl).select("doc_id", "sh"))
      println(f"[scale] prefixcross x$s candidate id-pairs: " +
        f"maxdf=$prunedPairs%d prefix=$prefixPairs%d " +
        f"(${prunedPairs.toDouble / prefixPairs.max(1)}%.1f× fewer)")
      // the prefix filter's claim in its own regime: the pruned path
      // pays the C(df,2) bill of every under-cap boilerplate shingle,
      // the prefix path only its rare-first prefixes (measured r16:
      // ~3,000× fewer at every rung); a prefix that kept the full
      // postings would read at or above the pruned count
      gate(prunedPairs >= 100 * prefixPairs,
        s"x$s prefix filter failed to win its own regime: $prefixPairs " +
          s"prefix vs $prunedPairs maxdf candidate id-pairs (< 100× fewer)")
      paths.foreach { case (name, fn) =>
        // the (small: ≤ planted-pair count) output feeds the
        // equal-output gate below
        val (pairs, work) = workRecords(spark)(
          fn(docs).select(col("doc_a"), col("doc_b"))
            .as[(Long, Long)].collect().toSet)
        println(f"[scale] prefixcross x$s $name%-14s: $work%d work " +
          f"records, ${pairs.size} pairs")
        res.getOrElseUpdate(name,
          scala.collection.mutable.LinkedHashMap.empty) += s -> (work, pairs)
      }
      // equal outputs on this corpus (shared tails are rare): equal
      // counts could hide one path missing pair X and the other
      // missing pair Y, so the SETS are compared
      val Seq(a, b) = paths.map { case (n2, _) => res(n2)(s)._2 }
      gate(a == b, s"x$s outputs diverge: maxdf-only " +
        s"${(a -- b).take(3)}… prefix-only ${(b -- a).take(3)}… " +
        "— regime B is supposed to hold recall equal")
    }
    res.foreach { case (name, byScale) =>
      val a = fitAlpha(byScale.toSeq.map { case (sc, v) => (sc, v._1.toDouble) })
      println(f"[scale] prefixcross $name%-14s work alpha=$a%.2f")
    }
    gate.verdict()
  }
}
