package graft.llm

import graft.{Metrics, Session}
import graft.func.Confs.withSqlConfs
import org.apache.spark.graftshim.ListenerShim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale rehearsals (VERDICT r9 task 3, extended per VERDICT r10
  * tasks 2/3/5/6) — a standalone main, NOT part of the query board.
  * Everything written goes under [[Root]] in /tmp; /root/testdata is
  * never touched.
  *
  * Sections (select by passing names as args; no args = all — ~40 min
  * with the r13 additions):
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
  *   through [[Dedup.lshDuplicatesWith]] at the stricter 16×2
  *   banding and requires the r10-measured 97-doc recall gap to
  *   close to zero against the constructed truth.
  *
  * - `graph` (r11, VERDICT r10 task 2): a hubbed co-purchase corpus
  *   ≥10× the sf0.1 order count with engineered hub items (up to
  *   ~5% of orders each, LOWEST item ids so a naive lexicographic
  *   orientation would be maximally skewed). Runs the REAL
  *   [[graft.ads.ItemRank.copurchasePairs]] → triangles → itemRank
  *   pipeline, adjudicates triangle counts AND all 4-round rank
  *   scores exactly against driver recomputes, and measures the
  *   wedge-join balance (per-vertex wedge bound and per-task
  *   shuffle-read skew under AQE) for the degree-ordered
  *   orientation vs the naive one.
  *
  * - `bpe` (r11, VERDICT r10 task 6): runs [[Bpe.learnWith]] at a
  *   production-scale configuration (≥4k learned merges; batch 256,
  *   pool 1024) on a 10M-token letter-word corpus and records
  *   runtime and merge-table size. Board constants are untouched.
  *
  * - `stream` (r11): 5M events through the stateful streaming family
  *   ([[graft.streaming.StreamJobs.visitorTumble]] watermarked window
  *   agg; [[graft.streaming.StreamJobs.uvDedup]] watermark-evicted
  *   dedup state) via MemoryStream micro-batches — throughput in
  *   rows/s, state row counts from the progress API, and EXACT
  *   parity of the streamed window aggregates against a batch
  *   recompute of the identical event set.
  *
  * - `skewcorpus` (r13, VERDICT r11 task 5): corpus-scale equi-joins
  *   under mass duplication and a viral item. A 20k-doc corpus with
  *   ONE boilerplate text at 20% mass sends C(4000, 2) ≈ 8M
  *   candidate pairs through single (band, bsig) buckets — the hot
  *   shape no banding knob can split (identical texts share every
  *   band) — measured plain vs [[Dedup.lshDuplicatesCollapsed]]
  *   (exact-collapse first), with component/keeper equivalence
  *   adjudicated exactly. Plus a 150k-order co-purchase corpus with
  *   one item in 20% of orders, running the real itemRank/triangles
  *   pipelines with per-task balance capture — the degree-ordered
  *   orientation and partial aggregation are the devices that keep
  *   the viral item from concentrating a reducer.
  *
  * - `streamjoin` (r13, VERDICT r11 task 2): the stream-stream
  *   interval join at 5M events — the ONE stateful streaming shape
  *   whose state grows with the TIME WINDOW, not key cardinality.
  *   Two watermarked MemoryStream sides through the real
  *   [[graft.streaming.StreamJobs.intervalJoinBounds]] predicate in
  *   both reference shapes (J1 order×detail ±5 s; J2 payment×order
  *   [-30 min, 0]), asserting (a) EXACT parity of the joined
  *   (l_id, r_id) set with a batch run of the identical transform
  *   body over the identical rows, (b) join state bounded by the
  *   watermark horizon — it plateaus at ~rate×(window+delay) rows
  *   while events keep flowing, and collapses once a sentinel
  *   closes the watermark — never O(total events).
  *
  * - `ladder` (r13, VERDICT r11 task 1): the board's cost GROWTH,
  *   measured, not argued. A three-rung corpus ladder (x1 mirrors
  *   sf0.1 cardinalities per TESTDATA.md; x3 and x10 scale facts,
  *   catalog, time range, documents, and embeddings together — the
  *   TPC-H convention: growth adds days and SKUs, not just density)
  *   runs the six top-CPU board pipelines end-to-end with the Bench
  *   task-CPU listener and fits the log-log growth exponent of
  *   cpu_s per query. Targets: product_stats, copurchase, item_rank,
  *   triangles, lshDuplicates, embedKeepList — plus the scale-aware
  *   banding variant of the last one, because fixed 8×4 sign-LSH is
  *   the ONE shape with an expected super-linear term (chance
  *   candidates ~ bands·n²/2^bits) and the knob that removes it
  *   ([[Similarity.lshNearDupWith]], bits ≈ log2(n/targetBucket))
  *   must be demonstrated, not asserted.
  *
  * - `prefixcross` (r16, VERDICT r15 task 1): the lossless
  *   prefix-filter Jaccard A/B'd against the MaxDf-pruned path in
  *   the df-skewed / boilerplate regime the cap exists for (fragment
  *   df just UNDER the cap + rare tails), x1/x3/x10 cpu + candidate
  *   economy + equal-recall set check; plus a trap corpus where
  *   EVERY shared shingle exceeds MaxDf, pinning the recall hole
  *   (pruned finds 0 of 200 planted true pairs, prefix 200).
  *
  * - `rangeladder` (r16, VERDICT r15 task 2): the interval-overlap
  *   range join's growth at constant bucket occupancy (shuffle path
  *   pinned), the naive-theta cross-check, the wide-interval
  *   fan-out rung, and the hot-`__b`-bucket EXPANSION-skew rung —
  *   where AQE's size-based skew split is probed (and measured
  *   blind) and the operator's own bucketWidth knob is the
  *   mitigation that works.
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

  // graph corpus: ≥10× sf0.1's 150k orders (TESTDATA.md), with hub
  // items engineered into a fixed fraction of orders. Hub ids are the
  // SMALLEST in the catalog on purpose: a naive pa<pb orientation
  // sends every hub edge OUT of the hub, so the contrast between the
  // two orientations is measured at its worst case, not dodged by id
  // luck. Head items form the dense triangle-bearing core; tail items
  // are the long tail that only hubs connect to often enough to pass
  // the support filter.
  val GraphOrders = 1600000L
  val SlotsPerOrder = 5
  val HeadItems = 5000
  val TailItems = 100000
  val HeadProb = 0.40
  val HubSpec: Seq[(Long, Double)] = Seq((1L, 0.05), (2L, 0.03), (3L, 0.02))

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
  /** Sign-LSH bucket-occupancy target for the scale-aware banding:
    * chosen so the x1 rung (2k vectors) lands on the board's default
    * 4 bits exactly — the knob REDUCES to the oracle-locked banding
    * at board scale. Capped at 7 bits (8 bands × 7 = 56 ≤ 63).
    * Promoted to [[Similarity.ScaleBucket]] in r14 (the knob is now a
    * board operator, `q_llm_embed_keeplist_scaled`); kept as an alias
    * so ladder prose and code keep reading in one place. */
  val LadderVecBucket: Double = Similarity.ScaleBucket
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

  // interval-overlap ladder (r16, VERDICT r15 task 2): intervals per
  // side at x1, and the occupancy target that fixes the value domain
  // (domain = n·w/occ — the domain grows WITH the corpus at constant
  // per-bucket occupancy, which is the operator's intended tuning and
  // how a 100 TB time/value axis actually arrives).
  val RangeScales: Seq[Int] = Seq(1, 3, 10)
  val RangeBase = 500000L  // x1 big enough that fixed shuffle/codegen
                           // overhead doesn't swamp the exponent
  val RangeOcc = 16L

  /** Scale-aware sign-LSH band width — delegates to the operator-owned
    * [[Similarity.scaleBits]] (same formula the board query and its
    * SQL oracle replay). */
  def ladderBits(nVecs: Long): Int = Similarity.scaleBits(nVecs)

  /** Least-squares slope of ln(y) vs ln(scale) — the measured growth
    * exponent shared by the ladder-style sections. */
  private def fitAlpha(pts: Seq[(Int, Double)]): Double = {
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

  /** Operator-independent saturation probe, shared by every
    * gate-bearing section's failure path: a SHUFFLE-bearing hash
    * burst is provably LINEAR per row, so if its per-row cpu at a
    * long 32-thread burst exceeds its per-row cpu at a short one,
    * the BOX is superlinear in burst length. The shuffle leg is
    * load-bearing (r17 finding on a degraded host): the rangeladder
    * x10 rung cost 40–667 cpu_s across nine identical-corpus runs —
    * up to 17× the r16 quiet-box 37.5, non-monotonic, both guard
    * variants in an A/B — while pure compute (hash+agg, no shuffle)
    * stayed FLAT per row (26 ns short vs 5 ns long), memory 120 GB
    * free, steal ~3%. Only shuffle-heavy saturated stages degrade,
    * so the probe must shuffle to arbitrate; an operator-shaped
    * recheck cannot (its own variance is the thing under test). The
    * probe is a bare `repartition` — shuffle write + read of n rows
    * with NO aggregation state at all (r17-ADVICE, r18 lesson): the
    * original ∝-n key cardinality gave the 10× burst a 10× larger
    * reduce working set, and the first fix (fixed 20M keys) merely
    * moved the scale-variance to the MAP-side hash (40M rows over
    * 20M keys don't collapse at either burst, so per-partition map
    * state still grew with n — measured: the "calibrated" probe
    * read 0.8×–2.8× across three same-session runs on one box).
    * A state-free shuffle has nothing whose footprint can grow with
    * burst length: per-row cost is serialize + write + read,
    * provably flat, isolating exactly the shuffle-path weather the
    * probe arbitrates. */
  private def probePerRowCpu(spark: SparkSession, n: Long): Double =
    graft.Bench.stateFreeShuffleCpu(spark, n) / n

  /** Whether AQE's skew split fired in an EXECUTED plan — read from
    * the same QueryExecution that ran (`ds.count()` derives a fresh
    * one whose plan never adaptively runs — the r11 skew-rehearsal
    * trap, PLANS §r11(g)). ONE copy of the plan-string sniff (review
    * r19: it had grown four). */
  private def aqeSkewEngaged(
      qe: org.apache.spark.sql.execution.QueryExecution): Boolean =
    qe.executedPlan.toString.toLowerCase.contains("skew=true")

  /** Sections whose gates failed but were downgraded to ADVISORY by
    * the saturation probe. A downgrade is NOT a pass: unless
    * `GRAFT_GATE_ADVISORY=1` explicitly opts in to exit 0, [[main]]
    * exits [[AdvisoryExit]] so scripted runs keying off exit status
    * can distinguish "box was sick, re-run" from both success (0)
    * and a real gate failure (sys.error → 1). (r17-ADVICE: the
    * silent exit-0 downgrade masked genuine regressions in any
    * automated run.) */
  private val advisoryDowngrades =
    scala.collection.mutable.ArrayBuffer.empty[String]

  /** Distinct exit code for "gates failed under detected box
    * degradation": 0 = pass, 1 = real gate failure, 3 = advisory. */
  val AdvisoryExit = 3

  /** `GRAFT_LADDER_LENIENT=1` downgrades every gate failure to a
    * printed warning, for runs on known-noisy shared hosts. */
  private val Lenient = sys.env.get("GRAFT_LADDER_LENIENT").contains("1")

  /** What a section's failed gates amount to ([[gateOutcome]]). */
  private[llm] sealed trait GateOutcome
  private[llm] object GateOutcome {
    case object Pass extends GateOutcome
    /** Failed while the box read degraded: re-run before adjudicating. */
    case object Advisory extends GateOutcome
    case object Fail extends GateOutcome
  }

  /** The rule [[gateVerdict]] applies: no failed gate, or lenient
    * mode, passes; otherwise a saturation-probe pair whose long/short
    * per-row cpu ratio exceeds 1.5 (the box is superlinear in burst
    * length) downgrades to an advisory, and anything else fails.
    * `ratios` is by-name because the probe costs minutes and is only
    * worth running once a gate has failed. */
  private[llm] def gateOutcome(broken: Seq[String], lenient: Boolean,
      ratios: => Seq[Double]): GateOutcome =
    if (broken.isEmpty || lenient) GateOutcome.Pass
    else if (ratios.max > 1.5) GateOutcome.Advisory
    else GateOutcome.Fail

  /** Shared gate verdict for every measurement section: on failure,
    * [[probePerRowCpu]] arbitrates between a real regression (flat
    * probe → sys.error) and a host whose shuffle path degrades under
    * sustained saturation (superlinear probe → gates downgrade to an
    * ADVISORY, later sections still run, and the process ends with
    * [[AdvisoryExit]] unless GRAFT_GATE_ADVISORY=1 — results printed
    * above are complete either way). */
  private def gateVerdict(spark: SparkSession, section: String,
      broken: Seq[String]): Unit = {
    // TWO short/long pairs, degraded if EITHER reads superlinear:
    // the box's shuffle weather is gusty on the minute scale
    // (measured r18: ratios 0.68 / 2.82 / 3.33 across three
    // back-to-back pairs on one box), so a single pair can land
    // between gusts, read flat, and escalate a weather failure into
    // a hard error. The asymmetry is deliberate: a false DEGRADED
    // downgrades a real regression to an exit-3 advisory (re-run
    // adjudicates); a false FLAT turns weather into a phantom
    // regression.
    def ratios = (1 to 2).map { _ =>
      val (s, l) = (probePerRowCpu(spark, 40_000_000L),
        probePerRowCpu(spark, 400_000_000L))
      println(f"[scale] saturation probe: per-row cpu short " +
        f"${s * 1e9}%.3f ns vs 10x-burst ${l * 1e9}%.3f ns")
      l / s
    }
    gateOutcome(broken, Lenient, ratios) match {
      case GateOutcome.Pass => ()
      case GateOutcome.Advisory =>
        println(s"[scale] $section gates failed under DETECTED box " +
          "degradation (the known-linear probe is superlinear in burst " +
          "length) — gates are ADVISORY for this run; re-run on a quiet " +
          "box before adjudicating: " + broken.mkString("; "))
        advisoryDowngrades += section
      case GateOutcome.Fail =>
        sys.error(s"$section gates failed (results above are complete): " +
          broken.mkString("; "))
    }
  }

  /** One section's gates. A failed gate prints at once and is kept;
    * [[verdict]] hands them all to [[gateVerdict]] at section end.
    * Failures accumulate instead of throwing so that a noisy early
    * measurement cannot discard the expensive ones after it. */
  private final class Gates(section: String) {
    private val broken = scala.collection.mutable.ArrayBuffer.empty[String]
    def apply(ok: Boolean, msg: String): Unit = if (!ok) {
      println(s"[scale] GATE FAILED ($section): $msg")
      broken += msg
    }
    def verdict(spark: SparkSession): Unit =
      gateVerdict(spark, section, broken.toSeq)
  }

  /** Wall + worst-stage task balance for one run — ONE copy of the
    * measure idiom the balance-measuring sections share. Balance is
    * read from task DURATIONS, not shuffle reads: a band-join task
    * iterating one giant bucket shows in its runtime even while its
    * shuffle-read stays tiny. Returns (result, max/mean task-duration
    * ratio of the worst stage among those whose tasks total over
    * `minStageMs`, max task seconds). */
  private def balMeasured[A](spark: SparkSession)(tag: String,
      minStageMs: Long = 2000L)(f: => A): (A, Double, Double) = {
    val (r, m) = Metrics.around(spark)(f)
    val (mx, mean, n) = m.stages.map(_.taskRunMs)
      .filter(_.sum > minStageMs)
      .map(d => (d.max, d.sum.toDouble / d.size, d.size))
      .maxByOption(t => t._1 / t._2.max(1.0)).getOrElse((0L, 0.0, 0))
    val ratio = mx / mean.max(1.0)
    println(f"[scale] $tag: ${m.wallS}%.1f s; worst stage task-duration " +
      f"max/mean = $ratio%.1f× ($n tasks, max ${mx / 1e3}%.1f s)")
    (r, ratio, mx / 1e3)
  }

  /** Warm-rep plateau of [[balMeasured]] — min over 2 reps, the
    * PLANS adjudication rule applied to gate inputs (a single rep's
    * max-task carries 0.4–4.8 s of GC/IO attribution, r17). */
  private def balPlateau[A](spark: SparkSession)(tag: String)(
      f: => A): (A, Double, Double) = {
    val (_, rt1, mx1) = balMeasured(spark)(tag)(f)
    val (r2, rt2, mx2) = balMeasured(spark)(s"$tag (rep 2)")(f)
    (r2, math.min(rt1, rt2), math.min(mx1, mx2))
  }

  /** (result, task-cpu seconds, wall seconds) of one growth-ladder
    * run; the GC first keeps earlier runs' garbage off its bill. */
  private def cpuWall[A](spark: SparkSession)(f: => A): (A, Double, Double) = {
    System.gc()
    val (r, m) = Metrics.around(spark)(f)
    (r, m.cpuS, m.wallS)
  }

  def main(args: Array[String]): Unit = {
    val all = Set("closure", "vocab", "recall", "graph", "bpe", "stream",
      "streamjoin", "streamasof", "streamoverlap", "streamoverlapsalt",
      "ladder", "skewcorpus", "prefixcross", "rangeladder", "rangepoints",
      "overlapsalt", "scopedsession")
    val sections = if (args.isEmpty) all else {
      val s = args.toSet
      require(s.subsetOf(all), s"unknown sections: ${s.diff(all)}")
      s
    }
    val spark = Session.local("graft-scale-rehearsal")
    // the recorded gates were calibrated at 32 shuffle partitions
    spark.conf.set("spark.sql.shuffle.partitions", "32")

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
    val graphDir = s"$Root/graph"
    if (sections("graph")) genGraphCorpus(spark, graphDir)
    val ladderDir = s"$Root/ladder"
    if (sections("ladder"))
      LadderScales.foreach(s => genLadderRung(spark, s"$ladderDir/x$s", s))

    if (sections("closure")) closureSection(spark, closureDir)
    if (sections("vocab")) vocabSection(spark, vocabDir)
    if (sections("recall")) recallSection(spark, closureDir)
    if (sections("graph")) graphSection(spark, graphDir)
    if (sections("bpe")) bpeSection(spark, bpeDir)
    if (sections("stream")) streamSection(spark)
    if (sections("streamjoin")) streamJoinSection(spark)
    if (sections("streamasof")) streamAsOfSection(spark)
    if (sections("streamoverlap")) streamOverlapSection(spark)
    if (sections("streamoverlapsalt")) streamOverlapSaltSection(spark)
    if (sections("scopedsession")) scopedSessionSection(spark)
    if (sections("ladder")) ladderSection(spark, ladderDir)
    if (sections("skewcorpus")) skewCorpusSection(spark, s"$Root/skewcorpus")
    if (sections("prefixcross")) prefixCrossSection(spark, s"$Root/prefix")
    if (sections("rangeladder")) rangeLadderSection(spark)
    if (sections("rangepoints")) rangePointsSection(spark)
    if (sections("overlapsalt")) overlapSaltSection(spark)

    spark.stop()
    if (advisoryDowngrades.nonEmpty) {
      println("[scale] DONE with ADVISORY downgrades: " +
        advisoryDowngrades.mkString(", "))
      if (!sys.env.get("GRAFT_GATE_ADVISORY").contains("1"))
        sys.exit(AdvisoryExit)
    } else println("[scale] DONE")
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

  private def genGraphCorpus(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    if (complete(dir, "lineitem")) return
    time("generate graph corpus (hubbed co-purchase orders)") {
      val hubs = HubSpec // local: don't capture the outer object
      val (slots, headP, nHead, nTail) =
        (SlotsPerOrder, HeadProb, HeadItems, TailItems)
      spark.range(GraphOrders).flatMap { o =>
        val rnd = new java.util.Random(
          o * 6364136223846793005L + 1442695040888963407L)
        val items = scala.collection.mutable.ArrayBuffer.empty[Long]
        hubs.foreach { case (id, p) =>
          if (rnd.nextDouble() < p) items += id
        }
        (0 until slots).foreach { _ =>
          if (rnd.nextDouble() < headP) items += 1000L + 1 + rnd.nextInt(nHead)
          else items += 100000L + 1 + rnd.nextInt(nTail)
        }
        items.map(pk => (o, pk))
      }.toDF("l_orderkey", "l_partkey")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    }
  }

  // ---- (closure) the >4M-edge closure on real LSH output -----------

  private def closureSection(spark: SparkSession, closureDir: String): Unit = {
    println(s"[scale] === closure rehearsal ($closureDir) ===")
    val (pairs, nPairs) = time("lshDuplicates (shingle→minhash→band→verify)") {
      val p = Dedup.lshDuplicates(spark, closureDir)
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
      time(s"lshDuplicatesWith($RecallBands, $RecallRows)") {
        val p = Dedup
          .lshDuplicatesWith(spark, closureDir, RecallBands, RecallRows)
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

  // ---- (stream) stateful streaming throughput + batch parity -------

  /** Synthetic event row for the streaming rehearsal (a stable
    * top-of-object case class so the MemoryStream encoder resolves). */
  case class RehEv(event_id: Long, user_id: Long, event_type: String,
    value: Double, ts: java.sql.Timestamp)

  private def streamSection(spark: SparkSession): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    println("[scale] === streaming rehearsal (5M events, MemoryStream) ===")
    val nEvents = 5000000L
    val nBatches = 10
    val users = 100000L
    val types = Array("view", "click", "cart", "order")
    val base = 1616300000000L // fixed epoch ms; 1 ms/event → ~83 min sim
    def ev(i: Long): RehEv = RehEv(i, i % users, types((i % 4).toInt),
      (i % 100).toDouble, new java.sql.Timestamp(base + i))
    // the batch twin of ev(), expression-for-expression — parity is
    // meaningful only because both sides derive from the same id
    val batchEvents = spark.range(nEvents).select(
      col("id").as("event_id"),
      (col("id") % users).as("user_id"),
      element_at(array(types.map(lit).toIndexedSeq: _*),
        (col("id") % 4 + 1).cast("int")).as("event_type"),
      (col("id") % 100).cast("double").as("value"),
      timestamp_millis(lit(base) + col("id")).as("ts"))

    // driver-side generation happens OUTSIDE the timed windows — the
    // measurement is the engine's micro-batch path (encode, shuffle,
    // state read/write, sink), not the rehearsal's row synthesis
    val per = nEvents / nBatches
    val batches = (0 until nBatches)
      .map(b => (b * per until (b + 1) * per).map(ev))

    // --- visitorTumble: watermarked 10 s window agg, once per state
    // store provider (the default HDFS-backed store vs RocksDB — the
    // production knob when per-batch state-commit latency dominates,
    // which it does at this batch size) --------------------------------
    val sentinelTs = base + 1000000000L
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val defaultProvider = spark.conf.get(providerKey)
    val rocks = "org.apache.spark.sql.execution.streaming" +
      ".state.RocksDBStateStoreProvider"
    // returns (secs, streamed window groups) — the output map is
    // collected INSIDE the run, from a per-tag view name, so the
    // second provider's run cannot clobber the first's sink before
    // parity is adjudicated (earlier shape parity-checked only the
    // last provider despite the A/B framing)
    def runTumble(tag: String, provider: Option[String])
        : (Double, Map[(Long, Long, String), (Long, Double)]) = {
      provider.foreach(spark.conf.set(providerKey, _))
      try {
        val src = MemoryStream[RehEv]
        val view = "scale_vt_" + tag.replaceAll("[^a-zA-Z0-9]", "_")
        val q = graft.streaming.StreamJobs.visitorTumble(src.toDF())
          .writeStream.format("memory").queryName(view)
          .outputMode("append").start()
        val t0 = System.nanoTime()
        batches.foreach { data =>
          src.addData(data)
          q.processAllAvailable()
        }
        val secs = (System.nanoTime() - t0) / 1e9
        // far-future sentinel drives the watermark past every window
        src.addData(RehEv(nEvents, 0L, "view", 0.0,
          new java.sql.Timestamp(sentinelTs)))
        q.processAllAvailable()
        val vtState = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        q.stop()
        println(f"[scale] visitorTumble[$tag]: $nEvents events in " +
          f"$secs%.1f s = ${nEvents / secs / 1e6}%.2f M rows/s " +
          s"($nBatches micro-batches, final state rows $vtState)")
        val out = spark.table(view)
          .filter(unix_millis(col("stt")) < sentinelTs - 10000)
          .select(unix_millis(col("stt")), col("ar"), col("ch"),
            col("pv_ct"), col("dur_sum"))
          .as[(Long, Long, String, Long, Double)].collect()
          .map(r => (r._1, r._2, r._3) -> (r._4, r._5)).toMap
        (secs, out)
      } finally provider.foreach(_ => spark.conf.set(providerKey,
        defaultProvider))
    }
    val (_, streamedRocks) = runTumble("rocksdb", Some(rocks))
    val (_, streamed) = runTumble("default-hdfs", None)
    // the batch twin of visitorTumble's aggregate, minus the watermark
    val batchAgg = batchEvents
      .groupBy(window(col("ts"), "10 seconds"),
        (col("user_id") % 10).as("ar"), col("event_type").as("ch"))
      .agg(count(lit(1)).as("pv_ct"), sum(col("value")).as("dur_sum"))
      .select(unix_millis(col("window.start")), col("ar"), col("ch"),
        col("pv_ct"), col("dur_sum"))
      .as[(Long, Long, String, Long, Double)].collect()
      .map(r => (r._1, r._2, r._3) -> (r._4, r._5)).toMap
    require(streamed == batchAgg,
      s"stream/batch window parity broken: ${streamed.size} streamed " +
        s"groups vs ${batchAgg.size} batch groups")
    require(streamedRocks == batchAgg,
      s"RocksDB-provider run diverges from the batch recompute: " +
        s"${streamedRocks.size} groups vs ${batchAgg.size}")
    println(s"[scale] visitorTumble parity: ${streamed.size} window " +
      "groups identical to the batch recompute (counts AND sums), " +
      "BOTH state-store providers")

    // --- uvDedup: watermark-evicted keyed dedup state ---------------
    val src2 = MemoryStream[RehEv]
    val q2 = graft.streaming.StreamJobs.uvDedup(src2.toDF())
      .writeStream.format("memory").queryName("scale_uv")
      .outputMode("append").start()
    val t1 = System.nanoTime()
    batches.foreach { data =>
      src2.addData(data)
      q2.processAllAvailable()
    }
    val secs2 = (System.nanoTime() - t1) / 1e9
    val uvState = q2.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q2.stop()
    val uv = spark.table("scale_uv").select(col("mid")).distinct().count()
    println(f"[scale] uvDedup: $nEvents events in $secs2%.1f s = " +
      f"${nEvents / secs2 / 1e6}%.2f M rows/s (state rows $uvState " +
      s"= distinct keys, output $uv distinct mids)")
    require(uv == users && spark.table("scale_uv").count() == users,
      "uvDedup must emit each (mid, day) exactly once")
    require(uvState <= users * 2,
      s"dedup state $uvState grew past the key space — eviction broken?")
  }

  // ---- (graph) hubbed triangles + itemRank, exactly adjudicated ----

  private def graphSection(spark: SparkSession, graphDir: String): Unit = {
    import spark.implicits._
    println(s"[scale] === hubbed-graph rehearsal ($graphDir) ===")
    val li = graft.Tables.lineitem(spark, graphDir)
    println(s"[scale] corpus: ${li.select("l_orderkey").distinct().count()} " +
      s"orders, ${li.count()} lineitem rows " +
      s"(sf0.1 = 150k orders; ≥10× mandate)")

    // the REAL pipeline under measurement — support-filtered pairs,
    // eagerly pinned: three consumers (triangles, itemRank, driver
    // adjudicators) must see the identical graph
    val (pairs, nEdges) = time("copurchasePairs (the corpus-scale shuffle)") {
      val p = graft.ads.ItemRank.copurchasePairs(spark, graphDir)
        .localCheckpoint()
      (p, p.count())
    }
    println(s"[scale] support-filtered pair graph: $nEdges edges")

    // ---- wedge balance: degree-ordered vs naive orientation --------
    val deg = pairs.select(col("pa").as("v"))
      .unionByName(pairs.select(col("pb").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    val degStats = deg.agg(max("deg"), sum("deg")).head()
    val maxDeg = degStats.getLong(0)
    println(s"[scale] max vertex degree: $maxDeg " +
      f"(hub engineered; √(2E) = ${math.sqrt(2.0 * nEdges)}%.0f)")
    val fwd = expr("da < db OR (da = db AND pa < pb)")
    val oriented = pairs
      .join(deg.select(col("v").as("pa"), col("deg").as("da")), Seq("pa"))
      .join(deg.select(col("v").as("pb"), col("deg").as("db")), Seq("pb"))
      .select(when(fwd, col("pa")).otherwise(col("pb")).as("src"))
    def wedgeProfile(srcs: DataFrame, tag: String): (Long, Long) = {
      val r = srcs.groupBy("src").agg(count(lit(1)).as("d"))
        .agg(sum(expr("d * (d - 1) DIV 2")).as("w"),
          max(expr("d * (d - 1) DIV 2")).as("m"),
          max("d").as("od")).head()
      val (w, m, od) = (r.getLong(0), r.getLong(1), r.getLong(2))
      println(f"[scale] $tag orientation: wedge-join rows = $w " +
        f"(max single-vertex share $m = ${100.0 * m / w}%.1f%%, " +
        s"max out-degree $od)")
      (w, m)
    }
    val (wOrd, mOrd) =
      wedgeProfile(oriented, "degree-ordered")
    val (wNaive, mNaive) =
      wedgeProfile(pairs.select(col("pa").as("src")), "naive pa<pb")
    require(mOrd * 10 < wOrd,
      "degree-ordered orientation failed to spread the hub's wedges")
    println(f"[scale] orientation wins ${wNaive.toDouble / wOrd}%.1f× on " +
      f"total wedges and ${mNaive.toDouble / mOrd}%.0f× on the worst " +
      "vertex — the hub never fans out its neighborhood")

    // ---- distributed triangles, with per-task skew capture ---------
    val (triRow, skew) = Metrics.around(spark) {
      time("trianglesOf (distributed, AQE)") {
        graft.ads.ItemRank.trianglesOf(pairs).head()
      }
    }
    val (dEdges, dWedges, dTris) =
      (triRow.getLong(0), triRow.getLong(1), triRow.getLong(2))
    println(s"[scale] distributed: n_edges=$dEdges n_wedges=$dWedges " +
      s"n_triangles=$dTris clustering_ppm=${triRow.getLong(3)}")
    // per-task shuffle-read balance of the triangle job's stages: the
    // wedge join is the one at risk — a hub-skewed join would put its
    // stage's max task far above the mean
    val readRecs = skew.stages.map(st => st.id -> st.taskShuffleReadRecs)
    readRecs
      .map { case (sid, rs) =>
        (sid, rs.size, rs.sum, rs.max, rs.sum.toDouble / rs.size) }
      .filter(_._3 > 0).sortBy(-_._3).take(4)
      .foreach { case (sid, n, sum0, mx, mean) =>
        println(f"[scale] stage $sid: $n tasks, $sum0 shuffle-read rows, " +
          f"max/mean = $mx/${mean}%.0f = ${mx / mean}%.1f×")
      }
    val worst = readRecs.map(_._2).filter(_.sum > 100000)
      .map(rs => rs.max / (rs.sum.toDouble / rs.size)).maxOption
    worst.foreach { w =>
      println(f"[scale] worst max/mean task skew on a >100k-row stage: $w%.1f×")
      require(w < 8.0,
        f"wedge-join stage skew $w%.1f× — orientation not holding under AQE")
    }

    // ---- driver adjudication: triangles ----------------------------
    val es = time("collect pair graph for adjudication") {
      pairs.select(col("pa"), col("pb"), col("support"))
        .as[(Long, Long, Long)].collect()
    }
    require(es.length == nEdges)
    val degM = new java.util.HashMap[Long, Long]()
    es.foreach { case (a, b, _) =>
      degM.merge(a, 1L, _ + _); degM.merge(b, 1L, _ + _)
    }
    time("driver triangle recompute") {
      def before(a: Long, b: Long): Boolean = {
        val da = degM.get(a); val db = degM.get(b)
        da < db || (da == db && a < b)
      }
      val eset = new java.util.HashSet[Long](es.length * 2)
      def pack(a: Long, b: Long): Long = (a << 32) | b
      val out = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
      es.foreach { case (a, b, _) =>
        val (s, d) = if (before(a, b)) (a, b) else (b, a)
        eset.add(pack(s, d))
        out.computeIfAbsent(s, _ => new java.util.ArrayList[Long]()).add(d)
      }
      var wedges = 0L
      var tris = 0L
      out.forEach { (_, ns) =>
        // wedge order (x before y) is by (ddeg, dst) — sort out-lists
        val arr = new Array[Long](ns.size())
        (0 until ns.size()).foreach(i => arr(i) = ns.get(i))
        val sorted = arr.sortBy(d => (degM.get(d), d))
        var i = 0
        while (i < sorted.length) {
          var j = i + 1
          while (j < sorted.length) {
            wedges += 1
            if (eset.contains(pack(sorted(i), sorted(j)))) tris += 1
            j += 1
          }
          i += 1
        }
      }
      var undWedges = 0L
      degM.forEach((_, d) => undWedges += d * (d - 1) / 2)
      println(s"[scale] driver recompute: n_edges=${es.length} " +
        s"n_wedges=$undWedges orientedWedges=$wedges n_triangles=$tris")
      require(dEdges == es.length && dWedges == undWedges && dTris == tris,
        s"triangle adjudication failed: distributed " +
          s"($dEdges, $dWedges, $dTris) vs driver " +
          s"(${es.length}, $undWedges, $tris)")
      require(wedges == wOrd,
        "oriented wedge profile disagrees with the driver recompute")
    }

    // ---- driver adjudication: itemRank (all scores, all rounds) ----
    val ranked = time("itemRankOf (distributed, 4 rounds)") {
      graft.ads.ItemRank.itemRankOf(pairs)
        .as[(Long, Long)].collect().toMap
    }
    time("driver rank recompute + compare") {
      val wOut = new java.util.HashMap[Long, Long]()
      es.foreach { case (a, b, w) =>
        wOut.merge(a, w, _ + _); wOut.merge(b, w, _ + _)
      }
      var scores = new java.util.HashMap[Long, Long]()
      wOut.forEach((v, _) => scores.put(v, 1000000L))
      (1 to graft.ads.ItemRank.Rounds).foreach { _ =>
        val cin = new java.util.HashMap[Long, Long]()
        es.foreach { case (a, b, w) =>
          cin.merge(b, scores.get(a) * w / wOut.get(a), _ + _)
          cin.merge(a, scores.get(b) * w / wOut.get(b), _ + _)
        }
        val next = new java.util.HashMap[Long, Long]()
        cin.forEach { (v, c) =>
          next.put(v, graft.ads.ItemRank.BasePpm +
            graft.ads.ItemRank.DampPpm * c / 1000000L)
        }
        scores = next
      }
      require(ranked.size == scores.size(),
        s"rank node sets differ: ${ranked.size} vs ${scores.size()}")
      var bad = 0L
      scores.forEach { (v, s) =>
        if (!ranked.get(v).contains(s)) bad += 1
      }
      println(s"[scale] itemRank adjudication: ${ranked.size} nodes, " +
        s"$bad score mismatches across ${graft.ads.ItemRank.Rounds} rounds")
      require(bad == 0, s"$bad itemRank scores differ from the driver replay")
    }
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

  /** toRdd.count() (the BenchOne device) evaluates THIS df's full
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
      Bpe.learnWith(docs, BpeRounds, BpeBatchCap, BpeCandCap)
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

  // ---- (skewcorpus) mass duplication + viral item ------------------

  val SkewDocs = 20000L
  /** One boilerplate text at this fraction of the corpus. */
  val SkewDupFrac = 5 // every 5th doc → 20%
  val SkewNearClusters = 500
  val SkewViralOrders = 150000L
  val SkewViralProb = 0.20

  private def genSkewCorpus(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    if (complete(dir)) return
    time("generate skew corpus (20% boilerplate + clusters)") {
      val (dupEvery, nClusters, vocab) =
        (SkewDupFrac, SkewNearClusters, LadderDocVocab)
      val boiler = (0 until 60).map(t => s"boiler$t").mkString(" ")
      spark.range(SkewDocs).map { i =>
        if (i % dupEvery == 0) (i, boiler)
        else {
          // cluster ids are the first 4·nClusters non-boilerplate docs
          val j = i - i / dupEvery - 1 // rank among non-boilerplate
          if (j < 4L * nClusters) {
            val c = j / 4
            val base = (0 until 60).map(t => s"s${c}b$t").mkString(" ")
            (i, s"$base s${c}u${j % 4}")
          } else {
            val rnd = new java.util.Random(i * 6364136223846793005L + 31L)
            (i, (0 until 60).map(_ => s"w${rnd.nextInt(vocab)}")
              .mkString(" "))
          }
        }
      }.toDF("doc_id", "text")
        .withColumn("lang", lit("en"))
        .withColumn("source", lit("skew"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
  }

  private def genViralOrders(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    if (complete(dir, "lineitem")) return
    time("generate viral-item co-purchase corpus") {
      val (nComms, comm, viralP) =
        (LadderParts.toLong / LadderCommunity, LadderCommunity, SkewViralProb)
      spark.range(SkewViralOrders).flatMap { o =>
        val rnd = new java.util.Random(o * 6364136223846793005L + 43L)
        val c = math.floorMod(rnd.nextLong(), nComms)
        val items = scala.collection.mutable.ArrayBuffer.empty[Long]
        if (rnd.nextDouble() < viralP) items += 1L // the viral item
        (0 until LadderLines).foreach { _ =>
          items += 2L + c * comm + rnd.nextInt(comm)
        }
        items.map(pk => (o, pk))
      }.toDF("l_orderkey", "l_partkey")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    }
  }

  private def skewCorpusSection(spark: SparkSession, dir: String): Unit = {
    println("[scale] === skewed-corpus equi-join rehearsal ===")
    genSkewCorpus(spark, dir)
    genViralOrders(spark, dir)
    def measured[A](tag: String)(f: => A): A =
      balMeasured(spark)(tag, minStageMs = 5000L)(f)._1

    // --- mass duplication: plain vs exact-collapsed LSH ----------
    val plainPairs = measured("lshDuplicates PLAIN (20% boilerplate)") {
      val p = Dedup.lshDuplicates(spark, dir)
        .select(col("doc_a"), col("doc_b")).localCheckpoint()
      val n = p.count()
      println(s"[scale]   plain verified pairs: $n (quadratic: the " +
        s"4,000-doc boilerplate cluster alone is ${4000L * 3999 / 2})")
      p
    }
    val collapsedPairs = measured("lshDuplicatesCollapsed (reps only)") {
      val p = Dedup.lshDuplicatesCollapsed(spark, dir)
        .select(col("doc_a"), col("doc_b")).localCheckpoint()
      println(s"[scale]   collapsed verified pairs: ${p.count()} " +
        "(linear: rep-level near-dups only)")
      p
    }
    // component/keeper equivalence: collapsed pairs + exact-group
    // edges must rebuild EXACTLY the plain labeling
    val docs = graft.Tables.documents(spark, dir)
    val reps = docs.groupBy("text").agg(min("doc_id").as("rep"))
    val exactEdges = docs.join(reps, Seq("text"))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    val plainK = Dedup.closureKeepers(plainPairs)
      .withColumnRenamed("keeper", "pk")
    val collK = Dedup.closureKeepers(
      collapsedPairs.unionByName(exactEdges))
      .withColumnRenamed("keeper", "ck")
    val (nP, nC) = (plainK.count(), collK.count())
    val joined = plainK.join(collK, Seq("doc_id"))
    val nJ = joined.count()
    val wrong = joined.filter(col("pk") =!= col("ck")).count()
    println(s"[scale] keeper equivalence: plain labels $nP, collapsed " +
      s"labels $nC, joined $nJ, mismatches $wrong")
    require(wrong == 0 && nP == nC && nJ == nP,
      "exact-collapse changed the component labeling")

    // --- viral item through the co-purchase graph family ---------
    val pairs = measured("copurchasePairs (viral item in 20% of orders)") {
      graft.ads.ItemRank.copurchasePairs(spark, dir).localCheckpoint()
    }
    val vDeg = pairs.filter(col("pa") === 1L || col("pb") === 1L).count()
    println(s"[scale]   viral item degree in the support-filtered " +
      s"graph: $vDeg")
    measured("itemRank over the viral graph") {
      graft.ads.ItemRank.itemRankOf(pairs)
        .queryExecution.toRdd.count(): Unit
    }
    measured("triangles over the viral graph") {
      graft.ads.ItemRank.trianglesOf(pairs)
        .queryExecution.toRdd.count(): Unit
    }
  }

  // ---- (streamjoin) stream-stream interval join at volume ----------

  /** Left/right rows for the interval-join rehearsal (stable
    * top-of-object case classes for the MemoryStream encoders). */
  case class RehL(l_id: Long, lkey: Long, lts: java.sql.Timestamp,
    lval: Double)
  case class RehR(r_id: Long, rkey: Long, rts: java.sql.Timestamp,
    rval: Double)

  private def streamJoinSection(spark: SparkSession): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    println("[scale] === stream-stream interval-join rehearsal " +
      "(5M events total, MemoryStream) ===")
    val base = 1616300000000L

    /** One shape end-to-end over prebuilt micro-batches. Each stream
      * must be fed in ITS OWN event-time order (out-of-orderness
      * bounded by the 10 s watermark delay) — that is the streaming
      * contract; an earlier draft fed the lagging side keyed to the
      * other side's clock and Spark correctly dropped the rows as
      * late data. The same rows are reused verbatim as the batch
      * twin's input, so parity compares the identical transform body
      * over the identical rows. Requires inside. */
    def run(tag: String, lRows: IndexedSeq[Seq[RehL]],
            rRows: IndexedSeq[Seq[RehR]], lo: String, hi: String,
            horizonS: Long, stepMs: Long, expectPlateau: Boolean): Unit = {
      val nBatches = lRows.size
      val nPerSide = lRows.map(_.size.toLong).sum
      val per = (nPerSide / nBatches).toInt

      val lSrc = MemoryStream[RehL]
      val rSrc = MemoryStream[RehR]
      val joined = graft.streaming.StreamJobs.intervalJoinBounds(
        lSrc.toDF(), rSrc.toDF(), "lkey", "rkey", "lts", "rts",
        lo, hi, delay = "10 seconds")
        .select(col("l_id"), col("r_id"), col("lkey"))
      val view = "scale_sj_" + tag
      val q = joined.writeStream.format("memory").queryName(view)
        .outputMode("append").start()
      val states = scala.collection.mutable.ArrayBuffer.empty[Long]
      val t0 = System.nanoTime()
      (0 until nBatches).foreach { b =>
        lSrc.addData(lRows(b))
        rSrc.addData(rRows(b))
        q.processAllAvailable()
        states += q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      }
      val secs = (System.nanoTime() - t0) / 1e9
      // sentinels on BOTH sides drive both watermarks past every row;
      // disjoint negative keys so they can never join
      val far = new java.sql.Timestamp(base + 4000000000L)
      lSrc.addData(RehL(-1L, -1L, far, 0.0))
      rSrc.addData(RehR(-2L, -2L, far, 0.0))
      q.processAllAvailable()
      val finalState = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      q.stop()
      val horizonRows = 2 * (per + horizonS * 1000 / stepMs)
      println(f"[scale] intervalJoin[$tag]: ${2 * nPerSide} events in " +
        f"$secs%.1f s = ${2 * nPerSide / secs / 1e6}%.2f M rows/s; " +
        s"state rows per batch: ${states.mkString(", ")} " +
        s"(max ${states.max}, ~horizon bound $horizonRows, " +
        s"after sentinel flush $finalState)")
      require(states.max < nPerSide,
        s"join state ${states.max} is O(total events), not " +
          s"watermark-bounded (${2 * nPerSide} rows ingested)")
      if (expectPlateau)
        require(states.last <= (states(nBatches - 4) * 13) / 10,
          s"state kept growing past the horizon plateau: " +
            states.mkString(", "))
      require(finalState <= 10,
        s"sentinel flush left $finalState buffered rows")

      val streamed = spark.table(view).filter(col("lkey") >= 0)
        .select(col("l_id"), col("r_id")).as[(Long, Long)]
        .collect().toSet
      // batch twin: the SAME transform body (watermarks are no-ops in
      // batch) over the SAME rows
      val batch = graft.streaming.StreamJobs.intervalJoinBounds(
        spark.createDataset(lRows.flatten).toDF(),
        spark.createDataset(rRows.flatten).toDF(),
        "lkey", "rkey", "lts", "rts", lo, hi, delay = "10 seconds")
        .select(col("l_id"), col("r_id")).as[(Long, Long)]
        .collect().toSet
      require(streamed == batch,
        s"stream/batch interval-join parity broken: ${streamed.size} " +
          s"streamed pairs vs ${batch.size} batch pairs")
      println(s"[scale] intervalJoin[$tag] parity: ${streamed.size} " +
        "joined pairs EXACTLY equal the batch run of the same body")
    }

    def chunk[A](xs: Seq[A], nBatches: Int): IndexedSeq[Seq[A]] = {
      val per = xs.size / nBatches
      (0 until nBatches).map(b =>
        if (b == nBatches - 1) xs.drop(b * per)
        else xs.slice(b * per, (b + 1) * per))
    }

    // J1 twin (OrderWideApp2 order×detail ±5 s): 1 kHz event time,
    // right jitter sweeps ±9 s (inside the 10 s delay, so nothing is
    // late) and 11/19 of pairs land in the ±5 s window
    locally {
      val (n, nb, step) = (1500000L, 10, 1L)
      val l = chunk((0L until n).map(i =>
        RehL(i, i, new java.sql.Timestamp(base + i * step),
          i.toDouble)), nb)
      val r = chunk((0L until n).map(i =>
        RehR(i, i, new java.sql.Timestamp(
          base + i * step + (i % 19 - 9) * 1000), i.toDouble))
        .sortBy(_.rts.getTime), nb)
      run("pm5s", l, r, lo = "5 seconds", hi = "5 seconds",
        horizonS = 15, stepMs = step, expectPlateau = false)
    }
    // J2 twin (PaymentWideApp2 payment×order [-30 min, 0]): orders
    // (right) arrive in rts order at 250 Hz; each payment (left)
    // fires off_i = (i mod 3600) s AFTER its order and the payment
    // stream arrives in ITS event-time order. Total sim time
    // (4000 s) exceeds the 1800 s window, so the state curve must
    // PLATEAU at ~rate×(window+delay) while events keep flowing —
    // the state-grows-with-the-window shape, bounded: the ORDER side
    // buffers the full 30 min window (a payment may still claim it),
    // the payment side only the watermark delay
    locally {
      val (n, nb, step) = (1000000L, 10, 4L)
      val r = chunk((0L until n).map(i =>
        RehR(i, i, new java.sql.Timestamp(base + i * step),
          i.toDouble)), nb)
      val l = chunk((0L until n).map { i =>
        // offsets taper near the sim end so every payment's event
        // time stays inside the simulated range — otherwise payments
        // "after the end" buffer until the sentinel and obscure the
        // plateau the shape exists to demonstrate
        val off = math.min(i % 3600, (n - 1 - i) * step / 1000)
        RehL(i, i, new java.sql.Timestamp(
          base + i * step + off * 1000), i.toDouble)
      }.sortBy(_.lts.getTime), nb)
      run("back30m", l, r, lo = "30 minutes", hi = "0 seconds",
        horizonS = 1810, stepMs = step, expectPlateau = true)
    }
  }

  /** Streaming as-of join at volume: state must plateau at
    * O(keys + rate × delay) — the retained-latest-right dimension
    * residue plus the watermark-transient buffers — NEVER O(events).
    * Two ingest sizes with FIXED micro-batch size (so the watermark
    * lag buffers the same transient either way): peak state bytes at
    * 2× the events must stay ~flat, the post-flush state must equal
    * one retained right per key, and the streamed output must equal
    * the batch composition row-for-row (nulls included). */
  private def streamAsOfSection(spark: SparkSession): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    println("[scale] === streaming as-of rehearsal (MemoryStream) ===")
    val base = 1616300000000L
    val keys = 1000L
    val perBatch = 100000L

    // (peak state bytes, final state rows) for nLefts + nLefts/4 rights
    def run(nLefts: Long, checkParity: Boolean): (Long, Long) = {
      val nRights = nLefts / 4
      val nb = (nLefts / perBatch).toInt
      val lSrc = MemoryStream[RehL]
      val rSrc = MemoryStream[RehR]
      val view = s"scale_asof_$nLefts"
      val q = graft.streaming.StreamJobs.asOfLatest(
          lSrc.toDF(), rSrc.toDF(), "lkey", "rkey", "lts", "rts",
          "l_id", "r_id", delay = "10 seconds")
        .writeStream.format("memory").queryName(view)
        .outputMode("append").start()
      val mem = scala.collection.mutable.ArrayBuffer.empty[Long]
      val t0 = System.nanoTime()
      (0 until nb).foreach { b =>
        val (l0, l1) = (nLefts * b / nb, nLefts * (b + 1) / nb)
        lSrc.addData((l0 until l1).map(i =>
          RehL(i, i % keys, new java.sql.Timestamp(base + i), 0.0)))
        val (r0, r1) = (nRights * b / nb, nRights * (b + 1) / nb)
        rSrc.addData((r0 until r1).map(j =>
          RehR(j, j % keys, new java.sql.Timestamp(base + j * 4), 0.0)))
        q.processAllAvailable()
        mem += q.lastProgress.stateOperators.map(_.memoryUsedBytes).sum
      }
      val secs = (System.nanoTime() - t0) / 1e9
      // sentinels on both sides push the watermark past every real row
      val far = new java.sql.Timestamp(base + 4000000000L)
      lSrc.addData(RehL(-1L, -1L, far, 0.0))
      rSrc.addData(RehR(-2L, -2L, far, 0.0))
      q.processAllAvailable()
      val finalRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      q.stop()
      val total = nLefts + nRights
      println(f"[scale] asOf[$nLefts]: $total events in $secs%.1f s = " +
        f"${total / secs / 1e6}%.2f M rows/s; peak state " +
        f"${mem.max / 1024 / 1024}%d MiB; post-flush rows $finalRows " +
        s"(keys $keys)")
      // post-flush state = ONE retained right per key + the two
      // sentinel keys' rows — the dimension residue, not event history
      require(finalRows >= keys && finalRows <= keys + 10,
        s"post-flush state $finalRows != dimension residue ~$keys")
      if (checkParity) {
        val streamed = spark.table(view).filter(col("left_id") >= 0)
          .select(col("left_id"), col("payload"))
        val lDf = spark.range(nLefts).select(col("id").as("l_id"),
          (col("id") % keys).as("lk"), (lit(base) + col("id")).as("lms"))
        val rDf = spark.range(nRights).select(col("id").as("r_id"),
          (col("id") % keys).as("rk"), (lit(base) + col("id") * 4).as("rms"))
        val batch = graft.operators.AsOf
          .asOf(lDf, rDf, "lk", "rk", "lms", "rms", Seq("r_id"))
          .select(col("l_id").as("left_id"), col("r_id").as("payload"))
        val missing = batch.exceptAll(streamed).count()
        val extra = streamed.exceptAll(batch).count()
        require(missing == 0 && extra == 0,
          s"stream/batch as-of parity broken: $missing missing, $extra extra")
        println(s"[scale] asOf[$nLefts] parity: $nLefts streamed rows " +
          "EXACTLY equal the batch composition (nulls included)")
      }
      (mem.max, finalRows)
    }

    val (peak1, _) = run(500000L, checkParity = true)
    val (peak2, _) = run(1000000L, checkParity = false)
    println(f"[scale] asOf peak state: ${peak1 / 1024}%d KiB at 0.5M vs " +
      f"${peak2 / 1024}%d KiB at 1M lefts (ratio ${peak2.toDouble / peak1}%.2f)")
    require(peak2 <= (peak1 * 3) / 2,
      s"as-of state grew with TOTAL events ($peak1 -> $peak2 bytes); " +
        "expected watermark-bounded transient + per-key residue")

    // directional legs (r15 forward, r16 nearest): same corpus through
    // StreamJobs.asOfNext / asOfNearest — the claims under measurement
    // are (a) NO residue: post-flush state is the sentinel keys alone,
    // not ~keys rows, and (b) peak state is watermark/tolerance-
    // bounded, flat across 2× events. One parameterized runner: the
    // legs differ only in operator, batch-oracle direction, and tag.
    val dirTol = 40000L
    def runDir(tag: String, direction: String,
        stream: (DataFrame, DataFrame) => DataFrame)(
        nLefts: Long, checkParity: Boolean): (Long, Long) = {
      val nRights = nLefts / 4
      val nb = (nLefts / perBatch).toInt
      val lSrc = MemoryStream[RehL]
      val rSrc = MemoryStream[RehR]
      val view = s"scale_asof_${tag}_$nLefts"
      val q = stream(lSrc.toDF(), rSrc.toDF())
        .writeStream.format("memory").queryName(view)
        .outputMode("append").start()
      val mem = scala.collection.mutable.ArrayBuffer.empty[Long]
      val t0 = System.nanoTime()
      (0 until nb).foreach { b =>
        val (l0, l1) = (nLefts * b / nb, nLefts * (b + 1) / nb)
        lSrc.addData((l0 until l1).map(i =>
          RehL(i, i % keys, new java.sql.Timestamp(base + i), 0.0)))
        val (r0, r1) = (nRights * b / nb, nRights * (b + 1) / nb)
        rSrc.addData((r0 until r1).map(j =>
          RehR(j, j % keys, new java.sql.Timestamp(base + j * 4), 0.0)))
        q.processAllAvailable()
        mem += q.lastProgress.stateOperators.map(_.memoryUsedBytes).sum
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val far = new java.sql.Timestamp(base + 4000000000L)
      lSrc.addData(RehL(-1L, -1L, far, 0.0))
      rSrc.addData(RehR(-2L, -2L, far, 0.0))
      q.processAllAvailable()
      val finalRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      q.stop()
      val total = nLefts + nRights
      println(f"[scale] $tag[$nLefts]: $total events in $secs%.1f s = " +
        f"${total / secs / 1e6}%.2f M rows/s; peak state " +
        f"${mem.max / 1024 / 1024}%d MiB; post-flush rows $finalRows")
      require(finalRows <= 4,
        s"$tag as-of must keep NO residue, got $finalRows state rows")
      if (checkParity) {
        val streamed = spark.table(view).filter(col("left_id") >= 0)
          .select(col("left_id"), col("payload"))
        val lDf = spark.range(nLefts).select(col("id").as("l_id"),
          (col("id") % keys).as("lk"), (lit(base) + col("id")).as("lms"))
        val rDf = spark.range(nRights).select(col("id").as("r_id"),
          (col("id") % keys).as("rk"), (lit(base) + col("id") * 4).as("rms"))
        val batch = graft.operators.AsOf
          .asOfDirection(lDf, rDf, "lk", "rk", "lms", "rms",
            Seq("r_id"), direction, dirTol)
          .select(col("l_id").as("left_id"), col("r_id").as("payload"))
        val missing = batch.exceptAll(streamed).count()
        val extra = streamed.exceptAll(batch).count()
        require(missing == 0 && extra == 0,
          s"stream/batch $tag-as-of parity broken: $missing missing, " +
            s"$extra extra")
        println(s"[scale] $tag[$nLefts] parity: $nLefts streamed rows " +
          s"EXACTLY equal asOfDirection($direction, tol)")
      }
      (mem.max, finalRows)
    }
    Seq(
      ("asOfNext", "forward",
        (l: DataFrame, r: DataFrame) => graft.streaming.StreamJobs.asOfNext(
          l, r, "lkey", "rkey", "lts", "rts", "l_id", "r_id",
          tolMs = dirTol, delay = "10 seconds")),
      ("asOfNearest", "nearest",
        (l: DataFrame, r: DataFrame) => graft.streaming.StreamJobs.asOfNearest(
          l, r, "lkey", "rkey", "lts", "rts", "l_id", "r_id",
          tolMs = dirTol, delay = "10 seconds"))
    ).foreach { case (tag, direction, stream) =>
      val (fp1, _) = runDir(tag, direction, stream)(500000L, checkParity = true)
      val (fp2, _) = runDir(tag, direction, stream)(1000000L, checkParity = false)
      println(f"[scale] $tag peak state: ${fp1 / 1024}%d KiB at 0.5M vs " +
        f"${fp2 / 1024}%d KiB at 1M lefts (ratio ${fp2.toDouble / fp1}%.2f)")
      require(fp2 <= (fp1 * 3) / 2,
        s"$tag as-of state grew with TOTAL events ($fp1 -> $fp2 bytes)")
    }
  }

  // ---- (streamoverlap) stream-stream interval-overlap at volume ----

  /** Interval row for the overlap rehearsal (one class serves both
    * sides — the operator renames per-side columns internally). */
  case class RehOv(id: Long, lo: java.sql.Timestamp,
    hi: java.sql.Timestamp)

  /** The r17-VERDICT task-2 measurement: the stream-stream interval-
    * OVERLAP join ([[graft.streaming.StreamJobs.intervalOverlapStream]])
    * at volume. Claims under measurement: (a) state is rate-bounded —
    * rows prune to the watermark − maxSpan horizon, so peak state at
    * 2× the events (same micro-batch size) stays ~flat; (b) the
    * sentinel flush leaves only the sentinels buffered (no residue —
    * unlike as-of, overlap retains nothing per key); (c) the streamed
    * pair set EXACTLY equals the batch operator
    * ([[graft.operators.RangeJoin.intervalOverlap]]) on the same rows
    * (count + per-pair hash XOR — the set itself is ~1M pairs).
    *
    * Corpus: 250 Hz per side (4 ms step), spans 0–16 ms, the right
    * side phase-shifted — ~4 true partners per interval, pair output
    * ∝ events, never quadratic. */
  private def streamOverlapSection(spark: SparkSession): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    println("[scale] === stream-stream interval-overlap rehearsal " +
      "(MemoryStream) ===")
    val base = 1616300000000L
    val perBatch = 50000L
    val (widthMs, spanMs) = (32L, 16L)
    def lRow(i: Long) = RehOv(i, new java.sql.Timestamp(base + i * 4),
      new java.sql.Timestamp(base + i * 4 + i % (spanMs + 1)))
    def rRow(j: Long) = RehOv(j, new java.sql.Timestamp(base + j * 4 + 2),
      new java.sql.Timestamp(base + j * 4 + 2 + (j * 7) % (spanMs + 1)))

    // (median state bytes, p90 state bytes, peak buckets, final
    // buckets, streamed (count, hashxor)). BYTES are the load-bearing
    // gate metric (r18 review): flatMapGroupsWithState's numRowsTotal
    // counts state KEYS — one OverlapBuf per bucket — so a regression
    // that grows the per-bucket BUFFERS without growing the bucket
    // count would keep the key count flat; memoryUsedBytes sees the
    // buffered intervals themselves. The gate statistic is the MEDIAN
    // over batches (r19 — see below).
    def run(n: Long): (Long, Long, Long, Long, (Long, Long)) = {
      val nb = (n / perBatch).toInt
      val lSrc = MemoryStream[RehOv]
      val rSrc = MemoryStream[RehOv]
      val view = s"scale_ovl_$n"
      val q = graft.streaming.StreamJobs.intervalOverlapStream(
          lSrc.toDF(), rSrc.toDF(), "id", "lo", "hi", "id", "lo", "hi",
          bucketWidthMs = widthMs, maxSpanMs = spanMs,
          delay = "10 seconds")
        .writeStream.format("memory").queryName(view)
        .outputMode("append").start()
      val buckets = scala.collection.mutable.ArrayBuffer.empty[Long]
      val mem = scala.collection.mutable.ArrayBuffer.empty[Long]
      // late drops harvested per FEED ITERATION from recentProgress,
      // deduped by batchId: one iteration can span several batches
      // (lastProgress alone misses the early ones), and the rolling
      // 100-entry recentProgress buffer only has to cover ONE
      // iteration's batches between harvests — so the guard survives
      // arbitrarily long runs (review r19, both passes)
      val seenBatches = scala.collection.mutable.Set.empty[Long]
      var lateDropped = 0L
      def harvestDrops(): Unit = q.recentProgress.foreach { p =>
        if (seenBatches.add(p.batchId))
          lateDropped +=
            p.stateOperators.map(_.numRowsDroppedByWatermark).sum
      }
      val t0 = System.nanoTime()
      (0 until nb).foreach { b =>
        val (i0, i1) = (n * b / nb, n * (b + 1) / nb)
        lSrc.addData((i0 until i1).map(lRow))
        rSrc.addData((i0 until i1).map(rRow))
        q.processAllAvailable()
        buckets += q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        mem += q.lastProgress.stateOperators.map(_.memoryUsedBytes).sum
        harvestDrops()
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val far = new java.sql.Timestamp(base + 4000000000L)
      lSrc.addData(RehOv(-1L, far, far))
      rSrc.addData(RehOv(-2L, far, far))
      q.processAllAvailable()
      val finalBuckets =
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      harvestDrops() // sentinel-flush batches included
      q.stop()
      // count + XOR of pair hashes: order-independent and (unlike a
      // sum) immune to ANSI long overflow at any pair count; the
      // exactly-once property that makes XOR sound is spec-proven
      val sig = spark.table(view).filter(col("l_id") >= 0)
        .agg(count(lit(1)), coalesce(
          expr("bit_xor(xxhash64(l_id, r_id))"), lit(0L)))
        .as[(Long, Long)].collect()(0)
      // drop the sink view — it pins the full pair set otherwise
      spark.catalog.dropTempView(view)
      println(f"[scale] overlap[$n]: ${2 * n} events in $secs%.1f s = " +
        f"${2 * n / secs / 1e6}%.2f M rows/s; ${sig._1} pairs; peak " +
        s"state ${mem.max / 1024} KiB (p90 ${p90Of(mem.toSeq) / 1024} " +
        s"KiB) in ${buckets.max} buckets; " +
        s"post-flush $finalBuckets buckets; " +
        s"late-dropped $lateDropped rows")
      // the silent failure mode the operator's span guard CANNOT see
      // (r18-ADVICE): rows later than the watermark delay are dropped
      // by Spark's pre-stateful filter, losing true pairs with no
      // error — surfaced here so an ordering violation shows up in
      // the measurement record; this corpus is in-order, so any drop
      // is a harness bug
      require(lateDropped == 0L,
        s"watermark late-drop filter removed $lateDropped rows from " +
          "an in-order corpus")
      require(buckets.max < n,
        s"overlap state ${buckets.max} buckets is O(events)")
      require(finalBuckets <= 2,
        s"sentinel flush left $finalBuckets buckets (no-residue " +
          "contract: only the sentinels' own buckets may remain)")
      // MEDIAN of the per-batch state readings alongside the max: the
      // max is the wrong statistic for a FLAT-state gate — the store's
      // memoryUsedBytes spikes when extra map versions are retained
      // (maintenance timing), and a run with 2× the batches gets 2×
      // the draws at that spike, biasing its max upward by sample
      // count alone (measured r19: 1M-rung max read 4323 / 6372 /
      // 6325 KiB across quiet same-code runs). The median is immune
      // to the spikes and still catches a REAL leak: monotone growth
      // puts half the 2×-run's samples above the 1×-run's ceiling.
      // The P90 rides along as the gate's robust UPPER statistic
      // (r19-ADVICE): a leak that manifests as GROWING INTERMITTENT
      // spikes — rather than monotone growth — leaves the median flat,
      // while a spike regime covering >10% of batches moves the p90;
      // min-of-2-reps (below) keeps one unlucky maintenance window
      // from tripping it.
      val memMed = mem.sorted.apply(mem.size / 2)
      (memMed, p90Of(mem.toSeq), buckets.max, finalBuckets, sig)
    }

    // min-of-2 plateau on the state statistics (the repo's
    // adjudication rule applied to the state gate): a single run's
    // upper readings are BIMODAL — the HDFS-backed store's
    // memoryUsedBytes includes retained in-memory map versions, whose
    // count rides maintenance timing, not operator state (measured
    // r19: 4323 vs 6372 KiB on back-to-back quiet runs of the SAME 1M
    // corpus, buckets 315 = 315 both times). The reproducible floor
    // is the operator's state; the excursions are store internals.
    // Signatures required identical across reps.
    def plateauRun(n: Long): (Long, Long, Long, (Long, Long)) = {
      val (m1, x1, k1, _, s1) = run(n)
      val (m2, x2, k2, _, s2) = run(n)
      require(s1 == s2, s"overlap[$n] pair signature varies across " +
        s"reps: $s1 vs $s2")
      require(k1 == k2, s"overlap[$n] peak bucket count varies across " +
        s"reps: $k1 vs $k2")
      (math.min(m1, m2), math.min(x1, x2), k1, s1)
    }
    val (medB1, p90B1, peakK1, sig1) = plateauRun(500000L)
    val (medB2, p90B2, peakK2, _) = plateauRun(1000000L)
    println(f"[scale] overlap steady state: median ${medB1 / 1024}%d " +
      f"KiB (p90 ${p90B1 / 1024}%d) / $peakK1%d buckets at 0.5M vs " +
      f"median ${medB2 / 1024}%d KiB (p90 ${p90B2 / 1024}%d) / " +
      f"$peakK2%d buckets at 1M per side " +
      f"(median ratio ${medB2.toDouble / medB1}%.2f, " +
      f"p90 ratio ${p90B2.toDouble / math.max(p90B1, 1L)}%.2f)")
    require(medB2 <= (medB1 * 3) / 2,
      s"overlap steady-state BYTES grew with TOTAL events " +
        s"($medB1 -> $medB2 median)")
    // the robust UPPER gate (r19-ADVICE): the median is blind to a
    // leak that shows as GROWING INTERMITTENT spikes; the p90 (min of
    // 2 reps each side) trips when a spike regime covers >10% of the
    // 2×-run's batches, while one maintenance window per rep stays
    // excluded. The 3× + 1 MiB band is deliberately loose — p90 still
    // samples store internals (r19 measured ~6 MiB excursions over a
    // 0.6 MiB floor); the MEDIAN gate above stays the tight one.
    require(p90B2 <= 3 * p90B1 + (1L << 20),
      s"overlap p90 state BYTES grew with TOTAL events " +
        s"($p90B1 -> $p90B2 p90, min of 2 reps each)")

    // batch parity at 0.5M: same rows through the batch operator
    val n = 500000L
    val lDf = spark.range(n).select(col("id").as("l_id"),
      (lit(base) + col("id") * 4).as("l_lo"),
      (lit(base) + col("id") * 4 + col("id") % (spanMs + 1)).as("l_hi"))
    val rDf = spark.range(n).select(col("id").as("r_id"),
      (lit(base) + col("id") * 4 + 2).as("r_lo"),
      (lit(base) + col("id") * 4 + 2 + (col("id") * 7) % (spanMs + 1))
        .as("r_hi"))
    val batchSig = graft.operators.RangeJoin.intervalOverlap(
        lDf, rDf, "l_lo", "l_hi", "r_lo", "r_hi", widthMs)
      .agg(count(lit(1)), coalesce(
        expr("bit_xor(xxhash64(l_id, r_id))"), lit(0L)))
      .as[(Long, Long)].collect()(0)
    require(sig1 == batchSig,
      s"stream/batch overlap parity broken: streamed $sig1 vs " +
        s"batch $batchSig (count, hash-xor)")
    println(s"[scale] overlap parity: ${sig1._1} streamed pairs EXACTLY " +
      "equal the batch operator (count + pair-hash XOR)")

    // --- informational RocksDB provider A/B (r19 forward note): the
    // same 0.5M corpus through the RocksDB state store. The provider
    // swap must not change the ANSWER (required); the throughput and
    // state lines say whether the HDFS-backed store's in-memory
    // version retention — the source of the max-statistic spikes
    // fixed above — is also a cpu story. No gate: provider cost is an
    // environment knob, not an operator property.
    locally {
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prior = spark.conf.get(providerKey)
      spark.conf.set(providerKey, "org.apache.spark.sql.execution." +
        "streaming.state.RocksDBStateStoreProvider")
      try {
        val (med, p90, k, _, sig) = run(500000L)
        require(sig == sig1,
          s"RocksDB provider changed the answer: $sig vs $sig1")
        println(f"[scale] overlap RocksDB A/B: median ${med / 1024}%d " +
          f"KiB (p90 ${p90 / 1024}%d) / $k%d buckets — signature " +
          "identical to the HDFS-backed runs")
      } finally spark.conf.set(providerKey, prior)
    }
  }

  /** Nearest-rank 90th percentile (ceil(0.9·n)-th order statistic) —
    * the state gate's robust upper statistic. Nearest-rank rather
    * than an index floor because at the 0.5M rung's 10 batches a
    * floored index lands on the MAX itself, re-admitting the single
    * maintenance-window spike the statistic exists to exclude (one
    * spike per rep is store timing; a leak shows as a spike REGIME
    * covering >10% of batches). */
  private def p90Of(xs: Seq[Long]): Long = {
    val s = xs.sorted
    s(math.max(0, math.ceil(s.size * 0.9).toInt - 1))
  }

  // ---- (streamoverlapsalt) streaming overlap value-crowd rung ------

  /** The r19-VERDICT task-1 measurement: the batch↔stream asymmetry
    * closed. A same-range crowd (C near-identical intervals per side)
    * lands every row in ONE FMGWS group of
    * [[graft.streaming.StreamJobs.intervalOverlapStream]] — O(crowd)
    * state under a single key and O(crowd²) pair yield in a single
    * task, the exact shape the batch salt rung
    * ([[graft.operators.RangeJoin.intervalOverlapSalted]]) mitigates.
    * Ladder: unmitigated (1,1) → the batch form's 1-D split (16,1) →
    * the streaming-native 2-D grid (4,4), same 16-cell parallelism.
    * Claims under gate — all DETERMINISTIC (byte-identical across
    * every observed run): (a) answers are salt-invariant (count +
    * pair-hash XOR identical across all three); (b) placement — the
    * unsalted crowd collapses into ONE state key, both salted forms
    * spread it across exactly the 16 cells; (c) per-key state drops
    * to ~0.53 of the single key under 1-D (the replicated right
    * dominates: (C + C/16)/2C) and ~0.25 under the 2-D grid
    * ((C/4 + C/4)/2C), and the grid buffers less TOTAL state than
    * 1-D at equal cell count (1-D total ≈ C·(1+16), grid C·4 per
    * side). TIME is measured and reported, never gated: five
    * same-code runs put the variants' min-of-2 max task anywhere in
    * 4.0–18.8 / 1.4–14.5 / 4.1–5.2 s — JIT warmth and GC/commit
    * attribution swing a ratio across ANY bar in both directions,
    * and the saturation probe (a box-LOAD instrument) structurally
    * cannot arbitrate warmth. The r20 sweep and the post-fix
    * dedicated run each tripped one side of the old time gates on a
    * healthy box; the placement observables never moved a byte. The watermark
    * delay is set past the feed window so nothing prunes mid-run:
    * the state readings compare the variants' full buffered shape,
    * not prune timing. Pure-crowd corpus by design — the benign
    * regime is the board leg's (q_range_band_overlap_stream, full
    * corpus, unsalted); this section measures only the crowd the sf
    * data cannot produce. */
  private def streamOverlapSaltSection(spark: SparkSession): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    println("[scale] === streaming overlap same-range crowd " +
      "(salt-grid rung) ===")
    val gate = new Gates("streamoverlapsalt")
    val base = 1616300000000L
    val (widthMs, spanMs) = (32L, 16L)
    val C = 8000
    // ONE exact bucket-aligned interval carried by every row — the
    // SCD2 crowd; C² = 64M true pairs either way (placement-only)
    def crowd(idBase: Long): IndexedSeq[RehOv] = (0 until C).map(i =>
      RehOv(idBase + i, new java.sql.Timestamp(base + 96),
        new java.sql.Timestamp(base + 96 + spanMs)))
    val (lRows, rRows) = (crowd(0L), crowd(1000000L))
    // (count, xor, state bytes, state keys) for one full run
    def run(sl: Int, sr: Int): (Long, Long, Long, Long) = {
      val lSrc = MemoryStream[RehOv]
      val rSrc = MemoryStream[RehOv]
      var cnt = 0L
      var xorAcc = 0L
      val q = graft.streaming.StreamJobs.intervalOverlapStream(
          lSrc.toDF(), rSrc.toDF(), "id", "lo", "hi", "id", "lo", "hi",
          bucketWidthMs = widthMs, maxSpanMs = spanMs,
          delay = "1 hour", saltLeft = sl, saltRight = sr)
        .writeStream.outputMode("append")
        // signature accumulated per batch in the operator's own
        // tasks (count + order-independent pair-hash XOR) — a raw
        // 64M-pair sink would bury the yield cost under IO
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val r = b.agg(count(lit(1)), coalesce(
            expr("bit_xor(xxhash64(l_id, r_id))"), lit(0L))).collect()(0)
          cnt += r.getLong(0); xorAcc ^= r.getLong(1)
        }.start()
      // two batches: the second's lefts must pair with the first's
      // buffered rights INSIDE their grid cell (cross-batch state)
      (0 until 2).foreach { b =>
        lSrc.addData(lRows.slice(b * C / 2, (b + 1) * C / 2))
        rSrc.addData(rRows.slice(b * C / 2, (b + 1) * C / 2))
        q.processAllAvailable()
      }
      val bytes = q.lastProgress.stateOperators.map(_.memoryUsedBytes).sum
      val keys = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      q.stop()
      (cnt, xorAcc, bytes, keys)
    }
    // codegen/state-store warmup on a tiny crowd (all variants)
    Seq((1, 1), (16, 1), (4, 4)).foreach { case (sl, sr) =>
      val s = MemoryStream[RehOv]; val r = MemoryStream[RehOv]
      val wq = graft.streaming.StreamJobs.intervalOverlapStream(
          s.toDF(), r.toDF(), "id", "lo", "hi", "id", "lo", "hi",
          widthMs, spanMs, "1 hour", sl, sr)
        .writeStream.format("noop").outputMode("append").start()
      s.addData(lRows.take(50)); r.addData(rRows.take(50))
      wq.processAllAvailable(); wq.stop()
    }
    // min-of-2 plateau on the max task AND the state bytes (the
    // repo's adjudication rule — the HDFS store's memoryUsedBytes
    // rides maintenance timing, ~2 MiB excursions on identical
    // back-to-back runs per the r19 streamoverlap record, so a
    // single rep's reading could flip the b2 < b1 gate on a
    // healthy box; review r20). Signature and KEY COUNT are
    // deterministic (no pruning mid-run) and required identical.
    def plateau(tag: String, sl: Int, sr: Int)
        : ((Long, Long, Long, Long), Double) = {
      val (r1, _, mx1) = balMeasured(spark)(tag)(run(sl, sr))
      val (r2, _, mx2) = balMeasured(spark)(s"$tag (rep 2)")(
        run(sl, sr))
      require(r1._1 == r2._1 && r1._2 == r2._2,
        s"$tag signature varies across reps: $r1 vs $r2")
      require(r1._4 == r2._4,
        s"$tag state keys vary across reps: ${r1._4} vs ${r2._4}")
      ((r1._1, r1._2, math.min(r1._3, r2._3), r1._4),
        math.min(mx1, mx2))
    }
    val ((n0, x0, b0, k0), mx0) = plateau(
      s"crowd $C×$C unmitigated (one FMGWS group)", 1, 1)
    val ((n1, x1, b1, k1), mx1) = plateau(
      "crowd SALTED 1-D (16,1) — the batch form's split", 16, 1)
    val ((n2, x2, b2, k2), mx2) = plateau(
      "crowd SALTED 2-D grid (4,4) — same 16 cells", 4, 4)
    require(n0 == 1L * C * C, s"crowd must pair all-to-all: $n0")
    require((n1, x1) == ((n0, x0)) && (n2, x2) == ((n0, x0)),
      s"salt changed the answer: ($n0,$x0) vs ($n1,$x1) vs ($n2,$x2)")
    println(f"[scale] streamoverlap crowd ladder: max task " +
      f"$mx0%.1f s unmitigated → $mx1%.1f s 1-D(16,1) → $mx2%.1f s " +
      f"2-D(4,4); state ${b0 / 1024} KiB/$k0 keys → ${b1 / 1024} " +
      f"KiB/$k1 keys → ${b2 / 1024} KiB/$k2 keys " +
      f"(per-key ${b0 / k0 / 1024} → ${b1 / k1 / 1024} → " +
      f"${b2 / k2 / 1024} KiB)")
    // TIME is reported, never gated, in this section. Five
    // same-code runs measured the variants' min-of-2 max task at:
    // unmitigated 18.8/4.0/16.5/17.3 s, 1-D 5.0/1.4/1.5/14.5 s,
    // 2-D 4.8/5.2/4.8/4.1 s — swings of 4–10× on BOTH sides of
    // every ratio bar, driven by JIT warmth and GC/state-commit
    // attribution, axes the saturation probe (which reads box
    // LOAD) structurally cannot arbitrate. A time-ratio gate here
    // is a coin flip in either direction; the r20 full sweep and
    // the post-fix dedicated run each tripped one side of it on a
    // healthy box. The structural claims 100 TB cares about are
    // deterministic and byte-identical in every one of those runs
    // — THOSE are gated:
    //   placement: the unsalted crowd collapses to ONE key; both
    //     salted forms spread it across exactly the 16 cells;
    //   per-key state: 1-D leaves ~(C + C/16)/2C ≈ 0.53 of the
    //     single key (the replicated right dominates), the 2-D
    //     grid (C/4 + C/4)/2C = 0.25 — bars at 0.65/0.40;
    //   totals: the grid buffers less than 1-D at equal cells.
    if (mx1 > mx0 || mx2 > mx0)
      println(f"[scale] NOTE: a salted max task ($mx1%.1f / " +
        f"$mx2%.1f s) read above unmitigated $mx0%.1f s — " +
        "warmth/GC attribution at this corpus size (the gated " +
        "placement claims below are unaffected)")
    gate(k0 == 1L && k1 == 16L && k2 == 16L,
      s"crowd placement keys must read 1 → 16 → 16 cells, got " +
        s"$k0 → $k1 → $k2")
    gate(b1 / k1 * 20 <= b0 / k0 * 13,
      s"1-D per-key state should drop to ~0.53 of the unmitigated " +
        s"single key (bar 0.65): ${b1 / k1} vs ${b0 / k0} bytes/key")
    gate(b2 / k2 * 5 <= b0 / k0 * 2,
      s"2-D per-key state should drop to ~0.25 of the unmitigated " +
        s"single key (bar 0.40): ${b2 / k2} vs ${b0 / k0} bytes/key")
    gate(b2 < b1,
      s"the 2-D grid should buffer less total state than 1-D at " +
        s"the same cell count: $b2 vs $b1 bytes")
    gate.verdict(spark)
  }

  // ---- (scopedsession) per-query session mint lifecycle ------------

  /** The r19-VERDICT task-6 sanity: [[graft.func.Confs.scopedSession]]
    * mints a cloned SessionState per query (the star leg does it on
    * every Verify/Bench invocation) — before the idiom spreads to
    * more legs, prove a mint leaves NOTHING behind on the shared
    * machinery. Observables: (a) the shared LiveListenerBus's
    * registered-listener count (a clone that subscribed anything
    * would both accumulate listeners and RETAIN its SessionState
    * forever); (b) post-GC heap across 10k mints (a retained clone
    * graph would show as monotone growth — each carries conf maps,
    * registries, experimental hooks); (c) mint throughput, since
    * "cheap enough to mint per query" is the API's own claim. A
    * sampled mint runs a real action so the measurement covers the
    * session being USED, not just constructed. */
  private def scopedSessionSection(spark: SparkSession): Unit = {
    println("[scale] === scoped-session mint lifecycle (10k) ===")
    val gate = new Gates("scopedsession")
    val sc = spark.sparkContext
    def heapUsed(): Long = {
      System.gc(); Thread.sleep(200); System.gc()
      val rt = Runtime.getRuntime
      rt.totalMemory() - rt.freeMemory()
    }
    ListenerShim.drainListenerBus(sc)
    val l0 = ListenerShim.listenerCount(sc)
    val h0 = heapUsed()
    val mints = 10000
    val t0 = System.nanoTime()
    var i = 0
    while (i < mints) {
      val s = graft.func.Confs.scopedSession(spark,
        Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true"))
      // every 1000th mint runs a real action on its session (conf
      // read + plan + execute), so lifecycle covers used sessions
      if (i % 1000 == 0) {
        require(s.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1")
        require(s.range(2).count() == 2L)
      }
      i += 1
    }
    val secs = (System.nanoTime() - t0) / 1e9
    ListenerShim.drainListenerBus(sc)
    val l1 = ListenerShim.listenerCount(sc)
    val h1 = heapUsed()
    println(f"[scale] scopedsession: $mints mints in $secs%.1f s = " +
      f"${mints / secs}%.0f mints/s; shared-bus listeners $l0 -> $l1; " +
      f"post-GC heap ${h0 / 1048576} -> ${h1 / 1048576} MiB " +
      f"(${(h1 - h0) / 1048576}%+d)")
    gate(l1 <= l0 + 2,
      s"scoped-session mints accumulated shared-bus listeners: " +
        s"$l0 -> $l1 across $mints mints")
    gate(h1 - h0 < 512L * 1048576,
      s"post-GC heap grew ${(h1 - h0) / 1048576} MiB across $mints " +
        "mints — cloned SessionStates look retained")
    gate.verdict(spark)
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
    * end-to-end per rung with the Bench task-CPU listener; the
    * log-log slope of cpu_s vs scale is the measured growth
    * exponent. cpu_s (not wall) is fitted — it is the
    * contention-robust number, same convention as the bench. */
  private def ladderSection(spark: SparkSession, ladderDir: String): Unit = {
    println(s"[scale] === ladder rehearsal (${LadderScales.map("x" + _)
      .mkString("/")} at $ladderDir) ===")
    def pipesFor(s: Int): Seq[(String, (SparkSession, String) => DataFrame)] = {
      val bits = ladderBits(LadderVecs * s)
      Seq(
        "product_stats" -> ((sp: SparkSession, d: String) =>
          graft.dws.ProductStats(sp, d)),
        "copurchase" -> (graft.ads.Queries.copurchase _),
        "item_rank" -> (graft.ads.ItemRank.itemRank _),
        "triangles" -> (graft.ads.ItemRank.triangles _),
        "lsh_dups" -> (Dedup.lshDuplicates _),
        "keeplist_8x4" -> ((sp: SparkSession, d: String) =>
          Similarity.embedKeepListWith(sp, d, 8, 4)),
        s"keeplist_aware_8x$bits" -> ((sp: SparkSession, d: String) =>
          Similarity.embedKeepListWith(sp, d, 8, bits)),
        // second CPU tier (r13 verdict task 5): the next-largest board
        // block (~17 cpu-s at sf0.1), previously measured at one scale
        // point only
        "containment" -> (Dedup.containment _),
        "ngram_jaccard" -> (Dedup.ngramJaccard _),
        // the lossless candidate generator (r15): same verify, exact
        // contract — its growth must stay comparable to the pruned path
        "ngram_jaccard_prefix" -> (Dedup.ngramJaccardPrefix _),
        "novelty" -> (Novelty.novelty _),
        "product_stats_approx" -> ((sp: SparkSession, d: String) =>
          graft.dws.ProductStats.approx(sp, d)),
        // dedup_sweep inherits lshNearDup's FIXED 8×4 banding, so its
        // pair population carries the known-quadratic chance term; the
        // aware twin sweeps the same thresholds over scale-aware pairs
        // — the production configuration of the same data card
        "dedup_sweep" -> (Similarity.dedupSweep _),
        s"dedup_sweep_aware_8x$bits" -> ((sp: SparkSession, d: String) =>
          Similarity.dedupSweepFrom(
            Similarity.lshNearDupAt(sp, d, 8, bits, Similarity.NearDupPpm))))
    }
    // canonical pipe name across rungs (the aware variants' bits — and
    // so their display names — change with the rung; the fit needs one
    // key per pipeline)
    def key(name: String): String =
      if (name.startsWith("keeplist_aware")) "keeplist_aware"
      else if (name.startsWith("dedup_sweep_aware")) "dedup_sweep_aware"
      else name

    // one untimed x1 pass pays JVM/codegen warmup (the generated
    // code is shape-keyed, so it stays warm for the larger rungs)
    pipesFor(1).foreach { case (_, fn) =>
      fn(spark, s"$ladderDir/x1").queryExecution.toRdd.count(): Unit
    }
    val res = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[
        Int, (Double, Double, Long)]]
    LadderScales.foreach { s =>
      val dir = s"$ladderDir/x$s"
      pipesFor(s).foreach { case (name, fn) =>
        val (rows, cpu, wall) =
          cpuWall(spark)(fn(spark, dir).queryExecution.toRdd.count())
        println(f"[scale] ladder x$s $name: $cpu%.2f cpu_s / " +
          f"$wall%.2f wall_s, $rows rows")
        res.getOrElseUpdate(key(name),
          scala.collection.mutable.LinkedHashMap.empty) +=
          s -> (cpu, wall, rows)
      }
    }
    println("[scale] ladder growth exponents (cpu_s ~ scale^alpha):")
    val alphas = res.map { case (name, byScale) =>
      val a = fitAlpha(byScale.toSeq.map { case (s, v) => (s, v._1) })
      val pts = byScale.map { case (s, (c, _, r)) =>
        f"x$s $c%.2f cpu_s/$r rows" }.mkString("  ")
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
    gate.verdict(spark)
  }

  // ---- (prefixcross) prefix-filter Jaccard in its target regime ----

  /** Regime-B corpus: boilerplate at df just under MaxDf plus a rare
    * per-doc tail. Twin pairs (the first 2·m docs) share fragments
    * and all but the last tail token — J ≈ 0.94, found by BOTH paths
    * (the shared tail shingles are rare), so the rungs compare cpu on
    * equal recall. */
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
    * measured in its TARGET regime rather than inferred from candidate
    * counts. Regime A pins the recall hole the MaxDf cap opens (the
    * pruned path, held to the device-independent exact contract the
    * prefix oracle states, would hash-fail). Regime B A/Bs cpu_s at
    * x1/x3/x10 on a boilerplate corpus whose common shingles sit just
    * UNDER the cap — the df² bill the cap cannot dodge — and records
    * the per-rung ratio and both growth exponents. */
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

    // ---- regime B: cpu A/B at x1/x3/x10 -----------------------------
    PxScales.foreach(s => genPrefixCorpus(spark, s"$dir/x$s", s))
    val paths: Seq[(String, DataFrame => DataFrame)] = Seq(
      "maxdf_pruned" -> (Dedup.ngramJaccardOf(_)),
      "prefix_filter" -> (Dedup.ngramJaccardPrefixOf(_)))
    // one untimed x1 pass pays JVM/codegen warmup
    paths.foreach { case (_, fn) =>
      fn(graft.Tables.documents(spark, s"$dir/x1"))
        .queryExecution.toRdd.count(): Unit
    }
    val res = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[
        Int, (Double, Set[(Long, Long)])]]
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
      paths.foreach { case (name, fn) =>
        // collect the (small: ≤ planted-pair count) output inside
        // the timed run — the SET feeds the equal-recall gate below
        val (pairs, cpu, wall) = cpuWall(spark)(
          fn(docs).select(col("doc_a"), col("doc_b"))
            .as[(Long, Long)].collect().toSet)
        println(f"[scale] prefixcross x$s $name%-14s: $cpu%.2f " +
          f"cpu_s / $wall%.2f wall_s, ${pairs.size} pairs")
        res.getOrElseUpdate(name,
          scala.collection.mutable.LinkedHashMap.empty) +=
          s -> (cpu, pairs)
      }
      // equal recall on this corpus (shared tails are rare): the cpu
      // A/B must compare equal OUTPUTS or the ratio means nothing —
      // equal counts could hide one path missing pair X and the
      // other missing pair Y
      val Seq(a, b) = paths.map { case (n2, _) => res(n2)(s)._2 }
      gate(a == b, s"x$s outputs diverge: maxdf-only " +
        s"${(a -- b).take(3)}… prefix-only ${(b -- a).take(3)}… " +
        "— regime B is supposed to hold recall equal")
    }
    val alphas = res.map { case (name, byScale) =>
      name -> fitAlpha(byScale.toSeq.map { case (sc, v) => (sc, v._1) })
    }
    alphas.foreach { case (name, a) =>
      println(f"[scale] prefixcross $name%-14s alpha=$a%.2f") }
    val ratios = PxScales.map(s =>
      s -> res("maxdf_pruned")(s)._1 /
        res("prefix_filter")(s)._1.max(0.001))
    ratios.foreach { case (s, r) =>
      println(f"[scale] prefixcross x$s maxdf/prefix cpu ratio = $r%.2f×") }
    gate(ratios.last._2 >= 1.15,
      f"prefix filter failed to win its own regime at the " +
        f"top rung (ratio ${ratios.last._2}%.2f < 1.15) — the 100 TB " +
        "claim needs re-examination")
    gate.verdict(spark)
  }

  // ---- (rangeladder) interval-overlap growth + hot bucket ----------

  /** VERDICT r15 task 2: the interval-overlap range join through the
    * x1/x3/x10 ladder (growth exponent at constant bucket occupancy)
    * plus the two skew shapes the bucket device meets at scale: ONE
    * wide interval fanning out across thousands of buckets (the
    * explode side), and thousands of intervals crowding ONE bucket
    * (the `__b` hot key). The hot-bucket case is EXPANSION skew —
    * tiny shuffle input, quadratic join output — which AQE's
    * size-based skew split cannot see (probed and printed, not
    * assumed); the mitigation that works is the operator's own width
    * knob: a finer bucketWidth re-keys the hot value range across
    * many `__b` values, result-identical by contract. */
  private def rangeLadderSection(spark: SparkSession): Unit = {
    import graft.operators.RangeJoin
    println("[scale] === interval-overlap ladder + hot bucket ===")
    val w = RangeJoin.BucketWidth
    val gate = new Gates("rangeladder")

    /** n intervals, hash-uniform lo over [0, domain), span uniform
      * [0, w) — mean occupancy per bucket = n·w/domain = RangeOcc. */
    def side(n: Long, salt: Long, id: String, lo: String,
        hi: String): DataFrame = {
      val domain = n * w / RangeOcc
      spark.range(n).select(
        col("id").as(id),
        pmod(xxhash64(col("id"), lit(salt)), lit(domain)).as(lo))
        .withColumn(hi,
          col(lo) + pmod(xxhash64(col(id), lit(salt + 1)), lit(w)))
    }

    // ---- correctness cross-check vs the naive theta join (subset:
    // the BNLJ side is quadratic, which is the point) ---------------
    val l1 = side(RangeBase, 7L, "l_id", "l_lo", "l_hi")
    val r1 = side(RangeBase, 77L, "r_id", "r_lo", "r_hi")
    val lSub = l1.filter(col("l_id") < 500)
    val naive = time(s"naive theta join (500 × $RangeBase BNLJ)") {
      lSub.join(r1,
        col("l_lo") <= col("r_hi") && col("r_lo") <= col("l_hi")).count()
    }
    val bucketed = time("intervalOverlap (same subset)") {
      RangeJoin.intervalOverlap(lSub, r1,
        "l_lo", "l_hi", "r_lo", "r_hi").count()
    }
    require(naive == bucketed,
      s"bucket device diverged from the theta join: $naive vs $bucketed")

    // ---- ladder ----------------------------------------------------
    // every rung takes the SHUFFLE join path (at 100 TB neither side
    // broadcasts; without this the x1 rung rides a BroadcastHashJoin
    // the larger rungs can't, and the fitted exponent measures the
    // strategy flip, not the operator — observed alpha 1.76 vs the
    // true shuffle-path 1.0)
    val noBc = "spark.sql.autoBroadcastJoinThreshold" -> "-1"
    withSqlConfs(spark)(noBc) {
      def rung(s: Int): DataFrame = RangeJoin.intervalOverlap(
        side(RangeBase * s, 7L, "l_id", "l_lo", "l_hi"),
        side(RangeBase * s, 77L, "r_id", "r_lo", "r_hi"),
        "l_lo", "l_hi", "r_lo", "r_hi")
      rung(1).queryExecution.toRdd.count(): Unit // codegen warmup
      val pts = RangeScales.map { s =>
        val (rows, cpu, wall) =
          cpuWall(spark)(rung(s).queryExecution.toRdd.count())
        println(f"[scale] rangeladder x$s: $cpu%.2f cpu_s / " +
          f"$wall%.2f wall_s, $rows pairs")
        (s, cpu)
      }
      val alpha = fitAlpha(pts)
      println(f"[scale] rangeladder alpha=$alpha%.2f " +
        "(occupancy-constant: ~linear expected)")
      gate(alpha <= 1.4, f"interval-overlap growth is super-linear at " +
        f"constant occupancy: alpha=$alpha%.2f")
    }

    // ---- wide-interval rung (explode fan-out) ----------------------
    val wideHi = w * 3000 - 1
    val wide = spark.range(1).select(col("id").as("l_id"),
      lit(0L).as("l_lo"), lit(wideHi).as("l_hi"))
    val expected = r1.filter(col("r_lo") <= wideHi).count()
    val (got, wWide, _) = withSqlConfs(spark)(noBc) {
      balMeasured(spark)(
          s"wide interval (1 × 3000 buckets) over $RangeBase rights") {
        RangeJoin.intervalOverlap(wide, r1,
          "l_lo", "l_hi", "r_lo", "r_hi").count()
      }
    }
    require(got == expected,
      s"wide-interval count wrong: $got vs $expected")
    println(f"[scale] wide interval: fan-out spread the single row's " +
      f"candidates across buckets (max/mean $wWide%.1f×)")

    // ---- hot bucket (expansion skew) ------------------------------
    // HotN tiny intervals per side inside bucket 0, on top of the
    // uniform background: that bucket's SMJ task expands HotN² =
    // 144M candidate pairs while its siblings handle ~256 each
    val HotN = 12000L
    def hot(salt: Long, id: String, lo: String, hi: String) =
      spark.range(HotN).select((col("id") + 10000000L).as(id),
        pmod(xxhash64(col("id"), lit(salt)), lit(w - 8)).as(lo))
        .withColumn(hi, col(lo) + pmod(xxhash64(col(id), lit(salt + 1)),
          lit(8L)))
    val lh = l1.unionByName(hot(3L, "l_id", "l_lo", "l_hi"))
    val rh = r1.unionByName(hot(33L, "r_id", "r_lo", "r_hi"))
    def hotJoin(width: Long) = RangeJoin.intervalOverlap(
      lh, rh, "l_lo", "l_hi", "r_lo", "r_hi", width)
    // warm-rep plateau (the PLANS adjudication rule, now applied to
    // the gate inputs themselves): a single rep's max-task carries
    // GC attribution — r17 measured the SAME unmitigated hot run at
    // 0.4–4.8 s across a night of reps — so every gate-feeding hot
    // run takes min over 2 reps
    val ((nHot, aqeSplit), wHot, mxHot) = withSqlConfs(spark)(noBc,
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4MB",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true") {
      balPlateau(spark)(
          s"hot bucket ($HotN × $HotN in one __b) at width $w") {
        // probe: does AQE's size-based split see EXPANSION skew?
        // the hot partition's shuffle INPUT is ~8k rows (~200 KB),
        // so no size threshold can trigger — recorded as a finding.
        // Execute and read THE SAME QueryExecution (`ds.count()`
        // derives a fresh one whose plan never adaptively runs —
        // the r11 skew-rehearsal trap)
        val ds = hotJoin(w)
        val n = ds.queryExecution.toRdd.count()
        (n, aqeSkewEngaged(ds.queryExecution))
      }
    }
    println(s"[scale] hot bucket: AQE skew split engaged = $aqeSplit " +
      "(expansion skew is invisible to size-based detection: the hot " +
      "partition's INPUT is ~200 KB; the OUTPUT is the problem)")
    val (nFine, wFine, mxFine) = withSqlConfs(spark)(noBc) {
      balPlateau(spark)(s"hot bucket re-keyed at width ${w / 64} (the knob)") {
        hotJoin(w / 64).count()
      }
    }
    require(nHot == nFine,
      s"width knob changed the result: $nHot vs $nFine")
    println(f"[scale] hot-bucket balance: width-$w max/mean $wHot%.1f× " +
      f"(hot task $mxHot%.1f s) → width-${w / 64} $wFine%.1f× " +
      f"(max task $mxFine%.1f s) (results identical)")
    // efficacy gate on the HOT TASK's duration, not max/mean: at 9
    // tasks the mean includes the hot task itself, so the ratio
    // understates the skew run-to-run (r17: a 3.1×→2.2× run is the
    // same rebalance as r16's 4.9×→2.1× by max-task, 2.75× faster)
    gate(mxHot / mxFine.max(0.05) >= 2.0,
      f"the width knob did not materially shrink the hot task: " +
      f"$mxHot%.1f s → $mxFine%.1f s")

    // ---- AUTO width (r17): the census-derived knob --------------
    // same corpus, no hand tuning: autoWidth must flag the crowded
    // bucket and land at the crowd's span scale (hot spans < 8), and
    // its task balance must match the hand-tuned width's class
    val wAutoPick = RangeJoin.autoWidth(lh, rh,
      "l_lo", "l_hi", "r_lo", "r_hi")
    println(s"[scale] autoWidth picked $wAutoPick (probe $w, " +
      s"hand-tuned ${w / 64})")
    gate(wAutoPick < w,
      s"autoWidth failed to flag the crowded bucket (kept $wAutoPick)")
    gate(wAutoPick >= 1 && wAutoPick <= 32,
      s"autoWidth missed the crowd's span scale: $wAutoPick")
    val (nAuto, wAuto, mxAuto) = withSqlConfs(spark)(noBc) {
      balPlateau(spark)(s"hot bucket at AUTO width $wAutoPick") {
        hotJoin(wAutoPick).count()
      }
    }
    require(nHot == nAuto,
      s"auto width changed the result: $nHot vs $nAuto")
    println(f"[scale] auto-width balance: $wAuto%.1f× / max task " +
      f"$mxAuto%.1f s vs hand-tuned $wFine%.1f× / $mxFine%.1f s " +
      "(results identical)")
    gate(wAuto <= wFine * 1.75 + 0.5, f"auto width's task balance " +
      f"($wAuto%.1f×) is not in the hand-tuned class ($wFine%.1f×)")
    gate(mxAuto <= mxFine * 1.75 + 0.2, f"auto width's hot task " +
      f"($mxAuto%.1f s) is not in the hand-tuned class ($mxFine%.1f s)")
    gate.verdict(spark)
  }

  // ---- (rangepoints) point-crowd auto width, rehearsed end to end --

  /** r17-VERDICT task 4: the POINT form of the census-derived width
    * under skew, rehearsed the way the overlap form was (hot-bucket
    * corpus, auto vs hand-tuned vs unmitigated, max-task plateau
    * comparison). The skew shape is a POINT CROWD: a hot value range
    * holds millions of probe points while the interval side stays
    * uniform — one bucket's task evaluates crowd × local-intervals
    * candidate pairs while its siblings do thousands. The width knob
    * re-keys the crowd across many buckets (points never explode —
    * each lives in ONE bucket at any width — so refining the width
    * costs only the INTERVAL side's explode fan-out). */
  private def rangePointsSection(spark: SparkSession): Unit = {
    import graft.operators.RangeJoin
    println("[scale] === point-in-interval hot crowd (point-form auto width) ===")
    val w = RangeJoin.BucketWidth
    val gate = new Gates("rangepoints")
    val domain = RangeBase * w / RangeOcc
    // interval side: uniform, spans [0, w) — ~24 intervals overlap
    // any given probe-width bucket
    val iv = spark.range(RangeBase).select(col("id").as("iv_id"),
        pmod(xxhash64(col("id"), lit(7L)), lit(domain)).as("lo"))
      .withColumn("hi",
        col("lo") + pmod(xxhash64(col("iv_id"), lit(8L)), lit(w)))
    // point side: uniform background + a 20M crowd inside bucket 0
    // (crowd × ~24 local intervals ≈ 480M candidate evaluations in
    // ONE task at the probe width — the material hot task a 2M crowd
    // was too light to produce)
    val HotP = 20000000L
    val pts = spark.range(RangeBase).select(
        pmod(xxhash64(col("id"), lit(5L)), lit(domain)).as("p"))
      .unionByName(spark.range(HotP).select(
        pmod(xxhash64(col("id"), lit(55L)), lit(w)).as("p")))
    def pj(width: Long) =
      RangeJoin.pointInInterval(pts, iv, "p", "lo", "hi", width)
        .groupBy().agg(count(lit(1)).as("n"))
        .head.getLong(0)
    val noBc = "spark.sql.autoBroadcastJoinThreshold" -> "-1"
    // AQE's size-based skew split is pinned OFF for the measured
    // runs: unlike the interval EXPANSION crowd (tiny input, big
    // output — invisible to AQE, the r16/r17 finding), a POINT crowd
    // is INPUT-proportional (20M rows ≈ 160 MB in one partition), so
    // near its thresholds AQE sometimes splits the hot partition on
    // its own — observed r18: the same unmitigated run planned 7
    // tasks / 9.7 s max in one rep and 64 tasks / 1.8 s in the next,
    // a bimodal baseline no gate can sit on. The devices under test
    // are the operator's own (width, salt); the AQE interplay is
    // probed separately below at default confs.
    val noSkew = "spark.sql.adaptive.skewJoin.enabled" -> "false"
    withSqlConfs(spark)(noBc, noSkew) {
      pj(w / 64): Unit // codegen warmup on the cheap shape
      val (nHot, _, mxHot) = balPlateau(spark)(
        s"point crowd ($HotP in one bucket) at width $w")(pj(w))
      val (nFine, rtFine, mxFine) = balPlateau(spark)(
        s"point crowd re-keyed at width ${w / 64} (hand-tuned)")(pj(w / 64))
      require(nHot == nFine,
        s"width knob changed the result: $nHot vs $nFine")
      gate(mxHot / mxFine.max(0.05) >= 2.0,
        f"the width knob did not materially shrink the hot task: " +
          f"$mxHot%.1f s → $mxFine%.1f s")
      val t0 = System.nanoTime()
      val wAuto = RangeJoin.autoWidthPoints(pts, "p", iv, "lo", "hi")
      println(f"[scale] autoWidthPoints picked $wAuto (probe $w, " +
        f"hand-tuned ${w / 64}; census ${(System.nanoTime() - t0) / 1e9}%.1f s)")
      gate(wAuto < w,
        s"autoWidthPoints failed to flag the point crowd (kept $wAuto)")
      val (nAuto, rtAuto, mxAuto) = balPlateau(spark)(
        s"point crowd at AUTO width $wAuto")(pj(wAuto))
      require(nHot == nAuto,
        s"auto width changed the result: $nHot vs $nAuto")
      println(f"[scale] point-form balance: width-$w hot task $mxHot%.1f s " +
        f"→ hand-tuned $mxFine%.1f s → auto($wAuto) $mxAuto%.1f s " +
        "(results identical)")
      // auto's promise: MATERIAL mitigation of the unmitigated hot
      // task, and the hand-tuned width's balance CLASS (max/mean
      // ratio). The absolute max-task is deliberately NOT compared
      // against hand-tuned: v* optimizes total cost, and below it a
      // finer width keeps smoothing BUCKET-TO-PARTITION PACKING at
      // local[32] (probe/v* hot buckets over 32 partitions lump ~2
      // buckets into one task — measured r18: auto-27 1.7 s vs
      // hand-16 0.4 s max task on identical ~170M-candidate work) —
      // a granularity artifact of partitions ≈ buckets, not a
      // candidate-work difference; the gate that would catch a REAL
      // formula regression is the 4× mitigation bound
      gate(mxHot / mxAuto.max(0.05) >= 4.0,
        f"auto width did not materially shrink the hot task: " +
          f"$mxHot%.1f s → $mxAuto%.1f s")
      gate(rtAuto <= rtFine * 1.75 + 0.5,
        f"auto width's task balance ($rtAuto%.1f×) is not in the " +
          f"hand-tuned class ($rtFine%.1f×)")

      // ---- degenerate VALUE crowd: the skew width cannot touch ----
      // 20M points at ONE exact value share a bucket at EVERY width;
      // the mitigation ladder's next rung is salting (replicate the
      // interval side k ways, split the points by row identity)
      val vPts = spark.range(RangeBase).select(col("id").as("rid"),
          pmod(xxhash64(col("id"), lit(5L)), lit(domain)).as("p"))
        .unionByName(spark.range(HotP).select(
          (col("id") + RangeBase).as("rid"), lit(500L).as("p")))
      def pv(width: Long, salt: Int) =
        RangeJoin.pointInIntervalSalted(vPts, iv, "p", "lo", "hi",
          width, salt, Seq("rid"))
          .groupBy().agg(count(lit(1)).as("n")).head.getLong(0)
      val (nV, _, mxV) = balPlateau(spark)(
        s"VALUE crowd ($HotP at one value) unmitigated, width $w")(
        pv(w, 1))
      val (nVF, _, mxVF) = balPlateau(spark)(
        s"VALUE crowd at width ${w / 64} (the knob that cannot help)")(
        pv(w / 64, 1))
      require(nV == nVF, s"width changed the result: $nV vs $nVF")
      println(f"[scale] value-crowd width futility: $mxV%.1f s at $w " +
        f"→ $mxVF%.1f s at ${w / 64} (same-value points share a " +
        "bucket at every width)")
      val t1 = System.nanoTime()
      val (wMit, kMit) = RangeJoin.autoPointMitigation(
        vPts, "p", iv, "lo", "hi")
      println(f"[scale] autoPointMitigation picked (width $wMit, " +
        f"salt $kMit; census ${(System.nanoTime() - t1) / 1e9}%.1f s)")
      gate(wMit == w,
        s"value crowd should keep the probe width, got $wMit")
      gate(kMit > 1, s"value crowd must salt, got $kMit")
      val (nVS, _, mxVS) = balPlateau(spark)(
        s"VALUE crowd SALTED (width $wMit, salt $kMit)")(
        pv(wMit, kMit))
      require(nV == nVS, s"salt changed the result: $nV vs $nVS")
      println(f"[scale] value-crowd ladder: unmitigated $mxV%.1f s → " +
        f"width-${w / 64} $mxVF%.1f s (futile) → salt-$kMit " +
        f"$mxVS%.1f s (results identical)")
      // the same 2× bar as the width knob's efficacy gate: the
      // salted run still pays the crowd's full shuffle/sort and
      // ~160M output rows — the knob divides the CANDIDATE work,
      // not the irreducible volume
      gate(mxV / mxVS.max(0.05) >= 2.0,
        f"salting did not materially shrink the value-crowd hot " +
          f"task: $mxV%.1f s → $mxVS%.1f s")
    }
    // informational: the same value crowd at DEFAULT AQE confs —
    // does the size-based skew split engage on an input-proportional
    // crowd without the operator's devices? (observed: sometimes,
    // near its 256 MB/factor-5 thresholds — worth knowing, not worth
    // gating)
    locally {
      val vPts = spark.range(RangeBase).select(
          pmod(xxhash64(col("id"), lit(5L)), lit(domain)).as("p"))
        .unionByName(spark.range(HotP).select(lit(500L).as("p")))
      withSqlConfs(spark)(noBc) {
        val ds = RangeJoin.pointInInterval(vPts, iv, "p", "lo", "hi", w)
          .groupBy().agg(count(lit(1)).as("n"))
        val t0 = System.nanoTime()
        ds.queryExecution.toRdd.count()
        val secs = (System.nanoTime() - t0) / 1e9
        val split = aqeSkewEngaged(ds.queryExecution)
        println(f"[scale] value crowd at DEFAULT AQE: $secs%.1f s, " +
          s"skew split engaged = $split (input-proportional skew IS " +
          "AQE-visible when the partition crosses its size thresholds " +
          "— unlike the interval expansion case)")
      }
    }
    gate.verdict(spark)
  }

  // ---- (overlapsalt) same-range interval crowd: the overlap form's
  // value crowd, and its salt rung -----------------------------------

  /** r18-VERDICT task 4: a crowd of SAME-RANGE intervals on BOTH
    * sides — the SCD2 validity-audit shape — has quadratic per-bucket
    * work NO width can split (an interval's bucket set is a function
    * of its bounds, so identical intervals share buckets at every
    * width): the exact overlap analog of the point form's value
    * crowd. Ladder: unmitigated → fine width (measured FUTILE — the
    * honesty leg) → [[graft.operators.RangeJoin.autoOverlapMitigation]]'s
    * salt rung (split left by row identity, replicate right k ways).
    * Answers required identical across every rung; the salted hot
    * task gated ≥2× under the unmitigated one (same bar as the point
    * form — the knob divides CANDIDATE work, not the crowd's
    * irreducible 4e8 true pairs). */
  private def overlapSaltSection(spark: SparkSession): Unit = {
    import graft.operators.RangeJoin
    println("[scale] === interval-overlap same-range crowd (salt rung) ===")
    val w = RangeJoin.BucketWidth
    val gate = new Gates("overlapsalt")
    val domain = RangeBase * w / RangeOcc
    def bg(n: Long, salt: Long, id: String, lo: String,
        hi: String): DataFrame =
      spark.range(n).select(col("id").as(id),
        pmod(xxhash64(col("id"), lit(salt)), lit(domain)).as(lo))
        .withColumn(hi,
          col(lo) + pmod(xxhash64(col(id), lit(salt + 1)), lit(w)))
    // the crowd: HotD intervals per side ALL on [100, 107] — one
    // bucket at every width, HotD² = 4e8 true pairs in one task
    // (10k² = 1e8 proved too light r19: one codegen'd SMJ task chews
    // 1e8 long-pair emissions in ~0.6 s and the ladder contrast
    // drowns in stage noise)
    val HotD = 20000L
    def crowd(base: Long, id: String, lo: String, hi: String): DataFrame =
      spark.range(HotD).select((col("id") + base).as(id),
        lit(100L).as(lo)).withColumn(hi, lit(107L))
    val l = bg(RangeBase, 7L, "l_id", "l_lo", "l_hi")
      .unionByName(crowd(10000000L, "l_id", "l_lo", "l_hi"))
    val r = bg(RangeBase, 77L, "r_id", "r_lo", "r_hi")
      .unionByName(crowd(20000000L, "r_id", "r_lo", "r_hi"))
    def run(width: Long, salt: Int): Long =
      RangeJoin.intervalOverlapSalted(l, r, "l_lo", "l_hi", "r_lo",
          "r_hi", width, salt, Seq("l_id"))
        .groupBy().agg(count(lit(1)).as("n")).head.getLong(0)
    val noBc = "spark.sql.autoBroadcastJoinThreshold" -> "-1"
    // baseline pins AQE's skew split OFF (rangepoints rule: a
    // bimodal baseline is not a baseline); the AQE interplay was
    // measured once and is recorded in PLANS ("AQE skew-split × salt
    // A/B past 256 MB")
    val noSkew = "spark.sql.adaptive.skewJoin.enabled" -> "false"
    withSqlConfs(spark)(noBc, noSkew) {
      // codegen warmup on crowd-free shapes (both plan shapes)
      val (wl, wr) = (bg(10000, 1L, "l_id", "l_lo", "l_hi"),
        bg(10000, 2L, "r_id", "r_lo", "r_hi"))
      RangeJoin.intervalOverlap(wl, wr,
        "l_lo", "l_hi", "r_lo", "r_hi").count(): Unit
      RangeJoin.intervalOverlapSalted(wl, wr, "l_lo", "l_hi", "r_lo",
        "r_hi", w, 2, Seq("l_id")).count(): Unit
      val (n0, _, mx0) = balPlateau(spark)(
        s"same-range crowd ($HotD × $HotD one range) unmitigated, " +
          s"width $w")(run(w, 1))
      // the honesty leg: the finest practical width cannot split it
      val (n1, _, mx1) = balPlateau(spark)(
        s"same-range crowd at width ${w / 64} (the knob that cannot " +
          "help)")(run(w / 64, 1))
      require(n0 == n1, s"width changed the result: $n0 vs $n1")
      println(f"[scale] overlap value-crowd width futility: $mx0%.1f s " +
        f"at $w → $mx1%.1f s at ${w / 64} (same-range intervals share " +
        "a bucket at every width)")
      val t0 = System.nanoTime()
      val (wMit, kMit) = RangeJoin.autoOverlapMitigation(l, r,
        "l_lo", "l_hi", "r_lo", "r_hi")
      println(f"[scale] autoOverlapMitigation picked (width $wMit, " +
        f"salt $kMit; census ${(System.nanoTime() - t0) / 1e9}%.1f s)")
      gate(wMit == w,
        s"a same-range crowd should keep the probe width, got $wMit")
      gate(kMit > 1, s"a same-range crowd must salt, got $kMit")
      val (nS, _, mxS) = balPlateau(spark)(
        s"same-range crowd SALTED (width $wMit, salt $kMit)")(
        run(wMit, kMit))
      require(n0 == nS, s"salt changed the result: $n0 vs $nS")
      println(f"[scale] overlap value-crowd ladder: unmitigated " +
        f"$mx0%.1f s → width-${w / 64} $mx1%.1f s (futile) → " +
        f"salt-$kMit $mxS%.1f s (results identical)")
      gate(mx0 / mxS.max(0.05) >= 2.0,
        f"salting did not materially shrink the overlap value-crowd " +
          f"hot task: $mx0%.1f s → $mxS%.1f s")
    }
    gate.verdict(spark)
  }
}
