package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.Ranks

/** Distributed point-in-interval range join — the second member (with
  * [[AsOf]]) of the non-equi-join family Spark's built-in operator set
  * does not express scalably: `points.join(intervals, p >= lo && p <=
  * hi)` has no equi-key, so Catalyst plans BroadcastNestedLoopJoin
  * (fine only while one side broadcasts) or a cartesian product —
  * quadratic work at 100 TB. Extends the reference's interval-join
  * family (gmall-time/.../app/dwm2/OrderWideApp2.java:171-185 bounds a
  * TIME range per key; this is the keyless value-range form).
  *
  * Device (escalation tier (a) — composition): fixed-width integer
  * buckets. Each interval explodes to the buckets it overlaps
  * (`sequence(lo DIV w, hi DIV w)`), each point maps to exactly ONE
  * bucket (`p DIV w`), and the join becomes an EQUI-join on the bucket
  * id with an exact bounds filter behind it. A point meets every
  * interval overlapping its bucket and no other — candidates are
  * bucket-local, never all-pairs — and because a point lives in one
  * bucket, no dedup pass is needed (each true pair is produced once).
  *
  * Scale shape: work = |points| + Σ(interval span / w) exploded rows +
  * one hash shuffle each side on the bucket id; output = true matches.
  * Pick `w` ≈ the typical interval width: spans then explode to 1–2
  * buckets, and bucket occupancy — not corpus size — bounds the
  * per-bucket candidate fan-out. Skewed value distributions ride AQE's
  * skew split (the bucket id is an ordinary shuffle key).
  *
  * Contract: LONG point/bound columns, signed OK (pre-scale money to
  * integer cents — same convention as the as-of join's epoch-ms;
  * pre-epoch timestamps and signed deltas bucket correctly via exact
  * floor division); bounds are INCLUSIVE on both sides; null
  * points/bounds and inverted intervals (lo > hi) never match.
  */
object RangeJoin {
  /** Default bucket width (integer units, e.g. cents). */
  val BucketWidth = 1024L

  /** Hard cap on the buckets ONE interval may explode to (2^20). An
    * interval spanning more buckets than this means `bucketWidth` is
    * mis-picked for the data (the device's cost IS span/width); it
    * would also run into Spark's own `sequence()` element ceiling
    * with an opaque error far from this call site — fail loudly here
    * instead, naming the row and the knob. */
  val MaxSpanBuckets = 1L << 20

  /** Exact FLOOR division of a LONG sql expression by the (positive)
    * bucket width. `DIV` truncates toward zero, which would silently
    * mis-bucket negative values (-1 DIV 1024 = 0 = the bucket of +1,
    * dropping true pairs that straddle zero); the CASE repairs the
    * truncation. Integer arithmetic end to end — `floor(x / w)` via
    * doubles loses exactness past 2^53. (Cannot underflow: the -1
    * branch needs x % w < 0, impossible at w = 1, and |x DIV w| <
    * Long.MaxValue/1 for w >= 2.) */
  private[graft] def fdiv(x: String, w: Long): String =
    s"(CASE WHEN ($x) % $w < 0 THEN ($x) DIV $w - 1 ELSE ($x) DIV $w END)"

  /** Valid intervals exploded to their overlapped buckets as `__b`,
    * behind the span guard: null bounds and inverted intervals drop,
    * an interval spanning more than [[MaxSpanBuckets]] buckets raises
    * a named error pointing at the `bucketWidth` knob. */
  private def bucketExplode(intervals: DataFrame, loCol: String,
      hiCol: String, bucketWidth: Long): DataFrame = {
    // the guard's span is EXACT saturating long arithmetic: under the
    // signed contract a pathological interval (lo near MinValue, hi
    // near MaxValue, small width) makes the raw Long difference
    // overflow, so `try_subtract` yields NULL there and the coalesce
    // saturates it to Long.MaxValue — which trips the cap, exactly the
    // right answer for a span that wide. spanM1 = hi_b - lo_b, so the
    // `span > MaxSpanBuckets` tripwire is `spanM1 >= MaxSpanBuckets`
    // (never computing the +1 that could itself overflow).
    val spanM1 = expr(s"coalesce(try_subtract(${fdiv(hiCol, bucketWidth)}," +
      s" ${fdiv(loCol, bucketWidth)}), ${Long.MaxValue}L)")
    intervals
      .filter(col(loCol).isNotNull && col(hiCol).isNotNull &&
        col(loCol) <= col(hiCol))
      .withColumn("__b", explode(sequence(
        when(spanM1 >= lit(MaxSpanBuckets), expr(
          s"raise_error(concat('range-join interval [', cast($loCol as string)" +
          s", ', ', cast($hiCol as string), '] spans more than " +
          s"$MaxSpanBuckets buckets at width $bucketWidth -- raise " +
          "bucketWidth toward span/1000'))").cast("long"))
          .otherwise(expr(fdiv(loCol, bucketWidth))),
        expr(fdiv(hiCol, bucketWidth)))))
  }

  /** Census max/mean occupancy ratio above which
    * [[autoOverlapMitigation]] calls the probe width skewed. Below it
    * the probe width stands — paying explode fan-out for a balanced
    * corpus is pure loss. */
  val AutoSkewFactor = 8.0

  /** Absolute occupancy above which [[autoOverlapMitigation]] acts
    * REGARDLESS of the max/mean ratio. The ratio test is
    * mathematically blind when the corpus occupies at most
    * [[AutoSkewFactor]] buckets (maxN ≤ total and avgN = total/buckets
    * force max/mean ≤ buckets) — a narrow domain crowding ONE bucket
    * reads as perfectly balanced. A bucket's candidate work is its
    * occupancy product, so the cap is a work budget: 4096² ≈ 17M
    * candidate pairs is the most one task should absorb. */
  val AutoOccupancyCap = 4096L

  /** Per-bucket candidate work above which [[autoPointMitigation]]
    * acts: the same ~17M-pair task budget [[AutoOccupancyCap]]
    * encodes (there work ≈ occupancy², here it is the point×interval
    * PRODUCT, so the budget is the cap squared). */
  val AutoWorkBudget: Long = AutoOccupancyCap * AutoOccupancyCap

  /** The valid intervals' (saturating, inclusive) span sum, count and
    * max — the explode-cost side of both censuses. */
  private case class Spans(sum: Double, count: Long, max: Long) {
    /** ceil(max / (MaxSpanBuckets − 1)): the narrowest width at which
      * the widest interval explodes to at most [[MaxSpanBuckets]]
      * buckets (the −1 absorbs bucket misalignment, which can add one
      * bucket over span/width) — an auto-derived width can never trip
      * the span guard the caller didn't choose. */
    def guardFloor: Long = {
      val d = MaxSpanBuckets - 1
      max / d + (if (max % d == 0) 0 else 1)
    }
    /** The mean span s̄. */
    def mean: Double = sum / math.max(count, 1L)
  }

  /** `df`'s (lo, hi) columns normalized to LONG `__lo`/`__hi`. */
  private def longBounds(df: DataFrame, lo: String, hi: String): DataFrame =
    df.select(col(lo).cast("long").as("__lo"), col(hi).cast("long").as("__hi"))

  /** Both sides' intervals pooled — the overlap census's input. */
  private def pooledIntervals(left: DataFrame, right: DataFrame,
      lLo: String, lHi: String, rLo: String, rHi: String): DataFrame =
    longBounds(left, lLo, lHi).unionByName(longBounds(right, rLo, rHi))

  /** The inclusive span `__hi − __lo + 1`, saturating like the guard
    * (signed contract). */
  private def spanCol: Column = expr("coalesce(try_add(" +
    s"try_subtract(__hi, __lo), 1L), ${Long.MaxValue}L)")

  /** Intervals (`__lo`, `__hi`) exploded at `probeWidth` and rolled up
    * per bucket in ONE pass: occupancy `__n` and the span
    * sum/count/max (`__s1`/`__c1`/`__mx1`) counted once per interval
    * via its FIRST bucket (`__b == fdiv(__lo)` exactly once per
    * exploded interval). bucketExplode applies the valid-interval
    * filter. */
  private def bucketRollup(iv: DataFrame, probeWidth: Long): DataFrame = {
    require(probeWidth >= 1, s"probe width $probeWidth must be >= 1")
    val firstB = col("__b") === expr(fdiv("__lo", probeWidth))
    bucketExplode(iv.withColumn("__span", spanCol), "__lo", "__hi", probeWidth)
      .groupBy("__b")
      .agg(count(lit(1)).as("__n"),
        sum(when(firstB, col("__span").cast("double"))).as("__s1"),
        count(when(firstB, lit(1))).as("__c1"),
        max(when(firstB, col("__span"))).as("__mx1"))
  }

  /** The corpus [[Spans]] aggregates over a [[bucketRollup]], read back
    * by [[spansAt]]. */
  private def spanTotals: Seq[Column] = Seq(sum(col("__s1")).as("spanSum"),
    coalesce(sum(col("__c1")), lit(0L)).as("ivCount"),
    max(col("__mx1")).as("maxSpan"))

  private def spansAt(r: Row, i: Int): Spans =
    Spans(r.getDouble(i), r.getLong(i + 1), r.getLong(i + 2))

  /** The overlap-form census rollup: pooled per-bucket occupancy
    * max/mean, the hottest bucket's id, and the corpus [[Spans]]. */
  private case class OverlapCensus(maxN: Long, avgN: Double,
      hotB: Long, spans: Spans) {
    /** The probe width stands: ratio test (blind on narrow domains)
      * AND the absolute occupancy work budget. */
    def benign: Boolean =
      maxN <= AutoSkewFactor * avgN && maxN <= AutoOccupancyCap
  }

  /** Both sides' valid intervals pooled, exploded at `probeWidth` and
    * rolled up to ONE statistics row. None on empty/all-invalid
    * input. */
  private def overlapCensus(left: DataFrame, right: DataFrame,
      lLo: String, lHi: String, rLo: String, rHi: String,
      probeWidth: Long): Option[OverlapCensus] = {
    val census = bucketRollup(pooledIntervals(left, right, lLo, lHi, rLo, rHi),
      probeWidth)
    // bounded collect: ONE row of corpus statistics
    val stats = census.agg(max(col("__n")).as("maxN"),
      Seq(avg(col("__n")).as("avgN"),
        expr("max_by(__b, __n)").as("hotB")) ++ spanTotals: _*)
      .collect()(0)
    if (stats.isNullAt(0)) None
    else Some(OverlapCensus(stats.getLong(0), stats.getDouble(1),
      stats.getLong(2), spansAt(stats, 3)))
  }

  /** The balanced width for a flagged overlap census. Within a crowded
    * range of n intervals of typical span s, total candidate work
    * across that range's buckets at width v is ∝ n²·(s+v)²/v
    * (occupancy n(s+v)/range per bucket, range/v buckets) — wanting v
    * SMALL, but with nothing left to gain below v ≈ s. Meanwhile the
    * whole corpus pays explode fan-out Σspans/v — wanting v LARGE.
    * Marginal balance (d/dv of maxN²/probe · v = d/dv of S/v, with
    * range ≈ probe since the crowd sat inside one probe bucket) lands
    * at v* = sqrt(S·probe)/maxN, clamped to [max(crowd median span,
    * guard floor, 1), probeWidth]: below the crowd's own span
    * rebalancing stops while explode cost keeps rising (measured r17:
    * the crowd-span width looked perfect for the hot bucket and moved
    * the bottleneck to a 128× background explode). */
  private def overlapWidthFor(c: OverlapCensus, pooled: DataFrame,
      probeWidth: Long): Long = {
    val vStar = math.sqrt(c.spans.sum * probeWidth.toDouble) / c.maxN
    // the crowd median: the hot bucket's lower-median span, one pass
    // filtered to that bucket (≤ maxN distinct spans in the window)
    val hotMed = Ranks.perGroup(inBucket(pooled, "__lo", "__hi",
        probeWidth, c.hotB).select(spanCol.as("__span")), "__span", Nil,
      "__n", Seq("__med" -> 50)).collect()(0).getLong(1)
    val floor = math.max(math.max(hotMed, c.spans.guardFloor), 1L)
    math.min(probeWidth, math.max(vStar.toLong, floor))
  }

  /** The point-form census rollup: the hottest bucket (by
    * point×interval WORK product) with its id and interval occupancy,
    * plus the interval side's [[Spans]]. */
  private case class PointCensus(maxWork: Long, hotB: Long, hotIn: Long,
      spans: Spans)

  private def pointCensus(points: DataFrame, pointCol: String,
      intervals: DataFrame, loCol: String, hiCol: String,
      probeWidth: Long): Option[PointCensus] = {
    val p = points.filter(col(pointCol).isNotNull)
      .select(expr(fdiv(pointCol, probeWidth)).as("__b"))
      .groupBy("__b").agg(count(lit(1)).as("__pn"))
    val ivn = bucketRollup(longBounds(intervals, loCol, hiCol), probeWidth)
    val work = "coalesce(__pn, 0L) * coalesce(__n, 0L)"
    val stats = p.join(ivn, Seq("__b"), "full_outer").agg(
      max(expr(work)).as("maxWork"),
      Seq(expr(s"max_by(__b, $work)").as("hotB"),
        expr(s"max_by(coalesce(__n, 0L), $work)").as("hotIn")) ++
        spanTotals: _*)
      .collect()(0)
    if (stats.isNullAt(0) || stats.isNullAt(3)) None
    else Some(PointCensus(stats.getLong(0), stats.getLong(1),
      stats.getLong(2), spansAt(stats, 3)))
  }

  /** Rows of `df` whose valid [lo, hi] overlaps probe bucket `hotB`. */
  private def inBucket(df: DataFrame, lo: String, hi: String,
      probeWidth: Long, hotB: Long): DataFrame =
    df.filter(col(lo).isNotNull && col(hi).isNotNull && col(lo) <= col(hi))
      .filter(expr(fdiv(lo, probeWidth)) <= lit(hotB) &&
        expr(fdiv(hi, probeWidth)) >= lit(hotB))

  /** The hot bucket's VALUE core: the largest multiplicity of one
    * EXACT (lo, hi) among the rows overlapping probe bucket `hotB` (a
    * point is its own (p, p)). Those rows share a bucket at every
    * width, so no refinement splits them. One pass filtered to the hot
    * bucket, run ONLY on the mitigation path — the benign majority
    * (every board run at the sf corpora) pays the bucket census
    * alone. */
  private def maxDupHot(df: DataFrame, lo: String, hi: String,
      probeWidth: Long, hotB: Long): Long =
    inBucket(df, lo, hi, probeWidth, hotB)
      .groupBy(Seq(lo, hi).distinct.map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .agg(max(col("__c"))).collect()(0) match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }

  /** Hard cap on the salt factor the auto-mitigations derive — the
    * replicated side replicates salt×, so a runaway estimate must
    * not explode the build side unboundedly. */
  val AutoMaxSalt = 1024

  /** Salt factor that bounds `work` candidate evaluations per task at
    * [[AutoWorkBudget]], capped at [[AutoMaxSalt]]. The cap is LOUD
    * (no-silent-caps): when it binds, per-task work stays above the
    * budget and the caller should hear that the run is under-mitigated
    * rather than infer it from a slow task. */
  private def saltFor(work: Double): Int = {
    val raw = math.max(1.0, math.ceil(work / AutoWorkBudget))
    if (raw > AutoMaxSalt)
      println(s"[range-join] derived salt ${raw.toLong} CLAMPED at " +
        s"AutoMaxSalt=$AutoMaxSalt — per-task candidate work stays " +
        f"~${work / AutoMaxSalt}%.0f, above the $AutoWorkBudget budget; " +
        "this run is under-mitigated (split the input or raise the cap)")
    math.min(AutoMaxSalt.toDouble, raw).toInt
  }

  /** Width AND salt for the point form — the `bucketWidth` and `salt`
    * knobs of [[pointInInterval]], derived from one bucket-census pass
    * per side at `probeWidth` (plus one hot-bucket-only value pass on
    * the mitigation path alone).
    *
    * Cost model (r18, measured): a point lives in ONE bucket at ANY
    * width (refining costs points nothing), and an interval
    * overlapping a crowded bucket still overlaps its refinement (span
    * ≫ width ⇒ the interval count per bucket does NOT shrink with v).
    * So within a crowded probe bucket of P points and I overlapping
    * intervals, a width-v task does ≈ P·I·v/probe candidate
    * evaluations — linear in v — while the corpus pays explode
    * Σspans/v. Marginal balance: v* = sqrt(spanSum · probe / (P·I)).
    * (A first cut fed points into the overlap census as degenerate
    * (p, p) intervals, and a 2M-point crowd drove the overlap formula
    * to width 1 — where the uniform interval BACKGROUND exploded 512×,
    * 256M rows and 14–47 s, for a hot task that was never
    * span-limited.)
    *
    * Census: per-bucket point counts join (full-outer) per-bucket
    * exploded interval counts; the hottest bucket is the one
    * maximizing the P·I product (that product IS the task's work).
    * The ladder:
    *
    *  - benign (max work ≤ [[AutoWorkBudget]] — an absolute task
    *    budget, not a ratio: point work is the product of two
    *    occupancies, so splitting pays whenever the product is large,
    *    skewed or not): `(probeWidth, 1)` — mitigation costs
    *    explode/replication, paying it on a balanced corpus is loss;
    *  - crowded RANGE: v* clamped to [max(guard floor, 1), probeWidth]
    *    splits the crowd, `(v*, 1)` (no crowd-median floor — the
    *    hot-side cost is linear in v, so there is no span scale below
    *    which rebalancing stops paying);
    *  - crowded VALUE (the skew NO width can touch — same-value
    *    points share a bucket at every width): keep the probe width
    *    (refining would only inflate the interval explode for
    *    nothing) and SALT at k = ceil(maxWork / budget), bounding
    *    per-task work at the budget for the price of k× interval
    *    replication;
    *  - mixed: refine to v* AND salt the residual.
    *
    * Regime detection: the value-degenerate component of the HOT
    * bucket is maxValHot × hotIn — the largest same-value point
    * multiplicity WITHIN the hottest bucket ([[maxDupHot]]) times that
    * same bucket's interval occupancy (same bucket on both factors: a
    * global max-multiplicity from some other bucket would
    * misclassify a hot range crowd as a value crowd and skip the
    * refinement it needs). When the value core carries ≥ half the hot
    * bucket's work the crowd is a value crowd. The residual a chosen
    * width v cannot split is estimated with interval occupancy shrunk
    * to hotIn · (s̄+v)/(s̄+probe) — intervals thin out with the bucket
    * only past their own span scale. Estimates are deliberately
    * conservative (ceil, probe-width occupancy bounds); the result is
    * placement-only either way — answers are width- AND
    * salt-invariant by contract, which the shared oracle proves on
    * the board (q_range_price_band_auto, q_range_price_band_salted). */
  def autoPointMitigation(points: DataFrame, pointCol: String,
      intervals: DataFrame, loCol: String, hiCol: String,
      probeWidth: Long = BucketWidth): (Long, Int) =
    pointCensus(points, pointCol, intervals, loCol, hiCol,
        probeWidth) match {
      case None => (probeWidth, 1)
      case Some(c) if c.maxWork <= AutoWorkBudget => (probeWidth, 1)
      case Some(c) =>
        val maxValHot =
          maxDupHot(points, pointCol, pointCol, probeWidth, c.hotB)
        val valueCore = maxValHot.toDouble * c.hotIn
        if (valueCore * 2 >= c.maxWork.toDouble) {
          // value crowd: width is useless, salt at the probe width
          (probeWidth, saltFor(c.maxWork.toDouble))
        } else {
          val vStar = math.sqrt(
            c.spans.sum * probeWidth.toDouble / c.maxWork.toDouble)
          val v = math.min(probeWidth,
            math.max(vStar.toLong, math.max(c.spans.guardFloor, 1L)))
          // what v cannot split: the range crowd shrinks ∝ v, the
          // value core only through interval thinning
          val s = c.spans.mean
          val hotInV = c.hotIn * (s + v) / (s + probeWidth)
          val residual = math.max(c.maxWork.toDouble * v / probeWidth,
            maxValHot.toDouble * hotInV)
          (v, saltFor(residual))
        }
    }

  /** The shared argument checks of the two batch operators; returns
    * the join key — the bucket `__b`, plus the salt group `__s` when
    * `salt` > 1. */
  private def bucketKeys(inputCols: Array[String], bucketWidth: Long,
      salt: Int, saltIdCols: Seq[String]): Seq[String] = {
    require(bucketWidth >= 1, s"bucket width $bucketWidth must be >= 1")
    require(salt >= 1, s"salt $salt must be >= 1")
    require(salt == 1 || saltIdCols.nonEmpty,
      "salt > 1 needs saltIdCols: stable row-identity columns of the " +
        "split (point / left) side to derive the salt group from (a " +
        "nondeterministic assignment breaks exactly-once under partial " +
        "stage recomputation)")
    val keys = if (salt == 1) Seq("__b") else Seq("__b", "__s")
    val clash = inputCols.filter(keys.contains)
    require(clash.isEmpty,
      s"input columns ${clash.mkString(",")} collide with internal names")
    keys
  }

  /** `df` with its salt group `__s`, hashed from `saltIdCols`; `df`
    * itself at salt 1. */
  private def saltGroup(df: DataFrame, salt: Int,
      saltIdCols: Seq[String]): DataFrame =
    if (salt == 1) df
    else df.withColumn("__s",
      pmod(xxhash64(saltIdCols.map(col): _*), lit(salt.toLong)).cast("int"))

  /** `df` replicated to every salt group `__s`; `df` itself at salt 1. */
  private def saltReplicas(df: DataFrame, salt: Int): DataFrame =
    if (salt == 1) df
    else df.withColumn("__s", explode(sequence(lit(0), lit(salt - 1))))

  /** Generic point-in-interval join: every (point row × interval row)
    * pair with `lo <= point <= hi`, produced exactly once.
    *
    * `salt` > 1 is the escalation tier past the width knob, for the
    * skew width cannot touch: a crowd of points at ONE exact value
    * maps to the same bucket at EVERY width (the bucket of a point is
    * a function of its value), so refinement spreads a crowded RANGE
    * but never a crowded VALUE. Salting splits on ROW IDENTITY
    * instead: each point lands in one of `salt` groups, each interval
    * REPLICATES to all of them, and the join key becomes (bucket,
    * salt group) — per-task candidate work drops by the salt factor
    * at the cost of salt× the interval side's exploded rows (the
    * standard replicate-the-small-side skew device, here composed
    * with the bucket equi-join). At `salt = 1` there is no salt column
    * and the join is on the bucket alone. [[autoPointMitigation]]
    * derives both knobs.
    *
    * The salt group is derived DETERMINISTICALLY from `saltIdCols` —
    * caller-designated stable row-identity columns (a primary key, a
    * row id): a nondeterministic assignment (row position, rand)
    * would be the SPARK-23207 hazard — a partial map-stage retry
    * after an executor loss re-routes rows to reduce partitions that
    * already completed, silently losing or duplicating pairs. The
    * result is salt-PLACEMENT-invariant (every point meets its group's
    * full replicated interval set exactly once — the board leg
    * q_range_price_band_salted proves it against the unsalted
    * oracle). Pick id columns with high cardinality WITHIN the crowd:
    * rows sharing the same id values land in one salt group and
    * cannot be split apart. */
  def pointInInterval(points: DataFrame, intervals: DataFrame,
      pointCol: String, loCol: String, hiCol: String,
      bucketWidth: Long = BucketWidth, salt: Int = 1,
      saltIdCols: Seq[String] = Nil): DataFrame = {
    val keys = bucketKeys(points.columns ++ intervals.columns, bucketWidth,
      salt, saltIdCols)
    val iv = saltReplicas(
      bucketExplode(intervals, loCol, hiCol, bucketWidth), salt)
    val pt = saltGroup(points
      .filter(col(pointCol).isNotNull)
      .withColumn("__b", expr(fdiv(pointCol, bucketWidth))),
      salt, saltIdCols)
    pt.join(iv, keys)
      .filter(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop(keys: _*)
  }

  /** Interval × interval OVERLAP join — the third member of the
    * range-join family (point-in-interval, as-of, overlap): every
    * (left row × right row) pair whose inclusive intervals intersect
    * (`lLo <= rHi AND rLo <= lHi`), produced exactly once. Same
    * bucket device as [[pointInInterval]], but since BOTH sides
    * explode, a true pair meets in every bucket their intersection
    * overlaps — the dedup is the RESPONSIBILITY rule: the pair is
    * emitted only from the first bucket of the intersection,
    * `greatest(lLo, rLo) DIV bucketWidth`, which both sides are
    * guaranteed to populate. No distinct pass, no BNLJ/cartesian.
    *
    * `salt` > 1 is the escalation tier past the width knob for the
    * overlap form's value crowd: near-identical intervals (the
    * SCD2/validity-audit shape — one [lo, hi] carried by thousands of
    * rows on BOTH sides) share buckets at EVERY width, because an
    * interval's bucket set is a function of its bounds alone. Salting
    * splits on ROW IDENTITY, as in [[pointInInterval]]: each LEFT row
    * lands in one of `salt` groups (derived deterministically from
    * `saltIdCols` — LEFT-side stable row-identity columns), each RIGHT
    * exploded row REPLICATES to all groups, and the join key becomes
    * (bucket, salt group). Per-task candidate work drops by the salt
    * factor for the price of salt× the right side's exploded rows.
    * Exactly-once holds: within the responsibility bucket a true
    * pair's left row sits in ONE salt group and its right row is
    * present in every group (board leg q_range_band_overlap_salted
    * shares [[bandOverlapOracle]] with the unsalted query). At
    * `salt = 1` there is no salt column and the join is on the bucket
    * alone. Pick id columns with high cardinality WITHIN the crowd —
    * this operator is lazy, so it cannot see that hazard itself;
    * derive the knobs through [[autoOverlapMitigation]] with
    * `saltIdCols`, whose degeneracy check warns loudly.
    *
    * Contract as [[pointInInterval]] (LONG bounds, signed OK,
    * inclusive, nulls/inverted never match); the two inputs must not
    * share column names. */
  def intervalOverlap(left: DataFrame, right: DataFrame,
      lLo: String, lHi: String, rLo: String, rHi: String,
      bucketWidth: Long = BucketWidth, salt: Int = 1,
      saltIdCols: Seq[String] = Nil): DataFrame = {
    val keys = bucketKeys(left.columns ++ right.columns, bucketWidth,
      salt, saltIdCols)
    val missing = saltIdCols.filterNot(left.columns.contains)
    require(salt == 1 || missing.isEmpty,
      s"saltIdCols ${missing.mkString(",")} are not LEFT columns — " +
        "the split side is the left one; swap the inputs to salt the " +
        "other side")
    val shared = left.columns.toSet intersect right.columns.toSet
    require(shared.isEmpty,
      s"inputs share columns ${shared.mkString(",")} — rename before joining")
    val l = saltGroup(bucketExplode(left, lLo, lHi, bucketWidth), salt,
      saltIdCols)
    val r = saltReplicas(bucketExplode(right, rLo, rHi, bucketWidth), salt)
    l.join(r, keys)
      .filter(col(lLo) <= col(rHi) && col(rLo) <= col(lHi))
      .filter(col("__b") ===
        expr(fdiv(s"greatest($lLo, $rLo)", bucketWidth)))
      .drop(keys: _*)
  }

  /** Width AND salt for the overlap form — the `bucketWidth` and
    * `salt` knobs of [[intervalOverlap]], mirroring
    * [[autoPointMitigation]] with the overlap form's cost model
    * (per-bucket work ≈ occupancy², not a point×interval product).
    *
    * Device: ONE census pass at `probeWidth` — both sides' valid
    * intervals explode to their buckets (same contract/guard as the
    * join itself) and one aggregation computes per-bucket occupancy,
    * its max/mean, the hottest bucket, and the corpus span sum and
    * max; the width arm adds the MEDIAN SPAN inside that bucket
    * ([[overlapWidthFor]]). The ladder:
    *
    *  - benign (max/mean ≤ [[AutoSkewFactor]] AND the worst bucket
    *    under [[AutoOccupancyCap]] — the ratio alone is blind on a
    *    narrow domain, so the absolute work budget is what catches a
    *    corpus crowding ONE bucket uniformly): `(probeWidth, 1)`;
    *  - crowded RANGE of distinct intervals: the balanced width v*
    *    (cost model at [[overlapWidthFor]]), `(v*, 1)` when v* splits
    *    the work under budget;
    *  - crowded VALUE (near-identical intervals both sides — the
    *    SCD2 validity-audit shape no width can split): keep the
    *    probe width and SALT at k = ceil((maxN/2)² / budget) —
    *    AM-GM's tight bound on the per-task lefts×rights product
    *    from the pooled occupancy;
    *  - mixed: refine to v* AND salt the residual.
    *
    * Regime detection: the value core of the hot bucket is
    * (maxDupHot/2)² — [[maxDupHot]] over the pooled intervals, under
    * the same AM-GM normalization as maxWork so the ≥-half regime
    * test compares like with like (those rows pair with each other in
    * the same bucket at every width). The residual a chosen width v
    * cannot split shrinks each SIDE's occupancy to
    * maxN·(s̄+v)/(s̄+probe) (an interval overlaps a refined bucket
    * while its span covers it), so the range part shrinks
    * quadratically while the dup core stays exactly maxDupHot².
    * Estimates are conservative; the result is placement-only —
    * answers are width- AND salt-invariant by contract. Cost: one
    * shuffle over explode(span/probeWidth) rows + one 1-row collect —
    * O(corpus), far below the join it tunes.
    *
    * Pass `saltIdCols` (the columns the caller will hand
    * [[intervalOverlap]]) to also get the DEGENERATE-SALT
    * diagnostic (r19-ADVICE): a salt derived from id columns that are
    * constant or low-cardinality WITHIN the crowd is a silent no-op —
    * the crowd's left rows all hash to a handful of groups while the
    * right side still pays the full salt× replication. The check
    * counts the distinct salt groups the hot bucket's left rows
    * actually reach (one pass, filtered to the hot bucket, run ONLY
    * when a salt > 1 was derived) and warns LOUDLY — same
    * no-silent-caps posture as [[saltFor]]'s clamp — when half or fewer of
    * the derived groups are populated. Diagnostic only: the answer is
    * still exact either way; the cost is wasted replication. */
  def autoOverlapMitigation(left: DataFrame, right: DataFrame,
      lLo: String, lHi: String, rLo: String, rHi: String,
      probeWidth: Long = BucketWidth,
      saltIdCols: Seq[String] = Nil): (Long, Int) = {
    // one copy of the warn-on-degenerate-placement check, applied to
    // whichever arm derived a salt (reuses the census's hot bucket)
    def checked(hotB: Long)(w: Long, k: Int): (Long, Int) = {
      if (k > 1 && saltIdCols.nonEmpty) {
        val row = inBucket(left, lLo, lHi, probeWidth, hotB)
          .select(pmod(xxhash64(saltIdCols.map(col): _*),
            lit(k.toLong)).as("__s"))
          .agg(countDistinct(col("__s")), count(lit(1))).collect()(0)
        val (groups, cnt) = (row.getLong(0), row.getLong(1))
        // the achievable ceiling is min(k, #hot left rows): when the
        // crowd sits on the RIGHT side the pooled census can derive
        // k far above the few left rows in the hot bucket, and those
        // rows reaching "only" their own count of groups is perfect
        // placement, not degeneracy (review r20). Within that
        // ceiling, fires at half-or-less populated (<=, not <: a
        // fully degenerate constant id under the smallest derivable
        // salt k=2 populates exactly one group — half — and must
        // warn; healthy hashing leaves the populated count near the
        // ceiling, collisions only shaving a few percent).
        if (groups * 2 <= math.min(k.toLong, cnt))
          println(s"[range-join] derived salt $k is DEGENERATE on " +
            s"saltIdCols ${saltIdCols.mkString(",")}: the hot " +
            s"bucket's $cnt left rows reach only $groups of $k " +
            "groups — the crowd cannot be split apart on these ids " +
            "while the right side still pays the full replication; " +
            "pick id columns with high cardinality WITHIN the crowd")
      }
      (w, k)
    }
    overlapCensus(left, right, lLo, lHi, rLo, rHi, probeWidth) match {
      case None => (probeWidth, 1)
      case Some(c) if c.benign => (probeWidth, 1)
      case Some(c) =>
        // per-task work is lefts_b × rights_b; the census pools both
        // sides, and AM-GM bounds the product TIGHTLY by (maxN/2)² —
        // the raw maxN² overestimates 4× at a balanced split, and an
        // inflated k buys nothing but k× more background replication
        // (measured r19: the first cut derived salt 24 where 6
        // sufficed and the replication dwarfed the win)
        val maxWork = (c.maxN.toDouble / 2) * (c.maxN.toDouble / 2)
        val pooled = pooledIntervals(left, right, lLo, lHi, rLo, rHi)
        val dups = maxDupHot(pooled, "__lo", "__hi", probeWidth, c.hotB)
        val valueCore = (dups.toDouble / 2) * (dups.toDouble / 2)
        if (valueCore * 2 >= maxWork) {
          // value crowd: width is useless, salt at the probe width
          checked(c.hotB)(probeWidth, saltFor(maxWork))
        } else {
          val v = overlapWidthFor(c, pooled, probeWidth)
          // what v cannot split: each side's occupancy thins with the
          // bucket only past its own span scale; the dup core never
          val s = c.spans.mean
          val occV = c.maxN * (s + v) / (s + probeWidth)
          val residual = math.max((occV / 2) * (occV / 2), valueCore)
          checked(c.hotB)(v, saltFor(residual))
        }
    }
  }

  /** part's ±0.1% retail-price band in integer cents — the ONE
    * builder behind both the fixed-width and auto-width query pairs,
    * so a drift in the band construction can never silently decouple
    * the auto legs from the fixed-width oracles they share
    * (r17-ADVICE: the construction had grown four verbatim copies). */
  private[graft] def priceBands(spark: SparkSession, dir: String,
      keyAs: String, loAs: String, hiAs: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        floor(col("p_retailprice") * 100).cast("long").as("rp"))
      .select(col("p_partkey").as(keyAs),
        (col("rp") - expr("rp DIV 1000")).as(loAs),
        (col("rp") + expr("rp DIV 1000")).as(hiAs))

  /** lineitem extended prices in integer cents — shared point side of
    * the price-band query pair. */
  private def pricePoints(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(floor(col("l_extendedprice") * 100).cast("long").as("pc"))

  /** Concrete query: lineitem prices matched into every part's ±0.1%
    * retail-price band (integer-cent arithmetic end to end), counted
    * per part — "which catalog prices do observed line prices cluster
    * on". 2k intervals × 60k points at sf0.01 with 1,712 true pairs —
    * the nested-loop form touches 120M pairs for the same answer. */
  def priceBandQuery(spark: SparkSession, dir: String): DataFrame =
    pointInInterval(pricePoints(spark, dir),
        priceBands(spark, dir, "p_partkey", "lo", "hi"), "pc", "lo", "hi")
      .groupBy("p_partkey")
      .agg(count(lit(1)).as("match_ct"))

  /** Concrete overlap query: pairs of parts whose ±0.1% retail-price
    * bands INTERSECT (price-collision audit), counted per lower
    * part key — the self-overlap form every SCD2/validity-interval
    * audit reduces to. Bands are ~±150 cents wide at these prices, so
    * each spans 1–2 of the 1024-cent buckets and bucket occupancy —
    * not the 2M-pair cross product — bounds the candidate work. */
  def bandOverlapQuery(spark: SparkSession, dir: String): DataFrame =
    intervalOverlap(priceBands(spark, dir, "pk_a", "lo_a", "hi_a"),
        priceBands(spark, dir, "pk_b", "lo_b", "hi_b"),
        "lo_a", "hi_a", "lo_b", "hi_b")
      .filter(col("pk_a") < col("pk_b"))
      .groupBy(col("pk_a").as("p_partkey"))
      .agg(count(lit(1)).as("overlap_ct"))

  /** [[priceBandQuery]] at salt 4 — same oracle as the unsalted
    * query: the driver's hash compare is the cross-engine proof that
    * salt placement never changes the answer, the contract
    * [[autoPointMitigation]]'s value-crowd regime leans on. */
  def priceBandSaltedQuery(spark: SparkSession, dir: String): DataFrame =
    pointInInterval(
        Tables.lineitem(spark, dir).select(
          floor(col("l_extendedprice") * 100).cast("long").as("pc"),
          col("l_orderkey"), col("l_linenumber")),
        priceBands(spark, dir, "p_partkey", "lo", "hi"),
        "pc", "lo", "hi", BucketWidth, salt = 4,
        saltIdCols = Seq("l_orderkey", "l_linenumber"))
      .groupBy("p_partkey")
      .agg(count(lit(1)).as("match_ct"))

  /** [[priceBandQuery]] at the width [[autoPointMitigation]] derives
    * — same oracle as the fixed-width query (width-independence), same
    * device as [[bandOverlapAutoQuery]] but for the point form. */
  def priceBandAutoQuery(spark: SparkSession, dir: String): DataFrame = {
    val iv = priceBands(spark, dir, "p_partkey", "lo", "hi")
    val pts = pricePoints(spark, dir)
    val (w, _) = autoPointMitigation(pts, "pc", iv, "lo", "hi")
    pointInInterval(pts, iv, "pc", "lo", "hi", w)
      .groupBy("p_partkey")
      .agg(count(lit(1)).as("match_ct"))
  }

  /** The overlap audit at the CENSUS-DERIVED mitigation —
    * [[autoOverlapMitigation]] run end to end on real data, then the
    * same join at the FULL (width, salt) it picks (r19-VERDICT task
    * 5: the auto API's value path was exercised only by spec +
    * rehearsal; this puts it under the driver's cross-engine hash).
    * Same oracle as [[bandOverlapQuery]]: the operator's contract is
    * width- AND salt-independence, so the hash compare IS the proof
    * that the derived mitigation changes nothing but the plan's
    * balance. (At the sf corpora the price bands are benign —
    * near-uniform occupancy — so auto returns (probeWidth, 1) and
    * the join is the plain bucket join: the leg proves the
    * auto path adds nothing on healthy data; the skewed regimes are
    * tested on hot-bucket corpora in RangeJoinSpec, where the derived
    * width and salt must cut the hottest cell's candidate work.) */
  def bandOverlapAutoQuery(spark: SparkSession, dir: String): DataFrame = {
    val (a, b) = (priceBands(spark, dir, "pk_a", "lo_a", "hi_a"),
      priceBands(spark, dir, "pk_b", "lo_b", "hi_b"))
    val (w, k) = autoOverlapMitigation(a, b, "lo_a", "hi_a", "lo_b", "hi_b",
      saltIdCols = Seq("pk_a"))
    intervalOverlap(a, b, "lo_a", "hi_a", "lo_b", "hi_b", w, k,
        saltIdCols = Seq("pk_a"))
      .filter(col("pk_a") < col("pk_b"))
      .groupBy(col("pk_a").as("p_partkey"))
      .agg(count(lit(1)).as("overlap_ct"))
  }

  /** [[bandOverlapQuery]] at salt 4 (left rows split by part key) —
    * same oracle as the unsalted query: the driver's hash compare is
    * the cross-engine proof that salt placement never changes the
    * overlap answer, the contract [[autoOverlapMitigation]]'s
    * value-crowd regime leans on. */
  def bandOverlapSaltedQuery(spark: SparkSession, dir: String): DataFrame =
    intervalOverlap(priceBands(spark, dir, "pk_a", "lo_a", "hi_a"),
        priceBands(spark, dir, "pk_b", "lo_b", "hi_b"),
        "lo_a", "hi_a", "lo_b", "hi_b", BucketWidth, salt = 4,
        saltIdCols = Seq("pk_a"))
      .filter(col("pk_a") < col("pk_b"))
      .groupBy(col("pk_a").as("p_partkey"))
      .agg(count(lit(1)).as("overlap_ct"))

  /** Target buffered-interval rows per STATE partition for the
    * streaming overlap leg — ~0.5 MiB of store rows at the ~64 B/row
    * the HDFS-backed store carries, against a fixed per-partition
    * per-batch commit cost (one delta file each). Partition count =
    * est. state rows / this, so the fan-out follows the state volume:
    * tiny corpora stop paying 32× commit overhead for KiBs of state,
    * real volume gets real parallelism from the same rule. */
  val StreamStatePartTargetRows = 8192L

  /** State-partition count for [[bandOverlapStreamQuery]] derived from
    * the estimated buffered-row census (r20-VERDICT task 2 — replaces
    * the hand-pinned 8): ceil(rows / [[StreamStatePartTargetRows]]),
    * clamped to [1, 1024] (the cap bounds scheduler fan-out; at 1024
    * partitions the per-partition state is past 0.5 MiB again and
    * cluster-side tuning should own the knob). */
  def overlapStreamStateParts(estStateRows: Long): Int =
    math.max(1L, math.min(1024L,
      (estStateRows + StreamStatePartTargetRows - 1) /
        StreamStatePartTargetRows)).toInt

  /** Monotonic suffix for the streaming board query's per-run
    * sink/checkpoint SUBDIRECTORIES — each invocation (Verify, bench
    * reps) needs a fresh streaming query against a fresh sink path,
    * and the returned lazy frame keeps reading its run's parquet, so
    * subdirs accumulate under the one JVM-cached base until its
    * exit-time cleanup. */
  private val streamRuns = new java.util.concurrent.atomic.AtomicLong

  /** The overlap audit through the STREAMING operator
    * ([[graft.streaming.StreamJobs.intervalOverlapStream]]) under
    * [[bandOverlapOracle]] — the SAME oracle as the batch board query,
    * on the FULL corpus — so the driver's hash compare proves the
    * streaming path (bucket state, responsibility emission, watermark
    * pruning) computes exactly the theta-join answer on real data.
    * Cents map to epoch-ms timestamps (the streaming form's
    * event-time contract); both sides feed in hi order through one
    * micro-batch — emission is on-arrival, so no sentinel flush is
    * needed for completeness. The span bound is DERIVED from the
    * collected bands (max(hi − lo); r18-ADVICE: the old hardcoded
    * 1024 would have raised at runtime once a retail price crossed
    * ~$5,120), so the assumption lives next to the arithmetic.
    *
    * Drain shape (r18-VERDICT task 2): the pairs land in a PARQUET
    * file sink across the operator's own tasks — the r18 leg's
    * single-partition memory sink + driver collect cost O(pairs)
    * outside Tungsten and forced a pk%5 subset onto the board
    * (60–130 s at the full sf0.1 corpus); the file-sink drain runs
    * the full ~5M raw pairs in a few seconds and the returned
    * aggregate is a LAZY frame over the run's parquet. The
    * driver-side collect of the 20k-row band table remains
    * demonstration harness, not the production path (a deployment
    * reads `readStream`; the operator itself never collects).
    *
    * `salt` > 1 runs the stream through the salt×salt 2-D salt GRID
    * (board `q_range_band_overlap_stream_salted`, salt 2) under the
    * same oracle: the driver's hash compare is the cross-engine proof
    * that grid placement (left rows hashed into grid rows and
    * replicated across columns, rights the transpose, responsibility
    * rule untouched) never changes the streaming answer — the
    * invariance the crowd mitigation's correctness leans on, proven
    * here on real data rather than only on the spec's synthetic
    * crowd. */
  def bandOverlapStreamQuery(spark: SparkSession, dir: String,
      salt: Int = 1): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val rows = priceBands(spark, dir, "pk", "lo", "hi")
      .select("pk", "lo", "hi").as[(Long, Long, Long)]
      .collect().sortBy(_._3)
    // degenerate empty corpus: no bands → no stream to run (and no
    // derived span, and no committed sink files to read back) — the
    // empty aggregate frame directly (review r19; the `when` keeps
    // p_partkey NULLABLE to match the real path's read-schema-derived
    // nullability, which the degenerate sweep compares exactly)
    if (rows.isEmpty)
      return spark.range(0).select(
        when(col("id") >= 0, col("id")).as("p_partkey"),
        col("id").as("overlap_ct"))
    // the stream leg's shuffle-partition count — the stateful
    // operator's state-partition count, fixed at query start from this
    // conf — is DERIVED from the band census (r20-VERDICT task 2; the
    // r19/r20 rounds pinned 8 from an A/B at sf0.1, a constant that
    // could not follow the data): EVERY micro-batch commits one
    // HDFS-store delta file per partition, a fixed per-partition cost,
    // so the count must scale with the state it amortizes — estimated
    // buffered rows = Σ buckets per interval × each side's grid
    // replication — not with the session's core count. At sf0.1 (~20k
    // bands × ~1 bucket × 2 sides ≈ 40k rows) this derives 5, parity
    // with the hand-pinned 8 (A/B in OPTIMIZATION_r21.md); at a
    // deployment's real volume the same derivation scales the count up
    // with the state. The stream starts, drains and stops inside
    // withSqlConfs, so the caller's conf is restored on return.
    val estStateRows = rows.iterator.map { case (_, lo, hi) =>
      (hi - lo) / BucketWidth + 1 }.sum * (2 * salt)
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val maxSpan = rows.iterator.map(r => r._3 - r._2).max
    val ts = rows.map { case (pk, lo, hi) =>
      (pk, new java.sql.Timestamp(lo), new java.sql.Timestamp(hi)) }
    val lSrc = MemoryStream[(Long, java.sql.Timestamp, java.sql.Timestamp)]
    val rSrc = MemoryStream[(Long, java.sql.Timestamp, java.sql.Timestamp)]
    // ONE cached base dir (deleted at JVM exit) with a fresh subdir
    // per invocation: bench reps and Verify each need their own sink
    // + checkpoint, and the returned frame stays readable until exit
    val base = graft.func.TempDirs.cached("bandoverlapstream")
    val run = streamRuns.incrementAndGet()
    val (out, ckpt) = (s"$base/run$run/out", s"$base/run$run/ckpt")
    val stateParts = overlapStreamStateParts(estStateRows).toString
    graft.func.Confs.withSqlConfs(spark)("spark.sql.shuffle.partitions" -> stateParts) {
      val q = graft.streaming.StreamJobs.intervalOverlapStream(
          lSrc.toDF().toDF("id", "lo", "hi"),
          rSrc.toDF().toDF("id", "lo", "hi"),
          "id", "lo", "hi", "id", "lo", "hi",
          bucketWidthMs = BucketWidth, maxSpanMs = maxSpan,
          delay = "1 second", saltLeft = salt, saltRight = salt)
        // the query's l_id < r_id predicate applied BEFORE the sink
        // (r21, guide §2.3 shuffle/IO fewer bytes): both stream sides
        // carry the same band set, so the raw yield holds every
        // unordered pair TWICE plus the 1-per-band self-pairs — at
        // sf0.1 that was 15.0M sink rows of which the read-back filter
        // kept 7.5M. Filtering inside the streaming query halves the
        // encode + parquet write + read-back; the read-back filter
        // stays (idempotent on the pre-filtered rows) so the returned
        // frame's contract is visible at one site.
        .filter(col("l_id") < col("r_id"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        lSrc.addData(ts.toIndexedSeq)
        rSrc.addData(ts.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
    }
    spark.read.schema("l_id LONG, r_id LONG").parquet(out)
      .filter(col("l_id") < col("r_id"))
      .groupBy(col("l_id").as("p_partkey"))
      .agg(count(lit(1)).as("overlap_ct"))
  }

  /** DuckDB plans the overlap predicate natively (IEJoin). */
  val bandOverlapOracle: String =
    """WITH iv AS (SELECT p_partkey, rp - rp // 1000 AS lo, rp + rp // 1000 AS hi
      |            FROM (SELECT p_partkey,
      |                         CAST(floor(p_retailprice * 100) AS BIGINT) AS rp
      |                  FROM part))
      |SELECT a.p_partkey, CAST(count(*) AS BIGINT) AS overlap_ct
      |FROM iv a JOIN iv b
      |  ON a.p_partkey < b.p_partkey AND a.lo <= b.hi AND b.lo <= a.hi
      |GROUP BY 1""".stripMargin

  /** DuckDB states the operator natively (its IEJoin plans BETWEEN
    * range predicates); identical integer-cent arithmetic. */
  val priceBandOracle: String =
    """WITH iv AS (SELECT p_partkey, rp - rp // 1000 AS lo, rp + rp // 1000 AS hi
      |            FROM (SELECT p_partkey,
      |                         CAST(floor(p_retailprice * 100) AS BIGINT) AS rp
      |                  FROM part)),
      |pts AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS pc
      |        FROM lineitem)
      |SELECT p_partkey, CAST(count(*) AS BIGINT) AS match_ct
      |FROM iv JOIN pts ON pc BETWEEN lo AND hi
      |GROUP BY 1""".stripMargin
}
