package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at the given scale
  * factor and prints one JSON line with the total and the per-query
  * map, then a short total-only JSON line (truncation-proof headline —
  * see below). A query that throws is reported
  * with `-1` in the per-query map AND fails the whole run (nonzero
  * exit) — a silent `-1` once masked 12 broken queries.
  *
  * Hardened against measurement artifacts (round-2 postmortem: a
  * single non-reproducible 114 s stall on one query became 71% of the
  * official total):
  *  - each query is timed TWICE and the MIN is reported, so a one-off
  *    GC/IO hiccup cannot hijack the round's official number;
  *  - timing consumes FULL output tuples via `queryExecution.toRdd
  *    .count()` — a plain `.count()` lets Spark prune every output
  *    column, leaving expensive final projections unmeasured;
  *  - the warmup sweep derives its directory from the bench dir's
  *    sibling sf0.001 (falling back to the bench dir itself), skips
  *    the double-run when they coincide, and logs instead of
  *    swallowing warmup failures;
  *  - (round 11) per-query `executorRunTime` / `executorCpuTime` are
  *    collected by [[Metrics.around]] and reported alongside wall
  *    time (`task_s` / `cpu_s` maps). Wall time inflates under
  *    ambient box load while summed task CPU time does not, so
  *    wall-vs-cpu divergence is the load signature that lets a round
  *    distinguish "the machine was busy" from "the plan regressed"
  *    without out-of-band re-runs (the r10 official total swung +20%
  *    on pure sandbox contention and could not self-adjudicate).
  */
object Bench {

  /** Total task-cpu seconds of ONE fixed state-free shuffle burst:
    * `n` longs through a bare `repartition(64, id)` — serialize +
    * write + read per row, NOTHING whose footprint grows with burst
    * length. The weather normalizer below divides per-query cpu by
    * it, so its shape must stay fixed across runs. */
  private def stateFreeShuffleCpu(spark: SparkSession, n: Long): Double =
    Metrics.around(spark) {
      spark.range(n)
        .repartition(64, org.apache.spark.sql.functions.col("id"))
        .queryExecution.toRdd.count()
    }._2.cpuS

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local("graft-bench")

    // 1-minute load average — recorded in the artifact so a round timed
    // under machine contention self-identifies (the round-5 official
    // total was inflated ~42% by sandbox load and only an out-of-band
    // re-run could adjudicate it). -1.0 when unreadable (non-Linux).
    def load1: Double =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.mkString.split(" ")(0).toDouble finally src.close()
      } catch { case _: Throwable => -1.0 }
    val loadStart = load1

    // Full-tuple consumption: materialize every output row (all columns
    // codegen'd and rendered to InternalRow), without collect()ing to
    // the driver.
    type Q = (SparkSession, String) => org.apache.spark.sql.DataFrame
    def run(fn: Q, dir: String): Unit = {
      fn(spark, dir).queryExecution.toRdd.count(): Unit
    }

    // Warmup sweep at the smallest available sf: JVM/codegen/scan warmup
    // otherwise lands on whichever query runs first (observed +7 s).
    val warmupDir = {
      val parent = new java.io.File(sfDir).getParentFile
      val candidate = new java.io.File(parent, "sf0.001")
      if (candidate.isDirectory && candidate.getPath != new java.io.File(sfDir).getPath)
        candidate.getPath
      else {
        // documented fallback: warm up on the bench dir itself — one
        // untimed full pass is still cheaper than letting the first
        // TIMED query absorb JVM/codegen warmup
        System.err.println(s"[bench] no sibling sf0.001 next to $sfDir — warming up on the bench dir")
        sfDir
      }
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      try run(fn, warmupDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
      }
    }

    // Within-session weather NORMALIZER (r18-VERDICT task 5): a fixed
    // state-free shuffle workload — 40M longs through a bare
    // repartition, nothing whose footprint grows with burst length —
    // timed at bench start AND end. Cross-round comparisons should
    // divide per-query cpu by the session's normalizer mean instead of
    // trusting absolute cpu: r18's +15.5% quiet-box drift was
    // adjudicated as host weather from circumstantial evidence only
    // (zero commits in the regressing files); the normalizer makes
    // that adjudication structural. Min of 2 reps per endpoint (the
    // shuffle weather gusts on the minute scale, r18-measured
    // 0.68×–3.33× across back-to-back probe pairs).
    def normalizerCpu(): Double = {
      def one(): Double = {
        System.gc()
        stateFreeShuffleCpu(spark, 40_000_000L)
      }
      one(): Unit // codegen/JIT warm for the normalizer's own shape
      math.min(one(), one())
    }
    val normStart = normalizerCpu()

    var failed = List.empty[String]
    val results = SparkEntry.queries.map { case (name, fn) =>
      // min-of-2: immune to one-off stalls (GC pause, page-cache miss).
      // Each rep's task time is collected by Metrics.around; the rep
      // with the min WALL time supplies the reported task_s/cpu_s so
      // the three numbers describe ONE run.
      val times = (1 to 2).flatMap { _ =>
        // pay earlier queries' garbage debt OUTSIDE the timed window:
        // without this, whichever query first tips the old gen eats a
        // full-GC stall (observed 1.7 s -> 15-41 s on the same query
        // across otherwise-identical runs)
        System.gc()
        try {
          // Metrics.around lives INSIDE the try: its bus drain has an
          // internal ~10 s timeout that THROWS when the bus is backed
          // up, and a drain timeout must fail this one query, not
          // abort the whole partial-run-containing artifact
          val m = Metrics.around(spark)(run(fn, sfDir))._2
          Some((m.wallS, m.runS, m.cpuS))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          None
        }
      }
      if (times.size < 2 && !failed.contains(name)) failed ::= name
      // round to 3 decimals AT THE SOURCE so every downstream number
      // (per-query maps AND the totals summed from them) derives from
      // the same values — previously the total was full-precision while
      // the map was %.3f-printed, so sum(queries) could drift from
      // `value` by up to n*0.0005 s and trip strict consistency checks
      def r3(v: Double): Double = math.rint(v * 1000) / 1000
      name -> (if (times.nonEmpty && times.size == 2) {
                 val m = times.minBy(_._1); (r3(m._1), r3(m._2), r3(m._3))
               } else (-1.0, -1.0, -1.0))
    }
    // Locale.ROOT: a comma decimal separator would corrupt the JSON.
    // Failure sentinel is the bare integer `-1` (r11+; earlier rounds
    // printed -1.0) — consumers of prior-round artifacts should accept
    // both spellings.
    def num(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jmap(f: ((Double, Double, Double)) => Double): String =
      results.map { case (k, v) => "\"" + k + "\":" + num(f(v)) }
        .mkString("{", ",", "}")
    val qs = jmap(_._1)
    val ok2 = results.values.filter(_._1 >= 0)
    val total = ok2.map(_._1).sum
    val totalTask = ok2.map(_._2).sum
    val totalCpu = ok2.map(_._3).sum
    // ambient load read BEFORE the end normalizer: the normalizer's
    // own three 40M-row shuffles would dominate the 1-minute average
    // and corrupt the field that exists to self-identify EXTERNAL
    // contention (review r19)
    val loadEnd = load1
    val normEnd = normalizerCpu()
    val load = s""""load1_start":$loadStart,"load1_end":$loadEnd""" +
      s""","norm_cpu_s_start":${num(normStart)},"norm_cpu_s_end":${num(normEnd)}"""
    val aux = s""""task_s":${jmap(_._2)},"cpu_s":${jmap(_._3)},"total_task_s":${num(totalTask)},"total_cpu_s":${num(totalCpu)}"""
    val fullLine = s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,$aux,$load,"sf":"$sfDir"}"""
    // Short headline FIRST (r20-VERDICT task 7): harvesters keep a
    // head+tail of program output, and the r19 artifact lost its
    // per-query comparison because the giant full line printed first
    // and truncated. With the headline leading, the head always holds
    // a parseable total; the full line and the trailing headline stay
    // unchanged for continuity (additions-only).
    val okCount = results.count(_._2._1 >= 0)
    val headline = s"""{"metric":"total","value":${num(total)},"unit":"sec","n_queries":$okCount,"failed":${results.size - okCount},"total_task_s":${num(totalTask)},"total_cpu_s":${num(totalCpu)},$load,"sf":"$sfDir"}"""
    println(headline)
    println(fullLine)
    // The harvester keeps only a head+tail of program output, so the
    // full per-query map is unrecoverable from the official artifact
    // alone (BENCH_r11's wall map survived only in PLANS.md). Persist
    // the complete line to a committed file as the per-query record.
    // Default path is anchored to the repo root (nearest ancestor of
    // the cwd holding build.sbt), not the process cwd — `sbt` forked
    // runs and IDE runners differ on cwd, and the per-query record
    // must land where it gets committed.
    val outPath = sys.env.get("SPARK_GRAFT_BENCH_OUT").map(
      java.nio.file.Paths.get(_)).getOrElse {
      val cwd = java.nio.file.Paths.get(".").toAbsolutePath.normalize
      val root = Iterator.iterate(cwd)(_.getParent).takeWhile(_ != null)
        .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
        .getOrElse(cwd)
      root.resolve("BENCH_LOCAL.json")
    }
    try {
      java.nio.file.Files.write(outPath,
        (fullLine + "\n").getBytes("UTF-8")): Unit
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // The full line above grows with the query count and harvesters that
    // keep only the head+tail of program output can truncate it mid-map
    // (round 4 lost the headline total exactly this way). Repeat the
    // headline in a short trailing line so the LAST line always parses.
    // n_queries counts only the timings inside `value` — a failed query
    // contributes to neither, and the failed count is its own field so
    // a partial run can't masquerade as a fast complete one.
    println(headline)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
