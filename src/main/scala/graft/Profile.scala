package graft

/** Single-query probe for one `SparkEntry.queries` entry: runs the
  * query `reps` times in one JVM and prints every rep's wall, task and
  * cpu seconds and row count, then, for every stage of the LAST rep,
  * its executor run/cpu time, input bytes/records, and shuffle
  * read/write bytes — the empirical loop of the optimization guide
  * (§1.1/§7.1) without a UI in the sandbox. The full [[Bench]] total
  * is the official artifact; this exists because A/B-ing one operator
  * through full-bench reruns is noise-dominated on a shared sandbox
  * (adjacent full runs moved untouched queries 2–3×, PLANS.md r9) —
  * repeated same-JVM reps of the single query give the comparison the
  * full run cannot, and the earlier reps warm JIT/codegen/page cache
  * so the last one reflects the steady state.
  *
  * Usage: `runMain graft.Profile <sfDir> <query> [reps=3]`
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <query> [reps]")
    val dir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    require(reps >= 1, s"reps must be positive, got $reps")
    val spark = Session.local("graft-profile")
    val q = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'"))
    try {
      // same task/cpu attribution as the full Bench (r11): task CPU
      // time is contention-robust, so an A/B on a loaded box compares
      // cpu_s, not wall
      val m = (1 to reps).map { i =>
        val (n, m) = Metrics.around(spark)(
          q(spark, dir).queryExecution.toRdd.count())
        println(f"[profile] $name rep$i: ${m.wallS}%.3f s " +
          f"(task ${m.runS}%.3f s, cpu ${m.cpuS}%.3f s, $n rows)")
        m
      }.last
      println(s"[profile] $name rep$reps stages: ${m.stages.size}")
      println(f"${"stage"}%6s ${"tasks"}%5s ${"run_s"}%8s ${"cpu_s"}%8s " +
        f"${"in_MB"}%8s ${"in_rec"}%10s ${"sh_rd_MB"}%9s ${"sh_wr_MB"}%9s  name")
      m.stages.sortBy(-_.cpuNs).foreach { r =>
        println(f"${r.id}%6d ${r.tasks}%5d ${r.runMs / 1e3}%8.3f " +
          f"${r.cpuNs / 1e9}%8.3f ${r.inBytes / 1e6}%8.1f ${r.inRecs}%10d " +
          f"${r.shuffleReadBytes / 1e6}%9.2f " +
          f"${r.shuffleWriteBytes / 1e6}%9.2f  ${r.name.take(110)}")
      }
      println(f"[profile] total: run ${m.runS}%.3f s, cpu ${m.cpuS}%.3f s")
    } finally spark.stop()
  }
}
