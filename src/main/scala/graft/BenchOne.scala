package graft

/** Single-query timing probe: run ONE `SparkEntry.queries` entry N
  * times in one JVM and print per-rep seconds. The full [[Bench]]
  * total is the official artifact; this exists because A/B-ing one
  * operator through full-bench reruns is noise-dominated on a shared
  * sandbox (adjacent full runs moved untouched queries 2–3×, PLANS.md
  * r9) — repeated same-JVM reps of the single query give the
  * comparison the full run cannot.
  *
  * Usage: `runMain graft.BenchOne <sfDir> <query> [reps=3]`
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BenchOne <sfDir> <query> [reps]")
    val dir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Session.local("graft-bench-one")
    val q = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'"))
    // same task/cpu attribution as the full Bench (r11): task CPU time
    // is contention-robust, so an A/B on a loaded box compares cpu_s,
    // not wall
    try (1 to reps).foreach { i =>
      val (n, m) = Metrics.around(spark)(
        q(spark, dir).queryExecution.toRdd.count())
      println(f"[bench-one] $name rep$i: ${m.wallS}%.3f s " +
        f"(task ${m.runS}%.3f s, cpu ${m.cpuS}%.3f s, $n rows)")
    } finally spark.stop()
  }
}
