package graft

/** Per-STAGE attribution probe for one `SparkEntry.queries` entry:
  * runs the query [[reps]] times and prints, for every stage of the
  * LAST rep, its executor run/cpu time, input bytes/records, and
  * shuffle read/write bytes — the empirical loop of the optimization
  * guide (§1.1/§7.1) without a UI in the sandbox. [[BenchOne]] answers
  * "how long"; this answers "WHERE inside the query".
  *
  * Usage: `runMain graft.Profile <sfDir> <query> [reps=2]`
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <query> [reps]")
    val dir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Session.local("graft-profile")
    val q = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'"))
    try {
      // warm reps: JIT/codegen/page-cache settle so the profiled rep
      // reflects the steady state the bench's min-of-2 reports
      (1 until reps).foreach { i =>
        val t0 = System.nanoTime()
        q(spark, dir).queryExecution.toRdd.count(): Unit
        println(f"[profile] warm rep$i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      val (n, m) = Metrics.around(spark)(
        q(spark, dir).queryExecution.toRdd.count())
      println(f"[profile] $name measured rep: ${m.wallS}%.3f s wall, " +
        s"$n rows, ${m.stages.size} stages")
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
