package graft

/** [[Metrics]] — the one task-metrics collector. Bench's task_s/cpu_s
  * columns ride on its totals and Profile's table on its per-stage
  * rows, so pin both views: a real job moves the totals, a collector
  * sees only the tasks of its own body, CPU time stays within a sane
  * band of run time, and the per-stage rows add up to the totals. */
class MetricsSpec extends SparkSpec {

  test("a job's task time lands in the collector around it") {
    val (n, m) = Metrics.around(spark) {
      // real distributed work: a shuffle with enough rows to be >0 ms
      spark.range(2000000L).selectExpr("id % 97 AS k")
        .groupBy("k").count().count()
    }
    assert(n === 97L)
    assert(m.runS > 0, "executorRunTime must accumulate across the job")
    assert(m.cpuS > 0, "executorCpuTime must accumulate across the job")
    // per-task CPU cannot exceed task wall by more than measurement
    // slop (executorRunTime is ms-granular; CPU is ns) — a gross
    // violation means the units of runS/cpuS regressed
    assert(m.cpuS <= m.runS * 2 + 0.25,
      s"cpu ${m.cpuS}s vs task ${m.runS}s — unit mismatch?")
    assert(m.wallS > 0)

    // an idle interval attributes nothing
    val (_, idle) = Metrics.around(spark)(())
    assert(idle.runS === 0.0 && idle.cpuS === 0.0 && idle.stages.isEmpty,
      "no job ran — the counters must not move")

    // a collector stops at the end of its body
    val (run1, cpu1) = (m.runS, m.cpuS)
    Metrics.around(spark)(spark.range(100000L).repartition(4).count())
    assert(m.runS === run1 && m.cpuS === cpu1,
      "a later job moved a finished collector")
  }

  test("per-stage rows sum to the totals, one row per stage of a shuffle job") {
    // 4 map tasks, each holding every residue mod 7, combine map-side
    // to 7 records each; 3 reduce tasks read those 28 records
    val (_, m) = Metrics.around(spark) {
      spark.sparkContext.parallelize(1 to 10000, 4)
        .map(i => (i % 7, 1L)).reduceByKey(_ + _, 3).count()
    }
    val Seq(mapSt, reduceSt) = m.stages
    assert((mapSt.tasks, reduceSt.tasks) === ((4, 3)))
    assert(m.stages.map(_.runMs).sum / 1e3 === m.runS)
    assert(m.stages.map(_.cpuNs).sum / 1e9 === m.cpuS)
    assert(m.stages.forall(s => s.taskShuffleReadRecs.size == s.tasks))
    assert(m.stages.forall(_.name.nonEmpty), "stage names must be recorded")
    assert(mapSt.shuffleWriteBytes > 0)
    assert(reduceSt.shuffleReadBytes === mapSt.shuffleWriteBytes,
      "every byte the map stage wrote is read by the reduce stage")
    assert(reduceSt.taskShuffleReadRecs.sum === 28L)
    assert(mapSt.taskShuffleReadRecs.sum === 0L)
  }
}
