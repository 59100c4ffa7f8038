package graft

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.graftshim.ListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one task-metrics collector: executor task metrics summed per
  * stage from every task end it sees. Bench reads the totals
  * (`task_s` / `cpu_s`), Profile the per-stage rows, ScaleRehearsal
  * the input and shuffle-read records (work counters) —
  * one per-stage statistics record serving every view, the practice
  * of "Running Presto at Scale" (ICDE 2022). Obtain one through
  * [[Metrics.around]], which bounds it to exactly one body's tasks. */
final class Metrics private () extends SparkListener {
  // written on the listener-bus thread, read by the driver after a
  // drain: both sides synchronize
  private var rows = Map.empty[Int, Metrics.Stage]
  private var names = Map.empty[Int, String]
  private var wallNs = 0L

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { names += e.stageInfo.stageId -> e.stageInfo.name }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      val s = rows.getOrElse(e.stageId,
        Metrics.Stage(e.stageId, names.getOrElse(e.stageId, "")))
      rows += e.stageId -> s.add(m)
    }
  }

  /** Wall seconds of the body [[Metrics.around]] ran, bus drains
    * excluded. */
  def wallS: Double = wallNs / 1e9

  /** Every stage that ended at least one task, by stage id. */
  def stages: Seq[Metrics.Stage] = synchronized(rows.values.toSeq.sortBy(_.id))

  /** Executor run seconds over all tasks: wall on the executor,
    * including shuffle-fetch wait and GC. */
  def runS: Double = stages.map(_.runMs).sum / 1e3

  /** Executor cpu seconds over all tasks — unlike wall time, it does
    * not inflate under ambient machine load. */
  def cpuS: Double = stages.map(_.cpuNs).sum / 1e9
}

object Metrics {
  /** One stage's sums over its ended tasks, plus the per-task run ms
    * and shuffle-read records that task-balance measures read. */
  final case class Stage(id: Int, name: String, cpuNs: Long = 0L,
      inBytes: Long = 0L, inRecs: Long = 0L,
      shuffleReadBytes: Long = 0L, shuffleWriteBytes: Long = 0L,
      taskRunMs: Vector[Long] = Vector.empty,
      taskShuffleReadRecs: Vector[Long] = Vector.empty) {
    def tasks: Int = taskRunMs.size
    def runMs: Long = taskRunMs.sum

    private[Metrics] def add(m: TaskMetrics): Stage = copy(
      cpuNs = cpuNs + m.executorCpuTime,
      inBytes = inBytes + m.inputMetrics.bytesRead,
      inRecs = inRecs + m.inputMetrics.recordsRead,
      shuffleReadBytes = shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      taskRunMs = taskRunMs :+ m.executorRunTime,
      taskShuffleReadRecs = taskShuffleReadRecs :+ m.shuffleReadMetrics.recordsRead)
  }

  /** Run `body` with a fresh collector registered and return both;
    * the collector also holds `body`'s wall time. Task-end events
    * arrive asynchronously, so the listener bus is drained before
    * registering (earlier jobs' stragglers stay out) and again after
    * `body` (its own tail lands in). A drain timeout throws rather
    * than return a partial attribution. */
  def around[A](spark: SparkSession)(body: => A): (A, Metrics) = {
    val sc = spark.sparkContext
    val m = new Metrics
    ListenerShim.drainListenerBus(sc)
    sc.addSparkListener(m)
    try {
      val t0 = System.nanoTime()
      val r = body
      m.wallNs = System.nanoTime() - t0
      ListenerShim.drainListenerBus(sc)
      (r, m)
    } finally sc.removeSparkListener(m)
  }
}
