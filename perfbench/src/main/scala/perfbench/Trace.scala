package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Spark work attributed to one job group. */
final class Work {
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var shuffleBytes = 0L
  var rowsIn = 0L
  /** RDDs persisted by the stages of this group: the materialization
    * barriers (`localCheckpoint`/`checkpoint`) the engine placed. */
  val persisted: mutable.Set[Int] = mutable.Set.empty
  def checkpoints: Long = persisted.size.toLong

  def add(o: Work): Unit = {
    stages += o.stages; tasks += o.tasks; taskCpuNs += o.taskCpuNs
    shuffleBytes += o.shuffleBytes; rowsIn += o.rowsIn; persisted ++= o.persisted
  }
}

/** A benchmark-owned listener: it maps every stage to the job group that
  * submitted it and sums the stage's tasks, task cpu, shuffle bytes
  * written and input records per group. Events arrive on the listener
  * bus thread; readers call [[Bus.drain]] first. */
final class WorkListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val work = mutable.Map.empty[String, Work]

  private def of(stage: Int): Option[Work] =
    stageGroup.get(stage).map(g => work.getOrElseUpdate(g, new Work))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => e.stageIds.foreach(s => stageGroup(s) = g))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    of(e.stageInfo.stageId).foreach(w =>
      w.persisted ++= e.stageInfo.rddInfos.filter(_.storageLevel.isValid).map(_.id))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (e.stageInfo.failureReason.isEmpty) of(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) of(e.stageId).foreach { w =>
      w.tasks += 1
      w.taskCpuNs += m.executorCpuTime
      w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      w.rowsIn += m.inputMetrics.recordsRead
    }
  }

  /** The work of every group whose id satisfies `p`, summed. */
  def total(p: String => Boolean): Work = synchronized {
    val t = new Work
    work.foreach { case (g, w) => if (p(g)) t.add(w) }
    t
  }
}

/** One traced call: a module function, the layer it belongs to, the
  * iteration it ran in, and its phases. `call` is the eager work inside
  * the public function, `plan` the time to the physical plan, `exec`
  * the action. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    iter: Int, startNs: Long, var endNs: Long = 0L,
    phases: mutable.Map[String, Long] = mutable.Map.empty,
    var rowsOut: Long = 0L, var exchanges: Long = 0L)

/** Spans recorded from the benchmark's side of each module call. When
  * tracing is off every method runs its body and records nothing, so
  * the end-to-end run pays no tracing cost. Spans are kept in memory and
  * written out once, at exit. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  val listener: Option[WorkListener] =
    if (on) { val l = new WorkListener; spark.sparkContext.addSparkListener(l); Some(l) }
    else None
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }

  private def group(id: Int): String = s"perfbench-span-$id"

  def span[A](layer: String, name: String, iter: Int)(body: => A): A =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val outer = stack.get
      val s = synchronized {
        val s = Span(spans.size, outer.headOption.map(_.id).getOrElse(-1),
          layer, name, iter, System.nanoTime)
        spans += s
        s
      }
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      sc.setJobGroup(group(s.id), s"$layer/$name", interruptOnCancel = false)
      stack.set(s :: outer)
      try body
      finally {
        s.endNs = System.nanoTime
        stack.set(outer)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, sc.getLocalProperty("spark.job.description"),
          interruptOnCancel = false)
      }
    }

  /** Time one phase of the innermost open span. */
  def phase[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val t0 = System.nanoTime
      try body
      finally stack.get.headOption.foreach { s =>
        s.phases(name) = s.phases.getOrElse(name, 0L) + (System.nanoTime - t0)
      }
    }

  def note(f: Span => Unit): Unit = if (on) stack.get.headOption.foreach(f)

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time of each span: its duration minus the part of it that its
    * direct children cover. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, hi), (a, b)) =>
          val from = math.max(a, hi)
          (if (b > from) sum + (b - from) else sum, math.max(hi, b))
        }._1
      s.id -> ((s.endNs - s.startNs) - covered)
    }.toMap
  }

  /** Spark work of each span's own job group (children excluded). */
  def workOf(s: Span): Work = listener.fold(new Work)(_.total(_ == group(s.id)))

  /** Write every span, one JSON object a line. */
  def dump(path: String): Unit = if (on) {
    val self = selfNs(all)
    val lines = all.map { s =>
      val w = workOf(s)
      val ph = s.phases.map { case (k, v) => s""""${k}_ms":${v / 1e6}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
        s""""iter":${s.iter},"start_ms":${s.startNs / 1e6},"end_ms":${s.endNs / 1e6},""" +
        s""""self_ms":${self(s.id) / 1e6},${if (ph.nonEmpty) ph + "," else ""}""" +
        s""""stages":${w.stages},"tasks":${w.tasks},"task_cpu_s":${w.taskCpuNs / 1e9},""" +
        s""""shuffle_bytes":${w.shuffleBytes},"rows_in":${w.rowsIn},""" +
        s""""rows_out":${s.rowsOut},"exchanges":${s.exchanges}}"""
    }
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Plans {
  /** Exchange nodes in an executed plan, looking through adaptive
    * wrappers, query stages and subqueries. */
  def exchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e @ (_: ShuffleExchangeLike | _: BroadcastExchangeLike) =>
      1 + e.children.map(exchanges).sum + e.subqueries.map(exchanges).sum
    case other => other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }
}
