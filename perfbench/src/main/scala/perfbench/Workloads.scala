package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

trait Workload {
  def name: String
  /** Closed loop, open loop or batch, with its rate or client count. */
  def loop: String
  def run(ctx: Ctx): Outcome
}

object Workloads {
  val byName: Map[String, Workload] =
    Seq(StreamIngest, WarehouseBuild).map(w => w.name -> w).toMap
}

/** One public module function, called as the board calls it. */
final case class Op(layer: String, name: String, f: (SparkSession, String) => DataFrame)

/** The machinery of the batch workload: a traced module call,
  * repeated iterations, and the per-layer rollup of their spans. */
object Batch {
  /** Call the module function (`call`), plan its output (`plan`), and
    * consume it into an order-independent hash (`exec`), in one span. */
  def call(ctx: Ctx, iter: Int, op: Op, dir: String): Consume.Out =
    ctx.tracer.span(op.layer, op.name, iter) {
      val t = ctx.tracer
      val df = t.phase("call")(op.f(ctx.spark, dir))
      val h = Consume.hashFrame(df)
      if (t.on) t.phase("plan")(h.queryExecution.executedPlan)
      val out = t.phase("exec")(Consume.read(h))
      // the consuming aggregate adds one exchange of its own
      t.note { s =>
        s.rowsOut = out.rows
        s.exchanges = (Plans.exchanges(h.queryExecution.executedPlan) - 1).max(0)
      }
      out
    }

  def run(ctx: Ctx, iter: Int, dir: String, ops: Seq[Op]): Map[String, String] =
    ops.map(o => o.name -> call(ctx, iter, o, dir).toString).toMap

  final case class Iterations(warmDoneMs: Long, measured: Seq[Int], wallMs: Seq[Double],
      hashes: Seq[Map[String, String]], cpuNs: Long, gcMs: Long, measuredS: Double, failed: Int)

  /** How many measured iterations a run of `seconds` takes when one
    * takes about `perIterS` seconds: a fixed count (at least 3), so every
    * run with the same `--seconds` times the same number of builds and
    * its median and maximum are the same order statistics. */
  def count(seconds: Int, perIterS: Int): Int = (seconds / perIterS).max(3)

  /** Iterations 0 to `warm` - 1 warm up (set-up); `n` measured ones
    * follow. */
  def iterate(ctx: Ctx, warm: Int, n: Int)(body: Int => Map[String, String]): Iterations = {
    val hashes = Seq.newBuilder[Map[String, String]]
    (0 until warm).foreach(i => hashes += body(i))
    val measured = warm until warm + n
    val warmDoneMs = System.currentTimeMillis
    ctx.mark("warm-up done")
    val wall = Seq.newBuilder[Double]
    val cpu0 = Proc.cpuNs
    val gc0 = Proc.gcMs
    val t0 = System.nanoTime
    var failed = 0
    measured.foreach { i =>
      val s = System.nanoTime
      try {
        hashes += body(i)
        wall += (System.nanoTime - s) / 1e6
      } catch { case e: Exception => failed += 1; System.err.println(s"iteration $i failed: $e") }
    }
    ctx.mark(s"measured ${wall.result().map(ms => f"${ms / 1e3}%.2f").mkString("/")} s")
    Iterations(warmDoneMs, measured, wall.result(), hashes.result(), Proc.cpuNs - cpu0, Proc.gcMs - gc0,
      (System.nanoTime - t0) / 1e9, failed)
  }

  /** Per-layer metrics from the spans of `iters`: times are the median
    * over those iterations of each iteration's per-layer sum; counters
    * are those of iteration `counterIter`, which every same-seed run
    * repeats exactly. */
  def layers(ctx: Ctx, iters: Seq[Int], counterIter: Int): Map[String, Double] = {
    val t = ctx.tracer
    if (!t.on) return Map.empty
    org.apache.spark.perfbenchshim.Bus.drain(ctx.spark.sparkContext)
    val spans = t.all
    val self = t.selfNs(spans)
    val work = spans.map(s => s.id -> t.workOf(s)).toMap
    spans.groupBy(_.layer).filter { case (l, _) => Report.Layers.contains(l) }.flatMap { case (l, ls) =>
      val byIter = ls.groupBy(_.iter)
      def med(f: Seq[Span] => Double): Double =
        Stats.median(iters.map(i => f(byIter.getOrElse(i, Nil))))
      def phase(p: String)(ss: Seq[Span]): Double = ss.map(_.phases.getOrElse(p, 0L)).sum / 1e6
      def cpuS(ss: Seq[Span]): Double = ss.map(s => work(s.id).taskCpuNs).sum / 1e9
      val c = ls.filter(_.iter == counterIter)
      val cw = new Work
      c.foreach(s => cw.add(work(s.id)))
      Map(
        "call_ms" -> med(phase("call")), "plan_ms" -> med(phase("plan")),
        "exec_ms" -> med(phase("exec")), "self_ms" -> med(ss => ss.map(s => self(s.id)).sum / 1e6),
        "task_cpu_s" -> med(cpuS),
        "core_util" -> med(ss => cpuS(ss) / (phase("exec")(ss) / 1000 * ctx.cores).max(1e-9)),
        "stages" -> cw.stages.toDouble, "tasks" -> cw.tasks.toDouble,
        "shuffle_mb" -> cw.shuffleBytes / 1e6, "rows_in" -> cw.rowsIn.toDouble,
        "rows_out" -> c.map(_.rowsOut).sum.toDouble, "exchanges" -> c.map(_.exchanges).sum.toDouble
      ).map { case (k, v) => s"$l.$k" -> v }
    } ++ Map("func.checkpoints" ->
      spans.filter(_.iter == counterIter).map(s => work(s.id).checkpoints).sum.toDouble)
  }

  /** Set-up seconds: the median of the repeated input generations, plus
    * JVM start to the end of the warm-up. */
  def setupS(ctx: Ctx, warmDoneMs: Long): Double =
    (if (ctx.args.genS.isEmpty) 0.0 else Stats.median(ctx.args.genS)) +
      (warmDoneMs - ctx.jvmStartMs) / 1e3
}
