package perfbench

/** What a workload run hands back to be reported. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    checks: Seq[Check.Result],
    setupS: Double,
    /** Per-operation latencies (ms) behind `p50_ms` and `tail_ms`. */
    opMs: Seq[Double],
    /** The tail quantile for this workload; `None` reports the maximum. */
    tailQ: Option[Double],
    opsPerS: Double,
    cpuSPerOp: Double,
    /** [[Proc.liveHeapMb]] right after the measured phase. */
    liveHeapMb: Double,
    /** Workload-specific end-to-end metrics, by the names the docs use. */
    named: Seq[(String, Double, String)],
    /** Per-layer metrics measured by this workload (traced runs). */
    layers: Map[String, Double],
    /** Free-form facts recorded in the report, such as the memo audit. */
    notes: Seq[(String, String)]) {
  def correct: Boolean = checks.forall(_.ok)
}

object Report {
  val Layers: Seq[String] = Seq("sources", "dwd", "dwm", "dws", "ads", "sinks", "operators", "llm")
  val LayerStats: Seq[(String, String)] = Seq(
    "call_ms" -> "ms", "plan_ms" -> "ms", "exec_ms" -> "ms", "self_ms" -> "ms",
    "task_cpu_s" -> "s", "core_util" -> "ratio", "stages" -> "count", "tasks" -> "count",
    "shuffle_mb" -> "MB", "rows_in" -> "count", "rows_out" -> "count", "exchanges" -> "count")
  val StreamingStats: Seq[(String, String)] = Seq(
    "batches" -> "count", "batch_ms_p50" -> "ms", "batch_ms_max" -> "ms",
    "addBatch_ms" -> "ms", "queryPlanning_ms" -> "ms", "walCommit_ms" -> "ms",
    "commitOffsets_ms" -> "ms", "state_rows" -> "count", "state_mem_mb" -> "MB",
    "watermark_lag_ms" -> "ms", "backlog_rows" -> "count", "processed_eps" -> "1/s")
  val Other: Seq[(String, String)] = Seq(
    "func.checkpoints" -> "count", "jvm.gc_ms" -> "ms", "gen.late_ms" -> "ms",
    "gen.events" -> "count")

  /** Every per-layer metric, in BENCHMARK.json order. */
  val PerLayer: Seq[(String, String)] =
    Layers.flatMap(l => LayerStats.map { case (s, u) => s"$l.$s" -> u }) ++
      StreamingStats.map { case (s, u) => s"streaming.$s" -> u } ++ Other

  /** Every end-to-end metric, in BENCHMARK.json order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "p50_ms" -> "ms", "tail_ms" -> "ms", "ops_per_s" -> "1/s", "cpu_s_per_op" -> "s",
    "live_heap_mb" -> "MB", "setup_s" -> "s")

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def metric(v: Double, unit: String): String = s"""{"value":${num(v)},"unit":${str(unit)}}"""

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  /** gen.py's description of the generated inputs, when there is one. */
  private def inputs(work: String): String = {
    val f = new java.io.File(s"$work/gen.json")
    if (f.isFile) new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
    else "\"generated inside the run\""
  }

  def endToEnd(o: Outcome): Seq[(String, Double)] = {
    val tail = o.tailQ.fold(o.opMs.max)(Stats.quantile(o.opMs, _))
    Seq("p50_ms" -> Stats.median(o.opMs), "tail_ms" -> tail, "ops_per_s" -> o.opsPerS,
      "cpu_s_per_op" -> o.cpuSPerOp, "live_heap_mb" -> o.liveHeapMb, "setup_s" -> o.setupS)
  }

  def print(args: Main.Args, w: Workload, o: Outcome, ctx: Ctx): Unit = {
    val e2e = endToEnd(o)
    val units = EndToEnd.toMap
    val tailName = o.tailQ.fold("max")(q => f"p${q * 100}%.0f")
    val failedRatio = if (o.attempted == 0) 0.0 else o.failed.toDouble / o.attempted
    val named = (Seq(("failed_ratio", failedRatio, "ratio"), ("peak_rss_mb", Proc.peakRssMb, "MB")) ++ o.named)
      .map { case (k, v, u) => k -> metric(v, u) }
    val untouched = Layers.filterNot(l => o.layers.keys.exists(_.startsWith(l + "."))) ++
      (if (o.layers.keys.exists(_.startsWith("streaming."))) Nil else Seq("streaming"))
    val report = obj(Seq(
      "workload" -> str(w.name),
      "seed" -> args.seed.toString,
      "seconds" -> args.seconds.toString,
      "trace" -> (if (args.trace) "1" else "0"),
      "loop" -> str(w.loop),
      "conf" -> obj(Session.conf(ctx.spark).map { case (k, v) => k -> str(v) }),
      "tail_percentile" -> str(tailName),
      "samples" -> o.opMs.size.toString,
      "end_to_end" -> obj(e2e.map { case (k, v) => k -> metric(v, units(k)) }),
      "named" -> obj(named),
      "checks" -> obj(o.checks.map(c => c.name -> str(c.detail))),
      "notes" -> obj(o.notes.map { case (k, v) => k -> str(v) }),
      "inputs" -> inputs(args.work)) ++
      (if (args.trace) Seq(
        "untouched_layers" -> untouched.map(str).mkString("[", ",", "]"),
        "per_layer" -> obj(PerLayer.map { case (k, u) => k -> metric(o.layers.getOrElse(k, 0.0), u) }))
      else Nil))
    println(s"REPORT $report")
    val metrics = if (args.trace) PerLayer.map { case (k, u) => k -> metric(o.layers.getOrElse(k, 0.0), u) }
      else e2e.map { case (k, v) => k -> metric(v, units(k)) }
    println(obj(Seq("correct" -> o.correct.toString, "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString, "metrics" -> obj(metrics))))
  }
}
