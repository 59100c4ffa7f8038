package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.StreamJobs

/** A behaviour-log event, in the testdata `events` schema. */
final case class StreamEvent(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** `stream_ingest`: the reference's streaming topology over the
  * behaviour log, fed by an open loop. One generator emits events on a
  * fixed 100 ms schedule at a fixed low rate, then fixed bursts. Event
  * time spans two calendar days: the warm-up's first second is on day D
  * and everything after it on day D+1, so devices seen on D return on
  * D+1 and the is_new repair must rewrite their flags to 0.
  * Every consuming query has its own source (one `MemoryStream` per
  * query, all fed the same ticks, so source offset k is generator tick k
  * in every query):
  *
  *  - dwd  `isNewRepair`
  *  - dwm  `uvDedup`
  *  - dws  `visitorTumble`
  *  - sinks `lakeSink`
  *
  * Four queries, one per layer, on purpose: on a 4-core machine, with
  * `sessionBounces` as a fifth, the concurrent micro-batches contended
  * for the cores and freshness spread 15% between runs (8% with four).
  *
  * Freshness of an event at a layer is the time from its scheduled
  * creation to the end of the micro-batch that committed its tick at
  * that layer's sink; the end-to-end figure takes the last layer. For
  * the windowed DWS layer that is when the event entered the window's
  * state, not when the closed window reached the sink: the window and
  * watermark delay (10 s + 3 s) is not part of freshness. */
object StreamIngest extends Workload {
  val name = "stream_ingest"
  val Rate = 2000
  val TickMs = 100
  val Burst = 10000
  val Bursts = 5
  val loop = s"open loop: one generator, $TickMs ms ticks at a fixed $Rate events/s, " +
    s"then $Bursts bursts of $Burst events, each drained"

  /** Warm-up ticks on day D, then on day D+1 (set-up); all later ticks
    * are on D+1. */
  val WarmTicksD = 10
  val WarmTicksD1 = 5
  // Bounds of the disorder; the shares come from gen.py (--traffic).
  val LateBackMs = 60000L
  val OutOfOrderMaxMs = 2900.0
  /** 2024-01-01 12:00 UTC: day D's noon. Ticks sit at noon of their day
    * plus their creation time, so no late or out-of-order event leaves
    * its tick's day, and stream and batch agree on every event's day. */
  val EpochMs: Long = 1704110400000L
  val DayMs: Long = 86400000L
  val EventTypes: Seq[String] = Seq("view", "click", "purchase", "signup", "error")
  val FlushUser: Long = 1000000000L

  final case class Q(layer: String, name: String, q: StreamingQuery)

  /** The generator: event rows kept for the checks, and, per tick, the
    * scheduled creation times of its events. */
  final class Generator(seed: Long, spark: SparkSession, traffic: Map[String, Double],
      devices: Int) {
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val rnd = new scala.util.Random(seed)
    val events: IndexedSeq[MemoryStream[StreamEvent]] = IndexedSeq.fill(4)(MemoryStream[StreamEvent])
    val allEvents = ArrayBuffer.empty[StreamEvent]
    /** Per tick: creation times (ms, relative to t0) of its events. */
    val tickCreated = ArrayBuffer.empty[Array[Double]]
    /** Per tick: wall time (ms since epoch) it was emitted. */
    val tickEmitted = ArrayBuffer.empty[Long]
    val lateIds = mutable.Set.empty[Long]
    def late: Long = lateIds.size.toLong
    var outOfOrder = 0L
    var seq = 0L
    val t0: Long = System.currentTimeMillis
    private val skew = traffic("device_skew")
    private val lateShare = traffic("late_share")
    private val outOfOrderShare = traffic("out_of_order_share")

    /** Event time on `day` (0 is D), in whole milliseconds. */
    private def ts(relMs: Double, day: Int): Timestamp =
      new Timestamp(EpochMs + day * DayMs + math.floor(relMs).toLong)

    private def device(): Long = (math.pow(rnd.nextDouble(), skew) * devices).toLong

    /** Emit one tick on `day` holding the events created at `created` (ms
      * after t0), their event times spread by `spreadMs`. */
    def emit(created: Array[Double], day: Int, allowLate: Boolean,
        spreadMs: Double = 0): Unit = {
      val evs = ArrayBuffer.empty[StreamEvent]
      created.iterator.zipWithIndex.foreach { case (c, k) =>
        val base = c + spreadMs * k / created.length.max(1)
        val r = rnd.nextDouble()
        val et =
          if (allowLate && r < lateShare) { lateIds += seq; base - LateBackMs }
          else if (r < lateShare + outOfOrderShare) {
            outOfOrder += 1; base - rnd.nextDouble() * OutOfOrderMaxMs
          } else base
        val user = device()
        evs += StreamEvent(seq, ts(et, day), user, EventTypes(rnd.nextInt(EventTypes.size)),
          math.round(rnd.nextDouble() * 2000) / 100.0, s"""{"k": ${rnd.nextInt(100)}}""")
        seq += 1
      }
      push(evs.toSeq)
      tickCreated += created
      tickEmitted += System.currentTimeMillis
    }

    def push(evs: Seq[StreamEvent]): Unit = {
      events.foreach(_.addData(evs))
      allEvents ++= evs
    }

    /** One far-future row, so every watermark passes every real window. */
    def flush(): Unit = {
      val far = ts((System.currentTimeMillis - t0) + 3600000.0, day = 1)
      push(Seq(StreamEvent(seq, far, FlushUser, "view", 0.0, """{"k": 0}""")))
      seq += 1
      tickCreated += Array.empty[Double]
      tickEmitted += System.currentTimeMillis
    }

    def ticks: Int = tickCreated.size
  }

  private def start(spark: SparkSession, g: Generator, work: String): Seq[Q] = {
    def mem(df: DataFrame, qn: String) =
      df.writeStream.format("memory").queryName(qn).outputMode("append")
        .option("checkpointLocation", s"$work/checkpoints/$qn").start()
    Seq(
      Q("dwd", "isNewRepair", mem(StreamJobs.isNewRepair(g.events(0).toDF()), "s_is_new")),
      Q("dwm", "uvDedup", mem(StreamJobs.uvDedup(g.events(1).toDF()), "s_uv")),
      Q("dws", "visitorTumble", mem(StreamJobs.visitorTumble(g.events(2).toDF()), "s_visitor")),
      Q("sinks", "lakeSink", StreamJobs.lakeSink(g.events(3).toDF(), s"$work/lake",
        s"$work/checkpoints/lake")))
  }

  /** The generator tick a progress report's sources reached (the lowest
    * across sources), and the wall time its batch ended. */
  private def tickAndEnd(p: StreamingQueryProgress): (Long, Long) = {
    val tick = p.sources.map(s => Option(s.endOffset).map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .filter(_.nonEmpty).map(_.toLong).getOrElse(-1L)).min
    val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)
    (tick, end)
  }

  /** Per query: for each tick, the wall time its commit ended. */
  private def commitTimes(q: StreamingQuery, ticks: Int): Array[Long] = {
    val out = Array.fill(ticks)(Long.MaxValue)
    q.recentProgress.sortBy(_.batchId).foreach { p =>
      val (tick, end) = tickAndEnd(p)
      (0 to tick.toInt.min(ticks - 1)).foreach(k => if (out(k) == Long.MaxValue) out(k) = end)
    }
    out
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val work = ctx.args.work
    // keep every batch's progress report: freshness maps ticks to batches
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    // the measured events per device a day, on day D (the first warm-up
    // ticks), which sets the share of devices first seen on D+1
    val devices = math.round(Rate * WarmTicksD * TickMs / 1000.0 /
      ctx.args.traffic("events_per_device_day")).toInt
    val g = new Generator(ctx.args.seed, spark, ctx.args.traffic, devices)
    val qs = start(spark, g, work)

    // warm-up: low-rate ticks on day D, then on D+1, drained, so every
    // query has run its first batches and moved its watermark to D+1
    // before late events flow
    def emitTicks(n: Int, day: Int, allowLate: Boolean, offsetMs: Double): Unit =
      (0 until n).foreach { k =>
        val due = g.t0 + offsetMs + (k + 1) * TickMs
        val wait = due - System.currentTimeMillis
        if (wait > 0) Thread.sleep(wait.toLong)
        val lo = math.floor(Rate * k * TickMs / 1000.0).toLong
        val hi = math.floor(Rate * (k + 1) * TickMs / 1000.0).toLong
        val created = Array.tabulate((hi - lo).toInt)(i => offsetMs + (lo + i) * 1000.0 / Rate)
        g.emit(created, day, allowLate)
      }
    emitTicks(WarmTicksD, 0, allowLate = false, 0)
    emitTicks(WarmTicksD1, 1, allowLate = false, WarmTicksD * TickMs)
    qs.foreach(_.q.processAllAvailable())
    val warmTicks = g.ticks
    val setupS = (System.currentTimeMillis - ctx.jvmStartMs) / 1e3
    ctx.mark("set-up done")

    // measured: the fixed low rate for --seconds, then drain
    val cpu0 = Proc.cpuNs
    val gc0 = Proc.gcMs
    val m0 = System.currentTimeMillis
    val offsetMs = (m0 - g.t0).toDouble
    val nTicks = ctx.args.seconds * 1000 / TickMs
    emitTicks(nTicks, 1, allowLate = true, offsetMs)
    val emissionEnd = System.currentTimeMillis
    qs.foreach(_.q.processAllAvailable())
    val measuredTicks = (warmTicks until g.ticks)
    val measuredS = (System.currentTimeMillis - m0) / 1e3
    val cpuNs = Proc.cpuNs - cpu0
    val gcMs = Proc.gcMs - gc0

    // bursts: one tick of Burst events at once, drained, Bursts times; the
    // median drain rate is the highest rate the layers sustain without a
    // growing backlog
    val b0 = System.currentTimeMillis
    val drainEps = (1 to Bursts).map { _ =>
      val t = System.currentTimeMillis
      g.emit(Array.fill(Burst)((t - g.t0).toDouble), 1, allowLate = false, spreadMs = 1000)
      qs.foreach(_.q.processAllAvailable())
      val tick = g.ticks - 1
      val end = qs.map(q => commitTimes(q.q, g.ticks)(tick)).max
      Burst / ((end - t) / 1e3).max(1e-3)
    }
    val sustainedEps = Stats.median(drainEps)

    // flush and drain, so every window closes
    g.flush()
    qs.foreach(_.q.processAllAvailable())
    val liveHeapMb = Proc.liveHeapMb
    val commits = qs.map(q => q.name -> commitTimes(q.q, g.ticks)).toMap
    val progress = qs.map(q => q -> q.q.recentProgress.toSeq).toMap
    val lakeRoot = s"$work/lake"
    qs.foreach(_.q.stop())

    // freshness over the measured ticks, per layer and end to end
    def fresh(names: Seq[String]): Seq[Double] = measuredTicks.flatMap { k =>
      val end = names.map(n => commits(n)(k)).max
      g.tickCreated(k).map(c => end - (g.t0 + c))
    }
    val layerOf = qs.groupMap(_.layer)(_.name)
    val e2e = fresh(qs.map(_.name))
    // the events of one tick share their commit, so ticks are the
    // independent samples: the tail is the highest percentile with 10
    // ticks beyond it (p90 at 100 measured ticks)
    val tailQ = 1 - 10.0 / measuredTicks.size
    val emitted = measuredTicks.map(g.tickCreated(_).length.toLong).sum
    val uncommitted = measuredTicks.filter(k => qs.exists(q => commits(q.name)(k) == Long.MaxValue))
      .map(g.tickCreated(_).length.toLong).sum
    // events emitted but not yet committed at every sink when emission ended
    val backlogAtEnd = measuredTicks.filter(k => qs.exists(q => commits(q.name)(k) > emissionEnd))
      .map(g.tickCreated(_).length.toLong).sum
    val genLate = measuredTicks.map(k => (g.tickEmitted(k) - (g.t0 + offsetMs + (k - warmTicks + 1) * TickMs)).toDouble)

    ctx.mark("drained")
    val checks = verify(ctx, g, lakeRoot)
    ctx.mark("checked")
    val lowProg = progress.values.flatMap(_.filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      t >= m0 && t < b0 && p.numInputRows > 0
    }).toSeq
    def dur(ps: Seq[StreamingQueryProgress], k: String): Seq[Double] =
      ps.map(p => p.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0))
    def medOr0(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val lastProg = progress.values.flatMap(_.lastOption).toSeq
    // how far the windowed layer's watermark trails the wall clock, in
    // event time, over the low-rate phase (its 3 s delay included)
    val wmLag = progress.collect { case (q, ps) if q.name == "visitorTumble" => ps }.flatten
      .filter(p => p.eventTime.containsKey("watermark") &&
        java.time.Instant.parse(p.timestamp).toEpochMilli < b0 &&
        java.time.Instant.parse(p.timestamp).toEpochMilli >= m0)
      .map { p =>
        val wm = java.time.Instant.parse(p.eventTime.get("watermark")).toEpochMilli
        (java.time.Instant.parse(p.timestamp).toEpochMilli - g.t0) - (wm - EpochMs - DayMs).toDouble
      }.toSeq
    val layers = if (!ctx.tracer.on) Map.empty[String, Double] else Map(
      "streaming.batches" -> lowProg.size.toDouble,
      "streaming.batch_ms_p50" -> medOr0(dur(lowProg, "triggerExecution")),
      "streaming.batch_ms_max" -> (dur(lowProg, "triggerExecution") :+ 0.0).max,
      "streaming.addBatch_ms" -> medOr0(dur(lowProg, "addBatch")),
      "streaming.queryPlanning_ms" -> medOr0(dur(lowProg, "queryPlanning")),
      "streaming.walCommit_ms" -> medOr0(dur(lowProg, "walCommit")),
      "streaming.commitOffsets_ms" -> medOr0(dur(lowProg, "commitOffsets")),
      "streaming.state_rows" -> lastProg.flatMap(_.stateOperators.map(_.numRowsTotal.toDouble)).sum,
      "streaming.state_mem_mb" -> lastProg.flatMap(_.stateOperators.map(_.memoryUsedBytes / 1e6)).sum,
      "streaming.watermark_lag_ms" -> medOr0(wmLag),
      "streaming.backlog_rows" -> backlogAtEnd.toDouble,
      "streaming.processed_eps" -> medOr0(lowProg.map(_.processedRowsPerSecond)),
      "jvm.gc_ms" -> gcMs.toDouble,
      "gen.late_ms" -> genLate.max,
      "gen.events" -> emitted.toDouble)
    // devices by the day they were first seen (day D's events sit near
    // its noon, D+1's near the next noon)
    val firstDay = g.allEvents.filter(_.user_id != FlushUser)
      .groupMapReduce(_.user_id)(e => if (e.ts.getTime >= EpochMs + DayMs / 2) 1 else 0)(_ min _)
    val newShare = f"${firstDay.values.count(_ == 1).toDouble / firstDay.size}%.3f"
    val layerFresh = layerOf.toSeq.sortBy(_._1).flatMap { case (l, ns) =>
      val f = fresh(ns)
      Seq((s"freshness_p50_ms.$l", Stats.median(f), "ms"), (s"freshness_tail_ms.$l", Stats.quantile(f, tailQ), "ms"))
    }
    Outcome(
      attempted = emitted, failed = uncommitted, checks = checks,
      setupS = setupS, opMs = e2e, tailQ = Some(tailQ),
      opsPerS = sustainedEps, cpuSPerOp = cpuNs / 1e9 / emitted.max(1), liveHeapMb = liveHeapMb,
      named = Seq(("freshness_p50_ms", Stats.median(e2e), "ms"),
        ("freshness_tail_ms", Stats.quantile(e2e, tailQ), "ms"),
        ("sustained_eps", sustainedEps, "1/s")) ++ layerFresh,
      layers = layers,
      notes = Seq(
        "generated" -> (s"${g.allEvents.size} events (${g.late} late by ${LateBackMs / 1000} s, " +
          s"${g.outOfOrder} out of order by up to ${OutOfOrderMaxMs / 1000} s) from " +
          s"${firstDay.size} devices, of which a share of ${newShare} first seen on day D+1"),
        "measured_s" -> f"$measuredS%.2f",
        "burst_drain_eps" -> drainEps.map(e => f"$e%.0f").mkString(", "),
        "memo_audit" -> ("No per-JVM memo is reached: the streaming jobs hold their state in " +
          "state stores, which the warm-up fills and the measured phase keeps using.")))
  }

  /** Each layer's drained output against the batch operator on the same
    * generated input, written as files. */
  private def verify(ctx: Ctx, g: Generator, lakeRoot: String): Seq[Check.Result] = {
    val spark = ctx.spark
    import spark.implicits._
    val all = s"${ctx.args.work}/stream-all"
    val onTime = s"${ctx.args.work}/stream-ontime"
    val evs = g.allEvents.toSeq
    evs.toDF().write.parquet(s"$all/events.parquet")
    evs.filterNot(e => g.lateIds(e.event_id)).toDF().write.parquet(s"$onTime/events.parquet")
    val real = col("mid") =!= FlushUser
    def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toSeq.mkString("|"))

    val flushStt = g.allEvents.last.ts.getTime / 10000 * 10
    val batchVisitor = graft.dws.VisitorStats(spark, onTime)
      .groupBy(col("stt"), col("ar").cast("long").as("ar"), col("ch"))
      .agg(sum("pv_ct").as("pv_ct"), sum("dur_sum_cents").as("c"))
      .filter(col("stt") < flushStt)
    val streamVisitor = spark.table("s_visitor")
      .select(unix_timestamp(col("stt")).as("stt"), col("ar").cast("long").as("ar"), col("ch"),
        col("pv_ct"), round(col("dur_sum") * 100).cast("long").as("c"))
      .filter(col("stt") < flushStt)
    val streamIsNew = spark.table("s_is_new").filter(real).select("event_id", "mid", "dt", "is_new")
    Seq(
      Check.sameBag("dwd_is_new_repair_equals_batch",
        rows(streamIsNew), rows(graft.dwd.LogSplit.isNewRepair(spark, all).filter(real))),
      // devices returning on D+1 must be repaired to 0, new ones kept at 1
      Check.covers("dwd_is_new_rows_include_repaired_flags",
        streamIsNew.groupBy("is_new").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap,
        Seq(0, 1)),
      Check.sameBag("dwm_uv_dedup_equals_unique_visit",
        rows(spark.table("s_uv").filter(real).select(col("mid"), col("dt").cast("string"))),
        rows(graft.dwm.UniqueVisit(spark, all).filter(real).select("mid", "dt"))),
      Check.sameBag("dws_visitor_tumble_equals_visitor_stats", rows(streamVisitor), rows(batchVisitor)),
      Check.equal("sinks_lake_holds_every_event",
        spark.read.parquet(lakeRoot).select("event_id").distinct().count(), evs.size.toLong),
      Check.equal("visitor_tumble_drops_exactly_the_late_events",
        spark.table("s_visitor").filter(unix_timestamp(col("stt")) < flushStt)
          .agg(sum("pv_ct")).head().getLong(0), evs.size - 1 - g.late))
  }
}
