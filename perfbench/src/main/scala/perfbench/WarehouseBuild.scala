package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.{ads, dwd, dwm, dws, operators, plans, sinks, sources}

/** `warehouse_build`: the warehouse rebuilt from the generated star
  * schema and event log once per iteration, layer by layer: DWD parse
  * and CDC routing, DWM dedup and wide joins with the as-of lookups, DWS
  * stats, a sink write, and the ADS tables the dashboard reads (with a
  * lake read that prunes partitions at run time); then the curation of
  * the generated documents table ([[LlmCuration]]). It runs the same
  * layer logic as `stream_ingest` with no micro-batch overhead, so
  * executor compute, shuffle and writes decide it. Both stages run in
  * one workload so that a run pays the JVM start and the cold first
  * iteration once. */
object WarehouseBuild extends Workload {
  val name = "warehouse_build"
  val loop = "batch: repeated full builds (warehouse, then curation), one at a time"

  val ops: Seq[Op] = Seq(
    Op("dwd", "LogNested.displayExplode", dwd.LogNested.displayExplode),
    Op("dwd", "CdcEnvelope", dwd.CdcEnvelope(_, _)),
    Op("dwm", "UniqueVisit", dwm.UniqueVisit(_, _)),
    Op("dwm", "OrderWide.withDims", dwm.OrderWide.withDims),
    Op("operators", "NativeAsOf.latestOrderQuery", plans.NativeAsOf.latestOrderQuery),
    Op("dws", "VisitorStats", dws.VisitorStats(_, _)),
    Op("sinks", "Sinks.dedupLatestQuery", sinks.Sinks.dedupLatestQuery),
    Op("ads", "Queries.gmvDay", ads.Queries.gmvDay),
    Op("sources", "PartitionedLake.dppParquet", sources.PartitionedLake.dppParquet))

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toSeq.mkString("|"))

  def run(ctx: Ctx): Outcome = {
    val dir = ctx.args.data.last
    // iteration -> (warehouse ms, curation ms)
    val stageMs = mutable.Map.empty[Int, (Double, Double)]
    // one warm-up build, the cold one: it fills the rendered-JSON memos
    // and loads most of the code. The measured builds still fall by
    // about 10% while the JIT compiles, the same way in every run; a
    // second warm-up would add a build to every run's time.
    val it = Batch.iterate(ctx, warm = 1, Batch.count(ctx.args.seconds, perIterS = 10)) { i =>
      val t0 = System.nanoTime
      val built = Batch.run(ctx, i, dir, ops)
      val t1 = System.nanoTime
      val curated = Batch.run(ctx, i, dir, LlmCuration.ops)
      stageMs(i) = ((t1 - t0) / 1e6, (System.nanoTime - t1) / 1e6)
      built ++ curated
    }
    val liveHeapMb = Proc.liveHeapMb
    val spark = ctx.spark
    val nEvents = graft.Tables.events(spark, dir).count()
    val (planted, plantedNote) = LlmCuration.check(spark, dir)
    val checks = Seq(
      Check.stableHashes("hashes_stable_across_iterations", it.hashes),
      Check.sameBag("province_stats_equals_sql_form",
        rows(dws.ProvinceStats(spark, dir)), rows(dws.ProvinceStats.sqlForm(spark, dir))),
      // the native form runs in every build, the operator form once
      // here; equal content hashes mean equal rows
      Check.equal("asof_equals_native", it.hashes.head("NativeAsOf.latestOrderQuery"),
        Consume.read(Consume.hashFrame(operators.AsOf.latestOrderQuery(spark, dir))).toString),
      Check.equal("visitor_stats_pv_ct_sums_to_events",
        dws.VisitorStats(spark, dir).collect().map(_.getAs[Long]("pv_ct")).sum, nEvents),
      planted)
    val nOps = it.wallMs.size
    val stages = it.measured.flatMap(stageMs.get)
    Outcome(
      attempted = nOps, failed = it.failed, checks = checks,
      setupS = Batch.setupS(ctx, it.warmDoneMs),
      opMs = it.wallMs, tailQ = None,
      opsPerS = nOps / it.measuredS, cpuSPerOp = it.cpuNs / 1e9 / nOps, liveHeapMb = liveHeapMb,
      named = Seq(("build_s", Stats.median(stages.map(_._1)) / 1e3, "s"),
        ("curate_s", Stats.median(stages.map(_._2)) / 1e3, "s")),
      layers = Batch.layers(ctx, it.measured, counterIter = it.measured.head) ++
        Map("jvm.gc_ms" -> it.gcMs.toDouble / nOps, "gen.events" -> nEvents.toDouble),
      notes = Seq(
        plantedNote,
        "memo_audit" -> ("LogNested.renderedDirs and CdcEnvelope.renderedDirs are filled by " +
          "the warm-up build (set-up) and hit by every measured build: the rendered JSON " +
          "stands for the raw ODS log the reference receives, so build_s times parsing, " +
          "not rendering. PartitionedLake rewrites its lake on every call, so the dpp " +
          "read is timed with its write. The curation stage reaches no memo: every " +
          "measured iteration repeats the full curation work. The IVF centroid caches " +
          "and Bpe.memo are not reached.")))
  }
}
