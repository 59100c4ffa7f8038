package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Entry point: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --work DIR --traffic K=V,.. [--data DIR,.. --gen-s S,..]`,
  * started by run.py. Prints a report line (every metric by name, the session conf,
  * inputs and traffic properties, memo audit) and then, as the last line,
  * the result object. Exits 1 when a correctness check fails. */
object Main {
  /** `data` holds one directory per generated copy of the inputs and
    * `genS` the seconds each generation took (the batch workload only);
    * `traffic` the workload's numeric traffic properties (gen.py). */
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, data: Seq[String], genS: Seq[Double], traffic: Map[String, Double])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String): Seq[String] = m.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), list("data"), list("gen-s").map(_.toDouble),
      list("traffic").map { kv => val Array(k, v) = kv.split("=", 2); k -> v.toDouble }.toMap)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val w = Workloads.byName.getOrElse(args.workload,
      sys.error(s"unknown workload ${args.workload}; one of ${Workloads.byName.keys.mkString(", ")}"))
    val spark = Session.build(args.work)
    val tracer = new Tracer(spark, args.trace)
    val ctx = Ctx(spark, args, tracer)
    val out = try w.run(ctx) finally {
      tracer.dump(s"${args.work}/spans-${args.workload}-${args.seed}.jsonl")
    }
    ctx.mark("workload done")
    spark.stop()
    ctx.mark("session stopped")
    Report.print(args, w, out, ctx)
    if (!out.correct) sys.exit(1)
  }
}

final case class Ctx(spark: SparkSession, args: Main.Args, tracer: Tracer) {
  /** JVM start (ms since epoch) — set-up time counts from here. */
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  val cores: Int = spark.sparkContext.defaultParallelism

  /** Log a phase boundary to stderr, in seconds since JVM start. */
  def mark(what: String): Unit =
    System.err.println(f"perfbench: $what at ${(System.currentTimeMillis - jvmStartMs) / 1e3}%.1f s")
}

object Session {
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session every workload runs in: one local executor per core,
    * shuffle partitions = cores (as `graft.Bench` and `graft.Verify`
    * set them), UTC, and every temporary file under `work`. */
  def build(work: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The effective values of the settings a default change would move. */
  def conf(spark: SparkSession): Seq[(String, String)] = Seq(
    "spark.master" -> spark.sparkContext.master,
    "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "spark.sql.adaptive.enabled" -> spark.conf.get("spark.sql.adaptive.enabled"),
    "spark.graft.materialize" -> spark.conf.getOption("spark.graft.materialize")
      .getOrElse("local (unset)"),
    "spark.sql.ansi.enabled" -> spark.conf.get("spark.sql.ansi.enabled"))
}

/** Process-level counters. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  }
  /** Heap still in use after full collections, in MB: what the run
    * retains (state, caches, memos, collected results). Spark's context
    * cleaner frees blocks and broadcasts only after a collection shows
    * them unreachable, and does so asynchronously, so this collects
    * several times with pauses and keeps the smallest reading. */
  def liveHeapMb: Double =
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min / 1e6

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** Order-independent content hash of a frame: the sum (mod 2^31-1) and
  * the xor of every row's xxhash64, and the row count. Doubles are
  * rounded to 6 decimals first, so a float sum whose addition order
  * varies between runs still hashes the same. */
object Consume {
  final case class Out(sum: Long, xor: Long, rows: Long) {
    override def toString: String = f"$rows:$sum%x:$xor%x"
  }

  private def stable(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c, 6)
    case _: MapType => to_json(c)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x, 6))
    case _ => c
  }

  def hashFrame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.map(f => stable(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.select(h.as("h"))
      .agg(sum(pmod(col("h"), lit(2147483647L))).as("s"), bit_xor(col("h")).as("x"),
        count(lit(1)).as("n"))
  }

  def read(hashed: DataFrame): Out = {
    val r = hashed.collect().head
    Out(if (r.isNullAt(0)) 0L else r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      r.getLong(2))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
