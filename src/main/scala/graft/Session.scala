package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory for every main (Bench, Explain,
  * Profile, Verify, ScaleRehearsal), so a profile measures the session
  * the bench measured. */
object Session {
  /** Executor threads: `$SPARK_GRAFT_CPUS`, else the machine's
    * available processors — the same rule as the benchmark harness
    * (`perfbench.Session.cores`). */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cores]`, shuffle partitions = cores, UTC session time
    * zone, UI off, log level WARN. */
  def local(app: String): SparkSession = {
    val n = cores
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
