package graft

/** Plan-audit utility: print the formatted physical plan of one or
  * more `SparkEntry.queries` entries without executing them.
  *
  * Usage: `runMain graft.Explain <sfDir> <queryName> [queryName...]`
  * (PLANS.md records the audit conclusions drawn from these dumps.)
  *
  * `ALL` as the single query name iterates the whole board; with
  * `SPARK_GRAFT_EXPLAIN_DIR` set, each plan lands in
  * `<dir>/<query>.txt` instead of stdout (201 plans overflow any
  * terminal scrollback — r20 plan-audit mode). NOTE some query
  * constructors run real work (sink writes, census counts, the
  * streaming legs' drains), so ALL takes minutes, and a constructor
  * failure is reported per query rather than aborting the audit.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Explain <sfDir> <query> [query...]")
    val dir = args(0)
    val spark = Session.local("graft-explain")
    val names =
      if (args.length == 2 && args(1) == "ALL")
        SparkEntry.queries.keys.toSeq.sorted
      else args.drop(1).toSeq
    val outDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    outDir.foreach(d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)): Unit)
    try names.foreach { name =>
      val q = SparkEntry.query(name)
      val plan =
        try q(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
      outDir match {
        case Some(d) =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(d, s"$name.txt"),
            plan.getBytes("UTF-8")): Unit
          println(s"[explain] $name -> $d/$name.txt")
        case None =>
          println(s"==== $name ====")
          println(plan)
      }
    } finally spark.stop()
  }
}
