package graft.func

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Materialize]] — the one conf that routes every query-path
  * materialization barrier between executor-local `localCheckpoint`
  * (default) and fault-tolerant reliable `checkpoint()` (r20-VERDICT
  * task 3: 15+ sites had hardcoded the local trade). */
class MaterializeSpec extends SparkSpec {
  import Materialize.MatOps

  test("default mode is local: rows unchanged, lineage truncated") {
    val df = spark.range(100).toDF("id")
      .withColumn("v", col("id") * 2)
    val out = df.matLazily
    assert(out.count() === 100)
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      (0L until 100L).map(i => (i, i * 2)).toSet)
    // localCheckpoint truncates the analyzed lineage to an RDD scan
    assert(out.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.nodeName.contains("LogicalRDD")))
  }

  test("reliable mode routes through checkpoint() to the checkpoint dir") {
    val sc = spark.sparkContext
    val prior = sc.getCheckpointDir
    val dir = java.nio.file.Files.createTempDirectory("graft_mat_ckpt")
    sc.setCheckpointDir(dir.toString)
    def files(p: java.io.File): Seq[java.io.File] = {
      val kids = Option(p.listFiles()).map(_.toSeq).getOrElse(Nil)
      kids.filter(_.isFile) ++ kids.filter(_.isDirectory).flatMap(files)
    }
    try {
      val ss = Confs.scopedSession(spark,
        Seq(Materialize.ModeConf -> "reliable"))
      val lazyOut = Materialize.lazily(ss.range(50).toDF("id"))
      assert(lazyOut.count() === 50)
      val eagerOut = Materialize.eagerly(ss.range(7).toDF("id"))
      assert(eagerOut.count() === 7)
      // both materializations must have landed files under the
      // fault-tolerant checkpoint dir (the local mode writes none)
      assert(files(dir.toFile).nonEmpty,
        "reliable mode must write to the checkpoint dir")
    } finally {
      // the session is shared across suites: hand back the checkpoint
      // dir it had (or none) and delete what this test wrote
      org.apache.spark.graftshim.CheckpointDirShim.restore(sc, prior)
      scala.util.Using.resource(java.nio.file.Files.walk(dir))(
        _.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(java.nio.file.Files.delete(_)))
    }
  }

  test("an unknown mode fails loudly, naming the conf") {
    val ss = Confs.scopedSession(spark,
      Seq(Materialize.ModeConf -> "wat"))
    val e = intercept[IllegalArgumentException] {
      Materialize.lazily(ss.range(1).toDF("id"))
    }
    assert(e.getMessage.contains(Materialize.ModeConf))
  }

  test("every query-path materialization site routes through the helper") {
    // the policy is only a policy if no site bypasses it: grep the
    // main source tree for direct localCheckpoint calls outside the
    // helper itself and the rehearsal harness (ScaleRehearsal drives
    // measurement loops, not query paths)
    val root = new java.io.File("src/main/scala/graft")
    assume(root.isDirectory, "source tree not visible from test cwd")
    def scalas(d: java.io.File): Seq[java.io.File] = {
      val kids = Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
      kids.filter(f => f.isFile && f.getName.endsWith(".scala")) ++
        kids.filter(_.isDirectory).flatMap(scalas)
    }
    val offenders = scalas(root)
      .filterNot(f => Set("Materialize.scala", "ScaleRehearsal.scala")
        .contains(f.getName))
      .filter { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f.toPath),
          "UTF-8")
        src.contains(".localCheckpoint")
      }
      .map(_.getName)
    assert(offenders.isEmpty,
      s"direct localCheckpoint outside Materialize: $offenders")
  }
}
