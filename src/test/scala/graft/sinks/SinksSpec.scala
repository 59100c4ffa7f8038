package graft.sinks

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-sink").toString

  test("dedupLatest keeps the max-ts row per key") {
    val d = Seq(
      ("k1", 10L, "old"), ("k1", 20L, "new"),
      ("k2", 5L, "only"))
      .toDF("id", "ts", "payload")
    val out = Sinks.dedupLatest(d, Seq("id"), "ts")
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(out == Map("k1" -> "new", "k2" -> "only"))
  }

  test("dedupLatest ts-ties keep the same payload under any partition layout") {
    val d = Seq(("k1", 10L, "a"), ("k1", 10L, "b")).toDF("id", "ts", "payload")
    val plain = Sinks.dedupLatest(d, Seq("id"), "ts")
      .collect().head.getString(2)
    val scrambled = Sinks.dedupLatest(d.repartition(7), Seq("id"), "ts")
      .collect().head.getString(2)
    assert(plain == "b" && scrambled == "b") // max payload wins, layout-independent
  }

  test("writeDedupLatest is idempotent: same batch twice → same state") {
    val path = tmp() + "/dim"
    val d = Seq(("k1", 10L, "a"), ("k1", 20L, "b")).toDF("id", "ts", "v")
    Sinks.writeDedupLatest(d, Seq("id"), "ts", path)
    val first = spark.read.parquet(path).collect().toSet
    Sinks.writeDedupLatest(d, Seq("id"), "ts", path)
    val second = spark.read.parquet(path).collect().toSet
    assert(first == second)
    assert(first.size == 1)
  }

  test("writeRouted fans out per routing value; topics read back clean") {
    val path = tmp() + "/topics"
    val d = Seq(
      ("dwd_a", 1L), ("dwd_a", 2L), ("dwd_b", 3L))
      .toDF("sink_table", "v")
    Sinks.writeRouted(d, "sink_table", path)
    val a = Sinks.readTopic(spark, path, "sink_table", "dwd_a")
      .select("v").as[Long].collect().toSet
    val b = Sinks.readTopic(spark, path, "sink_table", "dwd_b")
      .select("v").as[Long].collect().toSet
    assert(a == Set(1L, 2L) && b == Set(3L))
  }

  test("publishBoth writes identical content to primary and republish") {
    val base = tmp()
    val d = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    Sinks.publishBoth(d, base + "/primary", base + "/republished")
    val p = spark.read.parquet(base + "/primary").collect().toSet
    val r = spark.read.parquet(base + "/republished").collect().toSet
    assert(p == r && p.size == 2)
  }

  test("publishBoth derives writer fan-out from the frame's size") {
    // r20-VERDICT task 6: the cache pins the input's partitioning and
    // AQE cannot re-coalesce a cached plan, so a small frame at wide
    // partitioning used to spray one near-empty file per partition
    // per sink. The fan-out is now ceil(measured bytes / 128 MiB) —
    // a KB-scale frame must land in exactly ONE file per sink.
    val base = tmp()
    val d = spark.range(1000).toDF("id")
      .withColumn("v", col("id") * 3)
      .repartition(4)
    Sinks.publishBoth(d, base + "/p1", base + "/r1")
    def dataFiles(p: String): Int = new java.io.File(p).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(dataFiles(base + "/p1") === 1, "primary sink file count")
    assert(dataFiles(base + "/r1") === 1, "republish sink file count")
    assert(spark.read.parquet(base + "/r1").count() === 1000)
  }

  test("publishBoth's writer fan-out can raise the file count above the " +
      "cached frame's partitions") {
    // coalesce only merges partitions: a frame cached at one partition
    // whose size calls for three writers must still get three files
    val one = spark.range(1000).toDF("id").coalesce(1)
    val up = Sinks.writerFanOut(one, 3)
    val path = tmp() + "/up"
    up.write.parquet(path)
    assert(new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet")) === 3)
    assert(spark.read.parquet(path).count() === 1000)
    // and below the current count it still merges
    val four = spark.range(1000).toDF("id").repartition(4)
    assert(Sinks.writerFanOut(four, 2).rdd.getNumPartitions === 2)
  }

  test("co-bucketed tables join without a shuffle exchange") {
    val o = graft.Tables.orders(spark, Sf)
      .select("o_orderkey", "o_totalprice")
    val l = graft.Tables.lineitem(spark, Sf)
      .select("l_orderkey", "l_extendedprice")
    // a hard kill between write and the finally's DROP leaves a
    // non-empty warehouse dir the next JVM's empty catalog refuses
    // to write over — reset BOTH halves first (r17 review)
    Sinks.resetManagedTable(spark, "b_orders")
    Sinks.resetManagedTable(spark, "b_lineitem")
    Sinks.writeBucketed(o, Seq("o_orderkey"), 8, "b_orders")
    Sinks.writeBucketed(l, Seq("l_orderkey"), 8, "b_lineitem")
    // capture priors so the finally RESTORES rather than clobbers a
    // session that deliberately ran with other values (r17-ADVICE;
    // same getOption discipline as ScaleRehearsal.withSqlConfs)
    val priorBroadcast =
      spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val priorSortedScan = spark.conf.getOption(
      "spark.sql.legacy.bucketedTableScan.outputOrdering")
    try {
      // disable auto-broadcast so the join would otherwise shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      joined.queryExecution.toRdd.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      // the scans themselves report the bucketed read (not merely a
      // small-plan accident): both sides selected all 8 buckets
      assert(plan.contains("Bucketed: true"),
        s"scans must read bucketed:\n$plan")
      // the layout half of the sorted-bucket story: exactly one data
      // file per bucket per table (8 each), not writer-tasks ×
      // buckets — the repartition-before-write discipline
      for (t <- Seq("b_orders", "b_lineitem")) {
        val loc = new java.io.File(new java.net.URI(
          spark.sql(s"DESCRIBE TABLE EXTENDED $t").collect()
            .find(_.getString(0) == "Location").get.getString(1)))
        val files = graft.PlanWalk.dataFiles(loc)
        assert(files.size === 8,
          s"$t should hold one file per bucket: ${files.map(_.getName)}")
      }
      // the SORT is amortizable too: with one file per bucket the
      // sortBy ordering is real, and under the (off-by-default,
      // SPARK-28632) sorted-bucket-scan flag the merge join drops its
      // Sort nodes as well — neither shuffle nor sort at read time.
      // ("Sort [" is the SortExec node header; SortMergeJoin prints
      // no such substring)
      spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val sortedJoin = spark.table("b_orders")
        .join(spark.table("b_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
      sortedJoin.queryExecution.toRdd.count()
      val sortedPlan = sortedJoin.queryExecution.executedPlan.toString
      assert(!sortedPlan.contains("Exchange hashpartitioning") &&
        !sortedPlan.contains("Sort ["),
        s"sorted-bucket scan must drop BOTH Exchange and Sort:\n$sortedPlan")
      assert(sortedJoin.count() === joined.count())
      // CONTRAST: the identical join over the raw (unbucketed) parquet
      // frames pays an Exchange on EACH side — the write-time shuffle
      // is what the bucketed layout amortizes away
      val flat = o.join(l, col("o_orderkey") === col("l_orderkey"))
      flat.queryExecution.toRdd.count()
      val flatPlan = flat.queryExecution.executedPlan.toString
      // (containment, not a count: the AQE plan string prints the
      // Final AND Initial plan sections, doubling every match)
      assert(flatPlan.contains("Exchange hashpartitioning(o_orderkey") &&
        flatPlan.contains("Exchange hashpartitioning(l_orderkey"),
        s"unbucketed twin must shuffle both sides on the join key:\n$flatPlan")
      // ...and re-sorts both sides (the Sort the sorted layout dropped)
      assert(flatPlan.contains("Sort ["),
        s"unbucketed twin should carry explicit Sort nodes:\n$flatPlan")
      // and both forms agree
      assert(joined.count() === flat.count())
    } finally {
      def restore(k: String, prior: Option[String]): Unit = prior match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
      restore("spark.sql.autoBroadcastJoinThreshold", priorBroadcast)
      restore("spark.sql.legacy.bucketedTableScan.outputOrdering",
        priorSortedScan)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("writeDropTransient removes helper columns at the sink boundary") {
    val path = tmp() + "/stats"
    val d = Seq((1L, "keep", "scratch")).toDF("id", "v", "tmp")
    Sinks.writeDropTransient(d, Seq("tmp"), path)
    assert(spark.read.parquet(path).columns.toSet == Set("id", "v"))
  }
}
