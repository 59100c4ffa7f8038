package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQuery}
import graft.{SparkSpec, Tables}
import graft.func.Confs.withSqlConfs

case class Ev(event_id: Long, user_id: Long, event_type: String,
  value: Double, ts: Timestamp)
case class Ord(order_id: Long, o_ts: Timestamp, total: Long)
case class Det(d_order_id: Long, d_ts: Timestamp, amount: Long)
case class Li(ship_ts: Timestamp, sku_id: Long, order_id: Long,
  amount_cents: Long)
case class AL(lid: Long, lk: Long, lts: Timestamp)
case class AR(rk: Long, rts: Timestamp, pay: Long)
case class OvL(ol_id: Long, ol_lo: Timestamp, ol_hi: Timestamp)
case class OvR(or_id: Long, or_lo: Timestamp, or_hi: Timestamp)
case class JL(l_id: Long, lkey: Long, lts: Timestamp)
case class JR(r_id: Long, rkey: Long, rts: Timestamp)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String): Timestamp = Timestamp.valueOf(s)

  private val fixture = Seq(
    Ev(1, 1, "view", 1.0, t("2021-03-21 10:00:01")),
    Ev(2, 1, "view", 2.0, t("2021-03-21 10:00:03")),   // same session as 1
    Ev(3, 1, "view", 1.0, t("2021-03-21 12:00:00")),   // lone → bounce
    Ev(4, 2, "click", 4.0, t("2021-03-21 10:00:05")),  // lone → bounce
    Ev(5, 1, "view", 1.0, t("2021-03-22 09:00:00")))   // next day

  // far-future sentinel so the watermark passes every real session
  private val sentinel = Ev(99, 999, "view", 0.0, t("2021-04-01 00:00:00"))

  /** The RocksDB state store, as the conf pair that selects it (the
    * default is the HDFS-backed store). */
  private val RocksStore = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** What [[feed]] read off one query: state rows and state bytes
    * after each micro-batch, state rows after the flush, and the rows
    * dropped as late. */
  private case class Fed(rows: Seq[Long], bytes: Seq[Long],
      finalRows: Long, late: Long)

  /** Starts `start` and feeds it `nBatches` micro-batches — `add(b)`
    * adds every side's rows of batch `b`, then the query processes
    * them — recording the state after each. `flush` adds the sentinels
    * to the last batch and once more after it, so one batch runs under
    * the watermark they moved; then the query stops.
    *
    * The query starts with no-data micro-batches off, so a feed is one
    * micro-batch (state evicts in the next data batch instead of in an
    * extra empty one), and with one state partition, whose store commit
    * a batch pays once instead of once per partition; the other cases
    * cover the multi-partition paths. The bytes are the store's
    * current-version size: its `memoryUsedBytes` also counts older map
    * versions kept in memory, which come and go with maintenance
    * timing (PLANS.md, r19). Spark drops rows later than the watermark
    * delay before any stateful operator sees them, losing answers with
    * no error, so `late` sums `numRowsDroppedByWatermark` over every
    * batch (one feed can span several, which `lastProgress` misses). */
  private def feed(start: => StreamingQuery, nBatches: Int)(
      add: Int => Unit)(flush: => Unit): Fed = {
    val q = withSqlConfs(spark)(
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "1")(start)
    try {
      def state(f: StateOperatorProgress => Long): Long =
        q.lastProgress.stateOperators.map(f).sum
      val seen = scala.collection.mutable.Set.empty[Long]
      var late = 0L
      def harvest(): Unit = q.recentProgress.foreach { p =>
        if (seen.add(p.batchId))
          late += p.stateOperators.map(_.numRowsDroppedByWatermark).sum
      }
      val rows = scala.collection.mutable.ArrayBuffer.empty[Long]
      val bytes = scala.collection.mutable.ArrayBuffer.empty[Long]
      (0 until nBatches).foreach { b =>
        add(b)
        if (b == nBatches - 1) flush
        q.processAllAvailable()
        rows += state(_.numRowsTotal)
        bytes += state(o => Option(o.customMetrics
          .get("stateOnCurrentVersionSizeBytes")).fold(0L)(_.longValue))
        harvest()
      }
      flush
      q.processAllAvailable()
      harvest()
      Fed(rows.toSeq, bytes.toSeq, state(_.numRowsTotal), late)
    } finally q.stop()
  }

  /** Starts `df` into an append-mode memory sink read as `view`. */
  private def memorySink(df: DataFrame, view: String): StreamingQuery =
    df.writeStream.format("memory").queryName(view).outputMode("append")
      .start()

  /** (count, XOR of (l_id, r_id) hashes) of a pair frame: an
    * order-independent signature of the pair set that, unlike a sum,
    * cannot overflow at any pair count. */
  private def pairSig(pairs: DataFrame): (Long, Long) = {
    val r = pairs.agg(count(lit(1)),
      coalesce(expr("bit_xor(xxhash64(l_id, r_id))"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  test("streaming UV dedup emits the same (mid, day) set as batch") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = StreamJobs.uvDedup(src.toDF())
      .writeStream.format("memory").queryName("uv_out")
      .outputMode("append").start()
    src.addData(fixture: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("uv_out")
      .select(col("mid"), col("dt").cast("string"))
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "2021-03-21"), (2L, "2021-03-21"),
      (1L, "2021-03-22")))

    // at volume: 12k in-order events of 500 users over two
    // micro-batches — each (mid, day) emitted exactly once, and the
    // dedup state stays within the key space (one entry per (mid,
    // day), never one per event), with no row dropped as late
    val users = 500L
    val vol = MemoryStream[Ev]
    val fed = feed(memorySink(StreamJobs.uvDedup(vol.toDF()), "uv_vol"), 2)(
      b => vol.addData(volumeEvents(b, 2, 12000L)))(())
    val out = spark.table("uv_vol")
    assert(out.count() === users && out.select("mid").distinct().count() ===
      users, "uvDedup must emit each (mid, day) exactly once")
    assert(fed.finalRows <= 2 * users,
      s"dedup state ${fed.finalRows} grew past the key space")
    assert(fed.late === 0L)
  }

  /** Micro-batch `b` of `nb` over `n` in-order events, 10 ms apart
    * from 2021-03-21 10:00, of 500 users and four event types. */
  private def volumeEvents(b: Int, nb: Int, n: Long): Seq[Ev] = {
    val base = t("2021-03-21 10:00:00").getTime
    val types = Array("view", "click", "cart", "order")
    (n * b / nb until n * (b + 1) / nb).map(i => Ev(i, i % 500,
      types((i % 4).toInt), (i % 100).toDouble, new Timestamp(base + i * 10)))
  }

  test("streaming tumble agg matches batch totals after watermark close") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = StreamJobs.visitorTumble(src.toDF())
      .writeStream.format("memory").queryName("vt_out")
      .outputMode("append").start()
    src.addData(fixture: _*)
    q.processAllAvailable()
    src.addData(sentinel)               // advance the watermark
    q.processAllAvailable()
    q.stop()
    val got = spark.table("vt_out")
    // events 1+2 share the 10:00:00 window for (ar=1, ch=view)
    val w1 = got.filter(col("ar") === 1 && col("ch") === "view" &&
      col("stt") === t("2021-03-21 10:00:00"))
      .select("pv_ct").as[Long].collect()
    assert(w1.toSeq == Seq(2L))
    assert(got.agg(sum("pv_ct")).as[Long].head() == fixture.size)

    // at volume, once per state store provider (the default
    // HDFS-backed store and RocksDB): 12k in-order events over two
    // micro-batches, then the sentinel; every window group must equal
    // the batch recompute of the same events, none dropped as late
    val events = (0 until 2).flatMap(volumeEvents(_, 2, 12000L))
    def groups(df: DataFrame) =
      df.select(unix_millis(col("stt")), col("ar"), col("ch"),
          col("pv_ct"), col("dur_sum"))
        .as[(Long, Long, String, Long, Double)].collect()
        .map(r => (r._1, r._2, r._3) -> (r._4, r._5)).toMap
    val batch = groups(events.toDF()
      .groupBy(window(col("ts"), "10 seconds").as("w"),
        (col("user_id") % 10).as("ar"), col("event_type").as("ch"))
      .agg(count(lit(1)).as("pv_ct"), sum(col("value")).as("dur_sum"))
      .select(col("w.start").as("stt"), col("ar"), col("ch"),
        col("pv_ct"), col("dur_sum")))
    // (RocksDB takes the same events in one batch: the answer, not the
    // batching, is what the provider must not change)
    Seq(("vt_hdfs", None, 2), ("vt_rocksdb", Some(RocksStore), 1)).foreach {
      case (view, store, nb) => withSqlConfs(spark)(store.toSeq: _*) {
        val vol = MemoryStream[Ev]
        val fed = feed(memorySink(StreamJobs.visitorTumble(vol.toDF()), view),
          nb)(b => vol.addData(volumeEvents(b, nb, 12000L)))(vol.addData(sentinel))
        assert(fed.late === 0L, view)
        // the sentinel's own window never closes, so it never emits
        assert(groups(spark.table(view)) === batch,
          s"$view: stream/batch window parity")
      }
    }
  }

  test("file-source events stream: UV dedup set matches the batch operator") {
    val q = StreamJobs.uvDedup(StreamJobs.eventsStream(spark, Sf))
      .writeStream.format("memory").queryName("uv_file_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("uv_file_out")
      .select(col("mid"), col("dt").cast("string"))
      .as[(Long, String)].collect().toSet
    val batch = graft.dwm.UniqueVisit(spark, Sf)
      .select(col("mid"), col("dt")).as[(Long, String)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming product tumble matches the batch aggregate after close") {
    implicit val sc = spark.sqlContext
    val lis = Seq(
      Li(t("2021-03-21 10:00:01"), 7, 100, 500L),
      Li(t("2021-03-21 10:00:04"), 7, 100, 300L),  // same window+sku+order
      Li(t("2021-03-21 10:00:09"), 7, 101, 200L),  // same window, 2nd order
      Li(t("2021-03-21 10:00:12"), 7, 102, 100L),  // next window
      Li(t("2021-03-21 10:00:03"), 9, 103, 900L),  // other sku
      Li(t("2021-04-01 00:00:00"), 0, 0, 0L))      // sentinel closes windows
    val src = MemoryStream[Li]
    val q = StreamJobs.productTumble(src.toDF())
      .writeStream.format("memory").queryName("ps_out")
      .outputMode("append").start()
    src.addData(lis: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ps_out")
      .filter(col("sku_id") =!= 0)
      .as[(Timestamp, Long, Long, Long, Long)].collect().toSet
    val batch = StreamJobs.productTumble(lis.toDF())
      .filter(col("sku_id") =!= 0)
      .as[(Timestamp, Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    val w7 = streamed.find(r =>
      r._1 == t("2021-03-21 10:00:00") && r._2 == 7L).get
    assert(w7._3 == 3L && w7._4 == 2L && w7._5 == 1000L)
  }

  test("stream-stream interval join matches batch and excludes out-of-bound rows") {
    implicit val sc = spark.sqlContext
    val orders = Seq(
      Ord(10, t("2021-03-21 10:00:00"), 500L),
      Ord(20, t("2021-03-21 11:00:00"), 700L))
    val details = Seq(
      Det(10, t("2021-03-21 10:10:00"), 100L), // in [-30m, +30m]
      Det(10, t("2021-03-21 09:40:00"), 150L), // in (earlier side)
      Det(10, t("2021-03-21 12:00:00"), 999L), // OUT: +2h
      Det(20, t("2021-03-21 11:29:00"), 300L), // in
      Det(30, t("2021-03-21 11:00:00"), 400L)) // no matching order
    val oSrc = MemoryStream[Ord]
    val dSrc = MemoryStream[Det]
    val q = StreamJobs.intervalJoinBounds(oSrc.toDF(), dSrc.toDF(),
        "order_id", "d_order_id", "o_ts", "d_ts", "30 minutes", "30 minutes")
      .select(col("order_id"), col("amount"))
      .writeStream.format("memory").queryName("ivj_out")
      .outputMode("append").start()
    oSrc.addData(orders: _*)
    dSrc.addData(details: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ivj_out")
      .as[(Long, Long)].collect().toSet
    // the SAME transform body in batch mode (unified API)
    val batch = StreamJobs.intervalJoinBounds(orders.toDF(), details.toDF(),
        "order_id", "d_order_id", "o_ts", "d_ts", "30 minutes", "30 minutes")
      .select(col("order_id"), col("amount"))
      .as[(Long, Long)].collect().toSet
    assert(streamed == Set((10L, 100L), (10L, 150L), (20L, 300L)))
    assert(streamed == batch)

    // the reference's two shapes at volume through the same operator,
    // each side fed in its own event-time order: the joined pairs equal
    // the batch run of the same body over the same rows, join state
    // stays below one side's event count (bounded by the watermark
    // horizon, not by the events ingested), the sentinel flush leaves
    // at most the sentinels, and no row is dropped as late
    def atVolume(tag: String, ls: Seq[JL], rs: Seq[JR], lo: String,
        hi: String, nb: Int): Seq[Long] = {
      def chunk[A](xs: Seq[A], b: Int) =
        xs.slice(xs.size * b / nb, xs.size * (b + 1) / nb)
      def body(l: DataFrame, r: DataFrame) = StreamJobs.intervalJoinBounds(
          l, r, "lkey", "rkey", "lts", "rts", lo, hi, delay = "10 seconds")
        .select(col("l_id"), col("r_id"))
      val lSrc = MemoryStream[JL]
      val rSrc = MemoryStream[JR]
      val far = t("2021-04-01 00:00:00")
      val fed = feed(memorySink(body(lSrc.toDF(), rSrc.toDF()), s"ivj_$tag"),
          nb) { b =>
        lSrc.addData(chunk(ls, b)); rSrc.addData(chunk(rs, b))
      } { lSrc.addData(JL(-1L, -1L, far)); rSrc.addData(JR(-2L, -2L, far)) }
      val streamed = spark.table(s"ivj_$tag").as[(Long, Long)].collect().toSet
      val batch = body(ls.toDF(), rs.toDF()).as[(Long, Long)].collect().toSet
      assert(streamed === batch, s"$tag: stream/batch interval-join parity")
      assert(batch.nonEmpty, tag)
      assert(fed.rows.max < ls.size, s"$tag: join state ${fed.rows.max} " +
        s"is O(events), not watermark-bounded: ${fed.rows}")
      assert(fed.finalRows <= 10,
        s"$tag: sentinel flush left ${fed.finalRows} buffered rows")
      assert(fed.late === 0L, tag)
      fed.rows
    }
    val base = t("2021-03-21 10:00:00").getTime
    // J1 (OrderWideApp2 order × detail ±5 s) at 10 Hz: the right
    // jitter sweeps ±9 s, inside the delay, so 11/19 of pairs join
    atVolume("pm5s",
      (0L until 6000L).map(i => JL(i, i, new Timestamp(base + i * 100))),
      (0L until 6000L).map(i => JR(i, i,
        new Timestamp(base + i * 100 + (i % 19 - 9) * 1000)))
        .sortBy(_.rts.getTime),
      "5 seconds", "5 seconds", 3)
    // J2 (PaymentWideApp2 payment × order [-30 min, 0]) at 1 Hz over
    // 12,000 s, far longer than the window: each payment follows its
    // order by (i mod 3600) s, tapered at the end so none outlives the
    // feed. The order side buffers the whole 30 min window, so the
    // state curve must PLATEAU while events keep flowing
    val j2 = atVolume("back30m",
      (0L until 12000L).map { i =>
        val off = math.min(i % 3600, 12000L - 1 - i)
        JL(i, i, new Timestamp(base + (i + off) * 1000))
      }.sortBy(_.lts.getTime),
      (0L until 12000L).map(i => JR(i, i, new Timestamp(base + i * 1000))),
      "30 minutes", "0 seconds", 5)
    assert(j2.last <= j2(j2.size - 4) * 13 / 10,
      s"J2 state kept growing past the window plateau: $j2")
  }

  test("streaming as-of join matches the batch composition, state-final") {
    implicit val sc = spark.sqlContext
    val rights = Seq(
      AR(1, t("2021-03-21 10:00:00"), 100L),
      AR(1, t("2021-03-21 10:00:10"), 200L),
      AR(3, t("2021-03-21 10:00:01"), 900L)) // right-only key: no output
    val lefts = Seq(
      AL(1, 1, t("2021-03-21 09:59:59")), // before any right -> null
      AL(2, 1, t("2021-03-21 10:00:00")), // tie -> 100
      AL(3, 1, t("2021-03-21 10:00:05")), // -> 100
      AL(4, 1, t("2021-03-21 10:00:10")), // tie with later right -> 200
      AL(5, 1, t("2021-03-21 10:00:30")), // -> 200 (latest persists)
      AL(6, 2, t("2021-03-21 10:00:07"))) // key with no rights -> null
    val lSrc = MemoryStream[AL]
    val rSrc = MemoryStream[AR]
    val q = StreamJobs.asOfLatest(lSrc.toDF(), rSrc.toDF(),
        "lk", "rk", "lts", "rts", "lid", "pay")
      .writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    // rights land a batch BEFORE the lefts (cross-batch state), then a
    // far-future sentinel on each side advances the watermark past
    // every real row so all pending lefts become final
    rSrc.addData(rights: _*)
    q.processAllAvailable()
    lSrc.addData(lefts: _*)
    q.processAllAvailable()
    lSrc.addData(AL(99, 999, t("2021-04-01 00:00:00")))
    rSrc.addData(AR(998, t("2021-04-01 00:00:00"), 0L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("asof_out")
      .filter(col("left_id") < 99)
      .select("left_id", "payload").as[(Long, Option[Long])]
      .collect().toMap
    assert(got === Map(1L -> None, 2L -> Some(100L), 3L -> Some(100L),
      4L -> Some(200L), 5L -> Some(200L), 6L -> None))
    // parity with the batch composition on the same rows (ms domain)
    val batch = graft.operators.AsOf.asOf(
        lefts.toDF().select(col("lid"), col("lk"),
          unix_millis(col("lts")).as("lms")),
        rights.toDF().select(col("rk"),
          unix_millis(col("rts")).as("rms"), col("pay")),
        "lk", "rk", "lms", "rms", Seq("pay"))
      .select("lid", "pay").as[(Long, Option[Long])].collect().toMap
    assert(got === batch)
    // backward's post-flush residue is ONE retained right per key plus
    // the sentinel keys — the dimension, not event history
    asOfAtVolume("asof_latest", "backward", Long.MaxValue, (50L, 60L)) {
      (l, r) => StreamJobs.asOfLatest(l, r, "lk", "rk", "lts", "rts", "lid",
        "pay", delay = "10 seconds")
    }
  }

  test("streaming as-of join tolerates in-delay disorder across batches") {
    // the contract bounds out-of-orderness by the watermark delay, not
    // by batch boundaries: a later micro-batch may carry EARLIER event
    // times as long as they are not late — the buffers are unordered
    // by construction, so arrival order must not change one answer
    implicit val sc = spark.sqlContext
    val lSrc = MemoryStream[AL]
    val rSrc = MemoryStream[AR]
    val q = StreamJobs.asOfLatest(lSrc.toDF(), rSrc.toDF(),
        "lk", "rk", "lts", "rts", "lid", "pay")
      .writeStream.format("memory").queryName("asof_dis")
      .outputMode("append").start()
    // batch 1 carries the NEWER rows, batch 2 back-fills older ones
    // (all within the 1-minute default delay of the max seen)
    lSrc.addData(AL(1, 1, t("2021-03-21 10:00:30")))
    rSrc.addData(AR(1, t("2021-03-21 10:00:25"), 250L))
    q.processAllAvailable()
    lSrc.addData(AL(2, 1, t("2021-03-21 10:00:05")))   // older left
    rSrc.addData(AR(1, t("2021-03-21 10:00:02"), 20L)) // older right
    q.processAllAvailable()
    lSrc.addData(AL(99, 999, t("2021-04-01 00:00:00")))
    rSrc.addData(AR(998, t("2021-04-01 00:00:00"), 0L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("asof_dis").filter(col("left_id") < 99)
      .select("left_id", "payload").as[(Long, Option[Long])]
      .collect().toMap
    // left 1 (t=30) sees the t=25 right; left 2 (t=05) must see the
    // BACK-FILLED t=02 right even though it arrived a batch later
    assert(got === Map(1L -> Some(250L), 2L -> Some(20L)))
  }

  test("streaming forward as-of: earliest right within tolerance, " +
      "batch parity, cross-batch disorder") {
    implicit val sc = spark.sqlContext
    val tol = 30000L
    val rights = Seq(
      AR(1, t("2021-03-21 10:00:10"), 100L),
      AR(1, t("2021-03-21 10:00:20"), 200L),
      AR(3, t("2021-03-21 10:00:01"), 900L)) // right-only key: no output
    val lefts = Seq(
      AL(1, 1, t("2021-03-21 10:00:05")), // earliest at-or-after -> 100
      AL(2, 1, t("2021-03-21 10:00:10")), // tie -> 100
      AL(3, 1, t("2021-03-21 10:00:15")), // -> 200
      AL(4, 1, t("2021-03-21 10:00:21")), // nothing within 30 s -> null
      AL(5, 2, t("2021-03-21 10:00:07"))) // key with no rights -> null
    val lSrc = MemoryStream[AL]
    val rSrc = MemoryStream[AR]
    val q = StreamJobs.asOfNext(lSrc.toDF(), rSrc.toDF(),
        "lk", "rk", "lts", "rts", "lid", "pay", tol)
      .writeStream.format("memory").queryName("asof_fwd")
      .outputMode("append").start()
    // lefts land a batch BEFORE the rights they await (cross-batch
    // state), then sentinels finalize everything
    lSrc.addData(lefts: _*)
    q.processAllAvailable()
    rSrc.addData(rights: _*)
    q.processAllAvailable()
    lSrc.addData(AL(99, 999, t("2021-04-01 00:00:00")))
    rSrc.addData(AR(998, t("2021-04-01 00:00:00"), 0L))
    q.processAllAvailable()
    // the no-residue claim: every real key (1, 2, 3) is fully evicted
    // once flushed — only the two sentinel keys (pending left 999,
    // ahead-of-watermark right 998) may remain in the state store
    assert(q.lastProgress.stateOperators.head.numRowsTotal === 2L,
      s"forward as-of must keep no dimension residue: ${q.lastProgress}")
    q.stop()
    val got = spark.table("asof_fwd")
      .filter(col("left_id") < 99)
      .select("left_id", "payload").as[(Long, Option[Long])]
      .collect().toMap
    assert(got === Map(1L -> Some(100L), 2L -> Some(100L),
      3L -> Some(200L), 4L -> None, 5L -> None))
    // parity with the batch directional operator on the same rows
    val batch = graft.operators.AsOf.asOfDirection(
        lefts.toDF().select(col("lid"), col("lk"),
          unix_millis(col("lts")).as("lms")),
        rights.toDF().select(col("rk"),
          unix_millis(col("rts")).as("rms"), col("pay")),
        "lk", "rk", "lms", "rms", Seq("pay"), "forward", tol)
      .select("lid", "pay").as[(Long, Option[Long])].collect().toMap
    assert(got === batch)
    asOfAtVolume("asof_next", "forward", 40000L, (0L, 4L)) { (l, r) =>
      StreamJobs.asOfNext(l, r, "lk", "rk", "lts", "rts", "lid", "pay",
        40000L, "10 seconds")
    }
  }

  test("streaming nearest as-of: min distance within tolerance, backward " +
      "ties, batch parity, no residue") {
    implicit val sc = spark.sqlContext
    val tol = 10000L
    val rights = Seq(
      AR(1, t("2021-03-21 10:00:10"), 100L),
      AR(1, t("2021-03-21 10:00:30"), 300L),
      AR(3, t("2021-03-21 10:00:01"), 900L)) // right-only key: no output
    val lefts = Seq(
      AL(1, 1, t("2021-03-21 10:00:05")), // only forward in window -> 100
      AL(2, 1, t("2021-03-21 10:00:12")), // back d=2 beats fwd d=18>tol -> 100
      AL(3, 1, t("2021-03-21 10:00:20")), // EXACT distance tie 10/10 -> backward 100
      AL(4, 1, t("2021-03-21 10:00:21")), // fwd d=9 beats back d=11>tol -> 300
      AL(5, 1, t("2021-03-21 10:00:45")), // nothing within 10 s -> null
      AL(6, 2, t("2021-03-21 10:00:07"))) // key with no rights -> null
    val lSrc = MemoryStream[AL]
    val rSrc = MemoryStream[AR]
    val q = StreamJobs.asOfNearest(lSrc.toDF(), rSrc.toDF(),
        "lk", "rk", "lts", "rts", "lid", "pay", tol)
      .writeStream.format("memory").queryName("asof_near")
      .outputMode("append").start()
    // lefts land a batch BEFORE the rights (cross-batch state: the
    // backward candidates of several lefts arrive later, in event-time
    // order within the delay), then sentinels finalize everything
    lSrc.addData(lefts: _*)
    q.processAllAvailable()
    rSrc.addData(rights: _*)
    q.processAllAvailable()
    lSrc.addData(AL(99, 999, t("2021-04-01 00:00:00")))
    rSrc.addData(AR(998, t("2021-04-01 00:00:00"), 0L))
    q.processAllAvailable()
    // no residue: every real key (1, 2, 3) fully evicts once the
    // watermark passes its 2·tol horizon — only the sentinel keys stay
    assert(q.lastProgress.stateOperators.head.numRowsTotal === 2L,
      s"nearest as-of must keep no residue: ${q.lastProgress}")
    q.stop()
    val got = spark.table("asof_near")
      .filter(col("left_id") < 99)
      .select("left_id", "payload").as[(Long, Option[Long])]
      .collect().toMap
    assert(got === Map(1L -> Some(100L), 2L -> Some(100L),
      3L -> Some(100L), 4L -> Some(300L), 5L -> None, 6L -> None))
    // parity with the batch directional operator on the same rows
    val batch = graft.operators.AsOf.asOfDirection(
        lefts.toDF().select(col("lid"), col("lk"),
          unix_millis(col("lts")).as("lms")),
        rights.toDF().select(col("rk"),
          unix_millis(col("rts")).as("rms"), col("pay")),
        "lk", "rk", "lms", "rms", Seq("pay"), "nearest", tol)
      .select("lid", "pay").as[(Long, Option[Long])].collect().toMap
    assert(got === batch)
    asOfAtVolume("asof_nearest", "nearest", 40000L, (0L, 4L)) { (l, r) =>
      StreamJobs.asOfNearest(l, r, "lk", "rk", "lts", "rts", "lid", "pay",
        40000L, "10 seconds")
    }
  }

  /** Streams `lefts` (one batch), then `rights` (the next), then a
    * far-future sentinel on each side through `op`, and returns the
    * real lefts' (left_id → payload) next to the batch
    * `asOfDirection(direction)` answer at its default (infinite)
    * tolerance on the same rows. */
  private def streamVsBatchAtMaxTol(name: String, direction: String,
      lefts: Seq[AL], rights: Seq[AR])(
      op: (DataFrame, DataFrame) => DataFrame)
      : (Map[Long, Option[Long]], Map[Long, Option[Long]]) = {
    implicit val sc = spark.sqlContext
    val lSrc = MemoryStream[AL]
    val rSrc = MemoryStream[AR]
    val q = op(lSrc.toDF(), rSrc.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    lSrc.addData(lefts: _*)
    q.processAllAvailable()
    rSrc.addData(rights: _*)
    q.processAllAvailable()
    lSrc.addData(AL(99, 999, t("2021-04-01 00:00:00")))
    rSrc.addData(AR(998, t("2021-04-01 00:00:00"), 0L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).filter(col("left_id") < 99)
      .select("left_id", "payload").as[(Long, Option[Long])]
      .collect().toMap
    val batch = graft.operators.AsOf.asOfDirection(
        lefts.toDF().select(col("lid"), col("lk"),
          unix_millis(col("lts")).as("lms")),
        rights.toDF().select(col("rk"),
          unix_millis(col("rts")).as("rms"), col("pay")),
        "lk", "rk", "lms", "rms", Seq("pay"), direction)
      .select("lid", "pay").as[(Long, Option[Long])].collect().toMap
    (got, batch)
  }

  /** One as-of direction at volume: 50 keys, a left every 50 ms and a
    * right every 200 ms, 1,000 lefts per micro-batch (50 s of event
    * time, far past the 10 s delay), fed for 2 and then 4 batches and
    * flushed by a far-future sentinel per side. After each flush the
    * state must be the direction's `residue` (state keys, inclusive
    * bounds), never the event history; at 2 batches the streamed
    * answers must equal `asOfDirection` on the same rows, nulls
    * included; and the peak state bytes at twice the events must stay
    * within 1.5× — a watermark-bounded transient plus the residue. */
  private def asOfAtVolume(tag: String, direction: String, tol: Long,
      residue: (Long, Long))(op: (DataFrame, DataFrame) => DataFrame)
      : Unit = {
    implicit val sc = spark.sqlContext
    val base = t("2021-03-21 10:00:00").getTime
    val far = t("2021-04-01 00:00:00")
    val Seq(p1, p2) = Seq(2, 4).map { nb =>
      val ls = (0L until nb * 1000L).map(i =>
        AL(i, i % 50, new Timestamp(base + i * 50)))
      val rs = (0L until nb * 250L).map(j =>
        AR(j % 50, new Timestamp(base + j * 200), j))
      val lSrc = MemoryStream[AL]
      val rSrc = MemoryStream[AR]
      val view = s"${tag}_vol_$nb"
      val fed = feed(memorySink(op(lSrc.toDF(), rSrc.toDF()), view), nb) {
          b =>
        lSrc.addData(ls.slice(b * 1000, (b + 1) * 1000))
        rSrc.addData(rs.slice(b * 250, (b + 1) * 250))
      } { lSrc.addData(AL(-1L, 9999L, far)); rSrc.addData(AR(9998L, far, -2L)) }
      assert(fed.finalRows >= residue._1 && fed.finalRows <= residue._2,
        s"$tag[$nb] post-flush state ${fed.finalRows} outside its residue " +
          s"$residue — event history kept, or the residue lost")
      assert(fed.late === 0L, tag)
      if (nb == 2) {
        val got = spark.table(view).filter(col("left_id") >= 0)
          .select("left_id", "payload").as[(Long, Option[Long])]
          .collect().toMap
        val batch = graft.operators.AsOf.asOfDirection(
            ls.toDF().select(col("lid"), col("lk"),
              unix_millis(col("lts")).as("lms")),
            rs.toDF().select(col("rk"),
              unix_millis(col("rts")).as("rms"), col("pay")),
            "lk", "rk", "lms", "rms", Seq("pay"), direction, tol)
          .select("lid", "pay").as[(Long, Option[Long])].collect().toMap
        assert(got.size === ls.size && got === batch,
          s"$tag stream/batch parity")
      }
      fed.bytes.max
    }
    assert(p2 <= p1 * 3 / 2,
      s"$tag state grew with the events ingested: $p1 -> $p2 bytes")
  }

  test("streaming forward/nearest as-of at tolMs = Long.MaxValue equal " +
      "the batch default tolerance (no wrapped deadline)") {
    // every left has a right in each direction's reach, some minutes
    // away: a deadline lt + tol that wrapped negative would finalize
    // these lefts at once with a null payload
    val rights = Seq(
      AR(1, t("2021-03-21 10:00:10"), 100L),
      AR(1, t("2021-03-21 10:00:20"), 200L),
      AR(2, t("2021-03-21 10:05:00"), 500L))
    val fwdLefts = Seq(
      AL(1, 1, t("2021-03-21 10:00:05")), // -> 100
      AL(2, 1, t("2021-03-21 10:00:10")), // tie -> 100
      AL(3, 1, t("2021-03-21 10:00:15")), // -> 200
      AL(4, 2, t("2021-03-21 10:00:00"))) // 5 min ahead -> 500
    val (fwd, fwdBatch) = streamVsBatchAtMaxTol("asof_fwd_max", "forward",
        fwdLefts, rights) { (l, r) =>
      StreamJobs.asOfNext(l, r, "lk", "rk", "lts", "rts", "lid", "pay",
        Long.MaxValue)
    }
    assert(fwd === Map(1L -> Some(100L), 2L -> Some(100L),
      3L -> Some(200L), 4L -> Some(500L)))
    assert(fwd === fwdBatch)
    val nearLefts = fwdLefts :+ AL(5, 1, t("2021-03-21 10:00:50")) // -> 200
    val (near, nearBatch) = streamVsBatchAtMaxTol("asof_near_max",
        "nearest", nearLefts, rights) { (l, r) =>
      StreamJobs.asOfNearest(l, r, "lk", "rk", "lts", "rts", "lid", "pay",
        Long.MaxValue)
    }
    assert(near.size === nearLefts.size && near.values.forall(_.nonEmpty),
      s"a left finalized with a null payload: $near")
    assert(near === nearBatch)
  }

  test("streaming as-of join at idleTtlMs = Long.MaxValue keeps the " +
      "residue for a key that returns days later") {
    implicit val sc = spark.sqlContext
    val lSrc = MemoryStream[AL]
    val rSrc = MemoryStream[AR]
    val q = StreamJobs.asOfLatest(lSrc.toDF(), rSrc.toDF(),
        "lk", "rk", "lts", "rts", "lid", "pay", idleTtlMs = Long.MaxValue)
      .writeStream.format("memory").queryName("asof_ttl_max")
      .outputMode("append").start()
    rSrc.addData(AR(1, t("2021-03-21 10:00:00"), 100L))
    lSrc.addData(AL(1, 1, t("2021-03-21 10:00:05")))
    q.processAllAvailable()
    // watermark four days on: left 1 flushes and the idle clock arms
    // at wm + TTL, which must saturate to "never", not wrap to "now"
    lSrc.addData(AL(97, 999, t("2021-03-25 10:00:00")))
    rSrc.addData(AR(997, t("2021-03-25 10:00:00"), 0L))
    q.processAllAvailable()
    lSrc.addData(AL(98, 999, t("2021-03-28 10:00:00")))
    rSrc.addData(AR(998, t("2021-03-28 10:00:00"), 0L))
    q.processAllAvailable()
    lSrc.addData(AL(2, 1, t("2021-03-28 09:59:30")))
    q.processAllAvailable()
    lSrc.addData(AL(99, 999, t("2021-04-01 00:00:00")))
    rSrc.addData(AR(996, t("2021-04-01 00:00:00"), 0L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("asof_ttl_max").filter(col("left_id") < 97)
      .select("left_id", "payload").as[(Long, Option[Long])]
      .collect().toMap
    assert(got === Map(1L -> Some(100L), 2L -> Some(100L)))
  }

  test("streaming as-of join: idle-key TTL evicts the dimension residue; " +
      "default keeps it forever") {
    implicit val sc = spark.sqlContext
    // same event script under both knobs; only the TTL differs
    def run(name: String, ttlMs: Long): Map[Long, Option[Long]] = {
      val lSrc = MemoryStream[AL]
      val rSrc = MemoryStream[AR]
      val q = StreamJobs.asOfLatest(lSrc.toDF(), rSrc.toDF(),
          "lk", "rk", "lts", "rts", "lid", "pay", idleTtlMs = ttlMs)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      rSrc.addData(AR(1, t("2021-03-21 10:00:00"), 100L))
      lSrc.addData(AL(1, 1, t("2021-03-21 10:00:05")))
      q.processAllAvailable()
      // watermark to 10:01:00: the FLUSH timer fires, left 1
      // finalizes (-> 100), key 1 drops to the residue right; with
      // TTL=60s the idle clock arms at 10:02
      lSrc.addData(AL(97, 999, t("2021-03-21 10:02:00")))
      rSrc.addData(AR(997, t("2021-03-21 10:02:00"), 0L))
      q.processAllAvailable()
      // a left RETURNING WITHIN the TTL (10:01:30 < 10:01 + 60s) must
      // still see the residue — this is exactly the row that catches
      // an eviction keyed off the flush timer instead of the idle one
      lSrc.addData(AL(2, 1, t("2021-03-21 10:01:30")))
      q.processAllAvailable()
      // watermark to 10:19:00: left 2 flushes (-> 100) and the idle
      // clock re-arms at 10:20
      lSrc.addData(AL(98, 999, t("2021-03-21 10:20:00")))
      rSrc.addData(AR(998, t("2021-03-21 10:20:00"), 0L))
      q.processAllAvailable()
      // watermark to 10:25:00, past the re-armed idle deadline: the
      // TTL branch (and only it) forgets key 1's residue
      lSrc.addData(AL(100, 999, t("2021-03-21 10:26:00")))
      rSrc.addData(AR(995, t("2021-03-21 10:26:00"), 0L))
      q.processAllAvailable()
      // a fresh (not-late) left on key 1 after the quiet stretch
      lSrc.addData(AL(3, 1, t("2021-03-21 10:25:30")))
      q.processAllAvailable()
      lSrc.addData(AL(99, 999, t("2021-04-01 00:00:00")))
      rSrc.addData(AR(996, t("2021-04-01 00:00:00"), 0L))
      q.processAllAvailable()
      q.stop()
      spark.table(name).filter(col("left_id") < 97)
        .select("left_id", "payload").as[(Long, Option[Long])]
        .collect().toMap
    }
    // default: the residue is kept forever — the late-returning key
    // still sees its dimension payload
    assert(run("asof_nottl", 0L) ===
      Map(1L -> Some(100L), 2L -> Some(100L), 3L -> Some(100L)))
    // TTL on: the within-TTL return still matches; only the key idle
    // past the TTL loses its residue — the documented trade-off for
    // rotating key domains
    assert(run("asof_ttl", 60000L) ===
      Map(1L -> Some(100L), 2L -> Some(100L), 3L -> None))
  }

  test("streaming as-of join: restart from checkpoint keeps state and " +
      "emits each answer exactly once") {
    implicit val sc = spark.sqlContext
    val lSrc = MemoryStream[AL]
    val rSrc = MemoryStream[AR]
    val outDir = graft.func.TempDirs.scoped("asof-rst-out")
    val ckDir = graft.func.TempDirs.scoped("asof-rst-ck")
    def start() = StreamJobs.asOfLatest(lSrc.toDF(), rSrc.toDF(),
        "lk", "rk", "lts", "rts", "lid", "pay")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckDir)
      .outputMode("append").start()

    // incarnation 1: rights + some lefts, all still PENDING in state
    // (watermark hasn't passed them) when the query stops
    val q1 = start()
    rSrc.addData(AR(1, t("2021-03-21 10:00:00"), 100L),
      AR(1, t("2021-03-21 10:00:10"), 200L))
    lSrc.addData(AL(1, 1, t("2021-03-21 10:00:05")),
      AL(2, 1, t("2021-03-21 10:00:20")))
    q1.processAllAvailable()
    q1.stop()

    // arrives while the query is down
    lSrc.addData(AL(3, 1, t("2021-03-21 10:00:40")))

    // incarnation 2: same checkpoint — buffered lefts/rights must be
    // RESTORED from the state store, then the sentinel finalizes all
    val q2 = start()
    lSrc.addData(AL(99, 999, t("2021-04-01 00:00:00")))
    rSrc.addData(AR(998, t("2021-04-01 00:00:00"), 0L))
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(outDir).filter(col("left_id") < 99)
      .select("left_id", "payload").as[(Long, Option[Long])]
      .collect()
    assert(got.length === got.map(_._1).distinct.length,
      s"restart re-emitted an answer: ${got.toSeq}")
    assert(got.toMap === Map(1L -> Some(100L), 2L -> Some(200L),
      3L -> Some(200L)),
      "state (incl. the pre-restart rights) must survive the restart")
  }

  test("stream-static range join: same operator body, batch parity") {
    // the bucket device is side-agnostic: a streaming point source
    // against a static interval table is a plain stream-static
    // equi-join on the bucket id — no watermark, no state store
    implicit val sc = spark.sqlContext
    val intervals = Seq((1L, 0L, 10L), (2L, 1000L, 2000L), (3L, 5L, 5L))
      .toDF("id", "lo", "hi")
    val pts = Seq(0L, 5L, 1024L, 2000L, 9999L)
    val src = MemoryStream[Long]
    val q = graft.operators.RangeJoin.pointInInterval(
        src.toDF().withColumnRenamed("value", "p"), intervals,
        "p", "lo", "hi")
      .select("id", "p")
      .writeStream.format("memory").queryName("rj_out")
      .outputMode("append").start()
    src.addData(pts: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("rj_out").as[(Long, Long)].collect().toSet
    val batch = graft.operators.RangeJoin.pointInInterval(
        pts.toDF("p"), intervals, "p", "lo", "hi")
      .select("id", "p").as[(Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed === Set((1L, 0L), (1L, 5L), (3L, 5L),
      (2L, 1024L), (2L, 2000L)))
  }

  test("stream-static interval overlap: same operator body, batch parity") {
    // both sides explode, but only the STREAM side's explode is
    // unbounded — against a static interval table the responsibility
    // dedup still needs no state store, it is a per-row predicate on
    // the equi-joined bucket
    implicit val sc = spark.sqlContext
    val statics = Seq((1L, 0L, 10L), (2L, 1000L, 3000L), (3L, 5000L, 5000L))
      .toDF("s_id", "lo_s", "hi_s")
    val live = Seq((10L, 5L, 1200L), (11L, 2500L, 6000L), (12L, 20L, 30L))
    val src = MemoryStream[(Long, Long, Long)]
    val q = graft.operators.RangeJoin.intervalOverlap(
        src.toDF().toDF("l_id", "lo_l", "hi_l"), statics,
        "lo_l", "hi_l", "lo_s", "hi_s")
      .select("l_id", "s_id")
      .writeStream.format("memory").queryName("ovl_out")
      .outputMode("append").start()
    src.addData(live: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ovl_out").as[(Long, Long)].collect()
    assert(streamed.length === streamed.distinct.length,
      "responsibility dedup must hold stream-static")
    val batch = graft.operators.RangeJoin.intervalOverlap(
        live.toDF("l_id", "lo_l", "hi_l"), statics,
        "lo_l", "hi_l", "lo_s", "hi_s")
      .select("l_id", "s_id").as[(Long, Long)].collect().toSet
    assert(streamed.toSet === batch)
    assert(streamed.toSet === Set((10L, 1L), (10L, 2L), (11L, 2L),
      (11L, 3L)))
  }

  test("stream-stream interval overlap: exactly-once across shared " +
      "buckets, cross-batch state, watermark flush") {
    implicit val sc = spark.sqlContext
    val lSrc = MemoryStream[OvL]
    val rSrc = MemoryStream[OvR]
    // 10 s buckets (10:00:00 UTC epoch-ms is bucket-aligned), 15 s max span
    val q = StreamJobs.intervalOverlapStream(lSrc.toDF(), rSrc.toDF(),
        "ol_id", "ol_lo", "ol_hi", "or_id", "or_lo", "or_hi",
        bucketWidthMs = 10000L, maxSpanMs = 15000L)
      .writeStream.format("memory").queryName("ovs_out")
      .outputMode("append").start()
    // A and B share TWO buckets (both cover :00 and :10) — the
    // responsibility rule must emit their pair exactly once
    lSrc.addData(OvL(1, t("2021-03-21 10:00:01"), t("2021-03-21 10:00:12")))
    rSrc.addData(OvR(1, t("2021-03-21 10:00:02"), t("2021-03-21 10:00:17")))
    q.processAllAvailable()
    // cross-batch: D arrives a batch after B and must still meet it
    lSrc.addData(OvL(2, t("2021-03-21 10:00:15"), t("2021-03-21 10:00:16")))
    rSrc.addData(OvR(2, t("2021-03-21 10:00:30"), t("2021-03-21 10:00:31")))
    q.processAllAvailable()
    // far-future sentinels push the watermark past every real row:
    // all real state must prune to the wm − maxSpan horizon
    lSrc.addData(OvL(99, t("2021-04-01 00:00:00"), t("2021-04-01 00:00:00")))
    rSrc.addData(OvR(98, t("2021-04-01 00:00:00"), t("2021-04-01 00:00:00")))
    q.processAllAvailable()
    val finalState = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()
    val got = spark.table("ovs_out").filter(col("l_id") < 90)
      .as[(Long, Long)].collect()
    assert(got.length === got.distinct.length,
      "a pair meeting in two buckets must emit once")
    assert(got.toSet === Set((1L, 1L), (2L, 1L)))
    assert(finalState <= 2,
      s"only the sentinels may remain buffered, got $finalState rows")

    // at volume: 250 Hz per side (4 ms apart), spans 0–16 ms, the right
    // side phase-shifted — about four true partners per interval. Fed
    // 5,000 rows per side per micro-batch (20 s of event time) for 3
    // and then 6 batches, each run must keep its state keys (one per
    // bucket) below the event count, leave only the sentinels' buckets
    // after the flush and drop nothing as late. At twice the events the
    // state BYTES must stay flat — bytes, not keys, because a key holds
    // a bucket's whole buffer, so a leak inside the buffers would leave
    // the key count flat: the median per-batch reading within 1.5×,
    // and the 90th percentile within 3× (a leak that shows as growing
    // spikes leaves the median flat). The streamed pairs must equal the
    // batch operator on the same rows, under both state store providers.
    val base = t("2021-03-21 10:00:00").getTime
    def lRow(i: Long) = OvL(i, new Timestamp(base + i * 4),
      new Timestamp(base + i * 4 + i % 17))
    def rRow(j: Long) = OvR(j, new Timestamp(base + j * 4 + 2),
      new Timestamp(base + j * 4 + 2 + (j * 7) % 17))
    def atVolume(view: String, nb: Int, n: Long = 0L): (Fed, (Long, Long)) = {
      val lVol = MemoryStream[OvL]
      val rVol = MemoryStream[OvR]
      val per = if (n > 0) n / nb else 5000L
      val far = t("2021-04-01 00:00:00")
      val fed = feed(memorySink(StreamJobs.intervalOverlapStream(lVol.toDF(),
          rVol.toDF(), "ol_id", "ol_lo", "ol_hi", "or_id", "or_lo", "or_hi",
          bucketWidthMs = 32L, maxSpanMs = 16L, delay = "10 seconds"), view),
          nb) { b =>
        lVol.addData((b * per until (b + 1) * per).map(lRow))
        rVol.addData((b * per until (b + 1) * per).map(rRow))
      } { lVol.addData(OvL(-1L, far, far)); rVol.addData(OvR(-2L, far, far)) }
      assert(fed.late === 0L, view)
      assert(fed.rows.max < nb * per,
        s"$view: overlap state ${fed.rows.max} buckets is O(events)")
      assert(fed.finalRows <= 2,
        s"$view: the sentinel flush left ${fed.finalRows} buckets")
      (fed, pairSig(spark.table(view).filter(col("l_id") >= 0)))
    }
    def median(xs: Seq[Long]) = xs.sorted.apply(xs.size / 2)
    // nearest-rank 90th percentile: at 3 readings it is the max
    def p90(xs: Seq[Long]) =
      xs.sorted.apply(math.ceil(xs.size * 0.9).toInt - 1)
    val (f1, sig1) = atVolume("ovs_vol_3", 3)
    val (f2, _) = atVolume("ovs_vol_6", 6)
    assert(median(f2.bytes) <= median(f1.bytes) * 3 / 2,
      s"overlap state bytes grew with the events ingested: ${f1.bytes} " +
        s"-> ${f2.bytes}")
    assert(p90(f2.bytes) <= 3 * p90(f1.bytes),
      s"overlap p90 state bytes grew with the events ingested: " +
        s"${f1.bytes} -> ${f2.bytes}")
    def ms(ts: Timestamp) = ts.getTime
    val batchSig = pairSig(graft.operators.RangeJoin.intervalOverlap(
      (0L until 15000L).map(lRow).map(r => (r.ol_id, ms(r.ol_lo),
        ms(r.ol_hi))).toDF("l_id", "l_lo", "l_hi"),
      (0L until 15000L).map(rRow).map(r => (r.or_id, ms(r.or_lo),
        ms(r.or_hi))).toDF("r_id", "r_lo", "r_hi"),
      "l_lo", "l_hi", "r_lo", "r_hi", 32L))
    assert(sig1 === batchSig, "stream/batch overlap parity (count, xor)")
    assert(sig1._1 > 15000L)
    // the same rows in one micro-batch: the answer, not the batching,
    // is what the provider must not change
    withSqlConfs(spark)(RocksStore) {
      assert(atVolume("ovs_vol_rocks", 1, 15000L)._2 === sig1,
        "the RocksDB provider changed the answer")
    }
  }

  test("stream-stream interval overlap: randomized batch parity, " +
      "width-independent") {
    implicit val sc = spark.sqlContext
    val rnd = new scala.util.Random(42)
    val base = t("2021-03-21 10:00:00").getTime
    def gen(n: Int) = (0 until n).map { i =>
      val lo = base + rnd.nextInt(120000)
      (i.toLong, lo, lo + rnd.nextInt(15000))
    }
    val ls = gen(150).sortBy(_._3)
    val rs = gen(150).map { case (i, lo, hi) => (i + 1000L, lo, hi) }
      .sortBy(_._3)
    val lSrc = MemoryStream[OvL]
    val rSrc = MemoryStream[OvR]
    val q = StreamJobs.intervalOverlapStream(lSrc.toDF(), rSrc.toDF(),
        "ol_id", "ol_lo", "ol_hi", "or_id", "or_lo", "or_hi",
        bucketWidthMs = 10000L, maxSpanMs = 15000L)
      .writeStream.format("memory").queryName("ovs_rand")
      .outputMode("append").start()
    // each side in its own event-time (hi) order, three micro-batches
    for (b <- 0 until 3) {
      lSrc.addData(ls.slice(b * 50, (b + 1) * 50).map { case (i, lo, hi) =>
        OvL(i, new Timestamp(lo), new Timestamp(hi)) }: _*)
      rSrc.addData(rs.slice(b * 50, (b + 1) * 50).map { case (i, lo, hi) =>
        OvR(i, new Timestamp(lo), new Timestamp(hi)) }: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("ovs_rand").as[(Long, Long)].collect()
    assert(got.length === got.distinct.length)
    // parity with the batch operator on the SAME rows (ms domain) —
    // at the streaming width AND another, per the width-independence
    // contract both forms share
    for (w <- Seq(10000L, 3000L)) {
      val batch = graft.operators.RangeJoin.intervalOverlap(
          ls.toDF("l_id", "lo_l", "hi_l"), rs.toDF("r_id", "lo_r", "hi_r"),
          "lo_l", "hi_l", "lo_r", "hi_r", w)
        .select("l_id", "r_id").as[(Long, Long)].collect().toSet
      assert(got.toSet === batch, s"parity at batch width $w")
    }
    assert(got.nonEmpty)
  }

  test("stream-stream interval overlap SALTED: salt-invariant, " +
      "exactly-once across salt-grid cells, crowd included") {
    // the value-crowd rung: a same-range crowd (all rows one interval)
    // collapses into ONE group unsalted; on the 4×2 salt grid each
    // left row sits in 2 cells (its hash row × both columns) and each
    // right row in 4 (both coordinates replicate) — the answer must
    // not notice (placement-only), and no pair may emit twice though
    // its two rows now share state in exactly one grid cell
    implicit val sc = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val base = t("2021-03-21 10:00:00").getTime
    def gen(n: Int, idBase: Long) = (0 until n).map { i =>
      val lo = base + rnd.nextInt(120000)
      (idBase + i, lo, lo + rnd.nextInt(15000))
    }
    // 60 background rows + a 25-per-side crowd on ONE exact interval
    val crowd = base + 40000L
    val ls = (gen(60, 0L) ++ (0 until 25).map(i =>
      (500L + i, crowd, crowd + 9000L))).sortBy(_._3)
    val rs = (gen(60, 1000L) ++ (0 until 25).map(i =>
      (1500L + i, crowd, crowd + 9000L))).sortBy(_._3)
    val lSrc = MemoryStream[OvL]
    val rSrc = MemoryStream[OvR]
    val q = StreamJobs.intervalOverlapStream(lSrc.toDF(), rSrc.toDF(),
        "ol_id", "ol_lo", "ol_hi", "or_id", "or_lo", "or_hi",
        bucketWidthMs = 10000L, maxSpanMs = 15000L,
        saltLeft = 4, saltRight = 2)
      .writeStream.format("memory").queryName("ovs_salt")
      .outputMode("append").start()
    // two micro-batches so crowd pairing also crosses batches (a
    // buffered right must meet a later left inside its salt group)
    for (b <- 0 until 2) {
      lSrc.addData(ls.slice(b * 43, (b + 1) * 43).map { case (i, lo, hi) =>
        OvL(i, new Timestamp(lo), new Timestamp(hi)) }: _*)
      rSrc.addData(rs.slice(b * 43, (b + 1) * 43).map { case (i, lo, hi) =>
        OvR(i, new Timestamp(lo), new Timestamp(hi)) }: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("ovs_salt").as[(Long, Long)].collect()
    assert(got.length === got.distinct.length,
      "a pair must emit once though the right row sits in every salt group")
    val batch = graft.operators.RangeJoin.intervalOverlap(
        ls.toDF("l_id", "lo_l", "hi_l"), rs.toDF("r_id", "lo_r", "hi_r"),
        "lo_l", "hi_l", "lo_r", "hi_r", 10000L)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(got.toSet === batch, "salt placement changed the answer")
    // the crowd really pairs all-to-all (the shape under test)
    assert(got.count { case (l, r) => l >= 500 && l < 525 &&
      r >= 1500 && r < 1525 } === 625)

    // the crowd ladder: C = 800 rows per side on ONE bucket-aligned
    // interval, fed in two micro-batches (the second's lefts pair with
    // the first's buffered rights inside their grid cell) under a delay
    // past the feed, so nothing prunes — unmitigated (1,1), the batch
    // form's 1-D split (16,1) and the 2-D grid (4,4), the same 16
    // cells. Answers are salt-invariant; the unsalted crowd is ONE
    // state key and both salted forms spread it over exactly 16; the
    // per-key state drops to ~(C + C/16)/2C ≈ 0.53 of the single key
    // under 1-D (the replicated right dominates) and to (C/4 + C/4)/2C
    // = 0.25 under the grid (bars 0.65 and 0.40); and the grid buffers
    // less in total than 1-D at the same cell count
    val C = 800
    val (cLo, cHi) = (new Timestamp(t("2021-03-21 10:00:00").getTime + 96),
      new Timestamp(t("2021-03-21 10:00:00").getTime + 112))
    def ladder(sl: Int, sr: Int): ((Long, Long), Long, Long) = {
      val cl = MemoryStream[OvL]
      val cr = MemoryStream[OvR]
      var sig = (0L, 0L)
      val fed = feed(StreamJobs.intervalOverlapStream(cl.toDF(), cr.toDF(),
          "ol_id", "ol_lo", "ol_hi", "or_id", "or_lo", "or_hi",
          bucketWidthMs = 32L, maxSpanMs = 16L, delay = "1 hour",
          saltLeft = sl, saltRight = sr)
        .writeStream.outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) =>
          val (c, x) = pairSig(b)
          sig = (sig._1 + c, sig._2 ^ x)
        }.start(), 2) { b =>
        val ids = (b * C / 2 until (b + 1) * C / 2).map(_.toLong)
        cl.addData(ids.map(OvL(_, cLo, cHi)))
        cr.addData(ids.map(i => OvR(10000L + i, cLo, cHi)))
      }(())
      (sig, fed.bytes.last, fed.rows.last)
    }
    val (s0, b0, k0) = ladder(1, 1)
    val (s1, b1, k1) = ladder(16, 1)
    val (s2, b2, k2) = ladder(4, 4)
    assert(s0._1 === C.toLong * C, "the crowd must pair all-to-all")
    assert(s1 === s0 && s2 === s0, s"salt changed the answer: $s0 $s1 $s2")
    assert((k0, k1, k2) === ((1L, 16L, 16L)), "crowd placement keys")
    assert(b1 / k1 * 20 <= b0 / k0 * 13, s"1-D per-key state should drop " +
      s"to ~0.53 of the single key: ${b1 / k1} vs ${b0 / k0} bytes/key")
    assert(b2 / k2 * 5 <= b0 / k0 * 2, s"2-D per-key state should drop " +
      s"to ~0.25 of the single key: ${b2 / k2} vs ${b0 / k0} bytes/key")
    assert(b2 < b1, s"the grid should buffer less than 1-D: $b2 vs $b1")
  }

  test("stream-stream interval overlap: an over-span row fails loudly") {
    // a span past maxSpanMs would outlive the state-eviction horizon
    // and silently lose pairs — the operator must raise instead
    implicit val sc = spark.sqlContext
    val lSrc = MemoryStream[OvL]
    val rSrc = MemoryStream[OvR]
    val q = StreamJobs.intervalOverlapStream(lSrc.toDF(), rSrc.toDF(),
        "ol_id", "ol_lo", "ol_hi", "or_id", "or_lo", "or_hi",
        bucketWidthMs = 10000L, maxSpanMs = 15000L)
      .writeStream.format("memory").queryName("ovs_guard")
      .outputMode("append").start()
    lSrc.addData(OvL(1, t("2021-03-21 10:00:00"), t("2021-03-21 10:05:00")))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("maxSpanMs")),
      s"error should name the knob: ${messages(e)}")
  }

  test("socket line ingest: live TCP endpoint, parse + corrupt channel") {
    // S1 end-to-end IN-SANDBOX: a real TCP server feeds JSON lines
    // (one good, one truncated, one good) through real micro-batches
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val writer = new Thread(() => {
      val s = server.accept()
      val w = new java.io.PrintWriter(s.getOutputStream, true)
      w.println("""{"mid":1,"ch":"app"}""")
      w.println("""{"mid":2,"ch":""")          // truncated → corrupt channel
      w.println("""{"mid":3,"ch":"web"}""")
      w.flush()
      Thread.sleep(60000); s.close()            // keep the pipe open
    })
    writer.setDaemon(true)
    writer.start()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("mid", "long").add("ch", "string")
    val q = StreamJobs.socketLogStream(spark, "localhost", port, schema)
      .select(col("log.mid").as("mid"), col("log.ch").as("ch"),
        col("is_corrupt"))
      .writeStream.format("memory").queryName("sock_out")
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis + 60000
      while (spark.table("sock_out").count() < 3 &&
        System.currentTimeMillis < deadline) Thread.sleep(250)
    } finally {
      q.stop()
      server.close()
    }
    val rows = spark.table("sock_out")
      .as[(Option[Long], Option[String], Int)].collect()
    assert(rows.length === 3, s"expected 3 ingested lines, got ${rows.toSeq}")
    assert(rows.count(_._3 == 1) === 1, "exactly the truncated line is corrupt")
    assert(rows.filter(_._3 == 0).flatMap(_._1).sorted.toSeq === Seq(1L, 3L))
    assert(rows.filter(_._3 == 0).flatMap(_._2).sorted.toSeq ===
      Seq("app", "web"))
  }

  test("kafka source construction resolves up to the missing connector") {
    // the sandbox ships no spark-sql-kafka jar: the production path
    // must fail AT SOURCE RESOLUTION (proving the format/options wiring
    // is real), not at option validation or analysis
    val schema = spark.read.parquet(s"$Sf/events.parquet").schema
    val err = intercept[Exception] {
      StreamJobs.kafkaJsonStream(spark, "broker:9092", "ods_base_log", schema)
    }
    assert(err.getMessage.toLowerCase.contains("kafka"),
      s"expected connector-resolution failure, got: ${err.getMessage}")
  }

  test("flatMapGroupsWithState is_new repair matches the batch window form") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = StreamJobs.isNewRepair(src.toDF())
      .writeStream.format("memory").queryName("inr_out")
      .outputMode("append").start()
    src.addData(fixture: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("inr_out")
      .select("event_id", "is_new").as[(Long, Int)].collect().toMap
    // mid 1 first seen 2021-03-21: events 1,2,3 that day are new, 5 (next
    // day) is not; mid 2's only event is new
    assert(got == Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 1, 5L -> 0))
  }

  test("streaming session bounces agree with the batch lag/lead operator") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = StreamJobs.sessionBounces(src.toDF())
      .writeStream.format("memory").queryName("sb_out")
      .outputMode("append").start()
    src.addData(fixture: _*)
    q.processAllAvailable()
    src.addData(sentinel)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sb_out")
      .filter(col("mid") =!= 999)
      .select("mid", "session_start").as[(Long, Timestamp)].collect().toSet
    // batch truth via the same session_window expression (unified API)
    val batch = StreamJobs.sessionBounces(fixture.toDF())
      .select("mid", "session_start").as[(Long, Timestamp)].collect().toSet
    assert(streamed == batch)
    // and the lag/lead JumpDetect formulation agrees: events 3, 4, 5
    // are isolated; 1-2 session; day boundary separates 3 from 5
    assert(batch.map(_._1).toSeq.sorted == Seq(1L, 1L, 2L).sorted ||
      batch.size == 3)
  }

  test("streamed curation projections match their batch operators") {
    // ingest-time curation: the stateless mixture-sampling and quality
    // projections run UNCHANGED on the documents file stream
    val mixQ = graft.llm.CorpusOps
      .mixtureSampleOf(StreamJobs.documentsStream(spark, Sf))
      .writeStream.format("memory").queryName("mix_stream_out")
      .outputMode("append").start()
    mixQ.processAllAvailable()
    mixQ.stop()
    val mixStreamed = spark.table("mix_stream_out")
      .as[(Long, String, Long, Long, Int)].collect().toSet
    val mixBatch = graft.llm.CorpusOps.mixtureSampleOf(Tables.documents(spark, Sf))
      .as[(Long, String, Long, Long, Int)].collect().toSet
    assert(mixStreamed == mixBatch && mixStreamed.nonEmpty)

    val qQ = graft.llm.TextAnalysis
      .qualityOf(StreamJobs.documentsStream(spark, Sf))
      .writeStream.format("memory").queryName("q_stream_out")
      .outputMode("append").start()
    qQ.processAllAvailable()
    qQ.stop()
    val qStreamed = spark.table("q_stream_out")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val qBatch = graft.llm.TextAnalysis.qualityScore(spark, Sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(qStreamed == qBatch && qStreamed.nonEmpty)

    // the round-6 additions are equally stateless: the stratified
    // rate cascade and the sliding-window chunker (a bounded explode
    // is still per-row work — no watermark, no state)
    val stratQ = graft.llm.CorpusOps
      .mixtureSampleStratifiedOf(StreamJobs.documentsStream(spark, Sf))
      .writeStream.format("memory").queryName("strat_stream_out")
      .outputMode("append").start()
    stratQ.processAllAvailable()
    stratQ.stop()
    val stratStreamed = spark.table("strat_stream_out")
      .as[(Long, String, String, Long, Long, Int)].collect().toSet
    val stratBatch = graft.llm.CorpusOps.mixtureSampleStratifiedOf(Tables.documents(spark, Sf))
      .as[(Long, String, String, Long, Long, Int)].collect().toSet
    assert(stratStreamed == stratBatch && stratStreamed.nonEmpty)

    val chunkQ = graft.llm.CorpusOps
      .chunkOf(StreamJobs.documentsStream(spark, Sf))
      .writeStream.format("memory").queryName("chunk_stream_out")
      .outputMode("append").start()
    chunkQ.processAllAvailable()
    chunkQ.stop()
    val chunkStreamed = spark.table("chunk_stream_out")
      .as[(Long, Long, Long, String)].collect().toSet
    val chunkBatch = graft.llm.CorpusOps.chunkOf(Tables.documents(spark, Sf))
      .as[(Long, Long, Long, String)].collect().toSet
    assert(chunkStreamed == chunkBatch && chunkStreamed.nonEmpty)
  }

  test("streamed PII redaction matches the batch operator") {
    // the compliance pass is stateless (regex projection), so it runs
    // UNCHANGED on an ingest stream — here the customer file stream
    // with the same contact-card render as the batch form
    val schema = spark.read.parquet(s"$Sf/customer.parquet").schema
    val cs = spark.readStream.schema(schema)
      .option("pathGlobFilter", "customer.parquet").parquet(Sf)
      .select(col("c_custkey").as("doc_id"),
        expr(graft.llm.Pii.RenderSql).as("text"))
    val q = graft.llm.Pii.piiRedactOf(cs)
      .writeStream.format("memory").queryName("pii_stream_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("pii_stream_out")
      .as[(Long, String, Long)].collect().toSet
    val batch = graft.llm.Pii.piiRedact(spark, Sf)
      .as[(Long, String, Long)].collect().toSet
    assert(streamed == batch && streamed.exists(_._3 > 0))
  }

  test("incremental dedup stream: durable state crosses micro-batches") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stateDir = graft.func.TempDirs.scoped("dedup-state")
    val outDir = graft.func.TempDirs.scoped("dedup-verdicts")
    val q = StreamJobs.incrementalDedupStream(
      mem.toDF().toDF("doc_id", "text"), stateDir, outDir)
    // batch 1: two copies of "a" — lower id wins inside the batch
    mem.addData((1L, "a"), (2L, "b"), (3L, "a"))
    q.processAllAvailable()
    // batch 2: "a" again (now in the snapshot) + a fresh doc
    mem.addData((4L, "a"), (5L, "c"))
    q.processAllAvailable()
    q.stop()
    val v = spark.read.parquet(outDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v(1L) === "kept" && v(2L) === "kept" && v(5L) === "kept")
    assert(v(3L) === "dup_in_batch")
    assert(v(4L) === "dup_of_base",
      "the snapshot must carry batch 1's hashes into batch 2")
    // the durable snapshot holds exactly the distinct kept hashes
    assert(spark.read.parquet(stateDir).distinct().count() === 3)
  }

  test("incremental dedup stream: restart against the same checkpoint " +
      "re-emits nothing and loses nothing") {
    // the exactly-once recovery story §2.10 claims: a query stopped
    // after committed batches and RESTARTED from the same checkpoint
    // must (a) not re-read committed offsets — no duplicate verdicts
    // for already-processed docs, (b) pick up data that arrived while
    // it was down, and (c) see batch-1 hashes in the durable snapshot
    // so cross-restart dedup verdicts stay correct
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stateDir = graft.func.TempDirs.scoped("dedup-rst-state")
    val outDir = graft.func.TempDirs.scoped("dedup-rst-verdicts")
    val ckDir = graft.func.TempDirs.scoped("dedup-rst-ck")
    val src = mem.toDF().toDF("doc_id", "text")

    // ---- incarnation 1: two committed batches, then stop (the kill)
    val q1 = StreamJobs.incrementalDedupStream(src, stateDir, outDir,
      Some(ckDir))
    mem.addData((1L, "a"), (2L, "b"), (3L, "a"))
    q1.processAllAvailable()
    mem.addData((4L, "a"))
    q1.processAllAvailable()
    q1.stop()
    val afterStop = spark.read.parquet(outDir).count()
    assert(afterStop === 4L, "4 verdicts committed before the stop")

    // data arrives WHILE THE QUERY IS DOWN
    mem.addData((5L, "b"), (6L, "d"))

    // ---- incarnation 2: same checkpoint, same dirs
    val q2 = StreamJobs.incrementalDedupStream(src, stateDir, outDir,
      Some(ckDir))
    q2.processAllAvailable()
    q2.stop()

    val v = spark.read.parquet(outDir).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // no loss: every doc has a verdict; no re-emission: exactly one
    assert(v.length === 6, s"one verdict per doc, got ${v.toSeq.sorted}")
    assert(v.map(_._1).distinct.length === 6, "no doc re-emitted")
    val m = v.toMap
    assert(m(1L) === "kept" && m(2L) === "kept" && m(6L) === "kept")
    assert(m(3L) === "dup_in_batch")
    assert(m(4L) === "dup_of_base")
    assert(m(5L) === "dup_of_base",
      "post-restart batch must see pre-restart snapshot hashes")
    // snapshot = distinct kept hashes across both incarnations
    assert(spark.read.parquet(stateDir).distinct().count() === 3L)

    // ---- incarnation 3: restart with NOTHING pending → zero emission
    val q3 = StreamJobs.incrementalDedupStream(src, stateDir, outDir,
      Some(ckDir))
    q3.processAllAvailable()
    q3.stop()
    assert(spark.read.parquet(outDir).count() === 6L,
      "an idle restart must not replay any committed batch")
  }

  test("streaming lake sink: stop/restart exactly-once, replay idempotent, " +
      "one-day prune parity, one file per (day, batch)") {
    import org.apache.spark.sql.types._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val root = graft.func.TempDirs.scoped("lake-sink")
    val ck = graft.func.TempDirs.scoped("lake-sink-ck")
    val src = mem.toDF().toDF("event_id", "ts", "user_id", "event_type")
    def t(s: String) = java.sql.Timestamp.valueOf(s)

    // ---- incarnation 1: two committed batches, then stop (the kill)
    val q1 = StreamJobs.lakeSink(src, root, ck)
    mem.addData((1L, t("2024-01-01 10:00:00"), 7L, "view"),
      (2L, t("2024-01-02 11:00:00"), 8L, "cart"))
    q1.processAllAvailable()
    mem.addData((3L, t("2024-01-01 12:00:00"), 9L, "view"))
    q1.processAllAvailable()
    q1.stop()

    // data arrives WHILE THE QUERY IS DOWN
    mem.addData((4L, t("2024-01-03 09:00:00"), 7L, "buy"))

    // ---- incarnation 2: same checkpoint drains it, replays nothing
    val q2 = StreamJobs.lakeSink(src, root, ck)
    q2.processAllAvailable()
    q2.stop()

    // explicit read schema: pins the partition columns' types (DATE,
    // LONG) independent of inference
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("dt", DateType), StructField("__batch", LongType)))
    def lake() = spark.read.schema(schema).parquet(root)
    val fed = Seq((1L, 7L, "view"), (2L, 8L, "cart"),
      (3L, 9L, "view"), (4L, 7L, "buy"))
    def rows() = lake().select("event_id", "user_id", "event_type")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(rows() === fed,
      "every fed row exactly once across the stop/restart")

    // ---- replay idempotency: foreachBatch is at-least-once, so the
    // per-batch write must converge when the SAME batch id re-runs —
    // write the post-restart batch twice more by hand
    val bid = lake().filter(col("event_id") === 4L)
      .select("__batch").as[Long].head()
    val replay = Seq((4L, t("2024-01-03 09:00:00"), 7L, "buy"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("dt", to_date(col("ts")))
    StreamJobs.lakeBatchWrite(replay, root, bid)
    StreamJobs.lakeBatchWrite(replay, root, bid)
    assert(rows() === fed, "a replayed batch id must not duplicate rows")

    // ---- empty micro-batch (streams fire them to advance watermarks):
    // dynamic overwrite with NO partitions in the data must be a no-op
    // on the lake, not a truncation
    StreamJobs.lakeBatchWrite(replay.filter(lit(false)), root, bid + 1)
    assert(rows() === fed, "an empty batch must leave the lake intact")

    // ---- one-day prune: results match, and dt is a PARTITION filter
    val day = lake().filter(col("dt") === to_date(lit("2024-01-01")))
    day.queryExecution.toRdd.count()
    val planStr = day.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*".r.findFirstIn(planStr).getOrElse("")
    assert(pf.contains("dt"),
      s"the day slice must prune at the directory level:\n$planStr")
    assert(day.select("event_id").as[Long].collect().sorted ===
      Array(1L, 3L))

    // ---- small-files shape: ONE file per (dt, __batch) directory
    val batchDirs = Option(new java.io.File(root).listFiles).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("dt="))
      .flatMap(d => Option(d.listFiles).toSeq.flatten)
      .filter(d => d.isDirectory && d.getName.startsWith("__batch="))
    assert(batchDirs.nonEmpty, "no (dt, batch) directories written")
    val spray = batchDirs
      .map(d => d.getPath -> graft.PlanWalk.dataFiles(d).size)
      .filter(_._2 != 1)
    assert(spray.isEmpty,
      s"repartition(dt) must leave one file per (day, batch): $spray")
  }

  test("streaming HLL registers converge to the batch sketch") {
    // the register table is a streaming-natural aggregate (groupBy
    // bucket, max) — complete mode over the documents file stream must
    // land on exactly the batch registers, because max-merge is the
    // sketch's merge operation (SketchesSpec: half ∪ half = whole)
    val q = graft.llm.Sketches
      .hllSketchOf(StreamJobs.documentsStream(spark, Sf))
      .writeStream.format("memory").queryName("hll_stream_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hll_stream_out")
      .as[(Long, Long)].collect().toMap
    val batch = graft.llm.Sketches.hllSketchOf(Tables.documents(spark, Sf))
      .as[(Long, Long)].collect().toMap
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("stream-static enrichment: broadcast dim join matches batch") {
    // the remaining standard streaming join: a static dimension
    // broadcast against each micro-batch (the streaming face of the
    // reference's async dim lookups) — per-batch planning re-reads
    // the static side, and the result must equal the batch join
    val dim = graft.Tables.customer(spark, Sf)
      .select(col("c_custkey"), col("c_nationkey"))
    val q = StreamJobs.eventsStream(spark, Sf)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("ss_join_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ss_join_out")
      .as[(Long, Long)].collect().toSet
    val batch = graft.Tables.events(spark, Sf)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy("c_nationkey").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toSet
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("streamed CDC chunking matches the batch chunker") {
    // the boundary scan is per-row (stateless flatMap) — it runs on
    // the documents file stream unchanged, ingest-time chunking
    val q = graft.llm.Segmentation
      .cdcChunksOf(StreamJobs.documentsStream(spark, Sf))
      .writeStream.format("memory").queryName("cdc_stream_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cdc_stream_out")
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = graft.llm.Segmentation.cdcChunksOf(Tables.documents(spark, Sf))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("streaming grouped HLL registers match the batch register table") {
    // the per-key register store is the streaming UV state a 100 TB
    // job keeps instead of exact per-key sets; complete mode over the
    // events file stream must converge to the batch registers
    val q = graft.llm.Sketches
      .uvRegistersOf(StreamJobs.eventsStream(spark, Sf))
      .writeStream.format("memory").queryName("uvreg_stream_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("uvreg_stream_out")
      .as[(String, Long, Long)].collect().toSet
    val batch = graft.llm.Sketches
      .uvRegistersOf(graft.Tables.events(spark, Sf))
      .as[(String, Long, Long)].collect().toSet
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("streaming hq sketch converges to the batch histogram") {
    // the add-mergeable histogram is a grouped count over a PURE
    // projection (scoredByLang carries lang through qualityOf — no
    // self-join), so the batch body runs unchanged as a streaming
    // complete-mode aggregate; the bin counts are the bounded state
    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (Option(r.getString(0)), r.getAs[Long]("bin"))
        -> r.getAs[Long]("ct")).toMap
    val q = graft.llm.Sketches
      .hqSketchOf(StreamJobs.documentsStream(spark, Sf))
      .writeStream.format("memory").queryName("hq_stream_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = toMap(spark.table("hq_stream_out").collect())
    val batch = toMap(graft.llm.Sketches
      .hqSketchOf(graft.Tables.documents(spark, Sf)).collect())
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("session_window sessions agree with the batch lag-based sessionize") {
    // the same 30-minute gap notion, two formulations: streaming
    // session_window vs batch lag → flag → running sum. Per-session
    // (user, start_ms, n_events) must be identical.
    implicit val sc = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = src.toDF()
      .withWatermark("ts", "10 seconds")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("start_ms"),
        col("n_events"))
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    src.addData(fixture: _*)
    q.processAllAvailable()
    src.addData(sentinel)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sess_out")
      .filter(col("user_id") =!= 999)
      .as[(Long, Long, Long)].collect().toSet
    val batch = graft.ads.EventFlows.sessionizeOf(
        fixture.toDF().withColumn("event_id", col("event_id")))
      .select(col("user_id"), col("start_ms"), col("n_events"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("streamed funnel state machine matches the batch join-chain funnel") {
    implicit val sc = spark.sqlContext
    // in-order single batch: the keyed state machine must land on the
    // same first-touch stage timestamps as the batch min/join form
    val src = MemoryStream[Ev]
    val q = StreamJobs.funnelState(src.toDF())
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    val rows = Seq(
      Ev(1, 1, "click", 0, t("2021-03-21 09:00:00")), // pre-view click: orphan
      Ev(2, 1, "view", 0, t("2021-03-21 10:00:00")),
      Ev(3, 1, "click", 0, t("2021-03-21 10:05:00")),
      Ev(4, 1, "click", 0, t("2021-03-21 10:07:00")), // later click ignored
      Ev(5, 1, "purchase", 0, t("2021-03-21 10:10:00")),
      Ev(6, 2, "view", 0, t("2021-03-21 10:00:00")),
      Ev(7, 2, "purchase", 0, t("2021-03-21 10:01:00")), // no click: stops at 1
      Ev(8, 3, "purchase", 0, t("2021-03-21 10:00:00"))) // nothing viewed
    src.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("funnel_out")
      .as[(Long, Option[Long], Option[Long], Option[Long], Int)]
      .collect().map(r => r._1 -> r).toMap
    val batch = graft.ads.EventFlows.funnelOf(rows.toDF())
      .as[(Long, Option[Long], Option[Long], Option[Long], Int)]
      .collect().map(r => r._1 -> r).toMap
    assert(streamed === batch)
    assert(batch(1L)._5 === 3 && batch(2L)._5 === 1 && batch(3L)._5 === 0)

    // cross-batch: state carries — a purchase arriving in a LATER
    // micro-batch completes the funnel opened earlier
    val src2 = MemoryStream[Ev]
    val q2 = StreamJobs.funnelState(src2.toDF())
      .writeStream.format("memory").queryName("funnel_out2")
      .outputMode("append").start()
    src2.addData(Ev(1, 7, "view", 0, t("2021-03-21 10:00:00")),
      Ev(2, 7, "click", 0, t("2021-03-21 10:01:00")))
    q2.processAllAvailable()
    src2.addData(Ev(3, 7, "purchase", 0, t("2021-03-21 10:02:00")))
    q2.processAllAvailable()
    q2.stop()
    val last = spark.table("funnel_out2").as[(Long, Option[Long], Option[Long], Option[Long], Int)]
      .collect().maxBy(_._5)
    assert(last._5 === 3, "state persisted across micro-batches")
  }
}
