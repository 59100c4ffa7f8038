package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-Streaming variants of the stateful operators (§2.10) —
  * the additive layer SURVEY §7.1 deferred. Each job is a pure
  * DataFrame → DataFrame transform, source-agnostic: tests drive them
  * from a MemoryStream, production from `readStream` (Kafka or files);
  * the SAME transform body also runs in batch (Spark's unified API),
  * which is how the specs prove parity with the batch operators.
  *
  * Reference semantics carried over (gmall-time/...):
  *  - event time + bounded out-of-orderness 3 s
  *    (app/dws2/VisitorStatsApp.java:192) → `withWatermark("ts","3 seconds")`
  *  - 10 s tumbling windows (VisitorStatsApp.java:213) → `window()`
  *  - UV dedup keyed state with 1-day TTL (app/dwm2/UV2.java:77-78) →
  *    `dropDuplicatesWithinWatermark` on (mid, day) under a 1-day
  *    watermark, so dedup state is EVICTED as the watermark advances
  *    (a plain `dropDuplicates` whose keys exclude the event-time
  *    column would keep state forever)
  *  - CEP bounce with 10 s timeout (app/dwm/UserJumpDetailApp.java:89-148)
  *    → `session_window`: a bounce is exactly a session containing one
  *    event, and the timeout side-output becomes the session close
  */
object StreamJobs {
  /** S2/S3 production source: the real Kafka construction
    * (reference MyKafkaUtil.java:21-27 consumer / BaseDBApp2.java:49
    * SQL-table form). Returns (key, value, topic, partition, offset,
    * timestamp, log) — the raw Kafka metadata columns plus the value
    * parsed by `schema` into a `log` struct —
    * the SAME downstream transforms as [[eventsStream]] run on it
    * unchanged, which is what makes every streaming job here
    * source-agnostic. The sandbox has neither a broker nor the
    * spark-sql-kafka connector jar, so `load()` throws at source
    * resolution there (asserted as such in StreamingSpec); on a
    * cluster with the connector this is the deployment path.
    * `startingOffsets=earliest` mirrors the reference's
    * committed-offset bootstrap. */
  def kafkaJsonStream(spark: SparkSession, brokers: String, topic: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
      .select(
        col("key").cast("string").as("key"),
        col("value").cast("string").as("value"),
        col("topic"), col("partition"), col("offset"),
        col("timestamp"),
        from_json(col("value").cast("string"), schema).as("log"))

  /** S1: network line ingest — the engine-side equivalent of the
    * reference's logger tier (LoggerController.java:19-24: receive a
    * JSON payload per request, forward to `ods_base_log`). The
    * transport here is Spark's built-in line-per-record socket source
    * (the HTTP server itself is an app-tier concern the reference
    * also keeps outside its Flink jobs); each line is parsed with the
    * same corrupt-tolerant `from_json` as [[kafkaJsonStream]], so the
    * downstream demux/sink path is source-agnostic. `is_corrupt`
    * preserves undroppable malformed lines for the reject channel
    * (JsonLines source convention). Live-socket end-to-end is
    * asserted in StreamingSpec (real TCP server, real micro-batches);
    * production swaps the socket for the Kafka source with the same
    * output shape. */
  def socketLogStream(spark: SparkSession, host: String, port: Int,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    // same PERMISSIVE + corrupt-column contract as the JsonLines file
    // source — malformed lines survive as data, not exceptions
    val withCorrupt = schema.add("_corrupt_record",
      org.apache.spark.sql.types.StringType)
    spark.readStream.format("socket")
      .option("host", host)
      .option("port", port)
      .load()
      .select(col("value"),
        from_json(col("value"), withCorrupt,
          Map("mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> "_corrupt_record")).as("log"))
      .withColumn("is_corrupt",
        when(col("log._corrupt_record").isNotNull, 1).otherwise(0).cast("int"))
  }

  /** File-source stream over the events table (batch stand-in for the
    * reference's Kafka `ods_base_log`). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // same fail-fast TZ contract as Tables.events (normalizeTs's
    // TIMESTAMP_NTZ fallback is session-TZ-dependent)
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "eventsStream requires spark.sql.session.timeZone=UTC")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // the file source wants a directory; glob-filter to the events file
    graft.Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** File-source stream over the documents table (stand-in for the
    * ingest topic a live corpus pipeline consumes). The LLM curation
    * projections ([[graft.llm.CorpusOps.mixtureSampleOf]],
    * [[graft.llm.TextAnalysis.qualityOf]], `langIdOf`) are stateless
    * single-select transforms, so they run on this stream UNCHANGED —
    * ingest-time filtering with no watermark, no state, no shuffle;
    * each micro-batch is embarrassingly parallel. Batch/stream parity
    * is asserted in StreamingSpec. */
  def documentsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
  }

  /** T2 streaming: daily unique visitors. Same SET as the batch
    * row_number()==1 formulation, emitted at first sighting. A (mid,
    * day) duplicate's event times are at most one day apart, so the
    * 1-day watermark delay covers every in-watermark duplicate AND
    * bounds the state: dropDuplicatesWithinWatermark evicts each key
    * once the watermark passes it (dropDuplicates on keys that exclude
    * the event-time column would grow state forever). */
  def uvDedup(events: DataFrame): DataFrame =
    events
      .withColumn("dt", to_date(col("ts")))
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("user_id", "dt")
      .select(col("user_id").as("mid"), col("dt"))

  /** A1 streaming: 10 s tumble × (ar, ch) with 3 s disorder bound. */
  def visitorTumble(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "3 seconds")
      .groupBy(
        window(col("ts"), "10 seconds"),
        (col("user_id") % 10).as("ar"),
        col("event_type").as("ch"))
      .agg(
        count(lit(1)).as("pv_ct"),
        sum(col("value")).as("dur_sum"))
      .select(col("window.start").as("stt"), col("ar"), col("ch"),
        col("pv_ct"), col("dur_sum"))

  /** T1 streaming: new/old-visitor flag repair with explicit keyed
    * state — `flatMapGroupsWithState` holding the first-seen date per
    * mid, the direct translation of the reference's `ValueState`
    * (BaseLogApp2.java:73-113). Batches are processed in arrival
    * order (within a batch, events are sorted by event time), so a
    * record claims is_new=1 only while its day matches the earliest
    * day the state has seen — the streaming twin of the batch
    * min-date-over-window formulation.
    *
    * Memory bound: `rows.toSeq.sortBy` materializes one (mid × batch)
    * group — deliberate, and safe because a single device emits at
    * most a few hundred events per micro-batch (the reference's
    * per-mid ValueState makes the same assumption); a pathological
    * producer would need the sort dropped in favor of arrival order,
    * trading exactness of within-batch ordering for O(1) memory. */
  def isNewRepair(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    case class In(event_id: Long, user_id: Long, dt: java.sql.Date)
    val typed = events
      .select(col("event_id"), col("user_id"), to_date(col("ts")).as("dt"))
      .as[(Long, Long, java.sql.Date)]
    typed.groupByKey(_._2)
      .flatMapGroupsWithState[String, (Long, Long, String, Int)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (mid, rows, state: GroupState[String]) =>
          val sorted = rows.toSeq.sortBy(r => (r._3.toString, r._1))
          sorted.iterator.map { case (eventId, _, dt) =>
            val day = dt.toString
            val first = state.getOption.getOrElse {
              state.update(day); day
            }
            val firstDay = if (day < first) { state.update(day); day } else first
            (eventId, mid, day, if (day == firstDay) 1 else 0)
          }
      }
      .toDF("event_id", "mid", "dt", "is_new")
  }

  /** A2 streaming: product stats 10 s tumble per sku — the reference's
    * ProductStatsApp as a streaming aggregate. Exact `countDistinct`
    * is unsupported in streaming aggregation (it would carry unbounded
    * per-window sets in state); `approx_count_distinct` HLL sketches
    * merge incrementally in the state store — the streaming twin of
    * the batch `ProductStats.approx` scale path. Input contract:
    * (ship_ts, sku_id, order_id, amount_cents). */
  def productTumble(lineitems: DataFrame): DataFrame =
    lineitems
      .withWatermark("ship_ts", "3 seconds")
      .groupBy(window(col("ship_ts"), "10 seconds"), col("sku_id"))
      .agg(
        count(lit(1)).as("click_ct"),
        approx_count_distinct(col("order_id")).as("order_ct"),
        sum(col("amount_cents")).as("order_amount_cents"))
      .select(col("window.start").as("stt"), col("sku_id"),
        col("click_ct"), col("order_ct"), col("order_amount_cents"))

  /** J1/J2 streaming: STREAM-STREAM interval join — the Structured
    * Streaming twin of the reference's Flink `intervalJoin`
    * (OrderWideApp2.java order×detail ±5 s, PaymentWideApp payment×
    * order [-30 min, 0]). Both sides carry event-time watermarks and
    * the join predicate is an equi-key plus a time-range bound, which
    * is exactly the shape Spark's state-store eviction needs.
    *
    * Column contract: `left` has (lkey, lts) + payload, `right` has
    * (rkey, rts) + payload, all four names distinct; emits the inner
    * join where rts ∈ [lts - lo, lts + hi] (J1 passes the same bound
    * twice). The window may be asymmetric, which is J2's TRUE shape:
    * the reference's payment×order join looks BACK only
    * (PaymentWideApp2.java:76 `between(-30 min, 0)` — a payment can
    * follow its order by up to 30 minutes, never precede it), and a
    * symmetric ±30 min bound would both buffer twice the state and
    * admit payments before their order. Spark's state eviction reads
    * the bounds off the join predicate: each side's buffered rows
    * drop once the watermark passes its bound + delay, so state is
    * O(rate × (lo + hi + delay)), never unbounded. The same transform
    * body runs in batch (unified API); StreamingSpec holds batch
    * parity, the state bound and the plateau. */
  def intervalJoinBounds(left: DataFrame, right: DataFrame,
      lkey: String, rkey: String, lts: String, rts: String,
      lo: String, hi: String, delay: String = "1 minute"): DataFrame =
    left.withWatermark(lts, delay)
      .join(right.withWatermark(rts, delay),
        col(lkey) === col(rkey) &&
        col(rts) >= col(lts) - expr(s"INTERVAL $lo") &&
        col(rts) <= col(lts) + expr(s"INTERVAL $hi"))

  /** Buffered state for one key of the streaming as-of family
    * ([[asOfLatest]], [[asOfNext]], [[asOfNearest]]): left rows
    * (ms, id) not yet final and the right rows (ms, payload) that can
    * still win a future lookup. */
  case class AsOfBuf(lefts: Seq[(Long, Long)],
                     rights: Seq[(Long, Option[Long])])

  /** Saturating epoch-ms add/sub shared by the as-of family's
    * deadline / TTL / prune-horizon arithmetic (b >= 0 in all
    * callers). One definition on purpose: r15 shipped a wrap-negative
    * bug in exactly this idiom, and three hand copies would have to
    * stay in lockstep. */
  private def satAddMs(a: Long, b: Long): Long =
    if (a > Long.MaxValue - b) Long.MaxValue else a + b
  private def satSubMs(a: Long, b: Long): Long =
    if (a < Long.MinValue + b) Long.MinValue else a - b

  /** A direction's finality step for one key: which lefts are final
    * (by left time), a final left's payload, the rights kept for later
    * triggers (the prune), and the event-time timer for the still
    * pending left times (None arms none; only asked when the key's
    * state is kept, and every timer must exceed the watermark). */
  private case class AsOfStep(ripe: Long => Boolean,
      answer: Long => Option[Long], kept: Seq[(Long, Option[Long])],
      timer: Seq[Long] => Option[Long])

  /** The keyed-state driver of the streaming as-of family. Spark has
    * no native stream-stream as-of (the one-sided time bound defeats
    * the interval-join eviction rule), so both sides union into one
    * keyed stream under one watermark. Per trigger and key it loads
    * the state, appends the new rows and hands `step` the watermark,
    * the state as LOADED, every buffered left (loaded + new), the
    * rights sorted by time and whether the key's timer fired; it emits
    * the lefts `step` calls ripe in (time, id) order, then drops the
    * state (nothing pending or kept) or stores (pending, kept) and
    * arms `step`'s timer, which flushes keys the input goes quiet on.
    *
    * Shared contract, the streaming twin of the batch one: non-null
    * LONG keys and ids, timestamp event times; right unique per
    * (key, ts); ties (rts == lts) match; each side arrives in its own
    * event-time order within the watermark delay (the §r13(e) harness
    * rule). Emission is watermark-final (append, no retractions) as
    * (k, left_id, ts_ms, payload); StreamingSpec asserts batch parity
    * with [[graft.operators.AsOf.asOfDirection]] for every direction. */
  private def asOfKeyed(left: DataFrame, right: DataFrame,
      lkey: String, rkey: String, lts: String, rts: String,
      leftId: String, payload: String, delay: String)(
      step: (Long, AsOfBuf, Seq[(Long, Long)], Seq[(Long, Option[Long])],
        Boolean) => AsOfStep): DataFrame = {
    import left.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val l = left.select(col(lkey).as("k"), col(lts).as("ts"),
      lit(1).as("side"), col(leftId).as("lid"),
      lit(null).cast("long").as("p"))
    val r = right.select(col(rkey).as("k"), col(rts).as("ts"),
      lit(0).as("side"), lit(0L).as("lid"), col(payload).as("p"))
    l.unionByName(r)
      .withWatermark("ts", delay)
      .select(col("k"), col("ts"), unix_millis(col("ts")).as("ms"),
        col("side"), col("lid"), col("p"))
      .as[(Long, java.sql.Timestamp, Long, Int, Long, Option[Long])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AsOfBuf, (Long, Long, Long, Option[Long])](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (k, rows, state: GroupState[AsOfBuf]) =>
          val st = state.getOption.getOrElse(AsOfBuf(Nil, Nil))
          var lefts = st.lefts
          var rights = st.rights
          rows.foreach { case (_, _, ms, side, lid, p) =>
            if (side == 1) lefts +:= ((ms, lid)) else rights +:= ((ms, p))
          }
          val s = step(state.getCurrentWatermarkMs(), st, lefts,
            rights.sortBy(_._1), state.hasTimedOut)
          val (ripe, pending) = lefts.partition { case (lt, _) => s.ripe(lt) }
          val out = ripe.sortBy(identity).map { case (lt, lid) =>
            (k, lid, lt, s.answer(lt))
          }
          if (pending.isEmpty && s.kept.isEmpty) state.remove()
          else {
            state.update(AsOfBuf(pending, s.kept))
            s.timer(pending.map(_._1)).foreach(state.setTimeoutTimestamp)
          }
          out.iterator
      }
      .toDF("k", "left_id", "ts_ms", "payload")
  }

  /** STREAMING as-of join — the unbounded-lower limit of the J1/J2
    * interval-join family ([[intervalJoinBounds]]), completing the
    * as-of operator's third tier beside the batch composition
    * ([[graft.operators.AsOf.asOf]]) and the custom-plan merge exec
    * ([[graft.plans.NativeAsOf]]): every left row gains the payload of
    * the LATEST right row at-or-before its event time within its key
    * (null when none precedes it). Runs on [[asOfKeyed]] (contract
    * there).
    *
    * Finality: a left row is final once the watermark passes its event
    * time — only then is the right side COMPLETE at-or-before that
    * instant. Rights prune to the single latest at-or-before the
    * watermark plus everything after it (an older right can never win
    * again: any future left's time is at least the watermark).
    *
    * State shape: O(rate × delay) transient rows per side plus ONE
    * retained right row per key — the point-in-time dimension residue
    * every as-of lookup must keep (same floor as the reference's
    * Phoenix dim cache), NOT event-count growth.
    *
    * `idleTtlMs` (0 = off, the default): the one-right-per-key
    * dimension residue is correct to keep FOREVER for dimension-like
    * key spaces, but under a churning/rotating key domain (e.g.
    * session ids) it is unbounded growth for keys that will never be
    * looked up again. With a positive TTL, a key whose state is down
    * to the residue alone (no pending lefts, no in-flight rights) is
    * evicted once the watermark advances `idleTtlMs` past its last
    * activity. Semantics trade-off, by design: a left arriving for an
    * evicted key matches NULL instead of the forgotten payload — pick
    * a TTL ≫ the watermark delay so only genuinely dead keys pay it. */
  def asOfLatest(left: DataFrame, right: DataFrame,
      lkey: String, rkey: String, lts: String, rts: String,
      leftId: String, payload: String,
      delay: String = "1 minute", idleTtlMs: Long = 0L): DataFrame =
    asOfKeyed(left, right, lkey, rkey, lts, rts, leftId, payload, delay) {
      (wm, loaded, lefts, rights, timedOut) =>
        // prune: of the rights at-or-before the watermark only the
        // LATEST can ever win again (future lefts are >= wm)
        val (closed, open) = rights.partition(_._1 <= wm)
        // idle-key eviction. The timer firing is NOT enough: the
        // FLUSH timer (armed on the earliest pending left) also sets
        // it, and evicting on that firing would forget the residue
        // the instant the last left drains — the LOADED state's lefts
        // empty is what proves the timer that fired was the idle one,
        // armed a full idleTtlMs ago
        val idle = idleTtlMs > 0 && timedOut && loaded.lefts.isEmpty &&
          lefts.forall(_._1 <= wm) && open.isEmpty
        AsOfStep(
          ripe = _ <= wm,
          answer = lt => rights.takeWhile(_._1 <= lt).lastOption.flatMap(_._2),
          kept = if (idle) Nil else closed.takeRight(1) ++ open,
          timer = pending =>
            // flush quiescent keys when the watermark passes their
            // earliest pending left (> wm: it is not ripe)
            if (pending.nonEmpty) Some(pending.min)
            // arm the idle clock (saturating: a near-MaxValue "never
            // evict" TTL must not wrap negative and evict instantly);
            // any new data invocation re-arms it
            else if (idleTtlMs > 0) Some(satAddMs(wm, idleTtlMs))
            else None)
    }

  /** STREAMING forward as-of with tolerance — the streaming twin of
    * [[graft.operators.AsOf.asOfDirection]]("forward", tol): every
    * left row gains the payload of the EARLIEST right row in
    * [lt, lt + tol] within its key (null when none arrives by the
    * deadline) — "did this session convert within the attribution
    * window", live. Runs on [[asOfKeyed]] (contract there).
    *
    * Finality: a buffered candidate at time rt is the answer once
    * wm ≥ rt — any unseen right with an earlier time would be late by
    * definition; with no candidate the answer is final null once
    * wm ≥ lt + tol. So each pending left's deadline is
    * min(candidate rt, lt + tol) and the event-time timer arms on the
    * key's earliest deadline (every deadline is > wm while the left
    * is pending, satisfying the timer contract).
    *
    * State: unlike the backward join's one-right-per-key dimension
    * residue ([[asOfLatest]]), the forward direction keeps NO residue
    * — a right at-or-before the watermark can never match a future
    * left (lt ≥ wm ⇒ rt ≥ lt ≥ wm), so rights prune to rt ≥ wm and
    * the whole state is O(rate × (tol + delay)) transient rows,
    * vanishing entirely on quiet keys. */
  def asOfNext(left: DataFrame, right: DataFrame,
      lkey: String, rkey: String, lts: String, rts: String,
      leftId: String, payload: String, tolMs: Long,
      delay: String = "1 minute"): DataFrame = {
    require(tolMs >= 0, s"negative tolerance $tolMs")
    asOfKeyed(left, right, lkey, rkey, lts, rts, leftId, payload, delay) {
      (wm, _, _, rights, _) =>
        // saturating lt + tol: the batch twin's "no bound" default
        // is toleranceMs = Long.MaxValue, and a wrapped-negative
        // deadline would flush every left as an instant null
        def deadline(lt: Long): Long = satAddMs(lt, tolMs)
        // earliest buffered right in the left's window, if any —
        // memoized: rights are fixed for the rest of this trigger and
        // the ripe / answer / timer passes each consult the same
        // lefts (O(lefts × rights) once, not three times, per trigger)
        val candMemo = scala.collection.mutable.HashMap
          .empty[Long, Option[(Long, Option[Long])]]
        def candOf(lt: Long): Option[(Long, Option[Long])] =
          candMemo.getOrElseUpdate(lt,
            rights.find(r => r._1 >= lt && r._1 <= deadline(lt)))
        // no residue: rights at-or-before the watermark are dead for
        // every possible future left
        val kept = rights.filter(_._1 >= wm)
        AsOfStep(
          ripe = lt => candOf(lt).exists(_._1 <= wm) ||
            (candOf(lt).isEmpty && wm >= deadline(lt)),
          answer = lt => candOf(lt).flatMap(_._2),
          kept = kept,
          timer = pending => Some(
            if (pending.nonEmpty) pending.map { lt =>
              candOf(lt).map(_._1).getOrElse(Long.MaxValue).min(deadline(lt))
            }.min
            // rights-only key: without a timer it would never be
            // re-invoked and the buffered rights would leak (the
            // asOfLatest idle-residue hazard, here fully solvable) —
            // fire just past the last kept right, when the prune
            // empties the state
            else kept.map(_._1).max + 1))
    }
  }

  /** STREAMING nearest as-of with tolerance — the streaming twin of
    * [[graft.operators.AsOf.asOfDirection]]("nearest", tol),
    * completing the direction surface (backward = [[asOfLatest]],
    * forward = [[asOfNext]]): every left row gains the payload of the
    * right row minimizing |rt − lt| within [lt − tol, lt + tol] on
    * its key, BACKWARD winning distance ties (the batch contract;
    * null when no right lands in the window). Runs on [[asOfKeyed]]
    * (contract there).
    *
    * Finality: any future right arrives with rt > wm, so its distance
    * to a pending left exceeds wm − lt going forward and the current
    * best (distance d) can only be beaten by some rt in
    * (lt − d, lt + d) — which is entirely at-or-below lt + d. Once
    * wm ≥ lt + d no such right can still arrive (a forward tie at
    * exactly lt + d would lose to the backward pick anyway, and
    * rt > wm ≥ lt + d is strictly worse), so each pending left's
    * deadline is lt + min(d_best, tol) and the event-time timer arms
    * on the key's earliest deadline (deadline > wm while pending,
    * satisfying the timer contract).
    *
    * State: a pending left has lt > wm − tol (it finalizes at
    * deadline ≤ lt + tol), so its window reaches no further back
    * than wm − 2·tol — rights prune to rt > wm − 2·tol and the whole
    * state is O(rate × (2·tol + delay)) transient rows with NO
    * residue, vanishing on quiet keys like [[asOfNext]] (and unlike
    * the backward join's per-key dimension row). The batch twin's
    * Long.MaxValue "no bound" tolerance is accepted but saturates
    * every right-less deadline to never — state then grows with
    * right-less lefts and unpruned rights; production nearest wants a
    * finite window. */
  def asOfNearest(left: DataFrame, right: DataFrame,
      lkey: String, rkey: String, lts: String, rts: String,
      leftId: String, payload: String, tolMs: Long,
      delay: String = "1 minute"): DataFrame = {
    require(tolMs >= 0, s"negative tolerance $tolMs")
    asOfKeyed(left, right, lkey, rkey, lts, rts, leftId, payload, delay) {
      (wm, _, _, rights, _) =>
        // the best in-window right: min distance, backward (rt <=
        // lt) winning ties — stated as min over (distance, rt > lt).
        // Memoized like asOfNext's candOf: rights are fixed for the
        // rest of this trigger and ripe / answer / timer each consult
        // the same lefts
        val bestMemo = scala.collection.mutable.HashMap
          .empty[Long, Option[(Long, Option[Long])]]
        def bestOf(lt: Long): Option[(Long, Option[Long])] =
          bestMemo.getOrElseUpdate(lt, rights
            .filter(r => r._1 >= satSubMs(lt, tolMs) &&
              r._1 <= satAddMs(lt, tolMs))
            .minByOption(r => (math.abs(r._1 - lt), r._1 > lt)))
        def deadline(lt: Long): Long =
          satAddMs(lt, bestOf(lt).map(r => math.abs(r._1 - lt))
            .getOrElse(tolMs))
        // no residue: a pending or future left's window reaches no
        // further back than wm − 2·tol
        val kept =
          rights.filter(_._1 > satSubMs(wm, satAddMs(tolMs, tolMs)))
        AsOfStep(
          ripe = lt => wm >= deadline(lt),
          answer = lt => bestOf(lt).flatMap(_._2),
          kept = kept,
          timer = pending => Some(
            if (pending.nonEmpty) pending.map(deadline).min
            // rights-only key: arm the prune horizon of the last kept
            // right, when the filter above empties the state (the
            // asOfNext leak fix, shifted by the 2·tol window)
            else satAddMs(kept.map(_._1).max, satAddMs(tolMs, tolMs))))
    }
  }

  /** Buffered state for one (bucket, salt group) of
    * [[intervalOverlapStream]]: interval rows per side PACKED as raw
    * longs `[id0, lo0, hi0, id1, lo1, hi1, ...]`, pruned to the
    * watermark − maxSpan horizon. Packed on purpose (r20-VERDICT task
    * 1, guide §5 state/memory): the previous `Seq[(Long, Long, Long)]`
    * state paid a Catalyst array-of-struct encoder on every state
    * read/write — per-element struct writers in, per-element Tuple3
    * allocation out, for every live group in every micro-batch. A
    * primitive `Array[Long]` rides the UnsafeArrayData fast path (one
    * flat copy each way, no per-element objects), and the pair-yield
    * loop indexes it directly. */
  case class OverlapBuf(lefts: Array[Long], rights: Array[Long])

  /** STREAM-STREAM interval-OVERLAP join — completes the range-join
    * family's streaming surface the way [[asOfNearest]] completed
    * as-of: every (left row × right row) pair whose inclusive
    * [lo, hi] intervals intersect, emitted exactly once, live.
    * Spark's built-in stream-stream join cannot express it scalably:
    * the overlap predicate has no equi-key, so the planner falls
    * back to an UNKEYED join with broadcast-or-nested-loop per
    * micro-batch and no state-eviction rule (the time-range analysis
    * that bounds [[intervalJoinBounds]] needs `lts ± bound`, not a
    * pair of interval endpoints). Same device as the batch operator
    * ([[graft.operators.RangeJoin.intervalOverlap]]): intervals
    * explode to the fixed-width buckets they overlap, the bucket id
    * becomes the grouping key for SYMMETRIC keyed state, and a true
    * pair — which meets in every bucket its intersection overlaps —
    * is emitted only from the intersection's FIRST bucket
    * (`floorDiv(max(lLo, rLo), width)`), which both sides are
    * guaranteed to populate. No dedup pass, no cross product.
    *
    * Emission is ON ARRIVAL (inner join, append mode): a pair's
    * condition depends only on its two members, so it is final the
    * moment the later member arrives — no watermark wait, unlike the
    * as-of family whose answers quantify over unseen rows.
    *
    * State shape: a buffered interval can still match a FUTURE
    * arrival only while `hi >= watermark − maxSpan` (a conforming
    * future row has hi ≥ watermark and spans ≤ maxSpan, so its lo is
    * ≥ watermark − maxSpan); both sides prune to that horizon every
    * invocation, making state O(rate × (delay + maxSpan) ×
    * avg-buckets-per-interval) — rate-bounded, never event-count —
    * and an event-time timer sweeps buckets the input goes quiet on
    * (armed at min kept hi + maxSpan + 1 > watermark, the timer
    * contract). StreamingSpec feeds 2× the events at the same batch
    * size and requires the state bytes to stay flat.
    *
    * Contract: LONG ids (unique per side), TIMESTAMP bounds with
    * lo <= hi and span ≤ `maxSpanMs` (violations raise — a silent
    * drop would lose true pairs, the batch span-guard philosophy);
    * null bounds and inverted intervals never match and are dropped;
    * each side arrives in its own event-time (hi) order within the
    * watermark delay. CAVEAT the span guard cannot cover: a row
    * arriving LATER than the watermark delay is dropped by Spark's
    * own pre-stateful late-row filter BEFORE this operator sees it —
    * true pairs are then silently lost, with no error (the guard can
    * only raise on rows it receives). Size `delay` to the source's
    * real out-of-orderness; the observable is the state operator's
    * `numRowsDroppedByWatermark` progress metric, which StreamingSpec
    * requires to read zero so an ordering violation fails a test
    * rather than showing as quietly-missing pairs. Batch parity with
    * the batch operator is asserted in StreamingSpec.
    *
    * VALUE-CROWD rung (`saltLeft`/`saltRight` > 1) — the streaming
    * twin of [[graft.operators.RangeJoin.intervalOverlap]]'s `salt`,
    * closing the batch↔stream asymmetry the r19 round left: a
    * same-range crowd (near-identical intervals on BOTH sides — the
    * SCD2 shape) lands every row in ONE bucket at every width, which
    * here means one FMGWS GROUP: O(crowd) state under a single key
    * and O(crowd²) pair yield in a single task, with no AQE escape
    * (keyed state is hash-placed by group, never size-split). The
    * salt extends the GROUP KEY with a deterministic GRID dimension —
    * 2-D where the batch operator's is 1-D, because streaming has a
    * cost batch does not: per-KEY state. Each left row lands in grid
    * ROW `i = pmod(xxhash64(id), saltLeft)` and replicates across all
    * `saltRight` columns; each right row lands in grid COLUMN
    * `j = pmod(xxhash64(id), saltRight)` and replicates across all
    * `saltLeft` rows (ids are stable row identity by this operator's
    * own contract, so placement survives partial recomputation — the
    * SPARK-23207 discipline). A true pair's two rows share exactly
    * ONE cell, (i_left, j_right), so with the responsibility rule
    * untouched the pair still meets exactly once — the batch
    * operator's proof, one dimension higher. `saltRight = 1` IS the
    * batch form's 1-D split (lefts split, rights replicated).
    *
    * Costs and wins, for a crowd of C per side: per-cell pair work
    * drops to C²/(saltLeft·saltRight); per-KEY state drops to
    * C/saltLeft + C/saltRight (the 1-D form leaves it ~C — the
    * replicated side dominates the key); total state pays the grid
    * replication C·saltRight + C·saltLeft. Placement-only — answers
    * are salt-invariant (spec-asserted). Size the knobs
    * from a batch census of the same feed
    * ([[graft.operators.RangeJoin.autoOverlapMitigation]]'s
    * value-crowd arm, splitting its k ≈ saltLeft·saltRight near-
    * square); the sf corpora are benign, so the board leg runs
    * unsalted and the crowd regime is tested in StreamingSpec
    * (unmitigated vs 1-D vs 2-D ladder: keys and per-key state). */
  def intervalOverlapStream(left: DataFrame, right: DataFrame,
      lId: String, lLo: String, lHi: String,
      rId: String, rLo: String, rHi: String,
      bucketWidthMs: Long, maxSpanMs: Long,
      delay: String = "1 minute", saltLeft: Int = 1,
      saltRight: Int = 1): DataFrame = {
    require(bucketWidthMs >= 1, s"bucket width $bucketWidthMs must be >= 1")
    require(maxSpanMs >= 0, s"max span $maxSpanMs must be >= 0")
    require(saltLeft >= 1 && saltRight >= 1,
      s"salts ($saltLeft, $saltRight) must be >= 1")
    import left.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    def side(df: DataFrame, id: String, lo: String, hi: String,
        tag: Int): DataFrame = {
      val base = df.filter(col(lo).isNotNull && col(hi).isNotNull &&
          col(lo) <= col(hi))
        .select(col(id).cast("long").as("id"),
          unix_millis(col(lo)).as("lo"), col(hi).as("ts"),
          lit(tag).as("side"))
      // the 1×1 grid is the identity: no hash, no generator — the
      // default (unsalted) plan must stay byte-identical to the
      // pre-grid operator on its hot ingest path (review r20)
      if (saltLeft == 1 && saltRight == 1)
        base.withColumn("__s", lit(0))
      else {
        // this side's hashed grid coordinate and replication extent
        // (lefts hash rows/replicate columns; rights the transpose);
        // a generator cannot nest in arithmetic, so the replication
        // coordinate explodes first
        val (hashMod, repl) =
          if (tag == 1) (saltLeft, saltRight) else (saltRight, saltLeft)
        val hashed =
          pmod(xxhash64(col("id")), lit(hashMod.toLong)).cast("int")
        base
          .withColumn("__g", explode(sequence(lit(0), lit(repl - 1))))
          .withColumn("__s",
            if (tag == 1) hashed * saltRight + col("__g")
            else col("__g") * saltRight + hashed)
          .drop("__g")
      }
    }
    val fdiv = graft.operators.RangeJoin.fdiv(_, bucketWidthMs)
    side(left, lId, lLo, lHi, 1)
      .unionByName(side(right, rId, rLo, rHi, 0))
      .withWatermark("ts", delay)
      .withColumn("hi", unix_millis(col("ts")))
      // exact signed floor-division bucket explode, the SAME device
      // as the batch operator (bucket copies bounded by the span
      // guard: ≤ maxSpan/width + 1 per row). The guard raises rather
      // than drops: an over-span interval would outlive the state
      // eviction horizon and silently lose pairs. Column ops, not a
      // typed flatMap — the watermarked `ts` column must SURVIVE to
      // the flatMapGroupsWithState input or the event-time timeout
      // is rejected at analysis.
      .withColumn("__b", explode(sequence(
        when(col("hi") - col("lo") > lit(maxSpanMs), expr(
          "raise_error(concat('interval-overlap stream row ', " +
            "cast(id as string), ' spans ', cast(hi - lo as string), " +
            s"' ms > maxSpanMs $maxSpanMs -- raise maxSpanMs (it is " +
            "the state eviction horizon, so it must bound every " +
            "span)'))").cast("long"))
          .otherwise(expr(fdiv("lo"))),
        expr(fdiv("hi")))))
      .select(col("__b"), col("id"), col("lo"), col("hi"), col("side"),
        col("ts"), col("__s"))
      .as[(Long, Long, Long, Long, Int, java.sql.Timestamp, Int)]
      .groupByKey(r => (r._1, r._7))
      .flatMapGroupsWithState[OverlapBuf, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((bucket, _), rows, state: GroupState[OverlapBuf]) =>
          // raw-long hot path (r20-VERDICT task 1, guide §1.2 per-task
          // work): a crowded bucket yields occupancy² candidate checks
          // per trigger, so the loop indexes packed long arrays with
          // no per-candidate allocation — the previous List/tuple
          // for-comprehension allocated a Tuple3 per buffered row and
          // a cons cell per candidate on exactly this path
          val st = state.getOption.orNull
          val oldL = if (st == null) Array.emptyLongArray else st.lefts
          val oldR = if (st == null) Array.emptyLongArray else st.rights
          val lb = new scala.collection.mutable.ArrayBuilder.ofLong
          val rb = new scala.collection.mutable.ArrayBuilder.ofLong
          rows.foreach { case (_, id, lo, hi, tag, _, _) =>
            val b = if (tag == 1) lb else rb
            b += id; b += lo; b += hi
          }
          val newL = lb.result(); val newR = rb.result()
          val wm = state.getCurrentWatermarkMs()
          val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)]
          // pairs overlap when lLo <= rHi && rLo <= lHi, and emit only
          // in the responsibility bucket: the FIRST bucket of the
          // intersection — there and nowhere else
          def emit(ls: Array[Long], rs: Array[Long]): Unit = {
            var i = 0
            while (i < ls.length) {
              val lLo = ls(i + 1); val lHi = ls(i + 2)
              var j = 0
              while (j < rs.length) {
                val rLo = rs(j + 1)
                if (lLo <= rs(j + 2) && rLo <= lHi &&
                    Math.floorDiv(if (lLo > rLo) lLo else rLo,
                      bucketWidthMs) == bucket)
                  out += ((ls(i), rs(j)))
                j += 3
              }
              i += 3
            }
          }
          // new lefts meet every buffered + new right; buffered lefts
          // meet only the new rights (their pairs with buffered rights
          // were emitted when the later of the two arrived)
          emit(newL, oldR); emit(newL, newR); emit(oldL, newR)
          val horizon = satSubMs(wm, maxSpanMs)
          def keep(neu: Array[Long], old: Array[Long]): Array[Long] = {
            val b = new scala.collection.mutable.ArrayBuilder.ofLong
            b.sizeHint(neu.length + old.length)
            def add(a: Array[Long]): Unit = {
              var i = 0
              while (i < a.length) {
                if (a(i + 2) >= horizon) { b += a(i); b += a(i + 1); b += a(i + 2) }
                i += 3
              }
            }
            add(neu); add(old)
            b.result()
          }
          val keptL = keep(newL, oldL); val keptR = keep(newR, oldR)
          if (keptL.isEmpty && keptR.isEmpty) state.remove()
          else {
            state.update(OverlapBuf(keptL, keptR))
            // sweep this bucket once the watermark passes the point
            // where everything buffered is unmatchable (> wm by the
            // horizon filter above, satisfying the timer contract)
            var minHi = Long.MaxValue
            def scanHi(a: Array[Long]): Unit = {
              var i = 2
              while (i < a.length) { if (a(i) < minHi) minHi = a(i); i += 3 }
            }
            scanHi(keptL); scanHi(keptR)
            state.setTimeoutTimestamp(satAddMs(minHi, maxSpanMs + 1))
          }
          out.iterator
      }
      .toDF("l_id", "r_id")
  }

  /** Funnel streaming: the [[graft.ads.EventFlows.funnelOf]] state
    * machine as keyed state — per user, first `view`, first `click`
    * strictly after it, first `purchase` strictly after that. State is
    * three Option[Long] per user (the reference's per-mid ValueState
    * scale class); each batch emits the user's CURRENT stage
    * timestamps + depth, so the latest row per user is the live funnel
    * position. Within-batch rows are sorted by event time (same
    * bounded-per-batch assumption as [[isNewRepair]]); cross-batch
    * arrival skew is bounded by the source's out-of-orderness. Batch
    * parity with `funnelOf` is asserted in StreamingSpec (unified
    * API: identical transform body). */
  def funnelState(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
      .as[(Long, String, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Option[Long], Option[Long], Option[Long]),
        (Long, Option[Long], Option[Long], Option[Long], Int)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows,
            state: GroupState[(Option[Long], Option[Long], Option[Long])]) =>
          var (v, c, p) = state.getOption.getOrElse((None, None, None))
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, et, ms) =>
            et match {
              case "view" if v.isEmpty => v = Some(ms)
              case "click" if c.isEmpty && v.exists(ms > _) => c = Some(ms)
              case "purchase" if p.isEmpty && c.exists(ms > _) => p = Some(ms)
              case _ =>
            }
          }
          state.update((v, c, p))
          Iterator((uid, v, c, p, v.size + c.size + p.size))
      }
      .toDF("user_id", "view_ms", "click_ms", "purchase_ms", "depth")
  }

  /** Incremental exact dedup as a STREAMING job — the ingest-time
    * deployment shape of [[graft.llm.Dedup.incrementalDedupOf]]: each
    * micro-batch checks its docs against a durable md5 snapshot,
    * writes per-doc verdicts (`kept` / `dup_of_base` /
    * `dup_in_batch`), and appends its novel hashes back to the
    * snapshot. `foreachBatch` because the state must OUTLIVE the
    * query (a restarted stream — or tomorrow's batch job — resumes
    * from the same snapshot directory), which executor-memory state
    * (`mapGroupsWithState`) cannot provide; this is the same
    * durable-upsert shape as the Phoenix dim sink
    * ([[graft.sinks.Sinks]] K3).
    *
    * Scale shape: per batch, ONE equi-join of the (small) delta
    * against the snapshot's distinct-hash column plus a batch-local
    * window on the same key; snapshot grows append-only as parquet —
    * at 100 TB the join's snapshot side prunes to candidate buckets
    * via a bloom pre-filter (the contaminationBloom pattern), and the
    * snapshot files would be bucketed by hash prefix so the append
    * stays partition-local.
    *
    * Restart recovery: pass `checkpointDir` and the query resumes
    * from the last COMMITTED source offset — batches that finished
    * before a stop/crash are not re-read, so their verdicts are not
    * re-emitted, and data added while the query was down is picked up
    * on restart (spec: "incremental dedup stream: restart against the
    * same checkpoint"). The md5 snapshot itself is durable
    * independently of the checkpoint (it outlives the query by
    * design); the checkpoint adds the source-offset half of the
    * exactly-once story. A batch interrupted MID-write is the usual
    * foreachBatch caveat: the parquet append is not transactional
    * with the offset commit, so a hard kill inside a batch can
    * re-emit THAT batch's rows on restart (at-least-once within the
    * interrupted batch; a production sink would dedup on
    * (batch_id, doc_id) or write via a committing table format). */
  def incrementalDedupStream(docs: DataFrame, stateDir: String,
      outDir: String, checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        import org.apache.spark.sql.expressions.Window
        val hashed = batch.select(col("doc_id"), md5(col("text")).as("h"))
        // a committed-but-empty batch leaves only _SUCCESS in the state
        // dir; reading that as parquet throws schema-inference errors,
        // so the existence test must see actual DATA files
        val stateFiles = Option(new java.io.File(stateDir).listFiles())
          .getOrElse(Array.empty)
        val snapshot: DataFrame =
          if (stateFiles.exists(_.getName.endsWith(".parquet")))
            s.read.parquet(stateDir)
          else s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("h",
                org.apache.spark.sql.types.StringType))))
        val inBase = snapshot.distinct().withColumn("in_base", lit(true))
        val w = Window.partitionBy("h").orderBy("doc_id")
        val verdicts = hashed.join(inBase, Seq("h"), "left")
          .withColumn("rn", row_number().over(w))
          .select(col("doc_id"),
            when(col("in_base"), "dup_of_base")
              .when(col("rn") > 1, "dup_in_batch")
              .otherwise("kept").as("verdict"))
        verdicts.write.mode("append").parquet(outDir)
        // novel hashes join the snapshot (kept rows only — dup hashes
        // are already present or carried by their kept twin)
        hashed.join(inBase, Seq("h"), "left")
          .filter(col("in_base").isNull)
          .select("h").distinct()
          .write.mode("append").parquet(stateDir)
      }
    checkpointDir.fold(writer)(d =>
      writer.option("checkpointLocation", d)).start()
  }

  /** Streaming → lake sink: the stream tier writing the
    * dt-partitioned layout ([[graft.sources.PartitionedLake]]) with
    * exactly-once effect. The reference's sinks land each stream in a
    * durable store keyed for the readers downstream
    * (gmall-time/.../app/dwd2/BaseDBApp2.java:74-87 routes by table;
    * ClickHouse/Phoenix sinks rely on engine-side idempotency) — on a
    * plain filesystem lake the equivalent is `foreachBatch` with an
    * IDEMPOTENT per-batch write, because foreachBatch is at-least-once
    * (a batch can replay after a crash-restart from the checkpoint).
    *
    * Idempotency device: every batch writes under its own
    * `__batch=<id>` sub-partition with DYNAMIC partition overwrite —
    * a replay of batch N rewrites exactly the `(dt, __batch=N)`
    * directories it touched and nothing else, so replayed work
    * converges instead of appending duplicates. `dt` stays the
    * OUTER partition, so one-day readers prune at the top level and
    * never see the batch dimension (it projects away).
    *
    * Small-files shape: `repartition(dt)` routes each day of the
    * micro-batch to ONE writer task — one file per (day, batch), the
    * per-batch [[graft.sources.PartitionedLake.compactedLakeDir]]
    * discipline. Files then grow per day at one per batch, not tasks ×
    * days per batch; the day-level compaction pass stays the offline
    * half at 100 TB (streaming writers cannot compact history). */
  def lakeSink(events: DataFrame, root: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.withColumn("dt", to_date(col("ts")))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        lakeBatchWrite(batch, root, id)
      }
      .start()

  /** The idempotent per-batch write half of [[lakeSink]], callable
    * directly so the replay contract is testable without forcing a
    * mid-commit crash: writing the same (batch, id) twice must leave
    * the lake byte-identical. */
  def lakeBatchWrite(batch: DataFrame, root: String, id: Long): Unit =
    batch.withColumn("__batch", lit(id))
      .repartition(col("dt"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("dt", "__batch")
      .parquet(root)

  /** T3 streaming: bounce = session with exactly one event. The same
    * expression runs in batch, where it must agree with the lag/lead
    * JumpDetect formulation (asserted in tests). */
  def sessionBounces(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 seconds")
      .groupBy(
        session_window(col("ts"), gap),
        col("user_id").as("mid"))
      .agg(count(lit(1)).as("event_ct"))
      .filter(col("event_ct") === 1)
      .select(col("mid"), col("session_window.start").as("session_start"))
}
