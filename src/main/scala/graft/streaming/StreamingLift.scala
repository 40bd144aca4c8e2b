package graft.streaming

import graft.Tables.dec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming lift of the event-time operators (SURVEY.md §7 M4).
  *
  * Each function takes *any* events DataFrame — batch or streaming — with
  * columns (event_id, user_id, event_type, value, event_ts:timestamp); on
  * a readStream source Spark runs it incrementally with state in the
  * configured state store. [[tumbling]], [[sliding]], [[session]],
  * [[sessionDynamic]] and [[enrich]] ARE the registered batch plans of
  * t01/t02/t03/t14/t13 (and t06): EventTime runs them on the batch events,
  * where the optimizer's EliminateEventTimeWatermark drops the watermark,
  * so one implementation serves both modes. StreamingSpec drives them
  * through MemoryStream and asserts streaming output == the registered
  * batch query (exactly-once append).
  *
  * Scale posture: watermarks bound state (old windows/sessions are
  * evicted); keys partition the state store, so a 1000-executor cluster
  * shards sessions by user_id with no global coordination.
  */
object StreamingLift {

  def tumbling(events: DataFrame): DataFrame =
    events
      .withWatermark("event_ts", "1 hour")
      .groupBy(window(col("event_ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(unix_millis(col("w.start")).as("win_start_ms"), col("event_type"),
        col("n"), col("sum_value"))

  /** OHLC bars (t17's lift): open/close as struct-ordered min_by/max_by
    * are plain declarative aggregates, so the SAME grouping runs under a
    * watermark in append mode — per-bar state is one (first, last, min,
    * max, sum) tuple, evicted when the watermark passes the hour. */
  def ohlc(events: DataFrame): DataFrame =
    events
      .withWatermark("event_ts", "1 hour")
      .groupBy(window(col("event_ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        min_by(col("value"), struct(col("ts_ms"), col("event_id"))).as("open"),
        max_by(col("value"), struct(col("ts_ms"), col("event_id"))).as("close"),
        max("value").as("high"), min("value").as("low"),
        sum(dec(col("value"))).cast("double").as("volume"))
      .select(col("event_type"), unix_millis(col("w.start")).as("hour_start_ms"),
        col("n"), col("open"), col("close"), col("high"), col("low"),
        col("volume"))

  def session(events: DataFrame): DataFrame =
    events
      .withWatermark("event_ts", "1 hour")
      .groupBy(session_window(col("event_ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("user_id"), unix_millis(col("w.start")).as("session_start_ms"),
        col("n_events"), col("sum_value"))

  /** Dynamic-gap sessions (t14's lift): the merge gap is a per-event
    * expression — clicks cool off in 10 minutes, everything else in 30.
    * session_window accepts the gap as a Column, so the SAME grouping
    * runs batch and streaming; state eviction still follows the
    * watermark because a session's maximum possible end (max event ts +
    * max gap) is known per key. */
  def sessionDynamic(events: DataFrame): DataFrame =
    events
      .withWatermark("event_ts", "1 hour")
      .withColumn("gap",
        when(col("event_type") === "click", lit("10 minutes"))
          .otherwise(lit("30 minutes")))
      .groupBy(session_window(col("event_ts"), col("gap")).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("user_id"),
        unix_millis(col("w.start")).as("session_start_ms"),
        unix_millis(col("w.end")).as("session_end_ms"),
        col("n_events"), col("sum_value"))

  /** Sliding windows (10 min / 5 min hop): each event lands in two
    * windows; the watermark closes both once event time passes. */
  def sliding(events: DataFrame): DataFrame =
    events
      .withWatermark("event_ts", "1 hour")
      .groupBy(window(col("event_ts"), "10 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(unix_millis(col("w.start")).as("win_start_ms"), col("n"), col("sum_value"))

  /** Late-data semantics made visible: windowed count under a SHORT
    * watermark (10 min), so an event arriving after its window's
    * watermark expiry is dropped on the floor — the t04 batch analogue's
    * cutoff, enforced incrementally by the engine. */
  def lateDrop(events: DataFrame): DataFrame =
    events
      .withWatermark("event_ts", "10 minutes")
      .groupBy(window(col("event_ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("w.start")).as("win_start_ms"), col("event_type"), col("n"))

  /** t09's session paths, incremental: session_window keeps per-user
    * open sessions in state; when the watermark passes a session's gap
    * the engine emits it once and the sorted-struct transform renders
    * the ordered path — same array_sort pinning as the batch query, so
    * micro-batch arrival order can't reorder a path. */
  def sessionPaths(events: DataFrame): DataFrame =
    events
      .withWatermark("event_ts", "1 hour")
      .groupBy(session_window(col("event_ts"), "30 minutes").as("w"), col("user_id"))
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(ts_ms, event_id, event_type))), x -> x.event_type)"),
        ">").as("path"))
      .select(col("user_id"), unix_millis(col("w.start")).as("session_start_ms"),
        col("path"))

  /** Exactly-once dedup on event_id within the watermark horizon. */
  def dedup(events: DataFrame): DataFrame =
    events
      .withWatermark("event_ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** t12's sliding distinct, incremental — CHAINED stateful operators
    * (Spark 3.5+ multi-stateful support): the window() generator fans
    * each event into its 6 hourly panes, stateful dropDuplicates holds
    * one (pane, user) key per distinct user per pane (exact distinct is
    * non-mergeable, so the state IS the distinct set — the watermark
    * evicts closed panes), and the downstream windowed count is then an
    * ordinary mergeable agg. State per pane = distinct users, sharded by
    * (pane, user) across executors. */
  def slidingDistinct(events: DataFrame): DataFrame =
    events
      .withWatermark("event_ts", "1 hour")
      .select(window(col("event_ts"), "6 hours", "1 hour").as("w"), col("user_id"))
      .dropDuplicates("w", "user_id")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_users"))
      .select(unix_millis(col("w.start")).as("win_start_ms"), col("n_users"))

  /** w09's growth accounting as a continuous stream: stateful FIRST-SEEN
    * dedup per (type, user) — the dedup keys deliberately exclude the
    * event-time column, so its state is never watermark-evicted: the
    * state IS the known population (exact cumulative distinct is
    * non-mergeable; the population is its own minimal summary) — then an
    * ordinary watermarked daily count of the new users emits per pane.
    * The running total is one tiny prefix sum over the appended
    * (type, day) frame at read time. Bounded-lateness trade, stated: an
    * event later than the watermark misses its pane (the batch-equality
    * spec feeds in event-time order, so none do). */
  def cumulativeDistinct(events: DataFrame): DataFrame =
    events
      .withWatermark("event_ts", "1 hour")
      .dropDuplicates("event_type", "user_id")
      .groupBy(col("event_type"), window(col("event_ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_new"))
      .select(col("event_type"), unix_millis(col("w.start")).as("day_start_ms"),
        col("n_new"))

  /** Stream-static enrichment: the dimension is a plain batch DataFrame;
    * Spark re-broadcasts it per micro-batch. */
  def enrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), col("user_id") === col("c_custkey"))
      .select("event_id", "user_id", "c_name", "c_mktsegment", "value")

  /** Streaming incremental dedup — the l25 daily-ingest shape as a
    * continuous stream. Each arriving document (doc_id, text, doc_ts)
    * probes the STATIC historical exact-hash index (re-broadcast per
    * micro-batch; in production a compact bucketed table), and repeats
    * WITHIN the stream are dropped by stateful first-wins dedup on the
    * content hash, state bounded by the watermark. Corpus never
    * re-shuffles; state is O(distinct hashes inside the horizon). */
  def incrementalDedup(docs: DataFrame, histIndex: DataFrame): DataFrame =
    docs
      .withColumn("h", md5(col("text").cast("binary")))
      .withWatermark("doc_ts", "1 hour")
      .dropDuplicatesWithinWatermark("h")
      .join(broadcast(histIndex), Seq("h"), "left")
      .select(col("doc_id"),
        when(col("hist_id").isNotNull, "exact_dup").otherwise("new").as("status"),
        col("hist_id").as("dup_of"))

  /** Streaming NEAR-dup candidate generation — l02's front half as a
    * continuous stream. Each arriving document (doc_id, text, doc_ts) is
    * band-signed by the map-only [[graft.llm.Llm.withBandSignatures]]
    * (the minhash_sig kernel — a stateless projection, so signing needs NO
    * streaming aggregation), then probes the PERSISTED historical band
    * index ([[graft.llm.Llm.bandIndexOf]] written as a bucketed table;
    * re-broadcast per micro-batch here). A doc sharing several buckets
    * with the same historical doc would emit the pair once per bucket —
    * stateful dedup on (doc_id, hist_id) collapses them, state bounded
    * by the watermark. Candidates feed the same exact-Jaccard verify
    * the batch pass runs; the corpus is never re-shuffled. */
  def nearDupCandidates(docs: DataFrame, bandIndex: DataFrame): DataFrame =
    graft.llm.Llm.withBandSignatures(docs.withWatermark("doc_ts", "1 hour"))
      // flooded buckets are excluded at probe time (cappedBandIndex) —
      // the batch pass caps them too, and an uncapped probe would turn
      // one boilerplate-flood bucket into 10⁶ pairs of state per
      // arriving doc
      .join(broadcast(graft.llm.Llm.cappedBandIndex(bandIndex)
        .select(col("band"), col("m0"), col("m1"),
          col("doc_id").as("hist_id"))), Seq("band", "m0", "m1"))
      .dropDuplicatesWithinWatermark("doc_id", "hist_id")
      .select(col("doc_id"), col("hist_id"))

  /** R14 command→event correlation, stream-stream mode (SURVEY.md §3.2):
    * requests joined to their responses on cid within a bounded response
    * window. BOTH sides carry watermarks and the join predicate bounds
    * resp_ts to [req_ts, req_ts + horizon], so each side's state store
    * evicts rows once the other side's watermark passes the bound —
    * unbounded-state stream joins don't survive a day of 100 TB/day
    * ingest, watermark-bounded ones do.
    */
  def correlate(requests: DataFrame, responses: DataFrame): DataFrame =
    requests.withWatermark("req_ts", "1 hour").alias("c")
      .join(
        responses.withWatermark("resp_ts", "1 hour").alias("e"),
        expr("""e.cid = c.req_id AND
                e.resp_ts >= c.req_ts AND
                e.resp_ts <= c.req_ts + INTERVAL 30 MINUTES"""))
      .select(col("c.req_id").as("req_id"),
        unix_millis(col("c.req_ts")).as("req_ms"),
        unix_millis(col("e.resp_ts")).as("resp_ms"),
        col("e.status").as("status"))

  /** correlate's LEFT OUTER flavor — the timeout detector. An unmatched
    * request is held in state until BOTH watermarks clear its response
    * window, then emitted once with null response columns: "commands
    * whose event never arrived" (the reference logs these at R22) as a
    * stream, with state still bounded by the same eviction rule. */
  def correlateOuter(requests: DataFrame, responses: DataFrame): DataFrame =
    requests.withWatermark("req_ts", "1 hour").alias("c")
      .join(
        responses.withWatermark("resp_ts", "1 hour").alias("e"),
        expr("""e.cid = c.req_id AND
                e.resp_ts >= c.req_ts AND
                e.resp_ts <= c.req_ts + INTERVAL 30 MINUTES"""),
        "left_outer")
      .select(col("c.req_id").as("req_id"),
        unix_millis(col("c.req_ts")).as("req_ms"),
        unix_millis(col("e.resp_ts")).as("resp_ms"),
        col("e.status").as("status"))

  final case class UserTop(user_id: Long, n: Long, top3: Seq[Double])

  /** Spark 4 arbitrary-stateful-processing v2: per-user event count
    * (ValueState) and running top-3 values (ListState), emitted after
    * every batch of that user's rows. Next to flatMapGroupsWithState
    * (below) this is the modern state API — typed per-key state handles
    * with independent lifecycles and optional TTL, backed by the RocksDB
    * state store at scale (state lives off-heap per shard, not in
    * executor heap; the provider requirement is pinned in the spec). */
  class TopKStatefulProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Double), UserTop] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var nState: ValueState[Long] = _
    @transient private var topState: ListState[Double] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      nState = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
      topState = getHandle.getListState[Double]("top3", Encoders.scalaDouble, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        timers: TimerValues): Iterator[UserTop] = {
      val vals = rows.map(_._2).toSeq
      val n = (if (nState.exists()) nState.get() else 0L) + vals.size
      val merged = (topState.get().toSeq ++ vals)
        .sorted(Ordering[Double].reverse).take(3)
      nState.update(n)
      topState.put(merged.toArray)
      Iterator.single(UserTop(key, n, merged))
    }
  }

  /** transformWithState wiring for [[TopKStatefulProcessor]]. */
  def topPerUser(events: org.apache.spark.sql.Dataset[
      (Long, Double)]): org.apache.spark.sql.Dataset[UserTop] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_._1)
      .transformWithState(new TopKStatefulProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  final case class SessionClose(user_id: Long, last_ts_ms: Long, n_events: Long)

  /** Event-time TIMERS on transformWithState: the session-timeout
    * detector. Each user's state is (last event ts, count of the open
    * session); every batch re-arms one timer at last + gap, and when the
    * WATERMARK passes it the engine calls handleExpiredTimer — the
    * session closes exactly once, driven by event time, not by another
    * record arriving (the capability mapGroupsWithState timeouts and
    * plain session_window aggregation both approximate, here explicit).
    * Intra-batch gaps are split inline so a slow micro-batch cadence
    * can't merge sessions the event times separate. */
  class SessionTimeoutProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), SessionClose] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var lastSeen: ValueState[Long] = _
    @transient private var nEvents: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      lastSeen = getHandle.getValueState[Long]("last", Encoders.scalaLong, TTLConfig.NONE)
      nEvents = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timers: TimerValues): Iterator[SessionClose] = {
      val sorted = rows.map(_._2).toSeq.sorted
      val hadState = lastSeen.exists()
      if (hadState) getHandle.deleteTimer(lastSeen.get() + gapMs)
      var last = if (hadState) lastSeen.get() else Long.MinValue
      var n = if (hadState) nEvents.get() else 0L
      val closed = Seq.newBuilder[SessionClose]
      sorted.foreach { ts =>
        if (last != Long.MinValue && ts - last >= gapMs) {
          closed += SessionClose(key, last, n)
          n = 0L
        }
        n += 1
        // a LATE event (ts <= stored last, possible up to the watermark
        // delay) merges into the open session but must never move the
        // boundary backwards — otherwise the re-armed timer fires early
        // and a following on-time event mis-splits the session
        if (ts > last) last = ts
      }
      lastSeen.update(last)
      nEvents.update(n)
      getHandle.registerTimer(last + gapMs)
      closed.result().iterator
    }
    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SessionClose] = {
      val out = SessionClose(key, lastSeen.get(), nEvents.get())
      lastSeen.clear()
      nEvents.clear()
      Iterator.single(out)
    }
  }

  /** Expects (user_id, ts_ms, event_ts) with a watermark already on
    * event_ts — the timers fire off that watermark. */
  def sessionTimeouts(events: org.apache.spark.sql.Dataset[
      (Long, Long, java.sql.Timestamp)]): org.apache.spark.sql.Dataset[SessionClose] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.map(e => (e._1, e._2))
      .groupByKey(_._1)
      .transformWithState(new SessionTimeoutProcessor(1800000L),
        TimeMode.EventTime(), OutputMode.Append())
  }

  final case class CusumRow(event_type: String, hour_ms: Long, x: Double,
      cusum: Double, alarm: Long)

  /** t25's CUSUM drift gate as a CONTINUOUS monitor — the shape
    * production change detection actually runs: μ is a trained baseline
    * (parameter-sized, captured at start like a broadcast), the hourly
    * rollup accumulates in per-key MapState, and an event-time timer
    * closes each hour when the watermark passes so the recurrence folds
    * hours in order, exactly once. One stateful operator (the windowed
    * rollup lives INSIDE the processor state), so no stateful-chaining
    * restriction applies; state per key is bounded by the open-hour
    * count, not the event count.
    *
    * Engine-exactness: partials arrive as unscaled DECIMAL(38,4)
    * micro-units (the caller derives them with Spark's own cast — this
    * class never re-implements double→decimal rounding), sum exactly in
    * Long, and surface through the same BigDecimal→double conversion
    * Spark's decimal cast performs, so the folded x — and therefore the
    * whole recurrence — is bit-identical to batch t25. Long micro-units
    * bound |hourly sum| < 9.2e14; beyond that the processor fails loudly
    * (Math.addExact) rather than wrapping where batch DECIMAL stays
    * exact. Series absent from the baseline emit NOTHING (no baseline ⇒
    * no alert — a zero default would alarm on every positive hour), and
    * a straggler for an already-folded hour is dropped (the foldedTo
    * frontier), preserving exactly-once per (series, hour). */
  class CusumProcessor(mu: Map[String, Double])
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, Long), CusumRow] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var hours: MapState[Long, Long] = _
    @transient private var sState: ValueState[Double] = _
    @transient private var foldedTo: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      hours = getHandle.getMapState[Long, Long](
        "hours", Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
      sState = getHandle.getValueState[Double]("s", Encoders.scalaDouble, TTLConfig.NONE)
      foldedTo = getHandle.getValueState[Long]("foldedTo", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[(String, Long, Long)],
        timers: TimerValues): Iterator[CusumRow] = {
      // no trained baseline for this series ⇒ no alert (the safe
      // production default) — don't even buffer its hours
      if (!mu.contains(key)) return Iterator.empty
      // exactly-once guard: an hour the fold already closed must never
      // re-open — a straggler beyond it (possible up to the watermark
      // delay: projecting event_ts away before groupByKey strips the
      // watermark attribute, so the exec does no late-record filtering
      // for us) is dropped, mirroring what a windowed aggregation's own
      // late filter would have done
      val closed = if (foldedTo.exists()) foldedTo.get() else Long.MinValue
      rows.foreach { case (_, hourMs, vMicro) =>
        if (hourMs + 3600000L > closed) {
          val fresh = !hours.containsKey(hourMs)
          // Math.addExact: Long micro-units hold |hourly sum| < 9.2e14 —
          // far beyond this corpus, but a deployment that exceeds it must
          // fail LOUDLY, not wrap where batch t25's DECIMAL stays exact
          hours.updateValue(hourMs,
            if (fresh) vMicro else Math.addExact(hours.getValue(hourMs), vMicro))
          // arm the close timer once per open hour; the hour ends at +1h
          if (fresh) getHandle.registerTimer(hourMs + 3600000L)
        }
      }
      Iterator.empty
    }
    override def handleExpiredTimer(key: String, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[CusumRow] = {
      // fold EVERY hour the watermark has passed, ascending — robust to
      // several timers expiring in one batch in any callback order (later
      // callbacks find the map already drained and emit nothing)
      val wm = timers.getCurrentWatermarkInMs()
      // unknown series buffer nothing and register no timers, so this is
      // only reachable with a baseline — but stay total regardless
      if (!mu.contains(key)) return Iterator.empty
      val m = mu(key)
      val thr = m * 1.1
      val ready = hours.keys().filter(_ + 3600000L <= wm).toSeq.sorted
      if (ready.isEmpty) return Iterator.empty
      var s = if (sState.exists()) sState.get() else 0.0
      val out = ready.map { h =>
        val x = new java.math.BigDecimal(
          java.math.BigInteger.valueOf(hours.getValue(h)), 4).doubleValue()
        s = math.max(0.0, s + x - thr)
        hours.removeKey(h)
        CusumRow(key, h, x, math.floor(s * 1e6 + 0.5) / 1e6,
          if (s > m * 3.0) 1L else 0L)
      }
      sState.update(s)
      foldedTo.update(ready.last + 3600000L)
      out.iterator
    }
  }

  /** Expects (event_type, ts_ms, value, event_ts) with a watermark on
    * event_ts. The micro-unit partial is derived HERE with Spark's own
    * double→DECIMAL(38,4) cast so stream and batch share one rounding
    * rule. `mu` is the per-series trained baseline mean. */
  def cusum(events: DataFrame, mu: Map[String, Double]): org.apache.spark.sql.Dataset[CusumRow] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .withColumn("hour_ms", expr("(ts_ms div 3600000) * 3600000"))
      .withColumn("v_micro",
        expr("CAST(CAST(value AS DECIMAL(38,4)) * 10000 AS BIGINT)"))
      // a value beyond Long micro-unit capacity nulls the cast — fail
      // loudly instead of NPE-ing in the encoder (or silently dropping)
      .withColumn("v_micro", coalesce(col("v_micro"),
        raise_error(lit("cusum: |value| exceeds Long micro-unit capacity"))
          .cast("bigint")))
      .select(col("event_type"), col("hour_ms"), col("v_micro"), col("event_ts"))
      .as[(String, Long, Long, java.sql.Timestamp)]
      .map(r => (r._1, r._2, r._3))
      .groupByKey(_._1)
      .transformWithState(new CusumProcessor(mu),
        TimeMode.EventTime(), OutputMode.Append())
  }

  final case class UserRunning(user_id: Long, n: Long, max_value: Double)

  /** Custom keyed state via flatMapGroupsWithState (reference R18/R22's
    * per-entity accumulation, stream-native): emits the running
    * (count, max value) per user after every batch of that user's events.
    * State is one small struct per key — bounded, shardable, and evicted
    * with the watermark at real scale.
    */
  def runningPerUser(events: org.apache.spark.sql.Dataset[
      (Long, Double)]): org.apache.spark.sql.Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserRunning]) => {
          val prev = state.getOption.getOrElse(UserRunning(user, 0L, Double.MinValue))
          var n = prev.n
          var mx = prev.max_value
          rows.foreach { case (_, v) => n += 1; if (v > mx) mx = v }
          val next = UserRunning(user, n, mx)
          state.update(next)
          Iterator.single(next)
        })
  }
}
