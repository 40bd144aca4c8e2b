package graft.operators

import graft.{QueryModule, Tables}
import graft.Tables.dec
import graft.streaming.StreamingLift
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time semantics over the events table (SURVEY.md §2.2 t01-t06).
  * t01/t02/t03/t06/t13/t14 ARE their [[StreamingLift]] functions run on a
  * batch frame — one implementation per operator; the optimizer drops the
  * lift's watermark from a batch plan (EliminateEventTimeWatermark), so
  * the batch query runs the plan a watermark-free copy would. StreamingSpec
  * asserts streaming output == these registered results.
  *
  * All event-time arithmetic runs at millisecond precision (Tables.events
  * derives event_ts by flooring the raw nanos) so the DuckDB oracle —
  * which sees the original TIMESTAMP_NS — reproduces values exactly via
  * epoch_ns(ts)//1000000.
  */
object EventTime extends QueryModule {

  def t01(spark: SparkSession, dir: String): DataFrame =
    StreamingLift.tumbling(Tables.events(spark, dir))
      .orderBy("win_start_ms", "event_type")

  def t02(spark: SparkSession, dir: String): DataFrame =
    StreamingLift.sliding(Tables.events(spark, dir)).orderBy("win_start_ms")

  /** Session windows (30-min gap) per user. Spark merges while
    * next < last + gap, i.e. a gap of exactly 30 min starts a new session —
    * the oracle's islands flag uses >= to match. */
  def t03(spark: SparkSession, dir: String): DataFrame =
    // spread (§2.5): session aggregation clusters by user_id — the pinned
    // exchange satisfies it (no extra shuffle); at-scale no-op
    StreamingLift.session(Tables.spread(Tables.events(spark, dir), "user_id"))
      .orderBy("user_id", "session_start_ms")

  /** Watermark semantics, batch analogue: drop events more than 1h older
    * than the observed max event time (late-data cutoff). */
  def t04(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val mx = e.agg(max("ts_ms").as("mx_ms"))
    e.crossJoin(broadcast(mx))
      .filter(col("ts_ms") >= col("mx_ms") - 3600000L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), min(col("ts_ms")).as("min_ms"), max(col("ts_ms")).as("max_ms"))
      .orderBy("event_type")
  }

  /** Deterministic event-time dedup: earliest event per (user, type) —
    * the batch image of dropDuplicatesWithinWatermark. */
  def t05(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts_ms"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_type", "event_id", "ts_ms")
      .orderBy("user_id", "event_type")
  }

  /** t07: funnel analysis — the earliest view → click → purchase chain
    * per user, each stage strictly after the one before. Three
    * conditional-min aggregations over the SAME user partitioning, the
    * later two probing the previous stage's per-user table. Stage tables
    * are |users| rows — NOT unconditionally broadcast material (an
    * all-users table at 100 TB is a driver OOM), so there is no
    * broadcast hint: every join is a user_id equi-join that reuses the
    * stage partitioning, and AQE upgrades it to broadcast at runtime
    * exactly when the measured stage size allows.
    * reached = number of completed stages. */
  def t07(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select("user_id", "event_type", "ts_ms")
    val s1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_ms").as("t_view"))
    val s2 = e.filter(col("event_type") === "click")
      .join(s1, "user_id")
      .filter(col("ts_ms") > col("t_view"))
      .groupBy("user_id").agg(min("ts_ms").as("t_click"))
    val s3 = e.filter(col("event_type") === "purchase")
      .join(s2, "user_id")
      .filter(col("ts_ms") > col("t_click"))
      .groupBy("user_id").agg(min("ts_ms").as("t_purchase"))
    s1.join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
        (lit(1) + col("t_click").isNotNull.cast("int")
          + col("t_purchase").isNotNull.cast("int")).as("reached"))
      .orderBy("user_id")
  }

  /** t08: cohort retention — users bucketed by the week of their first
    * signup event; each later activity counts toward (cohort_week,
    * week_offset) with distinct users. Weeks are integer epoch-week
    * ordinals (ts_ms div week_ms — no calendar/timezone semantics to
    * diverge on). Cohort table is per-user, so no broadcast hint (an
    * all-users table isn't broadcast-safe at 100 TB) — the user_id
    * equi-join lets AQE pick broadcast when the measured size allows;
    * then one distinct-agg shuffle on the (cohort, offset) grid —
    * bounded by |weeks|², far below event count. */
  def t08(spark: SparkSession, dir: String): DataFrame = {
    val weekMs = 7L * 86400000L
    val e = Tables.events(spark, dir).select("user_id", "event_type", "ts_ms")
    val cohort = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts_ms").as("t0"))
      .withColumn("cohort_week", expr(s"t0 div $weekMs"))
    e.join(cohort, "user_id")
      .filter(col("ts_ms") >= col("t0"))
      .withColumn("week_offset", expr(s"(ts_ms div $weekMs)") - col("cohort_week"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** t09: session path mining — the t03 gaps-and-islands sessionizer,
    * then each session's ordered event-type sequence as a path string,
    * rolled up to path frequencies (the "how do users move through the
    * product" query). One shuffle on user_id feeds BOTH the window and
    * the (user, sid) aggregation (same partitioning, no re-exchange);
    * the final rollup shuffles the tiny path grid. Path order inside a
    * session is pinned by sorting (ts_ms, event_id, event_type) structs —
    * field order makes the array_sort total. Sessions are bounded by the
    * gap parameter, so collect_list is O(session), never O(user). */
  /** The 30-min-gap sessionized event stream (user_id, event_id, ts_ms,
    * event_type, sid) — t09's session assembly, shared with t27 so the
    * gap rule and tie order can never diverge between the two. */
  private def sessionized(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
    // NOT spread (measured, r16): the lag/running-sum window is trivial
    // per row, so the 32-task pin costs more than the serial stage saves
    // (A/B: t09/t27 worse in 2 of 3 rounds) — the w01/w02/w05 result.
    Tables.events(spark, dir)
      .select("user_id", "event_id", "ts_ms", "event_type")
      .withColumn("prev", lag("ts_ms", 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("ts_ms") - col("prev") >= 1800000L, 1)
          .otherwise(0))
      .withColumn("sid", sum("new_s")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  def t09(spark: SparkSession, dir: String): DataFrame =
    sessionized(spark, dir).groupBy("user_id", "sid")
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(ts_ms, event_id, event_type))), x -> x.event_type)"),
        ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"), countDistinct("user_id").as("n_users"))
      .orderBy(col("n_sessions").desc, col("path"))

  /** t27: MATCH_RECOGNIZE-style session classification — each session's
    * ordered event stream rendered as a character sequence (first letter
    * of the type: v c p s e, unique across the 5 types) and classified
    * by the first matching rule: a clean conversion (view → … → purchase
    * with no error anywhere in the span), an error-interrupted
    * conversion (same ordered pair but an error fired between), a bounce
    * (single-event session), or merely engaged. Regex over the session
    * string is the relational image of sequence-pattern matching: the
    * alphabet is fixed, the string is session-bounded (never user- or
    * corpus-sized), and both engines run the same search-semantics
    * character-class pattern — no engine-specific MATCH_RECOGNIZE
    * needed. Per-session work after the sessionize window is one
    * groupBy(user, sid) + map-side classification + a ≤4-row rollup:
    * nothing global. */
  def t27(spark: SparkSession, dir: String): DataFrame =
    sessionized(spark, dir).groupBy("user_id", "sid")
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(ts_ms, event_id, event_type))), x -> substring(x.event_type, 1, 1))"),
        "").as("seq"))
      .withColumn("pattern",
        when(col("seq").rlike("v[^e]*p"), "clean_conversion")
          .when(col("seq").rlike("v.*p"), "error_conversion")
          .when(length(col("seq")) === 1, "bounce")
          .otherwise("engaged"))
      .groupBy("pattern")
      .agg(count(lit(1)).as("n_sessions"), countDistinct("user_id").as("n_users"))
      .orderBy("pattern")

  /** t10: resample to a dense hourly grid + forward fill — the
    * sparse→dense conversion every time-series consumer needs (gaps in
    * event data must read as "carry the last observation", not "row
    * missing"). The grid is sequence-exploded per event_type from the
    * OBSERVED min/max hour (broadcast one-row bounds — no driver trip),
    * left-joined to the hourly sums, then nulls forward-fill via
    * last(ignoreNulls) over an unbounded-preceding frame: one window
    * pass, no self-join. Grid size is |types|·|hours| — tiny relative
    * to events at any scale; the events scan aggregates FIRST, so the
    * window runs on the grid, never the raw stream. */
  def t10(spark: SparkSession, dir: String): DataFrame = {
    val hourMs = 3600000L
    val e = Tables.events(spark, dir)
      .withColumn("hour", expr(s"ts_ms div $hourMs"))
    // scoped cache: bounds, the type list, and the join all derive from
    // this grid-sized aggregate — ONE events scan total, everything after
    // operates on |types|·|hours| rows; released before returning (the
    // grid-sized result is localCheckpoint-materialized below)
    val hourly = e.groupBy("event_type", "hour")
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
      .cache()
    val bounds = hourly.agg(min("hour").as("h0"), max("hour").as("h1"))
    val grid = hourly.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("hour"))
    val w = Window.partitionBy("event_type").orderBy("hour")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = grid.join(hourly, Seq("event_type", "hour"), "left")
      .select(col("event_type"), (col("hour") * hourMs).as("hour_start_ms"),
        coalesce(col("n"), lit(0L)).as("n"),
        col("sum_value").isNotNull.as("observed"),
        last(col("sum_value"), ignoreNulls = true).over(w).as("sum_value_ffill"))
      .orderBy("event_type", "hour_start_ms")
      .localCheckpoint()
    hourly.unpersist(blocking = false)
    out
  }

  /** t15: t10's dense hourly grid with LINEAR INTERPOLATION for
    * interior gaps (forward-fill is a step function; rates/levels want
    * the line between bracketing observations — the sensor/metrics
    * resample default). Same aggregate-first scale shape as t10: ONE
    * events scan collapses to the |types|·|hours| grid, and BOTH
    * bracketing observations come from two frames of the same
    * event_type partitioning (no self-join). Bracketing
    * (hour, value) pairs travel as structs so prev-value and prev-hour
    * can never desynchronize. The interpolation itself is the one
    * textually-pinned double expression
    *   pv + (nv - pv) · (h - ph) / (nh - ph)
    * evaluated on exact inputs (DECIMAL-summed values, integer hours),
    * so both engines produce identical bits; rows outside the first/last
    * observation stay NULL (extrapolation is a modeling choice, not a
    * resample). */
  def t15(spark: SparkSession, dir: String): DataFrame = {
    val hourMs = 3600000L
    val e = Tables.events(spark, dir)
      .withColumn("hour", expr(s"ts_ms div $hourMs"))
    val hourly = e.groupBy("event_type", "hour")
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
      .cache()
    val bounds = hourly.agg(min("hour").as("h0"), max("hour").as("h1"))
    val grid = hourly.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("hour"))
    // both brackets are running frames; the next one runs over the
    // reversed hour order (hours are unique per type). A `currentRow →
    // unboundedFollowing` frame re-aggregates at every row.
    val byType = Window.partitionBy("event_type")
    val wp = byType.orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = byType.orderBy(col("hour").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val obs = when(col("sum_value").isNotNull,
      struct(col("hour").as("h"), col("sum_value").as("v")))
    val out = grid.join(hourly, Seq("event_type", "hour"), "left")
      .withColumn("p", last(obs, ignoreNulls = true).over(wp))
      .withColumn("nx", last(obs, ignoreNulls = true).over(wf))
      .select(col("event_type"), (col("hour") * hourMs).as("hour_start_ms"),
        coalesce(col("n"), lit(0L)).as("n"),
        col("sum_value").isNotNull.as("observed"),
        when(col("sum_value").isNotNull, col("sum_value"))
          .when(col("p").isNotNull && col("nx").isNotNull,
            col("p.v") + (col("nx.v") - col("p.v"))
              * (col("hour") - col("p.h")).cast("double")
              / (col("nx.h") - col("p.h")).cast("double"))
          .as("value_interp"))
      .orderBy("event_type", "hour_start_ms")
      .localCheckpoint()
    hourly.unpersist(blocking = false)
    out
  }

  /** t11: t07's funnel with CONVERSION DEADLINES — a click only counts
    * within 24 h of the first view, a purchase within 7 d of that click
    * (the semantics product analytics actually bills: late conversions
    * are organic, not funnel). Same scale shape as t07: per-stage
    * conditional-min aggs over one user_id partitioning, stage joins
    * left to AQE (per-user tables are not hint-broadcast material). */
  def t11(spark: SparkSession, dir: String): DataFrame = {
    val dayMs = 86400000L
    val e = Tables.events(spark, dir).select("user_id", "event_type", "ts_ms")
    val s1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_ms").as("t_view"))
    val s2 = e.filter(col("event_type") === "click")
      .join(s1, "user_id")
      .filter(col("ts_ms") > col("t_view")
        && col("ts_ms") <= col("t_view") + dayMs)
      .groupBy("user_id").agg(min("ts_ms").as("t_click"))
    val s3 = e.filter(col("event_type") === "purchase")
      .join(s2, "user_id")
      .filter(col("ts_ms") > col("t_click")
        && col("ts_ms") <= col("t_click") + 7L * dayMs)
      .groupBy("user_id").agg(min("ts_ms").as("t_purchase"))
    s1.join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
        (lit(1) + col("t_click").isNotNull.cast("int")
          + col("t_purchase").isNotNull.cast("int")).as("reached"))
      .orderBy("user_id")
  }

  /** t12: exact DISTINCT users per sliding window (6 h window, 1 h
    * slide) — the aggregation sliding windows make hard: distinct does
    * NOT merge across panes, so pane-level partials can't be reused the
    * way t02's count/sum are. The scale shape is the bounded explode
    * (each event lands in window/slide = 6 panes — Spark's `window()`
    * generator) followed by a two-level distinct (partial de-dup on
    * (window, user) before the count shuffle — Catalyst plans the
    * distinct agg exactly that way). At 100 TB the alternatives are this
    * (exact, 6× row amplification) or a13's mergeable HLL sketches per
    * tumbling pane (approximate, zero amplification) — both live in this
    * library; this query is the exact half of that trade. */
  def t12(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("event_ts"), "6 hours", "1 hour").as("w"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .select(unix_millis(col("w.start")).as("win_start_ms"),
        col("n_users"), col("n_events"))
      .orderBy("win_start_ms")

  /** t13 (and t06, registered on the same body): stream-static
    * enrichment — [[StreamingLift.enrich]] run on the batch events, oracled
    * here so the lift's exact row-level semantics are hash-gated: every
    * event joined to its customer dimension row. The dim is the small
    * side at any scale where it is still a dim, so it always broadcasts —
    * per micro-batch (streaming) or once (batch); the event stream never
    * shuffles for the join. */
  def t13(spark: SparkSession, dir: String): DataFrame =
    StreamingLift.enrich(Tables.events(spark, dir), Tables.customer(spark, dir))
      .orderBy("event_id")

  /** t14: DYNAMIC-gap sessionization — the gap is a per-event expression
    * (clicks cool off in 10 min, everything else in 30), which
    * fixed-gap t03 can't express and which real engagement analytics
    * need (different activity classes keep sessions alive for different
    * spans): [[StreamingLift.sessionDynamic]] run on the batch events.
    * Merge semantics: each event spans [ts, ts+gap(event)); overlapping
    * spans merge; an event landing exactly at the running max end starts
    * a NEW session (the >= islands flag in the oracle). Session end is
    * the max merged span end — surfaced to pin the variable-gap merge,
    * not just membership. */
  def t14(spark: SparkSession, dir: String): DataFrame =
    // §2.5 session-window pin, same as t03
    StreamingLift.sessionDynamic(Tables.spread(Tables.events(spark, dir), "user_id"))
      .orderBy("user_id", "session_start_ms")

  /** t16: per-user interval-union coverage — total DISTINCT time covered
    * when every event projects an activity interval [ts, ts+10min).
    * Unlike sessionization (t03/t14, which partitions events into
    * islands), this measures the union's LENGTH: overlap is counted
    * once, so it answers "how long was the user actually active", the
    * billing/SLA/uptime primitive. Single pass: a running max of
    * interval ends over the per-user time order turns each event's
    * marginal contribution into greatest(0, end − greatest(start,
    * prev_max_end)) — one shuffle (user key), no self-join, no interval
    * explosion; at 100 TB the window rides the same per-user exchange
    * any per-user analytic needs. */
  def t16(spark: SparkSession, dir: String): DataFrame = {
    val lenMs = 600000L
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts_ms"), col("event_id"))
      .withColumn("end_ms", col("ts_ms") + lenMs)
      .withColumn("prev_end", max("end_ms").over(w))
      .withColumn("covered",
        when(col("prev_end").isNull, col("end_ms") - col("ts_ms"))
          .otherwise(greatest(lit(0L),
            col("end_ms") - greatest(col("ts_ms"), col("prev_end")))))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum("covered").as("covered_ms"),
        (max("end_ms") - min("ts_ms")).as("span_ms"))
      .withColumn("coverage",
        floor(col("covered_ms") / col("span_ms") * 1000000.0 + 0.5) / 1000000.0)
      .orderBy("user_id")
  }

  /** t17: OHLC candlestick bars — per (event_type, hour): first value
    * (open), last value (close), extremes (high/low), exact volume. The
    * time-series downsampling primitive metrics stores and financial
    * pipelines run continuously. open/close are a19's struct-ordered
    * argmin/argmax over (ts, event_id) — ONE aggregation pass, no
    * window sort (the naive first_value/last_value formulation needs a
    * per-bar sort; min_by/max_by fold map-side). Raw doubles pass
    * through unaggregated except volume (DECIMAL accumulation).
    * Not [[StreamingLift.ohlc]] run on batch (StreamingSpec checks the
    * two agree): the lift's `window()` adds an is-not-null filter and a
    * struct grouping key, and at sf0.1 (4 cores, two runs of 5 JVM
    * pairs) it read 0.635 and 0.569 s median task time against this
    * plan's 0.494 [0.473, 0.583] and 0.424 [0.346, 0.544]. */
  def t17(spark: SparkSession, dir: String): DataFrame = {
    val hourMs = 3600000L
    Tables.events(spark, dir)
      .groupBy(col("event_type"),
        expr(s"(ts_ms div $hourMs) * $hourMs").as("hour_start_ms"))
      .agg(count(lit(1)).as("n"),
        min_by(col("value"), struct(col("ts_ms"), col("event_id"))).as("open"),
        max_by(col("value"), struct(col("ts_ms"), col("event_id"))).as("close"),
        max("value").as("high"), min("value").as("low"),
        sum(dec(col("value"))).cast("double").as("volume"))
      .orderBy("event_type", "hour_start_ms")
  }

  /** t18: rolling z-score anomaly flags — each event scored against the
    * TRAILING 100 events of its series (mean/stddev frame EXCLUDING the
    * current row: an outlier must not mask itself), the alerting
    * primitive every metrics pipeline runs. One window over the series
    * exchange; the frame is row-bounded so state per series is O(100)
    * at any scale (the streaming image is a bounded ListState). Scores
    * floor-rounded at 1e-6; warm-up rows (< 20 trailing events) emit
    * NULL score rather than a noisy estimate. */
  def t18(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(-100, -1)
    // mean/stddev from INTEGER milli-unit frame sums, not
    // avg()/stddev_samp(): windowed float aggregation orders differ
    // between engines (Spark rescans bounded frames, DuckDB uses
    // segment trees), so native stats are order-sensitive in the last
    // ulps — enough to flip the 1e-6 floor on a boundary. The values
    // are 2-decimal synthetics, so milli-quantization is LOSSLESS,
    // long sums are exact and fast (a DECIMAL(38,_) variant measured
    // 2.5× slower in the sliding frame), and every expression below
    // them is one fixed double shape both engines evaluate bit-equal.
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("ts_ms"), col("value"))
      .withColumn("vm", expr("CAST(floor(value * 1000.0 + 0.5) AS BIGINT)"))
      // pin the window's exchange width: the corpus-sized frame is only
      // MBs here, so AQE's bytes-based coalescing folds the event_type
      // exchange to ONE partition and the two sliding-frame sums run
      // serially — twice, because the final range sort's bounds sampler
      // re-executes its child (measured: 2 × 0.6 s single-task jobs).
      // The explicit session-parallelism width is the g05/j16 pin: AQE
      // never coalesces a user REPARTITION_BY_NUM, the window reuses the
      // exchange (same key, ENSURE_REQUIREMENTS satisfied — no second
      // shuffle), and at real scale the exchange is past the advisory
      // size anyway, so the pin is a no-op there.
      .repartition(spark.sparkContext.defaultParallelism, col("event_type"))
      .withColumn("n_window", count(lit(1)).over(w))
      .withColumn("s1", sum("vm").over(w))
      .withColumn("s2", sum(expr("vm * vm")).over(w))
      .withColumn("mu",
        when(col("n_window") > 0,
          col("s1").cast("double") / (col("n_window") * 1000.0)))
      .withColumn("sd",
        when(col("n_window") > 1, sqrt(greatest(lit(0.0),
          (col("s2").cast("double") / 1000000.0
            - (col("s1").cast("double") / 1000.0) * col("mu"))
            / (col("n_window") - 1)))))
      .withColumn("z",
        when(col("n_window") >= 20 && col("sd") > 0,
          floor((col("vm") / 1000.0 - col("mu")) / col("sd") * 1000000.0 + 0.5)
            / 1000000.0))
      .select(col("event_type"), col("event_id"), col("ts_ms"), col("value"),
        col("n_window"), col("z"),
        (col("z").isNotNull && abs(col("z")) > 3.0).as("is_anomaly"))
      .orderBy("event_type", "ts_ms", "event_id")
  }

  /** t19: data-gap report — the pipeline-health question every ingestion
    * SLA asks: where did a series go silent? A gap is an inter-arrival
    * exceeding 4× the series' own mean spacing (a DATA-RELATIVE
    * threshold: a fixed "2 hours" silently stops firing as event rates
    * grow with the corpus — for exponential inter-arrivals the 4× rule
    * flags a stable ~e⁻⁴ ≈ 1.8% of gaps at ANY scale). One lead()
    * window riding the series exchange + a broadcast join of the 5-row
    * per-series stats — no self-join. */
  def t19(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("ts_ms"))
    val stats = e.groupBy("event_type")
      .agg(((max("ts_ms") - min("ts_ms")).cast("double")
        / (count(lit(1)) - 1)).as("mean_gap_ms"))
    val w = Window.partitionBy("event_type").orderBy(col("ts_ms"), col("event_id"))
    e.withColumn("next_ts", lead(col("ts_ms"), 1).over(w))
      .join(broadcast(stats), "event_type")
      .filter(col("next_ts").isNotNull &&
        (col("next_ts") - col("ts_ms")).cast("double") > col("mean_gap_ms") * 4)
      .select(col("event_type"), col("ts_ms").as("gap_start_ms"),
        col("next_ts").as("gap_end_ms"),
        (col("next_ts") - col("ts_ms")).as("gap_ms"),
        (floor((col("next_ts") - col("ts_ms")) / col("mean_gap_ms")
          * 1000000.0 + 0.5) / 1000000.0).as("gap_x_mean"))
      .orderBy("event_type", "gap_start_ms")
  }

  /** t21: peak concurrency — the capacity-planning question ("how many
    * sessions were active AT ONCE, and when was the peak?") answered by
    * the classic sweep-line: each interval [ts, ts+10min) contributes a
    * +1 at its start and a −1 at its end, the running sum over the time
    * order is the live concurrency, its max is the peak. Boundary rule:
    * half-open intervals — an end at instant t applies BEFORE a start
    * at t (delta ASC in the order), so back-to-back intervals never
    * double-count. One explode (2 rows per event) + one window riding
    * the series exchange + the argmax aggregate (a19's struct trick:
    * min over (-conc, t) picks the EARLIEST peak instant). */
  def t21(spark: SparkSession, dir: String): DataFrame = {
    val lenMs = 600000L
    val w = Window.partitionBy("event_type")
      .orderBy(col("t"), col("delta"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("ts_ms"))
      .select(col("event_type"), col("event_id"),
        explode(array(
          struct(col("ts_ms").as("t"), lit(1).as("delta")),
          struct((col("ts_ms") + lenMs).as("t"), lit(-1).as("delta")))).as("ev"))
      .select(col("event_type"), col("event_id"),
        col("ev.t").as("t"), col("ev.delta").as("delta"))
      .withColumn("conc", sum("delta").over(w))
      .groupBy("event_type")
      .agg(max("conc").as("peak"),
        min(struct((-col("conc")).as("nc"), col("t"))).getField("t")
          .as("first_peak_ms"),
        count(lit(1)).as("n_boundary_events"))
      .orderBy("event_type")
  }

  /** t20: exponentially-weighted moving average per series — the
    * smoothing primitive (y_i = α·y_{i-1} + (1−α)·x_i) that no window
    * frame can express (every output depends on ALL history through the
    * recurrence). This is the sanctioned home of the imperative
    * per-partition path — the classic SECONDARY SORT: repartition on
    * the series key, sortWithinPartitions by (key, time), then ONE
    * sequential pass whose state (a single Double) resets on key
    * change. O(1) memory per series regardless of series length (a
    * groupByKey.flatMapGroups would NOT guarantee within-group time
    * order after its own key-only exchange), one shuffle total, and
    * the same fold lifts to streaming as mapGroupsWithState. No oracle
    * by design (DuckDB windows can't state the recurrence); the spec
    * replays it exactly. */
  def t20(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val alpha = 0.9
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("ts_ms"), col("value"))
      .repartition(col("event_type"))
      .sortWithinPartitions("event_type", "ts_ms", "event_id")
      .as[(String, Long, Long, Double)]
      .mapPartitions { it =>
        var cur: String = null
        var ewma = 0.0
        it.map { case (et, id, ts, v) =>
          if (et != cur) { cur = et; ewma = v }
          else ewma = alpha * ewma + (1 - alpha) * v
          (et, id, ts, v, math.floor(ewma * 1e6 + 0.5) / 1e6)
        }
      }
      .toDF("event_type", "event_id", "ts_ms", "value", "ewma")
      .orderBy("event_type", "ts_ms", "event_id")
  }

  /** t22: Holt's linear-trend (double exponential) smoothing + one-step
    * forecast — t20's recurrence with a second state component:
    *   level_i = α·x_i + (1−α)(level_{i-1} + trend_{i-1})
    *   trend_i = β(level_i − level_{i-1}) + (1−β)·trend_{i-1}
    *   forecast_{i+1} = level_i + trend_i
    * the simplest forecasting primitive a metrics pipeline runs per
    * series. Same secondary-sort shape as t20 (two Doubles of state,
    * reset on key change, one shuffle); hourly pre-aggregation first so
    * the smoothed series is the t01-style rollup, not raw noise. */
  def t22(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (a, b) = (0.5, 0.3)
    val hourMs = 3600000L
    Tables.events(spark, dir)
      .groupBy(col("event_type"),
        expr(s"(ts_ms div $hourMs) * $hourMs").as("hour_ms"))
      .agg(sum(dec(col("value"))).cast("double").as("x"))
      .repartition(col("event_type"))
      .sortWithinPartitions("event_type", "hour_ms")
      .as[(String, Long, Double)]
      .mapPartitions { it =>
        var cur: String = null
        var level = 0.0
        var trend = 0.0
        it.map { case (et, h, x) =>
          if (et != cur) { cur = et; level = x; trend = 0.0 }
          else {
            val prev = level
            level = a * x + (1 - a) * (level + trend)
            trend = b * (level - prev) + (1 - b) * trend
          }
          (et, h, x, math.floor(level * 1e6 + 0.5) / 1e6,
            math.floor(trend * 1e6 + 0.5) / 1e6,
            math.floor((level + trend) * 1e6 + 0.5) / 1e6)
        }
      }
      .toDF("event_type", "hour_ms", "x", "level", "trend", "forecast_next")
      .orderBy("event_type", "hour_ms")
  }

  /** t23: MAD-based robust outlier report — the monitoring-pipeline
    * anomaly primitive that survives the heavy tails a mean/stddev gate
    * (a16) is blind to: median and median-absolute-deviation have a 50%
    * breakdown point, so one bad feed can't move the threshold. All
    * order statistics are EXACT and integer: values quantize to milli-
    * units (floor(v·1000+0.5), the same rule both engines evaluate
    * identically), and each median is the a21 first-crossing pick over
    * a (type, value)-collapsed count table — no percentile
    * interpolation, no engine-specific tie rule. Cost: the collapse is
    * one map-side-combinable shuffle; the per-type windows run over the
    * collapsed table (|distinct values|, not |events|); medians
    * broadcast back — at 100 TB the events table is scanned twice and
    * nothing else is event-sized. */
  /** Median-low per event_type: first value whose cumulative weight
    * crosses half the total — exact integers end-to-end (t23's body,
    * shared with t28 so the median rule cannot diverge between them). */
  private def medLowByType(df: DataFrame, vcol: String, out: String): DataFrame = {
    val wCum = Window.partitionBy("event_type").orderBy(vcol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
    df.groupBy(col("event_type"), col(vcol))
      .agg(count(lit(1)).as("w"))
      .withColumn("cum", sum("w").over(wCum))
      .withColumn("tot", sum("w").over(wAll))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy("event_type").agg(min(vcol).as(out))
  }

  def t23(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("CAST(floor(value * 1000.0 + 0.5) AS BIGINT)").as("vm"))
    val med = medLowByType(e, "vm", "med")
    val withDev = e.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("vm") - col("med")))
    val mad = medLowByType(withDev.select(col("event_type"), col("dev")), "dev", "mad")
    withDev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        (min("med").cast("double") / lit(1000.0)).as("median"),
        (min("mad").cast("double") / lit(1000.0)).as("mad"),
        sum(when(col("dev") > col("mad") * 3, 1L).otherwise(0L)).as("n_outliers"),
        (max("dev").cast("double") / lit(1000.0)).as("max_dev"))
      .orderBy("event_type")
  }

  /** t24: SEASONAL PROFILE + hot-hour count — the hour-of-day baseline a
    * metrics pipeline must learn before it can alert ("is 3 AM traffic
    * low because it's 3 AM, or because ingestion broke?"). Per
    * (event_type, hour-of-day): hours observed, total/mean/peak hourly
    * counts, and how many hours ran ANOMALOUSLY HOT — count > 1.5× the
    * slot's own mean, compared in exact integer cross-multiplied form
    * (2·n·n_hours > 3·total: no float thresholds, engine-identical
    * booleans; 1.5× because more data smooths the profile — at sf0.1 a
    * 2× gate fires zero times while 1.5× still isolates real spikes).
    * Scale shape: ONE event-sized shuffle (the hourly rollup, a
    * map-side-combinable count); the profile is ≤ 24·|types| rows and
    * BROADCASTS back onto the hourly frame for the anomaly pass —
    * nothing after the first rollup is event-sized at any corpus. */
  /** One hourly-count rollup + hour-of-day key for t24 AND t28 — t28 is
    * residualized against t24's baseline, which only stays true if both
    * derive hours and profile keys from the same body. */
  private def hourlyByType(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), expr("ts_ms div 3600000").as("hr"))
      .agg(count(lit(1)).as("n"))
      .withColumn("hod", pmod(col("hr"), lit(24L)))

  def t24(spark: SparkSession, dir: String): DataFrame = {
    val hourly = hourlyByType(spark, dir)
    val prof = hourly
      .groupBy("event_type", "hod")
      .agg(count(lit(1)).as("n_hours"), sum("n").as("total"),
        max("n").as("peak"))
    val anom = hourly
      .join(broadcast(prof), Seq("event_type", "hod"))
      .filter(col("n") * col("n_hours") * 2 > col("total") * 3)
      .groupBy("event_type", "hod").agg(count(lit(1)).as("n_hot"))
    prof.join(anom, Seq("event_type", "hod"), "left")
      .select(col("event_type"), col("hod"), col("n_hours"), col("total"),
        (floor(col("total").cast("double") / col("n_hours")
          * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("mean_per_hour"),
        col("peak"),
        coalesce(col("n_hot"), lit(0L)).as("n_hot_hours"))
      .orderBy("event_type", "hod")
  }

  /** t28: SEASONAL ANOMALY DETECTION — hourly counts residualized
    * against t24's hour-of-day baseline, then gated by a robust
    * (median/MAD) threshold per series: the "traffic is weird for this
    * hour of day" monitor, deseasonalized so a 3 a.m. spike isn't hidden
    * by the daily cycle. Integer-exact end-to-end: the residual runs in
    * milli-units (n·1000 − total·1000 div n_hours — floor division,
    * identical in both engines), median/MAD via the shared exact
    * median-low body (t23/t28 — one rule), doubles only at the surface.
    * Scale: hourly rollup first (events never leave their partition
    * un-aggregated), per-series medians via two window passes on the
    * |series|·|hours| frame, parameter-sized broadcast joins for med/mad
    * — nothing corpus-sized after the first aggregate. */
  def t28(spark: SparkSession, dir: String): DataFrame = {
    val hourly = hourlyByType(spark, dir)
    val prof = hourly
      .groupBy("event_type", "hod")
      .agg(sum("n").as("total"), count(lit(1)).as("n_hours"))
    val r = hourly
      .join(broadcast(prof), Seq("event_type", "hod"))
      .withColumn("rm", col("n") * lit(1000L) - expr("(total * 1000) div n_hours"))
    val med = medLowByType(r.select(col("event_type"), col("rm")), "rm", "med")
    val withDev = r.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("rm") - col("med")))
    val mad = medLowByType(
      withDev.select(col("event_type"), col("dev")), "dev", "mad")
    withDev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        (min("med").cast("double") / lit(1000.0)).as("median_resid"),
        (min("mad").cast("double") / lit(1000.0)).as("mad"),
        sum(when(col("dev") > col("mad") * 3, 1L).otherwise(0L)).as("n_anomalies"),
        (max(abs(col("rm"))).cast("double") / lit(1000.0)).as("max_abs_resid"))
      .orderBy("event_type")
  }

  /** t25: CUSUM drift/changepoint detection per series — the alerting
    * primitive t24's seasonal baseline feeds: a level SHIFT that never
    * trips a point-outlier gate (t23) still accumulates in the one-sided
    * CUSUM S_t = max(0, S_{t-1} + x_t − (μ+κ)) and crosses the decision
    * threshold h. Runs over the t22-style hourly rollup with κ = 0.1·μ
    * and h = 3·μ (μ = the series' own hourly mean, so the gate is
    * scale-free across series). Engine-exactness discipline: μ comes
    * from the exact DECIMAL total of the hourly DECIMAL sums (one double
    * division at the end — summing doubles would be order-dependent),
    * and the recurrence is the same secondary-sort sequential fold as
    * t20/t22 (the one shape a window frame cannot state), replayed
    * verbatim by a recursive-CTE oracle with every literal CAST to
    * DOUBLE. Shuffles: the hourly rollup (map-side combinable), a
    * broadcast of the ≤|series|-row mean table, one series-key exchange
    * for the fold. */
  def t25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourMs = 3600000L
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        expr(s"(ts_ms div $hourMs) * $hourMs").as("hour_ms"))
      .agg(sum(dec(col("value"))).as("xd"))
    val mu = hourly.groupBy("event_type")
      .agg((sum("xd").cast("double") / count(lit(1))).as("mu"))
    hourly
      .join(broadcast(mu), Seq("event_type"))
      .select(col("event_type"), col("hour_ms"),
        col("xd").cast("double").as("x"), col("mu"))
      .repartition(col("event_type"))
      .sortWithinPartitions("event_type", "hour_ms")
      .as[(String, Long, Double, Double)]
      .mapPartitions { it =>
        var cur: String = null
        var s = 0.0
        it.map { case (et, h, x, mu) =>
          val thr = mu * 1.1
          if (et != cur) { cur = et; s = math.max(0.0, x - thr) }
          else s = math.max(0.0, s + x - thr)
          (et, h, x, math.floor(s * 1e6 + 0.5) / 1e6,
            if (s > mu * 3.0) 1L else 0L)
        }
      }
      .toDF("event_type", "hour_ms", "x", "cusum", "alarm")
      .orderBy("event_type", "hour_ms")
  }

  /** t26: conversion ATTRIBUTION — per purchase (not per user: t07/t11
    * are funnel progression), the first-touch and last-touch marketing
    * event in the 7-day lookback, plus the touch count. The scalable
    * shape is ONE range-frame window over the interleaved per-user
    * stream — never a conversions⋈touches join (that materializes the
    * full cross product inside every lookback window; the frame
    * aggregates it in place on the sort the user key already pays).
    * Engine-exactness: first/last are MIN/MAX over (ts, event_id, type)
    * structs — ORDER-INDEPENDENT aggregates, so duplicate-timestamp
    * touches can't make first_value/last_value nondeterministic; the
    * frame [conv−7d, conv−1ms] is integer-bounded. */
  def t26(spark: SparkSession, dir: String): DataFrame = {
    val weekMs = 604800000L
    val touch = when(col("event_type").isin("view", "click"),
      struct(col("ts_ms"), col("event_id"), col("event_type")))
    val wr = Window.partitionBy("user_id").orderBy("ts_ms")
      .rangeBetween(-weekMs, -1L)
    Tables.spread(Tables.events(spark, dir), "user_id") // §2.5 window pin
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts_ms"),
        // one select, not three withColumns: Catalyst fuses same-spec
        // window functions into ONE Window operator only when they land
        // in the same projection — three withColumns compile to three
        // frame-evaluation passes over the same sort
        min(touch).over(wr).as("ft"),
        max(touch).over(wr).as("lt"),
        count(touch).over(wr).as("n_touches"))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"),
        col("ts_ms").as("conv_ts"), col("n_touches"),
        col("ft.ts_ms").as("first_ts"), col("ft.event_type").as("first_type"),
        col("lt.ts_ms").as("last_ts"), col("lt.event_type").as("last_type"))
      .orderBy("user_id", "conv_id")
  }

  /** t29: DISTRIBUTION-DRIFT MONITOR (PSI) — day-over-day population
    * stability index of the value distribution per event type, the
    * standard "did the feed change shape" gate a training-data pipeline
    * runs before trusting a new day (mean/variance monitors miss shape
    * changes that preserve both; PSI ≥ 0.2 is the industry alert line).
    *
    * PSI = Σ_buckets (p−q)·ln(p/q) over 10-unit value buckets, Laplace-
    * smoothed (+1 per bucket over a fixed 64-bucket universe) so a bucket
    * empty on one day contributes finitely. Consecutive days only (a gap
    * day has no predecessor to drift FROM).
    *
    * Engine-exactness: counts are integers; p and q are the same double
    * expression from those integers in both engines, and each bucket's
    * term is floor-rounded to INTEGER NANO-UNITS before the sum — float
    * summation order can never reorder-drift the total (the l40
    * per-term-rounding rule). Scale shape: ONE event-sized map-side-
    * combinable (type, day, bucket) rollup; everything after runs on the
    * bucket frame (types × days × ≤64 rows); the day-pair alignment is a
    * full-outer self-join of THAT frame plus a broadcast of per-day
    * totals. */
  def t29(spark: SparkSession, dir: String): DataFrame = {
    val B = 64 // the bucket universe; values cap into the last bucket
    val c = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("ts_ms div 86400000").as("day_idx"),
        // greatest(0, …) clamp, mirrored in the oracle: for a NEGATIVE
        // value the engines' integer division disagrees (Spark `div`
        // truncates toward zero → 0, DuckDB `//` floors → -1) and an
        // unclamped negative bucket would fall outside the 0..63 universe
        // sum while still inflating tot; the clamp makes both engines
        // land the whole negative tail in bucket 0
        expr(s"greatest(0L, least(CAST(floor(value * 1000.0 + 0.5) AS BIGINT) div 10000, ${B - 1}L))")
          .as("bucket"))
      .groupBy("event_type", "day_idx", "bucket").agg(count(lit(1)).as("n"))
    val totals = c.groupBy("event_type", "day_idx").agg(sum("n").as("tot"))
    val pairs = totals.select(col("event_type"), col("day_idx"), col("tot"))
      .join(totals.select(col("event_type"),
        (col("day_idx") + 1).as("day_idx"), col("tot").as("tot_prev")),
        Seq("event_type", "day_idx"))
    // the sum runs over ALL 64 buckets, not just observed ones: with
    // unequal day volumes even a both-days-empty bucket has p != q, and
    // ~50 omitted buckets add up to more than the alert line itself
    val universe = pairs.withColumn("bucket",
      explode(expr(s"sequence(0L, ${B - 1}L)")))
    val curr = c.select(col("event_type"), col("day_idx"), col("bucket"), col("n"))
    val prev = c.select(col("event_type"), (col("day_idx") + 1).as("day_idx"),
      col("bucket"), col("n").as("n_prev"))
    universe
      .join(curr, Seq("event_type", "day_idx", "bucket"), "left")
      .join(prev, Seq("event_type", "day_idx", "bucket"), "left")
      .withColumn("p", (coalesce(col("n"), lit(0L)) + 1).cast("double")
        / (col("tot") + B).cast("double"))
      .withColumn("q", (coalesce(col("n_prev"), lit(0L)) + 1).cast("double")
        / (col("tot_prev") + B).cast("double"))
      .withColumn("term_nano",
        expr("CAST(floor((p - q) * ln(p / q) * 1000000000.0 + 0.5) AS BIGINT)"))
      .groupBy("event_type", "day_idx")
      .agg(max("tot").as("n_curr"), max("tot_prev").as("n_prev"),
        sum("term_nano").as("psi_nano"))
      .withColumn("drift", (col("psi_nano") > 200000000L).cast("int"))
      .orderBy("event_type", "day_idx")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t29_psi_drift" -> t29,
    "t26_attribution" -> t26,
    "t25_cusum_changepoint" -> t25,
    "t24_seasonal_profile" -> t24,
    "t23_mad_outliers" -> t23,
    "t22_holt_trend" -> t22,
    "t20_ewma" -> t20,
    "t21_peak_concurrency" -> t21,
    "t19_gap_report" -> t19,
    "t18_rolling_zscore" -> t18,
    "t17_ohlc_bars" -> t17,
    "t16_interval_union" -> t16,
    "t14_session_dynamic_gap" -> t14,
    "t13_stream_enrich" -> t13,
    "t12_sliding_distinct" -> t12,
    "t07_funnel" -> t07,
    "t09_session_paths" -> t09,
    "t27_pattern_match" -> t27,
    "t28_seasonal_anomaly" -> t28,
    "t10_resample_ffill" -> t10,
    "t15_resample_interp" -> t15,
    "t11_conversion_window" -> t11,
    "t08_cohort_retention" -> t08,
    "t01_tumbling" -> t01,
    "t02_sliding" -> t02,
    "t03_session" -> t03,
    "t04_late_data" -> t04,
    "t05_stateful_dedup" -> t05,
    "t06_stream_join" -> t13)

  val oracles: Map[String, String] = Map(
    // t26: the join restatement of the range frame — first/last via
    // deterministic (ts, id) row_numbers, zero-touch conversions kept
    // by the LEFT JOIN with COUNT(tid)
    // t29: same integer rollup; p/q/ln from the same integers with the
    // same double expression, every bucket term floor-rounded to nano
    // units BEFORE the sum (order-independent both engines)
    "t29_psi_drift" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts)//1000000//86400000 AS day_idx,
        |                  greatest(0, least(CAST(floor(value * 1000.0 + 0.5) AS BIGINT) // 10000,
        |                        63)) AS bucket
        |           FROM events),
        |c AS (SELECT event_type, day_idx, bucket, COUNT(*) AS n FROM e GROUP BY 1, 2, 3),
        |t AS (SELECT event_type, day_idx, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1, 2),
        |pr AS (SELECT a.event_type, a.day_idx, a.tot, b.tot AS tot_prev
        |       FROM t a JOIN t b ON a.event_type = b.event_type
        |        AND a.day_idx = b.day_idx + 1),
        |u AS (SELECT pr.*, bucket FROM pr
        |      CROSS JOIN (SELECT unnest(range(0, 64)) AS bucket)),
        |j AS (SELECT u.event_type, u.day_idx, u.tot, u.tot_prev,
        |             CAST(COALESCE(x.n, 0) + 1 AS DOUBLE)
        |               / CAST(u.tot + 64 AS DOUBLE) AS p,
        |             CAST(COALESCE(y.n_prev, 0) + 1 AS DOUBLE)
        |               / CAST(u.tot_prev + 64 AS DOUBLE) AS q
        |      FROM u
        |      LEFT JOIN c x ON u.event_type = x.event_type
        |        AND u.day_idx = x.day_idx AND u.bucket = x.bucket
        |      LEFT JOIN (SELECT event_type, day_idx + 1 AS day_idx, bucket,
        |                        n AS n_prev FROM c) y
        |        ON u.event_type = y.event_type AND u.day_idx = y.day_idx
        |        AND u.bucket = y.bucket)
        |SELECT event_type, day_idx, MAX(tot) AS n_curr, MAX(tot_prev) AS n_prev,
        |       CAST(SUM(CAST(floor((p - q) * ln(p / q) * 1000000000.0 + 0.5)
        |                     AS BIGINT)) AS BIGINT) AS psi_nano,
        |       CAST(CAST(SUM(CAST(floor((p - q) * ln(p / q) * 1000000000.0 + 0.5)
        |                     AS BIGINT)) AS BIGINT) > 200000000 AS INT) AS drift
        |FROM j GROUP BY event_type, day_idx
        |ORDER BY event_type, day_idx""".stripMargin,
    "t26_attribution" ->
      """WITH conv AS (
        |  SELECT user_id, event_id AS conv_id, epoch_ns(ts)//1000000 AS conv_ts
        |  FROM events WHERE event_type = 'purchase'),
        |touch AS (
        |  SELECT user_id, event_id AS tid, event_type AS ttype,
        |         epoch_ns(ts)//1000000 AS tts
        |  FROM events WHERE event_type IN ('view', 'click')),
        |j AS (
        |  SELECT c.user_id, c.conv_id, c.conv_ts, t.tid, t.ttype, t.tts
        |  FROM conv c LEFT JOIN touch t
        |    ON t.user_id = c.user_id
        |   AND t.tts < c.conv_ts AND t.tts >= c.conv_ts - 604800000),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY conv_id ORDER BY tts, tid) AS rn_a,
        |    row_number() OVER (PARTITION BY conv_id ORDER BY tts DESC, tid DESC) AS rn_d
        |  FROM j)
        |SELECT user_id, conv_id, conv_ts,
        |       CAST(COUNT(tid) AS BIGINT) AS n_touches,
        |       MIN(CASE WHEN rn_a = 1 THEN tts END) AS first_ts,
        |       MIN(CASE WHEN rn_a = 1 THEN ttype END) AS first_type,
        |       MIN(CASE WHEN rn_d = 1 THEN tts END) AS last_ts,
        |       MIN(CASE WHEN rn_d = 1 THEN ttype END) AS last_type
        |FROM r GROUP BY 1, 2, 3
        |ORDER BY user_id, conv_id""".stripMargin,
    // t25: t22's recursive-CTE pattern (base MATERIALIZED, rn join, all
    // literals CAST to DOUBLE); μ from the exact DECIMAL hourly-sum
    // total so both engines divide the same numerator; the alarm
    // compares the RAW running S (identical doubles), not the floored
    // display value
    "t25_cusum_changepoint" ->
      """WITH RECURSIVE roll AS MATERIALIZED (
        |  SELECT event_type, (epoch_ns(ts)//1000000 // 3600000) * 3600000 AS hour_ms,
        |         SUM(CAST(value AS DECIMAL(38,4))) AS xd
        |  FROM events GROUP BY 1, 2),
        |mu AS MATERIALIZED (
        |  SELECT event_type, CAST(SUM(xd) AS DOUBLE) / COUNT(*) AS mu
        |  FROM roll GROUP BY 1),
        |base AS MATERIALIZED (
        |  SELECT r.event_type, r.hour_ms, CAST(r.xd AS DOUBLE) AS x, m.mu,
        |         row_number() OVER (PARTITION BY r.event_type ORDER BY r.hour_ms) AS rn
        |  FROM roll r JOIN mu m ON m.event_type = r.event_type),
        |rec AS (
        |  SELECT event_type, hour_ms, x, mu, rn,
        |         greatest(CAST(0 AS DOUBLE), x - mu * CAST(1.1 AS DOUBLE)) AS s
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.event_type, b.hour_ms, b.x, b.mu, b.rn,
        |         greatest(CAST(0 AS DOUBLE), r.s + b.x - b.mu * CAST(1.1 AS DOUBLE))
        |  FROM rec r JOIN base b ON b.event_type = r.event_type AND b.rn = r.rn + 1)
        |SELECT event_type, hour_ms, x,
        |       floor(s * 1000000.0 + 0.5) / 1000000.0 AS cusum,
        |       CAST(CASE WHEN s > mu * CAST(3 AS DOUBLE) THEN 1 ELSE 0 END AS BIGINT) AS alarm
        |FROM rec ORDER BY event_type, hour_ms""".stripMargin,
    // t22: the two-state recurrence IS expressible in DuckDB — a
    // recursive CTE advancing every series one hour per iteration (720
    // hourly rows per series; measured 0.8 s at sf0.1 with the base CTE
    // MATERIALIZED — without it DuckDB re-evaluates the events rollup
    // every iteration, 27 s). Every literal is CAST to DOUBLE so both
    // engines evaluate the identical IEEE-754 expression in the same
    // order (a bare 0.7 DECIMAL literal would fold 1−0.3 exactly where
    // Scala's double arithmetic doesn't); the new level is recomputed
    // inline in the trend update — same doubles as the sequential
    // Scala fold. t20 stays no-oracle: its recurrence runs over RAW
    // events (20k rows/series at sf0.1) and a one-row-per-iteration
    // recursive CTE was measured >120 s — any reassociated closed form
    // diverges in final-bit doubles, so the spec's exact sequential
    // replay remains the gate.
    "t22_holt_trend" ->
      """WITH RECURSIVE roll AS MATERIALIZED (
        |  SELECT event_type, (epoch_ns(ts)//1000000 // 3600000) * 3600000 AS hour_ms,
        |         CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2),
        |base AS MATERIALIZED (
        |  SELECT event_type, hour_ms, x,
        |         row_number() OVER (PARTITION BY event_type ORDER BY hour_ms) AS rn
        |  FROM roll),
        |rec AS (
        |  SELECT event_type, hour_ms, x, rn, x AS level, CAST(0 AS DOUBLE) AS trend
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.event_type, b.hour_ms, b.x, b.rn,
        |         CAST(0.5 AS DOUBLE) * b.x + (CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE)) * (r.level + r.trend),
        |         CAST(0.3 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * b.x + (CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE)) * (r.level + r.trend)) - r.level)
        |           + (CAST(1 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * r.trend
        |  FROM rec r JOIN base b ON b.event_type = r.event_type AND b.rn = r.rn + 1)
        |SELECT event_type, hour_ms, x,
        |       floor(level * 1000000.0 + 0.5) / 1000000.0 AS level,
        |       floor(trend * 1000000.0 + 0.5) / 1000000.0 AS trend,
        |       floor((level + trend) * 1000000.0 + 0.5) / 1000000.0 AS forecast_next
        |FROM rec ORDER BY event_type, hour_ms""".stripMargin,
    // t23: the same milli-unit quantization and first-crossing median
    // t24: the same integer rollup/profile/cross-multiplied gate
    "t24_seasonal_profile" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_ns(ts)//1000000 // 3600000 AS hr,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |prof AS (
        |  SELECT event_type, hr % 24 AS hod, CAST(COUNT(*) AS BIGINT) AS n_hours,
        |         CAST(SUM(n) AS BIGINT) AS total, CAST(MAX(n) AS BIGINT) AS peak
        |  FROM hourly GROUP BY 1, 2),
        |anom AS (
        |  SELECT h.event_type, h.hr % 24 AS hod, CAST(COUNT(*) AS BIGINT) AS n_hot
        |  FROM hourly h JOIN prof p ON p.event_type = h.event_type AND p.hod = h.hr % 24
        |  WHERE h.n * p.n_hours * 2 > p.total * 3
        |  GROUP BY 1, 2)
        |SELECT p.event_type, CAST(p.hod AS BIGINT) AS hod, p.n_hours, p.total,
        |       floor(CAST(p.total AS DOUBLE) / p.n_hours * 1000000.0 + 0.5)
        |         / 1000000.0 AS mean_per_hour,
        |       p.peak, CAST(coalesce(a.n_hot, 0) AS BIGINT) AS n_hot_hours
        |FROM prof p LEFT JOIN anom a ON a.event_type = p.event_type AND a.hod = p.hod
        |ORDER BY 1, 2""".stripMargin,
    // t28: t24's hourly/profile CTEs + t23's two windowed median-low
    // passes over the milli-unit residual (floor division — exact and
    // identical in both engines)
    "t28_seasonal_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_ns(ts)//1000000 // 3600000 AS hr,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |prof AS (
        |  SELECT event_type, hr % 24 AS hod, CAST(COUNT(*) AS BIGINT) AS n_hours,
        |         CAST(SUM(n) AS BIGINT) AS total
        |  FROM hourly GROUP BY 1, 2),
        |r AS (
        |  SELECT h.event_type, h.hr, h.n,
        |         h.n * 1000 - (p.total * 1000 // p.n_hours) AS rm
        |  FROM hourly h JOIN prof p
        |    ON p.event_type = h.event_type AND p.hod = h.hr % 24),
        |g AS (SELECT event_type, rm, COUNT(*) AS w FROM r GROUP BY 1, 2),
        |c AS (SELECT *,
        |        SUM(w) OVER (PARTITION BY event_type ORDER BY rm
        |                     ROWS UNBOUNDED PRECEDING) AS cum,
        |        SUM(w) OVER (PARTITION BY event_type) AS tot FROM g),
        |med AS (SELECT event_type, MIN(rm) AS med
        |        FROM c WHERE cum * 2 >= tot GROUP BY 1),
        |d AS (SELECT r.event_type, rm, med, abs(rm - med) AS dev
        |      FROM r JOIN med USING (event_type)),
        |g2 AS (SELECT event_type, dev, COUNT(*) AS w FROM d GROUP BY 1, 2),
        |c2 AS (SELECT *,
        |         SUM(w) OVER (PARTITION BY event_type ORDER BY dev
        |                      ROWS UNBOUNDED PRECEDING) AS cum,
        |         SUM(w) OVER (PARTITION BY event_type) AS tot FROM g2),
        |mad AS (SELECT event_type, MIN(dev) AS mad
        |        FROM c2 WHERE cum * 2 >= tot GROUP BY 1)
        |SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
        |       CAST(MIN(d.med) AS DOUBLE) / 1000.0 AS median_resid,
        |       CAST(MIN(m.mad) AS DOUBLE) / 1000.0 AS mad,
        |       CAST(SUM(CASE WHEN d.dev > m.mad * 3 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_anomalies,
        |       CAST(MAX(abs(d.rm)) AS DOUBLE) / 1000.0 AS max_abs_resid
        |FROM d JOIN mad m USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // picks, spelled as two windowed CTE passes
    "t23_mad_outliers" ->
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS vm
        |  FROM events),
        |g AS (SELECT event_type, vm, COUNT(*) AS w FROM e GROUP BY 1, 2),
        |c AS (SELECT *,
        |        SUM(w) OVER (PARTITION BY event_type ORDER BY vm
        |                     ROWS UNBOUNDED PRECEDING) AS cum,
        |        SUM(w) OVER (PARTITION BY event_type) AS tot FROM g),
        |med AS (SELECT event_type, MIN(vm) AS med
        |        FROM c WHERE cum * 2 >= tot GROUP BY 1),
        |d AS (SELECT e.event_type, vm, med, abs(vm - med) AS dev
        |      FROM e JOIN med USING (event_type)),
        |g2 AS (SELECT event_type, dev, COUNT(*) AS w FROM d GROUP BY 1, 2),
        |c2 AS (SELECT *,
        |        SUM(w) OVER (PARTITION BY event_type ORDER BY dev
        |                     ROWS UNBOUNDED PRECEDING) AS cum,
        |        SUM(w) OVER (PARTITION BY event_type) AS tot FROM g2),
        |mad AS (SELECT event_type, MIN(dev) AS mad
        |        FROM c2 WHERE cum * 2 >= tot GROUP BY 1)
        |SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(MIN(med) AS DOUBLE) / 1000.0 AS median,
        |       CAST(MIN(mad) AS DOUBLE) / 1000.0 AS mad,
        |       CAST(SUM(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_outliers,
        |       CAST(MAX(dev) AS DOUBLE) / 1000.0 AS max_dev
        |FROM d JOIN mad USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // t21: same sweep-line (+1/-1), same end-before-start boundary rule,
    // argmax spelled as rank-1 over (conc DESC, t ASC)
    "t21_peak_concurrency" ->
      """WITH e AS (
        |  SELECT event_type, event_id, epoch_ns(ts)//1000000 AS ts_ms
        |  FROM events),
        |b AS (
        |  SELECT event_type, event_id, ts_ms AS t, 1 AS delta FROM e
        |  UNION ALL
        |  SELECT event_type, event_id, ts_ms + 600000, -1 FROM e),
        |c AS (
        |  SELECT *, SUM(delta) OVER (PARTITION BY event_type
        |              ORDER BY t, delta, event_id
        |              ROWS UNBOUNDED PRECEDING) AS conc
        |  FROM b),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |              ORDER BY conc DESC, t ASC) AS rn
        |  FROM c)
        |SELECT event_type,
        |       CAST(MAX(conc) AS BIGINT) AS peak,
        |       MAX(CASE WHEN rn = 1 THEN t END) AS first_peak_ms,
        |       COUNT(*) AS n_boundary_events
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    // t19: same data-relative 4×-mean-spacing rule, same (ts, id) order
    "t19_gap_report" ->
      """WITH e AS (
        |  SELECT event_type, event_id, epoch_ns(ts)//1000000 AS ts_ms
        |  FROM events),
        |s AS (
        |  SELECT event_type,
        |         (MAX(ts_ms) - MIN(ts_ms)) / CAST(COUNT(*) - 1 AS DOUBLE) AS mean_gap_ms
        |  FROM e GROUP BY event_type),
        |x AS (
        |  SELECT e.*, s.mean_gap_ms,
        |         lead(ts_ms) OVER (PARTITION BY e.event_type
        |                           ORDER BY ts_ms, event_id) AS next_ts
        |  FROM e JOIN s ON e.event_type = s.event_type)
        |SELECT event_type, ts_ms AS gap_start_ms, next_ts AS gap_end_ms,
        |       next_ts - ts_ms AS gap_ms,
        |       floor((next_ts - ts_ms) / mean_gap_ms * 1000000.0 + 0.5)
        |         / 1000000.0 AS gap_x_mean
        |FROM x
        |WHERE next_ts IS NOT NULL
        |  AND CAST(next_ts - ts_ms AS DOUBLE) > mean_gap_ms * 4
        |ORDER BY event_type, gap_start_ms""".stripMargin,
    // t18: identical trailing frame (100 PRECEDING .. 1 PRECEDING) and
    // warm-up/degenerate-sd NULL rules; mean/stddev derived from exact
    // integer milli-unit frame sums so neither engine's windowed
    // float-aggregation order can perturb the 1e-6 floor
    "t18_rolling_zscore" ->
      """WITH e AS (
        |  SELECT event_type, event_id, value,
        |         CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS vm,
        |         epoch_ns(ts)//1000000 AS ts_ms
        |  FROM events),
        |fs AS (
        |  SELECT *,
        |    COUNT(*) OVER w AS n_window,
        |    CAST(SUM(vm) OVER w AS BIGINT) AS s1,
        |    CAST(SUM(vm * vm) OVER w AS BIGINT) AS s2
        |  FROM e
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts_ms, event_id
        |               ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)),
        |wf AS (
        |  SELECT *,
        |    CASE WHEN n_window > 0
        |         THEN CAST(s1 AS DOUBLE) / (n_window * 1000.0) END AS mu,
        |    CASE WHEN n_window > 1
        |         THEN sqrt(greatest(0.0, (CAST(s2 AS DOUBLE) / 1000000.0
        |              - (CAST(s1 AS DOUBLE) / 1000.0) *
        |                (CAST(s1 AS DOUBLE) / (n_window * 1000.0)))
        |              / (n_window - 1))) END AS sd
        |  FROM fs)
        |SELECT event_type, event_id, ts_ms, value, n_window,
        |       CASE WHEN n_window >= 20 AND sd > 0
        |            THEN floor((vm / 1000.0 - mu) / sd * 1000000.0 + 0.5) / 1000000.0
        |       END AS z,
        |       CASE WHEN n_window >= 20 AND sd > 0
        |            THEN abs(floor((vm / 1000.0 - mu) / sd * 1000000.0 + 0.5) / 1000000.0) > 3.0
        |            ELSE FALSE END AS is_anomaly
        |FROM wf ORDER BY event_type, ts_ms, event_id""".stripMargin,
    // t17: open/close spelled as rank-1 rows over the explicit
    // (ts, event_id) order — the engine-portable image of
    // min_by/max_by(value, struct(ts_ms, event_id))
    "t17_ohlc_bars" ->
      """WITH e AS (
        |  SELECT event_type, event_id, value,
        |         epoch_ns(ts)//1000000 AS ts_ms,
        |         (epoch_ns(ts)//1000000 // 3600000) * 3600000 AS hour_start_ms
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type, hour_start_ms
        |                       ORDER BY ts_ms, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, hour_start_ms
        |                       ORDER BY ts_ms DESC, event_id DESC) AS rn_d
        |  FROM e)
        |SELECT event_type, hour_start_ms, COUNT(*) AS n,
        |       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
        |       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
        |       MAX(value) AS high, MIN(value) AS low,
        |       CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS volume
        |FROM r GROUP BY event_type, hour_start_ms
        |ORDER BY event_type, hour_start_ms""".stripMargin,
    // t16: marginal coverage vs the running max of preceding interval
    // ends — the same one-pass union-length recurrence as the Spark side
    "t16_interval_union" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts)//1000000 AS ts_ms,
        |         epoch_ns(ts)//1000000 + 600000 AS end_ms
        |  FROM events),
        |m AS (
        |  SELECT *, max(end_ms) OVER (PARTITION BY user_id
        |              ORDER BY ts_ms, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM e),
        |c AS (
        |  SELECT user_id, ts_ms, end_ms,
        |         CASE WHEN prev_end IS NULL THEN end_ms - ts_ms
        |              ELSE greatest(0, end_ms - greatest(ts_ms, prev_end)) END AS covered
        |  FROM m)
        |SELECT user_id, COUNT(*) AS n_events,
        |       CAST(SUM(covered) AS BIGINT) AS covered_ms,
        |       MAX(end_ms) - MIN(ts_ms) AS span_ms,
        |       floor(SUM(covered) / CAST(MAX(end_ms) - MIN(ts_ms) AS DOUBLE)
        |             * 1000000.0 + 0.5) / 1000000.0 AS coverage
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin,
    // t14: variable-gap islands — prev_end must be the RUNNING MAX of
    // ts+gap over all preceding rows (with variable gaps, the latest
    // event is not necessarily the latest-expiring one)
    "t14_session_dynamic_gap" ->
      """WITH e AS (
        |  SELECT user_id, value, epoch_ns(ts)//1000000 AS ts_ms, event_id,
        |         CASE WHEN event_type = 'click' THEN 600000 ELSE 1800000 END AS gap
        |  FROM events),
        |m AS (
        |  SELECT *, max(ts_ms + gap) OVER (PARTITION BY user_id
        |              ORDER BY ts_ms, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM e),
        |flagged AS (
        |  SELECT *, CASE WHEN prev_end IS NULL OR ts_ms >= prev_end
        |                 THEN 1 ELSE 0 END AS new_s
        |  FROM m),
        |sessions AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id, MIN(ts_ms) AS session_start_ms,
        |       MAX(ts_ms + gap) AS session_end_ms,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start_ms""".stripMargin,
    "t13_stream_enrich" ->
      """SELECT event_id, user_id, c_name, c_mktsegment, value
        |FROM events JOIN customer ON user_id = c_custkey
        |ORDER BY event_id""".stripMargin,
    // each event belongs to the 6 hourly-aligned windows whose start is
    // in (hour_floor(ts) - 5h .. hour_floor(ts)] — the same bounded
    // explode Spark's window() generator performs
    "t12_sliding_distinct" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts)//1000000 AS ts_ms FROM events),
        |x AS (SELECT user_id,
        |             unnest(generate_series((ts_ms // 3600000) - 5, ts_ms // 3600000))
        |               * 3600000 AS win_start_ms
        |      FROM e)
        |SELECT win_start_ms, COUNT(DISTINCT user_id) AS n_users,
        |       COUNT(*) AS n_events
        |FROM x GROUP BY win_start_ms ORDER BY win_start_ms""".stripMargin,
    "t11_conversion_window" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000000 AS ts_ms
        |           FROM events),
        |s1 AS (SELECT user_id, MIN(ts_ms) AS t_view
        |       FROM e WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(e.ts_ms) AS t_click
        |       FROM e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts_ms > s1.t_view
        |         AND e.ts_ms <= s1.t_view + 86400000
        |       GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(e.ts_ms) AS t_purchase
        |       FROM e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts_ms > s2.t_click
        |         AND e.ts_ms <= s2.t_click + 604800000
        |       GROUP BY e.user_id)
        |SELECT s1.user_id, s1.t_view, s2.t_click, s3.t_purchase,
        |       1 + CAST(s2.t_click IS NOT NULL AS INT)
        |         + CAST(s3.t_purchase IS NOT NULL AS INT) AS reached
        |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |        LEFT JOIN s3 ON s1.user_id = s3.user_id
        |ORDER BY s1.user_id""".stripMargin,
    // t15: bracketing observations via the same two IGNORE NULLS frames;
    // (hour, value) pairs stay paired through CASE-guarded projections of
    // the same frame (DuckDB has no struct-typed window result to carry)
    "t15_resample_interp" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts)//1000000//3600000 AS hour, value
        |           FROM events),
        |hourly AS (SELECT event_type, hour, COUNT(*) AS n,
        |                  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
        |           FROM e GROUP BY 1, 2),
        |b AS (SELECT MIN(hour) AS h0, MAX(hour) AS h1 FROM e),
        |grid AS (SELECT t.event_type, unnest(generate_series(b.h0, b.h1)) AS hour
        |         FROM (SELECT DISTINCT event_type FROM e) t, b),
        |j AS (SELECT grid.event_type, grid.hour, hourly.n, hourly.sum_value
        |      FROM grid LEFT JOIN hourly
        |        ON grid.event_type = hourly.event_type AND grid.hour = hourly.hour),
        |w AS (SELECT *,
        |        last_value(CASE WHEN sum_value IS NOT NULL THEN hour END IGNORE NULLS)
        |          OVER wp AS ph,
        |        last_value(sum_value IGNORE NULLS) OVER wp AS pv,
        |        first_value(CASE WHEN sum_value IS NOT NULL THEN hour END IGNORE NULLS)
        |          OVER wf AS nh,
        |        first_value(sum_value IGNORE NULLS) OVER wf AS nv
        |      FROM j
        |      WINDOW wp AS (PARTITION BY event_type ORDER BY hour
        |                    ROWS UNBOUNDED PRECEDING),
        |             wf AS (PARTITION BY event_type ORDER BY hour
        |                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, hour * 3600000 AS hour_start_ms,
        |       COALESCE(n, 0) AS n,
        |       sum_value IS NOT NULL AS observed,
        |       CASE WHEN sum_value IS NOT NULL THEN sum_value
        |            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |              pv + (nv - pv) * CAST(hour - ph AS DOUBLE)
        |                             / CAST(nh - ph AS DOUBLE)
        |       END AS value_interp
        |FROM w ORDER BY 1, 2""".stripMargin,
    "t10_resample_ffill" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts)//1000000//3600000 AS hour, value
        |           FROM events),
        |hourly AS (SELECT event_type, hour, COUNT(*) AS n,
        |                  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
        |           FROM e GROUP BY 1, 2),
        |b AS (SELECT MIN(hour) AS h0, MAX(hour) AS h1 FROM e),
        |grid AS (SELECT t.event_type, unnest(generate_series(b.h0, b.h1)) AS hour
        |         FROM (SELECT DISTINCT event_type FROM e) t, b)
        |SELECT grid.event_type, grid.hour * 3600000 AS hour_start_ms,
        |       COALESCE(hourly.n, 0) AS n,
        |       hourly.sum_value IS NOT NULL AS observed,
        |       last_value(hourly.sum_value IGNORE NULLS) OVER (
        |         PARTITION BY grid.event_type ORDER BY grid.hour
        |         ROWS UNBOUNDED PRECEDING) AS sum_value_ffill
        |FROM grid LEFT JOIN hourly
        |  ON grid.event_type = hourly.event_type AND grid.hour = hourly.hour
        |ORDER BY 1, 2""".stripMargin,
    // t27: t09's session CTEs, the sequence as first-letter chars, the
    // same search-semantics regexes (character classes only — identical
    // in Java regex and DuckDB RE2)
    "t27_pattern_match" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts)//1000000 AS ts_ms
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
        |                 OR ts_ms - lag(ts_ms) OVER w >= 1800000
        |            THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
        |sessions AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |seqs AS (
        |  SELECT user_id, sid,
        |         array_to_string(list(substr(event_type, 1, 1) ORDER BY ts_ms, event_id), '') AS seq
        |  FROM sessions GROUP BY user_id, sid),
        |cls AS (
        |  SELECT user_id,
        |         CASE WHEN regexp_matches(seq, 'v[^e]*p') THEN 'clean_conversion'
        |              WHEN regexp_matches(seq, 'v.*p') THEN 'error_conversion'
        |              WHEN len(seq) = 1 THEN 'bounce'
        |              ELSE 'engaged' END AS pattern
        |  FROM seqs)
        |SELECT pattern, COUNT(*) AS n_sessions, COUNT(DISTINCT user_id) AS n_users
        |FROM cls GROUP BY pattern ORDER BY pattern""".stripMargin,
    "t09_session_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts)//1000000 AS ts_ms
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
        |                 OR ts_ms - lag(ts_ms) OVER w >= 1800000
        |            THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
        |sessions AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |paths AS (
        |  SELECT user_id, sid,
        |         array_to_string(list(event_type ORDER BY ts_ms, event_id, event_type), '>') AS path
        |  FROM sessions GROUP BY user_id, sid)
        |SELECT path, COUNT(*) AS n_sessions, COUNT(DISTINCT user_id) AS n_users
        |FROM paths GROUP BY path
        |ORDER BY n_sessions DESC, path""".stripMargin,
    "t08_cohort_retention" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000000 AS ts_ms
        |           FROM events),
        |cohort AS (SELECT user_id, MIN(ts_ms) AS t0,
        |                  MIN(ts_ms) // 604800000 AS cohort_week
        |           FROM e WHERE event_type = 'signup' GROUP BY user_id)
        |SELECT c.cohort_week, (e.ts_ms // 604800000) - c.cohort_week AS week_offset,
        |       COUNT(DISTINCT e.user_id) AS n_users
        |FROM e JOIN cohort c ON e.user_id = c.user_id
        |WHERE e.ts_ms >= c.t0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t07_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000000 AS ts_ms
        |           FROM events),
        |s1 AS (SELECT user_id, MIN(ts_ms) AS t_view
        |       FROM e WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(e.ts_ms) AS t_click
        |       FROM e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts_ms > s1.t_view
        |       GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(e.ts_ms) AS t_purchase
        |       FROM e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts_ms > s2.t_click
        |       GROUP BY e.user_id)
        |SELECT s1.user_id, s1.t_view, s2.t_click, s3.t_purchase,
        |       1 + CAST(s2.t_click IS NOT NULL AS INT)
        |         + CAST(s3.t_purchase IS NOT NULL AS INT) AS reached
        |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |        LEFT JOIN s3 ON s1.user_id = s3.user_id
        |ORDER BY s1.user_id""".stripMargin,
    "t01_tumbling" ->
      """SELECT (epoch_ns(ts)//1000000 // 600000) * 600000 AS win_start_ms,
        |       event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY win_start_ms, event_type
        |ORDER BY win_start_ms, event_type""".stripMargin,
    "t02_sliding" ->
      """WITH e AS (SELECT epoch_ns(ts)//1000000 AS ts_ms, value FROM events),
        |w AS (SELECT ((ts_ms - o.o) // 600000) * 600000 + o.o AS win_start_ms, value
        |      FROM e CROSS JOIN (VALUES (0), (300000)) o(o))
        |SELECT win_start_ms, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY win_start_ms ORDER BY win_start_ms""".stripMargin,
    "t03_session" ->
      """WITH e AS (
        |  SELECT user_id, value, epoch_ns(ts)//1000000 AS ts_ms, event_id FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN ts_ms - lag(ts_ms) OVER w >= 1800000
        |                 OR lag(ts_ms) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
        |sessions AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id, MIN(ts_ms) AS session_start_ms, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start_ms""".stripMargin,
    "t04_late_data" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts)//1000000 AS ts_ms FROM events)
        |SELECT event_type, COUNT(*) AS n, MIN(ts_ms) AS min_ms, MAX(ts_ms) AS max_ms
        |FROM e WHERE ts_ms >= (SELECT MAX(ts_ms) FROM e) - 3600000
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "t05_stateful_dedup" ->
      """SELECT user_id, event_type, event_id, ts_ms FROM (
        |  SELECT user_id, event_type, event_id, epoch_ns(ts)//1000000 AS ts_ms,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY epoch_ns(ts)//1000000, event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "t06_stream_join" ->
      """SELECT event_id, user_id, c_name, c_mktsegment, value
        |FROM events JOIN customer ON user_id = c_custkey
        |ORDER BY event_id""".stripMargin)
}
