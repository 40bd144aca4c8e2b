package graft.operators

import graft.{QueryModule, Tables}
import graft.Tables.dec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Changelog / CDC surfaces over the events table — the history-management
  * operators a production ingestion pipeline runs continuously: SCD2
  * interval building, incremental re-aggregation of mergeable partials, and
  * point-in-time state reconstruction.
  *
  * Scale notes (100 TB): all three shapes shuffle exactly once on the
  * entity key (`user_id`) or group key; windows evaluate within partitions.
  * h02 is the contract that makes daily ingestion O(delta) instead of
  * O(history): partial aggregates (count / decimal sum / min / max) merge
  * exactly, so yesterday's rollup is reused byte-for-byte and only the new
  * partition is scanned.
  */
object History extends QueryModule {

  /** h01: slowly-changing-dimension type-2 build. Each event is a state
    * change; validity spans [this ts, next ts) per user, open-ended for the
    * latest (`is_current`). One window over the user partition — no
    * self-join, no second shuffle. Ties on ts_ms break by event_id so the
    * interval chain is deterministic. */
  def h01(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("valid_to_ms", lead(col("ts_ms"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        col("ts_ms").as("valid_from_ms"), col("valid_to_ms"),
        col("valid_to_ms").isNull.as("is_current"))
      .orderBy("user_id", "valid_from_ms", "event_id")
  }

  /** h02: incremental aggregation via mergeable partials. The changelog is
    * split at a data-derived cutoff ((min+max)/2 of event time); each half
    * is pre-aggregated independently and the partials are merged by
    * re-aggregation — count/sum/min/max all merge exactly (sum in
    * DECIMAL(38,4), so the merge is order-independent). The oracle is the
    * single-pass full aggregate: merged partials must equal it exactly. */
  def h02(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"), col("ts_ms"), dec(col("value")).as("v"))
    val cut = e.agg(expr("(min(ts_ms) + max(ts_ms)) div 2").as("cut"))
    val tagged = e.crossJoin(broadcast(cut))
    def partial(df: DataFrame): DataFrame =
      df.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum(col("v")).as("s"),
        min(col("ts_ms")).as("mn"), max(col("ts_ms")).as("mx"))
    partial(tagged.filter(col("ts_ms") <= col("cut")))
      .unionAll(partial(tagged.filter(col("ts_ms") > col("cut"))))
      .groupBy("event_type")
      .agg(sum(col("n")).as("n"), sum(col("s")).cast("double").as("sum_value"),
        min(col("mn")).as("min_ms"), max(col("mx")).as("max_ms"))
      .orderBy("event_type")
  }

  /** h03: point-in-time state ("as of" the same data-derived cutoff as
    * h02): the latest event per user at ts_ms <= cutoff. Window + filter —
    * the time-travel read a reprocessing job issues against a changelog.
    * Users whose first event is after the cutoff have no state yet. */
  def h03(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val cut = e.agg(expr("(min(ts_ms) + max(ts_ms)) div 2").as("cut"))
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms").desc, col("event_id").desc)
    e.crossJoin(broadcast(cut))
      .filter(col("ts_ms") <= col("cut"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "event_type", "value", "ts_ms")
      .orderBy("user_id")
  }

  /** h05: changelog compaction with tombstones — the reference's R17
    * remove semantics as a relational pass. Ops are derived
    * deterministically from the data (every 10th event_id is a delete);
    * compaction = latest op per key wins, and a winning delete DROPS the
    * key entirely (tombstone) instead of surfacing a row. One shuffle on
    * the key for the window; at scale this is the compaction job that
    * rewrites a CDC topic into a snapshot table. n_versions counts the
    * log entries the compacted row superseded. */
  def h05(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("op",
        when(pmod(col("event_id"), lit(10)) === 0, "delete").otherwise("upsert"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_versions", count(lit(1)).over(Window.partitionBy("user_id")))
      .filter(col("rn") === 1 && col("op") =!= "delete")
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"), col("value").as("last_value"),
        col("ts_ms").as("last_ts_ms"), col("n_versions"))
      .orderBy("user_id")
  }

  /** h04: MERGE INTO semantics as one relational pass — the lakehouse
    * upsert/delete apply step (Delta/Iceberg MERGE, reference R17's
    * remove-never-cascades tombstones at the table level). Base = the
    * h03-style snapshot at the data-derived cutoff; changes = events after
    * the cutoff compacted to the latest op per key (every 10th event_id is
    * a delete, h05's derivation). Merge rules:
    *   matched  + upsert → update;   matched + delete → drop
    *   unmatched + upsert → insert;  unmatched + delete → no-op
    * Shape: two key-partitioned windows + ONE full outer join on the same
    * key — at 100 TB this is the nightly MERGE: both sides shuffle once on
    * user_id and the join reuses that partitioning; no second shuffle, no
    * row explosion. `action` records which MERGE arm fired. */
  def h04(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("ts_ms"))
    val cut = e.agg(expr("(min(ts_ms) + max(ts_ms)) div 2").as("cut"))
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms").desc, col("event_id").desc)
    val base = e.crossJoin(broadcast(cut)).filter(col("ts_ms") <= col("cut"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("b_event_id"),
        col("event_type").as("b_type"), col("value").as("b_value"),
        col("ts_ms").as("b_ts_ms"))
    val changes = e.crossJoin(broadcast(cut)).filter(col("ts_ms") > col("cut"))
      .withColumn("op",
        when(pmod(col("event_id"), lit(10)) === 0, "delete").otherwise("upsert"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("op"), col("event_id").as("c_event_id"),
        col("event_type").as("c_type"), col("value").as("c_value"),
        col("ts_ms").as("c_ts_ms"))
    base.join(changes, Seq("user_id"), "full_outer")
      // both delete arms end in no row: matched-delete drops the key,
      // unmatched-delete is a no-op
      .filter(col("op").isNull || col("op") === "upsert")
      .select(col("user_id"),
        coalesce(col("c_event_id"), col("b_event_id")).as("event_id"),
        coalesce(col("c_type"), col("b_type")).as("event_type"),
        coalesce(col("c_value"), col("b_value")).as("value"),
        coalesce(col("c_ts_ms"), col("b_ts_ms")).as("ts_ms"),
        when(col("op").isNull, "keep")
          .when(col("b_event_id").isNull, "insert")
          .otherwise("update").as("action"))
      .orderBy("user_id")
  }

  /** h06: incremental JOIN-view maintenance — the delta algebra
    *   Δ(A ⋈ B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB
    * that turns a continuously-maintained join view from O(history) into
    * O(delta) per refresh. The view here is the orders⋈lineitem revenue
    * rollup; both inputs split at a fixed date into base (₀) and delta
    * (Δ). Each of the four terms is partially aggregated INDEPENDENTLY
    * and the partials merge by re-aggregation (h02's contract: counts and
    * DECIMAL sums merge exactly) — bit-identical to the full recompute
    * the oracle runs. At 100 TB only the three delta terms run per
    * refresh (V₀ is the stored view); each joins a day's delta against a
    * base keyed the same way — delta-side shuffle only, base side served
    * by its bucketing. */
  def h06(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit("1999-01-01").cast("timestamp_ntz")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"),
        dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val (o0, od) = (o.filter(col("o_orderdate") < cut), o.filter(col("o_orderdate") >= cut))
    val (l0, ld) = (l.filter(col("l_shipdate") < cut), l.filter(col("l_shipdate") >= cut))
    def term(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("rev")).as("s"))
    term(o0, l0).unionAll(term(od, l0)).unionAll(term(o0, ld)).unionAll(term(od, ld))
      .groupBy("o_orderpriority")
      .agg(sum(col("n")).as("n_lines"), sum(col("s")).cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Latest-op-wins live rows of a changelog slice: one row per user whose
    * winning op is an upsert (h05's compaction semantics). */
  private def liveRows(log: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms").desc, col("event_id").desc)
    log.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") === "upsert")
      .select("user_id", "event_type", "v")
  }

  /** Aggregate-view maintenance WITH RETRACTIONS — h06's delta algebra
    * extended to a changelog that deletes. The view is Σ/count of live
    * rows per event_type; a delta batch maintains it as insert/retract
    * pairs instead of a recompute:
    *
    *   retract(old state) for every user the delta touches that was live
    *   in the base; insert(new state) for every user whose post-delta
    *   winner is an upsert. ΔV = Σ(±1, ±value); V₁ = reaggregate(V₀ ∪ ΔV).
    *
    * Correctness lean: every touched user's post-delta winner IS their
    * latest delta row (delta timestamps all exceed base timestamps), so
    * the new state derives from the delta alone — the base is only probed
    * for the retract side, a key-join a bucketed base table serves
    * without a full shuffle. Counts and DECIMAL(38,4) sums are invertible
    * (x + v − v = x exactly), which is what makes retraction maintenance
    * exact; min/max are NOT invertible under deletes — they need h02-style
    * full partials or ordered state, the documented boundary of this
    * operator. Groups maintained down to zero rows drop out of the view
    * (n_live > 0), matching the recompute image. */
  def maintainAggView(base: DataFrame, delta: DataFrame): DataFrame = {
    val v0 = liveRows(base).groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
    val touched = delta.select("user_id").distinct()
    val retracts = liveRows(base).join(touched, "user_id")
      .select(col("event_type"), lit(-1L).as("n"), (-col("v")).as("s"))
    val inserts = liveRows(delta)
      .select(col("event_type"), lit(1L).as("n"), col("v").as("s"))
    val deltaV = retracts.unionAll(inserts)
      .groupBy("event_type").agg(sum("n").as("n"), sum("s").as("s"))
    v0.unionAll(deltaV)
      .groupBy("event_type")
      .agg(sum("n").as("n_live"), sum("s").cast("double").as("sum_value"))
      .filter(col("n_live") > 0)
      .orderBy("event_type")
  }

  /** h07: the oracled instance of [[maintainAggView]] — ops derived as in
    * h05 (every 10th event_id deletes), split at the h02 data-derived
    * cutoff; the oracle is the FULL recompute over the post-delta live
    * set, which the incremental merge must equal bit-for-bit. */
  def h07(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        dec(col("value")).as("v"), col("ts_ms"),
        when(pmod(col("event_id"), lit(10)) === 0, "delete")
          .otherwise("upsert").as("op"))
    val cut = e.agg(expr("(min(ts_ms) + max(ts_ms)) div 2").as("cut"))
    val ec = e.crossJoin(broadcast(cut))
    maintainAggView(
      ec.filter(col("ts_ms") <= col("cut")),
      ec.filter(col("ts_ms") > col("cut")))
  }

  /** h08: point-in-time (feature-store) join — every FACT row is
    * enriched with the dimension state that was valid AT ITS OWN event
    * time, never a later one (the training-serving-skew guard: a
    * training example must see exactly the features production saw).
    * State events (signup/purchase/error) become h01's SCD2 interval
    * chain per user; facts (click/view) join their user's interval with
    * valid_from ≤ t < valid_to. The join key is the EQUI user_id — the
    * interval predicate is a residual filter on the hash join, and
    * since a user's intervals partition time, each fact matches at most
    * one state row (no fan-out); facts before any state survive as
    * NULL-state rows via the left join. At 100 TB this is one key
    * shuffle of each side, the same plan a feature store's
    * point-in-time query engine runs; at sf0.1 AQE turns the join into a
    * broadcast of the state side at run time, so the facts never
    * shuffle.
    *
    * Not a binding of [[Joins.asOf]]: its `back` over the states gives
    * the same rows (the max (ts_ms, event_id) state at or before the
    * fact; equal-ms states get zero-width intervals here), but it
    * shuffles every fact. Measured with graft.tools.ProfileQuery at
    * sf0.1, `local[4]`, 3 alternating pairs, task-seconds median:
    * parent 0.598 s, asOf 1.263 s (8 tasks instead of 6); the
    * struct-window form of asOf read 0.852 s against 0.600 s. */
  def h08(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
    val scd = e.filter(col("event_type").isin("signup", "purchase", "error"))
      .withColumn("valid_to_ms", lead(col("ts_ms"), 1).over(w))
      .select(col("user_id").as("s_user_id"),
        col("event_id").as("state_event_id"),
        col("event_type").as("state_type"),
        col("value").as("state_value"),
        col("ts_ms").as("valid_from_ms"), col("valid_to_ms"))
    val facts = e.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_id").as("fact_id"),
        col("event_type").as("fact_type"), col("ts_ms").as("fact_ts_ms"))
    facts.join(scd,
        facts("user_id") === col("s_user_id") &&
          col("valid_from_ms") <= col("fact_ts_ms") &&
          (col("valid_to_ms").isNull || col("fact_ts_ms") < col("valid_to_ms")),
        "left")
      .select(col("user_id"), col("fact_id"), col("fact_type"), col("fact_ts_ms"),
        col("state_event_id"), col("state_type"), col("state_value"))
      .orderBy("user_id", "fact_ts_ms", "fact_id")
  }

  /** h12: LATE-ARRIVING DIMENSION — h08's point-in-time join with the
    * Kimball retro-activation fix. A fact that precedes its user's FIRST
    * dimension version (the dimension row arrived late, after facts had
    * already referenced the key) binds to that earliest version instead
    * of surfacing NULL state, and carries a `retro` flag so downstream
    * can audit every inferred attribution. Facts of users with no
    * dimension rows at all stay NULL (there is nothing to retro-bind).
    *
    * Scale shape: the interval join is h08's one user-key equi shuffle
    * with a residual time filter (a user's intervals partition time — no
    * fan-out); the earliest-version frame is USER-sized and joins on the
    * same key, so the fix rides the existing exchange, adding no
    * data-sized work.
    *
    * Not a binding of [[Joins.asOf]]: coalesce(back, fwd) gives the same
    * rows (a fact with no earlier state has all of its user's states
    * strictly later, so `fwd` is the first version), but measured slower
    * at sf0.1 (graft.tools.ProfileQuery, `local[4]`, 3 alternating pairs,
    * task-seconds median): parent 1.034 s, asOf 1.312 s; the
    * struct-window form of asOf read 1.059 s against 0.698 s. */
  def h12(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
    val dim = e.filter(col("event_type").isin("signup", "purchase", "error"))
    val scd = dim.withColumn("valid_to_ms", lead(col("ts_ms"), 1).over(w))
      .select(col("user_id").as("s_user_id"),
        col("event_id").as("state_event_id"),
        col("value").as("state_value"),
        col("ts_ms").as("valid_from_ms"), col("valid_to_ms"))
    val first = dim.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id").as("f_user_id"),
        col("event_id").as("first_event_id"),
        col("value").as("first_value"))
    val facts = e.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_id").as("fact_id"),
        col("ts_ms").as("fact_ts_ms"))
    facts.join(scd,
        facts("user_id") === col("s_user_id") &&
          col("valid_from_ms") <= col("fact_ts_ms") &&
          (col("valid_to_ms").isNull || col("fact_ts_ms") < col("valid_to_ms")),
        "left")
      .join(first, facts("user_id") === col("f_user_id"), "left")
      .select(col("user_id"), col("fact_id"), col("fact_ts_ms"),
        coalesce(col("state_event_id"), col("first_event_id")).as("dim_event_id"),
        coalesce(col("state_value"), col("first_value")).as("dim_value"),
        (col("state_event_id").isNull && col("first_event_id").isNotNull)
          .cast("int").as("retro"))
      .orderBy("user_id", "fact_ts_ms", "fact_id")
  }

  /** h13: TIME-WEIGHTED AVERAGE (TWAP) over the SCD2 state chain — the
    * mean of a user's state value weighted by HOW LONG each state held.
    * A plain AVG over state-change events is wrong whenever change rates
    * vary: a value that held a month counts once, a flapping value
    * counts hourly. The finance-TWAP / sensor time-average primitive.
    *
    * Semantics: h01's interval chain over the state events; each CLOSED
    * interval contributes value × duration; the final (open) state has
    * no duration — excluded from the mean, still counted in n_states;
    * a single-state user surfaces NULL twap. Integer-exact end to end:
    * value in milli-units (t23's quantize rule), weighted mass
    * Σ vm·dur_ms accumulated DECIMAL(38,0), twap_milli = mass div span
    * (BIGINT floor; every input non-negative so floor == truncate in
    * both engines) — doubles never enter.
    *
    * Scale shape: ONE user-key exchange drives both the lead() window
    * and the map-side-combinable groupBy riding it; nothing else
    * event-sized. */
  def h13(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
    Tables.events(spark, dir)
      .filter(col("event_type").isin("signup", "purchase", "error"))
      .withColumn("vm", expr("CAST(floor(value * 1000.0 + 0.5) AS BIGINT)"))
      .withColumn("dur_ms", lead(col("ts_ms"), 1).over(w) - col("ts_ms"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_states"),
        coalesce(sum("dur_ms"), lit(0L)).as("span_ms"),
        sum(expr("CAST(vm AS DECIMAL(38,0)) * dur_ms")).as("wsum"))
      .select(col("user_id"), col("n_states"), col("span_ms"),
        expr("CASE WHEN span_ms > 0 THEN CAST(wsum div span_ms AS BIGINT) END")
          .as("twap_milli"))
      .orderBy("user_id")
  }

  /** h09: materialized-view rewrite — the aggregate-navigation feature:
    * a summary pre-aggregated at (event_type, user_id) with row counts
    * and decimal partial sums answers the coarser per-event_type query
    * by RE-aggregation (COUNT(*) → SUM(cnt), SUM(dec(x)) → SUM(sum_x);
    * both merge exactly, the h02 contract). The rewrite happens in the
    * OPTIMIZER (graft.plans.MvRewrite, a Rule[LogicalPlan] in
    * spark.experimental.extraOptimizations): the registered query below
    * is written against the RAW events table, and the rule swaps the
    * scan for the summary — the DuckDB oracle aggregates the raw table,
    * so the hash gate proves rewrite losslessness end-to-end. PlanSpec
    * pins that the optimized plan actually reads the summary files. At
    * 100 TB the summary is orders of magnitude smaller than the fact
    * scan it replaces. */
  def h09(spark: SparkSession, dir: String): DataFrame = {
    val mvPath = Tables.scratchPath("h09_mv", dir)
    val srcPath = s"$dir/events.parquet"
    val src = spark.read.parquet(srcPath)
    src.groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("cnt"), sum(dec(col("value"))).as("sum_value_p"))
      .write.mode("overwrite").parquet(mvPath)
    graft.plans.MvRewrite.register(graft.plans.MvRewrite.Mv(
      sourcePath = s"file:$srcPath", mvPath = mvPath,
      groupCols = Set("event_type", "user_id"),
      cntCol = "cnt", sums = Map("value" -> "sum_value_p")))
    if (!spark.experimental.extraOptimizations.contains(graft.plans.MvRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.MvRewrite
    src.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** h10: BITEMPORAL as-of — two independent time axes per update:
    * TRANSACTION time (when the system learned it; the event's ts) and
    * VALID time (when it applies in the world; here a 0-27 day axis
    * derived from the event's payload). The audit question single-axis
    * as-of (h03/h08) can't answer: "what did we BELIEVE on T the state
    * valid at V was?" — corrections recorded later must not leak into
    * earlier beliefs. For a fixed belief point T and a valid-day grid,
    * pick per (user, V) the update with max (valid_from ≤ V) among
    * those with tx ≤ T, latest-tx-wins within a valid day. One window
    * over one user-key shuffle after an explode of the 4-point grid —
    * grid size is a constant, so the shape is the same per-entity
    * window any temporal query needs at 100 TB. */
  def h10(spark: SparkSession, dir: String): DataFrame = {
    val txCut = 1705363200000L // belief point T: 2024-01-16T00:00Z
    val grid = Seq(6, 13, 20, 27)
    val upd = Tables.events(spark, dir)
      .filter(col("ts_ms") <= txCut)
      .select(col("user_id"), col("ts_ms").as("tx_ms"), col("event_id"),
        (get_json_object(col("props"), "$.k").cast("long") % 28).as("valid_day"),
        col("value"))
    val w = Window.partitionBy("user_id", "v")
      .orderBy(col("valid_day").desc, col("tx_ms").desc, col("event_id").desc)
    upd.withColumn("v",
        explode(expr(s"array(${grid.map(_ + "L").mkString(",")})")))
      .filter(col("valid_day") <= col("v"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("v").as("valid_day_asof"),
        col("valid_day"), col("tx_ms"), col("event_id"),
        col("value"))
      .orderBy("user_id", "valid_day_asof")
  }

  /** h11: SNAPSHOT DIFF — the table-format time-travel primitive
    * (Delta/Iceberg "what changed between snapshot T1 and T2"): latest-
    * op-wins live state is reconstructed at two data-derived transaction
    * cuts (⅓ and ⅔ of the changelog's time span) and full-outer-joined
    * on the entity key; each key classifies as added (live only at T2),
    * removed (a later delete won, h05's tombstone rule), or changed
    * (both live, different winning event). Unchanged keys are dropped —
    * a diff's output is O(churn), not O(keys), which is what makes
    * incremental consumers (CDC backfills, audit reports) feasible at
    * 100 TB. Shape: both snapshots shuffle once on user_id and the
    * full-outer join reuses that partitioning — no third exchange. */
  def h11(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"), col("ts_ms"),
        when(pmod(col("event_id"), lit(10)) === 0, "delete")
          .otherwise("upsert").as("op"))
    val cuts = e.agg(
      expr("min(ts_ms) + (max(ts_ms) - min(ts_ms)) div 3").as("t1"),
      expr("min(ts_ms) + ((max(ts_ms) - min(ts_ms)) * 2) div 3").as("t2"))
    val ec = e.crossJoin(broadcast(cuts))
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms").desc, col("event_id").desc)
    def stateAt(cut: org.apache.spark.sql.Column): DataFrame =
      ec.filter(col("ts_ms") <= cut)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("op") === "upsert")
        .select(col("user_id"), col("event_id"), col("value"))
    val s1 = stateAt(col("t1"))
      .select(col("user_id"), col("event_id").as("old_event_id"),
        col("value").as("old_value"))
    val s2 = stateAt(col("t2"))
      .select(col("user_id"), col("event_id").as("new_event_id"),
        col("value").as("new_value"))
    s1.join(s2, Seq("user_id"), "full_outer")
      .withColumn("status",
        when(col("old_event_id").isNull, "added")
          .when(col("new_event_id").isNull, "removed")
          .when(col("old_event_id") =!= col("new_event_id"), "changed"))
      .filter(col("status").isNotNull)
      .select("user_id", "status", "old_event_id", "old_value",
        "new_event_id", "new_value")
      .orderBy("user_id")
  }

  private val d384 = org.apache.spark.sql.types.DecimalType(38, 4)

  /** The CDF-maintainable view state: per-status count / key sum /
    * DECIMAL price sum — every column exactly invertible. */
  private[graft] def cdfViewOf(df: DataFrame): DataFrame = df
    .groupBy("o_orderstatus")
    .agg(count(lit(1)).cast("long").as("n"),
      sum("o_orderkey").cast("long").as("k"),
      sum(dec(col("o_totalprice"))).cast(d384).as("s"))

  /** Change-feed rows → signed per-status deltas (retract −1/−value for
    * delete/update_preimage, insert +1/+value for the rest). */
  private[graft] def cdfSigned(cdf: DataFrame): DataFrame = {
    val w = when(col("change_type")
      .isin("delete", "update_preimage"), -1L).otherwise(1L)
    cdf.select(col("o_orderstatus"), w.as("w"), col("o_orderkey"),
        dec(col("o_totalprice")).as("p"))
      .groupBy("o_orderstatus")
      .agg(sum(col("w")).cast("long").as("n"),
        sum(col("w") * col("o_orderkey")).cast("long").as("k"),
        sum(col("w") * col("p")).cast(d384).as("s"))
  }

  /** Fold one commit's signed deltas into the stored view; groups
    * maintained down to zero rows drop out (matches the recompute). */
  private[graft] def cdfFold(view: DataFrame, deltas: DataFrame): DataFrame =
    view.unionByName(deltas)
      .groupBy("o_orderstatus")
      .agg(sum("n").cast("long").as("n"),
        sum("k").cast("long").as("k"),
        sum("s").cast(d384).as("s"))
      .filter(col("n") > 0)

  private[graft] def cdfSurface(view: DataFrame): DataFrame = view
    .select(col("o_orderstatus"), col("n").as("n_rows"),
      col("k").cast("bigint").as("key_sum"),
      col("s").cast("double").as("sum_price"))
    .orderBy("o_orderstatus")

  /** h14: CDF-DRIVEN VIEW MAINTENANCE — h07's retraction algebra fed by
    * the lakehouse CHANGE DATA FEED instead of a hand-split changelog:
    * the stored view V₀ aggregates snapshot v0; each change-feed row
    * becomes a SIGNED delta (delete/update_preimage retract −1/−value,
    * insert/update_postimage insert +1/+value); V₁ = reaggregate(V₀ ∪
    * ΣΔ). This is the composition that makes s28 a pipeline source for
    * materialized views: the downstream MV refreshes from row changes,
    * never rescanning the table. Counts, key sums, and DECIMAL(38,4)
    * price sums are invertible (x + v − v = x exactly), so the
    * maintained view is bit-identical to the full recompute the oracle
    * runs over the post-commit table (min/max would need h02-style full
    * partials — the documented boundary, same as h07's). Per commit the
    * work is one delta-sized feed read + one ≤|groups| merge. */
  def h14(spark: SparkSession, dir: String): DataFrame = {
    val lake = graft.operators.Lakehouse
    val log = lake.s28Table(spark, dir)
    cdfSurface(cdfFold(
      cdfViewOf(lake.s28Snapshot(spark, log, 0)),
      cdfSigned(lake.s28Cdf(spark, log, 0, 1, "o_orderkey"))))
  }

  /** h15: MULTI-STEP CDF VIEW MAINTENANCE — h14's invariant proven
    * CLOSED UNDER ITERATION (l65's argument applied to the change
    * feed): three successive MERGE commits, each folding ONLY its own
    * commit's change feed into the PERSISTED previous view state
    * (localCheckpoint = the stored-view handoff a daily job has); the
    * final view must equal a from-scratch recompute over the last
    * snapshot, which the oracle restates as the three MERGEs chained
    * relationally. The table is never rescanned after the bootstrap
    * aggregate; per commit the cost is one delta-sized feed read and a
    * ≤|groups| merge. Exercises the feed's accumulated-DV path (later
    * DVs tombstone earlier commits' append files; internal churn nets
    * out — LakehouseSpec pins CDF(0,2) ∘ apply == snapshot(2)). */
  def h15(spark: SparkSession, dir: String): DataFrame = {
    val lake = graft.operators.Lakehouse
    val log = lake.s28StepsTable(spark, dir)
    // The bootstrap aggregate and the three per-commit signed-delta
    // feeds are all independent reads of COMMITTED artifacts (none
    // depends on the folded view), so they materialize concurrently
    // (guide §2.6) — the serialized chain used to pay each feed's
    // delta-scan + per-window file-classification collect back to back.
    // The fold chain itself is unchanged: each fold still consumes ONLY
    // its own commit's deltas + the PERSISTED previous view state
    // (localCheckpoint = the stored-view handoff), in commit order.
    val parts = graft.Harness.inParallel(
      (() => cdfViewOf(lake.s28Snapshot(spark, log, 0)).localCheckpoint()) +:
        (0 until 3).map(v => () =>
          cdfSigned(lake.s28Cdf(spark, log, v, v + 1, "o_orderkey"))
            .localCheckpoint()))
    var view = parts.head
    for (v <- 0 until 3) {
      val next = cdfFold(view, parts(v + 1)).localCheckpoint()
      graft.Fixpoint.release(view) // superseded state (r15: was leaked)
      view = next
    }
    parts.drop(1).foreach(graft.Fixpoint.release) // deltas are folded in
    cdfSurface(view)
  }

  override val sinkQueries: Set[String] =
    Set("h09_mv_rewrite", "h14_cdf_view_maintain", "h15_cdf_multistep",
      "h16_view_across_rewrite")

  /** h16: VIEW MAINTENANCE ACROSS A REWRITE — the payoff of s31's row
    * lineage for this family's consumers: h14/h15 fold feeds s28Cdf can
    * serve, so ONE compaction in the window forces them back to a full
    * snapshot diff; h16 folds the s31 row-lineage feed instead, carrying
    * the SAME retraction algebra across the v2 compaction (which
    * contributes nothing — its rows are declared unchanged) and the v3
    * MERGE whose pre-images live in REWRITTEN files. The signed-delta
    * fold is a commutative monoid, so folding the whole multi-commit
    * feed at once equals the commit-by-commit sequence; per window the
    * cost is the feed (∝ the data-changing deltas) + one ≤|groups|
    * merge — the table is scanned only for the bootstrap aggregate.
    * The oracle recomputes the view from the final logical table (both
    * MERGEs chained relationally, compaction the identity); the
    * rewrites_skipped observable pins that the walker saw and skipped
    * exactly one declared rewrite. */
  def h16(spark: SparkSession, dir: String): DataFrame = {
    val lake = graft.operators.Lakehouse
    val log = lake.s31Table(spark, dir)
    // feed and bootstrap view are independent reads of committed
    // artifacts — overlapped (guide §2.6), same move as h15
    val Seq(feed, view0) = graft.Harness.inParallel(Seq(
      () => lake.s31Cdf(spark, log, 0, 3, "_row_id")
        .localCheckpoint(), // consumed by the fold AND the observable below
      () => cdfViewOf(lake.s28Snapshot(spark, log, 0)).localCheckpoint()))
    // DATA-DERIVED observable: commits in the window minus commits the
    // feed actually tagged — a walker that misclassified the rewrite as
    // a data commit would tag version-2 rows and read 0 here, failing
    // the oracle even if the aggregates happened to coincide
    val skipped = 3L - feed.select("commit_version").distinct().count()
    cdfSurface(cdfFold(view0, cdfSigned(feed)))
      .withColumn("rewrites_skipped", lit(skipped))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "h16_view_across_rewrite" -> h16,
    "h14_cdf_view_maintain" -> h14,
    "h15_cdf_multistep" -> h15,
    "h11_snapshot_diff" -> h11,
    "h10_bitemporal" -> h10,
    "h09_mv_rewrite" -> h09,
    "h08_pit_join" -> h08,
    "h12_late_dim" -> h12,
    "h13_twap" -> h13,
    "h06_view_maintain" -> h06,
    "h07_view_retract" -> h07,
    "h01_scd2" -> h01,
    "h02_incremental_agg" -> h02,
    "h03_asof_state" -> h03,
    "h04_merge_apply" -> h04,
    "h05_changelog_compact" -> h05)

  val oracles: Map[String, String] = Map(
    // h16: the view recomputed from the final logical table — v1 then v3
    // chained relationally (the v2 compaction is the identity); equality
    // proves the row-lineage feed fed the retraction algebra exactly the
    // deltas the two MERGEs produced, and nothing for the rewrite
    "h16_view_across_rewrite" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, 'N', o_totalprice
        |  FROM orders WHERE o_orderkey % 13 = 0),
        |v3 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM v1
        |  WHERE o_orderkey % 11 <> 0 AND o_orderkey % 9 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 500.0
        |  FROM v1 WHERE o_orderkey % 9 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 200000000, 'Q', o_totalprice
        |  FROM v1 WHERE o_orderkey % 17 = 0)
        |SELECT o_orderstatus, COUNT(*) AS n_rows,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price,
        |       1 AS rewrites_skipped
        |FROM v3 GROUP BY 1 ORDER BY 1""".stripMargin,
    // h14: the FULL recompute over the post-commit table (v1 = base
    // minus deleted minus updated-pre, plus updated-post and inserts) —
    // the retraction-maintained view must equal it bit-for-bit
    "h14_cdf_view_maintain" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, 'N', o_totalprice
        |  FROM orders WHERE o_orderkey % 13 = 0)
        |SELECT o_orderstatus, COUNT(*) AS n_rows,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
        |FROM v1 GROUP BY 1 ORDER BY 1""".stripMargin,
    // h15: the three MERGE steps chained relationally — each stage's
    // retained/updated/inserted terms FROM the previous stage, exactly
    // the snapshot the maintained view must equal after folding that
    // commit's change feed. Price chains apply the same IEEE adds in
    // the same per-row order in both engines.
    "h15_cdf_multistep" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, 'N', o_totalprice
        |  FROM orders WHERE o_orderkey % 13 = 0),
        |v2 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM v1
        |  WHERE o_orderkey % 11 <> 0 AND o_orderkey % 9 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 500.0
        |  FROM v1 WHERE o_orderkey % 9 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 200000000, 'Q', o_totalprice
        |  FROM v1 WHERE o_orderkey % 17 = 0),
        |v3 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM v2
        |  WHERE o_orderkey % 23 <> 0 AND o_orderkey % 15 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 250.0
        |  FROM v2 WHERE o_orderkey % 15 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 400000000, 'R', o_totalprice
        |  FROM v2 WHERE o_orderkey % 29 = 0)
        |SELECT o_orderstatus, COUNT(*) AS n_rows,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
        |FROM v3 GROUP BY 1 ORDER BY 1""".stripMargin,
    // h11: both snapshots spelled as the same latest-op-wins rank; the
    // diff is the identical full-outer classification
    "h11_snapshot_diff" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_ns(ts)//1000000 AS ts_ms,
        |         CASE WHEN event_id % 10 = 0 THEN 'delete' ELSE 'upsert' END AS op
        |  FROM events),
        |c AS (SELECT MIN(ts_ms) + (MAX(ts_ms) - MIN(ts_ms)) // 3 AS t1,
        |             MIN(ts_ms) + ((MAX(ts_ms) - MIN(ts_ms)) * 2) // 3 AS t2
        |      FROM e),
        |s1 AS (
        |  SELECT user_id, event_id AS old_event_id, value AS old_value FROM (
        |    SELECT e.*, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts_ms DESC, event_id DESC) AS rn
        |    FROM e, c WHERE ts_ms <= c.t1) t
        |  WHERE rn = 1 AND op = 'upsert'),
        |s2 AS (
        |  SELECT user_id, event_id AS new_event_id, value AS new_value FROM (
        |    SELECT e.*, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts_ms DESC, event_id DESC) AS rn
        |    FROM e, c WHERE ts_ms <= c.t2) t
        |  WHERE rn = 1 AND op = 'upsert'),
        |d AS (
        |  SELECT COALESCE(s1.user_id, s2.user_id) AS user_id,
        |         CASE WHEN s1.user_id IS NULL THEN 'added'
        |              WHEN s2.user_id IS NULL THEN 'removed'
        |              WHEN old_event_id <> new_event_id THEN 'changed' END AS status,
        |         old_event_id, old_value, new_event_id, new_value
        |  FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id)
        |SELECT * FROM d WHERE status IS NOT NULL ORDER BY user_id""".stripMargin,
    // h10: the same two-axis pick spelled as a rank over (valid desc,
    // tx desc, id desc) per (user, grid point); value passes through
    // unaggregated, so both engines surface the identical parquet double
    "h10_bitemporal" ->
      """WITH upd AS (
        |  SELECT user_id, epoch_ns(ts)//1000000 AS tx_ms, event_id,
        |         CAST(json_extract_string(props, '$.k') AS BIGINT) % 28 AS valid_day,
        |         value
        |  FROM events
        |  WHERE epoch_ns(ts)//1000000 <= 1705363200000),
        |g AS (SELECT CAST(unnest([6, 13, 20, 27]) AS BIGINT) AS v),
        |r AS (
        |  SELECT u.*, g.v,
        |         row_number() OVER (PARTITION BY u.user_id, g.v
        |             ORDER BY u.valid_day DESC, u.tx_ms DESC, u.event_id DESC) AS rn
        |  FROM upd u CROSS JOIN g
        |  WHERE u.valid_day <= g.v)
        |SELECT user_id, v AS valid_day_asof, valid_day, tx_ms, event_id,
        |       value
        |FROM r WHERE rn = 1
        |ORDER BY user_id, valid_day_asof""".stripMargin,
    // h09: the oracle aggregates the RAW table — equality proves the
    // optimizer's MV rewrite is lossless
    "h09_mv_rewrite" ->
      """SELECT event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // h08: zero-width intervals (two state events at the same ts) match
    // nothing (from <= t < to is empty), and a fact AT a state's
    // timestamp sees the NEW state — both sides encode the same rule
    // h13: same chain, same quantize, HUGEINT mass mirrors DECIMAL(38,0);
    // all inputs non-negative so // == div
    "h13_twap" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts)//1000000 AS ts_ms,
        |                  CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS vm
        |           FROM events
        |           WHERE event_type IN ('signup', 'purchase', 'error')),
        |s AS (SELECT user_id, vm,
        |        lead(ts_ms) OVER (PARTITION BY user_id
        |                          ORDER BY ts_ms, event_id) - ts_ms AS dur_ms
        |      FROM e)
        |SELECT user_id, COUNT(*) AS n_states,
        |       CAST(COALESCE(SUM(dur_ms), 0) AS BIGINT) AS span_ms,
        |       CASE WHEN COALESCE(SUM(dur_ms), 0) > 0
        |            THEN CAST(SUM(CAST(vm AS HUGEINT) * dur_ms)
        |                      // SUM(dur_ms) AS BIGINT) END AS twap_milli
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,
    // h12: h08's interval join + the rank-1 version as the retro
    // fallback; the flag is the same NULL algebra in both engines
    "h12_late_dim" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |         epoch_ns(ts)//1000000 AS ts_ms FROM events),
        |scd AS (
        |  SELECT user_id, event_id AS state_event_id, value AS state_value,
        |         ts_ms AS valid_from_ms,
        |         lead(ts_ms) OVER (PARTITION BY user_id
        |                           ORDER BY ts_ms, event_id) AS valid_to_ms,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts_ms, event_id) AS rn
        |  FROM e WHERE event_type IN ('signup', 'purchase', 'error')),
        |fst AS (SELECT user_id, state_event_id AS first_event_id,
        |               state_value AS first_value
        |        FROM scd WHERE rn = 1),
        |f AS (SELECT user_id, event_id AS fact_id, ts_ms AS fact_ts_ms
        |      FROM e WHERE event_type IN ('click', 'view'))
        |SELECT f.user_id, fact_id, fact_ts_ms,
        |       COALESCE(state_event_id, first_event_id) AS dim_event_id,
        |       COALESCE(state_value, first_value) AS dim_value,
        |       CAST(state_event_id IS NULL AND first_event_id IS NOT NULL
        |            AS INT) AS retro
        |FROM f LEFT JOIN scd ON f.user_id = scd.user_id
        |  AND valid_from_ms <= fact_ts_ms
        |  AND (valid_to_ms IS NULL OR fact_ts_ms < valid_to_ms)
        |LEFT JOIN fst ON f.user_id = fst.user_id
        |ORDER BY f.user_id, fact_ts_ms, fact_id""".stripMargin,
    "h08_pit_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |         epoch_ns(ts)//1000000 AS ts_ms FROM events),
        |scd AS (
        |  SELECT user_id, event_id AS state_event_id, event_type AS state_type,
        |         value AS state_value, ts_ms AS valid_from_ms,
        |         lead(ts_ms) OVER (PARTITION BY user_id
        |                           ORDER BY ts_ms, event_id) AS valid_to_ms
        |  FROM e WHERE event_type IN ('signup', 'purchase', 'error')),
        |f AS (
        |  SELECT user_id, event_id AS fact_id, event_type AS fact_type,
        |         ts_ms AS fact_ts_ms
        |  FROM e WHERE event_type IN ('click', 'view'))
        |SELECT f.user_id, fact_id, fact_type, fact_ts_ms,
        |       state_event_id, state_type, state_value
        |FROM f LEFT JOIN scd ON f.user_id = scd.user_id
        |  AND valid_from_ms <= fact_ts_ms
        |  AND (valid_to_ms IS NULL OR fact_ts_ms < valid_to_ms)
        |ORDER BY f.user_id, fact_ts_ms, fact_id""".stripMargin,
    // the oracle is the FULL recompute over the post-delta live set — the
    // insert/retract merge must equal it bit-for-bit
    "h07_view_retract" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         CAST(value AS DECIMAL(38,4)) AS v,
        |         epoch_ns(ts)//1000000 AS ts_ms,
        |         CASE WHEN event_id % 10 = 0 THEN 'delete' ELSE 'upsert' END AS op
        |  FROM events),
        |live AS (
        |  SELECT user_id, event_type, v FROM (
        |    SELECT e.*, row_number() OVER (PARTITION BY user_id
        |                                   ORDER BY ts_ms DESC, event_id DESC) AS rn
        |    FROM e) t
        |  WHERE rn = 1 AND op = 'upsert')
        |SELECT event_type, COUNT(*) AS n_live,
        |       CAST(SUM(v) AS DOUBLE) AS sum_value
        |FROM live GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the oracle is the FULL recompute — the incremental four-term merge
    // must equal it bit-for-bit (counts + decimal sums merge exactly)
    "h06_view_maintain" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "h04_merge_apply" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
        |                  epoch_ns(ts)//1000000 AS ts_ms FROM events),
        |c AS (SELECT (MIN(ts_ms) + MAX(ts_ms)) // 2 AS cut FROM e),
        |base AS (
        |  SELECT user_id, event_id AS b_event_id, event_type AS b_type,
        |         value AS b_value, ts_ms AS b_ts_ms FROM (
        |    SELECT e.*, row_number() OVER (PARTITION BY user_id
        |                                   ORDER BY ts_ms DESC, event_id DESC) AS rn
        |    FROM e, c WHERE ts_ms <= cut) t WHERE rn = 1),
        |changes AS (
        |  SELECT user_id,
        |         CASE WHEN event_id % 10 = 0 THEN 'delete' ELSE 'upsert' END AS op,
        |         event_id AS c_event_id, event_type AS c_type,
        |         value AS c_value, ts_ms AS c_ts_ms FROM (
        |    SELECT e.*, row_number() OVER (PARTITION BY user_id
        |                                   ORDER BY ts_ms DESC, event_id DESC) AS rn
        |    FROM e, c WHERE ts_ms > cut) t WHERE rn = 1)
        |SELECT coalesce(base.user_id, changes.user_id) AS user_id,
        |       coalesce(c_event_id, b_event_id) AS event_id,
        |       coalesce(c_type, b_type) AS event_type,
        |       coalesce(c_value, b_value) AS value,
        |       coalesce(c_ts_ms, b_ts_ms) AS ts_ms,
        |       CASE WHEN op IS NULL THEN 'keep'
        |            WHEN b_event_id IS NULL THEN 'insert'
        |            ELSE 'update' END AS action
        |FROM base FULL OUTER JOIN changes ON base.user_id = changes.user_id
        |WHERE op IS NULL OR op = 'upsert'
        |ORDER BY user_id""".stripMargin,
    "h05_changelog_compact" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, value,
        |         epoch_ns(ts)//1000000 AS ts_ms,
        |         CASE WHEN event_id % 10 = 0 THEN 'delete' ELSE 'upsert' END AS op
        |  FROM events),
        |v AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |                               ORDER BY ts_ms DESC, event_id DESC) AS rn,
        |         COUNT(*) OVER (PARTITION BY user_id) AS n_versions
        |  FROM e)
        |SELECT user_id, event_id AS last_event_id, event_type AS last_type,
        |       value AS last_value, ts_ms AS last_ts_ms, n_versions
        |FROM v WHERE rn = 1 AND op <> 'delete'
        |ORDER BY user_id""".stripMargin,
    "h01_scd2" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
        |                  epoch_ns(ts)//1000000 AS ts_ms FROM events)
        |SELECT user_id, event_id, event_type, value,
        |       ts_ms AS valid_from_ms,
        |       lead(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id)
        |         AS valid_to_ms,
        |       lead(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id)
        |         IS NULL AS is_current
        |FROM e ORDER BY user_id, valid_from_ms, event_id""".stripMargin,
    "h02_incremental_agg" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts)//1000000 AS ts_ms,
        |                  CAST(value AS DECIMAL(38,4)) AS v FROM events)
        |SELECT event_type, COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS sum_value,
        |       MIN(ts_ms) AS min_ms, MAX(ts_ms) AS max_ms
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    "h03_asof_state" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
        |                  epoch_ns(ts)//1000000 AS ts_ms FROM events),
        |c AS (SELECT (MIN(ts_ms) + MAX(ts_ms)) // 2 AS cut FROM e)
        |SELECT user_id, event_id, event_type, value, ts_ms FROM (
        |  SELECT e.*, row_number() OVER (PARTITION BY user_id
        |                                 ORDER BY ts_ms DESC, event_id DESC) AS rn
        |  FROM e, c WHERE ts_ms <= cut) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)
}
