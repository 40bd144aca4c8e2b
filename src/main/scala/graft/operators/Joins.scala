package graft.operators

import graft.{QueryModule, Tables}
import graft.Tables.{dec, epochMs}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Joins (SURVEY.md §2.2 j01-j12): every logical flavor (inner/outer/semi/
  * anti/theta/asof/interval/self) with the physical strategy each deserves.
  *
  * Scale posture:
  *  - j01 pins BroadcastHashJoin via an explicit broadcast() hint (dims are
  *    known-small; never let a 100 TB fact shuffle for a 5-row dim).
  *  - j02/j03 are shuffle joins on the fact keys — the one unavoidable
  *    exchange; AQE handles skew/coalesce at runtime.
  *  - the as-of joins j10/j18/j22 are bindings of [[Joins.asOf]]:
  *    union+window, ONE shuffle by key, no row explosion — the
  *    theta-join+row_number alternative is quadratic per key group and
  *    would not survive 100×. (j19 keeps its own one-sort form of the
  *    same shape, and History's h08/h12 and Features.pit their interval
  *    joins; the measured reasons are in their scaladocs.)
  *  - j07/j08 use left_semi/left_anti (no payload materialization, no
  *    distinct-after-join).
  */
object Joins extends QueryModule {

  def j01(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("double").as("revenue"))
      .orderBy("p_brand")

  def j02(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
      .orderBy("o_orderpriority")

  /** Star join: fact ⋈ 4 dims. Catalyst broadcasts the small dims and
    * CBO/AQE orders the rest; we only pin region/nation broadcasts. */
  def j03(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), year(col("o_orderdate")).as("o_year"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("double").as("revenue"))
      .orderBy("r_name", "o_year")

  private def bigOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).filter(col("o_totalprice") > 350000.0)

  def j04(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(bigOrders(spark, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(
        count(col("o_orderkey")).as("n_big"),
        coalesce(sum(dec(col("o_totalprice"))).cast("double"), lit(0.0)).as("big_total"))
      .orderBy("c_custkey")

  def j05(spark: SparkSession, dir: String): DataFrame =
    bigOrders(spark, dir)
      .join(Tables.customer(spark, dir), col("c_custkey") === col("o_custkey"), "right")
      .groupBy("c_custkey")
      .agg(
        count(col("o_orderkey")).as("n_big"),
        coalesce(sum(dec(col("o_totalprice"))).cast("double"), lit(0.0)).as("big_total"))
      .orderBy("c_custkey")

  /** Full outer over partially-overlapping key sets; both null sides appear. */
  def j06(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.customer(spark, dir).filter(col("c_acctbal") > 7500.0)
      .select(col("c_custkey").as("key_a")).distinct()
    val b = Tables.orders(spark, dir).filter(col("o_orderstatus") === "P")
      .select(col("o_custkey").as("key_b")).distinct()
    a.join(b, col("key_a") === col("key_b"), "full")
      .orderBy(coalesce(col("key_a"), col("key_b")), col("key_a").asc_nulls_first)
  }

  def j07(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_totalprice") > 300000.0),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  def j08(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  /** Theta (non-equi) join: nation pairs within a region. Equi part keys the
    * shuffle; the inequality stays a post-join predicate. */
  def j09(spark: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(spark, dir).select(
      col("n_nationkey").as("k1"), col("n_name").as("name1"), col("n_regionkey").as("r1"))
    val n2 = Tables.nation(spark, dir).select(
      col("n_nationkey").as("k2"), col("n_name").as("name2"), col("n_regionkey").as("r2"))
    n1.join(n2, col("r1") === col("r2") && col("k1") < col("k2"))
      .select("r1", "k1", "k2", "name1", "name2")
      .orderBy("r1", "k1", "k2")
  }

  /** The one as-of join: each probe row gets, per `key`, the reference
    * row nearest in `t` in each direction, from ONE union of the two
    * frames and running windows over its ONE key shuffle — linear, never
    * a theta-join. Over the candidates ordered by (t, tiebreak):
    *  - `back` = the max at or before the probe: the running frame of the
    *    order (t, side, tiebreak), reference rows before probe rows at
    *    equal `t`; equal-t references resolve to the largest tiebreak;
    *  - `fwd` = the min strictly after the probe: the running frame of
    *    the reverse order, probe rows first at equal `t`; equal-t
    *    references resolve to the smallest tiebreak. (A following frame
    *    in the forward order gives the same rows, but Spark re-aggregates
    *    an unbounded-following frame at every row — quadratic per key.)
    * Each direction counts the references its frame has passed, and
    * max_by over that count reads the last one's columns; the reference
    * columns cross the shuffle flat. (max(struct(t, tiebreak, payload…))
    * gives the same rows, but the optimizer builds the struct below the
    * union, and the wider shuffle rows cost j10 and h08 more tasks at
    * sf0.1.) A binding that reads one direction lets column pruning drop
    * the other's windows. `key` and `t` name columns of both frames;
    * `tiebreak` and `payload` name columns of `refs`. Returns every probe
    * row with its own columns plus `back` and `fwd`: struct(t, tiebreak,
    * payload…) with the reference column names, null when no reference
    * lies in that direction. */
  private[graft] def asOf(refs: DataFrame, probes: DataFrame, key: String,
      t: String, tiebreak: String, payload: String*): DataFrame = {
    val side = "_asof_side"
    val ref = (tiebreak +: payload).map(c => c -> s"_asof_$c")
    val isRef = col(side) === 0
    def nearest(dir: String, order: Seq[Column])(df: DataFrame): DataFrame = {
      val (w, n) = (Window.partitionBy(key).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow), s"_asof_n_$dir")
      val last = (c: Column) => max_by(c, when(isRef, col(n))).over(w)
      df.withColumn(n, count(when(isRef, 1)).over(w))
        .withColumn(dir, when(col(n) > 0, struct(last(col(t)).as(t) +:
          ref.map { case (c, r) => last(col(r)).as(c) }: _*)))
        .drop(n)
    }
    val tie = col(ref.head._2)
    probes.withColumn(side, lit(1))
      .unionByName(refs.select(col(key) +: col(t) +: lit(0).as(side) +:
        ref.map { case (c, r) => col(c).as(r) }: _*), allowMissingColumns = true)
      .transform(nearest("back", Seq(col(t), col(side), tie)))
      .transform(nearest("fwd", Seq(col(t).desc, col(side).desc, tie.desc)))
      .filter(col(side) === 1)
      .drop(side +: ref.map(_._2): _*)
  }

  /** j10: latest order at or before each event's timestamp, per
    * customer — [[asOf]]'s `back` over orders; equal-date orders resolve
    * to the max o_orderkey (DuckDB ASOF's greatest-ts-wins, made total). */
  def j10(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir).select(col("o_custkey").as("user_id"),
      epochMs(col("o_orderdate")).as("ts_ms"), col("o_orderkey"))
    val ev = Tables.events(spark, dir).select("event_id", "user_id", "ts_ms")
    asOf(ord, ev, "user_id", "ts_ms", "o_orderkey")
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        col("back.o_orderkey").as("o_orderkey"))
      .orderBy("event_id")
  }

  /** j18: FORWARD as-of join (j10's mirror): for each event, the next
    * strictly-later high-value event (value > 90) of the same user —
    * "time to next conversion". [[asOf]]'s `fwd` over the high-value
    * events: an equal-ms high-value row is not strictly later (the
    * oracle's `e.ts_ms < h.ts_ms`), and equal-ms candidates resolve to
    * the min event_id. */
  def j18(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select("event_id", "user_id", "ts_ms", "value")
    asOf(ev.filter(col("value") > 90.0), ev, "user_id", "ts_ms", "event_id")
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        col("fwd.event_id").as("next_hv_id"))
      .orderBy("event_id")
  }

  /** j19: NEAREST as-of join — for each click event, the purchase event
    * of the same user closest in time in EITHER direction (ties → the
    * backward match, mirroring "state at or before" preference). The
    * sensor-fusion / nearest-companion semantics neither j10 (backward)
    * nor j18 (forward) covers alone. Both candidates come from ONE
    * union + ONE uid shuffle: the backward candidate is
    * max(struct(t, id)) over the preceding frame (equal-ts references
    * sort before probes → at-or-before; struct max makes the equal-ts
    * tie deterministic without any pre-dedup aggregation), the forward
    * candidate min(struct) over the following frame (equal-ts excluded
    * → strictly-after); both windows share partitioning and ordering so
    * Spark evaluates them on a single sort. Candidate structs are null
    * on probe rows (when(src=0)) so the extremes skip them. Linear at
    * any scale — never a per-row subquery.
    *
    * Not a binding of [[asOf]]: bound to it, j19 read 0.602 s
    * [0.599, 0.686] of task time against this plan's 0.580 s
    * [0.567, 0.593] (graft.tools.ProfileQuery, sf0.1, `local[4]`, 5
    * alternating pairs, median [q1, q3]; lower in 1 of 5), since asOf
    * sorts the key partitions once per direction. The struct-window
    * form of asOf read 0.605 s against 0.691 s here but cost j10 more
    * tasks. */
  def j19(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id").as("uid"), col("ts_ms").as("t"),
        col("event_id"), col("event_type"))
    val refs = e.filter(col("event_type") === "purchase")
      .select(col("uid"), col("t"), lit(0).as("src"), col("event_id"))
    val probes = e.filter(col("event_type") === "click")
      .select(col("uid"), col("t"), lit(1).as("src"), col("event_id"))
    val base = Window.partitionBy("uid").orderBy(col("t"), col("src"))
    val wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val cand = when(col("src") === 0,
      struct(col("t").as("rt"), col("event_id").as("rid")))
    val backWins = col("back").isNotNull &&
      (col("fwd").isNull || col("dback") <= col("dfwd"))
    refs.unionByName(probes)
      .withColumn("back", max(cand).over(wb))
      .withColumn("fwd", min(cand).over(wf))
      .filter(col("src") === 1)
      .withColumn("dback", col("t") - col("back.rt"))
      .withColumn("dfwd", col("fwd.rt") - col("t"))
      .select(col("event_id"), col("uid").as("user_id"), col("t").as("ts_ms"),
        when(backWins, col("back.rid")).otherwise(col("fwd.rid")).as("ref_id"),
        when(backWins, col("dback")).otherwise(col("dfwd")).as("delta_ms"),
        when(col("back").isNull && col("fwd").isNull, lit(null).cast("string"))
          .when(backWins, lit("back")).otherwise(lit("fwd")).as("dir"))
      .orderBy("event_id")
  }

  /** j22: TOLERANCE as-of join — j10's backward as-of with a MAX-STALENESS
    * bound, the feature-store freshness rule: a serving row must not bind
    * state older than the feature's freshness SLA, but the staleness it
    * WOULD have bound is exactly what the SLA dashboard needs. Each click
    * finds the latest purchase state at-or-before its timestamp; the
    * binding is withheld when that state is older than 2 days
    * (state_id NULL, fresh 0) while staleness_ms still surfaces for
    * audit. Probes with no prior state at all: staleness NULL, fresh 0.
    *
    * Scale shape: [[asOf]]'s `back`; the tolerance is a map-side
    * post-filter on the window result, costing nothing. */
  def j22(spark: SparkSession, dir: String): DataFrame = {
    val tolMs = 2L * 86400000L
    val e = Tables.events(spark, dir)
      .select("event_id", "user_id", "ts_ms", "event_type")
    asOf(e.filter(col("event_type") === "purchase"),
        e.filter(col("event_type") === "click"), "user_id", "ts_ms", "event_id")
      .withColumn("staleness_ms", col("ts_ms") - col("back.ts_ms"))
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        when(col("staleness_ms") <= tolMs, col("back.event_id")).as("state_id"),
        col("staleness_ms"),
        (col("back").isNotNull && col("staleness_ms") <= tolMs)
          .cast("int").as("fresh"))
      .orderBy("event_id")
  }

  /** Interval join: lines of an order shipped within [orderdate, +30d). */
  def j11(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey")
          && col("l_shipdate") >= col("o_orderdate")
          && col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_quick_lines"))
      .orderBy("o_orderkey")

  private val BinMs = 3600L * 1000 // bin width == window length (1 h)

  /** j14: pure time-range (theta) join made shuffle-able by binning.
    *
    * "How many events — from ANY user — landed in the hour after each
    * sampled anchor event" has NO equi key — written naively it is a
    * BroadcastNestedLoopJoin, O(anchors × events), the classic 100 TB
    * range-join trap (j09 survives only because its inputs are capped).
    * The scale shape: quantize time into fixed bins of exactly the
    * window length, explode each anchor window to the ≤2 bins it
    * overlaps, tag each event with its single bin, and equi-join on the
    * bin before the exact range filter. Candidates drop from
    * |anchors|·|events| to pairs sharing a bin, and the join is an
    * ordinary shuffle join that partitions, AQE-balances, and scales
    * out. Because window length == bin width, a qualifying (anchor,
    * event) pair meets in exactly one bin — the event's own — so no
    * post-join dedup is needed.
    *
    * Reference analogue: none (it has no range joins); this is the
    * training-pipeline "attach context by time window" operator. */
  def j14(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_id"), col("ts_ms"))
    // deterministic ~1% anchor sample — a pure function of the id, no rand()
    val anchors = ev.filter(col("event_id") % 101 === 0)
      .select(col("event_id").as("anchor_id"), col("ts_ms").as("t0"))
      .withColumn("t1", col("t0") + lit(BinMs))
    val abins = anchors.withColumn("bin",
      explode(sequence(expr(s"t0 div ${BinMs}L"), expr(s"(t1 - 1) div ${BinMs}L"))))
    val ebins = ev.withColumn("bin", expr(s"ts_ms div ${BinMs}L"))
    abins.join(ebins, Seq("bin"))
      .filter(col("ts_ms") >= col("t0") && col("ts_ms") < col("t1")
        && col("event_id") =!= col("anchor_id"))
      .groupBy("anchor_id")
      .agg(count(lit(1)).as("n_follow"))
      .orderBy("anchor_id")
  }

  /** Self join: pairs of events of the same user within one hour. */
  def j12(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select("event_id", "user_id", "ts_ms")
    val e1 = e.select(col("event_id").as("id1"), col("user_id"), col("ts_ms").as("t1"))
    val e2 = e.select(col("event_id").as("id2"), col("user_id").as("uid2"), col("ts_ms").as("t2"))
    e1.join(e2,
        col("user_id") === col("uid2") && col("id1") < col("id2")
          && abs(col("t1") - col("t2")) <= 3600000L)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  /** j15: explicit cartesian product — the one join every optimizer must
    * refuse to pick implicitly; here it's the declared grid (region ×
    * nation, 125 rows) a reporting rollup wants. Tiny side broadcast →
    * BroadcastNestedLoopJoin, never a shuffled cartesian. */
  def j15(spark: SparkSession, dir: String): DataFrame =
    Tables.region(spark, dir).select(col("r_name"))
      .crossJoin(broadcast(Tables.nation(spark, dir).select(col("n_name"))))
      .orderBy("r_name", "n_name")

  private val WeekMs = 7L * 86400000L

  /** j16: interval×interval overlap join with NO equi key — j14's bin
    * trick extended to intervals on BOTH sides. Bin width = the max
    * interval length, so every interval spans ≤ 2 bins and any
    * overlapping pair shares ≥ 1 bin; unlike the point case a pair can
    * meet in TWO bins, so the pair-level distinct after the bin join is
    * load-bearing (and cheap: it runs on qualifying pairs only, not on
    * candidates). Candidates stay per-bin-bounded — never the
    * |anchors|·|orders| nested-loop product a naive OVERLAPS predicate
    * degenerates to. */
  def j16(spark: SparkSession, dir: String): DataFrame = {
    val oms = Tables.orders(spark, dir)
      .select(col("o_orderkey"), Tables.epochMs(col("o_orderdate")).as("t0"))
      .withColumn("t1", col("t0") + WeekMs) // 7-day fulfillment window
    val anchors = oms.filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("a_key"), col("t0").as("a0"), col("t1").as("a1"))
    val abins = anchors.withColumn("bin",
      explode(sequence(expr(s"a0 div ${WeekMs}L"), expr(s"(a1 - 1) div ${WeekMs}L"))))
    val obins = oms.withColumn("bin",
      explode(sequence(expr(s"t0 div ${WeekMs}L"), expr(s"(t1 - 1) div ${WeekMs}L"))))
    // pin the bin-key exchange width: both exploded sides are KB-sized,
    // so AQE's bytes-based coalescing folds the join to ONE task — but
    // the stage's per-row work is the per-bin pair fan-out + the overlap
    // residual (measured: 1 task, 0.98 s — the g05 wedge lesson; fan-out
    // is invisible to bytes-based coalescing at any scale). The pinned
    // side forces the partner exchange to the same width.
    abins.repartition(
        abins.sparkSession.sparkContext.defaultParallelism, col("bin"))
      .join(obins, Seq("bin"))
      .filter(col("a0") < col("t1") && col("t0") < col("a1")
        && col("a_key") =!= col("o_orderkey"))
      .select(col("a_key"), col("o_orderkey").as("b_key"),
        (least(col("a1"), col("t1")) - greatest(col("a0"), col("t0"))).as("overlap_ms"))
      .distinct()
      .orderBy("a_key", "b_key")
  }

  /** Conf scope for j17: force the 100 TB physical shape in a local-mode
    * test. Broadcast is disabled (at real scale the filtered orders side
    * is still tens of GB — far past any broadcast threshold) and the
    * bloom-filter application threshold is dropped to 0 so the optimizer
    * treats our MB-scale scan the way it would treat a 100 TB one. The
    * restore runs after the caller has FORCED execution (localCheckpoint)
    * — plan decisions happen at action time, so the confs must still be
    * set when the action runs.
    *
    * SEQUENTIAL-EXECUTION ASSUMPTION (round-5 advice): these are
    * session-global SQL confs, so any query CONCURRENTLY planning on the
    * same SparkSession inside this scope would see broadcast disabled and
    * the altered bloom thresholds. The harness (Verify/Bench/tests) runs
    * queries strictly sequentially, which is the supported mode; a
    * concurrent caller should isolate via spark.newSession() (child
    * sessions share the catalog/cache but carry their own conf). */
  private def withBloomJoinConfs[T](spark: SparkSession)(f: => T): T = {
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
    val saved = keys.map(k =>
      k -> scala.util.Try(spark.conf.get(k)).toOption.filter(_ != null))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "512MB")
      f
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** The j17 join itself, un-materialized — PlanSpec inspects its physical
    * plan inside the conf scope. */
  private[graft] def j17Frame(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("double").as("revenue"))
      .orderBy("l_returnflag")

  /** j17: runtime bloom-filter pruned shuffle join — Spark's runtime
    * filter injects a BloomFilterAggregate over the selective orders side
    * and a `bloom_filter_might_contain` filter onto the lineitem scan, so
    * at 100 TB most fact rows are dropped BEFORE the shuffle instead of
    * shuffling 6 B rows to discard ~90% at the join. This is the
    * semi-join-reduction strategy every warehouse engine ships; here it
    * is the optimizer's own rewrite, demonstrated under the conf profile
    * a large cluster would run (no broadcast, scan past the application
    * threshold). Values are byte-identical with or without the filter —
    * the oracle is the plain join. PlanSpec asserts the rewrite fired. */
  def j17(spark: SparkSession, dir: String): DataFrame =
    withBloomJoinConfs(spark) { j17Frame(spark, dir).localCheckpoint() }

  private[graft] def j17Plan(spark: SparkSession, dir: String): String =
    withBloomJoinConfs(spark) {
      j17Frame(spark, dir).queryExecution.executedPlan.toString
    }

  /** j20: DYNAMIC partition pruning — the partition-elimination that
    * static pushdown can't do because the pruning values come from
    * ANOTHER table at runtime: fact (hive-partitioned by year, s07's
    * sink) joined to a dim derived from lineitem's 1996-98 shipments.
    * Catalyst injects a dynamicpruning subquery into the fact scan's
    * PartitionFilters (PlanSpec pins it), so only the matching year
    * directories are read — at 100 TB the difference between scanning
    * 3 partitions and scanning all of them. Dim side broadcasts; DPP
    * reuses that broadcast as the pruning filter (no extra job). */
  def j20(spark: SparkSession, dir: String): DataFrame = {
    val fact = spark.read.parquet(Extras.s07Write(spark, dir))
    val dim = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1999-01-01")
      .select(year(col("l_shipdate")).as("o_year")).distinct()
    fact.join(broadcast(dim), "o_year")
      .groupBy(col("o_year").cast("int").as("o_year"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("total_price"))
      .orderBy("o_year")
  }

  /** j21: fuzzy (edit-distance) name matching with BLOCKING — the
    * entity-resolution join. Direct fuzzy join is O(n²) levenshtein
    * calls; the classic fix is (1) dedupe to the NAME DICTIONARY
    * (names repeat heavily — the dictionary is orders of magnitude
    * smaller than the table), (2) self-join only within a blocking key
    * (the 4-char suffix ≈ the head noun) so candidates stay near-linear,
    * (3) map matched name pairs back to row counts by broadcast. All
    * three joins are dictionary-sized broadcasts — the fact table is
    * touched exactly once, for the name histogram. */
  def j21(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.part(spark, dir)
      .groupBy("p_name").agg(count(lit(1)).as("n"))
    val names = counts.select(col("p_name"),
      substring(col("p_name"), -4, 4).as("blk"))
    names.as("x").join(broadcast(names.as("y")),
        col("x.blk") === col("y.blk") && col("x.p_name") < col("y.p_name"))
      .withColumn("distance", levenshtein(col("x.p_name"), col("y.p_name")))
      .filter(col("distance") <= 3)
      .select(col("x.p_name").as("name_a"), col("y.p_name").as("name_b"),
        col("distance"))
      .join(broadcast(counts.select(col("p_name").as("name_a"), col("n").as("n_parts_a"))), "name_a")
      .join(broadcast(counts.select(col("p_name").as("name_b"), col("n").as("n_parts_b"))), "name_b")
      .select("name_a", "name_b", "distance", "n_parts_a", "n_parts_b")
      .orderBy("name_a", "name_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j20_dynamic_partition_pruning" -> j20,
    "j21_fuzzy_name_join" -> j21,
    "j17_bloom_filter_join" -> j17,
    "j16_interval_overlap" -> j16,
    "j15_cross_join" -> j15,
    "j01_join_broadcast" -> j01,
    "j02_join_shuffle" -> j02,
    "j03_join_multiway" -> j03,
    "j04_join_left" -> j04,
    "j05_join_right" -> j05,
    "j06_join_full" -> j06,
    "j07_join_semi" -> j07,
    "j08_join_anti" -> j08,
    "j09_join_theta" -> j09,
    "j10_join_asof" -> j10,
    "j11_join_interval" -> j11,
    "j12_self_join" -> j12,
    "j14_join_range_binned" -> j14,
    "j18_join_asof_fwd" -> j18,
    "j19_join_asof_nearest" -> j19,
    "j22_join_asof_tolerance" -> j22)

  private val revenue = "CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))) AS DOUBLE)"

  val oracles: Map[String, String] = Map(
    "j20_dynamic_partition_pruning" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total_price
        |FROM orders
        |WHERE EXTRACT(year FROM o_orderdate) IN (
        |  SELECT DISTINCT EXTRACT(year FROM l_shipdate) FROM lineitem
        |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1999-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "j21_fuzzy_name_join" ->
      """WITH counts AS (SELECT p_name, COUNT(*) AS n FROM part GROUP BY p_name),
        |names AS (SELECT p_name, substr(p_name, -4, 4) AS blk FROM counts),
        |pairs AS (
        |  SELECT x.p_name AS name_a, y.p_name AS name_b,
        |         CAST(levenshtein(x.p_name, y.p_name) AS INTEGER) AS distance
        |  FROM names x JOIN names y
        |    ON x.blk = y.blk AND x.p_name < y.p_name
        |  WHERE levenshtein(x.p_name, y.p_name) <= 3)
        |SELECT name_a, name_b, distance, ca.n AS n_parts_a, cb.n AS n_parts_b
        |FROM pairs JOIN counts ca ON ca.p_name = name_a
        |           JOIN counts cb ON cb.p_name = name_b
        |ORDER BY name_a, name_b""".stripMargin,
    "j17_bloom_filter_join" ->
      s"""SELECT l_returnflag, COUNT(*) AS n_lines, $revenue AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "j15_cross_join" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,
    "j01_join_broadcast" ->
      s"""SELECT p_brand, COUNT(*) AS n_lines, $revenue AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "j02_join_shuffle" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "j03_join_multiway" ->
      s"""SELECT r_name, EXTRACT(year FROM o_orderdate) AS o_year, COUNT(*) AS n_lines, $revenue AS revenue
         |FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, o_year ORDER BY r_name, o_year""".stripMargin,
    "j04_join_left" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_big,
        |       COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE), 0.0) AS big_total
        |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 350000.0) o
        |  ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "j05_join_right" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_big,
        |       COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE), 0.0) AS big_total
        |FROM (SELECT * FROM orders WHERE o_totalprice > 350000.0) o
        |  RIGHT JOIN customer ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "j06_join_full" ->
      """SELECT key_a, key_b FROM
        |  (SELECT DISTINCT c_custkey AS key_a FROM customer WHERE c_acctbal > 7500.0) a
        |  FULL JOIN
        |  (SELECT DISTINCT o_custkey AS key_b FROM orders WHERE o_orderstatus = 'P') b
        |  ON key_a = key_b
        |ORDER BY COALESCE(key_a, key_b), key_a NULLS FIRST""".stripMargin,
    "j07_join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin,
    "j08_join_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,
    "j09_join_theta" ->
      """SELECT n1.n_regionkey AS r1, n1.n_nationkey AS k1, n2.n_nationkey AS k2,
        |       n1.n_name AS name1, n2.n_name AS name2
        |FROM nation n1 JOIN nation n2
        |  ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
        |ORDER BY r1, k1, k2""".stripMargin,
    // j19: DuckDB runs TWO ASOF joins (backward p.t >= r.t, forward
    // p.t < r.t) over per-(uid, t)-deduped reference streams (max id on
    // the backward side, min id forward — the image of struct max/min)
    // and applies the same tie-to-backward CASE; mechanics differ from
    // the one-pass union+window but semantics are identical
    // j22: ASOF restatement of the same backward candidate; the tolerance
    // gate and the NULL algebra (no candidate -> staleness NULL, fresh 0;
    // stale candidate -> staleness surfaced, binding withheld) are the
    // same CASE expressions in both engines
    "j22_join_asof_tolerance" ->
      """WITH e AS (SELECT event_id, user_id AS uid, epoch_ns(ts)//1000000 AS t,
        |                  event_type
        |           FROM events),
        |st AS (SELECT uid, t, max(event_id) AS sid FROM e
        |       WHERE event_type = 'purchase' GROUP BY 1, 2),
        |p AS (SELECT event_id, uid, t FROM e WHERE event_type = 'click')
        |SELECT p.event_id, p.uid AS user_id, p.t AS ts_ms,
        |       CASE WHEN p.t - s.t <= 172800000 THEN s.sid END AS state_id,
        |       p.t - s.t AS staleness_ms,
        |       CAST(s.sid IS NOT NULL AND p.t - s.t <= 172800000 AS INT) AS fresh
        |FROM p ASOF LEFT JOIN st s ON p.uid = s.uid AND p.t >= s.t
        |ORDER BY p.event_id""".stripMargin,
    "j19_join_asof_nearest" ->
      """WITH e AS (SELECT event_id, user_id AS uid, epoch_ns(ts)//1000000 AS t,
        |                  event_type
        |           FROM events),
        |rb AS (SELECT uid, t, max(event_id) AS rid FROM e
        |       WHERE event_type = 'purchase' GROUP BY 1, 2),
        |rf AS (SELECT uid, t, min(event_id) AS rid FROM e
        |       WHERE event_type = 'purchase' GROUP BY 1, 2),
        |p AS (SELECT event_id, uid, t FROM e WHERE event_type = 'click'),
        |b AS (SELECT p.event_id, r.t AS bt, r.rid AS bid
        |      FROM p ASOF LEFT JOIN rb r ON p.uid = r.uid AND p.t >= r.t),
        |f AS (SELECT p.event_id, r.t AS ft, r.rid AS fid
        |      FROM p ASOF LEFT JOIN rf r ON p.uid = r.uid AND p.t < r.t)
        |SELECT p.event_id, p.uid AS user_id, p.t AS ts_ms,
        |       CASE WHEN bid IS NOT NULL AND (fid IS NULL OR p.t - bt <= ft - p.t)
        |            THEN bid ELSE fid END AS ref_id,
        |       CASE WHEN bid IS NOT NULL AND (fid IS NULL OR p.t - bt <= ft - p.t)
        |            THEN p.t - bt
        |            ELSE ft - p.t END AS delta_ms,
        |       CASE WHEN bid IS NULL AND fid IS NULL THEN NULL
        |            WHEN bid IS NOT NULL AND (fid IS NULL OR p.t - bt <= ft - p.t)
        |            THEN 'back' ELSE 'fwd' END AS dir
        |FROM p JOIN b ON b.event_id = p.event_id
        |       JOIN f ON f.event_id = p.event_id
        |ORDER BY p.event_id""".stripMargin,
    "j10_join_asof" ->
      """WITH ord AS (
        |  SELECT o_custkey AS uid, o_orderdate, max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY 1, 2),
        |ev AS (
        |  SELECT event_id, user_id, epoch_ns(ts)//1000000 AS ts_ms FROM events)
        |SELECT e.event_id, e.user_id, e.ts_ms, o.o_orderkey
        |FROM ev e ASOF LEFT JOIN ord o
        |  ON e.user_id = o.uid AND e.ts_ms >= epoch_ms(o.o_orderdate)
        |ORDER BY event_id""".stripMargin,
    "j18_join_asof_fwd" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_ns(ts)//1000000 AS ts_ms, value
        |            FROM events),
        |hv AS (SELECT user_id, ts_ms, min(event_id) AS hv_id
        |       FROM ev WHERE value > 90.0 GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ts_ms, h.hv_id AS next_hv_id
        |FROM ev e ASOF LEFT JOIN hv h
        |  ON e.user_id = h.user_id AND e.ts_ms < h.ts_ms
        |ORDER BY event_id""".stripMargin,
    "j11_join_interval" ->
      """SELECT o_orderkey, COUNT(*) AS n_quick_lines
        |FROM orders JOIN lineitem
        |  ON o_orderkey = l_orderkey
        | AND l_shipdate >= o_orderdate
        | AND l_shipdate < o_orderdate + INTERVAL 30 DAY
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    "j16_interval_overlap" ->
      """WITH o AS (SELECT o_orderkey, epoch_ms(o_orderdate) AS t0,
        |                  epoch_ms(o_orderdate) + 604800000 AS t1 FROM orders),
        |a AS (SELECT o_orderkey AS a_key, t0 AS a0, t1 AS a1 FROM o
        |      WHERE o_orderkey % 97 = 0)
        |SELECT a.a_key, o.o_orderkey AS b_key,
        |       least(a.a1, o.t1) - greatest(a.a0, o.t0) AS overlap_ms
        |FROM a JOIN o ON a.a0 < o.t1 AND o.t0 < a.a1
        |  AND a.a_key <> o.o_orderkey
        |ORDER BY a_key, b_key""".stripMargin,
    "j14_join_range_binned" ->
      """WITH ev AS (SELECT event_id, epoch_ns(ts)//1000000 AS ts_ms FROM events),
        |anch AS (SELECT event_id AS anchor_id, ts_ms AS t0 FROM ev
        |         WHERE event_id % 101 = 0)
        |SELECT anchor_id, COUNT(*) AS n_follow
        |FROM anch JOIN ev ON ev.ts_ms >= anch.t0 AND ev.ts_ms < anch.t0 + 3600000
        |  AND ev.event_id <> anch.anchor_id
        |GROUP BY anchor_id ORDER BY anchor_id""".stripMargin,
    "j12_self_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts)//1000000 AS ts_ms FROM events)
        |SELECT e1.user_id, COUNT(*) AS n_pairs
        |FROM e e1 JOIN e e2
        |  ON e1.user_id = e2.user_id AND e1.event_id < e2.event_id
        | AND abs(e1.ts_ms - e2.ts_ms) <= 3600000
        |GROUP BY e1.user_id ORDER BY e1.user_id""".stripMargin)
}
