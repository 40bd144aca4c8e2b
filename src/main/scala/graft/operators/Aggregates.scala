package graft.operators

import graft.{QueryModule, Tables}
import graft.Tables.dec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregations (SURVEY.md §2.2 a01-a09).
  *
  * All double-valued aggregates accumulate in DECIMAL(38,4) (exact,
  * order-independent) and surface as DOUBLE; Catalyst still produces
  * partial (map-side) + final HashAggregate pairs, so the shuffle carries
  * one row per group per partition — the layout that survives 100 TB.
  * a09's moment statistics are derived from exact decimal power sums in
  * plain SQL so both engines compute identical IEEE results.
  */
object Aggregates extends QueryModule {

  def a01(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        (sum(dec(col("l_quantity"))).cast("double") / count(col("l_quantity"))).as("avg_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  // NOT spread (measured, r16): the distinct-agg Expand looks like the
  // a05 shape, but its partial agg collapses hard map-side, so the extra
  // row exchange costs more than the 3-split scan stage saves
  // (interleaved A/B min-of-3: 1.35 → 1.57 — the l18/l20 lesson).
  def a02(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey"), col("l_suppkey")).as("n_part_supp"),
        sum_distinct(dec(col("l_quantity"))).cast("double").as("sum_dist_qty"))
      .orderBy("l_returnflag")

  /** HLL sketch distinct — engine-specific, no DuckDB oracle; accuracy
    * asserted in AggregateSpec (within 5% of exact at rsd=0.01).
    *
    * Final ordering is coalesce(1) + sortWithinPartitions, NOT orderBy:
    * rsd=0.01 makes the partial buffer 2×1639 longs per group (3278
    * aggregate attributes in the plan — plans/r16), so the final HLL
    * merge stage is expensive per evaluation, and a range-sort boundary
    * EVALUATES IT TWICE (once to sample bounds, once to produce rows —
    * measured +0.8 s in an r16 A/B of the two orderings). Output
    * cardinality is the returnflag domain (3 rows at any SF), so one
    * sorted partition is the scale-honest shape for this result; same
    * rows, same total order. */
  def a03(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_orderkey"), rsd = 0.01).as("approx_orders"),
        approx_count_distinct(col("l_partkey"), rsd = 0.01).as("approx_parts"))
      .coalesce(1).sortWithinPartitions("l_returnflag")

  private def gkey(c: String): org.apache.spark.sql.Column =
    coalesce(col(c), lit("__ALL__"))

  def a04(spark: SparkSession, dir: String): DataFrame = {
    // same §2.5 spread as a05/a06 — the GROUPING SETS expand runs on the
    // scan stage; the SQL body is unchanged
    Tables.spread(Tables.lineitem(spark, dir), "l_orderkey")
      .createOrReplaceTempView("graft_a04_lineitem")
    spark.sql(
      """SELECT coalesce(l_returnflag, '__ALL__') AS rf,
        |       coalesce(l_linestatus, '__ALL__') AS ls,
        |       grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty
        |FROM graft_a04_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_rf, g_ls, rf, ls""".stripMargin)
  }

  // a05/a06: the rollup/cube partial aggregate is the per-row-heavy
  // stage (each row expands to 3/4 grouping-set rows of DECIMAL(38,4)
  // sums) and it runs ON the scan stage — a handful of splits at fixture
  // size, so 32 cores idle while 3 tasks grind (measured: one 3-task job,
  // 1.1-1.2 s taskSum ≈ wall). Tables.spread restores parallelism ahead
  // of it and is a planner-metadata no-op on any at-scale input (§2.5).
  def a05(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.lineitem(spark, dir), "l_orderkey")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
      .select(gkey("l_returnflag").as("rf"), gkey("l_linestatus").as("ls"),
        col("n"), col("sum_qty"))
      .orderBy("rf", "ls")

  def a06(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.lineitem(spark, dir), "l_orderkey")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
      .select(gkey("l_returnflag").as("rf"), gkey("l_linestatus").as("ls"),
        col("n"), col("sum_qty"))
      .orderBy("rf", "ls")

  /** Re-nesting (inverse of the ODM explode cascade R7): children collected
    * into sorted arrays for determinism, then serialized to a canonical
    * comma-joined string — the harness's column hasher can't order raw
    * array cells, and the string form is engine-portable. */
  def a07(spark: SparkSession, dir: String): DataFrame =
    // NOT spread (measured, r16): repartitioning on the group key ahead
    // of the collect looked like it should reuse the exchange, but the
    // collect buffers ship whole either way — A/B worse in 2 of 3 rounds
    // (1.99/1.52/1.61 before vs 1.36/2.30/1.94 after); reverted.
    Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(
        array_join(transform(array_sort(collect_list(col("l_linenumber"))),
          _.cast("string")), ",").as("line_numbers"),
        array_join(array_sort(collect_set(col("l_returnflag"))), ",").as("flags"))
      .orderBy("l_orderkey")

  def a08(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_linestatus")
      .agg(
        sum(when(col("l_returnflag") === "A", dec(col("l_quantity"))))
          .cast("double").as("qty_a"),
        sum(when(col("l_returnflag") === "R", dec(col("l_quantity"))))
          .cast("double").as("qty_r"),
        count(when(col("l_discount") > 0.05, lit(1))).as("n_discounted"))
      .orderBy("l_linestatus")

  /** Moment statistics from exact decimal power sums: var/stddev/corr are
    * then pure IEEE arithmetic on identical inputs in both engines.
    * median over integer cents: interpolation midpoints are exact halves. */
  def a09(spark: SparkSession, dir: String): DataFrame = {
    val x = dec(col("l_quantity"))
    val y = dec(col("l_extendedprice"))
    val li = Tables.lineitem(spark, dir)
    // median via the a14 rank plan, not the built-in percentile: the
    // value→count map buffer over 600k near-distinct cents measured 4 s
    // with equal parts driver GC
    val median = rankPercentiles(
      li.select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents")),
      "l_returnflag", Seq(0.5))
      .select(col("l_returnflag"), col("v").as("median_cents"))
    // the six-decimal-power-sum partial agg is the heavy stage (1.45 s on
    // the 3-split scan) — spread it (§2.5; decimal sums are exact, so the
    // repartition cannot change a bit). The median leg is NOT spread: its
    // rank window partitions by l_returnflag, so its parallelism is the
    // group count regardless of the exchange width (a21's story).
    Tables.spread(li, "l_orderkey").groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"),
        sum(x * x).cast("double").as("sxx"),
        sum(y).cast("double").as("sy"),
        sum(y * y).cast("double").as("syy"),
        sum(x * y).cast("double").as("sxy"))
      .join(broadcast(median), "l_returnflag")
      .withColumn("var_qty",
        round((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1), 8))
      .withColumn("stddev_qty", round(sqrt(
        (col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)), 8))
      .withColumn("corr_qty_price",
        round((col("sxy") - col("sx") * col("sy") / col("n")) /
          (sqrt(col("sxx") - col("sx") * col("sx") / col("n")) *
            sqrt(col("syy") - col("sy") * col("sy") / col("n"))), 8))
      .select("l_returnflag", "n", "sx", "sy", "var_qty", "stddev_qty",
        "corr_qty_price", "median_cents")
      .orderBy("l_returnflag")
  }

  /** Exact per-group percentiles by rank arithmetic: row_number per
    * group, then the ≤ 2·|ps|·|groups| bracketing-rank rows come back via
    * a broadcast equi-join and interpolate in quantile_cont's (and the
    * built-in percentile's) exact FP shape, lower·(1−frac) + upper·frac —
    * NOT the algebraically-equal lo + (hi−lo)·frac, which differs in the
    * last ulp (observed at p99 on sf0.01). Returns (group, p, v). */
  private def rankPercentiles(grouped: DataFrame, groupCol: String,
      ps: Seq[Double]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy("cents")
    val ranked = grouped.withColumn("rk", row_number().over(w))
    val marks = grouped.groupBy(groupCol).agg(count(lit(1)).as("n"))
      .select(col(groupCol), col("n"),
        explode(array(ps.map(lit): _*)).as("p"))
      .withColumn("pos", col("p") * (col("n") - lit(1L)))
      .select(col(groupCol), col("p"), col("pos"),
        explode(array(
          floor(col("pos")).cast("bigint") + 1,
          ceil(col("pos")).cast("bigint") + 1)).as("rk"))
      .distinct()
    ranked.join(broadcast(marks), Seq(groupCol, "rk"))
      .groupBy(groupCol, "p", "pos")
      .agg(min("cents").as("vlo"), max("cents").as("vhi"))
      .withColumn("frac", col("pos") - floor(col("pos")))
      .select(col(groupCol), col("p"),
        (col("vlo") * (lit(1.0) - col("frac")) + col("vhi") * col("frac")).as("v"))
  }

  def a14(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
    val per = rankPercentiles(c, "l_returnflag", Seq(0.25, 0.5, 0.75, 0.9, 0.99))
    per.groupBy("l_returnflag")
      .agg(
        min(when(col("p") === 0.25, col("v"))).as("p25"),
        min(when(col("p") === 0.5, col("v"))).as("p50"),
        min(when(col("p") === 0.75, col("v"))).as("p75"),
        min(when(col("p") === 0.9, col("v"))).as("p90"),
        min(when(col("p") === 0.99, col("v"))).as("p99"))
      .orderBy("l_returnflag")
  }

  /** a15: exact heavy hitters — (event_type, user) pairs whose count
    * exceeds the corpus's own 90th percentile of pair counts. The
    * threshold is data-derived (a fixed share-of-total admits zero rows
    * once user count scales with data volume — the zero-row trap), so
    * ~10% of pairs qualify at every SF. Two-phase: shuffled pair-count,
    * then two broadcast one-row joins (p90 + total); share is an int/int
    * double division and the percentile interpolation is the same IEEE
    * arithmetic in both engines (a14 pins that). The exact-count
    * counterpart to a count-min sketch: the pair grid is bounded by
    * |types| x |users|, far below event count, so phase 2 is cheap at
    * any scale. */
  def a15(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val pairs = e.groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
    val thr = pairs.agg(expr("percentile(cnt, 0.9)").as("p90"))
    val total = e.agg(count(lit(1)).as("total"))
    pairs.crossJoin(broadcast(thr)).crossJoin(broadcast(total))
      .filter(col("cnt") > col("p90"))
      .withColumn("share", col("cnt").cast("double") / col("total").cast("double"))
      .select("event_type", "user_id", "cnt", "share")
      .orderBy("event_type", "user_id")
  }

  /** a16: robust outlier profile — per-group median / MAD / outlier count
    * (|x - median| > 3 · 1.4826 · MAD, the normal-consistent robust
    * z-score). Mean/stddev outlier rules break down exactly when outliers
    * exist (the outliers inflate the threshold); median/MAD is the
    * data-profiling rule that survives contamination. Both medians go
    * through the a14 rank-window + broadcast bracketing-rank join, never
    * the built-in `percentile` map-buffer aggregate (value→count map per
    * partial — the a14 pathology at scale). Exactness chain: cents are
    * integers → med is 0.5-grained → absdev is 0.5-grained → MAD (median
    * of absdev, taken over 2·absdev integers then halved) is
    * 0.25-grained; every quantity is an exact dyadic double in both
    * engines. The outlier test is then pinned in integer space:
    * absdev > 4.4478·mad ⟺ 20000·absdev > 88956·mad, and both products
    * are exactly-representable integers (absdev·20000 ∈ 10000·ℤ,
    * mad·88956 ∈ 22239·ℤ), so no last-ulp double-product divergence
    * between Spark and DuckDB can flip a boundary row. Group cardinality
    * is |event_type|, so the rank joins are tiny at any corpus size; the
    * heavy scans are map-side. */
  def a16(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val med = rankPercentiles(e, "event_type", Seq(0.5))
      .select(col("event_type"), col("v").as("med"))
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("absdev", abs(col("cents") - col("med")))
    // absdev is 0.5-grained; double it into exact integers so the rank
    // plan interpolates integers (result halved back → 0.25-grained MAD).
    val mad = rankPercentiles(
      dev.select(col("event_type"), (col("absdev") * 2).cast("bigint").as("cents")),
      "event_type", Seq(0.5))
      .select(col("event_type"), (col("v") / 2.0).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        first(col("med")).as("median_cents"),
        first(col("mad")).as("mad_cents"),
        sum(when((col("absdev") * 20000).cast("bigint") >
            (col("mad") * 88956).cast("bigint"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  /** a17: behavioral entropy — Shannon entropy (nats) of each user's
    * event-type distribution, the profiling signal for bot/anomaly
    * screening (near-zero entropy = single-action accounts). Float
    * summation order is pinned by folding over the SORTED count list
    * (aggregate() is a strict left fold; the entropy term depends only on
    * the count, so count-sorting fully determines the sum) — without that
    * the per-group add order is partition-dependent and the oracle hash
    * diverges. Two shuffles on bounded grids (user×type, then user). */
  def a17(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(sum("c").as("n"), count(lit(1)).as("n_types"),
        sort_array(collect_list(col("c"))).as("cs"))
      .withColumn("entropy_nats", floor(expr(
        """aggregate(cs, 0D,
          |  (acc, c) -> acc - (c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE)))"""
          .stripMargin) * 1000000.0 + 0.5) / 1000000.0)
      .select("user_id", "n", "n_types", "entropy_nats")
      .orderBy("user_id")
  }

  /** Count-Min sketch geometry: depth 4 independent hash rows × width
    * 256 counters. Seeded md5 cells keep both engines on identical
    * buckets. */
  private[graft] val CmDepth = 4
  private[graft] val CmWidth = 256

  /** Callers must Md5Hi60.register(spark) first. */
  private[graft] def cmCell: String =
    s"md5_hi60(concat('cm', CAST(d AS STRING), ':', k)) % $CmWidth"

  /** a18: Count-Min sketch — the MERGEABLE frequency sketch (the
    * counts-side sibling of a13's HLL cardinality merge, but fully
    * SQL-expressible and therefore hash-oracled). Build: every row
    * increments one cell per depth; declaratively that's a ×depth
    * explode whose groupBy collapses map-side to at most depth×width =
    * 1024 cells per partition — each partition's partial aggregate IS
    * its local sketch, and the shuffle merges sketches by cell addition,
    * exactly the streaming/distributed CM contract. Estimate: min over
    * the key's depth cells. The classic one-sided guarantee (estimate ≥
    * true count, over-count bounded by collisions) is surfaced by
    * emitting both the exact count and the estimate per key. */
  def a18(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Md5Hi60.register(spark)
    // the CmDepth-way explode + cell hash is a fan-out stage riding the
    // events scan (ONE split at fixture size → serial). Spread on the
    // uniform event_id BEFORE projecting it away (event_type has only 5
    // values — useless as a spread key); at-scale no-op (§2.5).
    val e = Tables.spread(Tables.events(spark, dir)
        .select(col("event_id"), col("event_type").as("k")), "event_id")
      .select("k")
    val sketch = e
      .select(col("k"), explode(expr(s"sequence(0, ${CmDepth - 1})")).as("d"))
      .withColumn("cell", expr(cmCell))
      .groupBy("d", "cell").agg(count(lit(1)).as("c"))
    val keys = e.groupBy("k").agg(count(lit(1)).as("n_true"))
    keys
      .select(col("k"), col("n_true"),
        explode(expr(s"sequence(0, ${CmDepth - 1})")).as("d"))
      .withColumn("cell", expr(cmCell))
      .join(sketch, Seq("d", "cell"))
      .groupBy("k", "n_true").agg(min("c").as("cm_est"))
      .select(col("k").as("event_type"), col("n_true"), col("cm_est"))
      .orderBy("event_type")
  }

  /** a19: argmax/argmin aggregates (`max_by`/`min_by`) — "which user
    * drove the extreme", the leaderboard primitive that otherwise costs
    * a window + rank pass (o03). One HashAggregate pair, no window, no
    * second shuffle. Ties are impossible nondeterminism here because
    * the ordering key is the FULL struct (total, user_id): max_by picks
    * the lexicographic max, so any partitioning yields the same row —
    * the same total order the oracle spells as ORDER BY total, user_id.
    * Totals accumulate in DECIMAL first (order-independent doubles). */
  def a19(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type", "user_id")
      .agg(sum(dec(col("value"))).cast("double").as("total"))
      .groupBy("event_type")
      .agg(
        max_by(col("user_id"), struct(col("total"), col("user_id"))).as("top_user"),
        max(col("total")).as("top_total"),
        min_by(col("user_id"), struct(col("total"), col("user_id"))).as("bottom_user"),
        min(col("total")).as("bottom_total"))
      .orderBy("event_type")

  /** a20: EXACT distinct counting via mergeable bitmap partials — the
    * scale alternative to both count(distinct) (whose expand doubles
    * the shuffled rows) and HLL (approximate, a03). Dense ids pack 64
    * per bucket: bucket = id div 64, partial = bit_or of (1 << id%64)
    * — an 8-byte mergeable sketch cell exactly like a13/a18, but LOSSLESS.
    * The real win is INCREMENTAL (h02's story): yesterday's per-bucket
    * bitmaps OR with today's delta — distinct-over-history without
    * rescanning history, which no count(distinct) can do. Shuffles:
    * (key, bucket) partial then key merge, both map-side-combinable;
    * popcount rides the final aggregate. */
  def a20(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"))
      .groupBy(col("event_type"), expr("user_id div 64").as("bucket"))
      .agg(expr("bit_or(shiftleft(1L, CAST(user_id % 64 AS INT)))").as("bm"))
      .groupBy("event_type")
      .agg(sum(bit_count(col("bm")).cast("bigint")).as("n_distinct"),
        count(lit(1)).as("n_buckets"))
      .orderBy("event_type")

  /** a21: weighted median (lower) — the order statistic a14's unweighted
    * percentiles can't express: each value counts with its quantity
    * weight (price-weighted-by-volume, latency-weighted-by-traffic).
    * EXACT and engine-portable by construction: collapse to one row per
    * (group, value) with a DECIMAL weight sum, cumulative-sum over the
    * value order, pick min v with 2·cum ≥ total — every comparison is
    * decimal-exact and tie order inside equal values cannot matter
    * (ties collapsed before the scan). Shuffles: the (group, value)
    * aggregate, then the per-group window riding the group exchange. */
  def a21(spark: SparkSession, dir: String): DataFrame = {
    val wCum = Window.partitionBy("l_returnflag").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("l_returnflag")
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_extendedprice").as("v"))
      .agg(sum(dec(col("l_quantity"))).as("wv"))
      .withColumn("cum", sum("wv").over(wCum))
      .withColumn("tot", sum("wv").over(wAll))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy("l_returnflag")
      .agg(min("v").as("weighted_median"),
        max(col("tot")).cast("double").as("total_weight"))
      // a03's coalesce(1)+sortWithinPartitions move was TRIED here and
      // measured flat-to-worse (2.70 vs 2.99 best-of-2, interleaved) —
      // the window stage sits behind the final-agg exchange, so the
      // range-sort bounds sample never re-evaluates it; the cost is the
      // per-group cumulative scan itself (intrinsic order statistic,
      // parallelism = #groups). Kept as orderBy.
      .orderBy("l_returnflag")
  }

  /** a22: equi-depth histogram per series — the scalable replacement for
    * a global NTILE: ranking every row needs a TOTAL ORDER (one global
    * sort — the classic scale-killer window), but the bucket BOUNDARIES
    * only need the value distribution, which collapses. Optimizers build
    * CBO histograms exactly this way (s16's ANALYZE surface); a data
    * pipeline uses the same buckets for stratified sampling and skew
    * diagnosis. EXACT and engine-portable: quantize to integer
    * milli-units (t23's rule), collapse to one (series, value) row with
    * a count, then bucket(v) = (rows strictly below v) · k ÷ total in
    * BIGINT arithmetic — a value never splits across buckets (the
    * documented tie rule NTILE itself lacks), and every comparison is
    * integer. Shuffles: one map-side-combinable (series, vm) aggregate;
    * the cumulative window rides the collapsed histogram frame (bounded
    * by the quantized value domain, NOT the row count — at 100 TB the
    * collapse is the whole point), and the k-row summary rides the same
    * per-series exchange. */
  def a22(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    val wCum = Window.partitionBy("event_type").orderBy("vm")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy("event_type")
    Tables.events(spark, dir)
      .select(col("event_type"),
        floor(col("value") * 1000.0 + 0.5).cast("long").as("vm"))
      .groupBy("event_type", "vm").agg(count(lit(1)).as("w"))
      .withColumn("cumb", coalesce(sum("w").over(wCum), lit(0L)))
      .withColumn("tot", sum("w").over(wAll))
      .withColumn("bucket", expr(s"(cumb * $k) div tot + 1"))
      .groupBy("event_type", "bucket")
      .agg(sum("w").as("n_rows"), count(lit(1)).as("n_values"),
        (min("vm").cast("double") / 1000.0).as("lo"),
        (max("vm").cast("double") / 1000.0).as("hi"))
      .orderBy("event_type", "bucket")
  }

  /** a23: EXACT MODE — the most frequent value per group, an aggregate
    * Spark does not ship (and whose tie-break DuckDB's own mode() leaves
    * unspecified), so both engines run the same explicit plan: collapse
    * to a (group, value) count table, then one argmax window with a
    * TOTAL tie rule (count DESC, value ASC). The collapse is the scale
    * story: the count table is map-side-combinable and bounded by
    * group × domain cardinality, not the row count — the window ranks
    * at most |event types| rows per user. Also surfaces n_distinct and
    * the modal share in integer micro-units (no float division drift). */
  def a23(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("n").desc, col("event_type"))
    Tables.events(spark, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .withColumn("tot", sum("n").over(Window.partitionBy("user_id")))
      .withColumn("n_distinct",
        count(lit(1)).over(Window.partitionBy("user_id")))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("mode_event_type"),
        col("n").as("mode_n"), col("n_distinct"),
        expr("n * 1000000 div tot").as("share_micro"))
      .orderBy("user_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a23_mode" -> a23,
    "a22_equidepth_hist" -> a22,
    "a21_weighted_median" -> a21,
    "a20_bitmap_distinct" -> a20,
    "a19_argmax" -> a19,
    "a18_countmin" -> a18,
    "a01_agg_hash" -> a01,
    "a02_agg_distinct" -> a02,
    "a03_agg_approx_distinct" -> a03,
    "a04_agg_grouping_sets" -> a04,
    "a05_agg_rollup" -> a05,
    "a06_agg_cube" -> a06,
    "a07_agg_collect" -> a07,
    "a08_agg_filtered" -> a08,
    "a09_agg_stats" -> a09,
    "a14_percentiles" -> a14,
    "a15_heavy_hitters" -> a15,
    "a16_robust_outliers" -> a16,
    "a17_entropy" -> a17)

  val oracles: Map[String, String] = Map(
    // a23: same collapsed count table, same total tie rule; the share is
    // a BIGINT floor division so no engine rounds
    "a23_mode" ->
      """WITH c AS (SELECT user_id, event_type, COUNT(*) AS n
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, event_type, n,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY n DESC, event_type) AS rn,
        |        CAST(SUM(n) OVER (PARTITION BY user_id) AS BIGINT) AS tot,
        |        COUNT(*) OVER (PARTITION BY user_id) AS n_distinct
        |      FROM c)
        |SELECT user_id, event_type AS mode_event_type, n AS mode_n,
        |       n_distinct, n * 1000000 // tot AS share_micro
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // a22: same quantize → collapse → strictly-below cumulative →
    // BIGINT bucket assignment — every step integer-exact
    "a22_equidepth_hist" ->
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS vm
        |  FROM events),
        |g AS (SELECT event_type, vm, COUNT(*) AS w FROM e GROUP BY 1, 2),
        |c AS (SELECT *,
        |        COALESCE(SUM(w) OVER (PARTITION BY event_type ORDER BY vm
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
        |        SUM(w) OVER (PARTITION BY event_type) AS tot FROM g)
        |SELECT event_type, CAST((cumb * 8) // tot + 1 AS BIGINT) AS bucket,
        |       CAST(SUM(w) AS BIGINT) AS n_rows,
        |       CAST(COUNT(*) AS BIGINT) AS n_values,
        |       CAST(MIN(vm) AS DOUBLE) / 1000.0 AS lo,
        |       CAST(MAX(vm) AS DOUBLE) / 1000.0 AS hi
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // a21: same collapse → cumulative scan → first-crossing pick
    "a21_weighted_median" ->
      """WITH g AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |         SUM(CAST(l_quantity AS DECIMAL(38,4))) AS wv
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT *,
        |    SUM(wv) OVER (PARTITION BY l_returnflag ORDER BY v
        |                  ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(wv) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM g)
        |SELECT l_returnflag, MIN(v) AS weighted_median,
        |       CAST(MAX(tot) AS DOUBLE) AS total_weight
        |FROM c WHERE cum * 2 >= tot
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // a20: the bitmap construction is engine-internal; the CONTRACT is
    // exact distinct counts + the bucket count of the id space actually
    // touched — both first-class SQL
    "a20_bitmap_distinct" ->
      """SELECT event_type,
        |       COUNT(DISTINCT user_id) AS n_distinct,
        |       COUNT(DISTINCT user_id // 64) AS n_buckets
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // a19: the struct-ordered argmax spelled as rank-1 rows over the
    // explicit (total, user_id) total order — engine-portable SQL for
    // what max_by(user_id, struct(total, user_id)) computes
    "a19_argmax" ->
      """WITH t AS (
        |  SELECT event_type, user_id,
        |         CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY total DESC, user_id DESC) AS rmax,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY total ASC, user_id ASC) AS rmin
        |  FROM t)
        |SELECT event_type,
        |       MAX(CASE WHEN rmax = 1 THEN user_id END) AS top_user,
        |       MAX(CASE WHEN rmax = 1 THEN total END) AS top_total,
        |       MAX(CASE WHEN rmin = 1 THEN user_id END) AS bottom_user,
        |       MAX(CASE WHEN rmin = 1 THEN total END) AS bottom_total
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a18_countmin" ->
      s"""WITH e AS (SELECT event_type AS k FROM events),
         |cells AS (
         |  SELECT k, d,
         |         CAST(('0x' || substr(md5('cm' || CAST(d AS VARCHAR) || ':' || k), 1, 15))
         |              AS BIGINT) % $CmWidth AS cell
         |  FROM e, LATERAL (SELECT unnest(range(0, $CmDepth)) AS d) t),
         |sketch AS (SELECT d, cell, COUNT(*) AS c FROM cells GROUP BY 1, 2),
         |keys AS (SELECT k, COUNT(*) AS n_true FROM e GROUP BY 1),
         |kc AS (
         |  SELECT k, n_true, d,
         |         CAST(('0x' || substr(md5('cm' || CAST(d AS VARCHAR) || ':' || k), 1, 15))
         |              AS BIGINT) % $CmWidth AS cell
         |  FROM keys, LATERAL (SELECT unnest(range(0, $CmDepth)) AS d) t)
         |SELECT k AS event_type, n_true, MIN(c) AS cm_est
         |FROM kc JOIN sketch USING (d, cell)
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "a14_percentiles" ->
      """WITH c AS (SELECT l_returnflag,
        |                  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |           FROM lineitem)
        |SELECT l_returnflag,
        |       quantile_cont(cents, 0.25) AS p25,
        |       quantile_cont(cents, 0.5)  AS p50,
        |       quantile_cont(cents, 0.75) AS p75,
        |       quantile_cont(cents, 0.9)  AS p90,
        |       quantile_cont(cents, 0.99) AS p99
        |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "a17_entropy" ->
      """WITH c AS (SELECT user_id, event_type, COUNT(*) AS c
        |           FROM events GROUP BY 1, 2),
        |u AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
        |             COUNT(*) AS n_types, list_sort(list(c)) AS cs
        |      FROM c GROUP BY 1)
        |SELECT user_id, n, n_types,
        |       floor(list_sum(list_transform(cs,
        |         c -> -(c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE))))
        |         * 1000000.0 + 0.5) / 1000000.0 AS entropy_nats
        |FROM u ORDER BY user_id""".stripMargin,
    "a16_robust_outliers" ->
      """WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |med AS (SELECT event_type, quantile_cont(cents, 0.5) AS med
        |        FROM e GROUP BY event_type),
        |dev AS (SELECT e.event_type, abs(e.cents - med.med) AS absdev, med.med
        |        FROM e JOIN med ON e.event_type = med.event_type),
        |mad AS (SELECT event_type, quantile_cont(absdev, 0.5) AS mad
        |        FROM dev GROUP BY event_type)
        |SELECT dev.event_type, COUNT(*) AS n,
        |       MIN(dev.med) AS median_cents, MIN(mad.mad) AS mad_cents,
        |       CAST(SUM(CASE WHEN CAST(dev.absdev * 20000 AS BIGINT)
        |                        > CAST(mad.mad * 88956 AS BIGINT)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev JOIN mad ON dev.event_type = mad.event_type
        |GROUP BY dev.event_type ORDER BY dev.event_type""".stripMargin,
    "a15_heavy_hitters" ->
      """WITH p AS (SELECT event_type, user_id, COUNT(*) AS cnt
        |           FROM events GROUP BY event_type, user_id),
        |t AS (SELECT COUNT(*) AS total FROM events),
        |q AS (SELECT quantile_cont(cnt, 0.9) AS p90 FROM p)
        |SELECT event_type, user_id, cnt,
        |       CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share
        |FROM p, t, q WHERE cnt > p90
        |ORDER BY event_type, user_id""".stripMargin,
    "a01_agg_hash" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |       MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        |       MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "a02_agg_distinct" ->
      """SELECT l_returnflag,
        |       COUNT(DISTINCT l_suppkey) AS n_supp,
        |       COUNT(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp,
        |       CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_dist_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "a04_agg_grouping_sets" ->
      """SELECT coalesce(l_returnflag, '__ALL__') AS rf,
        |       coalesce(l_linestatus, '__ALL__') AS ls,
        |       GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_rf, g_ls, rf, ls""".stripMargin,
    "a05_agg_rollup" ->
      """SELECT coalesce(l_returnflag, '__ALL__') AS rf,
        |       coalesce(l_linestatus, '__ALL__') AS ls,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "a06_agg_cube" ->
      """SELECT coalesce(l_returnflag, '__ALL__') AS rf,
        |       coalesce(l_linestatus, '__ALL__') AS ls,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "a07_agg_collect" ->
      """SELECT l_orderkey,
        |       array_to_string(list_sort(list(l_linenumber)), ',') AS line_numbers,
        |       array_to_string(list_sort(list(DISTINCT l_returnflag)), ',') AS flags
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "a08_agg_filtered" ->
      """SELECT l_linestatus,
        |       CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(38,4)) END) AS DOUBLE) AS qty_a,
        |       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(38,4)) END) AS DOUBLE) AS qty_r,
        |       COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_discounted
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "a09_agg_stats" ->
      """WITH s AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(38,4)) * CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4)) * CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS syy,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(38,4)) * CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
        |         quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.5) AS median_cents
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n, sx, sy,
        |       round((sxx - sx * sx / n) / (n - 1), 8) AS var_qty,
        |       round(sqrt((sxx - sx * sx / n) / (n - 1)), 8) AS stddev_qty,
        |       round((sxy - sx * sy / n) / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)), 8) AS corr_qty_price,
        |       median_cents
        |FROM s ORDER BY l_returnflag""".stripMargin)
}
