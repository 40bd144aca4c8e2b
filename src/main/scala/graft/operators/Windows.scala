package graft.operators

import graft.{QueryModule, Tables}
import graft.Tables.{dec, epochMs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window functions (SURVEY.md §2.2 w01-w05), sort/limit/top-k (o01-o03)
  * and set operations (u01-u04).
  *
  * Determinism rules: row_number/ntile only over a UNIQUE ordering;
  * rank/dense_rank over the tie-carrying key alone (ties then rank
  * identically in any engine). Top-k per group is window row_number ≤ k —
  * never a per-group sort-and-take, which would centralize group state.
  */
object Windows extends QueryModule {

  def w01(spark: SparkSession, dir: String): DataFrame = {
    val unique = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val ties = Window.partitionBy("o_custkey").orderBy(col("o_orderpriority"))
    // NOT spread (measured, r16): rank/row_number windows do trivial
    // per-row work, so pinning the exchange to 32 tasks costs more than
    // the serial stage saves (A/B: w01 flat, w02 0.53→0.73, w05
    // 0.41→0.63, o03 0.54→0.73 WORSE) — only frame-aggregation windows
    // (w03/w04/w07/t26) and session aggs (t03/t14) keep the pin.
    Tables.orders(spark, dir)
      .select(
        col("o_custkey"), col("o_orderkey"),
        row_number().over(unique).as("rn"),
        rank().over(ties).as("rk"),
        dense_rank().over(ties).as("drk"),
        ntile(4).over(unique).as("quartile"))
      .orderBy("o_custkey", "o_orderkey")
  }

  def w02(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir) // NOT spread — see w01 (lag is trivial per row)
      .select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        first(col("o_orderkey")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("first_key"),
        last(col("o_orderkey")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("last_key"))
      .orderBy("o_custkey", "o_orderkey")
  }

  def w03(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.spread(Tables.orders(spark, dir), "o_custkey") // §2.5 window pin
      .select(
        col("o_custkey"), col("o_orderkey"),
        sum(dec(col("o_totalprice"))).over(w).cast("double").as("running_total"),
        count(lit(1)).over(w).as("running_n"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Range frame over epoch-ms: trailing 30-day spend per customer. Frames
    * by VALUE (not row count), so equal timestamps share a frame — engine-
    * order independent by construction. */
  def w04(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("t"))
      .rangeBetween(-30L * 86400000L, 0L)
    Tables.spread(Tables.orders(spark, dir), "o_custkey") // §2.5 window pin
      .withColumn("t", epochMs(col("o_orderdate")))
      .select(
        col("o_custkey"), col("o_orderkey"), col("t"),
        sum(dec(col("o_totalprice"))).over(w).cast("double").as("trailing_30d"))
      .orderBy("o_custkey", "o_orderkey", "t")
  }

  /** Latest-wins dedup — the relational core of upsert merge (R15/S40). */
  def w05(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ms").desc, col("event_id").desc)
    Tables.events(spark, dir) // NOT spread — see w01 (row_number is trivial)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "ts_ms", "event_type")
      .orderBy("user_id")
  }

  def o01(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderstatus")
      .orderBy(col("o_orderpriority").asc_nulls_first,
        col("o_totalprice").desc, col("o_orderkey"))

  def o02(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)

  def o03(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir) // NOT spread — see w01 (row_number is trivial)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rn")
  }

  /** o06: o03's top-3-per-customer computed by the custom TopKPerGroup
    * physical operator (graft.plans) — two-phase bounded heaps instead of
    * window row_number: the exchange carries ≤ k rows per group per
    * mapper, and nothing sorts. Same rows as o03's window form (the order
    * is total), checked by the shared oracle shape and TopKSpec. */
  def o06(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select("o_custkey", "o_orderkey", "o_totalprice")
    graft.plans.TopK
      .topKPerGroup(base, Seq("o_custkey"),
        Seq(("o_totalprice", true), ("o_orderkey", false)), 3)
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
  }

  /** o05: deterministic per-group sample — ≤5 documents per language,
    * chosen by a seeded hash order (the distributed stand-in for per-key
    * reservoir sampling: reproducible, append-stable, and one window pass
    * instead of a stateful reservoir). */
  def o05(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("samp_key", "doc_id")
    Tables.documents(spark, dir)
      .withColumn("samp_key", md5(concat(lit("samp:"), col("doc_id").cast("string"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select("lang", "rk", "doc_id", "samp_key")
      .orderBy("lang", "rk")
  }

  private def f(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
      .select("o_custkey")
  private def o(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).filter(col("o_orderstatus") === "O")
      .select("o_custkey")

  def u01(spark: SparkSession, dir: String): DataFrame =
    f(spark, dir).unionByName(o(spark, dir)).orderBy("o_custkey")

  def u02(spark: SparkSession, dir: String): DataFrame =
    f(spark, dir).union(o(spark, dir)).distinct().orderBy("o_custkey")

  def u03(spark: SparkSession, dir: String): DataFrame =
    f(spark, dir).intersect(o(spark, dir)).orderBy("o_custkey")

  def u04(spark: SparkSession, dir: String): DataFrame =
    f(spark, dir).except(o(spark, dir)).orderBy("o_custkey")

  /** Multiset (bag) semantics — a genuinely different operator from
    * u03/u04: duplicates survive with multiplicity min/difference. */
  def u05(spark: SparkSession, dir: String): DataFrame =
    f(spark, dir).intersectAll(o(spark, dir)).orderBy("o_custkey")

  def u06(spark: SparkSession, dir: String): DataFrame =
    f(spark, dir).exceptAll(o(spark, dir)).orderBy("o_custkey")

  /** o07: keyset-stable pagination — total order + offset + limit, the
    * page-N read every results API issues. Spark's offset() (3.4+)
    * composes with the global sort exactly like LIMIT ... OFFSET. */
  def o07(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .offset(100)
      .limit(50)

  /** u07: schema-evolution union — the old extract lacks a column the new
    * one has; unionByName(allowMissingColumns) null-fills it, the
    * append-compatibility contract for evolving pipelines. */
  def u07(spark: SparkSession, dir: String): DataFrame = {
    val old = Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_totalprice")
    val nu = Tables.orders(spark, dir).filter(col("o_orderstatus") === "O")
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
    old.unionByName(nu, allowMissingColumns = true)
      .orderBy("o_orderkey")
  }

  /** o08: weighted sampling without replacement (Efraimidis-Spirakis
    * A-Res): rank every row by u^(1/w) with u a seeded-hash uniform and
    * take the top k — the ONE-PASS distributed weighted sample (longer
    * documents proportionally likelier). The property that makes it the
    * scale algorithm: no weight-normalization pass (keys are compared,
    * never summed), so it runs as a map + TakeOrdered — no global sort,
    * no second scan, and the same keys stream into a bounded heap in a
    * streaming setting. Ranked via the monotone image ln(u)/w (exactly
    * the same total order); selection happens at full double precision,
    * output carries no float columns. */
  def o08(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Md5Hi60.register(spark)
    Tables.documents(spark, dir)
      .withColumn("u", expr(
        "CAST(md5_hi60(concat('ws:', CAST(doc_id AS STRING))) AS DOUBLE) / 1152921504606846976.0"))
      .withColumn("k", expr("ln(u) / n_chars"))
      .orderBy(col("k").desc, col("doc_id"))
      .limit(50)
      .select("doc_id", "n_chars")
      .orderBy("doc_id")
  }

  /** w07: IGNORE-NULLS gap fill — the sensor/telemetry idiom: a sparse
    * signal (here value surfaces only on every 5th event) forward-fills
    * from the last observation and back-fills from the next, per entity
    * in event-time order. last/first with ignoreNulls over one-sided
    * frames — ONE user-key shuffle carries both directions; no self-join,
    * no as-of. (t10 is the time-GRID resample; this is the row-aligned
    * fill that keeps the original event spine.) */
  def w07(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
    Tables.spread(Tables.events(spark, dir), "user_id") // §2.5 window pin
      .withColumn("v_sparse",
        when(pmod(col("event_id"), lit(5)) === 0, col("value")))
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("v_sparse"),
        last(col("v_sparse"), ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("v_ffill"),
        first(col("v_sparse"), ignoreNulls = true)
          .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
          .as("v_bfill"))
      .orderBy("user_id", "ts_ms", "event_id")
  }

  /** w08: PERIOD-OVER-PERIOD GROWTH — monthly revenue per order priority
    * with the previous period and month-over-month growth rate from one
    * lag window. The classic BI drumbeat metric, shaped for scale: the
    * fact table collapses to (priority × month) rows in a partial-agg
    * groupBy BEFORE any window runs, so the window exchange moves a few
    * hundred rows regardless of table size. Revenue accumulates
    * DECIMAL(38,4) and surfaces as DOUBLE (the cross-engine contract);
    * the growth ratio is then a pure function of two identical doubles,
    * rounded with the shared half-up micro rule. */
  def w08(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
    val w = Window.partitionBy("o_orderpriority").orderBy("month")
    monthly
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .withColumn("mom_growth",
        floor((col("revenue") - col("prev_revenue")) / col("prev_revenue")
          * 1000000.0 + 0.5) / 1000000.0)
      .orderBy("o_orderpriority", "month")
  }

  /** w09: CUMULATIVE DISTINCT USERS — per event type and day: active
    * users, NEW users (first ever seen that day), and the running total
    * of distinct users to date. The growth-accounting drumbeat every
    * product dashboard opens with, and the query naive SQL gets
    * catastrophically wrong at scale: COUNT(DISTINCT) OVER a cumulative
    * frame re-counts the full user set per day (quadratic, and Spark
    * refuses it outright). The scalable identity: cumulative distinct ==
    * running SUM of first-seen counts — one (type, user) min-day
    * aggregate, one (type, day) rollup, then a window over the
    * days × types frame (hundreds of rows at any corpus size). Active
    * counts collapse (type, day, user) first — every aggregate
    * map-side-combinable, nothing event-sized past the first pass. */
  def w09(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"),
        expr("ts_ms div 86400000").as("day_idx"))
    val active = e.groupBy("event_type", "day_idx", "user_id").agg(count(lit(1)).as("_n"))
      .groupBy("event_type", "day_idx").agg(count(lit(1)).as("n_active"))
    val firstSeen = e.groupBy("event_type", "user_id").agg(min("day_idx").as("day_idx"))
      .groupBy("event_type", "day_idx").agg(count(lit(1)).as("n_new"))
    val w = Window.partitionBy("event_type").orderBy("day_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    active.join(firstSeen, Seq("event_type", "day_idx"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("cum_users", sum("n_new").over(w))
      .orderBy("event_type", "day_idx")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "w09_cumulative_distinct" -> w09,
    "w08_mom_growth" -> w08,
    "o08_weighted_sample" -> o08,
    "w07_win_fill" -> w07,
    "w01_win_rank" -> w01,
    "w02_win_analytic" -> w02,
    "w03_win_frame_rows" -> w03,
    "w04_win_frame_range" -> w04,
    "w05_win_latest_wins" -> w05,
    "o01_sort_multi" -> o01,
    "o02_limit" -> o02,
    "o03_topk_per_group" -> o03,
    "o05_sample_per_group" -> o05,
    "o06_topk_custom_exec" -> o06,
    "u01_union" -> u01,
    "u02_union_distinct" -> u02,
    "u03_intersect" -> u03,
    "u04_except" -> u04,
    "u05_intersect_all" -> u05,
    "u06_except_all" -> u06,
    "o07_offset" -> o07,
    "u07_union_evolve" -> u07)

  val oracles: Map[String, String] = Map(
    // w09: DuckDB takes the direct COUNT(DISTINCT) per day for actives;
    // cumulative distinct restated as the same running sum of first-seen
    // counts (equality proves the identity the scalable plan relies on)
    "w09_cumulative_distinct" ->
      """WITH e AS (SELECT event_type, user_id,
        |                  epoch_ns(ts)//1000000//86400000 AS day_idx FROM events),
        |a AS (SELECT event_type, day_idx, COUNT(DISTINCT user_id) AS n_active
        |      FROM e GROUP BY 1, 2),
        |fs AS (SELECT event_type, user_id, MIN(day_idx) AS day_idx
        |       FROM e GROUP BY 1, 2),
        |nn AS (SELECT event_type, day_idx, COUNT(*) AS n_new FROM fs GROUP BY 1, 2)
        |SELECT a.event_type, a.day_idx, a.n_active,
        |       CAST(COALESCE(nn.n_new, 0) AS BIGINT) AS n_new,
        |       CAST(SUM(COALESCE(nn.n_new, 0)) OVER (PARTITION BY a.event_type
        |              ORDER BY a.day_idx) AS BIGINT) AS cum_users
        |FROM a LEFT JOIN nn USING (event_type, day_idx)
        |ORDER BY event_type, day_idx""".stripMargin,
    // w08: identical monthly rollup (DECIMAL accumulate, DOUBLE surface),
    // identical lag window, shared floor(x*1e6+0.5)/1e6 rounding; the
    // first month of each priority has no predecessor → NULL both sides
    "w08_mom_growth" ->
      """WITH m AS (
        |  SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m') AS month,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_orderpriority, month, revenue,
        |       lag(revenue) OVER w AS prev_revenue,
        |       floor((revenue - lag(revenue) OVER w) / (lag(revenue) OVER w)
        |             * 1000000 + 0.5) / 1000000 AS mom_growth
        |FROM m
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY month)
        |ORDER BY o_orderpriority, month""".stripMargin,
    // w07: same one-sided ignore-nulls frames; value passes through
    // unaggregated so the parquet doubles surface identically
    "w07_win_fill" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts)//1000000 AS ts_ms,
        |         CASE WHEN event_id % 5 = 0 THEN value END AS v_sparse
        |  FROM events)
        |SELECT user_id, event_id, ts_ms, v_sparse,
        |       last_value(v_sparse IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY ts_ms, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill,
        |       first_value(v_sparse IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY ts_ms, event_id
        |         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_bfill
        |FROM e ORDER BY user_id, ts_ms, event_id""".stripMargin,
    // o08: identical seeded-uniform + monotone key; ordering decided at
    // full double precision (distinct keys with prob 1), floats not output
    "o08_weighted_sample" ->
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |         ln(CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |            / 1152921504606846976.0) / n_chars AS k
        |  FROM documents
        |  ORDER BY k DESC, doc_id LIMIT 50) t
        |ORDER BY doc_id""".stripMargin,
    "w01_win_rank" ->
      """SELECT o_custkey, o_orderkey,
        |       row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
        |       rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS rk,
        |       dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS drk,
        |       ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS quartile
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "w02_win_analytic" ->
      """SELECT o_custkey, o_orderkey,
        |       lag(o_totalprice, 1) OVER w AS prev_price,
        |       lead(o_totalprice, 1) OVER w AS next_price,
        |       first_value(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_key,
        |       last_value(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "w03_win_frame_rows" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) OVER w AS DOUBLE) AS running_total,
        |       COUNT(*) OVER w AS running_n
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "w04_win_frame_range" ->
      """SELECT o_custkey, o_orderkey, epoch_ms(o_orderdate) AS t,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) OVER (
        |         PARTITION BY o_custkey ORDER BY epoch_ms(o_orderdate)
        |         RANGE BETWEEN 2592000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_30d
        |FROM orders ORDER BY o_custkey, o_orderkey, t""".stripMargin,
    "w05_win_latest_wins" ->
      """SELECT user_id, event_id, epoch_ns(ts)//1000000 AS ts_ms, event_type
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "o01_sort_multi" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice, o_orderstatus
        |FROM orders
        |ORDER BY o_orderpriority ASC NULLS FIRST, o_totalprice DESC, o_orderkey""".stripMargin,
    "o02_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "o03_topk_per_group" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "o05_sample_per_group" ->
      """SELECT lang, rk, doc_id, samp_key FROM (
        |  SELECT lang, doc_id,
        |         md5('samp:' || CAST(doc_id AS VARCHAR)) AS samp_key,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5('samp:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,
    "o06_topk_custom_exec" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,
    "u01_union" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "u02_union_distinct" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |UNION
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "u03_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "u04_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "u05_intersect_all" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT ALL
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "u06_except_all" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT ALL
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "o07_offset" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 50 OFFSET 100""".stripMargin,
    "u07_union_evolve" ->
      """SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
        |FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_orderkey""".stripMargin)
}
