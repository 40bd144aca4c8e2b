package graft.streaming

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** t30: STREAMING→LAKEHOUSE INGEST — the production ingest-writer shape,
  * registered and hash-gated like every batch operator. A Structured
  * Streaming file source drains the events table in three micro-batches
  * (maxFilesPerTrigger=1 over three staged chunk files, Trigger
  * .AvailableNow); foreachBatch folds each batch's per-type stats into
  * the s24 optimistic commit log (put-if-absent version pointers, monoid
  * merge — Lakehouse.s24Writer verbatim). The registered result is the
  * FINAL committed manifest, which must equal the one-shot batch stats:
  * the oracle restates exactly that, so the composed
  * stream→commit-protocol path is proven equivalent to a single batch
  * job, the invariant that makes micro-batch ingest trustworthy.
  *
  * Scale shape: each micro-batch's work is one map-side-combinable
  * aggregate over the batch plus a KB-sized manifest merge and an O(1)
  * pointer commit — state between batches lives in the log's parquet
  * manifest, not in executor memory, so the writer restarts from the
  * last committed version with nothing to rebuild (StreamingSpec pins
  * restart/exactly-once on the same composition with MemoryStream).
  *
  * Reference mapping: this is the Spark-native image of the reference's
  * broker consumer loop persisting batch results (broker.clj:65-95 +
  * store.clj:21-34) — there the state store is MongoDB; here the engine
  * owns its files, so the sink is the commit log.
  */
object StreamCommit extends QueryModule {

  def t30(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.scratchPath("t30_stream", dir)
    val (chunks, log, stage, ckpt) =
      (s"$root/chunks", s"$root/log", s"$root/stage", s"$root/ckpt")
    // a rerun must replay the protocol from v0 with fresh batch ids —
    // stale checkpoint/log state would skip batches or append versions
    Seq(chunks, log, ckpt).foreach(graft.operators.Lakehouse.deleteRecursively)
    val e = Tables.events(spark, dir).select("event_id", "event_type", "value")
    // stage three single-file chunks: the deterministic image of three
    // arriving ingest files (every event_id%3 class is non-empty at all
    // fixture SFs — TestDataContractSpec pins the table's size floor).
    // The three chunk writes are independent, so they run CONCURRENTLY
    // (guide §2.6), each into its own staging dir (concurrent writes
    // into one dir would race in the committer's shared _temporary),
    // then rename into the source dir under deterministic names —
    // exactly three files, one per class, same as three serial appends.
    // (A single repartitionByRange(3, class) write was tried first: one
    // job, but RangePartitioner samples its boundaries, and on a 3-value
    // key it can lawfully merge two classes into one file — the
    // exactly-one-commit-per-staged-file contract must not ride on
    // sampling luck.)
    graft.Harness.inParallel((0 until 3).map { g => () =>
      e.filter(pmod(col("event_id"), lit(3)) === g)
        .repartition(1).write.mode("overwrite").parquet(s"$root/stage$g")
    })
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(chunks))
    for (g <- 0 until 3) {
      val fs = graft.operators.Lakehouse.listDataFiles(s"$root/stage$g")
      require(fs.size == 1, s"stage$g must hold exactly one data file")
      java.nio.file.Files.move(java.nio.file.Paths.get(fs.head),
        java.nio.file.Paths.get(chunks, s"chunk$g.parquet"))
      graft.operators.Lakehouse.deleteRecursively(s"$root/stage$g")
    }
    // s24's manifest schema (monoid merge on the key column, there named
    // ship_month) — the monoid, not the name, is the contract
    def stats(df: DataFrame): DataFrame = df
      .groupBy(col("event_type").as("ship_month"))
      .agg(count(lit(1)).cast("bigint").as("n_rows"),
        min("value").as("min_price"), max("value").as("max_price"))
    val q = spark.readStream
      .schema(spark.read.parquet(chunks).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(chunks)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, id: Long) =>
        graft.operators.Lakehouse
          .s24Writer(spark, log, s"$stage/$id", stats(df), s"mb$id")
        ()
      }.start()
    q.awaitTermination()
    val v = graft.operators.Lakehouse.s24Current(log)
    require(v >= 0, "the stream committed nothing")
    graft.operators.Lakehouse.s24Read(spark, log, v)
      .select(col("ship_month").as("event_type"), col("n_rows"),
        col("min_price").as("min_value"), col("max_price").as("max_value"))
      .withColumn("final_version", lit(v))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------- t31

  /** Highest view-state version already applied under `root` (a state
    * dir is only counted with its _SUCCESS marker — a crash mid-write
    * leaves an ignorable partial, never a half-applied version). */
  private[graft] def t31Applied(root: String): Int = {
    val d = new java.io.File(s"$root/state")
    if (!d.isDirectory) -1
    else d.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.matches("v\\d+")
        && new java.io.File(f, "_SUCCESS").exists())
      .map(_.getName.drop(1).toInt).foldLeft(-1)(math.max)
  }

  /** Drop version NOTIFICATIONS for the committed versions into the
    * consumer's source directory (the file-arrival image of a commit
    * hook / log tail — what tells a streaming consumer "version v
    * exists"; the versions themselves live in the commit log). FILE
    * PACKING IS UNSPECIFIED: the one range-partitioned append usually
    * lands one file per version, but RangePartitioner samples its
    * boundaries, so two versions may lawfully share a file (r15 ADVICE
    * finding — the old doc promised one file per version). Only the
    * HINT SET matters: notifications are at-least-once, unordered hints
    * and the consumer's catch-up logic ([[t31Apply]]) folds any gap, so
    * packing changes micro-batch boundaries, never the applied state. */
  private[graft] def t31Notify(spark: SparkSession, root: String,
      versions: Seq[Int]): Unit =
    if (versions.nonEmpty) {
      // one range-partitioned append (partition = the version) drops one
      // single-row file per version in ONE job instead of |versions|
      // serialized writes; apply-order is still owned by the consumer's
      // catch-up logic, not file arrival
      import spark.implicits._
      versions.toDF("version")
        .repartitionByRange(versions.size, col("version"))
        .write.mode("append").parquet(s"$root/notify")
    }

  /** Bootstrap the maintained view at version 0 (the one corpus-sized
    * aggregate; everything after is delta-sized folds). */
  private[graft] def t31Bootstrap(spark: SparkSession, root: String,
      log: String): Unit =
    graft.operators.History
      .cdfViewOf(graft.operators.Lakehouse.s28Snapshot(spark, log, 0))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/state/v0")

  /** Apply ONE version notification. A notification is a HINT ("version
    * v exists") — the COMMIT LOG is the source of truth — so delivery
    * may be at-least-once AND unordered: v ≤ applied is a redelivery
    * no-op (the broker consumer loop's contract, broker.clj:65-95:
    * redelivered messages re-apply harmlessly), v > applied+1 CATCHES UP
    * by folding every missing version's feed in order (an out-of-order
    * or lost notification costs nothing — the next one folds the gap).
    * Each fold is atomic: a state dir becomes current only with its
    * _SUCCESS marker. A version past the log's head refuses inside
    * s28Cdf with the commit contract named. */
  private[graft] def t31Apply(spark: SparkSession, root: String,
      log: String, v: Int): Unit = {
    // an unbootstrapped root would otherwise read state/v-1 and die with
    // a raw path-not-found — refuse with the contract named, like every
    // other refusal path in the family (r14 ADVICE finding)
    require(t31Applied(root) >= 0,
      s"view state under $root not bootstrapped — run t31Bootstrap first")
    val hist = graft.operators.History
    for (w <- t31Applied(root) + 1 to v)
      hist.cdfFold(
          spark.read.parquet(s"$root/state/v${w - 1}"),
          hist.cdfSigned(graft.operators.Lakehouse
            .s28Cdf(spark, log, w - 1, w, "o_orderkey")))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/state/v$w")
  }

  /** Drain all pending version notifications through Structured
    * Streaming: file source over the notify dir, one micro-batch per
    * notification file, foreachBatch applying versions in order. The
    * checkpoint makes restarts resume at the first unprocessed file;
    * the state-version marker makes replays idempotent — together,
    * at-least-once delivery + idempotent apply = exactly-once effect. */
  private[graft] def t31Consume(spark: SparkSession, root: String,
      log: String): Unit = {
    val q = spark.readStream
      .schema(spark.read.parquet(s"$root/notify").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$root/notify")
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.select("version").collect().map(_.getInt(0)).sorted
          .foreach(v => t31Apply(spark, root, log, v))
        ()
      }.start()
    q.awaitTermination()
  }

  /** t31: STREAMING CDF CONSUMER — the symmetric leg of t30 (producer
    * streams INTO the commit log; this streams OUT of it): a Structured
    * Streaming consumer follows the committed versions of the h15
    * multi-step table and maintains h14's materialized view per version
    * via foreachBatch — the continuous image of "the downstream MV
    * refreshes from row changes, never rescanning the table". Per
    * notification the work is one delta-sized change-feed read + a
    * ≤|groups| fold; view state lives as parquet between batches (the
    * stored-view handoff), so a restarted consumer resumes from the last
    * _SUCCESS-marked version with nothing to rebuild. The registered
    * result is the final maintained view, which must equal the oracle's
    * from-scratch recompute over the last snapshot (h15's invariant, now
    * proven under streaming delivery); StreamingSpec pins restart
    * recovery mid-version-sequence and idempotent redelivery.
    *
    * Reference mapping: the broker consumer loop's at-least-once
    * delivery + idempotent handler persistence (broker.clj:65-95,
    * store.clj:21-34), with the commit log as both the queue's source
    * of truth and the state store. */
  def t31(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.scratchPath("t31_consume", dir)
    Seq(s"$root/notify", s"$root/ckpt", s"$root/state")
      .foreach(graft.operators.Lakehouse.deleteRecursively)
    val log = graft.operators.Lakehouse.s28StepsTable(spark, dir)
    t31Bootstrap(spark, root, log)
    t31Notify(spark, root, Seq(1, 2, 3))
    t31Consume(spark, root, log)
    val applied = t31Applied(root)
    require(applied == 3, s"the stream stopped at version $applied of 3")
    graft.operators.History
      .cdfSurface(spark.read.parquet(s"$root/state/v$applied"))
      .withColumn("final_version", lit(applied))
  }

  // stream→commit queries stage chunk files and write the commit log
  override def sinkQueries: Set[String] = queries.keySet

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("t30_stream_commit" -> t30,
      "t31_cdf_consumer_stream" -> t31)

  val oracles: Map[String, String] = Map(
    // the final committed manifest == one-shot batch stats over the whole
    // table, at version 2 (three staged files → three micro-batches →
    // commits v0,v1,v2) — equality proves no batch was lost, doubled, or
    // mis-merged across the commit protocol
    "t30_stream_commit" ->
      """SELECT event_type, COUNT(*) AS n_rows,
        |       MIN(value) AS min_value, MAX(value) AS max_value,
        |       2 AS final_version
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // t31: the streaming-maintained view must equal a from-scratch
    // recompute over the final snapshot — h15's three MERGE steps chained
    // relationally (same CTEs), now proven under streaming delivery with
    // the final applied version as the protocol observable
    "t31_cdf_consumer_stream" ->
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
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price,
        |       3 AS final_version
        |FROM v3 GROUP BY 1 ORDER BY 1""".stripMargin)
}
