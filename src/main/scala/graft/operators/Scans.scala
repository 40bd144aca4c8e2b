package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scans / sources / sinks (SURVEY.md §2.2 s01-s05) and scalar
  * projection/filter operators (p01-p04).
  *
  * Scale notes: s02/s03 exist to pin the pushdown contract — the parquet
  * scan must show ReadSchema limited to referenced columns and
  * PushedFilters for the shipdate predicate (asserted in PlanSpec). At
  * 100 TB these two properties are the difference between reading ~2
  * columns' row-groups and reading the world.
  */
object Scans extends QueryModule {

  def s01(spark: SparkSession, dir: String): DataFrame =
    Tables.orderAll(Tables.lineitem(spark, dir))

  def s02(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .transform(Tables.orderAll)

  def s03(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-06-01").cast("timestamp_ntz"))
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
      .transform(Tables.orderAll)

  def s04(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k"))
      .orderBy("event_id")

  /** Sink round-trip: write parquet, re-read, produce a stable result.
    * Exercises the write path itself; the oracle sees only the re-read. */
  def s05(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Tables.scratchPath("s05_roundtrip", dir)
    Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 150000.0)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).orderBy("o_orderkey")
  }

  /** CSV source: write with header, read back under an EXPLICIT schema
    * (schema inference is a full extra pass over the data — never at
    * 100 TB). Doubles survive because Spark writes shortest-round-trip
    * representations and the typed read parses them back exactly. */
  def s09(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Tables.scratchPath("s09_csv", dir)
    Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
      .write.mode("overwrite").option("header", "true").csv(tmp)
    spark.read
      .schema("c_custkey BIGINT, c_name STRING, c_mktsegment STRING, c_acctbal DOUBLE")
      .option("header", "true").csv(tmp)
      .orderBy("c_custkey")
  }

  /** ORC sink/source round-trip — the second columnar format a complete
    * library must speak; exercises Spark's built-in ORC writer/reader
    * (predicate pushdown + column pruning hold there too). */
  def s10(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Tables.scratchPath("s10_orc", dir)
    Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").orc(tmp)
    spark.read.orc(tmp).orderBy("o_orderkey")
  }

  /** s11: bucketed sink + co-located (exchange-free) join.
    *
    * Both sides are written `bucketBy(8, orderkey).sortBy(orderkey)` via
    * `saveAsTable` (bucketing metadata lives in the catalog; the files
    * are plain parquet under a scratch path). Reading them back, the
    * merge join needs NEITHER a shuffle NOR a sort below it: rows are
    * already hash-bucketed and intra-bucket sorted on the join key.
    * That is the 100 TB co-location contract — pay the shuffle once at
    * ingest, then every downstream join/agg on the bucket key is
    * exchange-free. Asserted in PlanSpec (no ShuffleExchange under the
    * SortMergeJoin). The `merge` hint pins SMJ so the demonstration
    * doesn't silently degrade to a broadcast join at small SF. */
  def s11(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.scratchPath("s11_buckets", dir)
    val tag = base.split('/').last
    val liT = s"${tag}_lineitem"
    val orT = s"${tag}_orders"
    // the two bucketed ingests are independent tables — overlapped
    // (guide §2.6); each still pays its one bucket-hash shuffle
    graft.Harness.inParallel(Seq(
      () => Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_extendedprice", "l_discount")
        // repartition by the bucket key into numBuckets partitions: Spark's
        // repartition hash == bucket hash, so every task holds exactly one
        // bucket and writes ONE file — the precondition for the reader to
        // trust sortBy metadata and skip the below-join sort entirely
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/lineitem")
        .saveAsTable(liT),
      () => Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderstatus")
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/orders")
        .saveAsTable(orT)))
    // off by default since 3.0 (planning-time file listing can be slow on
    // huge tables); safe here because the writer above guarantees ONE file
    // per bucket, which is exactly the case the sorted-scan path requires
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    spark.table(orT).hint("merge")
      .join(spark.table(liT).hint("merge"), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_lines"),
        sum(Tables.dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("double").as("revenue"))
      .orderBy("o_orderstatus")
  }

  /** Morton spread of the low 16 bits of `c` into the even bit positions
    * of a 32-bit lane (classic magic-number doubling; fits in a long, so
    * the whole computation stays in codegen'd integer arithmetic). */
  def spread16(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val x0 = c.bitwiseAND(lit(0xFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Z-order (Morton) value interleaving the low 16 bits of a and b. */
  def zval(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** s12: Z-order-clustered sink — multi-dimensional data skipping.
    *
    * A single-column sort gives parquet tight min/max stats on ONE key;
    * a box predicate over TWO keys then has to read every file. Sorting by
    * the Morton interleave of (l_partkey, l_suppkey) makes each written
    * file cover a small square in key space, so row-group/file min-max
    * stats prune on BOTH dimensions at once — at 100 TB this is the
    * difference between scanning the world and scanning the few files
    * whose (partkey, suppkey) rectangles intersect the query box
    * (LayoutSpec measures exactly that on the written footers).
    * repartitionByRange(zval) + sortWithinPartitions(zval) is the
    * cluster-write: one range shuffle at ingest, skipping forever after.
    * The query output is the box read-back itself, so the oracle checks
    * both the Morton arithmetic and the sink round-trip. */
  def s12(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Tables.scratchPath("s12_zorder", dir)
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .withColumn("zval", zval(col("l_partkey"), col("l_suppkey")))
      .repartitionByRange(8, col("zval"))
      .sortWithinPartitions("zval")
      .write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp)
      .filter(col("l_partkey").between(1, 50) && col("l_suppkey").between(1, 10))
      // (l_orderkey, l_linenumber) is NOT unique in this dataset — total
      // order needs every column or the hash compare is nondeterministic
      .transform(Tables.orderAll)
  }

  /** s15: small-file compaction — the table-maintenance pass every
    * long-lived 100 TB dataset needs: streaming/incremental writers leave
    * thousands of KB-sized files per partition, and scan throughput dies
    * on open/footer overhead (plus the driver's file-index memory). The
    * op: read the fragmented table (simulated here by writing the source
    * with a tiny maxRecordsPerFile), then rewrite clustered —
    * repartitionByRange on the access key + sortWithinPartitions, so the
    * compacted files are both FEW (one per range partition, sized by the
    * partition count; in production derived from target_bytes /
    * avg_row_size) and RANGE-CLUSTERED (each file covers a disjoint key
    * range → min/max footer stats prune key lookups to one file, same
    * property LayoutSpec pins for s12's z-order). Content must be
    * bit-identical to the source — that is the oracled check; the
    * file-count collapse and per-file disjointness are LayoutSpec's. */
  def s15(spark: SparkSession, dir: String): DataFrame = {
    val frag = Tables.scratchPath("s15_frag", dir)
    val src = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    // fragment to ~64 files at ANY scale factor (a fixed records-per-file
    // would mean 60k files at sf0.1 — the simulation of the disease must
    // not itself scale pathologically); count() is a cheap metadata pass
    val perFile = math.max(100L, src.count() / 64)
    src.write.mode("overwrite").option("maxRecordsPerFile", perFile).parquet(frag)
    val compact = Tables.scratchPath("s15_compact", dir)
    spark.read.parquet(frag)
      .repartitionByRange(8, col("l_orderkey"), col("l_linenumber"))
      .sortWithinPartitions("l_orderkey", "l_linenumber")
      .write.mode("overwrite").parquet(compact)
    spark.read.parquet(compact).transform(Tables.orderAll)
  }

  /** s18: SCHEMA-EVOLVED source read — the data-lake pattern u07 covers
    * at the frame level, exercised at the SOURCE level: two file
    * generations under one root (gen=2 added a column after gen=1
    * shipped), read back in ONE scan with `mergeSchema` + partition
    * discovery. At 100 TB this is how a table actually grows columns —
    * no rewrite of historical files; old files surface the new column
    * as null. mergeSchema is a FOOTER-only merge (per-file metadata,
    * not data), so the extra cost is one footer pass, and the `gen`
    * partition column comes free from directory discovery (prunable
    * like any partition key). */
  def s18(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.scratchPath("s18_evolved", dir)
    Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$root/gen=1")
    Tables.orders(spark, dir).filter(col("o_orderstatus") === "O")
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$root/gen=2")
    spark.read.option("mergeSchema", "true").parquet(root)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority"), col("gen").cast("int").as("gen"))
      .orderBy("o_orderkey")
  }

  /** s18b: SCHEMA EVOLUTION BEYOND ADD-COLUMN — type widening and column
    * rename across file generations, in ONE scan. s18's mergeSchema can
    * express neither: widening (gen-1 wrote o_orderkey as INT32, gen-2 as
    * INT64) makes mergeSchema throw a conflict, and a rename (gen-1's
    * `amount` became gen-2's `total_price`) silently forks into two
    * half-null columns under name-based matching. The table-format answer
    * (Iceberg's column mapping) is FIELD IDS: every generation writes
    * parquet field ids (Spark's writer emits them from the
    * `parquet.field.id` metadata), and the read binds the requested
    * schema to file columns BY ID (`spark.sql.parquet.fieldId.read
    * .enabled`), so `total_price` finds gen-1's `amount` (same id 2) and
    * the vectorized reader widens gen-1's INT32 into the requested
    * BIGINT lane. One scan, footer-metadata-only extra cost, historical
    * files never rewritten — the only way a 100 TB table survives a
    * rename. Output is per-generation accounting; key_sum exceeds
    * Int.MaxValue, so it proves the widened arithmetic, and the oracle
    * recomputes both generations from the source table. */
  def s18b(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val root = Tables.scratchPath("s18b_evolved", dir)
    def fid(i: Long): Metadata =
      new MetadataBuilder().putLong("parquet.field.id", i).build()
    val orders = Tables.orders(spark, dir)
    // gen 1: the original schema — narrow key, original column name
    orders.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").cast("int").as("o_orderkey", fid(1)),
        col("o_totalprice").as("amount", fid(2)))
      .write.mode("overwrite").parquet(s"$root/gen=1")
    // gen 2: widened key, renamed amount → total_price (same field id)
    orders.filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey").as("o_orderkey", fid(1)),
        col("o_totalprice").as("total_price", fid(2)))
      .write.mode("overwrite").parquet(s"$root/gen=2")
    // id-based binding is a GLOBAL session flag; scope it to exactly this
    // read by materializing the (2-row) aggregate eagerly inside the
    // window and restoring the flag's PRIOR value — no ordering-dependent
    // state leaks to later reads whose user schemas might carry
    // parquet.field.id metadata of their own.
    val flag = "spark.sql.parquet.fieldId.read.enabled"
    val prior = spark.conf.getOption(flag)
    spark.conf.set(flag, "true")
    try s18bRead(spark, root)
      .localCheckpoint() // force the scan while the flag is on
    finally prior match {
      case Some(v) => spark.conf.set(flag, v)
      case None    => spark.conf.unset(flag)
    }
  }

  /** The lazy id-bound cross-generation read + aggregate (shared with
    * LayoutSpec's plan assertions, which need the pre-checkpoint plan).
    * Callers must have `spark.sql.parquet.fieldId.read.enabled` on when
    * the scan EXECUTES. */
  private[graft] def s18bRead(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.types._
    def fid(i: Long): Metadata =
      new MetadataBuilder().putLong("parquet.field.id", i).build()
    val readSchema = StructType(Seq(
      StructField("o_orderkey", LongType, nullable = true, fid(1)),
      StructField("total_price", DoubleType, nullable = true, fid(2)),
      StructField("gen", IntegerType, nullable = true)))
    spark.read.schema(readSchema).parquet(root)
      .groupBy("gen")
      .agg(count(lit(1)).as("n_rows"),
        sum("o_orderkey").cast("bigint").as("key_sum"),
        sum(Tables.dec(col("total_price"))).cast("double").as("sum_price"),
        min("total_price").as("min_price"),
        max("total_price").as("max_price"))
      .orderBy("gen")
  }

  /** s19: ZONE-MAP MANIFEST SINK — write the fact table partitioned by a
    * derived key with a one-file-per-partition layout, then derive the
    * per-FILE min/max/count manifest from the written files themselves
    * (the `_metadata` hidden column — Spark's own file identity, no path
    * parsing). This is the data-skipping contract every 100 TB table
    * needs: a reader that consults the manifest (or just the partition
    * key) touches ONE file per month instead of the whole table, and the
    * manifest doubles as the table's stats surface (Iceberg/Delta keep
    * exactly this per-file min/max in their manifests). The layout
    * invariant file == partition is part of the operator's contract —
    * repartition on the partition key routes every month to exactly one
    * task, so n_files is deterministically 1 and the per-file stats are
    * engine-portable (the oracle pins them as per-key stats). LayoutSpec
    * pins the skipping itself: a key-filtered read plans only that
    * partition's file. */
  def s19(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Tables.scratchPath("s19_manifest", dir)
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_shipdate", "l_extendedprice")
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
      .repartition(col("ship_month"))
      .write.mode("overwrite").partitionBy("ship_month")
      // the oracle pins n_files = 1 per month; that invariant is the
      // repartition's doing but a harness-level maxRecordsPerFile (or a
      // speculative retry splitting a task's output) would break it
      // without any code change — pin the contract in the writer itself
      .option("maxRecordsPerFile", 0)
      .parquet(tmp)
    spark.read.parquet(tmp)
      .select(col("ship_month"), col("_metadata.file_name").as("file_name"),
        col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"))
      .groupBy("ship_month")
      .agg(countDistinct("file_name").as("n_files"),
        count(lit(1)).as("n_rows"),
        min("l_shipdate").as("min_shipdate"),
        max("l_shipdate").as("max_shipdate"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"))
      .orderBy("ship_month")
  }

  /** s20: MANIFEST UPSERT — incremental maintenance of s19's zone-map
    * manifest when a late batch lands. Batch 1 (90% of rows) commits a
    * per-month stats manifest to parquet; batch 2 (the l_orderkey%10==0
    * stragglers, touching every month) arrives later, and the manifest
    * is brought current by a MONOID MERGE: union the persisted v1 rows
    * with the delta batch's stats and re-reduce (counts add, min/max
    * combine). This is the Iceberg/Delta commit discipline at 100 TB —
    * the old batch's FILES are never rescanned; the merge reads the
    * manifest (months × batches rows, KBs) plus only the new data. The
    * oracle recomputes every stat from the full table in one pass, so
    * equality proves incremental == from-scratch. */
  def s20(spark: SparkSession, dir: String): DataFrame = {
    val mpath = Tables.scratchPath("s20_manifest", dir)
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"))
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
    def stats(rows: DataFrame): DataFrame = rows.groupBy("ship_month")
      .agg(count(lit(1)).as("n_rows"),
        min("l_shipdate").as("min_shipdate"),
        max("l_shipdate").as("max_shipdate"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"))
    stats(li.filter(pmod(col("l_orderkey"), lit(10)) =!= 0))
      .write.mode("overwrite").parquet(mpath)
    val delta = stats(li.filter(pmod(col("l_orderkey"), lit(10)) === 0))
    spark.read.parquet(mpath).unionByName(delta)
      .groupBy("ship_month")
      .agg(sum("n_rows").as("n_rows"),
        min("min_shipdate").as("min_shipdate"),
        max("max_shipdate").as("max_shipdate"),
        min("min_price").as("min_price"),
        max("max_price").as("max_price"),
        count(lit(1)).as("n_batches"))
      .orderBy("ship_month")
  }

  /** s21: TIME-TRAVEL READ — the read side of s19/s20's manifest
    * discipline (Iceberg/Delta snapshot reads): reconstruct the table AS
    * OF batch N from the manifest + batch files, without touching files
    * committed later. Batch 1 (l_orderkey%10!=0) commits first; batch 2
    * (the stragglers) lands after; the file-level manifest — one
    * (batch, file_path) row per data file, from the written files' own
    * `_metadata`, the snapshot log every table format keeps — is what a
    * reader plans from. [[s21AsOf]] selects the manifest rows with
    * batch ≤ N and hands the scan that explicit file list: the AS-OF-1
    * plan reads ONLY batch-1 files (LayoutSpec pins `inputFiles`), which
    * is exactly how Iceberg/Delta turn a snapshot id into a scan. The
    * query emits per-month stats at both snapshots; the oracle recomputes
    * each from the source table with the batch predicate, so equality
    * proves the two snapshots differ EXACTLY by the late batch.
    *
    * Scale posture: the manifest is KBs per thousand files and is
    * planner metadata — collecting the matching file list to the driver
    * is the same planning step every table format performs; no data
    * moves until the pruned scan runs. */
  def s21(spark: SparkSession, dir: String): DataFrame = {
    val manifest = s21Commit(spark, dir)
    def snap(n: Int): DataFrame = s21AsOf(spark, manifest, n)
      .groupBy("ship_month")
      .agg(count(lit(1)).as("n_rows"),
        sum("l_orderkey").as("key_sum"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"))
      .withColumn("as_of", lit(n))
    snap(1).unionByName(snap(2))
      .select("as_of", "ship_month", "n_rows", "key_sum",
        "min_price", "max_price")
      .orderBy("as_of", "ship_month")
  }

  /** Write the two-batch table for s21 and return its file manifest
    * (batch, path) — tiny, a driver-local relation. */
  private[graft] def s21Commit(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.scratchPath("s21_table", dir)
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"))
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
    // each batch is its own commit into its own partition directory —
    // independent writes, overlapped (guide §2.6); writing the partition
    // dirs directly (rather than two serialized partitionBy jobs into one
    // root, which would race in the shared _temporary) leaves the same
    // batch=N layout partition discovery reads back
    Lakehouse.deleteRecursively(root)
    graft.Harness.inParallel(Seq(
      () => li.filter(pmod(col("l_orderkey"), lit(10)) =!= 0)
        .write.mode("overwrite").parquet(s"$root/batch=1"),
      () => li.filter(pmod(col("l_orderkey"), lit(10)) === 0)
        .write.mode("overwrite").parquet(s"$root/batch=2")))
    // the (batch, path) manifest is the writer's OWN file list — planner
    // metadata from the commit itself, not a post-hoc scan of the table
    // (the write-time-manifest move every table format makes; the old
    // form paid a full scan + distinct exchange just to list files)
    Lakehouse.manifest(spark, (1 to 2).flatMap(b =>
      Lakehouse.listDataFiles(s"$root/batch=$b").map(p => (b, p))), "batch")
  }

  /** Snapshot read: plan exactly the files the manifest attributes to
    * batches ≤ n; a snapshot id before every commit fails with that
    * contract named. */
  private[graft] def s21AsOf(spark: SparkSession, manifest: DataFrame,
      n: Int): DataFrame =
    Lakehouse.scan(spark, Lakehouse.plannedFiles(manifest, col("batch") <= n,
      s"no manifest files at batch <= $n — snapshot predates the first commit"))

  /** s13: JSON-lines sink/source round-trip — the lingua franca of
    * training-data interchange. Write documents as JSONL, read back under
    * an EXPLICIT schema (inference = an extra full pass; never at 100 TB).
    * JSON round-trips strings/longs losslessly; the oracle is the
    * identity query on the source table. */
  def s13(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Tables.scratchPath("s13_jsonl", dir)
    Tables.documents(spark, dir)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").json(tmp)
    spark.read
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .json(tmp)
      .orderBy("doc_id")
  }

  /** s14: whole-file binary source — the multimodal ingest front door
    * (images/audio arrive as files, not rows). The query writes the
    * first 100 documents as one UTF-8 .txt each (executor-side IO via
    * foreachPartition — no driver loop), reads them back through the
    * built-in binaryFile source, and keys rows by the filename-embedded
    * doc_id. The oracle computes the same md5/byte-length from the
    * documents TABLE, so equality proves a lossless file-boundary round
    * trip through a completely independent path. At scale binaryFile
    * shards by file; maxPartitionBytes groups small files per task. */
  def s14(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Tables.scratchPath("s14_binary", dir)
    // clear stale files first: the scratch dir is deterministic and this
    // sink has no mode("overwrite") truncation — a doc file left by a
    // previous run over different data would match the glob and surface
    // a row the oracle (computed from the CURRENT table) doesn't have
    val base = java.nio.file.Paths.get(tmp)
    if (java.nio.file.Files.isDirectory(base)) {
      // close the listing stream (it holds a directory fd) and delete
      // only this sink's own doc_*.txt files — anything else in the
      // scratch dir (e.g. a subdirectory) would make Files.delete throw
      val st = java.nio.file.Files.list(base)
      try st.forEach { p =>
        if (p.getFileName.toString.matches("doc_\\d+\\.txt"))
          java.nio.file.Files.delete(p)
      } finally st.close()
    }
    Tables.documents(spark, dir)
      .filter(col("doc_id") <= 100).select("doc_id", "text")
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val base = java.nio.file.Paths.get(tmp)
        java.nio.file.Files.createDirectories(base)
        it.foreach { r =>
          java.nio.file.Files.write(
            base.resolve(s"doc_${r.getLong(0)}.txt"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      }
    // pathGlobFilter on the DIRECTORY, not a glob path: DataSource
    // resolution stat()s a literal glob string and logs a spurious
    // FileNotFoundException stack (FileStreamSink.hasMetadata) — the
    // r07 "unattributed mid-sweep stack trace" was exactly this noise
    spark.read.format("binaryFile").option("pathGlobFilter", "*.txt").load(tmp)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.txt$", 1).cast("bigint").as("doc_id"),
        col("length").as("n_bytes"),
        md5(col("content")).as("content_md5"))
      .orderBy("doc_id")
  }

  def p01(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        (col("l_quantity") + col("l_tax")).as("qty_plus_tax"))
      .transform(Tables.orderAll)

  def p02(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(
        (col("l_quantity").between(10, 20) || col("l_returnflag").isin("A", "R"))
          && !(col("l_linestatus") === "F")
          && col("l_discount") =!= 0.0)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
        "l_linestatus", "l_discount")
      .transform(Tables.orderAll)

  /** Null semantics without relying on physical nulls in the data:
    * nullif() manufactures them, <=> (null-safe eq) and isNull consume them. */
  def p03(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(
        col("c_custkey"),
        expr("nullif(c_mktsegment, 'BUILDING')").as("seg_or_null"),
        expr("nullif(c_mktsegment, 'BUILDING') <=> 'AUTOMOBILE'").as("nse_auto"),
        expr("nullif(c_mktsegment, 'BUILDING') IS NULL").as("was_building"))
      .orderBy("c_custkey")

  def p04(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_quantity") < 10, "low")
          .when(col("l_quantity") < 30, "mid")
          .otherwise("high").as("qty_band"),
        when(col("l_returnflag") === "R", col("l_extendedprice"))
          .otherwise(lit(0.0)).as("returned_price"))
      .transform(Tables.orderAll)

  /** p07: cast / coercion family — lossless widening (bigint→string→
    * bigint round-trip, bigint→double), timestamp→date→string under the
    * UTC session, and try_cast's NULL-on-failure contract for both parse
    * failures ('1-URGENT' as int) and numeric overflow (bigint→tinyint).
    * double→string is deliberately absent: float formatting is
    * engine-specific and never belongs in a portable pipeline.
    *
    * Scale note (measured, sf0.1): try_cast's failure path materializes a
    * SparkNumberFormatException per failing row (~13 µs each) — on a
    * column where EVERY row fails, that was 2 s of the query's 3.7 s,
    * and the sort's range-partitioning sample pass re-evaluated it. At
    * 100 TB a mostly-invalid column would melt executors, so both failing
    * casts are guarded: rows the guard rejects are exactly the rows
    * try_cast would null anyway (non-integral o_orderpriority; tinyint
    * overflow), and the exception machinery never runs — try_cast is
    * exercised only where it can succeed. 3.7 s → 0.6 s. */
  def p07(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        col("o_orderkey").cast("string").as("key_str"),
        col("o_orderkey").cast("string").cast("bigint").as("key_roundtrip"),
        col("o_orderkey").cast("double").as("key_dbl"),
        col("o_orderdate").cast("date").as("odate"),
        col("o_orderdate").cast("date").cast("string").as("odate_str"),
        when(col("o_orderkey").between(-128, 127),
          expr("try_cast(o_orderkey AS TINYINT)")).as("key_tiny"),
        when(col("o_orderpriority").rlike("^\\s*[+-]?\\d+\\s*$"),
          expr("try_cast(o_orderpriority AS INT)")).as("prio_int"))
      .orderBy("o_orderkey")

  /** p08: NULL-semantics torture — the corner every engine must agree
    * on before any two of its answers are comparable: COUNT(*) vs
    * COUNT(col) under NULLs, NULL as a grouping key (one group, not
    * dropped), and the null-safe join (`<=>` / IS NOT DISTINCT FROM)
    * where the NULL fact rows DO match the NULL dim row while plain
    * equality matches nothing. The dim side is pre-aggregated (21 rows)
    * and broadcast; `eq_matched` shows plain `=` disagreeing with the
    * null-safe join on exactly the NULL group. */
  def p08(spark: SparkSession, dir: String): DataFrame = {
    val f = Tables.orders(spark, dir).selectExpr("o_orderkey",
      "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey % 20 END AS k")
    val d = Tables.customer(spark, dir).selectExpr(
        "CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_custkey % 20 END AS k2")
      .groupBy("k2").agg(count(lit(1)).as("dim_n"))
    f.join(broadcast(d), col("k") <=> col("k2"), "left")
      .groupBy("k")
      .agg(count(lit(1)).as("n"), count(col("k")).as("n_k"),
        max(col("dim_n")).as("dim_n"),
        max(when(col("k") === col("k2"), 1).otherwise(0)).as("eq_matched"))
      .orderBy(col("k").asc_nulls_first)
  }

  /** p09: OUTER generator — explode_outer preserves rows whose array is
    * empty as a single NULL row (plain explode silently DROPS them: a
    * "tokens per doc" fan-out that loses token-free documents corrupts
    * every downstream per-doc aggregate). 104 of 500 docs at sf0.001
    * have no >7-char token, so the outer/inner difference is a fifth of
    * the corpus, not an edge case. NULL sort order is pinned explicitly
    * (asc_nulls_first / NULLS FIRST) — Spark and DuckDB DEFAULTS differ
    * (nulls first vs last). Map-only at any scale. */
  def p09(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), t -> length(t) > 7)").as("arr"))
      .select(col("doc_id"), explode_outer(col("arr")).as("tok"))
      .orderBy(col("doc_id"), col("tok").asc_nulls_first)

  /** s16: ANALYZE TABLE — the cost-based-optimizer statistics surface
    * every warehouse engine ships. The table is registered in the
    * catalog, `ANALYZE ... FOR COLUMNS` computes per-column stats (one
    * distributed aggregation pass), and the catalog's min/max/null
    * counts are surfaced as the query result so the DuckDB gate
    * hash-checks the STATISTICS THEMSELVES (string-valued columns carry
    * no min/max in Spark's catalog, so only the numeric columns
    * surface). The CBO payoff — catalog rowCount/attributeStats
    * reaching the optimizer's Statistics when spark.sql.cbo.enabled is
    * on — is asserted in LayoutSpec; at 100 TB these stats are what
    * turn join-reorder and broadcast decisions from guesses into
    * measurements. */
  def s16(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.scratchPath("s16_stats", dir)
    val t = s"${base.split('/').last}_lineitem"
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_quantity")
      .write.mode("overwrite").option("path", base).saveAsTable(t)
    spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS l_orderkey, l_quantity")
    import spark.implicits._
    Seq("l_orderkey", "l_quantity").flatMap { c =>
      spark.sql(s"DESCRIBE EXTENDED $t $c").collect()
        .map(r => (c, r.getString(0), r.getString(1)))
    }.toDF("column_name", "stat", "value")
      .filter(col("stat").isin("min", "max", "num_nulls"))
      .orderBy("column_name", "stat")
  }

  override val sinkQueries: Set[String] = Set(
    "s05_sink_roundtrip", "s09_source_csv", "s10_sink_orc",
    "s11_sink_bucketed", "s12_sink_zorder", "s13_source_jsonl",
    "s14_source_binary", "s15_sink_compact", "s16_analyze_cbo_stats",
    "s18_source_evolved", "s18b_evolve_widen_rename", "s19_sink_manifest",
    "s20_manifest_upsert", "s21_time_travel")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s16_analyze_cbo_stats" -> s16,
    "p09_explode_outer" -> p09,
    "p08_null_semantics" -> p08,
    "p07_casts" -> p07,
    "s01_scan_parquet" -> s01,
    "s02_scan_pruned" -> s02,
    "s03_scan_filter_pushdown" -> s03,
    "s04_source_json_props" -> s04,
    "s05_sink_roundtrip" -> s05,
    "s09_source_csv" -> s09,
    "s10_sink_orc" -> s10,
    "s11_sink_bucketed" -> s11,
    "s12_sink_zorder" -> s12,
    "s13_source_jsonl" -> s13,
    "s15_sink_compact" -> s15,
    "s18_source_evolved" -> s18,
    "s18b_evolve_widen_rename" -> s18b,
    "s19_sink_manifest" -> s19,
    "s20_manifest_upsert" -> s20,
    "s21_time_travel" -> s21,
    "s14_source_binary" -> s14,
    "p01_project_compute" -> p01,
    "p02_filter_conj" -> p02,
    "p03_filter_null" -> p03,
    "p04_case_when" -> p04)

  /** DuckDB image of spread16 — identical magic-number doubling on BIGINT. */
  private def spreadSql(c: String): String = {
    val x0 = s"($c & 65535)"
    val x1 = s"(($x0 | ($x0 << 8)) & 16711935)"
    val x2 = s"(($x1 | ($x1 << 4)) & 252645135)"
    val x3 = s"(($x2 | ($x2 << 2)) & 858993459)"
    s"(($x3 | ($x3 << 1)) & 1431655765)"
  }

  val oracles: Map[String, String] = Map(
    // s16: the oracle recomputes the same statistics exactly — the
    // catalog's stringified stat values must equal DuckDB's CAST(.. AS
    // VARCHAR) of the true aggregates (BIGINT prints bare, DOUBLE with
    // one decimal — both engines agree on these domains)
    "s16_analyze_cbo_stats" ->
      """SELECT 'l_orderkey' AS column_name, 'max' AS stat,
        |       CAST(MAX(l_orderkey) AS VARCHAR) AS value FROM lineitem
        |UNION ALL SELECT 'l_orderkey', 'min',
        |       CAST(MIN(l_orderkey) AS VARCHAR) FROM lineitem
        |UNION ALL SELECT 'l_orderkey', 'num_nulls',
        |       CAST(COUNT(*) - COUNT(l_orderkey) AS VARCHAR) FROM lineitem
        |UNION ALL SELECT 'l_quantity', 'max',
        |       CAST(MAX(l_quantity) AS VARCHAR) FROM lineitem
        |UNION ALL SELECT 'l_quantity', 'min',
        |       CAST(MIN(l_quantity) AS VARCHAR) FROM lineitem
        |UNION ALL SELECT 'l_quantity', 'num_nulls',
        |       CAST(COUNT(*) - COUNT(l_quantity) AS VARCHAR) FROM lineitem
        |ORDER BY column_name, stat""".stripMargin,
    "p09_explode_outer" ->
      """WITH t AS (SELECT doc_id,
        |                  list_filter(string_split(text, ' '),
        |                              t -> length(t) > 7) AS arr
        |           FROM documents)
        |SELECT doc_id, u.tok
        |FROM t LEFT JOIN LATERAL (SELECT unnest(arr) AS tok) u ON TRUE
        |ORDER BY doc_id, tok NULLS FIRST""".stripMargin,
    "p08_null_semantics" ->
      """WITH f AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |              ELSE o_custkey % 20 END AS k FROM orders),
        |d AS (
        |  SELECT CASE WHEN c_custkey % 11 = 0 THEN NULL
        |              ELSE c_custkey % 20 END AS k2, COUNT(*) AS dim_n
        |  FROM customer GROUP BY 1)
        |SELECT k, COUNT(*) AS n, COUNT(k) AS n_k,
        |       MAX(dim_n) AS dim_n,
        |       MAX(CASE WHEN k = k2 THEN 1 ELSE 0 END) AS eq_matched
        |FROM f LEFT JOIN d ON f.k IS NOT DISTINCT FROM d.k2
        |GROUP BY k ORDER BY k NULLS FIRST""".stripMargin,
    "p07_casts" ->
      """SELECT o_orderkey,
        |       CAST(o_orderkey AS VARCHAR) AS key_str,
        |       CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
        |       CAST(o_orderkey AS DOUBLE) AS key_dbl,
        |       CAST(o_orderdate AS DATE) AS odate,
        |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS odate_str,
        |       TRY_CAST(o_orderkey AS TINYINT) AS key_tiny,
        |       TRY_CAST(o_orderpriority AS INTEGER) AS prio_int
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "s13_source_jsonl" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // s18: the evolved-directory read restated against the source table —
    // gen-1 rows surface the later column as NULL
    // s19: per-key stats from the source table; n_files pinned to the
    // layout invariant (file == partition) the operator guarantees
    // s20: from-scratch recompute of the incrementally merged manifest —
    // counts add and min/max combine associatively, so the monoid merge
    // must equal the single-pass stats; n_batches is the distinct batch
    // membership of the month's rows
    // s21: both snapshots recomputed from the source table with the
    // batch predicate — equality proves the AS-OF-1 read saw exactly the
    // base batch and the AS-OF-2 read the whole table
    "s21_time_travel" ->
      """WITH li AS (
        |  SELECT l_orderkey, strftime(l_shipdate, '%Y-%m') AS ship_month,
        |         l_extendedprice
        |  FROM lineitem),
        |s1 AS (
        |  SELECT 1 AS as_of, ship_month, COUNT(*) AS n_rows,
        |         CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
        |         MIN(l_extendedprice) AS min_price,
        |         MAX(l_extendedprice) AS max_price
        |  FROM li WHERE l_orderkey % 10 <> 0 GROUP BY ship_month),
        |s2 AS (
        |  SELECT 2 AS as_of, ship_month, COUNT(*) AS n_rows,
        |         CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
        |         MIN(l_extendedprice) AS min_price,
        |         MAX(l_extendedprice) AS max_price
        |  FROM li GROUP BY ship_month)
        |SELECT * FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2) u
        |ORDER BY as_of, ship_month""".stripMargin,
    "s20_manifest_upsert" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |       COUNT(*) AS n_rows,
        |       MIN(l_shipdate) AS min_shipdate,
        |       MAX(l_shipdate) AS max_shipdate,
        |       MIN(l_extendedprice) AS min_price,
        |       MAX(l_extendedprice) AS max_price,
        |       CAST(COUNT(DISTINCT CASE WHEN l_orderkey % 10 = 0
        |                                THEN 1 ELSE 0 END) AS BIGINT) AS n_batches
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "s19_sink_manifest" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |       CAST(1 AS BIGINT) AS n_files,
        |       COUNT(*) AS n_rows,
        |       MIN(l_shipdate) AS min_shipdate,
        |       MAX(l_shipdate) AS max_shipdate,
        |       MIN(l_extendedprice) AS min_price,
        |       MAX(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // s18b: both generations recomputed from the source table — gen 1 is
    // the narrow-keyed 'amount' era, gen 2 post-widen-and-rename; the
    // field-id read must make them one column family
    "s18b_evolve_widen_rename" ->
      """SELECT 1 AS gen, COUNT(*) AS n_rows,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price,
        |       MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
        |FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT 2, COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE),
        |       MIN(o_totalprice), MAX(o_totalprice)
        |FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY gen""".stripMargin,
    "s18_source_evolved" ->
      """SELECT o_orderkey, o_totalprice,
        |       CAST(NULL AS VARCHAR) AS o_orderpriority, 1 AS gen
        |FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, o_orderpriority, 2 AS gen
        |FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_orderkey""".stripMargin,
    "s14_source_binary" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       md5(text) AS content_md5
        |FROM documents WHERE doc_id <= 100 ORDER BY doc_id""".stripMargin,
    "s12_sink_zorder" ->
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |       (${spreadSql("l_partkey")} | (${spreadSql("l_suppkey")} << 1)) AS zval
         |FROM lineitem
         |WHERE l_partkey BETWEEN 1 AND 50 AND l_suppkey BETWEEN 1 AND 10
         |ORDER BY ALL""".stripMargin,
    "s01_scan_parquet" ->
      "SELECT * FROM lineitem ORDER BY ALL",
    "s02_scan_pruned" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem ORDER BY ALL",
    "s03_scan_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-06-01' ORDER BY ALL""".stripMargin,
    "s04_source_json_props" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "s05_sink_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_totalprice > 150000.0 ORDER BY o_orderkey""".stripMargin,
    "s15_sink_compact" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem ORDER BY ALL""".stripMargin,
    "s11_sink_bucketed" ->
      """SELECT o_orderstatus, COUNT(*) AS n_lines,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "s09_source_csv" ->
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "s10_sink_orc" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders
        |WHERE o_orderpriority = '1-URGENT' ORDER BY o_orderkey""".stripMargin,
    "p01_project_compute" ->
      """SELECT l_orderkey, l_linenumber,
        |       l_extendedprice * (1.0 - l_discount) AS revenue,
        |       l_quantity + l_tax AS qty_plus_tax
        |FROM lineitem ORDER BY ALL""".stripMargin,
    "p02_filter_conj" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus, l_discount
        |FROM lineitem
        |WHERE (l_quantity BETWEEN 10 AND 20 OR l_returnflag IN ('A','R'))
        |  AND NOT (l_linestatus = 'F') AND l_discount <> 0.0
        |ORDER BY ALL""".stripMargin,
    "p03_filter_null" ->
      """SELECT c_custkey,
        |       nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
        |       nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM 'AUTOMOBILE' AS nse_auto,
        |       nullif(c_mktsegment, 'BUILDING') IS NULL AS was_building
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "p04_case_when" ->
      """SELECT l_orderkey, l_linenumber,
        |       CASE WHEN l_quantity < 10 THEN 'low'
        |            WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS qty_band,
        |       CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0.0 END AS returned_price
        |FROM lineitem ORDER BY ALL""".stripMargin)
}
