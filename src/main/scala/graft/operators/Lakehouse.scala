package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}

/** Table-format lifecycle operators (SURVEY.md §2.2 s22-s24): snapshot
  * retention/vacuum, compaction↔manifest consistency, and optimistic
  * concurrent commit — the three legs that turn s19/s20/s21's
  * write→merge→time-travel into a complete lakehouse story. The reference
  * (lens-sds-batch) delegates storage lifecycle to MongoDB
  * (store.clj:21-34 upserts into capped collections); a Spark-native
  * engine owns its files, so the lifecycle IS part of the declared
  * surface, mirroring what Iceberg `expireSnapshots` / Delta `VACUUM` /
  * `OPTIMIZE` + the commit protocol do.
  *
  * Scale posture, shared by all three: a MANIFEST here is a (snapshot,
  * path[, stats]) frame — KBs per thousand files, the planning metadata
  * every table format keeps. Snapshot reads plan from the manifest
  * (explicit file list, as s21 established), never from directory
  * listing; physical deletes run executor-side over the expired-file
  * frame (at 100 TB that's a distributed object-store delete, not a
  * driver loop); and commits are O(1) atomic pointer creations, so
  * writer concurrency costs conflicts + retries, never locks held over
  * data writes.
  *
  * One reader: every read of committed data in the family — snapshots,
  * merge-on-read, change-feed pre/post-images, sidecars, and the l66/l67
  * and t30/t31 consumers — goes through [[scan]]. It plans the files
  * under the schema their Spark writer recorded in the parquet footer
  * (read once on the driver, never a footer-inference job) and subtracts
  * positional deletion vectors, whose sidecars all carry the constant
  * schema (file_path STRING, row_index BIGINT), with one broadcast
  * anti-join. [[positionsOf]] is the one projection that builds a DV.
  */
object Lakehouse extends QueryModule {

  // ---------------------------------------------------------------- s22

  /** Write the s22 table: three commits under one root.
    *   commit 1  base batch (l_orderkey%10 != 0), repartition(4) → 4 files
    *   commit 2  late batch (l_orderkey%10 == 0), repartition(2) → 2 files
    *   commit 3  COMPACTION — snapshot 2's rows rewritten range-clustered
    *             on l_orderkey, repartitionByRange(3) → 3 files
    * Returns the snapshot manifest (snapshot, path): each snapshot lists
    * its COMPLETE file set (the Iceberg model — a snapshot is a full file
    * list, not a delta): snap1 = commit-1 files, snap2 = commit-1+2,
    * snap3 = commit-3 only. After commit 3, the commit-1/2 files are
    * referenced ONLY by expired-able snapshots — exactly the state
    * expireSnapshots+vacuum exists to clean up. */
  private[graft] def s22Commit(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.scratchPath("s22_table", dir)
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"))
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
    // commits 1 and 2 derive from disjoint slices and land in different
    // directories — independent writes, overlapped per guide §2.6
    graft.Harness.inParallel(Seq(
      () => li.filter(pmod(col("l_orderkey"), lit(10)) =!= 0)
        .repartition(4)
        .write.mode("overwrite").parquet(s"$root/commit=1"),
      () => li.filter(pmod(col("l_orderkey"), lit(10)) === 0)
        .repartition(2)
        .write.mode("overwrite").parquet(s"$root/commit=2")))
    val snap2Files = listDataFiles(s"$root/commit=1") ++ listDataFiles(s"$root/commit=2")
    scan(spark, snap2Files)
      .repartitionByRange(3, col("l_orderkey"))
      .write.mode("overwrite").parquet(s"$root/commit=3")
    val rows =
      listDataFiles(s"$root/commit=1").flatMap(p => Seq((1, p), (2, p))) ++
        listDataFiles(s"$root/commit=2").map(p => (2, p)) ++
        listDataFiles(s"$root/commit=3").map(p => (3, p))
    manifest(spark, rows, "snapshot")
  }

  /** A commit's (key, path) file manifest — planner metadata (KBs per
    * thousand files in production), held by the driver as a local
    * relation. */
  private[graft] def manifest(spark: SparkSession, rows: Seq[(Int, String)],
      key: String): DataFrame = {
    import spark.implicits._
    rows.toDF(key, "path")
  }

  /** The manifest files `keep` selects, sorted — the driver-side file
    * list a table format's scan planner produces from its manifest. An
    * empty slice fails with `missing`, the snapshot contract named, not
    * a file-not-found or schema error at scan time. */
  private[graft] def plannedFiles(manifest: DataFrame, keep: Column,
      missing: => String): Seq[String] = {
    val files = manifest.filter(keep).select("path").collect()
      .map(_.getString(0)).sorted.toIndexedSeq
    require(files.nonEmpty, missing)
    files
  }

  // ------------------------------------------------------------- reader

  /** The schema every positional deletion-vector sidecar carries. */
  private val DvSchema = new StructType()
    .add("file_path", StringType).add("row_index", LongType)

  /** THE reader of committed data. `files` (data files, or directories
    * of them) are planned under the schema their writer recorded
    * ([[footerSchema]] — no footer-inference job); the positions the
    * `dvs` sidecars name are subtracted by one broadcast anti-join on
    * (file_path, row_index) — the DV side is sidecar-sized, so the read
    * costs one scan plus a map-side probe (why DVs beat copy-on-write for
    * low-selectivity deletes at 100 TB). `positions` keeps each
    * surviving row's (file_path, row_index) columns, the input of
    * [[positionsOf]]; `basePath` surfaces partition directories (`k=v`)
    * as columns. */
  private[graft] def scan(spark: SparkSession, files: Seq[String],
      dvs: Seq[String] = Nil, positions: Boolean = false,
      basePath: String = null): DataFrame = {
    require(files.nonEmpty, "a snapshot read needs at least one data file")
    val reader = spark.read.schema(footerSchema(spark, files.head))
    val data = Option(basePath).fold(reader)(reader.option("basePath", _))
      .parquet(files: _*)
    if (dvs.isEmpty && !positions) data
    else {
      val placed = data
        .withColumn("file_path", col("_metadata.file_path"))
        .withColumn("row_index", col("_metadata.row_index"))
      val live = if (dvs.isEmpty) placed
        else placed.join(broadcast(spark.read.schema(DvSchema).parquet(dvs: _*)),
          Seq("file_path", "row_index"), "left_anti")
      if (positions) live else live.drop("file_path", "row_index")
    }
  }

  /** The schema a Spark writer records in every parquet footer it writes
    * (key `org.apache.spark.sql.parquet.row.metadata`, the one Spark's own
    * inference reads first): one driver-side footer read, no Spark job.
    * A directory resolves to its first data file. */
  private[graft] def footerSchema(spark: SparkSession, path: String): StructType = {
    val file =
      if (!new java.io.File(path).isDirectory) path
      else listDataFiles(path).headOption
        .getOrElse(sys.error(s"no data file under $path"))
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), spark.sparkContext.hadoopConfiguration))
    try {
      val json = footer.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")
      require(json != null, s"$file records no Spark schema in its footer")
      DataType.fromJson(json).asInstanceOf[StructType]
    } finally footer.close()
  }

  /** The (file_path, row_index) rows of a positioned [[scan]] — what a
    * positional DV sidecar stores (Iceberg positional deletes / Delta
    * deletion vectors). */
  private[graft] def positionsOf(df: DataFrame): DataFrame =
    df.select("file_path", "row_index")

  /** s22's snapshot read: a VACUUMED (or never-committed) snapshot fails
    * with the retention contract named. */
  def s22AsOf(spark: SparkSession, manifest: DataFrame, n: Int): DataFrame =
    scan(spark, plannedFiles(manifest, col("snapshot") === n,
      s"snapshot $n is expired or was never committed — not readable"))

  /** VACUUM: expire snapshots below `retainFrom`, physically delete every
    * file no RETAINED snapshot references, return (pruned manifest,
    * deleted count). The set algebra is the whole safety argument:
    * deletable = referenced(expired) \ referenced(retained) — a file
    * shared with any retained snapshot survives, so retained reads are
    * untouched by construction (LakehouseSpec walks the filesystem to pin
    * deleted ∩ retained = ∅). The delete itself runs executor-side over
    * the expired-file frame — at 100 TB this is a distributed
    * object-store delete fanned over the cluster, not a driver loop. */
  def s22Vacuum(spark: SparkSession, manifest: DataFrame,
      retainFrom: Int): (DataFrame, Long) = {
    val retained = manifest.filter(col("snapshot") >= retainFrom)
    val deletable = manifest.filter(col("snapshot") < retainFrom)
      .select("path").distinct()
      .join(retained.select("path").distinct(), Seq("path"), "left_anti")
    val deleted = spark.sparkContext.longAccumulator("s22_deleted")
    deletable.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      // local-fs image of the production object-store delete; accepts
      // both plain paths (driver listings) and file: URIs (_metadata)
      it.foreach { r =>
        val raw = r.getString(0)
        val p = if (raw.startsWith("file:"))
          java.nio.file.Paths.get(java.net.URI.create(raw))
        else java.nio.file.Paths.get(raw)
        if (java.nio.file.Files.deleteIfExists(p)) deleted.add(1L)
      }
    }
    (retained, deleted.value)
  }

  /** Reset a commit-log directory (scratch logs are per-SF-deterministic;
    * a rerun must replay its protocol from v0, not append to the last
    * run's log). One definition for every build/spec site. */
  private[graft] def wipeLog(log: String): Unit = {
    val d = new java.io.File(log)
    if (d.isDirectory) d.listFiles().foreach(f => { f.delete(); () })
    ()
  }

  /** Data files under a directory (driver-side listing = the one-time
    * manifest-construction step; all later planning reads the manifest). */
  private[graft] def listDataFiles(d: String): Seq[String] = {
    val f = new java.io.File(d)
    if (!f.isDirectory) Seq.empty
    else f.listFiles().toSeq.map(_.getPath)
      .filter(p => p.endsWith(".parquet") && !p.split('/').last.startsWith("_"))
      .sorted
  }

  /** All data files currently on disk under the s22 root (the spec's and
    * the query's physical-deletion witness). */
  private def s22DiskFiles(dir: String): Seq[String] = {
    val root = Tables.scratchPath("s22_table", dir)
    (1 to 3).flatMap(c => listDataFiles(s"$root/commit=$c"))
  }

  /** s22: SNAPSHOT RETENTION + VACUUM — the missing leg of the
    * s19/s20/s21 lifecycle (Iceberg expireSnapshots / Delta VACUUM).
    * Three commits leave 9 data files on disk with snapshot 3 (a
    * compaction rewrite) referencing only 3 of them; vacuum with
    * retention ≥ 3 must delete exactly the 6 unreferenced files and
    * leave every retained snapshot byte-identical. The query emits the
    * retained snapshot's per-month stats BEFORE and AFTER the vacuum
    * plus the on-disk data-file count at each phase — so the oracle
    * (which knows snapshot 3 == the whole table) pins both the logical
    * invariance (pre == post == truth) and the physical deletion
    * (9 files → 3). The pre-phase frame is checkpoint-materialized
    * before the delete runs; the expired snapshots' rows are provably
    * gone because only 3 files remain and they are snapshot 3's. */
  def s22(spark: SparkSession, dir: String): DataFrame = {
    val manifest = s22Commit(spark, dir)
    def stats(df: DataFrame): DataFrame = df.groupBy("ship_month")
      .agg(count(lit(1)).as("n_rows"),
        sum("l_orderkey").cast("bigint").as("key_sum"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"))
    val pre = stats(s22AsOf(spark, manifest, 3))
      .withColumn("phase", lit("pre"))
      .withColumn("n_data_files", lit(s22DiskFiles(dir).size.toLong))
      .localCheckpoint() // materialize before the vacuum deletes files
    val (pruned, _) = s22Vacuum(spark, manifest, retainFrom = 3)
    val post = stats(s22AsOf(spark, pruned, 3))
      .withColumn("phase", lit("post"))
      .withColumn("n_data_files", lit(s22DiskFiles(dir).size.toLong))
    pre.unionByName(post)
      .select("phase", "ship_month", "n_rows", "key_sum",
        "min_price", "max_price", "n_data_files")
      .orderBy("phase", "ship_month")
  }

  // ---------------------------------------------------------------- s23

  /** Per-file zone-map stats over an explicit file list — the s19
    * manifest row shape, computed from the files' own `_metadata`.
    * basePath lets partition discovery type the ship_month dir key even
    * though the scan is planned from leaf files. */
  private[graft] def fileStats(spark: SparkSession, root: String, files: Seq[String]): DataFrame =
    scan(spark, files, basePath = root)
      .groupBy(col("ship_month"), col("_metadata.file_path").as("path"))
      .agg(count(lit(1)).as("n_rows"),
        min("l_orderkey").as("min_orderkey"),
        max("l_orderkey").as("max_orderkey"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"))

  /** Build the s23 table + both manifest versions. Returns (v1, v2):
    *   v1  the fragmented layout's per-file manifest — 4 append passes
    *       (one per l_orderkey%4 group, each repartitioned to one task
    *       per month) leave COUNT(DISTINCT l_orderkey%4) files per month;
    *   v2  after compacting the 1997 months: their fragments are
    *       REPLACED in the manifest by one range-written file per month,
    *       while non-1997 rows carry over from v1 UNTOUCHED — no rescan.
    * The compaction appends new files but deletes nothing: disk holds
    * both generations (old fragments await vacuum), and the MANIFEST is
    * what keeps reads exactly-once — the consistency contract this
    * operator exists to prove. Both manifests carry a snapshot column so
    * s22Vacuum applies verbatim (v1 = snapshot 1, v2 = snapshot 2). */
  private[graft] def s23Build(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val root = Tables.scratchPath("s23_table", dir)
    deleteRecursively(root) // a rerun replays the build from empty
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"))
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
    // simulate FOUR incremental writers, each landing as its own append
    // and fragmenting every month into one file per group with rows
    // there. The four writer images are INDEPENDENT, so they run
    // CONCURRENTLY (guide §2.6 — overlap independent jobs), each staged
    // to its own directory (concurrent appends into ONE root would race
    // in the committer's shared _temporary) and then PROMOTED into the
    // table root by rename — the "write where you land, commit via
    // metadata" move every table format makes. repartition(ship_month)
    // keeps each (month, group) slice in exactly one task → one file.
    val stages = (0 until 4).map(g => s"${root}_stage$g")
    graft.Harness.inParallel((0 until 4).map { g => () =>
      li.filter(pmod(col("l_orderkey"), lit(4)) === g)
        .repartition(col("ship_month"))
        .write.mode("overwrite").partitionBy("ship_month").parquet(stages(g))
    })
    // (month, group, promoted path) — the write-side file map
    val moved: Seq[(String, Int, String)] = (0 until 4).flatMap { g =>
      promoteMonthFiles(stages(g), root).map { case (m, p) => (m, g, p) }
    }
    // write-side stats assume ONE file per (month, group) slice — if the
    // write path ever gains rebalance/maxRecordsPerFile/AQE splitting,
    // the v1 join below would attach full-slice stats to several files
    // and double-count; fail loudly at build time (r15 ADVICE finding)
    require(moved.map(t => (t._1, t._2)).distinct.size == moved.size,
      "s23 layout drift: a (month, group) slice landed in more than one " +
        "file — write-side manifest stats require one file per slice")
    // v1 stats computed WRITE-SIDE: each (month, group) slice IS one
    // file's exact contents (the slice was written whole into that one
    // file), so one aggregate over the source replaces the per-file
    // rescan of ~300 KB-sized parquet files (each of which cost a whole
    // scan task under openCostInBytes packing) — the same move real
    // writers make (Delta/Iceberg record add-file stats AT WRITE TIME,
    // they never re-read what they just wrote).
    import spark.implicits._
    val pathMap = moved.toDF("ship_month", "g", "path")
    val v1 = li
      .groupBy(col("ship_month"),
        pmod(col("l_orderkey"), lit(4)).cast("int").as("g"))
      .agg(count(lit(1)).as("n_rows"),
        min("l_orderkey").as("min_orderkey"),
        max("l_orderkey").as("max_orderkey"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"))
      .join(broadcast(pathMap), Seq("ship_month", "g"))
      .select("ship_month", "path", "n_rows", "min_orderkey",
        "max_orderkey", "min_price", "max_price")
      .withColumn("snapshot", lit(1)).localCheckpoint()
    // compact ONLY the fragmented-and-hot months (1997), planning the
    // rewrite from the manifest's file list — partitionBy(ship_month)
    // keeps every file single-month, so the 1997 file set IS exactly the
    // rows to rewrite (no other month is read)
    val fragFiles = listMonthFiles(root)
    val frag97 = v1.filter(col("ship_month").startsWith("1997"))
      .select("path").collect().map(_.getString(0)).sorted.toIndexedSeq
    scan(spark, frag97, basePath = root)
      .repartition(col("ship_month"))
      .write.mode("append").partitionBy("ship_month").parquet(root)
    val newFiles = listMonthFiles(root).diff(fragFiles)
    // same loud-at-build contract for the rewrite delta: the v2 stats
    // fold assumes exactly one rewrite file per 1997 month
    locally {
      val months = newFiles.map(monthOfFile)
      require(months.distinct.size == months.size
          && months.forall(_.startsWith("1997")),
        "s23 layout drift: the 1997 compaction must land exactly one " +
          "file per month — write-side delta stats would double-count")
    }
    // incremental manifest maintenance: non-1997 rows CARRY OVER (their
    // files were not rescanned); the rewrite delta's stats FOLD from the
    // v1 manifest itself (a compacted month's file stats = the monoid
    // merge of the fragments it replaced — count/min/max compose), so
    // the delta is re-stat'd from KB-sized planner metadata, not by
    // re-reading the files just written
    val nf = newFiles.map(p => (monthOfFile(p), p)).toDF("ship_month", "path")
    val delta = v1.filter(col("ship_month").startsWith("1997"))
      .groupBy("ship_month")
      .agg(sum("n_rows").cast("bigint").as("n_rows"),
        min("min_orderkey").as("min_orderkey"),
        max("max_orderkey").as("max_orderkey"),
        min("min_price").as("min_price"),
        max("max_price").as("max_price"))
      .join(broadcast(nf), Seq("ship_month"))
      .select("ship_month", "path", "n_rows", "min_orderkey",
        "max_orderkey", "min_price", "max_price")
    val v2 = v1.filter(!col("ship_month").startsWith("1997")).drop("snapshot")
      .unionByName(delta)
      .withColumn("snapshot", lit(2))
    (v1, v2)
  }

  /** The ship_month value of a data file's enclosing partition dir. */
  private def monthOfFile(p: String): String = {
    val d = new java.io.File(p).getParentFile.getName
    require(d.startsWith("ship_month="), s"not under a month partition: $p")
    d.substring("ship_month=".length)
  }

  /** Recursive delete (scratch-table reset before a rebuild). */
  private[graft] def deleteRecursively(p: String): Unit = {
    def go(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(go))
      f.delete(); ()
    }
    go(new java.io.File(p))
  }

  /** PROMOTE a staged partitioned write into the table root: every data
    * file under `stage/ship_month=M/` moves (rename — same filesystem)
    * to `root/ship_month=M/`, the stage dir is deleted, and the (month,
    * promoted path) pairs are returned. File names are write-job-unique
    * (parquet part files carry the job UUID), so concurrent staged
    * writers never collide in the root. */
  private def promoteMonthFiles(stage: String,
      root: String): Seq[(String, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val sd = new java.io.File(stage)
    for (d <- Option(sd.listFiles()).getOrElse(Array.empty)
         if d.isDirectory && d.getName.startsWith("ship_month=");
         f <- listDataFiles(d.getPath)) {
      val month = d.getName.substring("ship_month=".length)
      val destDir = java.nio.file.Paths.get(root, d.getName)
      java.nio.file.Files.createDirectories(destDir)
      val dest = destDir.resolve(new java.io.File(f).getName)
      java.nio.file.Files.move(java.nio.file.Paths.get(f), dest)
      out += ((month, dest.toString))
    }
    deleteRecursively(stage)
    out.toSeq
  }

  private def listMonthFiles(root: String): Seq[String] = {
    val f = new java.io.File(root)
    if (!f.isDirectory) Seq.empty
    else f.listFiles().toSeq.filter(d => d.isDirectory && d.getName.startsWith("ship_month="))
      .flatMap(d => listDataFiles(d.getPath))
      .sorted
  }

  /** s23: COMPACTION↔MANIFEST CONSISTENCY — s15's compaction invalidates
    * s19's per-file zone maps; this operator composes them the way a
    * table format's OPTIMIZE does: rewrite the fragmented 1997 months
    * (one range-clustered file per month), then bring the manifest
    * current INCREMENTALLY — drop the replaced files' rows, stat only
    * the rewrite delta, carry every untouched month over verbatim. The
    * result is the v2 manifest aggregated per month (no data scan: the
    * manifest IS the answer), and the oracle recomputes every stat from
    * the source table — equality proves incremental-remanifest ==
    * from-scratch. n_files pins the collapse: 1 for compacted months,
    * COUNT(DISTINCT l_orderkey%4) (the fragment-group count) elsewhere.
    * The old 1997 fragments are still on disk (vacuum's job, s22 — the
    * spec composes the two); only the manifest keeps reads exactly-once. */
  def s23(spark: SparkSession, dir: String): DataFrame = {
    val (_, v2) = s23Build(spark, dir)
    v2.groupBy("ship_month")
      .agg(count(lit(1)).as("n_files"),
        sum("n_rows").cast("bigint").as("n_rows"),
        min("min_orderkey").as("min_orderkey"),
        max("max_orderkey").as("max_orderkey"),
        min("min_price").as("min_price"),
        max("max_price").as("max_price"))
      .orderBy("ship_month")
  }

  // ---------------------------------------------------------------- s24

  /** The commit log: a directory of atomically-created pointer files
    * v00000.ptr, v00001.ptr, … whose CONTENT is the committed manifest's
    * payload directory. Creating the next version's pointer is the
    * commit — java.nio CREATE_NEW is atomic on the local fs, the same
    * put-if-absent primitive Delta's _delta_log relies on from object
    * stores. Losing a race costs a retry (re-read, re-merge, re-stage),
    * never a lock held over data writes. */
  private def ptrName(v: Int): String = f"v$v%05d.ptr"

  private[graft] def s24Current(log: String): Int = {
    val d = new java.io.File(log)
    if (!d.isDirectory) -1
    else d.listFiles().map(_.getName)
      .filter(_.matches("v\\d{5}\\.ptr"))
      .map(_.substring(1, 6).toInt)
      .foldLeft(-1)(math.max)
  }

  /** Atomic put-if-absent of the version pointer; true iff this writer
    * won the version. The payload is staged to a temp file and LINKED
    * into place (link(2) fails with EEXIST if the version is taken), so
    * the pointer becomes visible ONLY with its full content — a
    * concurrent reader or a crash can never observe a committed-but-empty
    * version slot (createFile-then-write had exactly that window). */
  private[graft] def s24TryCommit(log: String, version: Int, payload: String): Boolean =
    s24TryCommitNamed(log, ptrName(version), payload)

  /** [[s24TryCommit]] generalized to an arbitrary pointer NAME, so branch
    * heads (s32's write-audit-publish) ride the same atomic primitive as
    * linear versions. A filesystem without hard links (some NFS/overlay
    * mounts) REFUSES with the requirement named rather than degrading:
    * the obvious fallbacks are all unsafe put-if-absents — ATOMIC_MOVE
    * is POSIX rename(2), which silently REPLACES an existing pointer (two
    * racing committers would both "win" and one manifest is destroyed),
    * and createFile-then-write exposes a committed-but-empty window. On
    * such mounts the log belongs on a store with a real conditional put
    * (every object store has one), not on a weaker local emulation. */
  private[graft] def s24TryCommitNamed(log: String, name: String,
      payload: String): Boolean = {
    val dir = java.nio.file.Paths.get(log)
    java.nio.file.Files.createDirectories(dir)
    val tmp = java.nio.file.Files.createTempFile(dir, ".commit", ".tmp")
    val target = dir.resolve(name)
    try {
      java.nio.file.Files.write(tmp,
        payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      try {
        java.nio.file.Files.createLink(target, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        // ONLY the capability refusal gets the hard-link diagnosis;
        // other failures (ENOSPC, EACCES, EIO) propagate with their own
        // message — labeling a full disk "filesystem lacks hard-link
        // support" misdiagnoses the load-bearing path (r14 ADVICE
        // finding). On the mounts the diagnosis was written for
        // (NFS/overlay) link(2) typically fails with EPERM inside a
        // FileSystemException, not UnsupportedOperationException — so
        // that class is ALSO diagnosed, but only when its reason names
        // the capability (r15 ADVICE finding), never blanket.
        case e: UnsupportedOperationException => throw noLinkSupport(log, e)
        case e: java.nio.file.FileSystemException
            if Option(e.getReason).map(_.toLowerCase).exists(r =>
              r.contains("not permitted") || r.contains("not supported")) =>
          throw noLinkSupport(log, e)
      }
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  private def noLinkSupport(log: String, e: Throwable): IllegalStateException =
    new IllegalStateException(
      s"commit log $log requires hard-link (link(2)) support for " +
        "atomic put-if-absent — rename-based fallbacks silently " +
        "replace a concurrent winner's pointer; host the log on a " +
        "filesystem with link(2) or an object store with " +
        s"conditional put (${e.getMessage})", e)

  private[graft] def s24Read(spark: SparkSession, log: String, version: Int): DataFrame = {
    val p = java.nio.file.Paths.get(log).resolve(ptrName(version))
    require(java.nio.file.Files.exists(p), s"no committed version $version in $log")
    scan(spark, Seq(new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)))
  }

  /** The manifest's monoid merge (s20's shape): counts add, min/max
    * combine — associative+commutative, which is what makes "loser
    * re-merges onto the winner's result" equal any serial order. */
  private def s24Merge(cur: DataFrame, delta: DataFrame): DataFrame =
    cur.unionByName(delta)
      .groupBy("ship_month")
      .agg(sum("n_rows").cast("bigint").as("n_rows"),
        min("min_price").as("min_price"),
        max("max_price").as("max_price"))

  private def s24Stats(df: DataFrame): DataFrame = df
    .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
    .groupBy("ship_month")
    .agg(count(lit(1)).cast("bigint").as("n_rows"),
      min("l_extendedprice").as("min_price"),
      max("l_extendedprice").as("max_price"))

  /** One optimistic writer: read current version, merge own delta, stage
    * the merged manifest, attempt the next version; on conflict re-read
    * and retry. Returns the version this writer committed. */
  def s24Writer(spark: SparkSession, log: String, stage: String,
      delta: DataFrame, writerId: String, maxAttempts: Int = 5): Int = {
    var attempt = 0
    while (attempt < maxAttempts) {
      val v = s24Current(log)
      val merged =
        if (v < 0) delta
        else s24Merge(s24Read(spark, log, v), delta)
      val payload = s"$stage/$writerId-v${v + 1}-a$attempt"
      merged.write.mode("overwrite").parquet(payload)
      if (s24TryCommit(log, v + 1, payload)) return v + 1
      attempt += 1
    }
    sys.error(s"writer $writerId gave up after $maxAttempts conflicts")
  }

  /** s24: OPTIMISTIC CONCURRENT COMMIT — s20 assumed one writer; this is
    * the lakehouse commit protocol under a forced race. A base writer
    * commits v0; writers A and B both read v0, stage their merges, and
    * race the v1 pointer: A wins, B's put-if-absent FAILS, and B
    * recovers by re-reading v1 and re-merging its (unchanged) delta —
    * committing v2. Because the merge is a commutative monoid, the final
    * manifest equals either serial order (the spec runs all three
    * interleavings); the oracle recomputes it from the full table, which
    * proves no delta was lost or double-applied across the conflict.
    * Output: final per-month manifest + the protocol's observables
    * (final_version = 2, conflicts = 1). */
  def s24(spark: SparkSession, dir: String): DataFrame = {
    val log = Tables.scratchPath("s24_log", dir)
    val stage = Tables.scratchPath("s24_stage", dir)
    // reset the log (scratch dirs are per-SF-deterministic; a rerun must
    // replay the protocol from v0, not append to last run's log)
    wipeLog(log)
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_shipdate", "l_extendedprice")
    val base = s24Stats(li.filter(!pmod(col("l_orderkey"), lit(10)).isin(0, 5)))
    val deltaA = s24Stats(li.filter(pmod(col("l_orderkey"), lit(10)) === 0))
    val deltaB = s24Stats(li.filter(pmod(col("l_orderkey"), lit(10)) === 5))
    require(s24Writer(spark, log, stage, base, "base") == 0)
    // forced race: BOTH writers read v0 before either commits
    val v0 = s24Current(log)
    val mergedA = s24Merge(s24Read(spark, log, v0), deltaA)
    val mergedB = s24Merge(s24Read(spark, log, v0), deltaB)
    mergedA.write.mode("overwrite").parquet(s"$stage/A-race")
    mergedB.write.mode("overwrite").parquet(s"$stage/B-race")
    require(s24TryCommit(log, v0 + 1, s"$stage/A-race"), "A must win v1")
    val bConflicted = !s24TryCommit(log, v0 + 1, s"$stage/B-race")
    require(bConflicted, "B's stale commit must be rejected")
    // B recovers: the standard retry loop, now merging onto A's v1
    val vFinal = s24Writer(spark, log, stage, deltaB, "B")
    s24Read(spark, log, vFinal)
      .withColumn("final_version", lit(vFinal))
      .withColumn("conflicts", lit(1))
      .select("ship_month", "n_rows", "min_price", "max_price",
        "final_version", "conflicts")
      .orderBy("ship_month")
  }

  // ---------------------------------------------------------------- s25

  /** Write the s25 base table (4 files, deterministic) and its DELETION
    * VECTOR sidecar for the predicate, WITHOUT touching a data file.
    * The DV is the positional-delete form every merge-on-read format
    * uses (Iceberg positional deletes / Delta deletion vectors): one
    * (file, row_index) row per deleted position, derived from the
    * written files' own `_metadata.row_index`. Returns (root, dvPath). */
  private[graft] def s25Commit(spark: SparkSession, dir: String): (String, String) = {
    val root = Tables.scratchPath("s25_table", dir)
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$root/base")
    val dv = Tables.scratchPath("s25_dv", dir)
    positionsOf(scan(spark, Seq(s"$root/base"), positions = true)
      .filter(s25Deleted))
      .write.mode("overwrite").parquet(dv)
    (root, dv)
  }

  /** The DELETE's predicate — row-level, not partition-aligned, so no
    * file can simply be dropped: every file keeps live rows. */
  private def s25Deleted: org.apache.spark.sql.Column =
    col("l_quantity") < 5.0 || pmod(col("l_orderkey"), lit(97)) === 0

  /** Copy-on-write APPLY (the compaction that retires a DV): rewrite the
    * merge-on-read view (base files minus the DV) into clean files; the
    * base files + DV become vacuum-able. Returns the rewritten directory. */
  def s25Apply(spark: SparkSession, root: String,
      dvPath: String): String = {
    scan(spark, Seq(s"$root/base"), Seq(dvPath))
      .repartition(2)
      .write.mode("overwrite").parquet(s"$root/applied")
    s"$root/applied"
  }

  /** s25: ROW-LEVEL DELETE VIA DELETION VECTORS — the merge-on-read leg
    * of the lifecycle (Iceberg positional deletes / Delta DVs): a DELETE
    * whose predicate crosses every file writes only a (file, row_index)
    * sidecar; reads anti-join it; a later copy-on-write apply rewrites
    * clean files and retires the DV (then s22's vacuum machinery owns
    * the superseded originals — LakehouseSpec composes them). The query
    * emits the surviving table's stats under BOTH read paths — 'mor'
    * (base + DV anti-join) and 'cow' (post-apply rewrite) — plus the
    * deleted-row count; the oracle restates both phases as the same
    * NOT(predicate) aggregate, so a pass proves the two paths agree with
    * each other and with the logical DELETE. */
  def s25(spark: SparkSession, dir: String): DataFrame = {
    val (root, dv) = s25Commit(spark, dir)
    val nDeleted = scan(spark, Seq(dv)).count()
    def stats(df: DataFrame, phase: String): DataFrame = df
      .groupBy(col("l_quantity").cast("int").as("qty_band"))
      .agg(count(lit(1)).as("n_rows"),
        sum("l_orderkey").cast("bigint").as("key_sum"),
        sum(Tables.dec(col("l_extendedprice"))).cast("double").as("sum_price"))
      .withColumn("phase", lit(phase))
      .withColumn("n_deleted", lit(nDeleted))
    val applied = s25Apply(spark, root, dv)
    stats(scan(spark, Seq(s"$root/base"), Seq(dv)), "mor")
      .unionByName(stats(scan(spark, Seq(applied)), "cow"))
      .select("phase", "qty_band", "n_rows", "key_sum", "sum_price", "n_deleted")
      .orderBy("phase", "qty_band")
  }

  // ---------------------------------------------------------------- s27

  /** s27: MERGE-ON-READ UPSERT — the production MERGE INTO, expressed
    * with the s25 deletion-vector machinery plus an append commit
    * (exactly Delta's DV-based MERGE): matched base rows (o_orderkey%7
    * == 0, the update set) are tombstoned by POSITION in a DV sidecar —
    * no base file rewritten — while the source's updated versions and
    * its brand-new rows (shifted keys, status 'N') land as a new
    * commit's files; the logical table is MOR(base, DV) ∪ commit-2.
    * At 100 TB this is why MERGE doesn't rewrite the fact table: the
    * write cost is |source| + a positions sidecar, reads pay one
    * broadcast anti-join. The oracle restates the merged table from the
    * source relation (unmatched ∪ updated ∪ inserted), so a pass proves
    * update-by-tombstone+append == the logical MERGE. LakehouseSpec
    * pins row-level equality against a frame-computed merge, exact DV
    * coverage, and base files untouched. */
  def s27(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.scratchPath("s27_table", dir)
    val orders = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val matched = pmod(col("o_orderkey"), lit(7)) === 0
    // the MERGE source: updated versions of matched keys + new rows
    val updates = orders.filter(matched)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    val inserts = orders.filter(pmod(col("o_orderkey"), lit(13)) === 0)
      .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
        lit("N").as("o_orderstatus"), col("o_totalprice"))
    val dv = Tables.scratchPath("s27_dv", dir)
    // base and commit-2 both derive from the source relation, not from
    // each other — overlapped (guide §2.6); only the DV must wait for
    // base (it references the written files' positions)
    graft.Harness.inParallel(Seq(
      () => orders.repartition(4).write.mode("overwrite")
        .parquet(s"$root/base"),
      () => updates.unionByName(inserts)
        .repartition(2).write.mode("overwrite").parquet(s"$root/commit2")))
    positionsOf(scan(spark, Seq(s"$root/base"), positions = true)
      .filter(matched))
      .write.mode("overwrite").parquet(dv)
    scan(spark, Seq(s"$root/base"), Seq(dv))
      .unionByName(scan(spark, Seq(s"$root/commit2")))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum("o_orderkey").cast("bigint").as("key_sum"),
        sum(Tables.dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
  }

  // ---------------------------------------------------------------- s26

  /** Build the s26 table: the same logical table under TWO partition
    * specs. Generation A (history, shipdate < 1996) predates partitioning
    * — written as plain range-clustered files with ship_month as a DATA
    * column; generation B (1996+) was written after the spec evolved to
    * partitionBy(ship_month). The manifest carries a month zone map per
    * file — for A from the files' contents, for B from the partition
    * value (min == max) — which is what lets ONE predicate prune BOTH
    * generations. Returns (root, manifest(gen, path, min_month,
    * max_month)). */
  private[graft] def s26Build(spark: SparkSession, dir: String): (String, DataFrame) = {
    val root = Tables.scratchPath("s26_table", dir)
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"))
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
    // the two generations land in DIFFERENT directories and derive from
    // disjoint slices — independent writes, submitted concurrently
    // (guide §2.6) instead of back to back
    graft.Harness.inParallel(Seq(
      () => li.filter(col("ship_month") < "1996-01")
        .repartitionByRange(4, col("ship_month"))
        .sortWithinPartitions("ship_month")
        .write.mode("overwrite").parquet(s"$root/genA"),
      () => li.filter(col("ship_month") >= "1996-01")
        .repartition(col("ship_month"))
        .write.mode("overwrite").partitionBy("ship_month").parquet(s"$root/genB")))
    // generation A predates partitioning: its month zone maps genuinely
    // live in the files' contents (range boundaries came from sampling),
    // so they are read back — 4 files, one small scan
    val mA = scan(spark, Seq(s"$root/genA"))
      .groupBy(col("_metadata.file_path").as("path"))
      .agg(min("ship_month").as("min_month"), max("ship_month").as("max_month"))
      .withColumn("gen", lit("A"))
    // generation B is partitioned BY the zone column: a file's min and
    // max month are BOTH the directory key it sits under — planner
    // metadata the writer already has, no rescan of the files just
    // written (the write-time-stats move every table format makes)
    import spark.implicits._
    val bDir = new java.io.File(s"$root/genB")
    val mB = Option(bDir.listFiles()).getOrElse(Array.empty).toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("ship_month="))
      .flatMap { d =>
        val m = d.getName.substring("ship_month=".length)
        listDataFiles(d.getPath).map(p => (p, m, m))
      }
      .toDF("path", "min_month", "max_month")
      .withColumn("gen", lit("B"))
    (root, mA.unionByName(mB).select("gen", "path", "min_month", "max_month")
      .localCheckpoint())
  }

  /** Manifest-driven month-range read across BOTH partition specs: files
    * whose [min_month, max_month] zone intersects [lo, hi] are planned,
    * each generation as its own scan group (exactly how a table format
    * reads across partition-spec generations — per-spec scan groups,
    * unioned), A surfacing ship_month from data, B from the directory
    * key. Pruning is the point: the SAME predicate skips A files via
    * zone maps and B files via partition values, so evolving the spec
    * never required rewriting history. */
  def s26Read(spark: SparkSession, root: String, manifest: DataFrame,
      lo: String, hi: String): DataFrame = {
    def planned(gen: String): Seq[String] = manifest
      .filter(col("gen") === gen
        && col("max_month") >= lo && col("min_month") <= hi)
      .select("path").collect().map(_.getString(0)).sorted.toIndexedSeq
    val cols = Seq("l_orderkey", "l_shipdate", "l_extendedprice", "ship_month")
    val (fa, fb) = (planned("A"), planned("B"))
    val a = if (fa.isEmpty) None
      else Some(scan(spark, fa).select(cols.map(col): _*))
    val b = if (fb.isEmpty) None
      else Some(scan(spark, fb, basePath = s"$root/genB")
        .select(cols.map(col): _*))
    val window = (a, b) match {
      case (Some(x), Some(y)) => x.unionByName(y)
      case (Some(x), None) => x
      case (None, Some(y)) => y
      // an empty window is a lawful query result, not a contract
      // violation — yield a 0-row frame whose schema is DERIVED from the
      // table itself (genB is always non-empty at build time), so it can
      // never drift from the parquet fixtures or the ship_month derivation
      case _ => scan(spark, listMonthFiles(s"$root/genB"),
        basePath = s"$root/genB").select(cols.map(col): _*).limit(0)
    }
    // zone maps prune FILES; the row predicate still applies (an A file
    // can span the boundary)
    window.filter(col("ship_month").between(lo, hi))
  }

  /** s26: PARTITION-SPEC EVOLUTION — the layout analogue of s18b's
    * column evolution (Iceberg's flagship: specs evolve, history is
    * never rewritten). A month-window query spanning the spec boundary
    * (1995-10..1996-03) reads pre-partitioning files via their zone maps
    * and post-evolution files via partition values, through one
    * manifest; the oracle restates the window from the source table, so
    * equality proves the two generations compose to exactly the logical
    * table. LakehouseSpec pins the pruning itself (planned ∩
    * non-matching = ∅ on both generations, and at least one file of
    * each generation is skipped). */
  def s26(spark: SparkSession, dir: String): DataFrame = {
    val (root, manifest) = s26Build(spark, dir)
    s26Read(spark, root, manifest, "1995-10", "1996-03")
      .groupBy("ship_month")
      .agg(count(lit(1)).as("n_rows"),
        sum("l_orderkey").cast("bigint").as("key_sum"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"))
      .orderBy("ship_month")
  }

  // ---------------------------------------------------------------- s28

  /** Commit a (kind, path) MANIFEST as `version` of the s28-style log:
    * kind 'add' = data file in the snapshot, kind 'dv' = positional
    * deletion-vector sidecar directory (s25's form). The commit file IS
    * the manifest — KB planner metadata written driver-side in the
    * atomic put-if-absent pointer itself (exactly Delta's JSON commit
    * files), so neither committing nor planning a snapshot costs a
    * Spark job. Shared with l66's dimension log and h15's chain. */
  private[graft] def s28Commit(spark: SparkSession, log: String, version: Int,
      entries: Seq[(String, String)]): Unit =
    require(s24TryCommit(log, version, s28Payload(entries)),
      s"version $version must commit (stale log? wipe $log before rebuild)")

  private[graft] def s28Payload(entries: Seq[(String, String)]): String =
    "mf1\n" + entries.map { case (k, p) => s"$k\t$p" }.mkString("\n")

  /** Parse the inline manifest committed at `version` — pointer IO only,
    * no Spark job. An expired (vacuumed) or never-committed version
    * refuses with the retention contract named, never a scan-time
    * file-not-found. */
  private[graft] def readManifest(log: String,
      version: Int): Seq[(String, String)] = {
    val p = java.nio.file.Paths.get(log).resolve(ptrName(version))
    require(java.nio.file.Files.exists(p),
      s"version $version is expired or was never committed — not readable")
    parseManifest(p, s"version $version of $log")
  }

  private def parseManifest(p: java.nio.file.Path,
      what: String): Seq[(String, String)] = {
    val payload = new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)
    require(payload.startsWith("mf1\n"),
      s"$what is not an inline-manifest commit")
    payload.split('\n').drop(1).toIndexedSeq.map { line =>
      val i = line.indexOf('\t')
      (line.substring(0, i), line.substring(i + 1))
    }
  }

  private def manifestPaths(m: Seq[(String, String)], kind: String): Seq[String] =
    m.collect { case (`kind`, p) => p }.sorted

  /** A manifest's data files: kind 'add' (a data-changing commit's files)
    * plus kind 'addnc' (a REWRITE commit's files — same live rows
    * re-expressed, Delta's dataChange=false). Readers treat both as the
    * snapshot; only the change feed distinguishes them (s31's walker
    * skips rewrite commits instead of misreporting their rows). */
  private[graft] def addPaths(m: Seq[(String, String)]): Seq[String] =
    addPathsK(m, "")

  /** [[addPaths]] under a TABLE-kind prefix: a multi-table commit (l67)
    * namespaces its entries 'dim.add', 'feat.add', 'feat.dv', … — one
    * pointer file carries every member table's manifest, which is what
    * makes the commit atomic ACROSS tables. */
  private[graft] def addPathsK(m: Seq[(String, String)],
      prefix: String): Seq[String] =
    (manifestPaths(m, prefix + "add") ++ manifestPaths(m, prefix + "addnc"))
      .sorted

  /** Snapshot of one parsed manifest: its data files (add ∪ addnc) minus
    * every DV sidecar it carries (s25's positional form) — for one member
    * TABLE of a multi-table manifest when `table` names its kind prefix
    * (l67's 'dim.' / 'feat.'). */
  private[graft] def snapshotOf(spark: SparkSession,
      m: Seq[(String, String)], table: String = ""): DataFrame =
    scan(spark, addPathsK(m, table), manifestPaths(m, table + "dv"))

  /** Snapshot at `version` of the log. */
  private[graft] def s28Snapshot(spark: SparkSession, log: String,
      version: Int): DataFrame =
    snapshotOf(spark, readManifest(log, version))

  /** CHANGE DATA FEED between two committed versions — row-level changes
    * derived ONLY from the commit log's artifacts (Delta CDF / Iceberg
    * changelog): the manifest diff names the delta (add-files and DV
    * sidecars new in `vTo`); pre-images are read from EXACTLY the base
    * files the new DVs touch (minus positions already dead at `vFrom`);
    * post-images from exactly the new add-files (minus positions `vTo`'s
    * DVs already tombstone). Classification matches removed vs added
    * rows on the table's declared row-identity `key`: both sides →
    * update_preimage/update_postimage, removed-only → delete,
    * added-only → insert.
    *
    * Scale: cost ∝ the commit delta, never a snapshot scan — the
    * property that turns the lakehouse into an incremental pipeline
    * SOURCE (a downstream consumer reads row changes instead of diffing
    * 100 TB snapshots). The key-match join is delta×delta; AQE
    * broadcasts the (typically batch-sized) smaller side. */
  def s28Cdf(spark: SparkSession, log: String, vFrom: Int, vTo: Int,
      key: String): DataFrame = {
    for (v <- Seq(vFrom, vTo))
      require(java.nio.file.Files.exists(
        java.nio.file.Paths.get(log).resolve(ptrName(v))),
        s"version $v is expired or was never committed — change feed unavailable")
    cdfDiff(spark, readManifest(log, vFrom), readManifest(log, vTo), key,
      s"$vFrom->$vTo")
  }

  /** The manifest-pair core of [[s28Cdf]] (and of [[s31Cdf]]'s per-commit
    * walk): the row-level change feed between two parsed manifests whose
    * data-file and DV sets are MONOTONE (checked; a rewrite in between
    * refuses — the walker is the layer that may skip declared-no-data-
    * change commits). `window` labels refusals for the caller. */
  private[graft] def cdfDiff(spark: SparkSession, mF: Seq[(String, String)],
      mT: Seq[(String, String)], key: String, window: String): DataFrame = {
    def paths(m: Seq[(String, String)], k: String): Set[String] =
      manifestPaths(m, k).toSet
    val (fromAdds, toAdds) = (addPaths(mF).toSet, addPaths(mT).toSet)
    // a REWRITE/COMPACTION commit removes add-files; its rows are
    // logically unchanged, so a feed derived from add/DV diffs alone
    // would misreport them (rewritten rows as inserts, removed files'
    // rows as nothing). Refuse loudly — the same stance Delta takes
    // (CDF is not served across OPTIMIZE without row-lineage tracking);
    // consumers use s31Cdf (row-lineage walk) or diff snapshots (h11's
    // shape) across such commits.
    require(fromAdds.subsetOf(toAdds),
      s"versions $window include a rewrite/compaction commit " +
        "(data files removed from the manifest); the change feed is not " +
        "derivable from add/DV diffs across a rewrite — walk per-commit " +
        "(s31Cdf) or diff snapshots instead")
    // DV monotonicity: a commit that removes or re-expresses a DV sidecar
    // (DV compaction/rewrite) breaks the pre-image algebra the same way a
    // data-file rewrite does (oldDvs anti-join would subtract positions
    // whose tombstones moved) — refuse loudly, same stance as above
    require(paths(mF, "dv").subsetOf(paths(mT, "dv")),
      s"versions $window include a DV rewrite commit (deletion-vector " +
        "sidecars removed from the manifest); the change feed is not " +
        "derivable from add/DV diffs across a DV rewrite — walk per-commit " +
        "(s31Cdf) or diff snapshots instead")
    val newAdds = (toAdds -- fromAdds).toSeq.sorted
    val newDvs = (paths(mT, "dv") -- paths(mF, "dv")).toSeq.sorted
    val oldDvs = paths(mF, "dv").toSeq.sorted
    // pre-images: positions newly tombstoned in the window = new DV rows
    // minus positions already dead at vFrom, RESTRICTED to files that
    // were part of vFrom's snapshot — a position in a file added after
    // vFrom is internal churn (inserted then deleted inside the window;
    // it nets to nothing, and the matching add-row is excluded on the
    // other side by vTo's DVs). Read ONLY the files the surviving
    // positions live in (the file list is planner metadata). Membership
    // is decided on the asFsPath-NORMALIZED path (one shared decode for
    // the manifest's plain form and the scan's file:-URI form) and any
    // DV file attributable to NEITHER manifest refuses loudly — spelling
    // drift must never silently drop pre-images.
    val fromAddsFs = fromAdds.map(asFsPath)
    val toAddsFs = toAdds.map(asFsPath)
    val removed =
      if (newDvs.isEmpty) None
      else {
        val nd = scan(spark, newDvs)
        val dead =
          if (oldDvs.isEmpty) nd
          else nd.join(scan(spark, oldDvs), Seq("file_path", "row_index"), "left_anti")
        // one distinct-file fetch (planner metadata, delta-sized), then
        // classify each file: vFrom add → pre-image source; vTo-only add →
        // internal churn (excluded); neither → corrupt sidecar / drift
        val deadFiles = dead.select("file_path").distinct()
          .collect().map(_.getString(0)).sorted.toIndexedSeq
        val (touched, churn) = deadFiles.partition(p => fromAddsFs(asFsPath(p)))
        val stray = churn.filterNot(p => toAddsFs(asFsPath(p)))
        require(stray.isEmpty,
          s"DV rows reference files in neither manifest of $window " +
            s"(path-spelling drift or corrupt sidecar): ${stray.take(3).mkString(", ")}")
        if (touched.isEmpty) None
        else Some(scan(spark, touched.map(asFsPath), positions = true)
          .join(broadcast(dead.filter(col("file_path").isin(touched: _*))),
            Seq("file_path", "row_index"), "left_semi")
          .drop("file_path", "row_index"))
      }
    // post-images: rows of the new add-files still live at vTo. Only the
    // WINDOW's new DVs can tombstone them — a DV committed at or before
    // vFrom references only vFrom-era files, disjoint from newAdds — so
    // the anti-join side stays delta-sized even on a long-lived table
    // whose accumulated DV history keeps growing.
    val added =
      if (newAdds.isEmpty) None else Some(scan(spark, newAdds, newDvs))
    def keysOf(df: Option[DataFrame]): DataFrame = df match {
      case Some(d) => d.select(col(key).as("_cdf_k")).distinct()
      case None => spark.range(0).select(lit(null).cast("long").as("_cdf_k"))
    }
    val (remK, addK) = (keysOf(removed), keysOf(added))
    val pre = removed.map(_
      .join(addK, col(key) === col("_cdf_k"), "left")
      .withColumn("change_type",
        when(col("_cdf_k").isNotNull, "update_preimage").otherwise("delete"))
      .drop("_cdf_k"))
    val post = added.map(_
      .join(remK, col(key) === col("_cdf_k"), "left")
      .withColumn("change_type",
        when(col("_cdf_k").isNotNull, "update_postimage").otherwise("insert"))
      .drop("_cdf_k"))
    (pre, post) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case _ => snapshotOf(spark, mT).limit(0)
        .withColumn("change_type", lit(""))
    }
  }

  /** Session memo over a deterministic log build, keyed by input dir:
    * one build per dir per session, shared by every registered consumer
    * of the same table the way l21 rides l02's pair graph (Bench tags
    * the reuse as memo_pre and evictSince re-pays it, keeping best-of-2
    * cold). A hit is revalidated against the log's version pointers
    * (`versions`) before reuse — LakehouseSpec deliberately expires v0
    * to test CDF refusal, and a stale hit would hand that broken log to
    * the next query. */
  private def logMemo(versions: Range) =
    new graft.FrameMemo[String, String](Int.MaxValue, _ == _,
      log => versions.forall(v => java.nio.file.Files.exists(
        java.nio.file.Paths.get(log).resolve(ptrName(v)))))

  /** Memo for the 2-version s28 table (consumers: s28, h14). */
  private val S28BuildMemo = logMemo(0 to 1)

  /** The s28 versioned table, memoized — what the registered consumers
    * (s28, h14) call; a composed pipeline builds its source table once.
    * v0 = the base orders table; v1 = the first [[s28MergeStep]] of the
    * chain (s27's merge-on-read MERGE form): one DV sidecar tombstoning
    * the deleted (o_orderkey%5==0, unless updated) and updated
    * (o_orderkey%7==0) rows by position, plus one appended file carrying
    * the updated versions (+1000.0) and the brand-new keys (%13,
    * shifted, status 'N'). */
  private[graft] def s28Table(spark: SparkSession, dir: String): String =
    S28BuildMemo.getOrCompute(dir)(s28BuildSteps(spark, dir, "s28_table", 1))

  /** One MERGE step over the CURRENT snapshot of an s28-style log:
    * tombstone the deleted (key%pDel==0, unless updated) and updated
    * (key%pUpd==0) rows by position in a new DV sidecar, append the
    * updated versions (price+priceDelta) and the inserts (key%pIns==0
    * of the current snapshot, key+shift, the given status), and commit
    * the next version with the accumulated add/DV lists. All predicates
    * are on the integer key so a chain of steps stays relationally
    * restatable by the oracle. */
  private[graft] def s28MergeStep(spark: SparkSession, root: String,
      log: String, step: Int, pDel: Int, pUpd: Int, priceDelta: Double,
      pIns: Int, shift: Long, status: String): Unit = {
    val v = s24Current(log)
    val m = readManifest(log, v)
    val (adds, dvs) = (manifestPaths(m, "add"), manifestPaths(m, "dv"))
    // current snapshot WITH positions (merge-on-read over accumulated DVs)
    val s = scan(spark, adds, dvs, positions = true)
    // LAZY snapshot relation: the DV write prunes to (file_path,
    // row_index, key) and the append prunes to the data columns — two
    // column-pruned parquet scans running CONCURRENTLY (guide §2.6 /
    // §6), where the r15 shape first paid a serialized localCheckpoint
    // job that materialized the WHOLE snapshot (every column) only for
    // the two writes to re-read it. At scale the checkpoint is also the
    // wrong call: block-manager-materializing a full snapshot per merge
    // step is O(table), the pruned scans are O(columns used). The KB
    // DV broadcast is rebuilt by each write — planner metadata, not a
    // scan.
    val upd = pmod(col("o_orderkey"), lit(pUpd)) === 0
    val del = pmod(col("o_orderkey"), lit(pDel)) === 0 && !upd
    val sData = s.drop("file_path", "row_index")
    // DV and append both project the one snapshot relation and land
    // in different directories — overlapped (guide §2.6)
    graft.Harness.inParallel(Seq(
      () => positionsOf(s.filter(upd || del))
        .write.mode("overwrite").parquet(s"$root/dv$step"),
      () => sData.filter(upd)
        .withColumn("o_totalprice", col("o_totalprice") + priceDelta)
        .unionByName(sData.filter(pmod(col("o_orderkey"), lit(pIns)) === 0)
          .select((col("o_orderkey") + shift).as("o_orderkey"),
            lit(status).as("o_orderstatus"), col("o_totalprice")))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/add$step")))
    s28Commit(spark, log, v + 1,
      adds.map(("add", _)) ++ listDataFiles(s"$root/add$step").map(("add", _))
        ++ dvs.map(("dv", _)) :+ (("dv", s"$root/dv$step")))
  }

  /** The MERGE chain's steps as (pDel, pUpd, priceDelta, pIns, shift,
    * status): delta-sized daily feeds (≤ ~15% of keys touched per step —
    * CDC deltas are small relative to the table; that is the premise the
    * incremental consumers exist for). */
  private val MergeChain = Seq(
    (5, 7, 1000.0, 13, 100000000L, "N"),
    (11, 9, 500.0, 17, 200000000L, "Q"),
    (23, 15, 250.0, 29, 400000000L, "R"))

  /** Build a MERGE-chain table under the scratch `name`: v0 = base
    * orders, then the first `steps` of [[MergeChain]] as successive
    * MERGE commits, each deriving its deletes/updates/inserts from the
    * snapshot the previous commit left (DVs accumulate across base and
    * earlier append files; inserted keys shift into disjoint ranges so
    * the chain stays key-unique). The s28 table is its first step, h15's
    * table all three. Returns the log path. */
  private[graft] def s28BuildSteps(spark: SparkSession, dir: String,
      name: String = "s28m_table", steps: Int = 3): String = {
    val root = Tables.scratchPath(name, dir)
    val log = s"$root/log"
    wipeLog(log)
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .repartition(4).write.mode("overwrite").parquet(s"$root/base")
    s28Commit(spark, log, 0,
      listDataFiles(s"$root/base").map(("add", _)))
    for (((pDel, pUpd, delta, pIns, shift, status), i) <-
        MergeChain.take(steps).zipWithIndex)
      s28MergeStep(spark, root, log, i + 1, pDel, pUpd, delta, pIns, shift, status)
    log
  }

  /** Memo for the 4-version multi-step table (consumers: h15, t31). */
  private val S28StepsMemo = logMemo(0 to 3)

  /** Memoized [[s28BuildSteps]] — what the registered consumers (h15,
    * t31) call; a composed pipeline builds its source table once. */
  private[graft] def s28StepsTable(spark: SparkSession, dir: String): String =
    S28StepsMemo.getOrCompute(dir)(s28BuildSteps(spark, dir))

  /** s28: CHANGE DATA FEED — the read-side leg that makes the lakehouse
    * an incremental pipeline source: "give me the row-level changes
    * between versions 0 and 1" answered from the commit log + DV
    * sidecars alone, with insert/delete/update_preimage/update_postimage
    * classification (Delta CDF / Iceberg changelog semantics). The
    * oracle restates all four change classes from the source relation,
    * so a pass proves the log-derived feed == the logical MERGE's
    * row-level diff; LakehouseSpec additionally pins snapshot(v0) ∘
    * applyCDF == snapshot(v1) row-for-row and that expired versions
    * refuse the feed with the retention contract named. */
  def s28(spark: SparkSession, dir: String): DataFrame = {
    val log = s28Table(spark, dir)
    s28Cdf(spark, log, 0, 1, "o_orderkey")
      .groupBy("change_type", "o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum("o_orderkey").cast("bigint").as("key_sum"),
        sum(Tables.dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("change_type", "o_orderstatus")
  }

  // ---------------------------------------------------------------- s29

  /** s29: EQUALITY DELETES — Iceberg's second delete form, composed with
    * s25's positional DVs (production tables carry BOTH: compactions and
    * position-aware writers emit positional deletes; streaming CDC
    * writers that never saw the base files emit equality deletes — rows
    * of VALUES resolved against the scan at read time). The base table
    * is never rewritten: one positional sidecar (l_quantity < 3 rows by
    * (file, row_index)) and one equality sidecar (the l_orderkey VALUES
    * where %19==0) are both anti-joined at read time — positional on
    * position, equality on the delete's own column set. Both sidecars
    * are delete-sized and broadcast, so the read stays one base scan +
    * two map-side probes. The query emits the survivors' stats plus both
    * deletion counts under the conservation law n_pos_del + n_eq_del +
    * survivors == base rows (n_eq_del counts rows the equality delete
    * removed that the positional one had not already); the oracle
    * restates everything as the logical DELETE, and LakehouseSpec pins
    * that the two sidecars compose order-independently. */
  def s29(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.scratchPath("s29_table", dir)
    // equality-delete sidecar: VALUES of the equality column set, the
    // form a position-blind CDC writer emits — it never reads the base
    // files, so it writes CONCURRENTLY with the base (guide §2.6); only
    // the positional DV (which references written positions) waits
    graft.Harness.inParallel(Seq(
      () => Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .repartition(4).write.mode("overwrite").parquet(s"$root/base"),
      () => Tables.lineitem(spark, dir)
        .filter(pmod(col("l_orderkey"), lit(19)) === 0)
        .select("l_orderkey").distinct()
        .write.mode("overwrite").parquet(s"$root/eq")))
    val base = scan(spark, Seq(s"$root/base"), positions = true)
    positionsOf(base.filter(col("l_quantity") < 3.0))
      .write.mode("overwrite").parquet(s"$root/dv")
    // both deletion counts ride ONE classification pass (left joins keep
    // every base row, flags mark which sidecar claimed it) and attach to
    // the survivors' aggregate as a broadcast 1-row frame — the counts
    // materialize inside the query's own job instead of two extra
    // driver-blocking count() jobs ahead of it
    val dvDf = scan(spark, Seq(s"$root/dv"))
    val eqDf = scan(spark, Seq(s"$root/eq"))
    val counts = base
      .join(broadcast(dvDf.withColumn("pos_del", lit(1))),
        Seq("file_path", "row_index"), "left")
      .join(broadcast(eqDf.withColumn("eq_del", lit(1))),
        Seq("l_orderkey"), "left")
      .agg(
        sum(when(col("pos_del") === 1, 1L).otherwise(0L)).as("n_pos_del"),
        sum(when(col("pos_del").isNull && col("eq_del") === 1, 1L)
          .otherwise(0L)).as("n_eq_del"))
    // mixed-sidecar merge-on-read: base minus the positional DV (on
    // position) minus the equality deletes (on the equality column set);
    // anti-joins commute, so the order is immaterial — LakehouseSpec pins
    // both orders equal
    scan(spark, Seq(s"$root/base"), Seq(s"$root/dv"))
      .join(broadcast(eqDf), Seq("l_orderkey"), "left_anti")
      .groupBy(col("l_quantity").cast("int").as("qty_band"))
      .agg(count(lit(1)).as("n_rows"),
        sum("l_orderkey").cast("bigint").as("key_sum"),
        sum(Tables.dec(col("l_extendedprice"))).cast("double").as("sum_price"))
      .crossJoin(broadcast(counts))
      .orderBy("qty_band")
  }

  // ---------------------------------------------------------------- s30

  /** file: URI (the `_metadata.file_path` form) → plain filesystem path
    * (the manifest/listDataFiles form), for cross-form membership checks.
    * `_metadata.file_path` is a Hadoop Path rendering, which does NOT
    * percent-encode every URI-reserved character (a space in a dir name
    * survives raw) — when java's strict URI parser rejects the string,
    * fall back to stripping the scheme/authority prefix textually so a
    * legal-but-unusual path never crashes the membership check. */
  private def asFsPath(p: String): String =
    if (!p.startsWith("file:")) p
    else
      try java.nio.file.Paths.get(java.net.URI.create(p)).toString
      catch {
        case _: IllegalArgumentException | _: java.nio.file.FileSystemNotFoundException =>
          p.stripPrefix("file:").replaceFirst("^//[^/]*", "")
      }

  /** The conflict VALIDATION a position-delete writer must run on retry:
    * the files its DV references that are NOT in the current snapshot
    * (a concurrent compaction rewrote them — the positions are
    * meaningless against the new files). Empty = safe to commit as-is;
    * non-empty = re-derive against the current snapshot. Manifest-only:
    * no data file is read. */
  private[graft] def s30StaleFiles(spark: SparkSession, log: String,
      dvPath: String): Seq[String] = {
    val current = manifestPaths(readManifest(log, s24Current(log)), "add")
      .map(asFsPath).toSet
    scan(spark, Seq(dvPath)).select("file_path").distinct()
      .collect().map(r => asFsPath(r.getString(0)))
      .filterNot(current).sorted.toIndexedSeq
  }

  /** s30: SNAPSHOT-ISOLATION CONFLICT DETECTION — the leg s24's blind
    * monoid merge cannot express: when a COMPACTION races a positional
    * DELETE, "retry = re-merge" would corrupt the table, because the
    * loser's DV references (file, row_index) positions in files the
    * winner REMOVED from the snapshot. This is exactly the conflict
    * Delta's commit validation / Iceberg's `validateDataFilesExist`
    * exists for. Scenario:
    *   v0  base, 4 files
    *   A   compacts the first two files into one range-clustered file;
    *       commits v1 (adds = {g, f3, f4})
    *   B   concurrently derived a predicate DV against v0 (positions in
    *       every base file); its blind v1 commit loses the pointer race,
    *       and the retry VALIDATES: DV-referenced files ∖ current adds =
    *       the two compacted files → stale → B re-runs its predicate
    *       against the CURRENT snapshot and commits the re-derived DV
    *       as v2. Positions in untouched files stay valid because data
    *       files are immutable — only removal from the snapshot, never
    *       content change, can invalidate a position.
    * The result is the final merge-on-read stats plus the protocol's
    * observables (final_version 2, conflicts 1, stale_files 2); the
    * oracle restates the logical DELETE (compaction is logically the
    * identity), so a pass proves revalidation re-found exactly the
    * right rows. Validation itself is manifest-only — KBs, no data
    * scan; the re-derivation reads the current snapshot once, the same
    * cost the delete would have paid had it started after the
    * compaction. */
  def s30(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.scratchPath("s30_table", dir)
    val log = s"$root/log"
    wipeLog(log)
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .repartition(4).write.mode("overwrite").parquet(s"$root/base")
    val v0Adds = listDataFiles(s"$root/base")
    s28Commit(spark, log, 0, v0Adds.map(("add", _)))
    val pred = pmod(col("o_orderkey"), lit(9)) === 0
    val (rewritten, untouched) = (v0Adds.take(2), v0Adds.drop(2))
    // B's v0-snapshot DV derivation and A's compaction are the RACING
    // writers of the scenario — genuinely concurrent work, run
    // concurrently (guide §2.6): B derives its positional DV against
    // the v0 snapshot it read while A rewrites the first two files
    graft.Harness.inParallel(Seq(
      () => positionsOf(scan(spark, v0Adds, positions = true).filter(pred))
        .write.mode("overwrite").parquet(s"$root/dv_b0"),
      () => scan(spark, rewritten)
        .repartitionByRange(1, col("o_orderkey"))
        .write.mode("overwrite").parquet(s"$root/compact")))
    val v1Adds = listDataFiles(s"$root/compact") ++ untouched
    s28Commit(spark, log, 1, v1Adds.map(("add", _)))
    // B's blind commit loses the race — the put-if-absent rejects it
    val conflicted = !s24TryCommit(log, 1,
      s28Payload(v0Adds.map(("add", _)) :+ (("dv", s"$root/dv_b0"))))
    require(conflicted, "B's stale commit must lose the v1 race")
    // retry path: validate, find the compacted files stale, re-derive
    val stale = s30StaleFiles(spark, log, s"$root/dv_b0")
    require(stale.nonEmpty, "the compaction must invalidate B's DV")
    positionsOf(scan(spark, v1Adds, positions = true).filter(pred))
      .write.mode("overwrite").parquet(s"$root/dv_b1")
    s28Commit(spark, log, 2,
      v1Adds.map(("add", _)) :+ (("dv", s"$root/dv_b1")))
    s28Snapshot(spark, log, 2)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum("o_orderkey").cast("bigint").as("key_sum"),
        sum(Tables.dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .withColumn("final_version", lit(2))
      .withColumn("conflicts", lit(1))
      .withColumn("stale_files", lit(stale.size))
      .orderBy("o_orderstatus")
  }

  // ---------------------------------------------------------------- s31

  /** True iff mPrev→mCur removes data files — a rewrite/compaction
    * commit (manifest-only test, no data read). */
  private[graft] def isRewrite(mPrev: Seq[(String, String)],
      mCur: Seq[(String, String)]): Boolean =
    !addPaths(mPrev).toSet.subsetOf(addPaths(mCur).toSet)

  /** A rewrite commit the feed may SKIP must be declared no-data-change:
    * every file it introduces carries kind 'addnc' (the writer's
    * dataChange=false declaration — Delta's OPTIMIZE contract) and it
    * adds no DV sidecars (a mixed rewrite+delete commit has no servable
    * per-commit feed). TRUST BOUNDARY (r14 ADVICE): these are
    * STRUCTURAL checks plus the writer's declaration — the same trust
    * model as Delta's dataChange=false. Nothing here re-reads the files
    * to prove the rewrite preserved rows; a dishonest external writer
    * could declare addnc on a data-changing commit and the walker would
    * skip it. Honesty is pinned only for IN-REPO writers (LakehouseSpec:
    * s31's compaction snapshot before == after, row-for-row). */
  private def requireNoDataChange(mPrev: Seq[(String, String)],
      mCur: Seq[(String, String)], v: Int): Unit = {
    val newFiles = addPaths(mCur).toSet -- addPaths(mPrev).toSet
    val ncCur = manifestPaths(mCur, "addnc").toSet
    // a commit that removes files WITHOUT replacements is a whole-file
    // DELETE — a data change the feed must not skip; without this the
    // two subset checks below pass vacuously on an empty newFiles and
    // the deletion would vanish from the feed silently
    require(newFiles.nonEmpty,
      s"commit $v removes data files without no-data-change replacements " +
        "— a whole-file delete is a data change; the feed cannot skip it " +
        "(express it as a DV commit, or diff snapshots)")
    require(newFiles.subsetOf(ncCur),
      s"commit $v removes data files but its new files are not all " +
        "declared no-data-change (addnc) — an undeclared rewrite has no " +
        "servable change feed; diff snapshots instead")
    require(manifestPaths(mCur, "dv").toSet
        .subsetOf(manifestPaths(mPrev, "dv").toSet),
      s"commit $v mixes a rewrite with new DV sidecars — not servable as " +
        "a skippable no-data-change commit; split the delete into its own " +
        "commit")
  }

  /** ROW-LINEAGE CHANGE DATA FEED — serves a window that CONTAINS a
    * rewrite/compaction commit, the case [[s28Cdf]] refuses. Two
    * ingredients (the Delta row-tracking / Iceberg row-lineage shape):
    *
    *   1. a physical `_row_id` column assigned ONCE at insert time and
    *      carried through every update and rewrite — UPDATE post-images
    *      keep their pre-image's id, a compaction rewrites rows ids-and-
    *      all — so change classification never needs a business key that
    *      survives file boundaries;
    *   2. rewrite commits are DECLARED no-data-change (their files carry
    *      manifest kind 'addnc', they add no DVs), so the walker can
    *      prove-and-skip them: the feed walks the window COMMIT BY
    *      COMMIT, emits each data-changing commit's [[cdfDiff]] tagged
    *      with its version, and contributes nothing for a rewrite —
    *      rewritten rows are correctly ABSENT from the feed.
    *
    * Each per-commit diff is monotone by construction (the walk never
    * spans the rewrite), so all of cdfDiff's delta-sized economics
    * survive: per commit the cost is that commit's new files + touched
    * pre-image files, never a snapshot scan. One OPTIMIZE no longer
    * blinds downstream consumers (h14/l66) — they read THROUGH it. */
  def s31Cdf(spark: SparkSession, log: String, vFrom: Int, vTo: Int,
      key: String): DataFrame = {
    require(vFrom < vTo, s"empty/backwards feed window $vFrom->$vTo")
    // the walk needs EVERY intermediate version's manifest — a vacuumed
    // one refuses inside readManifest with the retention contract named
    val manifests = (vFrom to vTo).map(v => v -> readManifest(log, v))
    val feeds = manifests.sliding(2).flatMap {
      case Seq((_, mP), (v, mC)) =>
        if (isRewrite(mP, mC)) { requireNoDataChange(mP, mC, v); None }
        else Some(cdfDiff(spark, mP, mC, key, s"${v - 1}->$v")
          .withColumn("commit_version", lit(v)))
      case _ => None
    }.toSeq
    if (feeds.isEmpty)
      snapshotOf(spark, manifests.last._2).limit(0)
        .withColumn("change_type", lit(""))
        .withColumn("commit_version", lit(0))
    else feeds.reduce(_ unionByName _)
  }

  /** Insert-time row-id epochs for the s31 table: disjoint ranges make
    * lineage classes visible in the oracled sums (base inserts, v1
    * inserts, v3 inserts), while staying restatable as key arithmetic. */
  private val RowIdBase = 3000000000L
  private val RowIdV1 = 6000000000L
  private val RowIdV3 = 9000000000L

  /** Build the s31 row-tracked table:
    *   v0  base orders, `_row_id` materialized (insert-time id)
    *   v1  MERGE (s28's shape): DV tombstones %5-deletes and %7-updates;
    *       the append carries post-images PRESERVING their `_row_id`
    *       plus %13-inserts with fresh ids
    *   v2  COMPACTION, dataChange=false: the whole live snapshot
    *       rewritten range-clustered into 2 'addnc' files, ids carried;
    *       old adds and the retired DV leave the manifest
    *   v3  MERGE against the compacted files: %11-deletes, %9-updates
    *       (+500), %17-inserts (fresh ids) — positions in the REWRITTEN
    *       files, pre-images recovered with their original row ids.
    * The MERGE steps are written here, not through [[s28MergeStep]]:
    * every row carries `_row_id` (post-images keep their insert-time id,
    * inserts mint one from the key), so the shared step would have to
    * branch on its caller. Returns the log path. */
  private[graft] def s31Build(spark: SparkSession, dir: String): String = {
    val root = Tables.scratchPath("s31_table", dir)
    val log = s"$root/log"
    wipeLog(log)
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        (col("o_orderkey") + RowIdBase).as("_row_id"))
    // v1's append derives from the source relation, not the written
    // base — it overlaps the base write (guide §2.6); only the DV
    // (positions in written files) waits for base
    val upd = pmod(col("o_orderkey"), lit(7)) === 0
    val del = pmod(col("o_orderkey"), lit(5)) === 0 && !upd
    graft.Harness.inParallel(Seq(
      () => orders.repartition(4).write.mode("overwrite")
        .parquet(s"$root/base"),
      () => orders.filter(upd)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .unionByName(orders.filter(pmod(col("o_orderkey"), lit(13)) === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            lit("N").as("o_orderstatus"), col("o_totalprice"),
            (col("o_orderkey") + 100000000L + RowIdV1).as("_row_id")))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/add1")))
    val baseAdds = listDataFiles(s"$root/base").map(("add", _))
    s28Commit(spark, log, 0, baseAdds)
    // v1 MERGE
    positionsOf(scan(spark, Seq(s"$root/base"), positions = true)
      .filter(upd || del))
      .write.mode("overwrite").parquet(s"$root/dv1")
    s28Commit(spark, log, 1,
      baseAdds ++ listDataFiles(s"$root/add1").map(("add", _))
        :+ (("dv", s"$root/dv1")))
    // v2 COMPACTION (dataChange=false): rewrite the live snapshot —
    // merge-on-read applied, row ids carried as ordinary column bytes
    s28Snapshot(spark, log, 1)
      .repartitionByRange(2, col("o_orderkey"))
      .write.mode("overwrite").parquet(s"$root/compact")
    val ncAdds = listDataFiles(s"$root/compact").map(("addnc", _))
    s28Commit(spark, log, 2, ncAdds)
    // v3 MERGE against the compacted files
    val upd2 = pmod(col("o_orderkey"), lit(9)) === 0
    val del2 = pmod(col("o_orderkey"), lit(11)) === 0 && !upd2
    val snap2 = scan(spark, Seq(s"$root/compact"), positions = true)
    // the v3 DV and append both read the compacted files and land in
    // different directories — overlapped (guide §2.6)
    graft.Harness.inParallel(Seq(
      () => positionsOf(snap2.filter(upd2 || del2))
        .write.mode("overwrite").parquet(s"$root/dv3"),
      () => snap2.drop("file_path", "row_index").filter(upd2)
        .withColumn("o_totalprice", col("o_totalprice") + 500.0)
        .unionByName(snap2.filter(pmod(col("o_orderkey"), lit(17)) === 0)
          .select((col("o_orderkey") + 200000000L).as("o_orderkey"),
            lit("Q").as("o_orderstatus"), col("o_totalprice"),
            (col("o_orderkey") + 200000000L + RowIdV3).as("_row_id")))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/add3")))
    s28Commit(spark, log, 3,
      ncAdds ++ listDataFiles(s"$root/add3").map(("add", _))
        :+ (("dv", s"$root/dv3")))
    log
  }

  /** Memo for the 4-version row-tracked table (consumers: s31, h16). */
  private val S31BuildMemo = logMemo(0 to 3)

  /** Memoized [[s31Build]] — what the registered consumers call. */
  private[graft] def s31Table(spark: SparkSession, dir: String): String =
    S31BuildMemo.getOrCompute(dir)(s31Build(spark, dir))

  /** s31: CHANGE FEED ACROSS A COMPACTION VIA ROW LINEAGE — the feed
    * window 0→3 CONTAINS the v2 rewrite s28Cdf refuses; the row-lineage
    * walk serves it: v1's and v3's row changes, each tagged with its
    * commit version, with the rewrite contributing nothing. Matching on
    * the carried `_row_id` (not a business key) classifies v3's updates
    * against pre-images read from REWRITTEN files — the lineage survived
    * the file boundary. The oracle restates both commits' change classes
    * relationally (v3's from the v1-table CTE, compaction being the
    * identity), with rowid_sum pinning id preservation: an update's
    * post-image sums with its INSERT-time id, never a fresh one.
    * LakehouseSpec additionally pins apply(feed) == snapshot(3) and that
    * s28Cdf still refuses this exact window. */
  def s31(spark: SparkSession, dir: String): DataFrame = {
    val log = s31Table(spark, dir)
    s31Cdf(spark, log, 0, 3, "_row_id")
      .groupBy("commit_version", "change_type", "o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum("o_orderkey").cast("bigint").as("key_sum"),
        sum("_row_id").cast("bigint").as("rowid_sum"),
        sum(Tables.dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("commit_version", "change_type", "o_orderstatus")
  }

  // ---------------------------------------------------------------- s32

  private def branchPtr(branch: String): String = s"branch-$branch.ptr"

  /** Stage a manifest under a BRANCH pointer — same atomic put-if-absent
    * as a version commit, but in a namespace main readers never plan
    * from (a branch pointer matches no v#####.ptr), so staged data is
    * invisible until published. One branch name = one staging slot; a
    * taken slot refuses (re-stage under a new name). */
  private[graft] def s32Stage(log: String, branch: String,
      entries: Seq[(String, String)]): Unit =
    require(s24TryCommitNamed(log, branchPtr(branch), s28Payload(entries)),
      s"branch '$branch' already staged in $log — use a fresh branch name")

  /** The staged branch's manifest (pointer IO only). */
  private[graft] def s32Branch(log: String,
      branch: String): Seq[(String, String)] = {
    val p = java.nio.file.Paths.get(log).resolve(branchPtr(branch))
    require(java.nio.file.Files.exists(p),
      s"branch '$branch' was never staged in $log")
    parseManifest(p, s"branch '$branch' of $log")
  }

  /** The AUDIT: l22's constraint suite evaluated over a staged snapshot
    * (completeness, key uniqueness, cross-field consistency, domain
    * membership) — ONE aggregation over the staged table collapsing to a
    * 1-row fetch, regardless of check count. Returns each check's pass
    * flag; publish gates on all of them. */
  private[graft] def s32Audit(spark: SparkSession,
      m: Seq[(String, String)]): Seq[(String, Boolean)] = {
    val row = snapshotOf(spark, m).agg(
      count(lit(1)).as("n"),
      // coalesce: sums are NULL over an EMPTY staged snapshot, and the
      // audit must fail its checks cleanly (n_x 0 ≠ n) instead of
      // crashing getLong with an opaque NPE (r14 ADVICE finding)
      coalesce(sum((col("text").isNotNull && length(col("text")) > 0)
        .cast("long")), lit(0L)).as("n_nonempty"),
      countDistinct(col("doc_id")).as("n_ids"),
      coalesce(sum((col("n_chars") === length(col("text"))).cast("long")),
        lit(0L)).as("n_consistent"),
      coalesce(sum(col("lang").isin("en", "de", "fr", "es", "it", "zh")
        .cast("long")), lit(0L)).as("n_lang"))
      .collect()(0) // 1-row audit fetch
    val n = row.getLong(0)
    // an EMPTY staged snapshot has nothing to publish — refuse with the
    // contract named rather than passing four vacuous 0==0 checks
    require(n > 0, "staged branch snapshot is empty — nothing to audit " +
      "or publish; stage a non-empty manifest")
    Seq("completeness_text" -> (row.getLong(1) == n),
      "uniqueness_doc_id" -> (row.getLong(2) == n),
      "consistency_n_chars" -> (row.getLong(3) == n),
      "domain_lang" -> (row.getLong(4) == n))
  }

  /** PUBLISH: commit the audited branch manifest as main's next version —
    * one atomic put-if-absent of the version pointer carrying the SAME
    * manifest payload; zero data movement (the staged files are already
    * in place, only the pointer makes them visible). False = lost a
    * concurrent-publish race; the caller re-reads main and re-audits
    * against the new base before retrying (LakehouseSpec pins the race). */
  private[graft] def s32Publish(spark: SparkSession, log: String,
      branch: String): Boolean = {
    val m = s32Branch(log, branch)
    require(s32Audit(spark, m).forall(_._2),
      s"branch '$branch' failed its audit — refusing to publish")
    s24TryCommit(log, s24Current(log) + 1, s28Payload(m))
  }

  /** s32: WRITE-AUDIT-PUBLISH — the production commit pattern s24's
    * linear log lacks: new data is committed to a BRANCH pointer first,
    * a constraint audit (l22's suite) runs against the staged snapshot,
    * and only a passing audit publishes — one atomic pointer swap making
    * the already-written files visible on main (Iceberg's WAP / Delta's
    * staging-table pattern). A failing audit leaves main bit-identical:
    * the bad files exist on disk but NO main version references them
    * (s22's vacuum owns them). Scenario: batch A arrives with corrupted
    * language codes → its audit fails on domain_lang → main stays at v0;
    * batch B arrives intact → audit passes → published as v1. The result
    * is main's published snapshot per language plus the protocol's
    * observables (audits_failed 1, published_version 1); the oracle
    * restates the published table from the source (base ∪ good batch ==
    * the whole documents table), so a pass proves the failed audit
    * leaked nothing and the publish lost nothing. Audit cost: one scan
    * of the staged snapshot collapsing to one row — at 100 TB the gate
    * is a single map-side-combinable aggregate, and publish is O(1). */
  def s32(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.scratchPath("s32_table", dir)
    val log = s"$root/log"
    wipeLog(log)
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "lang", "text", "n_chars")
    // the base table and both ingest batches derive from the source
    // relation and land in different directories — three independent
    // writes, overlapped (guide §2.6); the stage/audit/publish protocol
    // stays strictly ordered below (pointer IO + 1-row audit fetches)
    graft.Harness.inParallel(Seq(
      () => docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
        .repartition(2).write.mode("overwrite").parquet(s"$root/base"),
      // batch A: the %3 cohort with every 6th doc's language corrupted —
      // the upstream-bug class the audit exists to catch
      () => docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .withColumn("lang", when(pmod(col("doc_id"), lit(6)) === 0, lit("zz"))
          .otherwise(col("lang")))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/batchA"),
      // batch B: the same cohort intact, staged on a fresh branch
      () => docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .coalesce(1).write.mode("overwrite").parquet(s"$root/batchB")))
    val baseAdds = listDataFiles(s"$root/base").map(("add", _))
    s28Commit(spark, log, 0, baseAdds)
    s32Stage(log, "ingest-a",
      baseAdds ++ listDataFiles(s"$root/batchA").map(("add", _)))
    val auditA = s32Audit(spark, s32Branch(log, "ingest-a"))
    require(!auditA.forall(_._2), "the corrupted batch must fail its audit")
    require(s24Current(log) == 0, "a failed audit must leave main at v0")
    s32Stage(log, "ingest-b",
      baseAdds ++ listDataFiles(s"$root/batchB").map(("add", _)))
    require(s32Publish(spark, log, "ingest-b"), "publish must win v1")
    s28Snapshot(spark, log, 1)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("bigint").as("chars_sum"))
      .withColumn("audits_failed", lit(1))
      .withColumn("published_version", lit(1))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------- s33

  /** The mf1 inline manifest is O(table files) PER COMMIT — fine at the
    * tested scale, but a 100 TB table with 10⁶ files would write a ~100
    * MB pointer per commit. The ACTION LOG is the long-log answer (the
    * Delta _delta_log shape): each commit's pointer carries only its
    * ACTIONS ('al1' payload: add / rm / dv / rmdv lines — delta-sized,
    * KBs), and every Nth commit also writes a CHECKPOINT file (the full
    * mf1 manifest) beside its pointer. Reconstructing version v = parse
    * the newest checkpoint ≤ v + replay ≤N action commits — never the
    * whole history, never a table-sized pointer write. */
  private def ckptName(v: Int): String = f"v$v%05d.ckpt"

  /** Commit `actions` as `version` of an action log; when `checkpoint`
    * is set (the writer's every-Nth-commit duty), also persist the full
    * manifest as this version's checkpoint file. The pointer commit is
    * the same atomic put-if-absent as mf1's; the checkpoint write is
    * idempotent bookkeeping AFTER the won commit (a crash between the
    * two costs a longer replay, never correctness — readers only probe
    * checkpoints that exist). */
  private[graft] def s33Commit(log: String, version: Int,
      actions: Seq[(String, String)],
      checkpoint: Option[Seq[(String, String)]]): Unit = {
    require(s24TryCommitNamed(log, ptrName(version),
      "al1\n" + actions.map { case (a, p) => s"$a\t$p" }.mkString("\n")),
      s"version $version must commit (stale log? wipe $log before rebuild)")
    checkpoint.foreach { m =>
      s24TryCommitNamed(log, ckptName(version), s28Payload(m)); ()
    }
  }

  /** The action lines of one committed version. */
  private[graft] def readActions(log: String,
      version: Int): Seq[(String, String)] = {
    val p = java.nio.file.Paths.get(log).resolve(ptrName(version))
    require(java.nio.file.Files.exists(p),
      s"version $version is expired or was never committed — not readable")
    val payload = new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)
    require(payload.startsWith("al1\n"),
      s"version $version of $log is not an action-log commit")
    payload.split('\n').drop(1).toIndexedSeq.map { line =>
      val i = line.indexOf('\t')
      (line.substring(0, i), line.substring(i + 1))
    }
  }

  /** Fold one commit's actions into a manifest: add/dv append entries,
    * rm/rmdv retract them (rm retracts add AND addnc spellings). */
  private def applyActions(m: Seq[(String, String)],
      actions: Seq[(String, String)]): Seq[(String, String)] =
    actions.foldLeft(m) {
      case (acc, ("add", p)) => acc :+ (("add", p))
      case (acc, ("dv", p)) => acc :+ (("dv", p))
      case (acc, ("rm", p)) =>
        acc.filterNot(e => (e._1 == "add" || e._1 == "addnc") && e._2 == p)
      case (acc, ("rmdv", p)) => acc.filterNot(e => e._1 == "dv" && e._2 == p)
      case (_, (a, p)) =>
        sys.error(s"unknown action-log action '$a' for $p")
    }

  /** MANIFEST AT `version` of an action log: newest checkpoint ≤ version
    * (file-existence probes, pointer IO) + replay of the ≤interval action
    * commits after it. A version whose covering checkpoint AND
    * intermediate pointers were expired refuses with the retention
    * contract named — exactly the vacuum story: truncating the log below
    * a checkpoint expires only pre-checkpoint TIME TRAVEL, never the
    * present. */
  private[graft] def s33Manifest(log: String,
      version: Int): Seq[(String, String)] = {
    val dir = java.nio.file.Paths.get(log)
    val ck = (version to 0 by -1).find(v =>
      java.nio.file.Files.exists(dir.resolve(ckptName(v))))
    // no covering checkpoint (a young log, or a version before the first
    // checkpoint): full replay from the origin — valid only while the
    // v0 pointer survives; a truncated prefix refuses with the retention
    // contract named
    var m = ck match {
      case Some(c) => parseManifest(dir.resolve(ckptName(c)),
        s"checkpoint $c of $log")
      case None =>
        require(java.nio.file.Files.exists(dir.resolve(ptrName(0))),
          s"version $version of $log is expired — no covering checkpoint " +
            "survives and the log was truncated past its origin; not readable")
        Seq.empty[(String, String)]
    }
    for (v <- ck.map(_ + 1).getOrElse(0) to version)
      m = applyActions(m, readActions(log, v))
    m
  }

  /** s33: ACTION LOG + CHECKPOINT REPLAY — ten commits whose pointers
    * carry only their own deltas (appends, one compaction as rm+add, one
    * positional DELETE as a dv action), checkpoints at v3 and v7; the
    * query reads the table at the HEAD (checkpoint 7 + two replays) and
    * at historical v5 (checkpoint 3 + two replays), proving replayed
    * reconstruction == the logical table at both points. The oracle
    * restates both phases relationally (the compaction is the identity;
    * the head excludes the DV'd rows). LakehouseSpec additionally pins
    * snapshot == expectation at EVERY version, commit-payload bytes ≪
    * checkpoint bytes, log truncation below the newest checkpoint
    * leaving the head readable while expired versions refuse, and
    * cdfDiff composing over replayed manifests (monotone windows serve,
    * the rewrite window refuses). */
  /** Build the 10-commit action-log table under the given scratch name
    * (s33 and s34 each own a root — s34's vacuum DELETES files):
    * v0..v6 chunk appends, v7 compaction of chunks 0-2 (rm+add), v8 a
    * positional DELETE (dv action), v9 one more append; checkpoints at
    * v3 and v7. Returns the log path. */
  private[graft] def s33Build(spark: SparkSession, dir: String,
      name: String): String = {
    val root = Tables.scratchPath(name, dir)
    val log = s"$root/log"
    wipeLog(log)
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
    var manifest = Seq.empty[(String, String)]
    def commit(v: Int, actions: Seq[(String, String)]): Unit = {
      manifest = applyActions(manifest, actions)
      s33Commit(log, v, actions,
        if (v == 3 || v == 7) Some(manifest) else None)
    }
    // Data-file writes first, pointer commits after: a commit is O(µs)
    // driver-side pointer IO whose ORDER matters, but the chunk files
    // are eight INDEPENDENT writes into eight directories — they run
    // concurrently (guide §2.6) instead of serializing eight scan+write
    // jobs. v9's chunk7 is also independent of the v7 compaction and
    // rides the same pool. The log's committed bytes are unchanged:
    // same actions, same order, same checkpoint contents.
    graft.Harness.inParallel((0 to 7).map { i => () =>
      li.filter(pmod(col("l_orderkey"), lit(10)) === i)
        .coalesce(1).write.mode("overwrite").parquet(s"$root/chunk$i")
    })
    // v7's COMPACTION reads chunks 0-2, so it runs after the fan-out
    val rewritten = (0 to 2).flatMap(i => listDataFiles(s"$root/chunk$i"))
    scan(spark, rewritten)
      .repartitionByRange(1, col("l_orderkey"))
      .write.mode("overwrite").parquet(s"$root/compact012")
    // v8: positional DELETE in the compacted file (quantity < 2)
    positionsOf(scan(spark, listDataFiles(s"$root/compact012"), positions = true)
      .filter(col("l_quantity") < 2.0))
      .write.mode("overwrite").parquet(s"$root/dv8")
    // pointer commits, in version order (driver-side, no Spark jobs):
    // v0..v6 chunk appends, v7 compaction (rm+add), v8 the DV, v9 append
    for (i <- 0 to 6)
      commit(i, listDataFiles(s"$root/chunk$i").map(("add", _)))
    commit(7, rewritten.map(("rm", _))
      ++ listDataFiles(s"$root/compact012").map(("add", _)))
    commit(8, Seq(("dv", s"$root/dv8")))
    commit(9, listDataFiles(s"$root/chunk7").map(("add", _)))
    log
  }

  private def s33Stats(df: DataFrame, phase: String): DataFrame = df
    .groupBy("ship_month")
    .agg(count(lit(1)).as("n_rows"),
      sum("l_orderkey").cast("bigint").as("key_sum"),
      min("l_extendedprice").as("min_price"),
      max("l_extendedprice").as("max_price"))
    .withColumn("phase", lit(phase))

  def s33(spark: SparkSession, dir: String): DataFrame = {
    val log = s33Build(spark, dir, "s33_table")
    s33Stats(snapshotOf(spark, s33Manifest(log, 9)), "head")
      .unionByName(s33Stats(snapshotOf(spark, s33Manifest(log, 5)), "v5"))
      .select("phase", "ship_month", "n_rows", "key_sum",
        "min_price", "max_price")
      .orderBy("phase", "ship_month")
  }

  // ---------------------------------------------------------------- s34

  /** VACUUM for the action log — s22's retention set-algebra applied to
    * the pointer-log family, with the checkpoint subtlety real formats
    * handle: retained versions may replay from a checkpoint BELOW the
    * retention boundary, so the vacuum first MATERIALIZES a checkpoint
    * at `retainFrom` (from the replayed manifest — pointer IO), then
    * expires every pointer/checkpoint below it and physically deletes
    * every data/DV file no retained version references (executor-side,
    * s22Vacuum verbatim — at 100 TB a distributed object-store delete).
    * Returns (data files deleted, pointer files expired). Retained reads
    * are untouched by construction; expired versions refuse with the
    * retention contract named. */
  private[graft] def s34Vacuum(spark: SparkSession, log: String,
      retainFrom: Int): (Long, Long) = {
    val head = s24Current(log)
    require(retainFrom >= 0 && retainFrom <= head,
      s"retainFrom $retainFrom outside the log's committed range 0..$head")
    val dir = java.nio.file.Paths.get(log)
    // 1. checkpoint the retention boundary, so no retained replay ever
    //    needs an expired pointer
    if (!java.nio.file.Files.exists(dir.resolve(ckptName(retainFrom)))) {
      s24TryCommitNamed(log, ckptName(retainFrom),
        s28Payload(s33Manifest(log, retainFrom)))
      ()
    }
    // 2. gather (version, file) reference rows for every readable version
    //    (planner metadata) BEFORE any expiry — the expired manifests are
    //    the only record of what they referenced. An already-expired
    //    version below the boundary is lawful (a previous partial vacuum);
    //    a RETAINED version that fails to replay is corruption and must
    //    propagate loudly, never read as "references nothing" (which
    //    would mis-compute its files as deletable).
    import spark.implicits._
    def filesOf(v: Int): Seq[String] = {
      val m = s33Manifest(log, v)
      addPaths(m) ++ manifestPaths(m, "dv").flatMap(listDataFiles)
    }
    val rows = (0 to head).flatMap { v =>
      if (v >= retainFrom) filesOf(v).map((v, _))
      else
        try filesOf(v).map((v, _))
        catch { case _: IllegalArgumentException => Seq.empty } // pre-expired
    }
    // 3. expire the pointers and superseded checkpoints below the
    //    boundary FIRST, so no reader can resolve a version whose data
    //    files are about to disappear — expired versions refuse with the
    //    retention contract named, never a scan-time file-not-found. A
    //    crash between this step and the delete below leaks orphaned
    //    files (re-claimable by a listing GC), never a broken read.
    var nPtr = 0L
    for (v <- 0 until retainFrom; n <- Seq(ptrName(v), ckptName(v)))
      if (java.nio.file.Files.deleteIfExists(dir.resolve(n))) nPtr += 1
    // 4. physically delete referenced(expired) \ referenced(retained)
    val (_, nData) = s22Vacuum(spark, rows.toDF("snapshot", "path"), retainFrom)
    (nData, nPtr)
  }

  /** s34: LOG RETENTION + VACUUM — the lifecycle close of the action-log
    * family (Delta VACUUM + log cleanup on _delta_log): after vacuuming
    * the 10-commit s33-shaped table with retention at v8, the three
    * pre-compaction chunk files (referenced only by expired versions)
    * are physically gone, the ten expired pointer files (v0-v7 pointers
    * + the v3/v7 checkpoints, both superseded by the new v8 boundary
    * checkpoint) are expired, the head reads byte-identically, and a
    * pre-retention version refuses. The oracle restates the head (chunks
    * 0-7 minus the DV'd rows) plus the three deterministic observables;
    * LakehouseSpec pins the filesystem walk (deleted ∩ retained = ∅ and
    * nothing expired survives), byte-identity pre/post, idempotence
    * (rerun deletes nothing), and the feed still composing on retained
    * windows. */
  def s34(spark: SparkSession, dir: String): DataFrame = {
    val log = s33Build(spark, dir, "s34_table")
    val (nData, nPtr) = s34Vacuum(spark, log, retainFrom = 8)
    val refused =
      try { s33Manifest(log, 5); 0 }
      catch { case _: IllegalArgumentException => 1 }
    s33Stats(snapshotOf(spark, s33Manifest(log, 9)), "head")
      .drop("phase")
      .withColumn("n_data_deleted", lit(nData))
      .withColumn("n_ptr_expired", lit(nPtr))
      .withColumn("expired_refuses", lit(refused))
      .orderBy("ship_month")
  }

  // ------------------------------------------------------------ registry

  // every lakehouse lifecycle query commits real files (def: the queries
  // map is declared below — a val here would read it before init)
  override def sinkQueries: Set[String] = queries.keySet

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s22_vacuum" -> s22,
    "s23_compact_manifest" -> s23,
    "s24_concurrent_commit" -> s24,
    "s25_delete_vectors" -> s25,
    "s26_partition_evolution" -> s26,
    "s27_merge_upsert" -> s27,
    "s28_change_data_feed" -> s28,
    "s29_equality_deletes" -> s29,
    "s30_conflict_detection" -> s30,
    "s31_row_lineage_cdf" -> s31,
    "s32_wap_branch" -> s32,
    "s33_action_log" -> s33,
    "s34_log_vacuum" -> s34)

  val oracles: Map[String, String] = Map(
    // s22: snapshot 3 (the compaction rewrite) holds the WHOLE table, so
    // both phases' stats are the full-table recompute; the data-file
    // counts are the layout contract (4+2+3 files pre, 3 post) — the
    // physical-deletion witness lives in the oracled result itself
    "s22_vacuum" ->
      """WITH li AS (
        |  SELECT l_orderkey, strftime(l_shipdate, '%Y-%m') AS ship_month,
        |         l_extendedprice
        |  FROM lineitem),
        |s AS (
        |  SELECT ship_month, COUNT(*) AS n_rows,
        |         CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
        |         MIN(l_extendedprice) AS min_price,
        |         MAX(l_extendedprice) AS max_price
        |  FROM li GROUP BY ship_month)
        |SELECT 'post' AS phase, ship_month, n_rows, key_sum, min_price,
        |       max_price, CAST(3 AS BIGINT) AS n_data_files FROM s
        |UNION ALL
        |SELECT 'pre', ship_month, n_rows, key_sum, min_price, max_price,
        |       CAST(9 AS BIGINT) FROM s
        |ORDER BY phase, ship_month""".stripMargin,
    // s23: every stat recomputed from the source table — equality proves
    // the incrementally-maintained manifest == a from-scratch rebuild;
    // n_files is 1 for compacted (1997) months and the fragment-group
    // count (distinct l_orderkey%4 values present) elsewhere
    "s23_compact_manifest" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |       CAST(CASE WHEN strftime(l_shipdate, '%Y-%m') LIKE '1997%'
        |                 THEN 1 ELSE COUNT(DISTINCT l_orderkey % 4)
        |            END AS BIGINT) AS n_files,
        |       COUNT(*) AS n_rows,
        |       MIN(l_orderkey) AS min_orderkey,
        |       MAX(l_orderkey) AS max_orderkey,
        |       MIN(l_extendedprice) AS min_price,
        |       MAX(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // s24: the final manifest is the full-table stats (base ⊎ A ⊎ B with
    // nothing lost or double-applied across the conflict), committed as
    // v2 after exactly one rejected race
    "s24_concurrent_commit" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |       COUNT(*) AS n_rows,
        |       MIN(l_extendedprice) AS min_price,
        |       MAX(l_extendedprice) AS max_price,
        |       2 AS final_version, 1 AS conflicts
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // s25: both read paths restated as the SAME logical DELETE — the
    // surviving rows' stats, banded by integer quantity; n_deleted is
    // the predicate's row count
    "s25_delete_vectors" ->
      """WITH kept AS (
        |  SELECT * FROM lineitem
        |  WHERE NOT (l_quantity < 5.0 OR l_orderkey % 97 = 0)),
        |del AS (
        |  SELECT COUNT(*) AS n_deleted FROM lineitem
        |  WHERE l_quantity < 5.0 OR l_orderkey % 97 = 0),
        |s AS (
        |  SELECT CAST(l_quantity AS INTEGER) AS qty_band, COUNT(*) AS n_rows,
        |         CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
        |  FROM kept GROUP BY 1)
        |SELECT 'cow' AS phase, qty_band, n_rows, key_sum, sum_price,
        |       del.n_deleted
        |FROM s, del
        |UNION ALL
        |SELECT 'mor', qty_band, n_rows, key_sum, sum_price, del.n_deleted
        |FROM s, del
        |ORDER BY phase, qty_band""".stripMargin,
    // s26: the cross-spec window restated from the source table —
    // equality proves the two partition-spec generations compose to
    // exactly the logical table
    "s26_partition_evolution" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |       COUNT(*) AS n_rows,
        |       CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
        |       MIN(l_extendedprice) AS min_price,
        |       MAX(l_extendedprice) AS max_price
        |FROM lineitem
        |WHERE strftime(l_shipdate, '%Y-%m') BETWEEN '1995-10' AND '1996-03'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // s27: the logical MERGE restated relationally — unmatched base rows,
    // updated versions of matched keys, inserted new keys; double adds
    // are IEEE-identical across engines, sums accumulate in DECIMAL
    "s27_merge_upsert" ->
      """WITH merged AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 7 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, 'N', o_totalprice
        |  FROM orders WHERE o_orderkey % 13 = 0)
        |SELECT o_orderstatus, COUNT(*) AS n_rows,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    // s28: all four change classes restated from the source relation —
    // deletes are the %5 keys not also updated, updates carry both their
    // pre- and post-image (price +1000.0, IEEE-identical across engines),
    // inserts are the shifted %13 keys; equality proves the log-derived
    // feed == the logical MERGE's row-level diff
    "s28_change_data_feed" ->
      """WITH chg AS (
        |  SELECT 'delete' AS change_type, o_orderstatus, o_orderkey,
        |         o_totalprice
        |  FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
        |  UNION ALL
        |  SELECT 'update_preimage', o_orderstatus, o_orderkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT 'update_postimage', o_orderstatus, o_orderkey,
        |         o_totalprice + 1000.0
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT 'insert', 'N', o_orderkey + 100000000, o_totalprice
        |  FROM orders WHERE o_orderkey % 13 = 0)
        |SELECT change_type, o_orderstatus, COUNT(*) AS n_rows,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
        |FROM chg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // s29: survivors = NOT(either delete); n_pos_del = the positional
    // predicate's rows, n_eq_del = equality-deleted rows the positional
    // sidecar had not already tombstoned — the conservation law
    // n_pos + n_eq + survivors == base is checkable in the result itself
    "s29_equality_deletes" ->
      """WITH pos AS (
        |  SELECT COUNT(*) AS n_pos FROM lineitem WHERE l_quantity < 3.0),
        |eq AS (
        |  SELECT COUNT(*) AS n_eq FROM lineitem
        |  WHERE NOT l_quantity < 3.0 AND l_orderkey % 19 = 0),
        |kept AS (
        |  SELECT * FROM lineitem
        |  WHERE NOT l_quantity < 3.0 AND l_orderkey % 19 <> 0)
        |SELECT CAST(l_quantity AS INTEGER) AS qty_band, COUNT(*) AS n_rows,
        |       CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price,
        |       pos.n_pos AS n_pos_del, eq.n_eq AS n_eq_del
        |FROM kept, pos, eq
        |GROUP BY 1, pos.n_pos, eq.n_eq ORDER BY 1""".stripMargin,
    // s30: compaction is logically the identity, so the final table is
    // just the logical DELETE — equality proves the revalidated DV
    // re-found exactly the rows B originally meant to delete. The
    // observables pin the protocol: one rejected race, the two
    // compacted files detected stale, final version 2
    "s30_conflict_detection" ->
      """SELECT o_orderstatus, COUNT(*) AS n_rows,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price,
        |       2 AS final_version, 1 AS conflicts, 2 AS stale_files
        |FROM orders WHERE o_orderkey % 9 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // s31: both data-changing commits restated relationally — commit 1's
    // classes from the base table (s28's oracle with row ids), commit 3's
    // from the v1 CTE (the compaction at v2 is logically the identity and
    // must contribute NOTHING). rowid_sum pins lineage: every pre/post
    // image carries its INSERT-time id (base rows key+3e9, v1 inserts
    // key'+6e9, v3 inserts key''+9e9) — a feed that re-minted ids after
    // the rewrite, or misclassified updates as delete+insert, hash-fails.
    // Price chains apply the same IEEE adds in per-row order both engines.
    "s31_row_lineage_cdf" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |         o_orderkey + 3000000000 AS row_id
        |  FROM orders WHERE o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0,
        |         o_orderkey + 3000000000
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, 'N', o_totalprice,
        |         o_orderkey + 100000000 + 6000000000
        |  FROM orders WHERE o_orderkey % 13 = 0),
        |chg AS (
        |  SELECT 1 AS commit_version, 'delete' AS change_type,
        |         o_orderstatus, o_orderkey,
        |         o_orderkey + 3000000000 AS row_id, o_totalprice
        |  FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
        |  UNION ALL
        |  SELECT 1, 'update_preimage', o_orderstatus, o_orderkey,
        |         o_orderkey + 3000000000, o_totalprice
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT 1, 'update_postimage', o_orderstatus, o_orderkey,
        |         o_orderkey + 3000000000, o_totalprice + 1000.0
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT 1, 'insert', 'N', o_orderkey + 100000000,
        |         o_orderkey + 100000000 + 6000000000, o_totalprice
        |  FROM orders WHERE o_orderkey % 13 = 0
        |  UNION ALL
        |  SELECT 3, 'delete', o_orderstatus, o_orderkey, row_id, o_totalprice
        |  FROM v1 WHERE o_orderkey % 11 = 0 AND o_orderkey % 9 <> 0
        |  UNION ALL
        |  SELECT 3, 'update_preimage', o_orderstatus, o_orderkey, row_id,
        |         o_totalprice
        |  FROM v1 WHERE o_orderkey % 9 = 0
        |  UNION ALL
        |  SELECT 3, 'update_postimage', o_orderstatus, o_orderkey, row_id,
        |         o_totalprice + 500.0
        |  FROM v1 WHERE o_orderkey % 9 = 0
        |  UNION ALL
        |  SELECT 3, 'insert', 'Q', o_orderkey + 200000000,
        |         o_orderkey + 200000000 + 9000000000, o_totalprice
        |  FROM v1 WHERE o_orderkey % 17 = 0)
        |SELECT commit_version, change_type, o_orderstatus,
        |       COUNT(*) AS n_rows,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |       CAST(SUM(row_id) AS BIGINT) AS rowid_sum,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
        |FROM chg GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // s32: the published table == base ∪ the GOOD batch == the whole
    // documents table (the corrupted batch reached disk but never a main
    // version) — per-language stats prove the failed audit leaked nothing
    // and the atomic publish lost nothing; the observables pin one failed
    // audit and the publish landing at v1
    "s32_wap_branch" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
        |       1 AS audits_failed, 1 AS published_version
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // s33: both replayed reconstructions restated relationally — the head
    // (checkpoint 7 + two action replays) is chunks 0-7 minus the DV'd
    // rows (quantity < 2 within the compacted chunks 0-2; the compaction
    // itself is the identity); historical v5 (checkpoint 3 + two replays)
    // is chunks 0-5 untouched
    "s33_action_log" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_quantity, l_extendedprice,
        |         strftime(l_shipdate, '%Y-%m') AS ship_month
        |  FROM lineitem),
        |head AS (
        |  SELECT * FROM li WHERE l_orderkey % 10 <= 7
        |    AND NOT (l_quantity < 2.0 AND l_orderkey % 10 <= 2)),
        |v5 AS (
        |  SELECT * FROM li WHERE l_orderkey % 10 <= 5)
        |SELECT 'head' AS phase, ship_month, COUNT(*) AS n_rows,
        |       CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
        |       MIN(l_extendedprice) AS min_price,
        |       MAX(l_extendedprice) AS max_price
        |FROM head GROUP BY 2
        |UNION ALL
        |SELECT 'v5', ship_month, COUNT(*),
        |       CAST(SUM(l_orderkey) AS BIGINT),
        |       MIN(l_extendedprice), MAX(l_extendedprice)
        |FROM v5 GROUP BY 2
        |ORDER BY 1, 2""".stripMargin,
    // s34: the post-vacuum head == s33's head phase (retention must not
    // move a retained byte); the observables are layout constants — 3
    // pre-compaction chunk files deleted (each chunk lands as one file;
    // only chunks 0-2 lose their last reference at retainFrom=8), 10
    // pointer files expired (v0-v7 pointers + the v3 and v7 checkpoints,
    // superseded by the materialized v8 boundary checkpoint), and the
    // pre-retention version refusing
    "s34_log_vacuum" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |       COUNT(*) AS n_rows,
        |       CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
        |       MIN(l_extendedprice) AS min_price,
        |       MAX(l_extendedprice) AS max_price,
        |       3 AS n_data_deleted, 10 AS n_ptr_expired,
        |       1 AS expired_refuses
        |FROM lineitem
        |WHERE l_orderkey % 10 <= 7
        |  AND NOT (l_quantity < 2.0 AND l_orderkey % 10 <= 2)
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}
