package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** s22 vacuum (retention set-algebra + physical deletion), s23
  * compaction↔manifest consistency, s24 optimistic concurrent commit.
  * The three compose: s23's superseded fragments are exactly what
  * s22Vacuum must delete without touching a retained read.
  */
class LakehouseSpec extends SparkSuite {

  private def asPath(u: String): String =
    if (u.startsWith("file:")) new java.net.URI(u).getPath else u

  test("s22: vacuum deletes exactly the unreferenced files; retained snapshot " +
      "byte-identical; expired snapshot unreadable; idempotent") {
    val manifest = operators.Lakehouse.s22Commit(spark, sf)
    val snap3 = manifest.filter(col("snapshot") === 3)
      .select("path").collect().map(r => asPath(r.getString(0))).toSet
    val snap1n = operators.Lakehouse.s22AsOf(spark, manifest, 1).count()
    val pre3 = Tables.orderAll(operators.Lakehouse.s22AsOf(spark, manifest, 3))
      .collect()
    assert(snap1n > 0 && pre3.nonEmpty)
    val (pruned, deleted) = operators.Lakehouse.s22Vacuum(spark, manifest, 3)
    // layout contract: 4 + 2 files expired, 3 retained
    assert(deleted === 6L, s"expected 6 deleted files, got $deleted")
    // filesystem walk: remaining data files == snapshot-3's set exactly,
    // i.e. deleted ∩ referenced-by-retained = ∅ and nothing expired survives
    val root = Tables.scratchPath("s22_table", sf)
    val onDisk = (1 to 3).flatMap { c =>
      val d = new java.io.File(s"$root/commit=$c")
      if (d.isDirectory)
        d.listFiles().map(_.getPath).filter(p =>
          p.endsWith(".parquet") && !p.split('/').last.startsWith("_"))
      else Array.empty[String]
    }.toSet
    assert(onDisk === snap3, s"disk after vacuum must be exactly snapshot 3: " +
      s"extra=${onDisk.diff(snap3).take(3)} missing=${snap3.diff(onDisk).take(3)}")
    // the retained snapshot reads byte-identically post-vacuum
    val post3 = Tables.orderAll(operators.Lakehouse.s22AsOf(spark, pruned, 3))
      .collect()
    assert(post3.toSeq === pre3.toSeq)
    // the expired snapshot fails with the retention contract named
    val ex = intercept[IllegalArgumentException] {
      operators.Lakehouse.s22AsOf(spark, pruned, 1)
    }
    assert(ex.getMessage.contains("expired"))
    // vacuum is idempotent: nothing left to delete
    val (_, again) = operators.Lakehouse.s22Vacuum(spark, pruned, 3)
    assert(again === 0L)
    Fixpoint.release(manifest)
    Fixpoint.release(pruned)
  }

  test("s23: incremental remanifest == from-scratch recompute; compacted months " +
      "collapse to one file; manifest-driven reads never touch replaced fragments") {
    val (v1, v2) = operators.Lakehouse.s23Build(spark, sf)
    val root = Tables.scratchPath("s23_table", sf)
    def monthFiles(m: DataFrame): Map[String, Set[String]] = m
      .select("ship_month", "path").collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(r => asPath(r.getString(1))).toSet }
    val f1 = monthFiles(v1)
    val f2 = monthFiles(v2)
    assert(f1.keySet === f2.keySet, "compaction must not lose or invent months")
    val m97 = f1.keySet.filter(_.startsWith("1997"))
    assert(m97.nonEmpty)
    // collapse: every compacted month → exactly 1 file, and at least one
    // month was genuinely fragmented before (else the rewrite proved nothing)
    m97.foreach(m => assert(f2(m).size === 1, s"$m: ${f2(m).size} files post-compaction"))
    assert(m97.exists(m => f1(m).size > 1), "fixture never fragmented a 1997 month")
    // replacement: new files are NEW; untouched months carry over verbatim
    m97.foreach(m => assert(f2(m).intersect(f1(m)).isEmpty, s"$m kept an old fragment"))
    f1.keySet.diff(m97).foreach(m => assert(f2(m) === f1(m), s"$m was rescanned/rewritten"))
    // consistency: the incrementally-maintained v2 equals a from-scratch
    // per-file recompute over v2's own file set
    val v2files = v2.select("path").collect().map(_.getString(0)).sorted.toIndexedSeq
    val scratch = operators.Lakehouse.fileStats(spark, root, v2files)
      .withColumn("snapshot", lit(2))
    def rows(df: DataFrame): Set[String] =
      df.collect().map { r =>
        (r.getString(0), asPath(r.getString(1)), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5), r.getDouble(6)).toString
      }.toSet
    assert(rows(v2) === rows(scratch))
    // the manifest-planned read touches no replaced fragment: disk still
    // holds both generations (vacuum hasn't run), the manifest decides
    val replaced = m97.flatMap(f1)
    val planned = spark.read.option("basePath", root)
      .parquet(v2files: _*).inputFiles.map(asPath).toSet
    assert(planned.intersect(replaced.toSet).isEmpty,
      s"planned a replaced fragment: ${planned.intersect(replaced.toSet).take(2)}")
    assert(replaced.forall(p => new java.io.File(p).exists()),
      "pre-vacuum, superseded fragments must still be on disk")
    // compose with s22: vacuum snapshot 1 away → exactly the replaced
    // fragments die, and the retained manifest read is unchanged
    val log = v1.select("snapshot", "path")
      .unionByName(v2.select("snapshot", "path"))
    val (_, deleted) = operators.Lakehouse.s22Vacuum(spark, log, 2)
    assert(deleted === replaced.size.toLong,
      s"vacuum deleted $deleted, expected ${replaced.size} replaced fragments")
    assert(replaced.forall(p => !new java.io.File(p).exists()))
    val postRead = spark.read.option("basePath", root).parquet(v2files: _*)
    assert(postRead.count() === Tables.lineitem(spark, sf).count())
    Fixpoint.release(v1)
    Fixpoint.release(v2)
  }

  test("s25: deletion vectors touch no data file, the MOR anti-join is broadcast, " +
      "MOR == COW row-for-row, and vacuum retires the superseded base") {
    val (root, dv) = operators.Lakehouse.s25Commit(spark, sf)
    def files(d: String): Set[String] = {
      val f = new java.io.File(d)
      if (!f.isDirectory) Set.empty
      else f.listFiles().map(_.getPath).filter(p =>
        p.endsWith(".parquet") && !p.split('/').last.startsWith("_")).toSet
    }
    val baseFiles = files(s"$root/base")
    assert(baseFiles.size === 4, s"base files: ${baseFiles.toSeq.sorted.mkString("\n")}")
    // the DELETE is row-level and crosses every file: each base file has
    // both deleted and surviving rows, so no file-drop shortcut exists
    val perFile = spark.read.parquet(s"$root/base")
      .groupBy(col("_metadata.file_path"))
      .agg(
        sum(when(col("l_quantity") < 5.0
          || pmod(col("l_orderkey"), lit(97)) === 0, 1).otherwise(0)).as("del"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(perFile.length === 4)
    perFile.foreach { case (del, n) =>
      assert(del > 0 && del < n, s"predicate must cross the file: $del/$n")
    }
    // the DV covers exactly the predicate's rows
    val nDel = perFile.map(_._1).sum
    assert(spark.read.parquet(dv).count() === nDel)
    // merge-on-read: broadcast LEFT ANTI against the sidecar, one base scan
    val mor = operators.Lakehouse.scan(spark, Seq(s"$root/base"), Seq(dv))
    val plan = mor.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"MOR read must broadcast-anti-join the DV:\n${plan.take(600)}")
    val morRows = Tables.orderAll(mor).collect()
    // copy-on-write apply: identical logical table from clean files
    val applied = operators.Lakehouse.s25Apply(spark, root, dv)
    val cowRows = Tables.orderAll(spark.read.parquet(applied)).collect()
    assert(morRows.toSeq === cowRows.toSeq)
    assert(morRows.length === (perFile.map(_._2).sum - nDel).toInt)
    // the apply retires base + DV: vacuum them via s22's set algebra
    val dvFiles = files(dv)
    assert(dvFiles.nonEmpty)
    val manifest = operators.Lakehouse.manifest(spark,
      (baseFiles ++ dvFiles).toSeq.map(p => (1, p)) ++
        files(applied).toSeq.map(p => (2, p)), "snapshot")
    val (pruned, deleted) = operators.Lakehouse.s22Vacuum(spark, manifest, 2)
    assert(deleted === (baseFiles.size + dvFiles.size).toLong)
    assert(files(s"$root/base").isEmpty && files(dv).isEmpty)
    val postVacuum = Tables.orderAll(
      operators.Lakehouse.s22AsOf(spark, pruned, 2)).collect()
    assert(postVacuum.toSeq === cowRows.toSeq)
    Fixpoint.release(pruned)
  }

  test("s26: one predicate prunes BOTH partition-spec generations — zone maps " +
      "for pre-partitioning files, partition values for evolved files") {
    val (root, manifest) = operators.Lakehouse.s26Build(spark, sf)
    val (lo, hi) = ("1995-10", "1996-03")
    val out = operators.Lakehouse.s26Read(spark, root, manifest, lo, hi)
    // the planned file set, by generation
    val planned = out.inputFiles.map(asPath).toSet
    val m = manifest.collect().map(r => (r.getString(0), asPath(r.getString(1)),
      r.getString(2), r.getString(3)))
    val matching = m.filter { case (_, _, mn, mx) => mx >= lo && mn <= hi }
      .map(_._2).toSet
    val nonMatching = m.map(_._2).toSet.diff(matching)
    assert(planned.nonEmpty && planned.subsetOf(matching),
      s"planned a non-matching file: ${planned.diff(matching).take(2)}")
    assert(planned.intersect(nonMatching).isEmpty)
    // pruning bites on BOTH generations: at least one A file (zone map)
    // and one B file (partition value) is skipped
    val skipped = m.filter(t => !planned.contains(t._2))
    assert(skipped.exists(_._1 == "A"), "no pre-partitioning file was zone-pruned")
    assert(skipped.exists(_._1 == "B"), "no evolved-partition file was pruned")
    // both generations contribute rows to the boundary-spanning window
    val gens = out.withColumn("g",
        when(col("ship_month") < "1996-01", "A").otherwise("B"))
      .groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gens.getOrElse("A", 0L) > 0 && gens.getOrElse("B", 0L) > 0,
      s"window must span the spec boundary: $gens")
    // row-level truth: the cross-spec read == the source table's window
    val expect = Tables.lineitem(spark, sf)
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
      .filter(col("ship_month").between(lo, hi)).count()
    assert(out.count() === expect)
    // an empty window is a lawful result: 0 rows, declared schema, no throw
    val empty = operators.Lakehouse.s26Read(spark, root, manifest, "2050-01", "2050-02")
    assert(empty.count() === 0L)
    assert(empty.columns.toSeq ===
      Seq("l_orderkey", "l_shipdate", "l_extendedprice", "ship_month"))
    Fixpoint.release(manifest)
  }

  test("s27: DV-based MERGE equals the frame-computed merge row-for-row; " +
      "base files untouched; the DV covers exactly the matched positions") {
    operators.Lakehouse.s27(spark, sf).collect() // builds base + DV + commit2
    val root = Tables.scratchPath("s27_table", sf)
    val dv = Tables.scratchPath("s27_dv", sf)
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    // the physical merged table, read back MOR ∪ commit2
    val got = operators.Lakehouse.scan(spark, Seq(s"$root/base"), Seq(dv))
      .unionByName(spark.read.parquet(s"$root/commit2"))
    // the logical merge computed directly on frames
    val expect = orders.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
      .unionByName(orders.filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0))
      .unionByName(orders.filter(pmod(col("o_orderkey"), lit(13)) === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), col("o_totalprice")))
    assert(got.exceptAll(expect).count() === 0L)
    assert(expect.exceptAll(got).count() === 0L)
    // DV coverage == the matched set, and the update is a TOMBSTONE:
    // no base file was rewritten (base still holds every original row)
    val nMatched = orders.filter(pmod(col("o_orderkey"), lit(7)) === 0).count()
    assert(spark.read.parquet(dv).count() === nMatched)
    assert(spark.read.parquet(s"$root/base").count() === orders.count(),
      "MERGE must not rewrite base files — the update is positional")
    // updated rows really carry the new version — bit-exact against the
    // same IEEE add, not a subtraction round-trip ((x+1000)-x ≠ 1000 in
    // general; x+1000.0 is deterministic in both engines)
    val upd = got.filter(pmod(col("o_orderkey"), lit(7)) === 0
        && col("o_orderkey") < 100000000L)
      .join(orders.withColumnRenamed("o_totalprice", "old_price"),
        Seq("o_orderkey", "o_orderstatus"))
    assert(upd.count() === nMatched)
    assert(upd.filter(col("o_totalprice") =!= col("old_price") + 1000.0)
      .count() === 0L, "an updated row does not carry old + 1000.0")
  }

  test("s24: conflict interleaving equals both serial orders; a stale commit " +
      "is rejected; the retry loop recovers") {
    def freshDirs(): (String, String) = {
      val base = java.nio.file.Files.createTempDirectory("graft_s24_spec").toString
      (s"$base/log", s"$base/stage")
    }
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_shipdate", "l_extendedprice")
    def stats(mod: Int*): DataFrame = li
      .filter(pmod(col("l_orderkey"), lit(10)).isin(mod.map(Integer.valueOf): _*))
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
      .groupBy("ship_month")
      .agg(count(lit(1)).cast("bigint").as("n_rows"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"))
    val base = stats(1, 2, 3, 4, 6, 7, 8, 9)
    val a = stats(0)
    val b = stats(5)
    def serial(first: DataFrame, second: DataFrame): Seq[String] = {
      val (log, stage) = freshDirs()
      operators.Lakehouse.s24Writer(spark, log, stage, base, "base")
      operators.Lakehouse.s24Writer(spark, log, stage, first, "w1")
      val v = operators.Lakehouse.s24Writer(spark, log, stage, second, "w2")
      assert(v === 2)
      operators.Lakehouse.s24Read(spark, log, v)
        .orderBy("ship_month").collect().map(_.toString).toSeq
    }
    val ab = serial(a, b)
    val ba = serial(b, a)
    assert(ab === ba, "the merge monoid must make writer order irrelevant")
    // the raced query path: same final manifest as either serial order
    val raced = operators.Lakehouse.s24(spark, sf)
      .select("ship_month", "n_rows", "min_price", "max_price")
      .orderBy("ship_month").collect().map(_.toString).toSeq
    assert(raced === ab)
    // protocol primitive: the version pointer is put-if-absent — a second
    // commit of the same version (a stale writer) must lose
    val (log, stage) = freshDirs()
    operators.Lakehouse.s24Writer(spark, log, stage, base, "base")
    assert(operators.Lakehouse.s24TryCommit(log, 1, s"$stage/x"))
    assert(!operators.Lakehouse.s24TryCommit(log, 1, s"$stage/y"),
      "stale commit at an already-claimed version must be rejected")
    assert(operators.Lakehouse.s24Current(log) === 1)
    // commit atomicity: a visible pointer ALWAYS carries its full payload
    // (the link(2)-based commit publishes content and name in one step),
    // and no staging temp survives or is mistaken for a version
    val ptr = java.nio.file.Paths.get(log, "v00001.ptr")
    assert(new String(java.nio.file.Files.readAllBytes(ptr), "UTF-8")
      === s"$stage/x")
    assert(!new java.io.File(log).listFiles().exists(_.getName.endsWith(".tmp")),
      "staging temp files must not linger in the log")
  }

  test("s28: CDF ∘ apply == snapshot diff (v0 + changes == v1 row-for-row); " +
      "classification partitions the delta; expired versions refuse the feed") {
    val log = operators.Lakehouse.s28BuildSteps(spark, sf, "s28_table", 1)
    val snap0 = operators.Lakehouse.s28Snapshot(spark, log, 0)
    val snap1 = operators.Lakehouse.s28Snapshot(spark, log, 1)
    val cdf = operators.Lakehouse.s28Cdf(spark, log, 0, 1, "o_orderkey")
      .localCheckpoint() // consumed four ways below
    // v0 is exactly the base table
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    assert(snap0.exceptAll(orders).count() === 0L)
    assert(orders.exceptAll(snap0).count() === 0L)
    // applying the feed to v0 reconstructs v1 exactly: remove the
    // pre-images (delete + update_preimage), add the post-images
    // (insert + update_postimage)
    val pre = cdf.filter(col("change_type")
      .isin("delete", "update_preimage")).drop("change_type")
    val post = cdf.filter(col("change_type")
      .isin("insert", "update_postimage")).drop("change_type")
    val applied = snap0.exceptAll(pre).unionByName(post)
    assert(applied.exceptAll(snap1).count() === 0L,
      "CDF-applied v0 has rows v1 lacks")
    assert(snap1.exceptAll(applied).count() === 0L,
      "v1 has rows the CDF missed")
    // classification is a partition of the delta: updates carry matching
    // pre/post key sets; deletes and inserts never share a key with them
    def keys(ct: String): Set[Long] = cdf.filter(col("change_type") === ct)
      .select("o_orderkey").distinct().collect().map(_.getLong(0)).toSet
    val (kDel, kIns) = (keys("delete"), keys("insert"))
    val (kPre, kPost) = (keys("update_preimage"), keys("update_postimage"))
    assert(kPre === kPost, "update pre/post images must cover the same keys")
    assert((kDel intersect kPre).isEmpty && (kIns intersect kPost).isEmpty)
    assert(kDel.forall(k => k % 5 == 0 && k % 7 != 0))
    assert(kPre.forall(_ % 7 == 0))
    assert(kIns.forall(_ >= 100000000L), "inserts are the shifted new keys")
    // an expired (vacuumed) version refuses the feed with the contract
    // named — never a scan-time file-not-found
    java.nio.file.Files.delete(java.nio.file.Paths.get(log, "v00000.ptr"))
    val ex = intercept[IllegalArgumentException] {
      operators.Lakehouse.s28Cdf(spark, log, 0, 1, "o_orderkey")
    }
    assert(ex.getMessage.contains("expired"))
    val ex2 = intercept[IllegalArgumentException] {
      operators.Lakehouse.s28Snapshot(spark, log, 0)
    }
    assert(ex2.getMessage.contains("expired"))
    Fixpoint.release(cdf)
  }

  test("s29: positional + equality sidecars compose order-independently; " +
      "conservation n_pos + n_eq + survivors == base; base files untouched; " +
      "equality deletes reach rows in every file, position-blind") {
    val out = operators.Lakehouse.s29(spark, sf).collect() // builds the table
    val root = Tables.scratchPath("s29_table", sf)
    val base = spark.read.parquet(s"$root/base")
    val nBase = base.count()
    assert(nBase === Tables.lineitem(spark, sf).count(),
      "neither delete form may rewrite a base file")
    // the registered read applies positional-then-equality; build the
    // reverse order and pin row-set equality (anti-joins commute).
    // `_metadata` is a scan-relation column — surface it BEFORE any join
    val withPos = base
      .withColumn("file_path", col("_metadata.file_path"))
      .withColumn("row_index", col("_metadata.row_index"))
    val eqFirst = withPos
      .join(broadcast(spark.read.parquet(s"$root/eq")),
        Seq("l_orderkey"), "left_anti")
      .join(broadcast(spark.read.parquet(s"$root/dv")),
        Seq("file_path", "row_index"), "left_anti")
      .drop("file_path", "row_index")
    val posFirst = operators.Lakehouse
      .scan(spark, Seq(s"$root/base"), Seq(s"$root/dv"))
      .join(broadcast(spark.read.parquet(s"$root/eq")), Seq("l_orderkey"), "left_anti")
    assert(posFirst.exceptAll(eqFirst).count() === 0L)
    assert(eqFirst.exceptAll(posFirst).count() === 0L)
    // conservation: every base row is survivor, positionally deleted, or
    // equality-deleted — exactly once (the query publishes the counts)
    val nSurvivors = out.map(_.getLong(1)).sum
    val (nPos, nEq) = (out.head.getLong(4), out.head.getLong(5))
    assert(nPos + nEq + nSurvivors === nBase,
      s"conservation broken: $nPos + $nEq + $nSurvivors != $nBase")
    // the equality delete is position-blind: its keys hit rows in EVERY
    // base file (4 files, keys spread by repartition)
    val eqFiles = base
      .withColumn("file_path", col("_metadata.file_path"))
      .join(broadcast(spark.read.parquet(s"$root/eq")),
        Seq("l_orderkey"), "left_semi")
      .select("file_path").distinct().count()
    assert(eqFiles === 4L,
      s"equality deletes must reach all 4 base files, hit $eqFiles")
    // plan pin (s25's contract extended): BOTH sidecar applications are
    // broadcast anti-joins — one base scan + two map-side probes
    val plan = posFirst.queryExecution.executedPlan.toString
    assert(plan.split("BroadcastHashJoin").length - 1 >= 2
      && plan.contains("LeftAnti"),
      s"mixed-sidecar read must stay two broadcast anti-joins:\n${plan.take(800)}")
  }

  test("s30: a compaction racing a positional delete is DETECTED (stale DV " +
      "file refs), the re-derived DV restores the logical DELETE exactly, " +
      "and a DV on untouched files passes validation") {
    val out = operators.Lakehouse.s30(spark, sf).collect() // runs the race
    val root = Tables.scratchPath("s30_table", sf)
    val log = s"$root/log"
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val pred = pmod(col("o_orderkey"), lit(9)) === 0
    // the final snapshot is the logical DELETE, row-for-row — compaction
    // plus revalidated delete lost nothing and resurrected nothing
    val got = operators.Lakehouse.s28Snapshot(spark, log, 2)
    val expect = orders.filter(!pred)
    assert(got.exceptAll(expect).count() === 0L)
    assert(expect.exceptAll(got).count() === 0L)
    // the stale set is exactly the two compacted files (B's DV referenced
    // all four v0 files; two survived the compaction untouched)
    assert(out.forall(_.getInt(6) === 2), "exactly the 2 rewritten files are stale")
    val stale = operators.Lakehouse.s30StaleFiles(spark, log, s"$root/dv_b0")
      .toSet
    val v0Files = operators.Lakehouse.listDataFiles(s"$root/base").toSet
    assert(stale.subsetOf(v0Files) && stale.size === 2)
    // the no-conflict path: a DV whose references all survive the
    // compaction validates clean (positions in immutable files stay
    // valid; only snapshot REMOVAL invalidates)
    val survivor = (v0Files -- stale).head
    spark.read.parquet(survivor).filter(pred)
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("row_index"))
      .write.mode("overwrite").parquet(s"$root/dv_clean")
    assert(operators.Lakehouse.s30StaleFiles(spark, log, s"$root/dv_clean")
      .isEmpty, "a DV on untouched files must pass validation")
    // the re-derived DV covers exactly the predicate's rows in the
    // current snapshot
    val nDv1 = spark.read.parquet(s"$root/dv_b1").count()
    assert(nDv1 === orders.filter(pred).count())
    // a rewrite commit removes add-files, so a change feed across it is
    // NOT derivable from add/DV diffs — the feed must refuse loudly
    // (rewritten rows are logically unchanged; a diff-derived feed would
    // misreport them), exactly Delta's no-CDF-across-OPTIMIZE stance
    val exCdf = intercept[IllegalArgumentException] {
      operators.Lakehouse.s28Cdf(spark, log, 0, 1, "o_orderkey")
    }
    assert(exCdf.getMessage.contains("rewrite"))
  }

  test("h15: the maintained view equals the snapshot recompute at EVERY " +
      "intermediate commit; non-adjacent CDF nets internal churn (insert-" +
      "then-delete vanishes; CDF(0,2) applied to v0 == snapshot v2)") {
    val log = operators.Lakehouse.s28BuildSteps(spark, sf)
    // walk the chain the way h15 does, pinning each intermediate view
    // against an independent recompute of that version's snapshot
    var view = operators.History
      .cdfViewOf(operators.Lakehouse.s28Snapshot(spark, log, 0))
      .localCheckpoint()
    for (v <- 0 until 3) {
      view = operators.History.cdfFold(view, operators.History.cdfSigned(
        operators.Lakehouse.s28Cdf(spark, log, v, v + 1, "o_orderkey")))
        .localCheckpoint()
      val expect = operators.History
        .cdfViewOf(operators.Lakehouse.s28Snapshot(spark, log, v + 1))
        .orderBy("o_orderstatus").collect().map(_.toString).toSeq
      val got = view.orderBy("o_orderstatus").collect().map(_.toString).toSeq
      assert(got === expect, s"maintained view diverged at version ${v + 1}")
    }
    // the non-adjacent feed nets out internal churn: CDF(0,2) applied to
    // snapshot(0) reconstructs snapshot(2) exactly — rows inserted at v1
    // and deleted at v2 appear on NEITHER side
    val cdf02 = operators.Lakehouse.s28Cdf(spark, log, 0, 2, "o_orderkey")
      .localCheckpoint()
    val pre = cdf02.filter(col("change_type")
      .isin("delete", "update_preimage")).drop("change_type")
    val post = cdf02.filter(col("change_type")
      .isin("insert", "update_postimage")).drop("change_type")
    val applied = operators.Lakehouse.s28Snapshot(spark, log, 0)
      .exceptAll(pre).unionByName(post)
    val snap2 = operators.Lakehouse.s28Snapshot(spark, log, 2)
    assert(applied.exceptAll(snap2).count() === 0L)
    assert(snap2.exceptAll(applied).count() === 0L)
    // explicit churn witness: v1-inserted keys (%13-shifted) that v2
    // deleted are absent from BOTH feed sides of CDF(0,2)
    val inserted1 = (100000000L, 200000000L)
    val churn = cdf02.filter(col("o_orderkey") > inserted1._1
      && col("o_orderkey") < inserted1._2)
    val live2 = snap2.filter(col("o_orderkey") > inserted1._1
      && col("o_orderkey") < inserted1._2)
      .select("o_orderkey").distinct().count()
    val fed = churn.filter(col("change_type") === "insert")
      .select("o_orderkey").distinct().count()
    assert(fed === live2,
      "only v1 inserts still live at v2 may appear in the 0→2 feed")
    assert(churn.filter(col("change_type") === "delete").count() === 0L,
      "a row that never existed at v0 must not be fed as a delete")
    Fixpoint.release(cdf02)
    Fixpoint.release(view)
  }

  test("h14: the CDF-maintained aggregate view equals a full recompute over " +
      "the post-commit snapshot, bit-for-bit") {
    val got = operators.History.h14(spark, sf)
    val log = Tables.scratchPath("s28_table", sf) + "/log"
    val recompute = operators.Lakehouse.s28Snapshot(spark, log, 1)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).cast("long").as("n_rows"),
        sum("o_orderkey").cast("bigint").as("key_sum"),
        sum(Tables.dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
    assert(got.collect().map(_.toString).toSeq
      === recompute.collect().map(_.toString).toSeq,
      "retraction maintenance must equal the full recompute exactly")
  }

  test("s31: row-lineage feed serves ACROSS the compaction (apply == final " +
      "snapshot); ids survive the rewrite; s28Cdf still refuses the window; " +
      "undeclared/mixed rewrites refuse") {
    val log = operators.Lakehouse.s31Build(spark, sf)
    // the compaction's no-data-change declaration is honest: the snapshot
    // before and after the v2 rewrite is row-for-row identical
    val snap1 = operators.Lakehouse.s28Snapshot(spark, log, 1)
    val snap2 = operators.Lakehouse.s28Snapshot(spark, log, 2)
    assert(snap1.exceptAll(snap2).count() === 0L)
    assert(snap2.exceptAll(snap1).count() === 0L)
    // s28Cdf (add/DV-diff feed) refuses every window containing v2
    for ((a, b) <- Seq((0, 3), (1, 2), (1, 3))) {
      val ex = intercept[IllegalArgumentException] {
        operators.Lakehouse.s28Cdf(spark, log, a, b, "_row_id")
      }
      assert(ex.getMessage.contains("rewrite"), s"window $a->$b")
    }
    val feed = operators.Lakehouse.s31Cdf(spark, log, 0, 3, "_row_id")
      .localCheckpoint()
    // the rewrite contributes NOTHING: only v1 and v3 appear in the feed
    assert(feed.select("commit_version").distinct().collect()
      .map(_.getInt(0)).toSet === Set(1, 3))
    // fold the per-commit feed onto v0: remove pre-images, add
    // post-images, IN COMMIT ORDER — must land exactly on snapshot(3)
    var state = operators.Lakehouse.s28Snapshot(spark, log, 0)
    for (v <- Seq(1, 3)) {
      val c = feed.filter(col("commit_version") === v).drop("commit_version")
      state = state
        .exceptAll(c.filter(col("change_type")
          .isin("delete", "update_preimage")).drop("change_type"))
        .unionByName(c.filter(col("change_type")
          .isin("insert", "update_postimage")).drop("change_type"))
        .localCheckpoint()
    }
    val snap3 = operators.Lakehouse.s28Snapshot(spark, log, 3)
    assert(state.exceptAll(snap3).count() === 0L,
      "feed-applied v0 has rows snapshot(3) lacks")
    assert(snap3.exceptAll(state).count() === 0L,
      "snapshot(3) has rows the cross-compaction feed missed")
    // row lineage: v3's update post-images carry their INSERT-time ids
    // (base epoch or v1-insert epoch), never a fresh v3 id — and every
    // v3 insert id IS in the v3 epoch
    val post3 = feed.filter(col("commit_version") === 3
      && col("change_type") === "update_postimage")
      .select("_row_id").collect().map(_.getLong(0))
    assert(post3.nonEmpty && post3.forall(_ < 9000000000L),
      "update post-images must keep pre-rewrite insert-time row ids")
    val ins3 = feed.filter(col("commit_version") === 3
      && col("change_type") === "insert")
      .select("_row_id").collect().map(_.getLong(0))
    assert(ins3.nonEmpty && ins3.forall(_ >= 9000000000L))
    // an UNDECLARED rewrite (new files carry kind 'add') refuses loudly
    val badLog = Tables.scratchPath("s31_badlog", sf)
    locally {
      operators.Lakehouse.wipeLog(badLog)
      val m0 = operators.Lakehouse.readManifest(log, 0)
      val m2 = operators.Lakehouse.readManifest(log, 2)
      operators.Lakehouse.s28Commit(spark, badLog, 0, m0)
      // v2's compacted files re-labeled as plain adds = a writer that
      // rewrote data without declaring dataChange=false
      operators.Lakehouse.s28Commit(spark, badLog, 1,
        m2.map { case (_, p) => ("add", p) })
      val ex = intercept[IllegalArgumentException] {
        operators.Lakehouse.s31Cdf(spark, badLog, 0, 1, "_row_id")
      }
      assert(ex.getMessage.contains("no-data-change"))
    }
    // a rewrite MIXED with new DV sidecars refuses (no servable feed)
    locally {
      operators.Lakehouse.wipeLog(badLog)
      val m0 = operators.Lakehouse.readManifest(log, 0)
      val m2 = operators.Lakehouse.readManifest(log, 2)
      operators.Lakehouse.s28Commit(spark, badLog, 0, m0)
      operators.Lakehouse.s28Commit(spark, badLog, 1,
        m2 :+ (("dv", Tables.scratchPath("s31_table", sf) + "/dv3")))
      val ex = intercept[IllegalArgumentException] {
        operators.Lakehouse.s31Cdf(spark, badLog, 0, 1, "_row_id")
      }
      assert(ex.getMessage.contains("mixes a rewrite"))
    }
    // DV-rewrite monotonicity: dropping a DV sidecar without touching the
    // data files refuses with the DV contract named (advisor pin)
    locally {
      operators.Lakehouse.wipeLog(badLog)
      val m1 = operators.Lakehouse.readManifest(log, 1)
      operators.Lakehouse.s28Commit(spark, badLog, 0, m1)
      operators.Lakehouse.s28Commit(spark, badLog, 1,
        m1.filterNot(_._1 == "dv"))
      val ex = intercept[IllegalArgumentException] {
        operators.Lakehouse.s28Cdf(spark, badLog, 0, 1, "_row_id")
      }
      assert(ex.getMessage.contains("DV rewrite"))
    }
    // a WHOLE-FILE DELETE (files removed, nothing added) is a data
    // change, not a skippable rewrite — the walker must refuse, never
    // silently drop the deletion from the feed
    locally {
      operators.Lakehouse.wipeLog(badLog)
      val m0 = operators.Lakehouse.readManifest(log, 0)
      operators.Lakehouse.s28Commit(spark, badLog, 0, m0)
      operators.Lakehouse.s28Commit(spark, badLog, 1, m0.drop(1))
      val ex = intercept[IllegalArgumentException] {
        operators.Lakehouse.s31Cdf(spark, badLog, 0, 1, "_row_id")
      }
      assert(ex.getMessage.contains("whole-file delete"))
    }
    Fixpoint.release(feed)
  }

  test("s32: failed audit leaves main bit-identical and staged data " +
      "invisible; publish is the atomic swap; concurrent publish races " +
      "resolve by put-if-absent; duplicate-key corruption is also caught") {
    val root = Tables.scratchPath("s32_spec", sf)
    val log = s"$root/log"
    operators.Lakehouse.wipeLog(log)
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "lang", "text", "n_chars")
    docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .repartition(2).write.mode("overwrite").parquet(s"$root/base")
    val baseAdds = operators.Lakehouse.listDataFiles(s"$root/base")
      .map(("add", _))
    operators.Lakehouse.s28Commit(spark, log, 0, baseAdds)
    val main0 = Tables.orderAll(
      operators.Lakehouse.s28Snapshot(spark, log, 0)).collect()
    // a DUPLICATE-KEY batch (re-ingests rows main already has) fails the
    // uniqueness constraint — the second corruption class
    docs.filter(pmod(col("doc_id"), lit(3)) =!= 0).limit(5)
      .coalesce(1).write.mode("overwrite").parquet(s"$root/dup")
    operators.Lakehouse.s32Stage(log, "dup",
      baseAdds ++ operators.Lakehouse.listDataFiles(s"$root/dup").map(("add", _)))
    val auditDup = operators.Lakehouse.s32Audit(spark,
      operators.Lakehouse.s32Branch(log, "dup")).toMap
    assert(!auditDup("uniqueness_doc_id"), "duplicate keys must fail")
    assert(auditDup("domain_lang"), "untouched checks still pass")
    // publish refuses a failed audit outright
    val exPub = intercept[IllegalArgumentException] {
      operators.Lakehouse.s32Publish(spark, log, "dup")
    }
    assert(exPub.getMessage.contains("failed its audit"))
    // isolation: main is still v0 and reads byte-identically
    assert(operators.Lakehouse.s24Current(log) === 0)
    assert(Tables.orderAll(operators.Lakehouse.s28Snapshot(spark, log, 0))
      .collect().toSeq === main0.toSeq)
    // a branch slot is single-use: restaging the same name refuses
    val exSlot = intercept[IllegalArgumentException] {
      operators.Lakehouse.s32Stage(log, "dup", baseAdds)
    }
    assert(exSlot.getMessage.contains("already staged"))
    // two GOOD branches race the publish: put-if-absent lets exactly one
    // win v1; the loser must re-read main and re-audit before retrying
    docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .coalesce(1).write.mode("overwrite").parquet(s"$root/good")
    val goodAdds = baseAdds ++
      operators.Lakehouse.listDataFiles(s"$root/good").map(("add", _))
    operators.Lakehouse.s32Stage(log, "w1", goodAdds)
    operators.Lakehouse.s32Stage(log, "w2", goodAdds)
    val r1 = operators.Lakehouse.s32Publish(spark, log, "w1")
    // w2 publishes against the STALE base it audited (v0): the pointer
    // race rejects it — audit-then-publish is not lost-update-prone
    val r2 = operators.Lakehouse.s24TryCommit(log, 1,
      operators.Lakehouse.s28Payload(
        operators.Lakehouse.s32Branch(log, "w2")))
    assert(r1 && !r2, "exactly one publisher may win v1")
    assert(operators.Lakehouse.s24Current(log) === 1)
    // the published snapshot is the audited branch, row-for-row
    val pub = Tables.orderAll(
      operators.Lakehouse.s28Snapshot(spark, log, 1)).collect()
    val want = Tables.orderAll(docs).collect()
    assert(pub.toSeq === want.toSeq)
  }

  test("s33: replayed snapshots == expectation at every version; action " +
      "pointers are delta-sized vs checkpoints; truncation below the newest " +
      "checkpoint keeps the head readable; cdfDiff composes over replays") {
    // the registered query builds the 10-commit log deterministically
    operators.Lakehouse.s33(spark, sf).collect()
    val root = Tables.scratchPath("s33_table", sf)
    val log = s"$root/log"
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
    def expect(v: Int): org.apache.spark.sql.DataFrame = {
      val upTo = li.filter(pmod(col("l_orderkey"), lit(10)) <= math.min(v, 6))
      val afterDv =
        if (v < 8) upTo
        else upTo.filter(!(col("l_quantity") < 2.0
          && pmod(col("l_orderkey"), lit(10)) <= 2))
      if (v < 9) afterDv
      else afterDv.unionByName(li.filter(pmod(col("l_orderkey"), lit(10)) === 7))
    }
    for (v <- 0 to 9) {
      val got = Tables.orderAll(operators.Lakehouse
        .snapshotOf(spark, operators.Lakehouse.s33Manifest(log, v))).collect()
      val want = Tables.orderAll(expect(v)).collect()
      assert(got.toSeq === want.toSeq, s"replayed snapshot $v diverges")
    }
    // delta-sized pointers: every action commit's payload is a fraction
    // of a checkpoint's (the compaction commit carries 4 lines; the v7
    // checkpoint carries the whole file inventory)
    def bytes(name: String): Long =
      java.nio.file.Files.size(java.nio.file.Paths.get(log, name))
    val ckptBytes = bytes("v00007.ckpt")
    for (v <- Seq(0, 4, 8, 9))
      assert(bytes(f"v$v%05d.ptr") < ckptBytes,
        s"action commit $v should be smaller than the checkpoint")
    // the feed composes over replayed manifests: 8->9 is a monotone
    // window (one append — all inserts); 6->7 contains the rewrite and
    // refuses
    val feed = operators.Lakehouse.cdfDiff(spark,
      operators.Lakehouse.s33Manifest(log, 8),
      operators.Lakehouse.s33Manifest(log, 9), "l_orderkey", "8->9")
    val classes = feed.select("change_type").distinct()
      .collect().map(_.getString(0)).toSet
    assert(classes === Set("insert"))
    assert(feed.count() ===
      li.filter(pmod(col("l_orderkey"), lit(10)) === 7).count())
    val exRw = intercept[IllegalArgumentException] {
      operators.Lakehouse.cdfDiff(spark,
        operators.Lakehouse.s33Manifest(log, 6),
        operators.Lakehouse.s33Manifest(log, 7), "l_orderkey", "6->7")
    }
    assert(exRw.getMessage.contains("rewrite"))
    // LOG TRUNCATION (the retention story): expire everything below the
    // newest checkpoint — pointers v0-v6 and the v3 checkpoint gone; the
    // head and every version >= 7 stay readable, v5 refuses loudly
    for (v <- 0 to 6)
      java.nio.file.Files.delete(java.nio.file.Paths.get(log, f"v$v%05d.ptr"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(log, "v00003.ckpt"))
    val headAfter = Tables.orderAll(operators.Lakehouse
      .snapshotOf(spark, operators.Lakehouse.s33Manifest(log, 9))).collect()
    assert(headAfter.toSeq === Tables.orderAll(expect(9)).collect().toSeq,
      "truncation must not touch the head")
    val ex = intercept[IllegalArgumentException] {
      operators.Lakehouse.s33Manifest(log, 5)
    }
    assert(ex.getMessage.contains("expired"))
  }

  test("s34: vacuum deletes exactly the expired-only files; retained head " +
      "byte-identical; expired versions refuse; idempotent; feed survives") {
    val log = operators.Lakehouse.s33Build(spark, sf, "s34_spec")
    val root = Tables.scratchPath("s34_spec", sf)
    val pre = Tables.orderAll(operators.Lakehouse
      .snapshotOf(spark, operators.Lakehouse.s33Manifest(log, 9))).collect()
    val (nData, nPtr) = operators.Lakehouse.s34Vacuum(spark, log, 8)
    assert(nData === 3L, s"expected the 3 pre-compaction chunk files, got $nData")
    assert(nPtr === 10L, s"expected 8 pointers + 2 checkpoints, got $nPtr")
    // filesystem walk: chunks 0-2 gone, everything a retained version
    // references still present
    for (i <- 0 to 2)
      assert(operators.Lakehouse.listDataFiles(s"$root/chunk$i").isEmpty,
        s"chunk$i must be physically deleted")
    for (d <- Seq("chunk3", "chunk4", "chunk5", "chunk6", "chunk7",
        "compact012", "dv8"))
      assert(operators.Lakehouse.listDataFiles(s"$root/$d").nonEmpty,
        s"$d is referenced by a retained version and must survive")
    // the retained head reads byte-identically post-vacuum
    val post = Tables.orderAll(operators.Lakehouse
      .snapshotOf(spark, operators.Lakehouse.s33Manifest(log, 9))).collect()
    assert(post.toSeq === pre.toSeq)
    // a pre-retention version refuses with the contract named
    val ex = intercept[IllegalArgumentException] {
      operators.Lakehouse.s33Manifest(log, 5)
    }
    assert(ex.getMessage.contains("expired"))
    // idempotence: nothing left to delete or expire
    assert(operators.Lakehouse.s34Vacuum(spark, log, 8) === ((0L, 0L)))
    // the change feed still composes on the retained window
    val feed = operators.Lakehouse.cdfDiff(spark,
      operators.Lakehouse.s33Manifest(log, 8),
      operators.Lakehouse.s33Manifest(log, 9), "l_orderkey", "8->9")
    assert(feed.select("change_type").distinct().collect()
      .map(_.getString(0)).toSet === Set("insert"))
  }

  test("s22's manifest is driver-local: reading it runs no Spark job") {
    val lake = operators.Lakehouse
    val manifest = lake.s22Commit(spark, sf)
    // the reader's other shapes: an mf1 snapshot carrying a DV (s28 v1),
    // an action-log replay (s33 v5) and one member of a multi-table
    // manifest (l67's feature table, also carrying a DV)
    val s28 = lake.readManifest(lake.s28Table(spark, sf), 1)
    val s33 = lake.s33Manifest(lake.s33Build(spark, sf, "s33_table"), 5)
    val l67 = lake.readManifest(llm.Features.l67Build(spark, sf)._1, 1)
    assert(s28.exists(_._1 == "dv") && l67.exists(_._1 == "feat.dv"))
    val sc = spark.sparkContext
    val jobs = Harness.listen(spark)
    try {
      val files = manifest.collect()
      // s22AsOf's planning read
      manifest.filter(col("snapshot") === 3).select("path").collect()
      // and the snapshot frames themselves: planned under the schema the
      // writer recorded in the footer (read on the driver), DVs read
      // under their constant schema, so building them runs no job
      val snap3 = lake.s22AsOf(spark, manifest, 3)
      val frames = Seq(lake.snapshotOf(spark, s28), lake.snapshotOf(spark, s33),
        lake.snapshotOf(spark, l67, "feat."))
      org.apache.spark.GraftSparkBridge.waitListenerBusEmpty(sc, 10000L)
      assert(files.nonEmpty)
      assert(snap3.columns.toSeq ===
        Seq("l_orderkey", "l_shipdate", "l_extendedprice", "ship_month"))
      assert(frames.map(_.columns.toSeq) === Seq(
        Seq("o_orderkey", "o_orderstatus", "o_totalprice"),
        Seq("l_orderkey", "l_quantity", "l_extendedprice", "ship_month"),
        Seq("user_id", "fact_id", "fact_type", "fact_ts_ms", "state_type",
          "state_value")))
      assert(jobs.take().isEmpty,
        "collecting the manifest or building a snapshot ran a Spark job")
    } finally sc.removeSparkListener(jobs)
  }
}
