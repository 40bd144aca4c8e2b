package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Scale-critical physical patterns pinned as plan assertions: bucketed
  * co-located joins (no exchange), dynamic partition pruning, and the
  * corrupt-record quarantine split (reference R2/R3 analogue).
  */
class ScalePatternsSpec extends SparkSuite {

  test("bucketed tables join with NO exchange on either side") {
    // warehouse.dir is a static conf; tables land in ./spark-warehouse
    // (gitignored) and are dropped at the end
    spark.sql("DROP TABLE IF EXISTS graft_li_b")
    spark.sql("DROP TABLE IF EXISTS graft_ord_b")
    Tables.lineitem(spark, sf)
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("graft_li_b")
    Tables.orders(spark, sf)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("graft_ord_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_li_b")
        .join(spark.table("graft_ord_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      // the join itself must not shuffle: bucketing pre-partitioned both
      // sides identically (only the final small aggregation exchanges)
      val joinSection = plan.substring(0, plan.indexOf("HashAggregate",
        plan.indexOf("SortMergeJoin").max(0)).max(plan.length - 1))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey")
        && !joinSection.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join still exchanges:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_li_b")
      spark.sql("DROP TABLE IF EXISTS graft_ord_b")
    }
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    val base = Files.createTempDirectory("graft_dpp").toString
    Tables.orders(spark, sf)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(s"$base/orders_p")
    val fact = spark.read.parquet(s"$base/orders_p")
    val dim = spark.range(1, 3).select((col("id") + 1996).cast("int").as("d_year"),
      concat(lit("y"), col("id")).as("d_name"))
    val prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    try {
      val q = fact.join(dim, col("o_year") === col("d_year"))
        .filter(col("d_name") === "y1")
        .groupBy("d_name").agg(count(lit(1)).as("n"))
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning")
        || plan.contains("dynamicpruningexpression"),
        s"expected dynamic partition pruning:\n$plan")
    } finally spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", prev)
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // The no-code-changes answer to hot keys: AQE detects an oversized
    // shuffle partition at runtime and splits it across tasks. Thresholds
    // are lowered so the synthetic 90%-one-key skew triggers locally; the
    // salted two-phase aggregation (j13) remains the explicit variant for
    // aggregations, where AQE can't help.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // 90% of left rows share key 0; payload pads partition size
      val left = spark.range(0, 60000).select(
        when(col("id") % 10 < 9, 0L).otherwise(col("id")).as("k"),
        concat(lit("x"), lpad(col("id").cast("string"), 64, "0")).as("payload"))
      val right = spark.range(0, 2000).select(col("id").as("k"),
        concat(lit("dim"), col("id").cast("string")).as("name"))
      // max(payload) keeps the wide column alive through the shuffle —
      // column pruning would otherwise shrink partitions below threshold
      val q = left.join(right, "k").groupBy("name")
        .agg(count(lit(1)).as("n"), max(col("payload")).as("p"))
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE skew-join split in the final plan:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter: selective dim filter prunes the fact side of a shuffle join") {
    // The non-partition-column analogue of DPP: a bloom filter built from
    // the filtered dim side is pushed into the fact scan, so at 100 TB the
    // big side drops non-joining rows BEFORE the shuffle. Thresholds are
    // lowered because local test data is far below the 10 MB/10 GB
    // defaults that gate injection on a real cluster.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val q = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.toLowerCase.contains("might_contain"),
        s"expected an injected bloom filter on the fact side:\n$optimized")
      assert(q.collect().map(_.getLong(1)).sum > 0)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("observe(): pipeline telemetry rides the job, no second pass (R22/R25)") {
    // the reference logs per-import row/memory telemetry from a side
    // scheduler; Spark's Observation collects named aggregates ON the
    // already-running job — at 100 TB a separate metrics .count() would
    // be a second full scan
    val obs = org.apache.spark.sql.Observation("lineitem_stats")
    val df = Tables.lineitem(spark, sf)
      .observe(obs, count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(38,4)")).cast("double").as("sum_qty"))
      .filter(col("l_quantity") > 25.0)
    val filtered = df.count()
    val m = obs.get
    val base = Tables.lineitem(spark, sf)
      .agg(count(lit(1)), sum(col("l_quantity").cast("decimal(38,4)")).cast("double"))
      .head()
    assert(m("n_rows") === base.getLong(0)) // metrics see PRE-filter rows
    assert(m("sum_qty") === base.getDouble(1))
    assert(filtered < base.getLong(0))
  }

  // --- candidate-pair growth laws -----------------------------------------
  // The difference between "bucketed" and "all-pairs ÷ constant": with
  // corpus-SCALED parameters (scaledPlanes / scaledK) candidate-pair work
  // must grow ~linearly in corpus size; any pinned bucket/cluster count
  // makes it quadratic. Synthetic corpora give three controlled sizes.

  /** Deterministic synthetic embeddings: 64 uniform floats in [-1, 1)
    * derived from xxhash64(vec_id, dim) — reproducible, no RNG state. */
  private def synthEmb(n: Int) =
    spark.range(1, n + 1).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), d -> " +
        "CAST(pmod(xxhash64(id * 64 + CAST(d AS BIGINT)), 2000) / 1000.0 - 1.0 AS FLOAT))")
        .as("embedding"))

  private def growthExponent(ns: Seq[Int], works: Seq[Long]): Double =
    math.log(works.last.toDouble / math.max(1L, works.head)) /
      math.log(ns.last.toDouble / ns.head)

  test("l02e scaled planes: same-sig pair work grows ~linearly, not quadratically") {
    val ns = Seq(500, 2000, 8000)
    val planes = ns.map(n => llm.Dedup.scaledPlanes(n))
    assert(planes.distinct.size > 1, s"plane count must grow with n: $planes")
    val works = ns.zip(planes).map { case (n, p) =>
      llm.Dedup.embedCandidateWork(synthEmb(n), p)
    }
    val exp = growthExponent(ns, works)
    info(s"n=$ns planes=$planes work=$works exponent=$exp")
    assert(works.forall(_ > 0))
    assert(exp < 1.5, s"scaled pair work must stay near-linear (got $exp, quadratic = 2)")
    // the pinned 4-plane fixture at the same top size is the quadratic shape
    val fixed = llm.Dedup.embedCandidateWork(synthEmb(ns.last), 4)
    info(s"fixed-4-plane work at n=${ns.last}: $fixed")
    assert(works.last * 4 <= fixed,
      s"scaled (${works.last}) must be well under pinned-plane work ($fixed)")
  }

  test("l27 scaled k: within-cluster pair work grows ~linearly, not quadratically") {
    val ns = Seq(400, 1600, 6400)
    val ks = ns.map(n => llm.Dedup.scaledK(n))
    assert(ks.distinct.size > 1, s"k must grow with n: $ks")
    val works = ns.zip(ks).map { case (n, k) =>
      val emb = synthEmb(n)
      val cents = emb.filter(col("vec_id") <= k)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      llm.Semantic.semDedupCandidateWork(emb, cents)
    }
    val exp = growthExponent(ns, works)
    info(s"n=$ns k=$ks work=$works exponent=$exp")
    assert(works.forall(_ > 0))
    assert(exp < 1.5, s"scaled cluster pair work must stay near-linear (got $exp)")
    val fixed16 = {
      val emb = synthEmb(ns.last)
      val cents = emb.filter(col("vec_id") <= 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      llm.Semantic.semDedupCandidateWork(emb, cents)
    }
    info(s"fixed-16-cluster work at n=${ns.last}: $fixed16")
    assert(works.last * 4 <= fixed16,
      s"scaled (${works.last}) must be well under fixed-k work ($fixed16)")
  }

  test("real corpus: banded candidate work grows sub-quadratically sf0.01 → sf0.1") {
    val d1 = Tables.documents(spark, "/root/testdata/sf0.01")
    val d10 = Tables.documents(spark, "/root/testdata/sf0.1")
    val nRatio = d10.count().toDouble / d1.count() // 10×
    def minHashWork(d: org.apache.spark.sql.DataFrame): Long =
      llm.Llm.minHashBucketAudit(d)
        .agg(coalesce(sum(expr("(bsz * (bsz - 1)) div 2")), lit(0L)))
        .head().getLong(0)
    // simhash at corpus-scaled band width (the pinned 12-bit fixture
    // measures 82× work for this 10× corpus — random band collisions are
    // quadratic at fixed width, which is why the width must scale)
    def simHashScaledWork(d: org.apache.spark.sql.DataFrame): Long =
      llm.Dedup.simHashBandWorkScaled(d, nBands = 4,
        bandBits = llm.Dedup.scaledSimBandBits(d.count()))
    val probes: Seq[(String, org.apache.spark.sql.DataFrame => Long)] = Seq(
      "l02_minhash_bands" -> minHashWork,
      "l02c_simhash_scaled_bands" -> simHashScaledWork,
      "l02d_rare_grams" -> llm.Dedup.ngramCandidateWork)
    probes.foreach { case (name, probe) =>
      val (w1, w10) = (math.max(1L, probe(d1)), probe(d10))
      val ratio = w10.toDouble / w1
      info(f"$name: sf0.01=$w1 sf0.1=$w10 ratio=$ratio%.1f (n ratio $nRatio%.1f)")
      // sub-quadratic with headroom: quadratic would be nRatio² = 100×
      assert(ratio <= nRatio * 4,
        s"$name candidate work grew ${ratio}× for a ${nRatio}× corpus")
    }
    // embeddings side: the scaled library path beats the pinned fixture
    val e10 = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val scaled = llm.Dedup.embedCandidateWork(e10,
      llm.Dedup.scaledPlanes(e10.count()))
    val pinned = llm.Dedup.embedCandidateWork(e10, 4)
    info(s"l02e sf0.1: scaled=$scaled pinned4=$pinned")
    assert(scaled * 2 <= pinned,
      s"corpus-scaled planes ($scaled) must undercut the pinned fixture ($pinned)")
  }

  test("l56 truth-join law: constant-count probes hold enumeration near-linear") {
    // The dedup-eval's exact ground truth is an inverted-index join over
    // probe shingles. With a FRACTION-sized probe set (the round-10 rule,
    // doc_id % 7) the enumeration grew with Σ df² — measured 45× work
    // for 10× docs. Round 11 derives the modulus from the corpus count
    // (Llm.probeModulus: |probe| ≈ 64 at any scale), so each probe's
    // fan-out grows only with shingle df — near-linear on a stable dup
    // rate. Round-10 also measured and REJECTED the exact alternatives
    // (prefix filtering degrades to a 247×-growing candidate set here —
    // see Llm.truthJoinWork's doc). This pin records the new law: a
    // corpus regeneration (or probe-rule change) that pushes the growth
    // well past linear is caught here, not discovered in a sweep.
    val d1 = Tables.documents(spark, "/root/testdata/sf0.01")
    val d10 = Tables.documents(spark, "/root/testdata/sf0.1")
    val nRatio = d10.count().toDouble / d1.count() // 10×
    val (w1, w10) =
      (math.max(1L, llm.Llm.truthJoinWork(d1)), llm.Llm.truthJoinWork(d10))
    val ratio = w10.toDouble / w1
    info(f"truth-join work: sf0.01=$w1 sf0.1=$w10 ratio=$ratio%.1f (n ratio $nRatio%.1f, old fraction-probe law was 45)")
    assert(ratio <= nRatio * 2,
      s"truth-join enumeration grew ${ratio}× for a ${nRatio}× corpus — " +
        "the constant-count probe rule stopped holding it near-linear")
  }

  test("a22 collapse law: the histogram frame grows sublinearly in the row count") {
    // a22's scale thesis: the windowed frame is the COLLAPSED (series,
    // quantized value) histogram, bounded by the value domain, not the
    // corpus. Pin that the collapse is real on this data: distinct
    // milli-unit values per row must FALL as the corpus grows (at 100 TB
    // the frame saturates at the domain size while rows keep growing).
    def shape(dir: String): (Long, Long) = {
      val e = Tables.events(spark, dir)
        .select(floor(col("value") * 1000.0 + 0.5).cast("long").as("vm"))
      (e.count(), e.distinct().count())
    }
    val (n1, d1) = shape("/root/testdata/sf0.01")
    val (n10, d10) = shape("/root/testdata/sf0.1")
    info(s"rows $n1→$n10, distinct vm $d1→$d10")
    val rowRatio = n10.toDouble / n1
    val distinctRatio = d10.toDouble / d1
    assert(distinctRatio < rowRatio * 0.5,
      s"histogram frame grew ${distinctRatio}× for a ${rowRatio}× corpus — no collapse")
  }

  test("m08 growth law: frame-fingerprint pair work grows sub-quadratically sf0.01 → sf0.1") {
    // pair work = Σ bsz·(bsz−1)/2 over post-cap fingerprint buckets —
    // exactly what the m08 self-join expands
    def pairWork(dir: String): Long = {
      val fr = llm.Multimodal
        .frameSample(llm.Multimodal.mediaTable(spark, dir)).toDF()
        .select(col("doc_id"), col("frame_md5")).distinct()
      fr.groupBy("frame_md5").agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") <= llm.Multimodal.FrameHashCap)
        .agg(coalesce(sum(expr("(bsz * (bsz - 1)) div 2")), lit(0L)))
        .head().getLong(0)
    }
    val n1 = Tables.documents(spark, "/root/testdata/sf0.01").count()
    val n10 = Tables.documents(spark, "/root/testdata/sf0.1").count()
    val nRatio = n10.toDouble / n1
    val (w1, w10) = (math.max(1L, pairWork("/root/testdata/sf0.01")),
      pairWork("/root/testdata/sf0.1"))
    val ratio = w10.toDouble / w1
    info(f"m08 pair work: sf0.01=$w1 sf0.1=$w10 ratio=$ratio%.1f (n ratio $nRatio%.1f)")
    // duplicates arrive in proportion to the corpus, so shared-frame
    // buckets grow ~linearly; quadratic would be nRatio² = 100×
    assert(ratio <= nRatio * 4,
      s"m08 pair work grew ${ratio}× for a ${nRatio}× corpus")
  }

  test("l34/l37 growth laws: segment stream linear, bigram count table vocab-bounded") {
    val d1 = Tables.documents(spark, "/root/testdata/sf0.01")
    val d10 = Tables.documents(spark, "/root/testdata/sf0.1")
    val nRatio = d10.count().toDouble / d1.count() // 10×
    // l34's shuffled stream is one row per 8-token segment — must track
    // corpus size (linear), since everything downstream rides that key;
    // measured on the SAME frame the query shuffles (Dedup.segmentsOf)
    def segRows(d: org.apache.spark.sql.DataFrame): Long =
      llm.Dedup.segmentsOf(d).count()
    val (s1, s10) = (segRows(d1), segRows(d10))
    val segRatio = s10.toDouble / s1
    info(f"l34 segments: sf0.01=$s1 sf0.1=$s10 ratio=$segRatio%.1f (n ratio $nRatio%.1f)")
    assert(segRatio <= nRatio * 1.5 && segRatio >= nRatio / 1.5,
      s"segment stream should be linear in corpus size, grew ${segRatio}×")
    // l37's n_hist/n_follow joins are broadcast BECAUSE the count table
    // is vocab²-bounded, not corpus-sized: 10× the corpus must not grow
    // distinct bigrams materially (closed vocabulary)
    def distinctBigrams(d: org.apache.spark.sql.DataFrame): Long =
      llm.Pipeline.bigramsOf(d).distinct().count()
    val (b1, b10) = (distinctBigrams(d1), distinctBigrams(d10))
    info(s"l37 distinct bigrams: sf0.01=$b1 sf0.1=$b10")
    assert(b10 <= b1 * 2,
      s"bigram count table grew ${b10.toDouble / b1}× for a ${nRatio}× corpus — " +
        "broadcast-join assumption would break on an open vocabulary")
  }

  test("corrupt-record quarantine: bad JSON rows split to a dead-letter side (R2/R3)") {
    val f = Files.createTempFile("graft_quarantine", ".jsonl")
    Files.writeString(f,
      """{"id": 1, "v": 10.5}
        |{"id": 2, "v": "not-a-double"}
        |this is not json at all
        |{"id": 4, "v": 2.25}
        |""".stripMargin)
    val df = spark.read
      .schema("id BIGINT, v DOUBLE, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(f.toString).cache()
    val good = df.filter(col("_corrupt_record").isNull).select("id", "v")
    val dead = df.filter(col("_corrupt_record").isNotNull).select("_corrupt_record")
    assert(good.collect().map(_.getLong(0)).toSet === Set(1L, 4L))
    assert(dead.count() === 2) // malformed value + non-json line
  }

  test("l38/g03 growth laws: span stream linear, capped pair work linear in key count") {
    val d1 = Tables.documents(spark, "/root/testdata/sf0.01")
    val d10 = Tables.documents(spark, "/root/testdata/sf0.1")
    val nRatio = d10.count().toDouble / d1.count() // 10×
    // l38's shuffled stream is one row per sliding window — linear in
    // corpus tokens; measured on the SAME frame the query shuffles
    def spanRows(d: org.apache.spark.sql.DataFrame): Long =
      llm.Spans.spanStream(d).count()
    val (s1, s10) = (spanRows(d1), spanRows(d10))
    val spanRatio = s10.toDouble / s1
    info(f"l38 spans: sf0.01=$s1 sf0.1=$s10 ratio=$spanRatio%.1f (n ratio $nRatio%.1f)")
    assert(spanRatio <= nRatio * 1.5 && spanRatio >= nRatio / 1.5,
      s"span stream should be linear in corpus size, grew ${spanRatio}×")
    // g03's pair fan-out is bounded by cap²/2 per supplier — total pair
    // work must grow like the SUPPLIER count (10× here), NOT like
    // uncapped Σ deg²/2 (which grows ~100× when degree scales with data)
    def pairWork(dir: String): (Long, Long) = {
      val e = Tables.lineitem(spark, dir)
        .select(col("l_suppkey").as("s"), col("l_partkey").as("p")).distinct()
      val degs = e.groupBy("s").agg(count(lit(1)).as("deg"))
        .select(col("deg"),
          least(col("deg"), lit(operators.Graph.CoocCap.toLong)).as("cdeg"))
        .agg(sum(expr("deg * (deg - 1) div 2")).as("uncapped"),
          sum(expr("cdeg * (cdeg - 1) div 2")).as("capped")).head()
      (degs.getLong(0), degs.getLong(1))
    }
    val (u1, c1) = pairWork("/root/testdata/sf0.01")
    val (u10, c10) = pairWork("/root/testdata/sf0.1")
    val cappedRatio = c10.toDouble / c1
    info(f"g03 pair work: capped $c1 -> $c10 (${cappedRatio}%.1f×), " +
      f"uncapped $u1 -> $u10 (${u10.toDouble / u1}%.1f×)")
    assert(cappedRatio <= nRatio * 1.5,
      s"capped pair work grew ${cappedRatio}× for a ${nRatio}× corpus")
    // on this fixture degrees grow slowly (parts scale alongside
    // suppliers), so the cap's value shows as MAGNITUDE, not growth
    // rate: two orders less pair work at sf0.1
    assert(u10.toDouble / c10 > 100,
      s"cap should cut pair work by >100× (got ${u10.toDouble / c10}×)")
  }

  test("j21 growth law: the fuzzy-join dictionary saturates while the corpus 10x's") {
    // the edit-distance work is a function of the NAME DICTIONARY, not
    // the table: vocabulary is bounded, so candidates stay ~constant as
    // rows scale — the whole point of the dedupe-first design
    def dictAndCandidates(dir: String): (Long, Long) = {
      val names = Tables.part(spark, dir).select("p_name").distinct()
        .withColumn("blk", org.apache.spark.sql.functions.substring(
          col("p_name"), -4, 4))
      val dict = names.count()
      val cands = names.as("x").join(names.as("y"),
        col("x.blk") === col("y.blk") && col("x.p_name") < col("y.p_name")).count()
      (dict, cands)
    }
    val (d1, c1) = dictAndCandidates("/root/testdata/sf0.01")
    val (d10, c10) = dictAndCandidates("/root/testdata/sf0.1")
    val rows1 = Tables.part(spark, "/root/testdata/sf0.01").count()
    val rows10 = Tables.part(spark, "/root/testdata/sf0.1").count()
    info(s"rows $rows1 -> $rows10; dict $d1 -> $d10; candidates $c1 -> $c10")
    assert(rows10 >= rows1 * 5, "fixture must actually scale")
    assert(d10 <= d1 * 2, s"dictionary should saturate: $d1 -> $d10")
    assert(c10 <= c1 * 4, s"candidate pairs should not track row count: $c1 -> $c10")
  }

  // shared records-read instrument for the growth-law tests: total task
  // input records across every job the body runs (listener-bus flushed
  // on both sides so attribution never leaks across measurements)
  private val recs = new java.util.concurrent.atomic.AtomicLong
  private val recsListener = new org.apache.spark.scheduler.SparkListener {
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null)
        recs.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
  }
  private def measure(body: => Unit): Long = {
    org.apache.spark.GraftSparkBridge
      .waitListenerBusEmpty(spark.sparkContext, 10000L)
    recs.set(0L)
    spark.sparkContext.addSparkListener(recsListener)
    try {
      body
      org.apache.spark.GraftSparkBridge
        .waitListenerBusEmpty(spark.sparkContext, 10000L)
    } finally spark.sparkContext.removeSparkListener(recsListener)
    recs.get
  }

  private def growthAlpha(a: Long, b: Long): Double =
    math.log(b.toDouble / a) / math.log(10.0)

  test("CDC growth law: change-feed records-read ~constant as the table " +
      "10×'s at FIXED delta (cost ∝ delta); snapshot recompute grows ~linearly") {
    // The change-feed family's central scale claim, MEASURED: build the
    // same commit shape at n and 10n rows with an IDENTICAL absolute
    // delta (120 keys updated/deleted + 30 inserts), constant-size data
    // files (file count scales with the table — the production posture),
    // range-clustered so the delta's keys live in O(1) files. The feed
    // must read the delta's files, never the corpus; the from-scratch
    // snapshot read is the ~linear contrast that shows the instrument
    // would have caught a table-sized feed.
    def build(n: Long, tag: String): String = {
      val root = Tables.scratchPath(s"cdc_law_$tag", sf)
      val log = s"$root/log"
      operators.Lakehouse.wipeLog(log)
      val t = spark.range(n).select(col("id").as("o_orderkey"),
        (col("id") % 3).cast("string").as("o_orderstatus"),
        (col("id") % 997).cast("double").as("o_totalprice"))
      t.repartitionByRange((n / 2500).toInt.max(2), col("o_orderkey"))
        .write.mode("overwrite").parquet(s"$root/base")
      val baseAdds = operators.Lakehouse.listDataFiles(s"$root/base")
        .map(("add", _))
      operators.Lakehouse.s28Commit(spark, log, 0, baseAdds)
      val upd = col("o_orderkey") < 100
      val del = col("o_orderkey") >= 100 && col("o_orderkey") < 120
      spark.read.parquet(s"$root/base").filter(upd || del)
        .select(col("_metadata.file_path").as("file_path"),
          col("_metadata.row_index").as("row_index"))
        .write.mode("overwrite").parquet(s"$root/dv1")
      t.filter(upd).withColumn("o_totalprice", col("o_totalprice") + 10.0)
        .unionByName(spark.range(30).select(
          (col("id") + 900000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), lit(1.0).as("o_totalprice")))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/add1")
      operators.Lakehouse.s28Commit(spark, log, 1,
        baseAdds ++ operators.Lakehouse.listDataFiles(s"$root/add1")
          .map(("add", _)) :+ (("dv", s"$root/dv1")))
      log
    }
    val (n1, n10) = (20000L, 200000L)
    val (log1, log10) = (build(n1, "s"), build(n10, "l"))
    val feed1 = measure {
      operators.Lakehouse.s28Cdf(spark, log1, 0, 1, "o_orderkey").count(); ()
    }
    val feed10 = measure {
      operators.Lakehouse.s28Cdf(spark, log10, 0, 1, "o_orderkey").count(); ()
    }
    val snap1 = measure {
      operators.Lakehouse.s28Snapshot(spark, log1, 1).count(); ()
    }
    val snap10 = measure {
      operators.Lakehouse.s28Snapshot(spark, log10, 1).count(); ()
    }
    val (aFeed, aSnap) = (growthAlpha(feed1, feed10), growthAlpha(snap1, snap10))
    info(f"feed records $feed1 -> $feed10 (alpha=$aFeed%.2f); " +
      f"snapshot $snap1 -> $snap10 (alpha=$aSnap%.2f)")
    assert(feed1 > 0 && feed10 > 0)
    // the feed's exponent in TABLE SIZE at fixed delta is ~0 — allow
    // generous slack for range-boundary straddle and footer reads
    assert(aFeed < 0.3,
      f"change feed scaled with the table (alpha=$aFeed%.2f: " +
        s"$feed1 -> $feed10 records for 10x rows at fixed delta)")
    // the contrast: a snapshot recompute IS table-sized — proves the
    // instrument distinguishes the two shapes
    assert(aSnap > 0.7,
      f"snapshot contrast unexpectedly flat (alpha=$aSnap%.2f)")
  }

  test("row-lineage feed growth law: s31Cdf records-read ~constant as the " +
      "table 10×'s at FIXED delta, with a compaction INSIDE the window") {
    // the s31 walker's scale claim, measured the same way: a window
    // containing [merge, compaction, merge] at n and 10n rows with the
    // same absolute per-merge delta; the walker reads the two merges'
    // delta files + touched pre-image files and only POINTER IO for the
    // rewrite — the feed must not inherit the compaction's table-sized
    // footprint
    def build(n: Long, tag: String): String = {
      val root = Tables.scratchPath(s"s31_law_$tag", sf)
      val log = s"$root/log"
      operators.Lakehouse.wipeLog(log)
      val t = spark.range(n).select(col("id").as("o_orderkey"),
        (col("id") % 3).cast("string").as("o_orderstatus"),
        (col("id") % 997).cast("double").as("o_totalprice"),
        (col("id") + 3000000000L).as("_row_id"))
      val files = (n / 2500).toInt.max(2)
      t.repartitionByRange(files, col("o_orderkey"))
        .write.mode("overwrite").parquet(s"$root/base")
      val baseAdds = operators.Lakehouse.listDataFiles(s"$root/base")
        .map(("add", _))
      operators.Lakehouse.s28Commit(spark, log, 0, baseAdds)
      // v1 MERGE: fixed 100-key update delta, range-clustered → O(1) files
      val upd = col("o_orderkey") < 100
      spark.read.parquet(s"$root/base").filter(upd)
        .select(col("_metadata.file_path").as("file_path"),
          col("_metadata.row_index").as("row_index"))
        .write.mode("overwrite").parquet(s"$root/dv1")
      t.filter(upd).withColumn("o_totalprice", col("o_totalprice") + 10.0)
        .coalesce(1).write.mode("overwrite").parquet(s"$root/add1")
      operators.Lakehouse.s28Commit(spark, log, 1,
        baseAdds ++ operators.Lakehouse.listDataFiles(s"$root/add1")
          .map(("add", _)) :+ (("dv", s"$root/dv1")))
      // v2 COMPACTION (declared no-data-change) — table-sized WRITE cost
      // paid by the build, which the feed must NOT inherit
      operators.Lakehouse.s28Snapshot(spark, log, 1)
        .repartitionByRange(files, col("o_orderkey"))
        .write.mode("overwrite").parquet(s"$root/compact")
      val ncAdds = operators.Lakehouse.listDataFiles(s"$root/compact")
        .map(("addnc", _))
      operators.Lakehouse.s28Commit(spark, log, 2, ncAdds)
      // v3 MERGE against the compacted files: another fixed 100-key delta
      val upd2 = col("o_orderkey") >= 200 && col("o_orderkey") < 300
      val snap2 = spark.read.parquet(s"$root/compact")
      snap2.filter(upd2)
        .select(col("_metadata.file_path").as("file_path"),
          col("_metadata.row_index").as("row_index"))
        .write.mode("overwrite").parquet(s"$root/dv3")
      snap2.filter(upd2)
        .withColumn("o_totalprice", col("o_totalprice") + 5.0)
        .coalesce(1).write.mode("overwrite").parquet(s"$root/add3")
      operators.Lakehouse.s28Commit(spark, log, 3,
        ncAdds ++ operators.Lakehouse.listDataFiles(s"$root/add3")
          .map(("add", _)) :+ (("dv", s"$root/dv3")))
      log
    }
    val (log1, log10) = (build(20000L, "s"), build(200000L, "l"))
    val f1 = measure {
      operators.Lakehouse.s31Cdf(spark, log1, 0, 3, "_row_id").count(); ()
    }
    val f10 = measure {
      operators.Lakehouse.s31Cdf(spark, log10, 0, 3, "_row_id").count(); ()
    }
    val a = growthAlpha(f1, f10)
    info(f"s31 feed records $f1 -> $f10 (alpha=$a%.2f) across a rewrite")
    assert(f1 > 0 && f10 > 0)
    assert(a < 0.3,
      f"row-lineage feed scaled with the table (alpha=$a%.2f: " +
        s"$f1 -> $f10 records for 10x rows at fixed delta)")
  }
}
