package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Semantic properties of the training-pipeline operators (llm.Pipeline),
  * beyond the smoke/oracle coverage. */
class PipelineSpec extends SparkSuite {
  import spark.implicits._

  test("l14: eval slice excluded, contaminated == (n_hits > 0), hits bounded") {
    val out = llm.Pipeline.l14(spark, sf).cache()
    assert(out.filter(col("doc_id") % 97 === 0).count() == 0)
    assert(out.filter(col("contaminated") =!= (col("n_hits") > 0).cast("int")).count() == 0)
    assert(out.filter(col("n_hits") > col("n_grams")).count() == 0)
    out.unpersist()
  }

  test("l24: bloom prefilter + exact verify equals the exact-join contamination") {
    val bloom = llm.Pipeline.l24(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact reference: plain hash-set join over the same % 31 eval slice
    val grams = Tables.documents(spark, sf)
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w)-7), i -> concat_ws(' ', slice(w, i, 8)))")).as("g"))
      .distinct()
    val evalG = grams.filter(col("doc_id") % 31 === 0).select("g").distinct()
    val exact = grams.filter(col("doc_id") % 31 =!= 0)
      .join(evalG, "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bloom == exact, "bloom-path hit counts must equal the exact join")
    assert(bloom.nonEmpty, "contamination fixture must be non-empty")
  }

  test("l15: distributed prefix-sum packing equals the naive global-window packing") {
    val capacity = 2048
    val naive = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("cum_before",
        sum("n_tok").over(Window.orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("n_tok"))
      .withColumn("bin_id", floor(col("cum_before") / capacity).cast("long"))
      .groupBy("bin_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("bin_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .withColumn("fill_ratio", floor(col("bin_tokens") / lit(capacity.toDouble) * 1e6 + 0.5) / 1e6)
    val packed = llm.Pipeline.l15(spark, sf)
    assert(packed.exceptAll(naive).count() == 0 && naive.exceptAll(packed).count() == 0)
  }

  test("l15: bins partition the corpus (doc and token totals conserved)") {
    val docs = Tables.documents(spark, sf)
    val totalDocs = docs.count()
    val totalTok = docs.select(sum(size(split(col("text"), " ")).cast("long"))).as[Long].head()
    val agg = llm.Pipeline.l15(spark, sf)
      .select(sum("n_docs").as("d"), sum("bin_tokens").as("t")).head()
    assert(agg.getLong(0) == totalDocs && agg.getLong(1) == totalTok)
  }

  test("l16: 'en' stratum keeps everything; kept never exceeds total") {
    val out = llm.Pipeline.l16(spark, sf).cache()
    val en = out.filter(col("lang") === "en").head()
    assert(en.getAs[Long]("n_kept") == en.getAs[Long]("n_total"))
    assert(out.filter(col("n_kept") > col("n_total")).count() == 0)
    out.unpersist()
  }

  test("l17: every epoch of a source replicates the same doc count, epochs = 1 + idx % 3") {
    val out = llm.Pipeline.l17(spark, sf).cache()
    val perSource = out.groupBy("source")
      .agg(countDistinct("n_docs").as("distinct_counts"), max("epoch").as("max_epoch"))
      .collect()
    perSource.foreach { r =>
      assert(r.getAs[Long]("distinct_counts") == 1L, s"uneven replication for ${r.getString(0)}")
      val idx = r.getString(0).drop(3).toInt
      assert(r.getAs[Long]("max_epoch") == 1L + idx % 3)
    }
    out.unpersist()
  }

  test("l18: keep is exactly the conjunction of the four rules") {
    val out = llm.Pipeline.l18(spark, sf)
    assert(out.filter(
      col("keep") =!= (col("r_len") * col("r_wlen") * col("r_digit") * col("r_sym"))).count() == 0)
  }

  test("l48: per-language fertility reconciles with the encode output; fertility >= 1") {
    val docs = Tables.documents(spark, sf)
    val merges = llm.Pipeline.bpeTrain(docs).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val enc = llm.Pipeline.bpeEncode(docs, merges)
      .join(docs.select("doc_id", "lang"), "doc_id").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_syms_bpe")))
    val expected = enc.groupBy(_._1).map { case (lang, xs) =>
      val (w, s) = (xs.map(_._2).sum, xs.map(_._3).sum)
      lang -> (xs.length.toLong, w, s,
        math.floor(s.toDouble / w * 1e6 + 0.5) / 1e6)
    }
    val got = llm.Pipeline.l48(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    assert(got === expected)
    // a merge can only join symbols, never split: fertility ≥ 1 everywhere,
    // and the learned merges must have compressed the corpus overall
    got.values.foreach { case (_, _, _, f) => assert(f >= 1.0) }
    val chars = llm.Pipeline.bpeEncode(docs, merges)
      .agg(org.apache.spark.sql.functions.sum("n_syms_chars"),
        org.apache.spark.sql.functions.sum("n_syms_bpe")).collect()(0)
    assert(chars.getLong(1) < chars.getLong(0),
      "trained merges compressed nothing")
  }

  test("bpeTrain cold runs one ACTION per round (+1 periodic re-cache), not two") {
    // the round-10 shape: merge maps chain LAZILY into the next round's
    // top-pair job, re-materializing only every CacheEvery rounds — a
    // regression back to cache-per-round adds a materialization action
    // every round. Job counts are AQE-inflated (each shuffle stage is
    // its own job: measured 27 for 10 rounds ≈ 2.6/round on this shape;
    // cache-per-round adds ~1-2 more per round → 37+), so the pin sits
    // between the two shapes rather than at the action count.
    llm.Pipeline.clearTrainMemo()
    // count only jobs tagged with THIS test's job group — a global count
    // on the shared SparkContext would also pick up incidental jobs from
    // suite state or AQE plan variation and flake the ceiling
    val group = "graft-bpe-train-pin"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "bpeTrain job-count pin")
    try {
      val rounds = 10
      val merges = llm.Pipeline.bpeTrain(Tables.documents(spark, sf), rounds)
      assert(merges.count() === rounds.toLong) // full training, no early stop
      org.apache.spark.GraftSparkBridge
        .waitListenerBusEmpty(spark.sparkContext, 10000L)
      assert(jobs.get() <= 3 * rounds + 2,
        s"bpeTrain($rounds rounds) ran ${jobs.get()} jobs — cache-per-round regression?")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("l47: manifest matches a driver-side recompute and the XOR fingerprint " +
      "detects any single-document drop") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def h15(s: String): Long = java.lang.Long.parseLong(md5Hex(s).take(15), 16)
    val manifest = docs.groupBy { case (id, _) => h15(s"shard:$id") % 8 }
      .map { case (shard, ds) =>
        shard -> (ds.length.toLong,
          ds.map(_._2.split("\\s+", -1).length.toLong).sum,
          ds.map(_._2.getBytes("UTF-8").length.toLong).sum,
          ds.map(d => h15(d._2)).reduce(_ ^ _),
          ds.map(_._1).min, ds.map(_._1).max)
      }
    val got = llm.Llm.l47(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got === manifest)
    // integrity property: removing any one doc flips its shard's xor
    // (h ^ h' == 0 only if the dropped doc's hash is 0 — never for md5)
    docs.take(20).foreach { case (id, text) =>
      val shard = h15(s"shard:$id") % 8
      val without = docs.filter(d => d._1 != id && h15(s"shard:${d._1}") % 8 == shard)
      if (without.nonEmpty) {
        val x = without.map(d => h15(d._2)).reduce(_ ^ _)
        assert(x !== got(shard)._4, s"dropping doc $id must flip shard $shard xor")
      }
    }
  }

  test("l42: BPE pair counts match a driver-side recompute; pair pass is vocab-bounded") {
    val texts = Tables.documents(spark, sf).select("text").collect().map(_.getString(0))
    val freq = texts.flatMap(_.toLowerCase.split(" "))
      .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    val pairCounts = freq.toSeq.filter(_._1.length >= 2).flatMap { case (w, f) =>
      (0 until w.length - 1).map(i => w.substring(i, i + 2) -> f)
    }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    val expected = pairCounts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    val got = llm.Pipeline.l42(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got === expected)
    // the pair explode runs over the distinct-word table, not the corpus:
    // its input row count is the vocabulary size
    val vocab = freq.size
    val corpusTokens = texts.map(_.split(" ").length).sum
    assert(vocab < corpusTokens / 10, "fixture: vocab must be far smaller than corpus")
  }

  test("l43: distributed BPE training matches a reference trainer round-for-round") {
    val texts = Tables.documents(spark, sf).select("text").collect().map(_.getString(0))
    var freq: Map[Seq[String], Long] = texts.flatMap(_.toLowerCase.split(" "))
      .groupBy(identity).map { case (w, xs) => w.map(_.toString).toSeq -> xs.length.toLong }
    val expected = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var r = 1
    var halted = false
    while (r <= 10 && !halted) {
      val counts = freq.toSeq.flatMap { case (syms, f) =>
        syms.sliding(2).collect { case Seq(a, b) => ((a, b), f) }
      }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
      if (counts.isEmpty) halted = true
      else {
        val ((a, b), n) = counts.minBy { case ((x, y), c) => (-c, x, y) }
        expected += ((r.toLong, a, b, n))
        freq = freq.toSeq.map { case (syms, f) =>
          llm.Pipeline.mergePair(syms, a, b) -> f
        }.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
        r += 1
      }
    }
    val got = llm.Pipeline.l43(spark, sf).collect()
      .map(row => (row.getLong(0), row.getString(1), row.getString(2), row.getLong(3)))
    assert(got.toSeq === expected.toSeq)
    assert(got.length === 10, "corpus must sustain 10 merge rounds")
    // merged tokens grow: later rounds may pick multi-char symbols
    assert(got.exists { case (_, a, b, _) => a.length > 1 || b.length > 1 },
      "some merge must involve an already-merged token")
  }

  test("l45: BPE encode matches a reference encoder; merges only ever shrink") {
    // reference: train merges locally (the l43 spec already proves the
    // distributed trainer equals this), then encode every doc
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    var freq: Map[Seq[String], Long] = texts.flatMap(_._2.toLowerCase.split(" "))
      .groupBy(identity).map { case (w, xs) => w.map(_.toString).toSeq -> xs.length.toLong }
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    (1 to 10).foreach { _ =>
      val counts = freq.toSeq.flatMap { case (syms, f) =>
        syms.sliding(2).collect { case Seq(a, b) => ((a, b), f) }
      }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
      val ((a, b), _) = counts.minBy { case ((x, y), c) => (-c, x, y) }
      merges += ((a, b))
      freq = freq.toSeq.map { case (syms, f) =>
        llm.Pipeline.mergePair(syms, a, b) -> f
      }.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
    }
    val expected = texts.map { case (id, t) =>
      val words = t.toLowerCase.split(" ")
      val nStart = words.map(_.length.toLong).sum
      val nEnd = words.map { w =>
        merges.foldLeft(w.map(_.toString): Seq[String])((s, m) =>
          llm.Pipeline.mergePair(s, m._1, m._2)).length.toLong
      }.sum
      (id, words.length.toLong, nStart, nEnd)
    }.sortBy(_._1)
    val got = llm.Pipeline.l45(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === expected.toSeq)
    got.foreach { case (id, _, s, e) =>
      assert(e <= s && e >= 1, s"doc $id symbol count must shrink, never vanish")
    }
    // the learned merges must actually compress the corpus
    assert(got.map(_._4).sum < got.map(_._3).sum)
  }

  test("l41: stochastic-rounded copies match a driver-side recompute; both tails fire") {
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expected = texts.flatMap { case (id, t) =>
      val toks = t.toLowerCase.split(" ")
      val n = toks.length
      val uniqPct = 100 * toks.distinct.length / n
      val stopPct = 100 * toks.count(w => w == "a" || w == "the") / n
      val wq = 2 + (if (uniqPct >= 60) 2 else 0) + (if (n >= 40) 2 else 0) +
        (if (stopPct >= 8) 2 else 0)
      val u4 = java.lang.Long.parseLong(md5Hex(s"rs:$id").take(15), 16) % 4
      val copies = wq / 4 + (if (u4 < wq % 4) 1 else 0)
      (1 to copies).map(ci => (id, wq.toLong, copies.toLong, ci.toLong))
    }.sortBy(x => (x._1, x._4))
    val got = llm.Pipeline.l41(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === expected.toSeq)
    // expectation math only holds if both rounding tails occur
    val perDoc = expected.groupBy(_._1).map(_._2.head._3)
    assert(perDoc.exists(_ == 2L), "some doc must upsample to 2 copies")
    assert(texts.size > perDoc.size, "some doc must drop to 0 copies")
  }

  test("l51: temperature mixing flattens the distribution monotonically") {
    val rows = llm.Pipeline.l51(spark, sf).collect().map { r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))
    }
    // probabilities are distributions (up to the 1e-6 surface rounding)
    assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-4, "p_natural sums to 1")
    assert(math.abs(rows.map(_._6).sum - 1.0) < 1e-4, "p_temp sums to 1")
    // α = 0.5 flattening: every slice above the mean share is downweighted,
    // every slice below it is upweighted (boost crosses 1 with size)
    val totChars = rows.map(_._4).sum.toDouble
    rows.foreach { case (src, lang, _, nc, pn, pt, boost) =>
      val exp = math.sqrt(nc.toDouble) /
        rows.map(r => BigDecimal(math.sqrt(r._4.toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).sum
      assert(math.abs(pt - exp) < 1e-4, s"($src,$lang) p_temp")
      assert(math.abs(boost - pt / pn) < 1e-2, s"($src,$lang) boost")
      if (nc.toDouble / totChars > 1.5 / rows.length)
        assert(boost < 1.0, s"($src,$lang) big slice must downweight")
    }
    assert(rows.exists(_._7 > 1.0), "some small slice must upweight")
  }

  test("l61: provenance kept-population equals l19's surviving counts; reach contract holds") {
    val rows = llm.Pipeline.l61(spark, sf).collect().map { r =>
      def f(i: Int) = if (r.isNullAt(i)) None else Some(r.getInt(i))
      (r.getLong(0), f(1).get, f(2), f(3), f(4),
        if (r.isNullAt(5)) None else Some(r.getString(5)), r.getInt(6))
    }
    // the audit must account for every document exactly once
    assert(rows.length === Tables.documents(spark, sf).count().toInt)
    // kept == l19's surviving population (the flags reproduce the pipeline)
    val l19Total = llm.Pipeline.l19(spark, sf).agg(sum("n_docs")).collect()(0).getLong(0)
    assert(rows.count(_._7 == 1).toLong === l19Total)
    rows.foreach { case (id, fe, fq, fd, fc, failed, kept) =>
      // reach contract: each flag NULL iff an earlier stage failed
      assert((fq.isEmpty) === (fe == 1), s"$id quality reach")
      assert((fd.isEmpty) === (fe == 1 || fq.contains(1)), s"$id dup reach")
      assert((fc.isEmpty) === (fd.forall(_ != 0)), s"$id contam reach")
      // first_failed names the first 1-flag; kept iff none failed
      val expectFailed =
        if (fe == 1) Some("eval_holdout")
        else if (fq.contains(1)) Some("quality")
        else if (fd.contains(1)) Some("exact_dup")
        else if (fc.contains(1)) Some("contaminated")
        else None
      assert(failed === expectFailed, s"$id first_failed")
      assert((kept == 1) === expectFailed.isEmpty, s"$id kept")
    }
  }

  test("l61: synthetic fixture fires every gate") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_l61").toString
    val eight = "alpha beta gamma delta epsilon zeta eta theta"
    Seq(
      (0L, eight + " benchmark", "en", "s"),          // doc_id%97==0: eval holdout
      (1L, "tiny", "en", "s"),                        // <5 words: quality
      (2L, "copy body one small two small three small", "en", "s"), // dup pair, min id keeps
      (3L, "copy body one small two small three small", "en", "s"), //   -> exact_dup
      (4L, eight + " tail", "en", "s"),               // shares an 8-gram with doc 0
      (5L, "clean unique words nine ten eleven twelve thirteen", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = llm.Pipeline.l61(spark, dir).collect().map { r =>
      r.getLong(0) -> ((if (r.isNullAt(5)) None else Some(r.getString(5))), r.getInt(6))
    }.toMap
    assert(got(0L) === ((Some("eval_holdout"), 0)))
    assert(got(1L) === ((Some("quality"), 0)))
    assert(got(2L) === ((None, 1)), s"keeper of the dup pair must survive: $got")
    assert(got(3L) === ((Some("exact_dup"), 0)))
    assert(got(4L) === ((Some("contaminated"), 0)))
    assert(got(5L) === ((None, 1)))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("l60: per-source percentile calibration matches a driver replay; the gate keeps the same fraction everywhere") {
    val q = llm.Llm.qualityU(Tables.documents(spark, sf)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val src = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = src.groupBy(_._2).flatMap { case (_, ds) =>
      val qs = ds.keys.toSeq.map(q) // toSeq FIRST: a set of ids mapped to quality collapses duplicate scores
      val n = qs.size.toLong
      ds.keys.map { id =>
        val below = qs.count(_ < q(id)).toLong
        val pct = below * 1000000L / n
        id -> ((src(id), q(id), pct, if (pct >= 250000L) 1 else 0))
      }
    }
    val got = llm.Llm.l60(spark, sf).collect().map { r =>
      r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    }.toMap
    assert(got === expected)
    // calibrated gate: every source keeps ~75%, within the quantization
    // slack of its own size (the strictly-below rule rounds the cut DOWN
    // one whole value step, so the band is one-sided plus tie mass)
    val bySource = got.values.groupBy(_._1)
    bySource.foreach { case (s, rows) =>
      val frac = rows.count(_._4 == 1).toDouble / rows.size
      val slack = 0.05 + 2.0 / rows.size
      assert(frac <= 0.75 + slack && frac >= 0.75 - slack, s"source $s kept $frac")
    }
    // and it is NOT an absolute threshold in disguise: the raw-score cut
    // the gate lands on differs across sources
    val cuts = bySource.map { case (_, rows) =>
      rows.filter(_._4 == 1).map(_._2).min
    }.toSet
    assert(cuts.size >= 2, "every source gated at the same raw score")
  }

  test("l53: keep-best replay — union-find clusters, quality argmax keeper") {
    val pairs = llm.Llm.l02(spark, sf).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val q = llm.Llm.qualityU(Tables.documents(spark, sf)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val clusters = q.keys.groupBy(find)
    val expected = clusters.map { case (_, ids) =>
      val keep = ids.minBy(id => (-q(id), id))
      // rep label is the min id of the component (Fixpoint's contract)
      ids.min -> ((keep, q(keep), ids.size.toLong))
    }
    val got = llm.Pipeline.l53(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
    // at least one multi-doc cluster must keep a non-rep (quality beat id)
    assert(got.exists { case (rep, (keep, _, n)) => n > 1 && keep != rep },
      "no cluster kept a higher-quality non-representative")
  }

  test("shared CC labeling: one dedupClusterLabels run feeds both l21From and l53From") {
    // the library path a user takes when running both passes over one
    // corpus: the CC fixpoint (the dominant cost) is paid ONCE, and the
    // derived outputs are exactly the registered queries' results
    val labels = llm.Pipeline.dedupClusterLabels(spark, sf)
    // memo pin: a second call over the same (session, corpus) returns the
    // SAME materialized frame — the fixpoint is not re-run (the r8 sweep
    // tail was l21+l53 each paying it independently)
    assert(llm.Pipeline.dedupClusterLabels(spark, sf) eq labels,
      "dedupClusterLabels memo missed on an identical (session, dir)")
    val l21Shared = llm.Pipeline.l21From(labels).collect().map(_.toSeq).toSet
    val l53Shared = llm.Pipeline.l53From(spark, sf, labels).collect().map(_.toSeq).toSet
    assert(l21Shared === llm.Pipeline.l21(spark, sf).collect().map(_.toSeq).toSet)
    assert(l53Shared === llm.Pipeline.l53(spark, sf).collect().map(_.toSeq).toSet)
    // clearCcMemo (not a bare release) — the memo owns the frame's blocks
    llm.Pipeline.clearCcMemo()
  }

  test("l63: incremental CC merge equals from-scratch CC on a synthetic bridge graph") {
    import spark.implicits._
    // batch rule: ids % 10 == 0 are the new ingest. The graph exercises
    // every merge shape at once:
    //  - BRIDGE: new doc 20 connects hist components {1,2,3} and {5,6}
    //    → one merged component, label 1
    //  - ATTACH + LABEL TAKEOVER: new docs 30 and 0 join hist component
    //    {11,12}; 0 < 11, so the merged label is the NEW doc's id
    //  - DELTA-ONLY: new docs 40-50 pair with each other (no hist side)
    //  - FIRST-EDGE HIST DOC: hist doc 7's only edge arrives in the
    //    delta (7-70) — it is in no persisted component, so it enters
    //    the merge graph as itself
    val edges = Seq(
      (1L, 2L), (2L, 3L), (5L, 6L), (11L, 12L), // historical edges
      (3L, 20L), (20L, 5L), (40L, 50L), (30L, 11L), (0L, 12L), (7L, 70L))
      .toDF("a", "b")
    val isNew = (c: org.apache.spark.sql.Column) => pmod(c, lit(10)) === 0
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_l63_spec").toString + "/labels"
    val inc = llm.Pipeline.incrementalCcLabels(spark, edges, isNew, tmp)
    val got = inc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = graft.Fixpoint.connectedComponentsStar(edges)
    val expected = full.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.Fixpoint.release(full)
    graft.Fixpoint.release(inc)
    assert(got === expected)
    // the shapes above actually landed where claimed
    assert(got(20L) === 1L && got(5L) === 1L, "bridge merge failed")
    assert(got(11L) === 0L && got(30L) === 0L, "new-doc label takeover failed")
    assert(got(40L) === 40L && got(50L) === 40L)
    assert(got(7L) === 7L && got(70L) === 7L)
    // the persisted state really is historical-only (published labels
    // never contain same-day docs)
    val persisted = spark.read.parquet(tmp)
      .collect().map(r => r.getLong(0)).toSet
    assert(persisted === Set(1L, 2L, 3L, 5L, 6L, 11L, 12L))
  }

  test("l63: the merge graph is delta-sized on the real corpus") {
    // the 100 TB contract: the fixpoint's input after contraction has one
    // node per affected component / delta-only doc — never one per corpus
    // document, and never more edges than the delta itself
    val pairs = llm.Llm.l02(spark, sf).select("a", "b")
    val isNew = (c: org.apache.spark.sql.Column) => pmod(c, lit(10)) === 0
    val deltaEdges = pairs.filter(isNew(col("a")) || isNew(col("b")))
    val histCc = graft.Fixpoint.connectedComponentsStar(
      pairs.filter(!isNew(col("a")) && !isNew(col("b"))))
    val contracted = llm.Pipeline.contractDelta(deltaEdges, histCc)
    val mergeNodes = contracted.select(col("a").as("id"))
      .union(contracted.select(col("b").as("id"))).distinct().count()
    val fullNodes = pairs.select(col("a").as("id"))
      .union(pairs.select(col("b").as("id"))).distinct().count()
    val (nDelta, nContracted) = (deltaEdges.count(), contracted.count())
    info(s"full graph nodes=$fullNodes, merge graph nodes=$mergeNodes, " +
      s"delta edges=$nDelta, contracted edges=$nContracted")
    graft.Fixpoint.release(histCc)
    assert(nContracted <= nDelta,
      "contraction must never grow the edge set")
    assert(mergeNodes < fullNodes,
      "merge graph must be smaller than the full corpus graph")
    llm.Llm.clearPairsMemo()
  }

  test("l64: fused day-close agrees with each leg (l25 verdicts, l21 labels, " +
      "l54 first-bucket mass) and costs fewer jobs than the legs run separately") {
    val rows = llm.Pipeline.l64(spark, sf).collect().map { r =>
      r.getLong(0) -> ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    }.toMap
    // probe leg == l25 (cap never binds at this SF, so capped == uncapped)
    val l25rows = llm.Llm.l25(spark, sf).collect().map { r =>
      r.getLong(0) -> ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    }.toMap
    assert(rows.keySet === l25rows.keySet)
    rows.foreach { case (id, (st, dup, _, _, _)) =>
      assert((st, dup) === l25rows(id), s"doc $id probe verdict diverged from l25")
    }
    // label leg == l21 for graph members; singleton default elsewhere
    val l21rows = llm.Pipeline.l21(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    rows.foreach { case (id, (_, _, lab, cs, _)) =>
      l21rows.get(id) match {
        case Some((rep, size)) => assert((lab, cs) === ((rep, size)),
          s"doc $id label/size diverged from l21")
        case None => assert((lab, cs) === ((id, 1L)),
          s"graph-free doc $id must be its own singleton")
      }
    }
    // index leg: total first-ever buckets == l54's n_new mass in buckets
    // with no historical member (each new member of a fresh bucket is one
    // first-bucket contribution)
    val l54fresh = llm.Llm.l54(spark, sf)
      .filter(col("n_hist") === 0L)
      .agg(org.apache.spark.sql.functions.sum("n_new")).collect()(0).getLong(0)
    assert(rows.values.map(_._5).sum === l54fresh,
      "per-doc first-bucket counts must tile l54's fresh-bucket mass")
    llm.Pipeline.clearCcMemo()
  }

  test("l64: the fusion is real — one fused run costs fewer jobs than the " +
      "three legs run cold and separately") {
    def countJobs(group: String)(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(e.properties)
              .exists(_.getProperty("spark.jobGroup.id") == group))
            jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobGroup(group, group)
      try {
        body
        org.apache.spark.GraftSparkBridge
          .waitListenerBusEmpty(spark.sparkContext, 10000L)
        jobs.get()
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(listener)
      }
    }
    llm.Pipeline.clearCcMemo() // cold on both sides: no pair/CC memo hits
    val fused = countJobs("graft-l64-fused") {
      llm.Pipeline.l64(spark, sf).collect()
    }
    llm.Pipeline.clearCcMemo()
    val separate = countJobs("graft-l64-separate") {
      llm.Llm.l25(spark, sf).collect()
      llm.Llm.l54(spark, sf).collect()
      llm.Pipeline.l63(spark, sf).collect()
    }
    llm.Pipeline.clearCcMemo()
    info(s"fused=$fused jobs, separate=$separate jobs")
    assert(fused < separate,
      s"the composition must share the shingle/band derivation: $fused >= $separate")
  }

  test("l65: the merge invariant survives iteration — every persisted day's " +
      "labels equal a from-scratch CC over that day's prefix graph") {
    import spark.implicits._
    // day(id) = id%10 when in {1,2,3}, else base(0). The graph forces the
    // shapes that would expose a broken invariant under ITERATION:
    //  base : {14,15,16} and {24,25}
    //  day 1: 21 attaches to the 14-component; (31,41) is delta-only
    //  day 2: 2 TAKES OVER the 24-component's label (2 < 24); 22 attaches
    //         to the 14-component — day 3 must contract through BOTH
    //         rewritten labels, not the day-0 ones
    //  day 3: 3 re-takes the 2-component; 23 attaches to {31,41}; 33
    //         bridges the 14- and 2-components into one giant merge
    val edges = Seq(
      (14L, 15L), (15L, 16L), (24L, 25L), // base
      (16L, 21L), (31L, 41L), // day 1
      (2L, 24L), (22L, 14L), // day 2
      (3L, 2L), (23L, 41L), (33L, 22L), (33L, 25L) // day 3
    ).toDF("a", "b")
    def day(c: org.apache.spark.sql.Column) =
      when(pmod(c, lit(10)).isin(1, 2, 3), pmod(c, lit(10))).otherwise(lit(0L))
    val root = java.nio.file.Files
      .createTempDirectory("graft_l65_spec").toString + "/labels"
    val fin = llm.Pipeline.l65Close(spark, edges, root)
    for (d <- 0 to 3) {
      val prefix = edges.filter(greatest(day(col("a")), day(col("b"))) <= d)
      val scratch = graft.Fixpoint.connectedComponentsStar(prefix)
      val expected = scratch.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.Fixpoint.release(scratch)
      val got = spark.read.parquet(s"$root/day$d")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"day $d diverged from the prefix rebuild")
    }
    // the takeover chain really happened: 3 ends up labeling the merged
    // giant component that contains base, day-1, day-2 and day-3 docs
    val lab3 = spark.read.parquet(s"$root/day3")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(14L, 21L, 22L, 24L, 33L, 2L).forall(lab3(_) == 2L),
      s"expected the giant merge under label 2: $lab3")
    assert(lab3(23L) === 23L && lab3(31L) === 23L && lab3(41L) === 23L)
    graft.Fixpoint.release(fin)
  }

  test("ccMemo staleness contract: same corpus hits, rewrite-in-place needs clearCcMemo") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ccmemo").toString
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val longA = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3).trim
    val longB = ("one two three four five six seven eight nine ten more " * 3).trim
    write(Seq(1L -> longA, 2L -> longA,
      3L -> "totally unrelated filler words beyond eight tokens in this row"))
    llm.Pipeline.clearCcMemo()
    try {
      val l1 = llm.Pipeline.dedupClusterLabels(spark, dir)
      assert(l1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        === Map(1L -> 1L, 2L -> 1L))
      assert(llm.Pipeline.dedupClusterLabels(spark, dir) eq l1)
      // corpus regenerated IN PLACE: the dup pair moves from (1,2) to (1,3)
      write(Seq(1L -> longB,
        2L -> "different unrelated padding words beyond eight tokens here too",
        3L -> longB))
      // the documented staleness: a re-read of the same path still
      // sameResult-matches the memo key, so without the hook the OLD
      // labeling keeps being served — exactly l43's trainMemo contract
      assert(llm.Pipeline.dedupClusterLabels(spark, dir) eq l1,
        "if this ever MISSES, the staleness doc on dedupClusterLabels/clearCcMemo is obsolete")
      llm.Pipeline.clearCcMemo()
      val lab2 = llm.Pipeline.dedupClusterLabels(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lab2 === Map(1L -> 1L, 3L -> 1L))
    } finally {
      llm.Pipeline.clearCcMemo()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("l59: source-overlap matrix matches a driver-side set replay") {
    val bySource = Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => r.getString(0) -> r.getString(1).toLowerCase.split(" ", -1))
      .filter(_._2.length >= 8)
      .groupBy(_._1).map { case (s, xs) =>
        s -> xs.flatMap(_._2.sliding(8).map(_.mkString(" "))).toSet
      }
    val srcs = bySource.keys.toSeq.sorted
    val expected = (for {
      i <- srcs.indices; j <- (i + 1) until srcs.length
      inter = (bySource(srcs(i)) & bySource(srcs(j))).size.toLong
      if inter > 0
      n1 = bySource(srcs(i)).size.toLong
      n2 = bySource(srcs(j)).size.toLong
    } yield (srcs(i), srcs(j)) -> ((inter, n1, n2,
      math.floor(inter.toDouble / (n1 + n2 - inter) * 1e6 + 0.5) / 1e6))).toMap
    val got = llm.Pipeline.l59(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got === expected)
    assert(got.nonEmpty, "no overlapping source pair — the matrix is vacuous")
    got.foreach { case ((s1, s2), (inter, n1, n2, j)) =>
      assert(s1 < s2, "pair not canonically ordered")
      assert(inter <= math.min(n1, n2) && j > 0.0 && j <= 1.0)
    }
  }

  test("l58: n-gram novelty matches an exact driver replay") {
    def gh(g: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    // split(" ", -1) — Spark's split keeps trailing empty tokens
    val docGrams = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split(" ", -1))
      .filter(_._2.length >= 8)
      .map { case (id, w) =>
        id -> w.sliding(8).map(g => gh(g.mkString(" "))).toSet
      }
    val df = docGrams.flatMap { case (id, gs) => gs.map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.length }
    val expected = docGrams.map { case (id, gs) =>
      val novel = gs.count(g => df(g) == 1).toLong
      id -> ((gs.size.toLong, novel,
        math.floor(novel.toDouble / gs.size * 1e6 + 0.5) / 1e6))
    }.toMap
    val got = llm.Pipeline.l58(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got === expected)
    // the corpus must exercise both shared and unique grams, or the
    // df==1 filter proves nothing
    assert(got.values.exists(v => v._2 < v._1), "no shared grams anywhere")
    assert(got.values.exists(_._2 > 0), "no novel grams anywhere")
  }

  test("l57: waterfilling allocation matches an exact driver replay; caps bind") {
    val avail = Tables.documents(spark, sf)
      .selectExpr("source", "n_chars div 4 AS t").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
    def weight(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 5 + 1
    }
    val w = avail.keys.map(s => s -> weight(s)).toMap
    val budget = avail.values.sum * 4 / 5
    val totW = w.values.sum
    var asg = avail.map { case (s, a) => s -> math.min(a, budget * w(s) / totW) }
    for (_ <- 1 to 2) {
      val leftover = budget - asg.values.sum
      val openW = asg.collect { case (s, v) if v < avail(s) => w(s) }.sum
      if (openW > 0)
        asg = asg.map { case (s, v) =>
          s -> (if (v < avail(s)) math.min(avail(s), v + leftover * w(s) / openW)
                else v) }
    }
    val got = llm.Pipeline.l57(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    val expected = avail.map { case (s, a) =>
      s -> ((a, w(s), asg(s),
        if (a > 0) asg(s) * 1000000L / a else 0L,
        if (asg(s) == a) 1L else 0L))
    }
    assert(got === expected)
    // the fixture must exercise BOTH sides of the cap, or the
    // redistribution path is dead code at test time
    assert(got.values.exists(_._5 == 1L), "no domain exhausted")
    assert(got.values.exists(_._5 == 0L), "every domain exhausted")
    // allocation never exceeds the budget, and lands within a floor
    // residue of it (one unit per open domain per round)
    val take = got.values.map(_._3).sum
    assert(take <= budget && budget - take <= 3L * avail.size)
  }

  test("l63/l65: the committed label table is the handoff — the result holds " +
      "no Spark storage and the day-close leaves none behind") {
    // warm the pair-graph memo, so only the day-close itself is measured
    llm.Llm.minHashNearDupPairs(Tables.documents(spark, sf))
    Seq[(org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
        llm.Pipeline.l63, llm.Pipeline.l65).foreach { q =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = q(spark, sf)
      assert(Harness.frameRddIds(out).isEmpty,
        "the report must read the committed table, not a checkpoint")
      assert(out.collect().nonEmpty)
      val added = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(added.isEmpty, s"day-close left ${added.size} persisted RDDs")
    }
    llm.Llm.clearPairsMemo()
  }
}
