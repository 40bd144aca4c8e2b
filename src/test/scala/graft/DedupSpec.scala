package graft

import graft.llm.{Dedup, Llm}
import org.apache.spark.sql.functions._

/** The extended near-dup family (l02c/l02d/l02e) and IVF ANN (l03c):
  * each approximate method must agree with an exact ground truth on this
  * corpus's planted near-dup pairs, and prune real work while doing it. */
class DedupSpec extends SparkSuite {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("l26 iterated to fixpoint: spherical k-means objective never decreases") {
    import spark.implicits._
    graft.functions.VecMath.register(spark)
    val emb = Tables.embeddings(spark, sf)
    // seed = the same 16 fixed centroids l26 uses; then run REAL Lloyd
    // rounds — the driver loop l26's scaladoc promises. Centroids are
    // k×64 doubles: driver-sized at any corpus scale, so the
    // collect-rebuild-broadcast loop is the production shape too.
    var cents = emb.filter(col("vec_id").between(1, 16))
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val objectives = (1 to 4).map { _ =>
      val assigned = Dedup.kmeansAssign(emb, cents).cache()
      val obj = assigned.agg(sum("ccos")).collect()(0).getDouble(0)
      val means = assigned
        .select(col("cid"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("cid", "dim").agg(avg(col("x").cast("double")).as("m"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1).map { case (cid, ds) =>
          cid -> ds.sortBy(_._2).map(_._3.toFloat).toSeq
        }
      assigned.unpersist()
      val oldCents = cents.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      // empty clusters keep their previous centroid (standard Lloyd)
      cents = oldCents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
        .toSeq.sortBy(_._1).toDF("cid", "cvec")
      obj
    }
    // tolerance covers the float32 centroid rounding (relative ~6e-8 per
    // component): Lloyd's monotonicity is exact only for exact updates
    objectives.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 1e-5, s"objective decreased: $objectives")
    }
    assert(objectives.last > objectives.head,
      s"four Lloyd rounds should strictly improve the seed: $objectives")
  }

  test("pairsMemo: identical (corpus, jaccMin, cap) serves the SAME materialized frame; " +
      "different params miss") {
    llm.Llm.clearPairsMemo()
    val p1 = Llm.minHashNearDupPairs(Tables.documents(spark, sf))
    assert(Llm.minHashNearDupPairs(Tables.documents(spark, sf)) eq p1,
      "pair-graph memo missed on an identical (session, corpus, params)")
    // a different cap is a different contract — must NOT serve p1
    assert(!(Llm.minHashNearDupPairs(Tables.documents(spark, sf),
      bucketCap = 7) eq p1))
    llm.Pipeline.clearCcMemo() // clears pairsMemo too (labels derive from pairs)
  }

  test("l02c SimHash pairs substantially agree with MinHash-LSH pairs (same planted dups)") {
    val sim = pairs(Dedup.l02c(spark, sf))
    val mh = pairs(Llm.l02(spark, sf))
    assert(sim.nonEmpty, "SimHash found no pairs")
    val overlap = sim.intersect(mh).size
    info(s"simhash=${sim.size} minhash=${mh.size} overlap=$overlap")
    // two different sketches of the same corpus: most SimHash pairs are
    // real near-dups the MinHash pipeline also surfaces
    assert(overlap * 2 >= sim.size, s"only $overlap of ${sim.size} SimHash pairs confirmed by MinHash")
  }

  test("scaled SimHash agrees with the fixture on this corpus's near-dup pairs") {
    // at 500 docs the scaled width floors to the fixture's 12 bits, and
    // the scaled path IS l02c's path at that width (word 0 is the
    // unprefixed md5 word) — so the pairs and distances are identical
    val docs = Tables.documents(spark, sf)
    assert(Dedup.scaledSimBandBits(docs.count()) === 12)
    val fixture = Dedup.l02c(spark, sf).collect().toSeq
    val scaled = Dedup.simHashNearDupPairsScaled(docs).collect().toSeq
    assert(scaled.nonEmpty)
    info(s"fixture=${fixture.size} scaled=${scaled.size}")
    assert(scaled === fixture)
  }

  test("l02d n-gram Jaccard is exact on candidates: spot-check one pair against direct computation") {
    val got = Dedup.l02d(spark, sf).collect()
    assert(got.nonEmpty)
    val (a, b, j) = (got.head.getLong(0), got.head.getLong(1), got.head.getDouble(2))
    def grams(id: Long): Set[String] = {
      val text = Tables.documents(spark, sf).filter(col("doc_id") === id)
        .head().getAs[String]("text")
      text.sliding(8).toSet
    }
    val (ga, gb) = (grams(a), grams(b))
    val expect = ga.intersect(gb).size.toDouble / ga.union(gb).size
    assert(math.abs(j - expect) < 1e-6, s"pair ($a,$b): got $j expected $expect")
  }

  test("l02d hash space is collision-free on the test corpora: distinct hashes == distinct grams") {
    // the df-rarity counts and exact-verify intersections both run in
    // xxhash64 space while the oracle uses gram strings — prove the test
    // corpora have zero cross-gram collisions (the only way the two
    // images could diverge)
    for (dir <- Seq(sf, "/root/testdata/sf0.1")) {
      val grams = Tables.documents(spark, dir)
        .filter(length(col("text")) >= 8)
        .select(explode(expr(
          "array_distinct(transform(sequence(1, length(text) - 7), i -> substring(text, i, 8)))")).as("g"))
      val strings = grams.select("g").distinct().count()
      val hashes = grams.select(xxhash64(col("g")).as("h")).distinct().count()
      info(s"$dir: $strings distinct grams, $hashes distinct hashes")
      assert(strings === hashes, s"xxhash64 collision among $strings grams in $dir")
    }
  }

  test("l02e bucket-prefiltered cosine pairs are a subset of the exact >=0.4 pairs") {
    val bucketed = Dedup.l02e(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed.nonEmpty, "no same-bucket pairs survived")
    // exact (no prefilter) pairs at the same threshold
    val emb = Tables.embeddings(spark, sf)
    val exact = emb.select(col("vec_id").as("a"), col("embedding").as("ea"))
      .join(emb.select(col("vec_id").as("b"), col("embedding").as("eb")), col("a") < col("b"))
      .withColumn("cosine", expr(
        """aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
          | / (sqrt(aggregate(ea, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
          |    * sqrt(aggregate(eb, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))""".stripMargin))
      .filter(round(col("cosine"), 6) >= 0.4)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed.subsetOf(exact), s"false positives: ${bucketed.diff(exact)}")
    info(s"LSH-bucket recall: ${bucketed.size}/${exact.size}")
    assert(bucketed.size * 10 >= exact.size, "recall collapsed below 10%")
  }

  test("l56: the eval measures the cap's recall price exactly on a flood corpus") {
    // the production corpus's dups are near-identical (l56 reports
    // recall 1.0 there), so prove the metric MOVES where it must: a
    // 300-identical flood is entirely dropped by the band cap, and the
    // eval's capped row has to show recall 0 against the exact truth
    // while the uncapped row shows recall 1 — the cap's price as data.
    val flood = 300L
    val boiler = "the very same boilerplate text repeated verbatim across " +
      "every single copy of this flooded document cluster again and again"
    val docs = spark.range(1, flood + 201).select(col("id").as("doc_id"),
      when(col("id") <= flood, lit(boiler))
        .otherwise(concat(lit("unique document number "), col("id"),
          lit(" carrying its own words "), md5(col("id").cast("string"))))
        .as("text"))
    val got = Llm.dedupEval(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    // exact truth: probe-touching pairs inside the flood. The corpus is
    // 500 docs, so the derived probe modulus is max(1, 500/64) = 7 —
    // probes in 1..300 are the 42 multiples of 7; C(300,2) − C(258,2) =
    // 11697
    val truth = 300L * 299 / 2 - 258L * 257 / 2
    assert(got("capped")._3 === truth)
    assert(got("uncapped")._3 === truth)
    // uncapped catches every flood pair (one shared bucket)
    assert(got("uncapped")._2 === truth)
    assert(got("uncapped")._5 === 1.0)
    // capped drops the flood bucket wholesale: zero confirmed, recall 0 —
    // and nothing else in the corpus can confirm (fillers are < 0.4)
    assert(got("capped")._2 === 0L)
    assert(got("capped")._5 === 0.0)
    assert(got("capped")._4 === 0.0)
    // ratio columns are exactly the floor-rounded image of the counts
    got.values.foreach { case (nc, nf, nt, p, r) =>
      val exp = (num: Long, den: Long) =>
        if (den == 0) 0.0 else math.floor(num.toDouble / den * 1e6 + 0.5) / 1e6
      assert(p === exp(nf, nc) && r === exp(nf, nt))
    }
  }

  test("adversarial flood: a bucket of identical docs never reaches the banded pair joins") {
    // a boilerplate flood shares every band signature — uncapped, a
    // 10⁶-doc bucket is 5·10¹¹ candidate pairs that AQE can split but
    // not shrink; the bucket cap (256) drops it (mass-identical docs are
    // exact dedup l01's job) and the audit surfaces the dropped mass.
    // 300 copies keeps the uncapped control join test-sized.
    val flood = 300L
    val boiler = "the very same boilerplate text repeated verbatim across " +
      "every single copy of this flooded document cluster again and again"
    val docs = spark.range(1, flood + 201).select(col("id").as("doc_id"),
      when(col("id") <= flood, lit(boiler))
        .otherwise(concat(lit("unique document number "), col("id"),
          lit(" carrying its own words "), md5(col("id").cast("string"))))
        .as("text"))
    val audit = Llm.minHashBucketAudit(docs)
    val dropped = audit.filter(col("dropped"))
    assert(dropped.count() === 4, "the flood floods all 4 band buckets")
    assert(dropped.agg(max("bsz")).head().getLong(0) === flood)
    val mh = pairs(Llm.minHashNearDupPairs(docs))
    assert(!mh.exists(p => p._1 <= flood && p._2 <= flood),
      "capped MinHash must emit no flood-internal pairs")
    val sh = pairs(Dedup.simHashNearDupPairs(docs))
    assert(!sh.exists(p => p._1 <= flood && p._2 <= flood),
      "capped SimHash must emit no flood-internal pairs")
    // the flood is still fully collapsed where it belongs: exact dedup
    val exact = docs.groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(count(lit(1)).as("n")).agg(max("n")).head().getLong(0)
    assert(exact === flood)
    // and with the cap raised above the flood, the pairs come back —
    // proving the cap (not a lost signature) is what excluded them
    val uncapped = Llm.minHashNearDupPairs(docs, bucketCap = 2000)
      .filter(col("a") <= flood && col("b") <= flood).count()
    assert(uncapped === flood * (flood - 1) / 2)
  }

  test("map-only band signing equals the explode+groupBy signatures row-for-row") {
    val docs = Tables.documents(spark, sf)
    val viaAgg = Llm.bandIndexOf(docs)
      .select("doc_id", "band", "m0", "m1").collect().map(_.toSeq).toSet
    val viaRow = Llm.withBandSignatures(docs)
      .select("doc_id", "band", "m0", "m1").collect().map(_.toSeq).toSet
    assert(viaRow === viaAgg)
    assert(viaRow.nonEmpty)
  }

  test("MinHash kernel bands equal the eight-min groupBy reference row-for-row") {
    // the reference is the per-shingle-row form the kernel replaced: K
    // seed-prefixed md5_hi60 minima in one groupBy(doc_id), banded by
    // consecutive pairs
    graft.functions.Md5Hi60.register(spark)
    val docs = Tables.documents(spark, sf)
    val sh = docs.select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr("array_distinct(transform(sequence(1, size(w)-2), " +
        "i -> concat_ws(' ', element_at(w,i), element_at(w,i+1), element_at(w,i+2))))")).as("sh"))
    val minsig = sh.groupBy("doc_id").agg(
      min(expr("md5_hi60(concat('0|', sh))")).as("mh0"),
      (1 until 8).map(h => min(expr(s"md5_hi60(concat('$h|', sh))")).as(s"mh$h")): _*)
    val reference = minsig.collect().flatMap(r => (0 until 4).map(j =>
      Seq[Any](r.getLong(0), j, r.getLong(1 + 2 * j), r.getLong(2 + 2 * j)))).toSet
    val viaKernel = Llm.bandIndexOf(docs)
      .select("doc_id", "band", "m0", "m1").collect().map(_.toSeq).toSet
    assert(viaKernel === reference)
    assert(viaKernel.nonEmpty)
  }

  test("pair spine runs on one row per document: no shingle-row Generate, no aggregate over shingle rows") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val df = Llm.pairSpineForPlan(Tables.documents(spark, sf))
    df.collect() // the executed plan is AQE's final one
    val plan = df.queryExecution.executedPlan
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val strings = (o: Seq[org.apache.spark.sql.catalyst.expressions.Attribute]) =>
      o.exists(a => a.dataType == StringType)
    val generates = helper.collect(plan) { case g: GenerateExec => g }
    assert(generates.nonEmpty, s"the band explode is missing:\n$plan")
    assert(!generates.exists(g => strings(g.generatorOutput)),
      s"a Generate emits shingle rows:\n$plan")
    val joins = helper.collect(plan) { case j: BaseJoinExec => j }
    assert(joins.nonEmpty, plan.toString)
    assert(!joins.exists(j => helper.collect(j) { case g: GenerateExec => g }
      .exists(g => strings(g.generatorOutput))), s"a join reads exploded shingles:\n$plan")
    val aggs = helper.collect(plan) { case a: BaseAggregateExec => a }
    assert(!aggs.exists(a => strings(a.child.output)),
      s"an aggregate reads shingle rows:\n$plan")
    // the sets travel as arrays: the verify's joins read (doc_id, shs)
    assert(joins.exists(_.output.exists(_.dataType.isInstanceOf[ArrayType])), plan.toString)
    assert(plan.toString.contains("minhash_sig("), plan.toString)
  }

  test("persisted band index roundtrip: write, read back, probe with the delta == in-memory recompute") {
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(!(col("doc_id") % 10 === 0))
    val delta = docs.filter(col("doc_id") % 10 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_bandidx").toString
    // the production shape: the historical index is a STORED table the
    // daily delta probes — corpus never rescanned
    Llm.bandIndexOf(hist).write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val got = Llm.withBandSignatures(delta)
      .join(stored.select(col("band"), col("m0"), col("m1"),
        col("doc_id").as("hist_id")), Seq("band", "m0", "m1"))
      .select("doc_id", "hist_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // independent recompute: bucket-sharing (delta, hist) pairs from
    // the one-shot signature path
    val all = Llm.bandIndexOf(docs)
    val expect = all.filter(col("doc_id") % 10 === 0).as("x")
      .join(all.filter(!(col("doc_id") % 10 === 0)).as("y"),
        Seq("band", "m0", "m1"))
      .select(col("x.doc_id"), col("y.doc_id").as("hist_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expect)
    assert(got.nonEmpty, "planted near-dups must produce candidates")
  }

  test("cappedBandIndex drops flooded buckets, keeps organic ones") {
    import spark.implicits._
    val flood = (1L to 300L).map(id => (id, 0, 11L, 22L)) // one 300-doc bucket
    val organic = (1000L to 1002L).map(id => (id, 1, 33L, 44L))
    val idx = (flood ++ organic).toDF("doc_id", "band", "m0", "m1")
    val kept = Llm.cappedBandIndex(idx).collect().map(_.getLong(0)).toSet
    assert(kept === (1000L to 1002L).toSet,
      "the flooded bucket must be excluded from probe joins; the organic one kept")
  }

  test("l34 equals an independent driver-side recomputation at test SF") {
    import org.apache.spark.sql.functions._
    val raw = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def segsOf(text: String): Seq[String] =
      text.split(" ", -1).grouped(8).map(_.mkString(" ")).toSeq
    val docFreq = raw.toSeq.flatMap { case (id, t) => segsOf(t).distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val expected = raw.map { case (id, t) =>
      val kept = segsOf(t).filter(s => docFreq(s) < 3)
      id -> ((kept.mkString(" "), kept.size.toLong))
    }
    val actual = Dedup.l34(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(actual.size === expected.size)
    for ((id, exp) <- expected) assert(actual(id) === exp, s"doc $id diverged")
    // the threshold actually fires at this SF (op does real work)
    assert(expected.exists { case (id, (clean, _)) => clean != raw(id) },
      "no boilerplate segment was removed — test corpus degenerate?")
  }

  test("l36: no duplicate-text cluster straddles splits; buckets in range; clusters matter") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf)
    val out = Llm.l36(spark, sf).cache()
    val straddling = out.join(docs, "doc_id")
      .groupBy(md5(col("text").cast("binary")))
      .agg(countDistinct(col("split")).as("nsplits"))
      .filter(col("nsplits") > 1).count()
    assert(straddling === 0, "a duplicate cluster was assigned to two splits — leakage")
    assert(out.filter(col("bucket") < 0 || col("bucket") > 99).count() === 0)
    out.unpersist()
    // the corpus has no exact duplicates, so exercise the guard on a
    // frame WITH them: re-id copies of the first 50 docs. Every copy must
    // follow its original, and at least one copy's per-doc-hash split
    // must differ from its cluster split (the guard changed something).
    val withDups = docs.select("doc_id", "text").union(
      docs.select("doc_id", "text").limit(50)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val guarded = Llm.leakageSafeSplit(withDups).cache()
    val copies = guarded.filter(col("doc_id") >= 1000000L)
      .withColumn("orig_id", col("doc_id") - 1000000L)
    val splitOfOrig = guarded.select(col("doc_id").as("orig_id"), col("split").as("orig_split"))
    assert(copies.join(splitOfOrig, "orig_id")
      .filter(col("split") =!= col("orig_split")).count() === 0,
      "a duplicate copy landed in a different split than its original — leakage")
    val perDocBucket = copies.withColumn("own_bucket", expr(
      "CAST(conv(substr(md5(concat('split:', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 100"))
      .filter((col("own_bucket") < 80) =!= (col("bucket") < 80))
    assert(perDocBucket.count() > 0,
      "degenerate fixture: every copy's own hash already agreed with its cluster")
    guarded.unpersist()
  }

  test("l03c IVF searches a fraction of the corpus with useful recall vs exact top-10") {
    val exact = Llm.l03(spark, sf).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val ivf = Dedup.l03c(spark, sf).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(ivf).size
    info(s"IVF recall@10 = $recall/10")
    assert(recall >= 2, s"IVF recall collapsed: $recall/10")
  }
}
