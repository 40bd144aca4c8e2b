package graft

import org.apache.spark.sql.functions._

/** The driver-side fixpoint utility: convergence, iteration bounds on
  * adversarial inputs, and — the round-4 lesson — that superseded
  * localCheckpoint iterates are actually released, not left for GC. */
class FixpointSpec extends SparkSuite {
  import spark.implicits._

  private def newPersistedAfter[A](body: => A): (A, Int) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r = body
    val after = spark.sparkContext.getPersistentRDDs.keySet
    (r, (after -- before).size)
  }

  test("star CC labels a 64-node adversarial chain in far fewer rounds than its diameter") {
    // path graph 0-1-2-…-63: min-label propagation needs 63 rounds; the
    // large-star/small-star alternation is O(log² n)
    val chain = (0 until 63).map(i => (f"n$i%02d", f"n${i + 1}%02d")).toDF("a", "b")
    val ((labels, iters), retained) = newPersistedAfter {
      Fixpoint.connectedComponentsStarWithStats(chain, maxIter = 25)
    }
    val rows = labels.collect().map(r => r.getString(0) -> r.getString(1))
    assert(rows.length === 64)
    assert(rows.forall(_._2 == "n00"), "single component labeled by its min")
    assert(iters <= 10, s"star CC should beat the 63-round diameter, took $iters")
    // only the returned labels checkpoint may stay persisted — every
    // loop-internal iterate must have been unpersisted
    assert(retained <= 1, s"$retained new persisted RDDs retained (want ≤ 1)")
  }

  test("adaptive CC round cap: ceil(log2 n)^2 from the edge count, realized rounds within it") {
    // the cap formula itself: n = 2m+2, cap = ceil(log2 n)^2, floor 6
    assert(Fixpoint.adaptiveCcCap(1L) === 6) // tiny graphs keep the floor
    assert(Fixpoint.adaptiveCcCap(63L) === 49) // 2*63+2=128, log2=7, 49
    assert(Fixpoint.adaptiveCcCap(1L << 40) === (42 * 42), // ceil(log2(2^41+2)) = 42
      "a 100 TB-scale edge count gets a cap a flat 25 would truncate")
    // the DEFAULT (adaptive) run on the adversarial chain: converges,
    // and the realized round count respects the adaptive bound
    val chain = (0 until 63).map(i => (f"n$i%02d", f"n${i + 1}%02d")).toDF("a", "b")
    val (labels, iters) = Fixpoint.connectedComponentsStarWithStats(chain)
    assert(labels.collect().forall(_.getString(1) == "n00"))
    assert(iters <= Fixpoint.adaptiveCcCap(63L),
      s"realized rounds $iters exceed the adaptive cap")
    Fixpoint.release(labels)
  }

  test("star CC fails loudly when the round cap is hit before convergence") {
    // a cap-hit labeling is WRONG (split components), never just slow —
    // the function must throw, not emit it
    val chain = (0 until 63).map(i => (f"n$i%02d", f"n${i + 1}%02d")).toDF("a", "b")
    val (e, retained) = newPersistedAfter {
      intercept[IllegalStateException] {
        Fixpoint.connectedComponentsStarWithStats(chain, maxIter = 1)
      }
    }
    assert(e.getMessage.contains("round cap"))
    // the failure path must release its in-flight checkpoints
    assert(retained === 0, s"$retained checkpoints leaked by the throw path")
  }

  test("star CC handles forests, singleton-free input, and empty input") {
    val two = Seq(("b", "a"), ("c", "b"), ("y", "z")).toDF("a", "b")
    val got = Fixpoint.connectedComponentsStar(two).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("a" -> "a", "b" -> "a", "c" -> "a", "y" -> "y", "z" -> "y"))
    val empty = Seq.empty[(String, String)].toDF("a", "b")
    assert(Fixpoint.connectedComponentsStar(empty).count() === 0)
  }

  test("star CC equals brute-force union-find on seeded random graphs") {
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val n = 10 + rnd.nextInt(30)
      val m = rnd.nextInt(2 * n)
      val edges = (0 until m).map(_ =>
        (f"v${rnd.nextInt(n)}%02d", f"v${rnd.nextInt(n)}%02d"))
        .filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        // brute force: union-find over the same edge list
        val parent = scala.collection.mutable.Map[String, String]()
        def find(x: String): String = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) => parent(find(a)) = find(b) }
        val expect = parent.keys.toSeq.groupBy(find).values
          .map(_.toSet).toSet
        val got = Fixpoint.connectedComponentsStar(edges.toDF("a", "b"))
          .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
          .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
        assert(got === expect, s"seed=$seed n=$n m=$m")
      }
    }
  }

  test("loopObserved: convergence probe rides the checkpoint job — one job per iteration") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // drain any in-flight listener events from earlier tests, then count
    Thread.sleep(300)
    spark.sparkContext.addSparkListener(listener)
    try {
      val init = (1 to 8).map(i => i * 100.0).toDF("x")
      val ((fin, iters), retained) = newPersistedAfter {
        Fixpoint.loopObserved(init, maxIter = 20)(
          df => df.select((col("x") / 2).as("x")))(col("x") >= 1.0)
      }
      // poll the async listener bus until the count is stable
      var seen = -1
      var stableFor = 0
      while (stableFor < 6) {
        Thread.sleep(100)
        val now = jobs.get()
        if (now == seen) stableFor += 1 else { seen = now; stableFor = 0 }
      }
      // x ← x/2 over 8 rows, converged when all < 1: 800 → <1 takes
      // ceil(log2(800)) = 10 halvings
      assert(iters === 10)
      assert(retained <= 1, s"$retained new persisted RDDs retained (want ≤ 1)")
      // init checkpoint + one checkpoint job per iteration, NO probe jobs
      // (the old shape was 2·iters + 1: checkpoint + count per round)
      assert(seen <= iters + 2, s"expected ≤ ${iters + 2} jobs, saw $seen")
      assert(fin.agg(max("x")).head().getDouble(0) < 1.0)
      Fixpoint.release(fin)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("loopObserved releases in-flight iterates when the step throws") {
    val init = (1 to 4).map(_.toDouble).toDF("x")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[RuntimeException] {
      Fixpoint.loopObserved(init, maxIter = 10) { df =>
        if (df.head().getDouble(0) >= 0.25) df.select((col("x") / 2).as("x"))
        else throw new RuntimeException("boom mid-iteration")
      }(col("x") >= 0.0)
    }
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"failure path leaked ${(after -- before).size} persisted iterates")
  }

  test("kmeansFit: Lloyd fixpoint converges, improves the seed objective, cleans up") {
    graft.functions.VecMath.register(spark)
    val emb = Tables.embeddings(spark, sf)
    val ((cents, iters), retained) = newPersistedAfter {
      llm.Dedup.kmeansFit(emb, k = 8, maxIter = 15)
    }
    assert(cents.count() === 8)
    assert(iters >= 1 && iters <= 15)
    // fitted centroids must not score worse than the raw seed vectors
    val seed = emb.filter(col("vec_id").between(1, 8))
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    def objective(c: org.apache.spark.sql.DataFrame): Double =
      llm.Dedup.kmeansAssign(emb, c).agg(avg("ccos")).head().getDouble(0)
    assert(objective(cents) >= objective(seed) - 1e-9)
    assert(retained <= 1, s"$retained new persisted RDDs retained (want ≤ 1)")
    Fixpoint.release(cents)
  }

  test("full pageRank conserves probability mass and cleans up its checkpoints") {
    val mark = SessionMemos.mark()
    val (pr, retained) = newPersistedAfter {
      val out = operators.Graph.pageRank(spark, sf, maxIter = 8, tol = 1e-6)
      // the memoized edge list is DELIBERATE cross-query state (released
      // by the session-memo discipline, exactly as Bench evicts between
      // runs), not a leaked loop checkpoint — evict it so the retained
      // count below measures what this test pins: loop-internal leaks
      SessionMemos.evictSince(mark)
      out
    }
    val ranks = pr.select("rank").as[Double].collect()
    assert(math.abs(ranks.sum - 1.0) < 1e-6, s"mass ${ranks.sum}")
    assert(ranks.forall(_ > 0.0))
    assert(retained <= 1, s"$retained new persisted RDDs retained (want ≤ 1)")
    // the numeric node-id space, decoded to g01's (node_type, node_id)
    assert(pr.schema("node_id").dataType === org.apache.spark.sql.types.LongType)
    def nodes(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
      df.select("node_type", "node_id").as[(String, Long)].collect().toSet
    assert(nodes(pr) === nodes(operators.Graph.g01(spark, sf)))
    Fixpoint.release(pr)
  }

  test("pageRank and kmeansFit return a plan over their last iterate; " +
      "Fixpoint.release of the result frees every RDD the call kept") {
    graft.functions.VecMath.register(spark)
    val emb = Tables.embeddings(spark, sf)
    Seq[() => org.apache.spark.sql.DataFrame](
        () => operators.Graph.pageRank(spark, sf, maxIter = 4, tol = 1e-6),
        () => llm.Dedup.kmeansFit(emb, k = 4, maxIter = 4)._1).foreach { fit =>
      def live = spark.sparkContext.getPersistentRDDs.keySet
      val mark = SessionMemos.mark()
      val before = live
      val out = fit()
      SessionMemos.evictSince(mark) // memo frames are not the call's
      // a plan (the final sort) over the one kept iterate, not a sorted
      // copy of it
      assert(out.queryExecution.analyzed.collectFirst {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s }.nonEmpty)
      assert(Harness.frameRddIds(out).toSet === live -- before)
      assert(Harness.frameRddIds(out).size === 1)
      assert(out.collect().nonEmpty)
      Fixpoint.release(out)
      val left = live -- before
      assert(left.isEmpty, s"${left.size} RDDs still persisted after release")
    }
  }
}
