package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSuite {

  test("cooc memos: repeat calls serve ONE materialized frame; evictSince drops it") {
    // another suite in the same session may already have populated the
    // memos (entries stamped BEFORE this test's mark would make the
    // evict below a no-op) — start cold
    operators.Graph.clearCoocMemos()
    val mark = SessionMemos.mark()
    val p1 = operators.Graph.coocPairs(spark, sf)
    val p2 = operators.Graph.coocPairs(spark, sf)
    // same backing RDDs = the projection was derived once and shared
    assert(Harness.frameRddIds(p1) == Harness.frameRddIds(p2),
      "second coocPairs call must serve the memoized frame")
    val n1 = p1.count() // consume BEFORE evict (released blocks can't recompute)
    assert(n1 > 0)
    // the bench's between-runs discipline: evicting past the mark drops
    // (and releases) the entries, so the next call re-derives — the
    // memo is disclosed reuse, not state the harness can't clear
    assert(SessionMemos.evictSince(mark) >= 2) // edges + capped + pairs
    val p3 = operators.Graph.coocPairs(spark, sf)
    assert(Harness.frameRddIds(p1) != Harness.frameRddIds(p3),
      "post-evict call must rebuild, not serve released blocks")
    assert(p3.count() == n1)
    SessionMemos.evictSince(mark)
  }

  test("plan shape: g-queries without loop state read only live memo frames") {
    // no copy or terminal checkpoint: every RDD under the returned plan
    // belongs to a memo frame (edge list, capped edges, pair table)
    Seq("g01_pagerank_step", "g03_common_neighbors", "g04_label_prop",
      "g05_triangle_count", "g06_jaccard_neighbors", "g07_bfs_layers",
      "g09_cc_rounds", "g10_hits", "g11_sssp_rounds", "g12_closeness").foreach { id =>
      val rdds = Harness.frameRddIds(operators.Graph.queries(id)(spark, sf))
      val memo = SessionMemos.liveFrames(spark.sparkContext)
        .flatMap(Harness.frameRddIds).toSet
      assert(rdds.nonEmpty && rdds.forall(memo),
        s"$id reads RDDs ${rdds.filterNot(memo)} that are no live memo frame")
    }
  }

  test("g08, g09 and g12 leave the coocPairs memo frame live and readable") {
    val p0 = operators.Graph.coocPairs(spark, sf)
    val n0 = p0.count()
    Seq[(SparkSession, String) => DataFrame](
      operators.Graph.g08, operators.Graph.g09, operators.Graph.g12)
      .foreach(q => assert(q(spark, sf).collect().nonEmpty))
    val p1 = operators.Graph.coocPairs(spark, sf)
    assert(Harness.frameRddIds(p1) == Harness.frameRddIds(p0),
      "coocPairs was rebuilt")
    assert(Harness.frameRddIds(p1).forall(spark.sparkContext.getPersistentRDDs.contains),
      "a g-query released the coocPairs memo frame")
    assert(p1.count() == n0)
  }

  test("g01 pagerank step: probability mass is conserved") {
    val ranks = operators.Graph.g01(spark, sf).collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getDouble(3))).toMap
    // every node distributes exactly deg · (1/deg) = 1 unit of its rank,
    // so one damped iteration from uniform keeps Σ rank = 1 (± rounding)
    assert(math.abs(ranks.values.sum - 1.0) < 1e-6)
    assert(ranks.values.forall(_ > 0.0))
    // suppliers are 20× rarer than parts in this schema → they
    // concentrate rank (sanity that the gather isn't symmetric noise)
    val sMean = ranks.collect { case ((t, _), r) if t == "supplier" => r }
    val pMean = ranks.collect { case ((t, _), r) if t == "part" => r }
    assert(sMean.sum / sMean.size > pMean.sum / pMean.size)
  }

  test("g03: capped co-occurrence matches a naive recompute; pairing is join-free") {
    // independent recompute: full edge set, cap per supplier, pair, count
    val edges = Tables.lineitem(spark, sf)
      .select("l_suppkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = edges.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val parts = es.map(_._2).sorted.take(operators.Graph.CoocCap)
      for (i <- parts.indices; j <- (i + 1) until parts.length)
        yield (parts(i), parts(j))
    }.groupBy(identity).collect { case (pair, xs) if xs.size >= 2 =>
      (pair._1, pair._2, xs.size.toLong)
    }.toSeq.sorted
    val got = operators.Graph.g03(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expected)
    // the hottest key contributes bounded pair work: per-supplier pair
    // fan-out never exceeds C·(C-1)/2 regardless of true degree
    val cap = operators.Graph.CoocCap.toLong
    val maxDeg = edges.groupBy(_._1).values.map(_.size).max
    assert(maxDeg > cap, "fixture must actually exercise the cap")
    // pair generation is array-local: no Join operator in the plan
    val plan = operators.Graph.g03(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"pairing must not self-join:\n$plan")
  }

  test("g06: neighborhood jaccard is consistent with g03 pairs and capped degrees") {
    // independent recompute of capped supplier-sets per part
    val edges = Tables.lineitem(spark, sf)
      .select("l_suppkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cappedBySupp = edges.groupBy(_._1).map { case (s, es) =>
      s -> es.map(_._2).sorted.take(operators.Graph.CoocCap).toSet
    }
    val nbr: Map[Long, Set[Long]] = cappedBySupp.toSeq
      .flatMap { case (s, ps) => ps.map(p => (p, s)) }
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).toSet }
    val got = operators.Graph.g06(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    got.foreach { case (p1, p2, n, j) =>
      val inter = (nbr(p1) intersect nbr(p2)).size
      val union = (nbr(p1) union nbr(p2)).size
      assert(inter === n, s"($p1,$p2) intersection")
      val exp = math.floor(n.toDouble / union * 1e6 + 0.5) / 1e6
      assert(j === exp, s"($p1,$p2) jaccard")
      assert(j > 0.0 && j <= 1.0)
    }
    // same pair set as g03 (the n≥2 capped pair table)
    val g03Pairs = operators.Graph.g03(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.map(t => (t._1, t._2)).toSet === g03Pairs)
  }

  test("g07: three BFS rounds match a driver-side frontier relaxation") {
    val pairs = operators.Graph.g03(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => p._2 - p._1 <= 4) // g07's near-id band
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    var dist: Map[Long, Long] = adj.keys.filter(_ % 50 == 0).map(_ -> 0L).toMap
    for (_ <- 1 to 3) {
      val relaxed = dist.toSeq.flatMap { case (n, d) => adj(n).map(_ -> (d + 1)) }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (n, ds) => n -> ds.map(_._2).min }
    }
    val got = operators.Graph.g07(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === dist)
    // the fixture must actually produce layered distances, not just seeds
    assert(got.values.toSet.size >= 3, s"distances seen: ${got.values.toSet}")
  }

  test("g11: three weighted relaxation rounds match a driver-side Bellman-Ford; weights bite") {
    val pairs = operators.Graph.g03(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => p._2 - p._1 <= 4) // g11's near-id band
    val wadj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .map { case (a, b) => (a, b, math.abs(b - a)) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(e => (e._2, e._3)) }
    var cost: Map[Long, Long] = wadj.keys.filter(_ % 50 == 0).map(_ -> 0L).toMap
    for (_ <- 1 to 3) {
      val relaxed = cost.toSeq.flatMap { case (n, c) =>
        wadj(n).map { case (m, w) => m -> (c + w) } }
      cost = (cost.toSeq ++ relaxed).groupBy(_._1)
        .map { case (n, cs) => n -> cs.map(_._2).min }
    }
    val got = operators.Graph.g11(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === cost)
    // weights must matter: some node's min COST differs from its min-hop
    // BFS distance (otherwise this is g07 re-labeled)
    val hops = operators.Graph.g07(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.exists { case (n, c) => hops.get(n).exists(_ != c) },
      "weighted costs collapsed to hop counts")
    // and the relaxation must still be live in round 3 on this fixture
    assert(got.values.toSet.size >= 3, s"costs seen: ${got.values.toSet}")
  }

  test("g12: per-seed harmonic closeness matches a driver-side replay; seeds differ") {
    // sf0.01: the band has 3 seeds (sf0.001 has 1 — no cross-seed signal)
    val dir = "/root/testdata/sf0.01"
    val pairs = operators.Graph.g03(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => p._2 - p._1 <= 4)
    val wadj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .map { case (a, b) => (a, b, math.abs(b - a)) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(e => (e._2, e._3)) }
    val expected = wadj.keys.filter(_ % 50 == 0).map { s =>
      var cost: Map[Long, Long] = Map(s -> 0L)
      for (_ <- 1 to 3) {
        val relaxed = cost.toSeq.flatMap { case (n, c) =>
          wadj(n).map { case (m, w) => m -> (c + w) } }
        cost = (cost.toSeq ++ relaxed).groupBy(_._1)
          .map { case (n, cs) => n -> cs.map(_._2).min }
      }
      val reached = cost.filter(_._2 > 0)
      s -> ((reached.size.toLong, reached.values.map(27720L / _).sum))
    }.toMap
    // units = harmonic · 27720 recovered exactly: units ≤ ~1e6 keeps the
    // round-trip double error well under 0.5
    val got = operators.Graph.g12(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), math.round(r.getDouble(2) * 27720.0)))).toMap
    assert(got === expected)
    assert(got.size >= 3, s"seeds seen: ${got.keySet}")
    // the harmonic surface must separate seeds on this fixture
    assert(got.values.map(_._2).toSet.size >= 2)
  }

  test("g08: onion layers match a driver-side peel replay; peeling bites") {
    var pairs = operators.Graph.g03(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      .filter(p => p._2 - p._1 <= 4) // g08's near-id band
    var alive = (pairs.map(_._1) ++ pairs.map(_._2)).distinct.toSet
    val expected = scala.collection.mutable.Map.empty[Long, Int]
    for (r <- 1 to 3) {
      val deg = (pairs.map(_._1) ++ pairs.map(_._2))
        .groupBy(identity).map { case (n, xs) => n -> xs.size }
      val dropped = alive.filter(n => deg.getOrElse(n, 0) < 5)
      dropped.foreach(n => expected(n) = r)
      alive = alive -- dropped
      pairs = pairs.filter(p => alive(p._1) && alive(p._2))
    }
    alive.foreach(n => expected(n) = 0)
    val got = operators.Graph.g08(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === expected.toMap)
    // the peel must actually fire AND leave a core in this fixture
    assert(got.values.exists(_ == 1), "round-1 peel empty")
    assert(got.values.exists(_ == 0), "core empty at sf0.001")
  }

  test("g04: two deterministic LPA rounds match a driver-side replay") {
    // same even/odd numeric encoding as the operator: part→2id, supp→2id+1
    val edges = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_suppkey").distinct().collect()
      .map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1))
    val dir2 = edges ++ edges.map { case (a, b) => (b, a) }
    val nodes = dir2.map(_._1).distinct
    val in: Map[Long, Seq[Long]] =
      dir2.groupBy(_._2).map { case (d, es) => d -> es.map(_._1).toSeq }
    var labels: Map[Long, Long] = nodes.map(n => n -> n).toMap
    for (_ <- 1 to 2) {
      labels = nodes.map { n =>
        val counts = in(n).map(labels).groupBy(identity)
          .map { case (l, xs) => (l, xs.size) }
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    def enc(t: String, id: Long): Long = if (t == "part") id * 2 else id * 2 + 1
    val got = operators.Graph.g04(spark, sf).collect()
      .map(r => enc(r.getString(0), r.getLong(1)) ->
        enc(r.getString(2), r.getLong(3))).toMap
    assert(got === labels)
    // propagation must actually merge communities: strictly fewer
    // distinct labels than nodes
    assert(labels.values.toSet.size < nodes.size)
  }

  test("g05: oriented triangle counts match a brute-force recompute") {
    val und = operators.Graph.coocPairs(spark, sf).select("p1", "p2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj: Map[Long, Set[Long]] = (und.toSeq ++ und.toSeq.map(_.swap))
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val triangles = und.flatMap { case (v, w) =>
      (adj(v) & adj(w)).map(u => Seq(u, v, w).sorted)
    } // each triangle found via all 3 edges → set dedupes to once
    val expected = triangles.toSeq.flatten
      .groupBy(identity).map { case (n, xs) => (n, xs.size.toLong) }
    val got = operators.Graph.g05(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === expected)
    assert(got.nonEmpty, "projection must contain triangles at sf0.001")
  }

  test("h05 compaction: tombstoned keys vanish, survivors carry their latest row") {
    val events = Tables.events(spark, sf)
      .select("user_id", "event_id", "event_type", "value", "ts_ms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getLong(4)))
    val byUser = events.groupBy(_._1)
    val expect = byUser.flatMap { case (u, evs) =>
      val latest = evs.maxBy(e => (e._5, e._2))
      if (latest._2 % 10 == 0) None // tombstone wins → key dropped
      else Some(u -> ((latest._2, latest._5, evs.length.toLong)))
    }
    val got = operators.History.h05(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(4), r.getLong(5)))).toMap
    assert(got === expect)
    assert(got.size < byUser.size, "at least one tombstone should fire")
  }

  test("g09: three Hash-Min rounds match a driver-side label relaxation") {
    val pairs = operators.Graph.g03(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => p._2 - p._1 <= 4) // g09's near-id band
    val und = pairs ++ pairs.map(p => (p._2, p._1))
    val adj = und.groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    var lbl: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      val pulled = lbl.toSeq.flatMap { case (n, l) => adj(n).map(_ -> l) }
      lbl = (lbl.toSeq ++ pulled).groupBy(_._1)
        .map { case (n, ls) => n -> ls.map(_._2).min }
    }
    val got = operators.Graph.g09(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === lbl)
    // labels must actually propagate (some node carries a non-self label)
    assert(got.exists { case (n, l) => l != n }, "no label moved in 3 rounds")
  }

  test("g10: unnormalized HITS rounds are exact bipartite path counts") {
    val edges = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_suppkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byP = edges.groupBy(_._1).map { case (p, es) => p -> es.map(_._2) }
    val byS = edges.groupBy(_._2).map { case (s, es) => s -> es.map(_._1) }
    val a1 = byP.map { case (p, ss) => p -> ss.size.toLong }
    val h1 = byS.map { case (s, ps) => s -> ps.map(a1).sum }
    val a2 = byP.map { case (p, ss) => p -> ss.map(h1).sum }
    val h2 = byS.map { case (s, ps) => s -> ps.map(a2).sum }
    val got = operators.Graph.g10(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    val expected =
      a1.map { case (p, v) => ("part", p) -> ((v, a2(p))) } ++
      h1.map { case (s, v) => ("supplier", s) -> ((v, h2(s))) }
    assert(got === expected.toMap)
    // scores must differentiate (not a degenerate all-equal fixture)
    assert(got.values.map(_._2).toSet.size > 1, "round-2 scores all equal")
  }
}
