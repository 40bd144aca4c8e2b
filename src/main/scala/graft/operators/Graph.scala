package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the relational star schema. The part↔supplier
  * bipartite graph (distinct lineitem pairs) is the edge list; l21's
  * label propagation already covers connected components, this module
  * adds the power-iteration family.
  *
  * The float-determinism trick is l26's: a node's per-edge contribution
  * is an INTEGER number of micro-units (round(1e12 / degree)), so the
  * gather is an order-independent BIGINT sum — mergeable across any
  * partitioning — and the final rank is one fixed-shape double
  * expression both engines evaluate identically. A full PageRank is
  * this plan iterated with the driver checking convergence (the l21
  * fixpoint pattern).
  *
  * Materialization: the three memo builders (edge list, capped edge
  * list, pair table) materialize once per corpus, and loop state is
  * checkpointed (pageRank, g02, g08); pageRank's and g02's results are
  * plans over their last iterate. Every other query returns a plain plan
  * over the memo frames: a checkpoint of a memo projection only adds a
  * copy job, and releasing such a projection would unpersist the memo
  * frame itself (Fixpoint.release walks every LogicalRDD under the
  * plan). So no query here releases anything but its own checkpoints.
  */
object Graph extends QueryModule {

  /** g01: one PageRank power-iteration (damping 0.85) from the uniform
    * start over the undirected bipartite part↔supplier graph. Two
    * shuffles: the distinct edge list, then the gather groupBy per node
    * side; degrees ride along via equi-joins on the edge key (at scale:
    * the canonical vertex-cut gather — no driver collect anywhere). */
  def g01(spark: SparkSession, dir: String): DataFrame = {
    // the memoized per-corpus edge list (three consumers here: two
    // degree aggs + the gather join — they read the one
    // checkpoint-materialized frame; the old scoped .cache() is gone
    // with the per-query derivation)
    val edges = rawEdges(spark, dir)
    val pdeg = edges.groupBy("p").agg(count(lit(1)).as("pdeg"))
    val sdeg = edges.groupBy("s").agg(count(lit(1)).as("sdeg"))
    val n = pdeg.select(count(lit(1)).as("np"))
      .crossJoin(sdeg.select(count(lit(1)).as("ns")))
      .select((col("np") + col("ns")).as("n"))
    // units(u) = round(1e12 / deg(u)) — the integer image of 1/deg.
    // Each gather direction joins ONLY the source side's degree on the
    // edge-sized frame; the receiver's own degree attaches AFTER the
    // aggregate, when the frame is node-sized (a single edges⋈pdeg⋈sdeg
    // frame would run its double join once per consumer — twice the
    // edge-sized work for a column each side doesn't need yet)
    val toParts = edges.join(sdeg, "s")
      .withColumn("sunits", expr("CAST(round(1000000000000.0 / sdeg) AS BIGINT)"))
      .groupBy("p").agg(sum("sunits").as("units"))
      .join(pdeg, "p")
      .select(lit("part").as("node_type"), col("p").as("node_id"),
        col("pdeg").as("deg"), col("units"))
    val toSupps = edges.join(pdeg, "p")
      .withColumn("punits", expr("CAST(round(1000000000000.0 / pdeg) AS BIGINT)"))
      .groupBy("s").agg(sum("punits").as("units"))
      .join(sdeg, "s")
      .select(lit("supplier").as("node_type"), col("s").as("node_id"),
        col("sdeg").as("deg"), col("units"))
    toParts.unionByName(toSupps)
      .crossJoin(broadcast(n))
      // r1 = 0.15/N + 0.85 · (Σ units)/1e12 / N — identical FP shape in
      // the oracle; the sum is integer, so nothing is order-dependent
      .select(col("node_type"), col("node_id"), col("deg"),
        (lit(0.15) / col("n")
          + lit(0.85) * (col("units").cast("double") / lit(1000000000000.0))
            / col("n")).as("rank"))
      .orderBy("node_type", "node_id")
  }

  /** Full PageRank to convergence — g01's step iterated through
    * graft.Fixpoint.loopObserved (localCheckpoint-truncated lineage,
    * convergence probe observed on the checkpoint job itself, superseded
    * iterates unpersisted eagerly, driver sees only the convergence
    * counter). Library-level operator, not an oracled query: float
    * iteration count depends on tolerance, so it's spec-covered
    * (GraphSpec asserts rank-mass ≈ 1, convergence within maxIter, and
    * that no superseded checkpoint blocks stay persisted). Nodes are
    * g02/g04's numeric ids ([[directed]]); the result decodes them to
    * (node_type, node_id BIGINT), g01's node set. The degree table is
    * computed once and released at the end; per iteration the
    * only shuffles are the gather groupBy and the (broadcast-joined)
    * rank refresh — the same shape a 1000-executor run wants. The result
    * is a plan over the last iterate; Fixpoint.release(result) frees it. */
  def pageRank(spark: SparkSession, dir: String,
      maxIter: Int = 30, tol: Double = 1e-9): DataFrame = {
    // directed both ways over one node-id space: node = 2·id (+1 for a
    // supplier)
    val dir2 = directed(rawEdges(spark, dir))
    val deg = dir2.groupBy("src").agg(count(lit(1)).as("deg")).localCheckpoint()
    val nNodes = deg.count()
    val init = deg.select(col("src").as("node"),
      lit(1.0 / nNodes).as("rank"), lit(Double.MaxValue).as("delta"))
    val (fin, _) = graft.Fixpoint.loopObserved(init, maxIter) { cur =>
      val contrib = dir2.join(deg, "src")
        .join(cur.select(col("node").as("src"), col("rank")), "src")
        .groupBy("dst").agg(sum(col("rank") / col("deg")).as("gathered"))
      cur.select(col("node"), col("rank").as("prev"))
        .join(contrib.select(col("dst").as("node"), col("gathered")), Seq("node"), "left")
        .select(col("node"),
          (lit(0.15) / lit(nNodes.toDouble)
            + lit(0.85) * coalesce(col("gathered"), lit(0.0))).as("rank"),
          col("prev"))
        .select(col("node"), col("rank"), abs(col("rank") - col("prev")).as("delta"))
    } (col("delta") > tol)
    graft.Fixpoint.release(deg)
    fin.select(decoded("node", "node_type", "node_id") :+ col("rank"): _*)
      .orderBy("node_type", "node_id")
  }

  /** The bipartite edge list directed both ways over ONE numeric node-id
    * space (part → 2·id, supplier → 2·id+1): every shuffle key, join key
    * and aggregate key downstream is an 8-byte long instead of a
    * "part|123" string (guide §2.3 "narrower types"; the string form
    * measured ~2× g02's per-round task time). [[decoded]] maps an id back
    * to (type, id) only in a query's final projection, where the
    * oracles' string-built ids produce the identical rows. */
  private def directed(edges: DataFrame): DataFrame =
    edges.select((col("p") * 2).as("src"), (col("s") * 2 + 1).as("dst"))
      .union(edges.select((col("s") * 2 + 1).as("src"), (col("p") * 2).as("dst")))

  /** The (type, id) columns of a [[directed]] node id column `id`. */
  private def decoded(id: String, typeCol: String, idCol: String): Seq[Column] = Seq(
    when(pmod(col(id), lit(2)) === 0, "part").otherwise("supplier").as(typeCol),
    expr(s"$id div 2").as(idCol))

  /** g02: THREE chained PageRank power-iterations — the multi-step
    * fixpoint under the hash gate, not just the single g01 step. The
    * float-determinism problem of iterated PageRank (each round's gather
    * is an order-dependent double sum feeding the next round) is removed
    * by keeping rank itself in INTEGER micro-units end-to-end:
    *   r₀ = 10¹² div N
    *   rₜ₊₁(u) = (1.5·10¹¹ div N) + (85 · Σᵥ (rₜ(v) div deg v)) div 100
    * — every operation is integer (floor-div contributions, BIGINT
    * gather, floor-div damping), so any partitioning, any engine, any
    * iteration count produces identical bits; the only double appears in
    * the final units→rank projection. Runs through Fixpoint.loopObserved
    * (fixed 3 rounds, superseded iterates released); the oracle unrolls
    * the same three steps as CTEs. Per round: one shuffle (the gather
    * groupBy) + one rank-refresh join — the 1000-executor shape. The
    * result is a plan over the last iterate, as in [[pageRank]]. */
  def g02(spark: SparkSession, dir: String): DataFrame = {
    // the numeric node-id space: three gather rounds hash and compare
    // longs, decoded to (type, id) only in the final projection
    val dir2 = directed(rawEdges(spark, dir))
    val deg = dir2.groupBy("src").agg(count(lit(1)).as("deg")).localCheckpoint()
    val nNodes = deg.count()
    // hoist the loop-invariant dir2⋈deg join: each round used to re-pay
    // the degree attach on the edge-sized frame; (src, dst, deg) is fixed
    // across rounds, so it materializes once and the loop joins only the
    // per-round rank table (one join per round, not two)
    val wdir = dir2.join(deg, "src").localCheckpoint()
    val init = deg.select(col("src").as("node"),
      lit(1000000000000L / nNodes).as("r"))
    val (fin, _) = graft.Fixpoint.loopObserved(init, maxIter = 3) { cur =>
      val gathered = wdir
        .join(cur.select(col("node").as("src"), col("r")), "src")
        .select(col("dst"), expr("r div deg").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("g"))
      deg.select(col("src").as("node"))
        .join(gathered.select(col("dst").as("node"), col("g")), Seq("node"), "left")
        .select(col("node"),
          (lit(150000000000L / nNodes)
            + expr("(85 * coalesce(g, 0L)) div 100")).as("r"))
    } (lit(true)) // fixed 3 rounds: maxIter is the stop, not convergence
    Seq(wdir, deg).foreach(graft.Fixpoint.release)
    fin.select(decoded("node", "node_type", "node_id") ++ Seq(
        col("r").as("rank_units"),
        (col("r").cast("double") / lit(1000000000000.0)).as("rank")): _*)
      .orderBy("node_type", "node_id")
  }

  /** Per-supplier part-list cap for g03. Uncapped, co-occurrence pair
    * work is Σ deg²/2 — 175M pairs at sf0.1 already (measured), and
    * quadratic in the densest key at 100 TB. 32 keeps per-key pair work
    * ≤ 496 while the synthetic degree distribution (~600 max) still
    * yields overlap structure. */
  val CoocCap = 32

  /** g03: common-neighbor counting (part pairs sharing suppliers) — the
    * link-prediction / co-occurrence primitive, and the canonical
    * skew-killer shape: the per-key neighbor list is CAPPED to a
    * deterministic ranked sample (lowest `CoocCap` partkeys, the o05
    * pattern) BEFORE any pairing, so the hottest supplier contributes
    * O(C²) pairs, not O(deg²). Pairs are generated from the ≤C-element
    * collected array by a nested transform — map-side, no self-join, no
    * second scan of the edge list; the only shuffles are the edge
    * distinct (supplier key) and the pair-key count. At 100 TB the same
    * plan holds: bounded arrays bound both memory and pair fan-out, and
    * the dropped-tail mass is auditable by comparing capped degree
    * against the full degree (l02's bucket-audit pattern). */
  def g03(spark: SparkSession, dir: String): DataFrame =
    coocPairs(spark, dir).orderBy("p1", "p2")

  /** Session-scoped memos (graft.FrameMemo) for the two shared
    * co-occurrence artifacts EIGHT registered queries re-derive from one
    * input: the capped edge list (g06's degrees) and the pair table
    * (g03/g05/g06 directly; g07/g08/g09/g11/g12 via the near-id band).
    * Same disclosed-reuse contract as Llm.pairsMemo → l21/l53: entries
    * are tagged by SessionMemos (Bench publishes memo_pre/memo_cold per
    * query), evicted by the bench's between-runs evictSince so best-of-2
    * stays a cold number, and keyed by the RAW distinct-edge plan + the
    * cap (the FrameMemo keying contract — never a checkpointed
    * intermediate). A composed pipeline — or the sweep's registered
    * queries — derives the projection once per corpus instead of once
    * per query. */
  private val edgesMemo = graft.FrameMemo.frames[Unit]()
  private val cappedMemo = graft.FrameMemo.frames[Int]()
  private val coocMemo = graft.FrameMemo.frames[Int]()

  /** Staleness hook (FrameMemo contract): a harness that rewrites the
    * lineitem source in place between generations clears here. */
  def clearCoocMemos(): Unit =
    { edgesMemo.clear(); cappedMemo.clear(); coocMemo.clear() }

  /** The UNMEMOIZED pair spine, for plan evidence only (`graft.Plans`
    * id `cooc_pair_spine` — the registered queries read the memoized
    * frame, whose plan is an opaque RDD scan). Same
    * [[capEdges]] cap as the real path, so the two cannot drift. Not used
    * by any registered query. */
  def coocSpineForPlan(spark: SparkSession, dir: String): DataFrame =
    pairsFrom(capEdges(rawEdgesPlan(spark, dir)))

  /** The raw distinct bipartite edge list as a PURE PLAN — every graph
    * memo's key (the FrameMemo keying contract: raw source read, never a
    * checkpointed intermediate, so keys stay stable across memo
    * rebuilds). */
  private def rawEdgesPlan(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
      .distinct()

  /** The distinct bipartite edge list, MATERIALIZED once per corpus —
    * the module docstring's "the part↔supplier bipartite graph is the
    * edge list": every query in the family starts from this frame
    * (g01/g02/g04/g10 directly; the capped projection below derives from
    * it), and each used to re-pay the lineitem scan + distinct exchange.
    * Same tagged machinery and disclosure as the pair-table memo. */
  private def rawEdges(spark: SparkSession, dir: String): DataFrame = {
    val e = rawEdgesPlan(spark, dir)
    edgesMemo.getOrCompute((spark, e.queryExecution.normalized, ())) {
      e.localCheckpoint()
    }
  }

  /** The capped co-occurrence pair table (p1 < p2, n_common ≥ 2) —
    * g03's body, shared with g05 which treats it as a projected
    * unipartite part graph. Memoized per corpus (localCheckpoint-
    * materialized; see the memo doc above). */
  def coocPairs(spark: SparkSession, dir: String): DataFrame = {
    val key = rawEdgesPlan(spark, dir)
    coocMemo.getOrCompute((spark, key.queryExecution.normalized, CoocCap)) {
      pairsFrom(cappedEdges(spark, dir)).localCheckpoint()
    }
  }

  /** The deterministically capped bipartite edge list (≤ CoocCap parts
    * per supplier, lowest part ids win) — the skew guard every
    * co-occurrence consumer shares. Memoized per corpus; derives from
    * the memoized edge list (one lineitem scan per corpus, total). */
  private def cappedEdges(spark: SparkSession, dir: String): DataFrame = {
    val key = rawEdgesPlan(spark, dir)
    cappedMemo.getOrCompute((spark, key.queryExecution.normalized, CoocCap)) {
      capEdges(rawEdges(spark, dir)).localCheckpoint()
    }
  }

  /** Keep each supplier's `CoocCap` lowest part ids. */
  private def capEdges(edges: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("s").orderBy("p")
    edges
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= CoocCap)
      .select("s", "p")
  }

  /** Bounded-array pair generation from a capped edge list. The
    * supplier-key exchange is PINNED at the session's parallelism: its
    * input is KB-sized, so AQE's bytes-based coalescing lawfully folds
    * it to one partition — but the stage's per-row work is the O(C²)
    * pair explode, which then runs serially (measured: 1 task, 0.7 s
    * task-time at sf0.1). Bytes-blind coalescing under-parallelizes a
    * fan-out stage at ANY scale, so the explicit width is the
    * scale-honest shape, not a local tune (the Tables.spread lesson);
    * the groupBy reuses the pinned partitioning — no extra exchange. */
  private def pairsFrom(capped: DataFrame): DataFrame =
    capped
      .repartition(capped.sparkSession.sparkContext.defaultParallelism,
        col("s"))
      .groupBy("s")
      .agg(sort_array(collect_list(col("p"))).as("a"))
      .filter(size(col("a")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(a) - 1), i ->
          |  transform(slice(a, i + 1, size(a) - i), y ->
          |    struct(element_at(a, i) AS p1, y AS p2))))""".stripMargin)).as("pr"))
      .select(col("pr.p1"), col("pr.p2"))
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= 2)

  /** g06: neighborhood Jaccard similarity over the capped co-occurrence
    * projection — the link-prediction / entity-resolution primitive
    * (|N(a)∩N(b)| / |N(a)∪N(b)| where N(p) = supplier set of part p).
    * The intersection is g03's capped pair count; the union comes for
    * free from per-part capped degrees (deg1 + deg2 − n_common), so the
    * whole measure costs ONE extra 2-key aggregate + two equi-joins on
    * the pair table — no new pair generation, no second pass over
    * lineitem (the capped edge list is checkpointed and reused). Same
    * skew bound as g03: the cap keeps any hub's pair fan-out at O(C²).
    * Ratio is floor-rounded at 1e-6 so the double division can't hash-
    * diverge between engines. */
  def g06(spark: SparkSession, dir: String): DataFrame = {
    // both memoized frames derive from ONE capped edge set (coocPairs is
    // pairsFrom(cappedEdges) by construction), so intersection (pair
    // counts) and union (capped degrees) stay mutually consistent
    val capped = cappedEdges(spark, dir)
    val deg = capped.groupBy("p").agg(count(lit(1)).as("deg"))
    coocPairs(spark, dir)
      .join(deg.select(col("p").as("p1"), col("deg").as("d1")), "p1")
      .join(deg.select(col("p").as("p2"), col("deg").as("d2")), "p2")
      .select(col("p1"), col("p2"), col("n_common"),
        (floor(col("n_common") / (col("d1") + col("d2") - col("n_common"))
          * 1000000.0 + 0.5) / 1000000.0).as("jaccard"))
      .orderBy("p1", "p2")
  }

  /** g07: multi-source BFS layers — min-hop distance (≤ 3 rounds) from a
    * seed set over the capped co-occurrence graph; the reachability /
    * blast-radius primitive (which parts are within k substitution hops
    * of a recalled part set). Classic iterative frontier relaxation in
    * its SHUFFLE-MINIMAL form: each round is ONE edge⋈frontier equi join
    * + a min-combine on the node key (map-side combinable, so the
    * shuffle carries one row per (node) per partition, not per path —
    * path counts explode combinatorially, min-distance does not). Fixed
    * 3 rounds keeps the result hash-gateable; the unbounded version is
    * g02's Fixpoint loop with a convergence observe(). */
  def g07(spark: SparkSession, dir: String): DataFrame =
    relaxRounds(spark, dir, lit(1L), "dist")

  /** The shared 3-round frontier relaxation g07 (hop count) and g11
    * (min-plus over the id-gap weight) both run — one body, so the band
    * filter, seed rule, and round structure can never diverge between
    * the two queries (or from their oracles, which unroll the same
    * rounds). `step` is the per-edge cost: lit(1) = BFS layers,
    * col("w") = weighted shortest path. */
  private def relaxRounds(spark: SparkSession, dir: String,
      step: Column, outCol: String): DataFrame = {
    val edges = bandEdges(spark, dir)
    var dist = edges.select(col("src").as("node")).distinct()
      .filter(pmod(col("node"), lit(50)) === 0)
      .withColumn("d", lit(0L))
    for (_ <- 1 to 3) {
      val nxt = edges
        .join(dist.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("d") + step).as("d"))
      dist = dist.unionAll(nxt).groupBy("node").agg(min("d").as("d"))
    }
    dist.select(col("node"), col("d").as(outCol)).orderBy("node")
  }

  /** The near-id substitution band: co-occurrence pairs whose ids differ
    * by at most 4. The dense co-occurrence projection is small-world
    * (everything within 1-2 hops — no layering to test); restricting to
    * near-id pairs keeps a long-diameter graph whose rounds actually
    * exercise the iteration. The one band rule of g07/g08/g09/g11/g12. */
  private def band(spark: SparkSession, dir: String): DataFrame =
    coocPairs(spark, dir).filter(col("p2") - col("p1") <= 4)

  /** The weighted undirected band edge list (w = id gap, 1–4) — shared
    * by relaxRounds (g07/g11), g09 and g12 so the band filter and weight
    * rule can never diverge between the round queries. One scan of the
    * pair table yields both orientations (a union would scan it twice). */
  private def bandEdges(spark: SparkSession, dir: String): DataFrame =
    band(spark, dir)
      .select(explode(array(struct(col("p1").as("src"), col("p2").as("dst")),
          struct(col("p2").as("src"), col("p1").as("dst")))).as("e"),
        (col("p2") - col("p1")).as("w"))
      .select("e.src", "e.dst", "w")

  /** g11: WEIGHTED shortest paths (3 Bellman-Ford rounds) from g07's
    * seed set — the min-plus relaxation g07's hop count can't express:
    * with edge weight = the id gap (1-4, the "substitution distance"),
    * two near substitutions can beat one far one, so the relaxation
    * genuinely re-decides paths instead of counting hops. Integer
    * weights keep every cost BIGINT-exact (no float path sums to
    * reconcile). Same shuffle-minimal shape as g07 — per round ONE
    * edge⋈frontier equi join + a map-side-combinable min on the node
    * key (min-plus is a semiring combine: one row per node per
    * partition shuffles, never one per path); fixed 3 rounds keeps it
    * hash-gateable, unbounded = the g02 Fixpoint loop with a
    * convergence observe(). */
  def g11(spark: SparkSession, dir: String): DataFrame =
    relaxRounds(spark, dir, col("w"), "cost")

  /** g12: per-seed HARMONIC CLOSENESS within the 3-round relaxation
    * horizon — "how central is each seed in its neighborhood", the
    * bounded-radius image of closeness centrality (exact closeness is a
    * full APSP; the fixed-horizon variant is the one that exists at
    * 100 TB, and the horizon makes it hash-gateable).
    *
    * Frontier is (seed, node)-keyed: per round ONE edges⋈frontier equi
    * join on src + a map-side-combinable min on (seed, node) — the g11
    * min-plus semiring with the seed identity carried through. Seeds are
    * 1/50th of the band's nodes and the band's 3-hop balls are bounded
    * by the near-id filter, so the frontier stays ≈ |seeds|·ball, never
    * nodes². Integer-exact: path costs d ∈ 1..12 (3 rounds × max gap 4)
    * all divide 27720 = lcm(1..12), so the harmonic mass Σ 27720 div d
    * is an exact BIGINT; the single closing division to double is the
    * same IEEE op in both engines. */
  def g12(spark: SparkSession, dir: String): DataFrame = {
    val edges = bandEdges(spark, dir)
    var dist = edges.select(col("src").as("node")).distinct()
      .filter(pmod(col("node"), lit(50)) === 0)
      .select(col("node").as("seed"), col("node"), lit(0L).as("d"))
    for (_ <- 1 to 3) {
      val nxt = edges
        .join(dist.withColumnRenamed("node", "src"), "src")
        .select(col("seed"), col("dst").as("node"), (col("d") + col("w")).as("d"))
      dist = dist.unionAll(nxt).groupBy("seed", "node").agg(min("d").as("d"))
    }
    // d > 0 drops each seed's own zero-distance row (min keeps 0 even if
    // a cycle also reaches the seed, so the exclusion is exact)
    dist.filter(col("d") > 0)
      .groupBy("seed").agg(
        count(lit(1)).as("n_reached"),
        sum(expr("27720 div d")).as("units"))
      .select(col("seed"), col("n_reached"),
        (col("units").cast("double") / 27720.0).as("harmonic"))
      .orderBy("seed")
  }

  /** g08: onion-layer (k-core peel-round) decomposition, k = 5, three
    * synchronous rounds over g07's near-id band — the "how deep in the
    * dense part does this node sit" primitive (spam-cluster mining,
    * influence cores). layer r = the round the node was peeled (its
    * CURRENT induced degree fell under k, including isolation by
    * earlier peels — the explicit alive-set left-join makes orphaned
    * nodes drop instead of silently vanishing); layer 0 = still in the
    * round-3 core. Every node gets a label, so the result is total at
    * any SF (the full co-occurrence projection is near-complete at
    * small SF and peels to nothing at large — the band layers at all).
    * Per round: one degree aggregate + one left join on the alive set +
    * two LEFT-SEMI edge filters — all node-keyed, edge list only
    * shrinks. Fixed 3 rounds for the hash gate; unbounded = Fixpoint
    * loop on "no node dropped". */
  def g08(spark: SparkSession, dir: String): DataFrame = {
    val K = 5
    // a plain plan over the pair-table memo: never released below, since
    // releasing it would unpersist the memo frame itself
    val base = band(spark, dir).select("p1", "p2")
    var alive = base.select(explode(array(col("p1"), col("p2"))).as("node"))
      .distinct().localCheckpoint()
    var edges = base
    val layers = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (r <- 1 to 3) {
      val d = edges.select(col("p1").as("node"))
        .unionAll(edges.select(col("p2").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val labeled = alive.join(d, Seq("node"), "left")
        .withColumn("deg", coalesce(col("deg"), lit(0L)))
      layers += labeled.filter(col("deg") < K)
        .select(col("node"), lit(r).as("layer")).localCheckpoint()
      val nextAlive = labeled.filter(col("deg") >= K).select("node").localCheckpoint()
      val nextEdges = edges
        .join(nextAlive.withColumnRenamed("node", "p1"), Seq("p1"), "left_semi")
        .join(nextAlive.withColumnRenamed("node", "p2"), Seq("p2"), "left_semi")
        .select("p1", "p2").localCheckpoint()
      graft.Fixpoint.release(alive)
      if (!(edges eq base)) graft.Fixpoint.release(edges)
      alive = nextAlive
      edges = nextEdges
    }
    val out = layers.reduce(_ unionAll _)
      .unionAll(alive.select(col("node"), lit(0).as("layer")))
      .orderBy("node").localCheckpoint()
    (Seq(alive, edges) ++ layers).foreach(graft.Fixpoint.release)
    out
  }

  /** g09: THREE synchronous rounds of min-label propagation — the
    * hash-partitioned connected-components kernel (Hash-Min of
    * Rastogi et al.; what l21's large-star/small-star accelerates to
    * O(log²n) rounds). Over g07's near-id band so components are
    * non-trivial at every SF. Per round: ONE edge⋈label equi join + a
    * min-combine keyed on node — map-side combinable, the shuffle
    * carries one candidate label per (node, partition). Fixed 3 rounds
    * keeps the output hash-gateable; the run-to-convergence version is
    * l21's Fixpoint loop. label after round r = min node id within r
    * hops — deterministic under any partitioning. */
  def g09(spark: SparkSession, dir: String): DataFrame = {
    val edges = bandEdges(spark, dir)
    var lbl = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to 3) {
      val pulled = edges
        .join(lbl.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), col("label"))
      lbl = lbl.unionAll(pulled).groupBy("node").agg(min("label").as("label"))
    }
    lbl.orderBy("node")
  }

  /** g10: TWO rounds of HITS (hubs = suppliers, authorities = parts)
    * over the bipartite graph, UNNORMALIZED so every score is an exact
    * BIGINT path count (a_r(p) = #paths of length 2r−1 ending at p,
    * h_r(s) = #paths of length 2r ending at s) — the ℓ²-normalization
    * that makes textbook HITS converge is a per-round scalar divide,
    * irrelevant to the RANKING the operator exists for and the enemy of
    * cross-engine exactness. Each half-round is one edge⋈score equi
    * join + a map-side-combinable sum on the opposite key — g01's
    * vertex-cut gather with alternating directions. */
  def g10(spark: SparkSession, dir: String): DataFrame = {
    val edges = rawEdges(spark, dir) // memoized; four gathers read it
    val a1 = edges.groupBy("p").agg(count(lit(1)).as("a1")) // h0 ≡ 1
    val h1 = edges.join(a1, "p").groupBy("s").agg(sum("a1").as("h1"))
    val a2 = edges.join(h1, "s").groupBy("p").agg(sum("h1").as("a2"))
    val h2 = edges.join(a2, "p").groupBy("s").agg(sum("a2").as("h2"))
    a1.join(a2, "p")
      .select(lit("part").as("node_type"), col("p").as("node_id"),
        col("a1").as("score_r1"), col("a2").as("score_r2"))
      .unionAll(h1.join(h2, "s")
        .select(lit("supplier").as("node_type"), col("s").as("node_id"),
          col("h1").as("score_r1"), col("h2").as("score_r2")))
      .orderBy("node_type", "node_id")
  }

  /** g04: TWO synchronous rounds of deterministic label propagation
    * (community detection) over the part↔supplier bipartite graph. The
    * classic LPA tie-break ("random neighbor label") is replaced by a
    * total order — adopt the label with (count DESC, label ASC) — so any
    * partitioning, any engine, any executor count produces identical
    * labels; iterated to convergence this is the semi-synchronous LPA of
    * Raghavan et al. Per round: ONE shuffle (the (node, label) count) +
    * the argmax window riding the same exchange (both keyed on dst) —
    * the iteration shape Fixpoint runs at scale; fixed 2 rounds keeps
    * the query hash-gateable (convergence-count output would be
    * tolerance-dependent). */
  def g04(spark: SparkSession, dir: String): DataFrame = {
    // nodes and labels live in the ONE numeric id space: the join/agg
    // rounds hash and compare longs, and the label tie-break (count DESC,
    // label ASC) becomes a numeric order the oracle states identically
    val dir2 = directed(rawEdges(spark, dir))
    val init = dir2.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    // the (count DESC, label ASC) argmax as a struct-min AGGREGATE:
    // min(struct(-c, label)) — no window sort, and the second aggregate
    // map-side combines where row_number() had to sort every partition
    val fin = (1 to 2).foldLeft(init) { (cur, _) =>
      dir2.join(cur.select(col("node").as("src"), col("label")), "src")
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy("node")
        .agg(min(struct((-col("c")).as("nc"), col("label"))).as("m"))
        .select(col("node"), col("m.label").as("label"))
    }
    fin.select(decoded("node", "node_type", "node_id")
        ++ decoded("label", "label_type", "label_id"): _*)
      .orderBy("node_type", "node_id")
  }

  /** g05: per-node triangle counts over the co-occurrence projection
    * (g03's capped pair table as an undirected part graph) — the
    * clustering-coefficient / community-density primitive. The classic
    * skew problem (a hub's wedge count is deg², and naive wedge joins
    * shuffle all of them) is killed by DEGREE ORIENTATION (Chiba-Nishizeki
    * / Suri-Vassilvitskii MR-triangle): each undirected edge points from
    * its lower-(deg, id) endpoint to the higher, bounding every node's
    * OUT-degree by O(√m) regardless of its true degree; wedges are
    * generated only from out-neighbors, and each triangle is counted
    * exactly once at its minimum-(deg, id) pivot. Shuffles: the degree
    * count, the wedge self-join on the pivot key, the closure semi-join
    * on the (v, w) pair key, the final per-node count — all equi-keyed,
    * no product. */
  def g05(spark: SparkSession, dir: String): DataFrame = {
    // the memoized pair table is already localCheckpoint-materialized —
    // its three consumers below (deg, the wedge join, the closure
    // semi-join) read one materialization; re-checkpointing it here
    // would only add a copy job (and releasing that copy was g05's old
    // shape — the memo owns the frame now, so no release here)
    val und = coocPairs(spark, dir).select("p1", "p2")
    val deg = und.select(col("p1").as("node"))
      .unionAll(und.select(col("p2").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val o = und
      .join(deg.select(col("node").as("p1"), col("deg").as("d1")), "p1")
      .join(deg.select(col("node").as("p2"), col("deg").as("d2")), "p2")
      .select(
        when(struct(col("d1"), col("p1")) < struct(col("d2"), col("p2")),
          col("p1")).otherwise(col("p2")).as("src"),
        when(struct(col("d1"), col("p1")) < struct(col("d2"), col("p2")),
          col("p2")).otherwise(col("p1")).as("dst"))
      // pin the pivot-key exchange: the oriented edge list is KB-sized,
      // so AQE's bytes-based coalescing folds the wedge self-join to a
      // few partitions — but that stage's per-row work is the O(outdeg²)
      // wedge fan-out, which then runs near-serially (measured: 3 tasks,
      // 5.2 s task-time at sf0.1). Fan-out is invisible to bytes-based
      // coalescing at any scale; the explicit session-parallelism width
      // is the scale shape (Tables.spread lesson). Both wedge sides
      // below project THIS frame, so the pinned exchange is planned
      // once and shuffle-reused — no second exchange.
      .repartition(spark.sparkContext.defaultParallelism, col("src"))
    val a = o.select(col("src"), col("dst").as("v"))
    val b = o.select(col("src"), col("dst").as("w"))
    val tri = a.join(b, "src").filter(col("v") < col("w"))
      .join(und, col("v") === col("p1") && col("w") === col("p2"), "left_semi")
      .select(col("src").as("u"), col("v"), col("w"))
    tri.select(col("u").as("node"))
      .unionAll(tri.select(col("v").as("node")))
      .unionAll(tri.select(col("w").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
      .orderBy("node")
  }

  /** Shared oracle prefix: the capped co-occurrence pair table (g03's
    * semantics) as DuckDB CTEs ending in `pr2(p1, p2, n_common)`. */
  private val coocSqlCtes: String =
    s"""WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
       |c AS (SELECT s, p FROM (
       |        SELECT s, p, row_number() OVER (PARTITION BY s ORDER BY p) AS rn
       |        FROM e) t
       |      WHERE rn <= $CoocCap),
       |pr AS (SELECT a.p AS p1, b.p AS p2
       |       FROM c a JOIN c b ON a.s = b.s AND a.p < b.p),
       |pr2 AS (SELECT p1, p2, COUNT(*) AS n_common
       |        FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 2)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g01_pagerank_step" -> g01,
    "g02_pagerank_iter3" -> g02,
    "g03_common_neighbors" -> g03,
    "g04_label_prop" -> g04,
    "g05_triangle_count" -> g05,
    "g06_jaccard_neighbors" -> g06,
    "g07_bfs_layers" -> g07,
    "g08_kcore" -> g08,
    "g09_cc_rounds" -> g09,
    "g10_hits" -> g10,
    "g11_sssp_rounds" -> g11,
    "g12_closeness" -> g12)

  val oracles: Map[String, String] = Map(
    // g11: g07's unrolled-round pattern with the id-gap weight carried
    // through the relaxation — min-plus instead of min-hop
    "g11_sssp_rounds" ->
      (coocSqlCtes + """,
         |band AS (SELECT p1, p2, p2 - p1 AS w FROM pr2 WHERE p2 - p1 <= 4),
         |und AS (SELECT p1 AS src, p2 AS dst, w FROM band
         |        UNION ALL SELECT p2, p1, w FROM band),
         |d0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS cost
         |       FROM und WHERE src % 50 = 0),
         |d1 AS (SELECT node, MIN(cost) AS cost FROM (
         |         SELECT node, cost FROM d0 UNION ALL
         |         SELECT u.dst, d0.cost + u.w FROM und u JOIN d0 ON u.src = d0.node) t1
         |       GROUP BY node),
         |d2 AS (SELECT node, MIN(cost) AS cost FROM (
         |         SELECT node, cost FROM d1 UNION ALL
         |         SELECT u.dst, d1.cost + u.w FROM und u JOIN d1 ON u.src = d1.node) t2
         |       GROUP BY node),
         |d3 AS (SELECT node, MIN(cost) AS cost FROM (
         |         SELECT node, cost FROM d2 UNION ALL
         |         SELECT u.dst, d2.cost + u.w FROM und u JOIN d2 ON u.src = d2.node) t3
         |       GROUP BY node)
         |SELECT node, cost FROM d3 ORDER BY node""".stripMargin),
    // g12: g11's unrolled min-plus rounds keyed by (seed, node); the
    // harmonic sum runs in exact 27720-unit integers (lcm 1..12)
    "g12_closeness" ->
      (coocSqlCtes + """,
         |band AS (SELECT p1, p2, p2 - p1 AS w FROM pr2 WHERE p2 - p1 <= 4),
         |und AS (SELECT p1 AS src, p2 AS dst, w FROM band
         |        UNION ALL SELECT p2, p1, w FROM band),
         |d0 AS (SELECT DISTINCT src AS seed, src AS node, CAST(0 AS BIGINT) AS d
         |       FROM und WHERE src % 50 = 0),
         |d1 AS (SELECT seed, node, MIN(d) AS d FROM (
         |         SELECT seed, node, d FROM d0 UNION ALL
         |         SELECT p.seed, u.dst, p.d + u.w FROM und u JOIN d0 p ON u.src = p.node) t1
         |       GROUP BY seed, node),
         |d2 AS (SELECT seed, node, MIN(d) AS d FROM (
         |         SELECT seed, node, d FROM d1 UNION ALL
         |         SELECT p.seed, u.dst, p.d + u.w FROM und u JOIN d1 p ON u.src = p.node) t2
         |       GROUP BY seed, node),
         |d3 AS (SELECT seed, node, MIN(d) AS d FROM (
         |         SELECT seed, node, d FROM d2 UNION ALL
         |         SELECT p.seed, u.dst, p.d + u.w FROM und u JOIN d2 p ON u.src = p.node) t3
         |       GROUP BY seed, node)
         |SELECT seed, COUNT(*) AS n_reached,
         |       CAST(CAST(SUM(27720 // d) AS BIGINT) AS DOUBLE) / 27720.0 AS harmonic
         |FROM d3 WHERE d > 0 GROUP BY seed ORDER BY seed""".stripMargin),
    // g03's oracle pairs via self-join (DuckDB has no bounded-array
    // pairing); the CAP (rank-by-partkey ≤ 32 per supplier) is mirrored
    // exactly, so semantics match even though mechanics differ
    "g03_common_neighbors" ->
      (coocSqlCtes + "\nSELECT p1, p2, n_common FROM pr2 ORDER BY p1, p2"),
    // g06: capped degrees come from the SAME capped edge CTE `c` the
    // pair table is built from, so intersection and union are consistent
    "g06_jaccard_neighbors" ->
      (coocSqlCtes + """,
         |deg AS (SELECT p, COUNT(*) AS deg FROM c GROUP BY p)
         |SELECT p1, p2, n_common,
         |       floor(n_common / CAST(d1.deg + d2.deg - n_common AS DOUBLE)
         |             * 1000000.0 + 0.5) / 1000000.0 AS jaccard
         |FROM pr2 JOIN deg d1 ON d1.p = p1 JOIN deg d2 ON d2.p = p2
         |ORDER BY p1, p2""".stripMargin),
    // g08: three peel rounds unrolled; each round left-joins the alive
    // set onto the induced degree table (COALESCE 0 drops orphans)
    "g08_kcore" ->
      (coocSqlCtes + """,
         |band AS (SELECT p1, p2 FROM pr2 WHERE p2 - p1 <= 4),
         |a0 AS (SELECT DISTINCT node FROM (
         |         SELECT p1 AS node FROM band UNION ALL SELECT p2 FROM band) t),
         |d1 AS (SELECT a0.node, COALESCE(g.cnt, 0) AS deg FROM a0 LEFT JOIN (
         |         SELECT node, COUNT(*) AS cnt FROM (
         |           SELECT p1 AS node FROM band UNION ALL SELECT p2 FROM band) t
         |         GROUP BY node) g ON g.node = a0.node),
         |a1 AS (SELECT node FROM d1 WHERE deg >= 5),
         |e1 AS (SELECT p1, p2 FROM band
         |       WHERE p1 IN (SELECT node FROM a1) AND p2 IN (SELECT node FROM a1)),
         |d2 AS (SELECT a1.node, COALESCE(g.cnt, 0) AS deg FROM a1 LEFT JOIN (
         |         SELECT node, COUNT(*) AS cnt FROM (
         |           SELECT p1 AS node FROM e1 UNION ALL SELECT p2 FROM e1) t
         |         GROUP BY node) g ON g.node = a1.node),
         |a2 AS (SELECT node FROM d2 WHERE deg >= 5),
         |e2 AS (SELECT p1, p2 FROM e1
         |       WHERE p1 IN (SELECT node FROM a2) AND p2 IN (SELECT node FROM a2)),
         |d3 AS (SELECT a2.node, COALESCE(g.cnt, 0) AS deg FROM a2 LEFT JOIN (
         |         SELECT node, COUNT(*) AS cnt FROM (
         |           SELECT p1 AS node FROM e2 UNION ALL SELECT p2 FROM e2) t
         |         GROUP BY node) g ON g.node = a2.node),
         |a3 AS (SELECT node FROM d3 WHERE deg >= 5)
         |SELECT node, 1 AS layer FROM d1 WHERE deg < 5
         |UNION ALL SELECT node, 2 FROM d2 WHERE deg < 5
         |UNION ALL SELECT node, 3 FROM d3 WHERE deg < 5
         |UNION ALL SELECT node, 0 FROM a3
         |ORDER BY node""".stripMargin),
    // g07: three frontier rounds unrolled as min-combine CTEs (DuckDB
    // recursive CTEs can't express min-distance dedup per round without
    // UNION-distinct-by-key; the unrolled form is the same relaxation)
    "g07_bfs_layers" ->
      (coocSqlCtes + """,
         |band AS (SELECT p1, p2 FROM pr2 WHERE p2 - p1 <= 4),
         |und AS (SELECT p1 AS src, p2 AS dst FROM band
         |        UNION ALL SELECT p2, p1 FROM band),
         |d0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
         |       FROM und WHERE src % 50 = 0),
         |d1 AS (SELECT node, MIN(dist) AS dist FROM (
         |         SELECT node, dist FROM d0 UNION ALL
         |         SELECT u.dst, d0.dist + 1 FROM und u JOIN d0 ON u.src = d0.node) t1
         |       GROUP BY node),
         |d2 AS (SELECT node, MIN(dist) AS dist FROM (
         |         SELECT node, dist FROM d1 UNION ALL
         |         SELECT u.dst, d1.dist + 1 FROM und u JOIN d1 ON u.src = d1.node) t2
         |       GROUP BY node),
         |d3 AS (SELECT node, MIN(dist) AS dist FROM (
         |         SELECT node, dist FROM d2 UNION ALL
         |         SELECT u.dst, d2.dist + 1 FROM und u JOIN d2 ON u.src = d2.node) t3
         |       GROUP BY node)
         |SELECT node, dist FROM d3 ORDER BY node""".stripMargin),
    // g09: three Hash-Min rounds unrolled — per round the new label is
    // MIN over (own label ∪ labels pulled across each incident edge)
    "g09_cc_rounds" ->
      (coocSqlCtes + """,
         |band AS (SELECT p1, p2 FROM pr2 WHERE p2 - p1 <= 4),
         |und AS (SELECT p1 AS src, p2 AS dst FROM band
         |        UNION ALL SELECT p2, p1 FROM band),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
         |l1 AS (SELECT node, MIN(label) AS label FROM (
         |         SELECT node, label FROM l0 UNION ALL
         |         SELECT u.dst, l0.label FROM und u JOIN l0 ON u.src = l0.node) t1
         |       GROUP BY node),
         |l2 AS (SELECT node, MIN(label) AS label FROM (
         |         SELECT node, label FROM l1 UNION ALL
         |         SELECT u.dst, l1.label FROM und u JOIN l1 ON u.src = l1.node) t2
         |       GROUP BY node),
         |l3 AS (SELECT node, MIN(label) AS label FROM (
         |         SELECT node, label FROM l2 UNION ALL
         |         SELECT u.dst, l2.label FROM und u JOIN l2 ON u.src = l2.node) t3
         |       GROUP BY node)
         |SELECT node, label FROM l3 ORDER BY node""".stripMargin),
    // g10: the same four integer gathers as CTEs — exact path counts,
    // no normalization, no floats
    "g10_hits" ->
      """WITH e AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
        |a1 AS (SELECT p, COUNT(*) AS a1 FROM e GROUP BY p),
        |h1 AS (SELECT s, CAST(SUM(a1) AS BIGINT) AS h1
        |       FROM e JOIN a1 USING (p) GROUP BY s),
        |a2 AS (SELECT p, CAST(SUM(h1) AS BIGINT) AS a2
        |       FROM e JOIN h1 USING (s) GROUP BY p),
        |h2 AS (SELECT s, CAST(SUM(a2) AS BIGINT) AS h2
        |       FROM e JOIN a2 USING (p) GROUP BY s)
        |SELECT 'part' AS node_type, p AS node_id, a1 AS score_r1, a2 AS score_r2
        |FROM a1 JOIN a2 USING (p)
        |UNION ALL
        |SELECT 'supplier', s, h1, h2 FROM h1 JOIN h2 USING (s)
        |ORDER BY node_type, node_id""".stripMargin,
    // g05: same capped projection, then degree orientation + wedge
    // self-join + EXISTS closure — mechanics differ (DuckDB has no
    // struct-ordered when(); the (deg, id) order is spelled as booleans)
    // but each triangle is still counted exactly once at its pivot
    "g05_triangle_count" ->
      (coocSqlCtes + s""",
         |und AS (SELECT p1, p2 FROM pr2),
         |deg AS (SELECT node, COUNT(*) AS deg FROM (
         |          SELECT p1 AS node FROM und
         |          UNION ALL SELECT p2 FROM und) t GROUP BY node),
         |o AS (SELECT CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND u.p1 < u.p2)
         |                  THEN u.p1 ELSE u.p2 END AS src,
         |             CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND u.p1 < u.p2)
         |                  THEN u.p2 ELSE u.p1 END AS dst
         |      FROM und u JOIN deg d1 ON d1.node = u.p1
         |                 JOIN deg d2 ON d2.node = u.p2),
         |tri AS (SELECT a.src AS u, a.dst AS v, b.dst AS w
         |        FROM o a JOIN o b ON a.src = b.src AND a.dst < b.dst
         |        WHERE EXISTS (SELECT 1 FROM und e
         |                      WHERE e.p1 = a.dst AND e.p2 = b.dst)),
         |nodes AS (SELECT u AS node FROM tri
         |          UNION ALL SELECT v FROM tri
         |          UNION ALL SELECT w FROM tri)
         |SELECT node, COUNT(*) AS n_tri
         |FROM nodes GROUP BY node ORDER BY node""".stripMargin),
    "g04_label_prop" ->
      """WITH edges AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
        |dir2 AS (
        |  SELECT p * 2 AS src, s * 2 + 1 AS dst FROM edges
        |  UNION ALL
        |  SELECT s * 2 + 1 AS src, p * 2 AS dst FROM edges),
        |l0 AS (SELECT DISTINCT src AS node, src AS label FROM dir2),
        |n1 AS (SELECT d.dst AS node, l.label, COUNT(*) AS c
        |       FROM dir2 d JOIN l0 l ON l.node = d.src GROUP BY 1, 2),
        |r1 AS (SELECT node, label FROM (
        |         SELECT node, label,
        |                row_number() OVER (PARTITION BY node
        |                                   ORDER BY c DESC, label ASC) AS rn
        |         FROM n1) t WHERE rn = 1),
        |n2 AS (SELECT d.dst AS node, l.label, COUNT(*) AS c
        |       FROM dir2 d JOIN r1 l ON l.node = d.src GROUP BY 1, 2),
        |r2 AS (SELECT node, label FROM (
        |         SELECT node, label,
        |                row_number() OVER (PARTITION BY node
        |                                   ORDER BY c DESC, label ASC) AS rn
        |         FROM n2) t WHERE rn = 1)
        |SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
        |       node // 2 AS node_id,
        |       CASE WHEN label % 2 = 0 THEN 'part' ELSE 'supplier' END AS label_type,
        |       label // 2 AS label_id
        |FROM r2 ORDER BY node_type, node_id""".stripMargin,
    "g02_pagerank_iter3" ->
      """WITH edges AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
        |dir2 AS (
        |  SELECT 'part|' || p AS src, 'supplier|' || s AS dst FROM edges
        |  UNION ALL
        |  SELECT 'supplier|' || s AS src, 'part|' || p AS dst FROM edges),
        |deg AS (SELECT src, COUNT(*) AS deg FROM dir2 GROUP BY src),
        |n AS (SELECT COUNT(*) AS n FROM deg),
        |r0 AS (SELECT src AS node, 1000000000000 // n.n AS r FROM deg, n),
        |g1 AS (SELECT d.dst AS node, SUM(r0.r // deg.deg) AS g
        |       FROM dir2 d JOIN deg ON d.src = deg.src JOIN r0 ON r0.node = d.src
        |       GROUP BY d.dst),
        |r1 AS (SELECT deg.src AS node,
        |              150000000000 // n.n + (85 * coalesce(g1.g, 0)) // 100 AS r
        |       FROM deg CROSS JOIN n LEFT JOIN g1 ON g1.node = deg.src),
        |g2 AS (SELECT d.dst AS node, SUM(r1.r // deg.deg) AS g
        |       FROM dir2 d JOIN deg ON d.src = deg.src JOIN r1 ON r1.node = d.src
        |       GROUP BY d.dst),
        |r2 AS (SELECT deg.src AS node,
        |              150000000000 // n.n + (85 * coalesce(g2.g, 0)) // 100 AS r
        |       FROM deg CROSS JOIN n LEFT JOIN g2 ON g2.node = deg.src),
        |g3 AS (SELECT d.dst AS node, SUM(r2.r // deg.deg) AS g
        |       FROM dir2 d JOIN deg ON d.src = deg.src JOIN r2 ON r2.node = d.src
        |       GROUP BY d.dst),
        |r3 AS (SELECT deg.src AS node,
        |              150000000000 // n.n + (85 * coalesce(g3.g, 0)) // 100 AS r
        |       FROM deg CROSS JOIN n LEFT JOIN g3 ON g3.node = deg.src)
        |SELECT CASE WHEN node LIKE 'part|%' THEN 'part' ELSE 'supplier' END AS node_type,
        |       CAST(substr(node, position('|' IN node) + 1) AS BIGINT) AS node_id,
        |       CAST(r AS BIGINT) AS rank_units,
        |       CAST(r AS DOUBLE) / 1000000000000.0 AS rank
        |FROM r3 ORDER BY node_type, node_id""".stripMargin,
    "g01_pagerank_step" ->
      """WITH edges AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
        |pdeg AS (SELECT p, COUNT(*) AS pdeg FROM edges GROUP BY p),
        |sdeg AS (SELECT s, COUNT(*) AS sdeg FROM edges GROUP BY s),
        |n AS (SELECT (SELECT COUNT(*) FROM pdeg) + (SELECT COUNT(*) FROM sdeg) AS n),
        |wd AS (
        |  SELECT e.p, e.s, pdeg.pdeg, sdeg.sdeg,
        |         CAST(round(1000000000000.0 / pdeg.pdeg) AS BIGINT) AS punits,
        |         CAST(round(1000000000000.0 / sdeg.sdeg) AS BIGINT) AS sunits
        |  FROM edges e JOIN pdeg ON e.p = pdeg.p JOIN sdeg ON e.s = sdeg.s),
        |gathered AS (
        |  SELECT 'part' AS node_type, p AS node_id,
        |         MIN(pdeg) AS deg, CAST(SUM(sunits) AS BIGINT) AS units
        |  FROM wd GROUP BY p
        |  UNION ALL
        |  SELECT 'supplier' AS node_type, s AS node_id,
        |         MIN(sdeg) AS deg, CAST(SUM(punits) AS BIGINT) AS units
        |  FROM wd GROUP BY s)
        |SELECT node_type, node_id, deg,
        |       0.15 / n.n + 0.85 * (CAST(units AS DOUBLE) / 1000000000000.0) / n.n
        |         AS rank
        |FROM gathered, n ORDER BY node_type, node_id""".stripMargin)
}
