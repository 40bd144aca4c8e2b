package graft

import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Driver-side fixpoint pattern shared by the iterative operators (l21
  * connected components, full PageRank, kmeansFit): each iterate is
  * truncated with localCheckpoint (eager) so iteration N never replays
  * iterations 1..N−1, the convergence probe rides the SAME job as the
  * checkpoint via observe() metrics (one Spark job per iteration — a
  * separate count() would double per-iteration latency at scale), and —
  * the round-4 lesson — the superseded iterate's blocks are unpersisted
  * the moment the next one is materialized instead of waiting for driver
  * GC. Retained superseded checkpoints were exactly the l21/g01 in-sweep
  * GC debt: ContextCleaner frees them only when a driver GC collects the
  * RDD reference, and a busy 24 g heap can go hundreds of jobs between
  * full GCs.
  */
object Fixpoint {

  /** Release a localCheckpoint's storage blocks. Dataset.unpersist only
    * clears CacheManager entries (plan-matched .cache()/.persist()), so
    * on a checkpointed frame it is a silent no-op — the blocks belong to
    * the LogicalRDD's underlying RDD and must be unpersisted there.
    * FixpointSpec asserts this actually empties getPersistentRDDs. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))

  private val obsId = new AtomicLong(0L)

  /** Read an observation's metrics, with a belt-and-braces fallback: the
    * listener delivery is asynchronous relative to the eager checkpoint's
    * return (measured: milliseconds), so obs.get normally returns
    * instantly; if delivery somehow never fires we fall back to an
    * explicit job rather than deadlock the driver. */
  private def observed[T](obs: Observation)(read: Map[String, Any] => T)
      (fallback: => T): T =
    try read(Await.result(Future(obs.get)(ExecutionContext.global), 120.seconds))
    catch { case _: TimeoutException => fallback }

  /** One observed Long metric; a null metric (sum over an empty iterate)
    * reads as 0 = converged. */
  private def observedLong(obs: Observation, fallback: => Long): Long =
    observed(obs)(_.valuesIterator.toSeq.headOption.flatMap(Option(_)) match {
      case Some(l: java.lang.Long) => l.longValue()
      case Some(l: Long) => l
      case _ => 0L
    })(fallback)

  /** Iterate `step` from `init` until no output row satisfies
    * `changedPred` or `maxIter`. The convergence probe is an observe()
    * aggregate computed BY the job that materializes each iterate's
    * localCheckpoint — exactly one Spark job per iteration
    * (FixpointSpec listener-counts this). Returns the final iterate
    * (still persisted — the caller owns its release) and the iteration
    * count. All superseded iterates, and on failure the current one,
    * are released eagerly. */
  def loopObserved(init: DataFrame, maxIter: Int)
                  (step: DataFrame => DataFrame)
                  (changedPred: Column): (DataFrame, Int) = {
    var cur = init.localCheckpoint()
    var iters = 0
    var go = true
    try {
      while (go && iters < maxIter) {
        val obs = Observation(s"graft_fix_${obsId.incrementAndGet()}")
        val next = step(cur)
          .observe(obs, sum(when(changedPred, 1L).otherwise(0L)).as("changed"))
          .localCheckpoint()
        try go = observedLong(obs, next.filter(changedPred).count()) > 0
        catch { case t: Throwable => release(next); throw t }
        release(cur) // superseded — next is materialized
        cur = next
        iters += 1
      }
      (cur, iters)
    } catch { case t: Throwable => release(cur); throw t }
  }

  /** General-probe variant: `changed` runs as its own job over the
    * checkpointed iterate (use loopObserved unless the probe genuinely
    * can't be expressed as a row-predicate aggregate). Failure paths
    * release the in-flight iterates before rethrowing — a throw mid-loop
    * must not leave checkpoint blocks persisted for the session (the
    * GC-debt failure mode this file exists to prevent). */
  def loop(init: DataFrame, maxIter: Int)
          (step: DataFrame => DataFrame)
          (changed: DataFrame => Long): (DataFrame, Int) = {
    var cur = init.localCheckpoint()
    var iters = 0
    var go = true
    try {
      while (go && iters < maxIter) {
        val next = step(cur).localCheckpoint()
        try go = changed(next) > 0
        catch { case t: Throwable => release(next); throw t }
        release(cur) // superseded — next is materialized
        cur = next
        iters += 1
      }
      (cur, iters)
    } catch { case t: Throwable => release(cur); throw t }
  }

  /** Connected components by alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): unlike plain min-label propagation, whose round count is
    * the graph diameter (adversarial chains → O(n) rounds), the
    * alternation converges in O(log² n) rounds on any graph — each
    * round is two neighborhood-min aggregations + joins, all
    * shuffle-partitioned on node id, nothing driver-side but the
    * convergence signature. At convergence the edge set is a union of
    * stars centered at each component's minimum node.
    *
    * Input: undirected edges as (a, b) pairs, any orientation, no self
    * loops required. Output: one (id, label) row per node that appears
    * in `pairs`, label = the component's minimum node id — identical to
    * what min-label propagation produces, so an oracle written against
    * either agrees. The returned frame is localCheckpoint-materialized
    * (small: one row per node); all loop-internal checkpoints are
    * released before returning. */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 0): DataFrame =
    connectedComponentsStarWithStats(pairs, maxIter)._1

  /** The adaptive round cap: ceil(log₂ n)² with n bounded by 2·(edge
    * count) — the Kiveris et al. worst-case round bound, so the cap is
    * a PROVEN backstop, never an early truncation. A flat cap (the old
    * 25) silently truncates once the graph outgrows it: at 100 TB an
    * adversarial pair graph legally needs more rounds than any constant,
    * and a truncated labeling is a WRONG answer (split components), not
    * a slow one. Signature-stability detection still exits most runs in
    * a handful of rounds; this only bounds the pathological tail. */
  private[graft] def adaptiveCcCap(edgeCount: Long): Int = {
    val n = 2.0 * edgeCount + 2.0
    val l = math.ceil(math.log(n) / math.log(2.0))
    math.max(6, (l * l).toInt)
  }

  /** connectedComponentsStar plus the realized round count, for specs
    * that assert the O(log² n) bound actually holds on adversarial
    * chains. `maxIter <= 0` (the default) = the adaptive
    * [[adaptiveCcCap]] computed from the observed initial edge count. */
  def connectedComponentsStarWithStats(pairs: DataFrame,
      maxIter: Int = 0): (DataFrame, Int) = {
    val init = pairs
      .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()

    // one star pass; edges arrive canonical (a > b)
    def star(edges: DataFrame, large: Boolean): DataFrame = {
      val nbrs =
        if (large)
          edges.select(col("a").as("u"), col("b").as("v"))
            .union(edges.select(col("b").as("u"), col("a").as("v")))
        else // small-star gathers at the LARGER endpoint only
          edges.select(col("a").as("u"), col("b").as("v"))
      val m = nbrs.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val emitted =
        if (large)
          // attach every strictly-larger neighbor to the neighborhood min
          nbrs.join(m, "u").filter(col("v") > col("u"))
            .select(col("v").as("a"), col("m").as("b"))
        else
          // attach u and all its (smaller) neighbors to the min
          nbrs.join(m, "u")
            .select(col("v").as("a"), col("m").as("b"))
            .union(m.select(col("u").as("a"), col("m").as("b")))
      emitted
        .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
    }

    // Convergence = edge set stable, detected by the set signature
    // (count, Σ xxhash64 as DECIMAL so ANSI mode can't overflow-throw),
    // observed ON the checkpoint job — one Spark job per round. ACCEPTED
    // COLLISION RISK, documented per the round-5 advice: declaring
    // convergence early requires two successive DISTINCT edge sets with
    // equal cardinality AND equal 64-bit-hash sums — for non-adversarial
    // inputs that is a ~2⁻⁶⁴ event per round (the hash sum is a uniform
    // 64-bit-entropy function of the set), orders of magnitude below
    // machine-error rates; the exact alternative (exceptAll probe) costs
    // an extra shuffle job per round. A collision also only DELAYS
    // nothing — it stops one alternation early, which GraphSpec's
    // union-find property test would catch if it ever fired at test SF.
    val sigCols = Seq(
      count(lit(1)).as("sig_n"),
      coalesce(sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO)).as("sig_h"))

    def observedSig(obs: Observation, edges: DataFrame): (Long, java.math.BigDecimal) =
      observed(obs)(m =>
        (m.get("sig_n").flatMap(Option(_)).map(_.asInstanceOf[Long]).getOrElse(0L),
          m.get("sig_h").flatMap(Option(_)).map(_.asInstanceOf[java.math.BigDecimal])
            .getOrElse(java.math.BigDecimal.ZERO))) {
        val r = edges.agg(sigCols.head, sigCols.tail: _*).head()
        (r.getLong(0), r.getDecimal(1))
      }

    val initObs = Observation(s"graft_cc_${obsId.incrementAndGet()}")
    var cur = init.observe(initObs, sigCols.head, sigCols.tail: _*).localCheckpoint()
    var curSig = observedSig(initObs, cur)
    val cap = if (maxIter > 0) maxIter else adaptiveCcCap(curSig._1)
    var iters = 0
    var go = curSig._1 > 0
    try {
      while (go && iters < cap) {
        val obs = Observation(s"graft_cc_${obsId.incrementAndGet()}")
        val next = star(star(cur, large = true), large = false)
          .observe(obs, sigCols.head, sigCols.tail: _*)
          .localCheckpoint()
        val nextSig =
          try observedSig(obs, next)
          catch { case t: Throwable => release(next); throw t }
        go = nextSig != curSig
        release(cur)
        cur = next
        curSig = nextSig
        iters += 1
      }
      // Cap-hit without convergence = the labeling would be WRONG
      // (components split across labels), not slow. The adaptive cap is
      // the published O(log² n) bound, but Kiveris et al.'s constant is
      // not literally 1 — if an adversarial graph ever needs more
      // rounds, fail loudly so the caller can raise maxIter, instead of
      // silently emitting split components into a dedup pass.
      if (go) {
        // cleanup happens once, in the enclosing catch
        throw new IllegalStateException(
          s"star CC hit its round cap ($cap) before the edge-set " +
            "signature stabilized — labels would be incorrect; rerun " +
            "with a larger maxIter")
      }
    } catch { case t: Throwable => release(cur); throw t }
    // converged stars: every edge is (member, center); centers label themselves
    val labels = cur.select(col("a").as("id"), col("b").as("label"))
      .union(cur.select(col("b").as("id"), col("b").as("label")))
      .distinct()
      .localCheckpoint()
    release(cur)
    (labels, iters)
  }
}
