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
    * FixpointSpec asserts this actually empties getPersistentRDDs.
    *
    * It unpersists EVERY RDD under the frame's analyzed plan
    * ([[Harness.frameRdds]]), not only the frame's own checkpoint: on a
    * plain plan over a session-memo frame (e.g. a filter of
    * Graph.coocPairs) it unpersists the memo frame itself, and the memo
    * then serves blocks that can no longer be read. Release only frames
    * the caller checkpointed. */
  def release(df: DataFrame): Unit =
    Harness.frameRdds(df).foreach(_.unpersist(blocking = false))

  private val obsId = new AtomicLong(0L)

  /** The probe row a materialization observed, read from its
    * observation. Listener delivery is asynchronous relative to the eager
    * checkpoint's return (measured: milliseconds), so obs.get normally
    * returns instantly; if delivery somehow never fires we fall back to
    * an explicit aggregation of the materialized frame rather than
    * deadlock the driver. */
  private def observed(obs: Observation, df: DataFrame, probe: Seq[Column])
      : Map[String, Any] =
    try Await.result(Future(obs.get)(ExecutionContext.global), 120.seconds)
    catch { case _: TimeoutException =>
      val r = df.agg(probe.head, probe.tail: _*).head()
      r.schema.fieldNames.zip(r.toSeq).toMap
    }

  /** The one fixpoint loop. Materializes `init`, then each `step` of the
    * current iterate, with localCheckpoint; the `probe` aggregates are an
    * observe() computed BY each checkpoint's job, init included, so the
    * loop runs exactly one Spark job per iteration (FixpointSpec
    * listener-counts this). It iterates at most `cap(init probe)` times
    * and stops early once `done(previous probe, next probe)` holds.
    * Returns the final iterate (still persisted), the iteration count and
    * whether `done` fired. All superseded iterates, and on failure the
    * current one, are released eagerly. Ownership: a caller returns its
    * result as a plan over the final iterate, not a copy of it;
    * Fixpoint.release(result) frees it. */
  private def loop(init: DataFrame, probe: Seq[Column], cap: Map[String, Any] => Int)
      (step: DataFrame => DataFrame)
      (done: (Map[String, Any], Map[String, Any]) => Boolean)
      : (DataFrame, Int, Boolean) = {
    def materialize(df: DataFrame): (DataFrame, Map[String, Any]) = {
      val obs = Observation(s"graft_fix_${obsId.incrementAndGet()}")
      val m = df.observe(obs, probe.head, probe.tail: _*).localCheckpoint()
      try (m, observed(obs, m, probe))
      catch { case t: Throwable => release(m); throw t }
    }
    var (cur, curProbe) = materialize(init)
    var iters = 0
    var converged = false
    try {
      val max = cap(curProbe)
      while (!converged && iters < max) {
        val (next, nextProbe) = materialize(step(cur))
        converged = done(curProbe, nextProbe)
        release(cur) // superseded — next is materialized
        cur = next
        curProbe = nextProbe
        iters += 1
      }
      (cur, iters, converged)
    } catch { case t: Throwable => release(cur); throw t }
  }

  /** [[loop]] until no output row satisfies `changedPred`, or `maxIter`
    * iterations. Returns the final iterate and the iteration count. */
  def loopObserved(init: DataFrame, maxIter: Int)
                  (step: DataFrame => DataFrame)
                  (changedPred: Column): (DataFrame, Int) = {
    val (fin, iters, _) = loop(init, Seq(count(when(changedPred, true)).as("changed")),
      _ => maxIter)(step)((_, next) => next("changed") == 0L)
    (fin, iters)
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
    * (small: one row per node), so its distinct runs once for all
    * readers: the ccMemo serves it to l21 and l53, and ccMergeStep reads
    * it twice. All loop-internal checkpoints are released before
    * returning; Fixpoint.release(result) frees the result. */
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

    def edgeCount(sig: Map[String, Any]): Long = sig("sig_n").asInstanceOf[Long]
    // an empty edge set is already the fixpoint: cap 0, no round runs
    val (fin, iters, converged) = loop(init, sigCols, sig =>
        if (edgeCount(sig) == 0L) 0
        else if (maxIter > 0) maxIter
        else adaptiveCcCap(edgeCount(sig)))(
      cur => star(star(cur, large = true), large = false))(_ == _)
    // Cap-hit without convergence = the labeling would be WRONG
    // (components split across labels), not slow. The adaptive cap is
    // the published O(log² n) bound, but Kiveris et al.'s constant is
    // not literally 1 — if an adversarial graph ever needs more
    // rounds, fail loudly so the caller can raise maxIter, instead of
    // silently emitting split components into a dedup pass.
    if (!converged && iters > 0) {
      release(fin)
      throw new IllegalStateException(
        s"star CC hit its round cap ($iters) before the edge-set " +
          "signature stabilized — labels would be incorrect; rerun " +
          "with a larger maxIter")
    }
    // converged stars: every edge is (member, center); centers label themselves
    val labels = fin.select(col("a").as("id"), col("b").as("label"))
      .union(fin.select(col("b").as("id"), col("b").as("label")))
      .distinct()
      .localCheckpoint()
    release(fin)
    (labels, iters)
  }
}
