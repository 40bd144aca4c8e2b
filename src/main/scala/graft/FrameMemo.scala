package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one session-scoped memo class: every member of [[SessionMemos]]
  * is an instance. Two kinds of value ride it:
  *
  *  - '''Frames''' (any value that is a DataFrame; keyed by
  *    [[FrameMemo.frames]]): localCheckpoint-MATERIALIZED frames — the
  *    "compute once per corpus, reuse across operators" contract shared
  *    by the CC labeling (Pipeline.dedupClusterLabels),
  *    the MinHash pair graph (Llm.minHashNearDupPairs) and Graph's
  *    co-occurrence artifacts, the multi-job artifacts several registered
  *    queries re-derive from one input.
  *  - '''Driver-side values''' (BPE merge tables, corpus counts, scratch
  *    log paths): nothing to release, so eviction is just a drop.
  *
  * Frame keying: (SparkSession identity, canonicalized input plan, a
  * params value). The input plan MUST be the raw source read — memoized
  * frames are themselves LogicalRDDs, and any eagerly-checkpointed
  * intermediate in the key would make every construction a fresh
  * never-matching plan (the round-9 ccMemo lesson).
  *
  * The inter-query drain (Harness.drain) keeps the live entries' frames
  * of its own SparkContext — read from the entries at drain time
  * ([[liveFrames]] via SessionMemos.liveFrames), so no protection set
  * has to mirror admissions and releases. A memo hit on a drained frame
  * would be an unrecomputable LocalCheckpointRDD.
  *
  * '''Returned-frame validity''': a frame returned by [[getOrCompute]]
  * stays valid until [[clear]], an [[evictSince]] whose mark precedes
  * its admission, or a [[releaseRetired]] after the entry was
  * capacity-retired — all release its blocks, and a LocalCheckpointRDD
  * cannot recompute them. Capacity overflow deliberately does NOT
  * release inline: the overflowed entry leaves the lookup table (so it
  * can't be served again) but a frame's blocks are RETIRED — retained
  * until the next QUIESCENCE BARRIER ([[releaseRetired]], wired through
  * SessionMemos into Harness.drain's between-queries point — where the
  * caller asserts no handed-out frame is still being consumed; drain
  * already unpersists every RDD outside the live entries there, so any
  * plan still mid-flight would break regardless) or clear()/covering
  * evictSince, whichever comes first — so a caller still holding the
  * handed-out frame is never invalidated mid-consumption, and retained
  * storage in a long session stays bounded without a refcount API on
  * every call site. Frame overflow is logged loudly, and past
  * [[FrameMemo.MaxRetired]] un-released retired frames it THROWS: with
  * per-(corpus, params) keys that means dozens of live corpora with
  * neither a drain nor a clear() between generations — the
  * pinned-storage failure mode the drain exists to prevent, surfaced as
  * an error naming the fix instead of as an eventual executor OOM. A
  * driver-side value has no blocks, so its overflow drops the entry and
  * never throws.
  *
  * Staleness is the caller's contract: a corpus regenerated IN PLACE
  * still sameResult-matches a re-read of the same path (PipelineSpec
  * pins this empirically), so pipelines that rewrite inputs call
  * [[clear]] between generations. A memo whose values can go stale on
  * their own passes `fresh`: a hit it rejects is dropped and rebuilt.
  *
  * @param capacity live entries kept before the oldest overflows
  * @param same     key match, cheap comparisons first
  * @param fresh    revalidates a hit before it is served */
final class FrameMemo[K, V](capacity: Int, same: (K, K) => Boolean,
    fresh: V => Boolean = (_: V) => true) {

  SessionMemos.register(this)

  private final class Entry(val key: K, val value: V, val stamp: Long)

  private def frameOf(v: V): Option[DataFrame] = v match {
    case df: DataFrame @unchecked => Some(df)
    case _ => None
  }

  // admission-ordered (ArrayDeque insert order == stamp order)
  private val entries = new java.util.ArrayDeque[Entry]()
  // overflowed or stale frames: invisible to lookup, blocks retained
  // until clear()/evictSince/releaseRetired — see class doc
  private val retired = new java.util.ArrayDeque[Entry]()

  private def lookup(key: K): Option[V] = {
    val it = entries.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (same(e.key, key)) {
        if (fresh(e.value)) {
          SessionMemos.noteHit(e.stamp)
          return Some(e.value)
        }
        it.remove(); retire(e)
      }
    }
    None
  }

  /** Keep a frame entry's blocks for the next quiescence barrier; a
    * value entry has none and is simply dropped. True if retained. */
  private def retire(e: Entry): Boolean = frameOf(e.value).isDefined && retired.add(e)

  private def release(v: V): Unit = frameOf(v).foreach(Fixpoint.release)

  /** Serve the memoized value for `key` or run `compute` — outside the
    * lock; a frame must come back eagerly materialized (localCheckpoint'd)
    * — and store it. On a lost race the freshly computed value is
    * released and the winner served, so exactly one copy stays live.
    * Returned frames stay valid per the class-doc validity contract. */
  def getOrCompute(key: K)(compute: => V): V =
    entries.synchronized(lookup(key)).getOrElse {
      val computed = compute
      entries.synchronized {
        lookup(key) match {
          case Some(winner) =>
            release(computed)
            winner
          case None =>
            // hard-cap check BEFORE admission: throwing after addLast
            // would leave one more never-evictable live entry per
            // caught-and-retried call — the exact pinned-storage growth
            // the cap exists to stop. The fresh frame is released (the
            // caller gets the exception, not the frame).
            if (entries.size >= capacity &&
                retired.size >= FrameMemo.MaxRetired) {
              release(computed)
              throw new IllegalStateException(
                s"FrameMemo holds ${retired.size} retired frames' blocks " +
                  "(capacity overflows with no intervening quiescence) — " +
                  "call clear() between corpus generations, or drain " +
                  "(Harness.drain / SessionMemos.releaseRetired) at a " +
                  "point where no handed-out frame is mid-consumption")
            }
            entries.addLast(new Entry(key, computed, SessionMemos.stamp()))
            // overflow: the oldest frame retires (logged), a value drops
            if (entries.size > capacity && retire(entries.removeFirst()))
              System.err.println(s"[FrameMemo] capacity $capacity overflow: " +
                "retiring oldest entry (blocks held until the next drain/" +
                "clear/evictSince; a session cycling corpora should clear() " +
                "between generations)")
            computed
        }
      }
    }

  /** Drop AND RELEASE entries (live and retired) admitted after `mark`;
    * return how many were dropped. Caller asserts nothing still holds a
    * frame admitted after the mark — in Bench's between-runs reset, run
    * 1's frame was fully consumed by its sink write before the evict. */
  def evictSince(mark: Long): Int = entries.synchronized {
    var n = 0
    for (q <- Seq(entries, retired))
      while (!q.isEmpty && q.peekLast().stamp > mark) {
        release(q.removeLast().value); n += 1
      }
    n
  }

  /** Free all retired entries' blocks. Caller asserts quiescence — no
    * handed-out frame is mid-consumption (see the class doc); live
    * entries are untouched and stay served. */
  def releaseRetired(): Int = entries.synchronized {
    val n = retired.size
    while (!retired.isEmpty) release(retired.removeFirst().value)
    n
  }

  /** Drop every entry — live and retired — releasing its blocks. After
    * this, previously returned frames are INVALID. */
  def clear(): Unit = entries.synchronized {
    (entries.asScala ++ retired.asScala).foreach(e => release(e.value))
    entries.clear(); retired.clear()
  }

  /** The live entries' frames that belong to `sc` — what a drain of
    * that context keeps. Filtered by context because RDD ids restart
    * near 0 in every SparkContext: a stopped context's uncleared frames
    * would otherwise shield a new context's unrelated RDDs from the
    * drain — the pinned-storage leak the drain exists to prevent. */
  private[graft] def liveFrames(sc: SparkContext): Seq[DataFrame] =
    entries.synchronized {
      entries.asScala.flatMap(e => frameOf(e.value))
        .filter(_.sparkSession.sparkContext eq sc).toSeq
    }
}

object FrameMemo {
  /** Un-released retired entries tolerated before overflow THROWS —
    * high enough that any session with a working drain/clear discipline
    * never sees it, low enough that the pinned-storage growth fails fast
    * instead of OOMing an executor hours later. */
  private[graft] val MaxRetired = 64

  /** A memo of materialized frames keyed by (session identity, input
    * plan, params) — see the class doc's keying contract. */
  def frames[P](capacity: Int = 8): FrameMemo[(SparkSession, LogicalPlan, P), DataFrame] =
    new FrameMemo[(SparkSession, LogicalPlan, P), DataFrame](capacity,
      (a, b) => (a._1 eq b._1) && a._3 == b._3 && a._2.sameResult(b._2))
}
