package graft

import scala.jdk.CollectionConverters._

/** One clock + registry over every session-scoped memo in the library —
  * all of them [[FrameMemo]] instances (the CC labeling, the MinHash pair
  * graph, Graph's co-occurrence artifacts, Pipeline's BPE trainMemo,
  * CorpusStats' count memo, Lakehouse's scratch-log builds), so a
  * harness can reason about "memo state" as a single unit instead of
  * chasing per-module clear hooks. The drain's keep-set is derived from
  * the members' live entries ([[liveFrames]]), never mirrored.
  *
  * Two capabilities, both driven by admission stamps ([[stamp]] — a
  * process-wide monotonic counter each memo records at insert):
  *
  *  - '''Delta eviction''' ([[mark]] + [[evictSince]]): drop exactly the
  *    entries admitted after a mark. This is how Bench keeps best-of-2
  *    honest — entries a query's run 1 created are evicted before run 2,
  *    so both timed runs pay the same compute and the min is a COLD
  *    number, while entries that predate the query (genuine cross-query
  *    reuse, e.g. l53 consuming the CC labeling l21 built) survive and
  *    benefit both runs equally.
  *  - '''Reuse accounting''' ([[beginWindow]] + [[preHitCount]]): count
  *    lookup hits on entries stamped at-or-before a window start — i.e.
  *    "this run reused state built before it began". Bench publishes the
  *    per-query delta as `memo_pre` so memo-assisted timings are tagged
  *    in bench_full.json rather than inferred.
  *
  * Registration is once per memo (construction time); members never
  * unregister — memos are static singletons, not per-session values. */
object SessionMemos {

  private val clock = new java.util.concurrent.atomic.AtomicLong(0L)
  private val members =
    new java.util.concurrent.CopyOnWriteArrayList[FrameMemo[_, _]]()
  private val preHits = new java.util.concurrent.atomic.AtomicLong(0L)
  @volatile private var windowStart = Long.MaxValue

  private[graft] def register(m: FrameMemo[_, _]): Unit = members.add(m)

  /** Admission stamp for a new memo entry (strictly increasing). */
  private[graft] def stamp(): Long = clock.incrementAndGet()

  /** Current clock reading: entries stamped after this are "since". */
  def mark(): Long = clock.get()

  /** Evict entries admitted after `mark` from every registered memo,
    * releasing their frames (see FrameMemo.evictSince for the caller's
    * contract); return how many were dropped. */
  def evictSince(mark: Long): Int = {
    var n = 0
    members.forEach(m => n += m.evictSince(mark))
    n
  }

  /** Release every memo's retired (overflow-held) frames. The caller
    * asserts QUIESCENCE: no frame previously returned by any memo is
    * still mid-consumption (Harness.drain's between-queries barrier is
    * exactly this point); live lookup-able entries are untouched. Wired
    * into Harness.drain so a harness session's retained storage is
    * bounded by memo capacity, not by how many corpora it cycled. */
  def releaseRetired(): Int = {
    var n = 0
    members.forEach(m => n += m.releaseRetired())
    n
  }

  /** Every memo's live frames on `sc` — the set Harness.drain keeps,
    * derived from the entries themselves at the drain. */
  private[graft] def liveFrames(sc: org.apache.spark.SparkContext)
      : Seq[org.apache.spark.sql.DataFrame] =
    members.asScala.toSeq.flatMap(_.liveFrames(sc))

  /** Start counting pre-existing-state hits: lookups that serve an entry
    * stamped at-or-before `mark` increment [[preHitCount]]. */
  def beginWindow(mark: Long): Unit = windowStart = mark

  def preHitCount: Long = preHits.get()

  /** Called by members on every lookup hit with the served entry's
    * admission stamp. Cheap (one volatile read + at most one CAS), so
    * members call it unconditionally; outside a window (windowStart =
    * MaxValue) every hit counts, but nothing reads the counter then. */
  private[graft] def noteHit(entryStamp: Long): Unit =
    if (entryStamp <= windowStart) preHits.incrementAndGet()
}
