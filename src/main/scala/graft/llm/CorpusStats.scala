package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Session-scoped memo for the corpus-size probes that right-size the
  * scaled dedup parameters (scaledSimBandBits / scaledPlanes / scaledK).
  *
  * Each probe is one tiny count() job, but a library caller composing
  * several dedup stages over the SAME input frame (l02c + l02d + l02e in
  * one curation pass is the normal shape) would otherwise rescan the
  * corpus once per stage. Keyed by the NORMALIZED logical plan — the
  * same key Spark's own plan cache uses — so the same source frame hits
  * the memo regardless of which stage built the DataFrame object, while
  * different inputs (other SF dirs, filtered frames) miss it.
  *
  * The memo deliberately trades freshness for scan count: parameter
  * derivation tolerates a stale n (band width moves by whole bits per
  * ~2× corpus growth), so re-reading a mutated path mid-session is not a
  * correctness concern. Entries are a (plan, Long) pair per distinct
  * input frame — bounded by the handful of corpora a session touches.
  */
object CorpusStats {
  // sameResult (what CacheManager itself uses for cache lookups), not
  // plan equality: two spark.read.parquet(path) calls build distinct
  // relation objects that only semantic comparison identifies. Entries
  // are bounded (the oldest dropped past 64) so a long-lived session
  // probing many distinct frames can't accumulate retained plan graphs,
  // and the linear sameResult scan stays cheap.
  private val memo = new graft.FrameMemo[LogicalPlan, Long](64, _ sameResult _)

  /** df.count(), memoized per semantically-equal normalized plan; the
    * count runs outside the memo's lock (it can take seconds). */
  def n(df: DataFrame): Long =
    memo.getOrCompute(df.queryExecution.normalized)(df.count())

  /** Drop all memoized sizes — the invalidation hook for callers whose
    * corpus mutates beyond the parameter-derivation tolerance. */
  def clear(): Unit = memo.clear()
}
