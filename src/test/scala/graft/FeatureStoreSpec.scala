package graft

import org.apache.spark.sql.functions._

/** l66: CDC-driven incremental feature-store maintenance — the
  * carry-over ∪ changed-key-re-join table must equal a from-scratch PIT
  * rebuild row-for-row, and the re-join inputs must be delta-sized (only
  * the change feed's keys are touched).
  */
class FeatureStoreSpec extends SparkSuite {

  test("l66: incremental maintenance == from-scratch PIT rebuild row-for-row; " +
      "only changed keys are re-joined; the change feed is exactly the " +
      "post-cut dimension delta") {
    val (inc, facts, changed, log) = llm.Features.l66State(spark, sf)
    val incC = inc.localCheckpoint() // consumed three ways below
    // ground truth: full PIT join against the complete dimension (== v1)
    val rebuild = llm.Features.pit(facts,
      operators.Lakehouse.s28Snapshot(spark, log, 1))
    assert(incC.exceptAll(rebuild).count() === 0L,
      "incremental table has rows the rebuild lacks")
    assert(rebuild.exceptAll(incC).count() === 0L,
      "rebuild has rows the incremental maintenance missed")
    // the change feed names exactly the delta cohort's users (post-cut
    // state events of user_id%4==0 — Features' CDC predicate)
    val e = Tables.events(spark, sf)
    val states = e.filter(col("event_type").isin("signup", "purchase", "error"))
    val cut = states.agg(expr("(min(ts_ms) + max(ts_ms)) div 2"))
      .collect()(0).getLong(0)
    val expectChanged = states
      .filter(col("ts_ms") > cut && pmod(col("user_id"), lit(4)) === 0)
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    val gotChanged = changed.collect().map(_.getLong(0)).toSet
    assert(gotChanged === expectChanged)
    // delta-sized re-join: strictly fewer facts re-joined than exist
    // (untouched users' rows carry over from the persisted table)
    val nAll = facts.count()
    val nRejoined = facts.join(changed, Seq("user_id"), "left_semi").count()
    assert(nRejoined < nAll,
      s"re-join must be delta-sized: $nRejoined of $nAll facts touched")
    assert(nRejoined > 0L, "the delta must touch someone at this fixture")
    // every carried-over row belongs to an unchanged user
    val carried = incC.join(changed, Seq("user_id"), "left_semi")
    val rebuilt = llm.Features.pit(
      facts.join(changed, Seq("user_id"), "left_semi"),
      operators.Lakehouse.s28Snapshot(spark, log, 1)
        .join(changed, Seq("user_id"), "left_semi"))
    assert(carried.exceptAll(rebuilt).count() === 0L,
      "changed users' rows must come from the re-join, not stale carry-over")
    Fixpoint.release(incC)
  }

  test("l67: feat(v) == PIT(facts, dim(v)) at EVERY committed version — the " +
      "no-torn-read invariant of the multi-table commit; one pointer " +
      "carries both tables; untouched feature files are referenced, not " +
      "rewritten") {
    val (log, facts, nReplaced) = llm.Features.l67Build(spark, sf)
    assert(nReplaced > 0L, "the delta must touch some users")
    for (v <- 0 to 1) {
      val m = operators.Lakehouse.readManifest(log, v)
      val dim = operators.Lakehouse.snapshotOf(spark, m, "dim.")
      val feat = operators.Lakehouse.snapshotOf(spark, m, "feat.")
      val want = Tables.orderAll(llm.Features.pit(facts, dim))
      val got = Tables.orderAll(feat)
      assert(got.collect().toSeq === want.collect().toSeq,
        s"version $v reads a torn (dim, feat) pair")
    }
    // atomicity witness: the SAME pointer file names both tables' entries
    val m1 = operators.Lakehouse.readManifest(log, 1)
    val kinds = m1.map(_._1).toSet
    assert(Set("dim.add", "feat.add", "feat.dv").subsetOf(kinds))
    // incrementality witness: v1 references every v0 feature file
    // verbatim (carry-over by reference, no rewrite)
    val m0 = operators.Lakehouse.readManifest(log, 0)
    val ft0 = m0.collect { case ("feat.add", p) => p }.toSet
    val ft1 = m1.collect { case ("feat.add", p) => p }.toSet
    assert(ft0.subsetOf(ft1) && ft1.size > ft0.size)
  }
}
