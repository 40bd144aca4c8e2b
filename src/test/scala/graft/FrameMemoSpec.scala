package graft

import org.apache.spark.sql.functions._

/** The FrameMemo contract beyond the hit/miss pins living in
  * PipelineSpec/DedupSpec:
  *
  *  - capacity overflow RETIRES (entry leaves lookup, but its blocks stay
  *    valid — a caller holding the handed-out frame must never see its
  *    LocalCheckpointRDD blocks vanish mid-consumption); the next
  *    QUIESCENCE BARRIER (Harness.drain / SessionMemos.releaseRetired)
  *    frees retired blocks clear-free while live entries keep serving;
  *    past FrameMemo.MaxRetired un-released retirements overflow throws;
  *    clear() releases live AND retired entries, and the drain no
  *    longer keeps them;
  *  - SessionMemos.evictSince(mark) drops exactly the entries admitted
  *    after the mark (Bench's between-runs reset), releasing their blocks,
  *    while older entries keep serving;
  *  - the beginWindow/preHitCount accounting distinguishes hits on
  *    pre-window state from hits on entries built inside the window;
  *  - a driver-side value memo (trainMemo, CorpusStats) overflows by
  *    dropping its oldest entry and never throws;
  *  - a Lakehouse log memo rebuilds a hit whose version pointer is gone;
  *  - Harness.drain keeps exactly the live memo frames and unpersists
  *    every other persistent RDD. */
class FrameMemoSpec extends SparkSuite {
  import spark.implicits._

  private def checkpointed(tag: Int) =
    Seq((tag.toLong, s"v$tag")).toDF("k", "v").localCheckpoint()

  private def liveRddIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def keyOf(tag: Int) =
    Seq(tag).toDF("a").queryExecution.normalized

  test("overflow retires (frame stays valid until quiescence); drain then frees retired only") {
    val memo = FrameMemo.frames[Int](capacity = 2)
    val before = liveRddIds()
    // three distinct keys (distinct literal plans) -> third insert
    // overflows #1 out of the lookup table
    val f1 = memo.getOrCompute((spark, keyOf(1), 1))(checkpointed(1))
    val f1Ids = Harness.frameRddIds(f1).toSet
    memo.getOrCompute((spark, keyOf(2), 2))(checkpointed(2))
    val f3 = memo.getOrCompute((spark, keyOf(3), 3))(checkpointed(3))
    // out of lookup: the same key recomputes (and overflows #2 in turn)
    var recomputed = false
    memo.getOrCompute((spark, keyOf(1), 1)) { recomputed = true; checkpointed(1) }
    assert(recomputed, "an overflowed entry must no longer be served")
    // ...but the handed-out frame was NOT invalidated underneath its
    // reader: blocks live and readable until the next quiescence point
    assert(f1Ids.subsetOf(liveRddIds()),
      "retired blocks must stay live until a quiescence barrier")
    assert(f1.count() === 1L, "a retired handed-out frame must stay readable")
    // quiescence (this reader is done): drain frees the RETIRED frames'
    // blocks — clear-free — while live entries keep serving
    Harness.drain(spark, settleMs = 0L)
    assert(f1Ids.intersect(liveRddIds()).isEmpty,
      "drain (the quiescence barrier) must free retired blocks")
    assert(f3.count() === 1L, "a live (non-retired) entry must survive the drain")
    assert(memo.getOrCompute((spark, keyOf(3), 3))(
      fail("a live entry must still be served after releaseRetired")) ne null)
    memo.clear()
    assert(liveRddIds() -- before === Set.empty,
      "clear() must release every live AND retired entry")
    // cleared entries must no longer be in the drain's keep-set: a drain
    // now unpersists a fresh unmanaged checkpoint
    val stray = checkpointed(9)
    Harness.drain(spark, settleMs = 0L)
    assert(Harness.frameRddIds(stray).toSet.intersect(liveRddIds()).isEmpty,
      "an unmanaged checkpoint must NOT survive drain (stale keep-set leak)")
  }

  test("retired growth past MaxRetired throws instead of pinning storage forever") {
    // a session cycling corpora with neither a drain nor a clear() is
    // the unbounded pinned-storage failure mode — past the cap the
    // overflow fails FAST with the fix named, instead of OOMing later
    val memo = FrameMemo.frames[Int](capacity = 1)
    var lastTried = -1
    val ex = intercept[IllegalStateException] {
      // capacity 1: insert k+1 distinct keys -> k retirements
      (0 to FrameMemo.MaxRetired + 1).foreach { i =>
        lastTried = i
        memo.getOrCompute((spark, keyOf(100 + i), 100 + i))(checkpointed(100 + i))
      }
    }
    assert(ex.getMessage.contains("clear()"),
      s"the error must name the fix, got: ${ex.getMessage}")
    // the throw happened BEFORE admission: the rejected key must MISS
    // (recompute) on retry, and its rejected frame's blocks were released
    // — a throw-after-admit would leave one kept never-evictable
    // entry per caught-and-retried call, growing exactly the pinned
    // storage the cap exists to stop
    SessionMemos.releaseRetired() // quiescence resets the budget...
    var recomputed = false
    memo.getOrCompute((spark, keyOf(100 + lastTried), 100 + lastTried)) {
      recomputed = true; checkpointed(100 + lastTried)
    }
    assert(recomputed, "the cap-rejected entry must not have been admitted")
    // ...and the same churn then works
    (0 to 3).foreach { i =>
      memo.getOrCompute((spark, keyOf(300 + i), 300 + i))(checkpointed(300 + i))
    }
    memo.clear()
    Harness.drain(spark, settleMs = 0L)
  }

  test("params distinguish entries sharing a plan; race-loser frame is released") {
    val memo = FrameMemo.frames[String](capacity = 4)
    val plan = keyOf(42)
    val fa = memo.getOrCompute((spark, plan, "a"))(checkpointed(10))
    val fb = memo.getOrCompute((spark, plan, "b"))(checkpointed(11))
    assert(!(fa eq fb))
    assert(memo.getOrCompute((spark, plan, "a"))(
      fail("must not recompute on a params hit")) eq fa)
    memo.clear()
  }

  test("SessionMemos.evictSince drops exactly the entries admitted after the mark") {
    val memo = FrameMemo.frames[Int](capacity = 4)
    val f1 = memo.getOrCompute((spark, keyOf(21), 0))(checkpointed(21))
    val mark = SessionMemos.mark()
    val f2 = memo.getOrCompute((spark, keyOf(22), 0))(checkpointed(22))
    val f2Ids = Harness.frameRddIds(f2).toSet
    assert(SessionMemos.evictSince(mark) >= 1) // registry routes to this memo
    assert(f2Ids.intersect(liveRddIds()).isEmpty,
      "the post-mark entry's blocks must be released")
    // the post-mark key now recomputes; the pre-mark entry still serves
    var recomputed = false
    memo.getOrCompute((spark, keyOf(22), 0)) { recomputed = true; checkpointed(22) }
    assert(recomputed)
    assert(memo.getOrCompute((spark, keyOf(21), 0))(
      fail("pre-mark entry must survive evictSince")) eq f1)
    memo.clear()
  }

  test("beginWindow/preHitCount counts only hits on pre-window entries") {
    val memo = FrameMemo.frames[Int](capacity = 4)
    memo.getOrCompute((spark, keyOf(31), 0))(checkpointed(31))
    val mark = SessionMemos.mark()
    SessionMemos.beginWindow(mark)
    val pre0 = SessionMemos.preHitCount
    memo.getOrCompute((spark, keyOf(31), 0))(fail("hit expected")) // pre-window hit
    memo.getOrCompute((spark, keyOf(32), 0))(checkpointed(32))     // in-window build
    memo.getOrCompute((spark, keyOf(32), 0))(fail("hit expected")) // in-window hit
    assert(SessionMemos.preHitCount - pre0 === 1L,
      "only the hit on the pre-window entry counts")
    // park the window so later suites' memo hits don't touch the counter
    SessionMemos.beginWindow(Long.MinValue)
    memo.clear()
  }

  test("a value memo that overflows drops its oldest entry and never throws") {
    // CorpusStats' shape (plan -> count) at a small capacity, churned far
    // past FrameMemo.MaxRetired: values hold no blocks, so nothing is
    // retired and the frame memo's hard cap never applies
    val memo = new FrameMemo[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Long](
      2, _ sameResult _)
    val n = FrameMemo.MaxRetired + 3
    (1 to n).foreach(i => memo.getOrCompute(keyOf(1000 + i))(i.toLong))
    assert(memo.releaseRetired() === 0)
    assert(memo.getOrCompute(keyOf(1000 + n - 1))(fail("live entry expected")) === n - 1L)
    var recomputed = false
    memo.getOrCompute(keyOf(1000 + n - 2)) { recomputed = true; -1L }
    assert(recomputed, "an overflowed value must no longer be served")
    // that admission dropped the oldest live entry (n - 1), not the newest
    assert(memo.getOrCompute(keyOf(1000 + n))(fail("newest entry expected")) === n.toLong)
    memo.clear()
  }

  test("a log memo hit whose version pointer was deleted is rebuilt, not served") {
    val log = operators.Lakehouse.s28Table(spark, sf)
    val v0 = java.nio.file.Paths.get(log, "v00000.ptr")
    SessionMemos.beginWindow(SessionMemos.mark())
    val pre0 = SessionMemos.preHitCount
    assert(operators.Lakehouse.s28Table(spark, sf) === log)
    assert(SessionMemos.preHitCount - pre0 === 1L, "an intact log is served")
    java.nio.file.Files.delete(v0)
    assert(operators.Lakehouse.s28Table(spark, sf) === log)
    assert(java.nio.file.Files.exists(v0), "the broken log must be rebuilt")
    assert(SessionMemos.preHitCount - pre0 === 1L, "the stale hit must not be served")
    SessionMemos.beginWindow(Long.MinValue)
  }

  test("drain keeps exactly the live memo frames; evicted, cleared and unmanaged RDDs go") {
    val memo = FrameMemo.frames[Int](capacity = 4)
    val other = FrameMemo.frames[Int](capacity = 4)
    val live = memo.getOrCompute((spark, keyOf(51), 0))(checkpointed(51))
    val mark = SessionMemos.mark()
    val evicted = memo.getOrCompute((spark, keyOf(52), 0))(checkpointed(52))
    assert(memo.evictSince(mark) === 1)
    val cleared = other.getOrCompute((spark, keyOf(53), 0))(checkpointed(53))
    other.clear()
    val stray = checkpointed(54)
    val cached = Seq(55).toDF("c").cache()
    assert(cached.count() === 1L)
    Harness.drain(spark, settleMs = 0L)
    val kept = SessionMemos.liveFrames(spark.sparkContext).flatMap(Harness.frameRddIds).toSet
    assert(liveRddIds() === kept, "the drain keeps the live memo frames and nothing else")
    assert(Harness.frameRddIds(live).toSet.subsetOf(kept))
    assert(live.count() === 1L, "a live memo frame must survive the drain")
    Seq(evicted, cleared, stray).foreach(df =>
      assert(Harness.frameRddIds(df).toSet.intersect(kept).isEmpty))
    assert(!cached.storageLevel.useMemory)
    memo.clear()
  }
}
