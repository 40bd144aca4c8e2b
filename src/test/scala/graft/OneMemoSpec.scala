package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the one memo class: under src/main, only the memo
  * module implements a SessionMemos member (registers with the clock,
  * stamps admissions, notes hits) and only it decides what the drain
  * keeps — Harness.drain reads its keep-set from SessionMemos.liveFrames,
  * and no module mirrors memo frames into a protection registry. */
class OneMemoSpec extends AnyFunSuite {

  // the hooks a SessionMemos member calls, or the old member trait
  private val memberRe =
    """SessionMemos\s*\.\s*(register|stamp|noteHit)\b|extends\s+[\w.]*\bMember\b""".r
  // a hand-kept protection registry for the drain
  private val registryRe = """(?i)protect(ed)?Rdds""".r
  // a drain-style sweep over the context's persistent RDDs
  private val sweepRe = """\.\s*getPersistentRDDs\b""".r

  test("only the memo module implements a SessionMemos member or the drain keep-set") {
    // the guards themselves must fire on planted copies, also split over
    // lines, and spare the harness-facing SessionMemos calls
    assert(memberRe.findFirstIn("graft.SessionMemos.register(new graft." +
      "SessionMemos.Member {").nonEmpty)
    assert(memberRe.findFirstIn("  graft.SessionMemos\n    .noteHit(stamp)").nonEmpty)
    assert(memberRe.findFirstIn("memo.addLast((key, v, SessionMemos." + "stamp()))").nonEmpty)
    assert(memberRe.findFirstIn(
      "SessionMemos.mark(); SessionMemos.evictSince(m); SessionMemos.preHitCount").isEmpty)
    assert(registryRe.findFirstIn("Harness.protect" + "Rdds(sc, ids)").nonEmpty)
    assert(registryRe.findFirstIn("private val protected" + "Rdds = newKeySet").nonEmpty)
    assert(sweepRe.findFirstIn("sc.getPersistent" + "RDDs.values.filterNot(keep)").nonEmpty)

    val sources = SourceTree.files("main")
    assert(sources.size > 40)
    val members = SourceTree.matching(sources, memberRe)
    assert(members === Seq("FrameMemo.scala"), members.mkString("\n"))
    val registries = SourceTree.matching(sources, registryRe)
    assert(registries === Seq.empty, registries.mkString("\n"))
    val sweeps = SourceTree.matching(sources, sweepRe)
    assert(sweeps === Seq("Harness.scala"), sweeps.mkString("\n"))
    assert(SourceTree.matching(sources, """def\s+liveFrames\b""".r) ===
      Seq("FrameMemo.scala", "SessionMemos.scala"))
    assert(SourceTree.text(sources.find(_.getFileName.toString == "Harness.scala").get)
      .contains("SessionMemos.liveFrames(sc)"),
      "Harness.drain must take its keep-set from SessionMemos.liveFrames")
  }
}
