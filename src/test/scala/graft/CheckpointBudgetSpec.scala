package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the checkpoint diet: each `.localCheckpoint()` is an
  * eager job boundary and a lineage cut that cannot be recomputed, so
  * no src/main file may gain one. The budget pins every file's count;
  * lowering a count (deleting a copy checkpoint) means lowering its
  * entry here, raising one fails. */
class CheckpointBudgetSpec extends AnyFunSuite {

  private val callRe = """\.\s*localCheckpoint\s*\(""".r

  private val budget = Map(
    "graft/Fixpoint.scala" -> 2,
    "graft/llm/Dedup.scala" -> 1,
    "graft/llm/Llm.scala" -> 7,
    "graft/llm/MinHashLshMl.scala" -> 1,
    "graft/llm/Multimodal.scala" -> 1,
    "graft/llm/Pipeline.scala" -> 4,
    "graft/llm/Semantic.scala" -> 2,
    "graft/odm/OdmPipeline.scala" -> 1,
    "graft/operators/EventTime.scala" -> 2,
    "graft/operators/Graph.scala" -> 11,
    "graft/operators/History.scala" -> 5,
    "graft/operators/Joins.scala" -> 1,
    "graft/operators/Lakehouse.scala" -> 3,
    "graft/operators/Scans.scala" -> 1)

  /** The files whose call count exceeds their budget (0 if unlisted). */
  private def overBudget(counts: Map[String, Int]): Seq[String] =
    counts.collect { case (f, n) if n > budget.getOrElse(f, 0) =>
      s"$f: $n .localCheckpoint() calls, budget ${budget.getOrElse(f, 0)}"
    }.toSeq.sorted

  test("no src/main file exceeds its localCheckpoint budget") {
    val counts = SourceTree.files("main").map { p =>
      p.toString.split("/main/scala/").last -> callRe.findAllIn(SourceTree.text(p)).size
    }.toMap
    assert(counts.size > 40)
    // the guard fires on a planted extra call, also split over lines,
    // and in a file with no budget
    val planted = counts("graft/llm/Pipeline.scala") + callRe
      .findAllIn("pairs.select(\"a\")\n      .localCheckpoint()").size
    assert(overBudget(counts.updated("graft/llm/Pipeline.scala", planted)).nonEmpty)
    assert(overBudget(counts.updated("graft/Harness.scala", 1)).nonEmpty)
    assert(callRe.findFirstIn("released checkpoints (localCheckpoint)").isEmpty)

    val over = overBudget(counts)
    assert(over.isEmpty, over.mkString("\n"))
    assert(counts.values.sum <= 45, s"${counts.values.sum} calls under src/main")
  }
}
