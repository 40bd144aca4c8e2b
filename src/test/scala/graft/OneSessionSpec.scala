package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the one session shape: Harness.session is the only
  * place under src/main and src/test that calls the `SparkSession`
  * builder, so every tool and every spec runs the same session conf. */
class OneSessionSpec extends AnyFunSuite {

  private val builderRe = """SparkSession\s*\.\s*builder\b""".r

  test("only Harness.scala builds a SparkSession under src/main and src/test") {
    // the guard itself must fire on a planted builder call, also split
    // over lines, and spare other builders
    assert(builderRe.findFirstIn("    val s = SparkSession" + ".builder()").nonEmpty)
    assert(builderRe.findFirstIn("SparkSession\n      ." + "builder()").nonEmpty)
    assert(builderRe.findFirstIn("new StringBuilder; Metadata.builder()").isEmpty)
    val sources = SourceTree.files("main", "test")
    val builders = SourceTree.matching(sources, builderRe)
    assert(sources.size > 80)
    assert(builders === Seq("Harness.scala"), builders.mkString("\n"))
  }
}
