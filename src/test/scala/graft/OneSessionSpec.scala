package graft

import scala.jdk.CollectionConverters._

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
    val src = Iterator
      .iterate(new java.io.File(sys.props("user.dir")).getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null)
      .map(d => new java.io.File(d, "src"))
      .find(d => new java.io.File(d, "main/scala").isDirectory)
      .getOrElse(fail("src/main/scala not found above the working directory"))
    val sources = Seq("main", "test").flatMap { tree =>
      java.nio.file.Files.walk(new java.io.File(src, tree).toPath).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toList
    }
    val builders = sources.filter(p =>
      builderRe.findFirstIn(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).nonEmpty)
    assert(sources.size > 80)
    assert(builders.map(_.getFileName.toString) === Seq("Harness.scala"),
      builders.mkString("\n"))
  }
}
