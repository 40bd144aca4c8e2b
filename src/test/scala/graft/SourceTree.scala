package graft

import scala.jdk.CollectionConverters._

/** The repo's Scala sources for the source-guard specs (OneSessionSpec,
  * OneMemoSpec): found by walking up from the working directory to the
  * `src` holding `main/scala`. */
object SourceTree {

  /** Every `.scala` file under `src/<tree>` for each given tree. */
  def files(trees: String*): Seq[java.nio.file.Path] = {
    val src = Iterator
      .iterate(new java.io.File(sys.props("user.dir")).getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null)
      .map(d => new java.io.File(d, "src"))
      .find(d => new java.io.File(d, "main/scala").isDirectory)
      .getOrElse(throw new IllegalStateException(
        "src/main/scala not found above the working directory"))
    trees.flatMap { tree =>
      java.nio.file.Files.walk(new java.io.File(src, tree).toPath).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toList
    }
  }

  def text(p: java.nio.file.Path): String =
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")

  /** File names of the sources whose text `re` matches. */
  def matching(sources: Seq[java.nio.file.Path], re: scala.util.matching.Regex): Seq[String] =
    sources.filter(p => re.findFirstIn(text(p)).nonEmpty).map(_.getFileName.toString).sorted
}
