package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Source text for the lint specs: the `.scala` files of a directory and
  * their code with block and line comments stripped, so prose that
  * mentions a banned pattern does not count (Scaladoc was the first
  * false positive RoundLintSpec caught).
  */
object LintSources {

  /** The `.scala` files directly in `dir`, or anywhere under it. */
  def files(dir: Path, recursive: Boolean = false): List[Path] = {
    val s = if (recursive) Files.walk(dir) else Files.list(dir)
    try s.iterator().asScala.toList.filter(_.toString.endsWith(".scala"))
    finally s.close()
  }

  /** The text of `f` without its comments. */
  def code(f: Path): String =
    new String(Files.readAllBytes(f), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .linesIterator.map(l =>
        l.indexOf("//") match { case -1 => l; case i => l.take(i) })
      .mkString("\n")
}
