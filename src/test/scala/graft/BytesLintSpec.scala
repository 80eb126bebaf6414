package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level gate for the byte primitives: every reader and
  * writer in `sources/` (the format plane) and `operators/` (the media
  * codecs) reads and writes through [[graft.sources.Bytes]], so a file
  * that grows its own varint, zigzag or fixed-width helper, or its own
  * stackless damage exception, fails here at the file that regressed.
  */
class BytesLintSpec extends AnyFunSuite {

  private val dirs = Seq("sources", "operators")
    .map(d => java.nio.file.Paths.get(s"src/main/scala/graft/$d"))

  private val helperDef = java.util.regex.Pattern.compile(
    "\\bdef\\s+(uvarint|varint|uleb|zigzag|zig|zz|le16|le32|le64|be16|" +
      "be32|be64|u16|u32|u64|fixed64|le4|le8|leRead8)\\b")
  private val damageClass = java.util.regex.Pattern.compile(
    "extends\\s+RuntimeException\\s*\\(\\s*null\\s*,\\s*null\\s*,\\s*" +
      "false\\s*,\\s*false\\s*\\)")

  /** Each source file except Bytes.scala, without comments. */
  private def sources: Seq[(String, String)] = dirs.flatMap { dir =>
    val files = LintSources.files(dir)
    assert(files.nonEmpty, s"no sources under $dir")
    files.filterNot(_.getFileName.toString == "Bytes.scala")
      .map(f => (s"${dir.getFileName}/${f.getFileName}", LintSources.code(f)))
  }

  test("no varint, zigzag or fixed-width helper outside Bytes.scala") {
    val offenders = sources.flatMap { case (name, code) =>
      val m = helperDef.matcher(code)
      Iterator.continually(if (m.find()) Some(m.group(1)) else None)
        .takeWhile(_.isDefined).flatten.map(h => s"$name: def $h")
    }
    assert(offenders.isEmpty,
      s"local byte helpers (use graft.sources.Bytes): ${offenders.mkString(", ")}")
  }

  test("no stackless damage exception outside Bytes.scala") {
    val offenders = sources.collect {
      case (name, code) if damageClass.matcher(code).find() => name
    }
    assert(offenders.isEmpty,
      s"local damage classes (use Bytes.Damage): ${offenders.mkString(", ")}")
  }
}
