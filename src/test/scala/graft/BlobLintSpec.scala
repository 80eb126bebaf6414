package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level gate for the blob-shard harness: the writer and
  * format-reader queries in `queries/` take the md5 blob key, the
  * fixture root and the fixture join from [[graft.queries.Blobs]], and
  * their digests from [[graft.expressions.Md5Hashes]], so a query that
  * spells one of them by hand again fails here at the file that
  * regressed. Oracle SQL quotes fixture paths in single quotes, so the
  * fixture-literal rule does not see them.
  */
class BlobLintSpec extends AnyFunSuite {

  private val dir = java.nio.file.Paths.get("src/main/scala/graft/queries")

  private val banned = Seq(
    "MessageDigest.getInstance" -> "MessageDigest\\.getInstance",
    "def h60" -> "\\bdef\\s+h60\\b",
    "\"%02x\".format" -> "\"%02x\"\\.format",
    "broadcast(<session>.read.parquet(" -> "broadcast\\(\\s*\\w+\\.read\\.parquet\\(",
    "a fixture path literal" -> "\"[^\"'\\s]*fixtures/")
    .map { case (name, re) => name -> java.util.regex.Pattern.compile(re) }

  test("no query file re-spells a digest, the fixture root or the fixture join") {
    val files = LintSources.files(dir)
    assert(files.nonEmpty, s"no sources under $dir")
    val offenders = for {
      f <- files if f.getFileName.toString != "Blobs.scala"
      code = LintSources.code(f)
      (name, re) <- banned if re.matcher(code).find()
    } yield s"${f.getFileName}: $name"
    assert(offenders.isEmpty,
      s"use queries/Blobs and expressions/Md5Hashes: ${offenders.mkString(", ")}")
  }
}
