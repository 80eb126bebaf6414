package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source-level gate for the engine's rounding convention: every
  * oracle-facing `round(...)` must be [[graft.functions.c_round]]
  * (DuckDB-exact, always DoubleType), imported under the name `round`
  * via `import graft.functions.{c_round => round}`. The convention is
  * shadowing-based, so two silent failure modes exist that no compile
  * error catches:
  *   - a NEW query/operator file uses `round()` without the import →
  *     Spark's HALF_UP shortest-decimal round → representational ties
  *     flip oracle hashes (the rounds-4/5 q143/q123 red cells);
  *   - someone "cleans up" the import in an existing file → same drift.
  * This spec turns both into a test failure at the file that regressed.
  */
class RoundLintSpec extends AnyFunSuite {

  private val dirs = Seq(
    "src/main/scala/graft/queries",
    "src/main/scala/graft/operators",
    "src/main/scala/graft/streaming",
    "src/main/scala/graft/plans")

  // a call site: `round(` not preceded by an identifier character or
  // dot (excludes c_round(, bround(, .round(, unround( etc.)
  private val callSite = java.util.regex.Pattern.compile("(?<![\\w.])round\\(")
  private val shadowImport = "import graft.functions.{c_round => round}"

  test("every file calling round() carries the c_round shadow import") {
    val offenders = for {
      dir <- dirs
      p = java.nio.file.Paths.get(dir)
      if java.nio.file.Files.isDirectory(p)
      f <- LintSources.files(p)
      code = LintSources.code(f)
      if callSite.matcher(code).find() && !code.contains(shadowImport)
    } yield f.toString
    assert(offenders.isEmpty,
      s"files call round() without `$shadowImport`: ${offenders.mkString(", ")}")
  }

  // ------------------------------------------------------------------
  // Headline-membership gate (round-7 lesson: q199 sat in the timed
  // headline set while its oracle errored on a fixture that was never
  // committed — a benchmark number for an unverified answer). Three
  // checks, all cheap and source/artifact-level:
  //   1. every headline query carries an oracle (no rows-only headline);
  //   2. every absolute path an oracle references exists in the repo
  //      (the exact q199/q200 failure: a JOIN against a fixture parquet
  //      that was promised but never generated);
  //   3. if the newest CORRECTNESS_r*.json records the query, its row
  //      must be fully green — an erred or mismatched query cannot stay
  //      in the timed set.
  // ------------------------------------------------------------------

  test("every headline query is oracle-backed and its oracle's file " +
    "references exist") {
    val headline = SparkEntry.headline.toSet
    val oracles = SparkEntry.oracleSql
    val missingOracle = headline.filterNot(oracles.contains)
    assert(missingOracle.isEmpty,
      s"headline queries without an oracle: ${missingOracle.mkString(", ")}")
    val pathRef = java.util.regex.Pattern.compile("'(/[^']+\\.(?:parquet|csv|json))'")
    val missingFiles = for {
      (name, sql) <- oracles.toSeq
      m = pathRef.matcher(sql)
      path <- Iterator.continually(if (m.find()) Some(m.group(1)) else None)
        .takeWhile(_.isDefined).flatten
      if !java.nio.file.Files.exists(java.nio.file.Paths.get(path))
    } yield s"$name -> $path"
    assert(missingFiles.isEmpty,
      s"oracles reference files that do not exist: ${missingFiles.mkString(", ")}")
  }

  test("no headline query has a red or erred row in the newest " +
    "CORRECTNESS_r*.json") {
    val repo = java.nio.file.Paths.get(".")
    val latest = {
      val s = java.nio.file.Files.list(repo)
      try s.iterator().asScala.toList
        .filter(_.getFileName.toString.matches("CORRECTNESS_r\\d+\\.json"))
        .sortBy(_.getFileName.toString).lastOption
      finally s.close()
    }
    latest.foreach { p =>
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.readTree(java.nio.file.Files.readAllBytes(p))
      val red = SparkEntry.headline.filter { name =>
        val e = root.get(name)
        e != null && e.isObject && {
          def green(f: String) = { val v = e.get(f); v != null && v.asBoolean(false) }
          val err = Option(e.get("err")).filterNot(_.isNull).map(_.asText(""))
          // an erred row whose error names a file that NOW exists is the
          // already-remediated case (missing fixture committed since the
          // correctness run) — anything else stays red until re-proven
          val remediated = err.exists { msg =>
            val m = java.util.regex.Pattern.compile("(/[\\w./-]+\\.parquet)")
              .matcher(msg)
            m.find() &&
              java.nio.file.Files.exists(java.nio.file.Paths.get(m.group(1)))
          }
          if (err.isDefined) !remediated
          else !green("rows_match") || !green("schema_match") || !green("hash_match")
        }
      }
      assert(red.isEmpty,
        s"headline queries with non-green rows in ${p.getFileName}: " +
          s"${red.mkString(", ")} — fix the oracle or drop the headline flag")
    }
  }
}
