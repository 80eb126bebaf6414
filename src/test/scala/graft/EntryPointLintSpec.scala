package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level gate for session setup: every main builds its session
  * through [[Engine.session]] and takes its core count from
  * [[Engine.localCpus]], so a file that builds its own `SparkSession` or
  * reads `SPARK_GRAFT_CPUS` itself fails here. `Bench.scala` keeps its
  * own session and env-var contract and is the one exception. Temp
  * directories, in the main tree and the tests alike, come from
  * [[org.apache.spark.graft.TempDirs]], which deletes them at JVM exit.
  */
class EntryPointLintSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala")
  private val testRoot = java.nio.file.Paths.get("src/test/scala")
  private val sessionFiles = Set("graft/Engine.scala", "graft/Bench.scala")

  private val builder =
    java.util.regex.Pattern.compile("\\bSparkSession\\s*\\.\\s*builder\\b")
  private val cpusVar = java.util.regex.Pattern.compile("\"SPARK_GRAFT_CPUS\"")
  private val tempDir = java.util.regex.Pattern.compile("\\bcreateTemp(Directory|Dir)\\b")

  /** Each file under `root` but `except`, as (relative path, code
    * without comments).
    */
  private def sources(except: Set[String],
                      root: java.nio.file.Path = root): Seq[(String, String)] = {
    val files = LintSources.files(root, recursive = true)
    assert(files.nonEmpty, s"no sources under $root")
    files.map(f => (root.relativize(f).toString.replace('\\', '/'), f))
      .filterNot { case (rel, _) => except(rel) }
      .map { case (rel, f) => (rel, LintSources.code(f)) }
  }

  test("no SparkSession.builder outside Engine.scala and Bench.scala") {
    val offenders = sources(sessionFiles).collect {
      case (rel, code) if builder.matcher(code).find() => rel
    }
    assert(offenders.isEmpty,
      s"sessions built outside Engine.session: ${offenders.mkString(", ")}")
  }

  test("no temp directory created outside TempDirs") {
    val offenders = (sources(Set("org/apache/spark/graft/TempDirs.scala")) ++
      sources(Set.empty, testRoot).map { case (rel, code) => (s"test/$rel", code) })
      .collect { case (rel, code) if tempDir.matcher(code).find() => rel }
    assert(offenders.isEmpty,
      s"temp directories not deleted at exit: ${offenders.mkString(", ")}")
  }

  test("no SPARK_GRAFT_CPUS read outside Engine.scala and Bench.scala") {
    val offenders = sources(sessionFiles).collect {
      case (rel, code) if cpusVar.matcher(code).find() => rel
    }
    assert(offenders.isEmpty,
      s"core counts read outside Engine.localCpus: ${offenders.mkString(", ")}")
  }
}
