package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.streaming.IngestStream
import org.apache.spark.metrics.source.CodegenMetrics

/** Generated code survives for the whole session: a second run of the
  * same plans compiles no class. For that, the codegen cache holds a
  * workload's working set, a generated class's name does not carry the
  * whole-stage id AQE assigns in stage-completion order, a streaming
  * query's cloned session shares the executor class loader (all three
  * set in [[Engine.session]]), and a plan bakes no per-run value into
  * its generated code (the ingest plan's id offsets are joined on, not
  * inlined as literals).
  */
class CodegenReuseSpec extends SparkSpec {

  /** Classes Janino compiled while `f` ran (JVM-wide counter). */
  private def compiled(f: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("a second pass of the four curation queries compiles no class") {
    val out = Files.createTempDirectory("codegen_reuse_curate").toString
    val queries = Seq("q161_pretrain_pipeline", "q102_curation_pipeline",
      "q146_bloom_decontaminate", "q34_minhash_lsh")
    def pass(): Long = compiled(queries.foreach { q =>
      SparkEntry.queries(q)(spark, sf()).write.mode("overwrite").parquet(s"$out/$q")
      Checkpoints.release()
    })
    val first = pass()
    val second = pass()
    info(s"classes compiled: first pass $first, second pass $second")
    assert(second == 0, s"the second pass compiled $second classes (first: $first)")
  }

  test("the third of three one-file ingest commits compiles no class") {
    val base = Files.createTempDirectory("codegen_reuse_ingest").toString
    val counts = Seq("wb_000.xlsx", "wb_001.xlsx", "wb_002.xlsx").map { f =>
      Files.createDirectories(Paths.get(base, "in"))
      Files.copy(Paths.get("fixtures/ingestion", f), Paths.get(base, "in", f),
        StandardCopyOption.REPLACE_EXISTING)
      compiled {
        assert(IngestStream.runAvailableNow(spark, s"$base/in",
          warehouseDir = s"$base/wh", processedDir = s"$base/done",
          errorsDir = s"$base/bad", checkpointDir = s"$base/ckpt") == ((1L, 0L)))
        Checkpoints.release()
      }
    }
    info(s"classes compiled per commit: ${counts.mkString(", ")}")
    assert(counts.last == 0, s"the third commit compiled ${counts.last} classes")
  }
}
