package graft.streaming

import graft.plans.{Ingestion, WarehouseStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** The reference's full warehouse-ingestion main as a Structured
  * Streaming pipeline (SURVEY.md §2.8 + §3.2): drop directory of .xlsx
  * workbooks → one micro-batch per FILE ([[FileDrop]] semantics:
  * maxFilesPerTrigger=1 ≙ one transaction per file,
  * `import_files_to_postgre.py:136-237`) → the [[Ingestion]] plan against
  * the parquet-backed warehouse → stage-then-publish commit of the
  * file's change ([[WarehouseStore]]) → archive or quarantine the file.
  *
  * Restart safety: the checkpoint skips committed batches. A batch whose
  * save failed (a staging write failing, or any filesystem step reporting
  * failure, throws) is quarantined only after all its staging writes have
  * returned, and one cut short by a crash re-runs: either way every table
  * was staged before any was published, the next load rolls back a
  * half-done table replacement, and a re-run's anti-joins and J5 dedup
  * gate add only the rows that did not land (the limits are in
  * [[WarehouseStore]]'s doc) — the reference's rollback, approximated
  * without a transaction.
  */
object IngestStream {

  private val binaryFileSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Drain `inputDir` (AvailableNow), ingesting each workbook into the
    * warehouse at `warehouseDir`. Returns (processed, errored) file
    * counts like the reference's main loop.
    */
  def runAvailableNow(spark: SparkSession, inputDir: String, warehouseDir: String,
                      processedDir: String, errorsDir: String,
                      checkpointDir: String): (Long, Long) = {
    val cfg = FileDrop.Config(
      inputDir = inputDir, format = "binaryFile", schema = binaryFileSchema,
      processedDir = processedDir, errorsDir = errorsDir,
      checkpointDir = checkpointDir, pathGlob = "*.xlsx")
    FileDrop.runAvailableNow(spark, cfg) { (_, _, files) =>
      files.foreach { file =>
        val wh = WarehouseStore.load(spark, warehouseDir)
        val next = Ingestion.ingestWorkbooks(spark, file, wh)
        WarehouseStore.save(spark, next, warehouseDir)
      }
    }
  }
}
