package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's drop-directory consumer as a Structured Streaming
  * pipeline (SURVEY.md §2.8; reference `import_files_to_postgre.py:283-293`
  * + `utils_tools.py:199-231` move_file).
  *
  * Semantics preserved:
  *  - each file is one unit of work (`maxFilesPerTrigger=1` ⇒ one
  *    micro-batch per file ≙ the reference's one-transaction-per-file);
  *  - success → `processedDir`, failure → `errorsDir` (quarantine), with
  *    timestamp suffix on name collision;
  *  - `Trigger.AvailableNow` reproduces drain-and-exit batch behavior;
  *    exactly-once via checkpointing (a re-run after failure skips
  *    committed batches — the restart-safe replacement for rollback).
  */
object FileDrop {

  final case class Config(
      inputDir: String,
      format: String,
      schema: StructType,
      processedDir: String,
      errorsDir: String,
      checkpointDir: String,
      pathGlob: String = "*")

  /** Run the drop-directory pipeline to completion (AvailableNow).
    * `process` receives one micro-batch (= one file), its batch id and
    * its source files (collected once, here); they are archived after it,
    * or routed to the quarantine dir if it throws.
    * Returns (processedCount, errorCount) like the reference's main.
    */
  def runAvailableNow(spark: SparkSession, cfg: Config)(
      process: (DataFrame, Long, Seq[String]) => Unit): (Long, Long) = {
    val (ok, err) = (new java.util.concurrent.atomic.AtomicLong,
      new java.util.concurrent.atomic.AtomicLong)
    start(spark, cfg, Trigger.AvailableNow(), ok, err)(process)
      .awaitTermination()
    (ok.get, err.get)
  }

  /** Counters + handle for a live (continuously-triggered) drop-directory
    * pipeline; `stop()` the query to end it.
    */
  final case class LiveHandle(query: org.apache.spark.sql.streaming.StreamingQuery,
                              processed: java.util.concurrent.atomic.AtomicLong,
                              errored: java.util.concurrent.atomic.AtomicLong)

  /** The LIVE drop-directory mode the reference's long-running loop
    * corresponds to: same per-file micro-batches, same archive/quarantine
    * moves, but a ProcessingTime trigger that keeps polling `inputDir`
    * for files arriving mid-stream instead of draining and exiting.
    * Restart-safe through the same checkpoint as [[runAvailableNow]] —
    * the two modes are the SAME query, differing only in trigger.
    */
  def runLive(spark: SparkSession, cfg: Config,
              interval: String = "100 milliseconds")(
      process: (DataFrame, Long, Seq[String]) => Unit): LiveHandle = {
    val (ok, err) = (new java.util.concurrent.atomic.AtomicLong,
      new java.util.concurrent.atomic.AtomicLong)
    LiveHandle(
      start(spark, cfg, Trigger.ProcessingTime(interval), ok, err)(process),
      ok, err)
  }

  private def start(spark: SparkSession, cfg: Config, trigger: Trigger,
                    ok: java.util.concurrent.atomic.AtomicLong,
                    err: java.util.concurrent.atomic.AtomicLong)(
      process: (DataFrame, Long, Seq[String]) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val stream = spark.readStream
      .format(cfg.format)
      .schema(cfg.schema)
      .option("pathGlobFilter", cfg.pathGlob)
      .option("maxFilesPerTrigger", "1")
      .load(cfg.inputDir)
      .withColumn("_source_file", input_file_name())
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // distinct before collect: a row-per-record format (json) must not
        // bring every row's file name to the driver
        val files = batch.select(col("_source_file")).distinct()
          .collect().map(_.getString(0)).toSeq
        try {
          process(batch.drop("_source_file"), batchId, files)
          files.foreach(f => moveFile(spark, f, cfg.processedDir))
          ok.addAndGet(files.length.toLong)
        } catch {
          case e: Throwable =>
            files.foreach(f => moveFile(spark, f, cfg.errorsDir))
            err.addAndGet(files.length.toLong)
        }
        ()
      }
      .start()
  }

  /** Hadoop-FS move with collision timestamp suffix — the engine's
    * replacement for the reference's os.rename retry loop (the FS layer
    * owns retries; the suffix behavior is preserved).
    */
  def moveFile(spark: SparkSession, file: String, destDir: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(file)
    val fs = src.getFileSystem(conf)
    if (!fs.exists(src)) return false
    val dest = new Path(destDir)
    if (!fs.exists(dest)) fs.mkdirs(dest)
    var target = new Path(dest, src.getName)
    if (fs.exists(target)) {
      val ts = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
        .format(java.time.LocalDateTime.now())
      val name = src.getName
      val (base, ext) = name.lastIndexOf('.') match {
        case -1 => (name, "")
        case i  => (name.substring(0, i), name.substring(i))
      }
      target = new Path(dest, s"${base}_$ts$ext")
    }
    fs.rename(src, target)
  }
}
