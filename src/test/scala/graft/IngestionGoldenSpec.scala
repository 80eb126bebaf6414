package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.plans.{Ingestion, Warehouse, WarehouseStore}
import graft.streaming.IngestStream
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import scala.sys.process._

/** Golden ingestion over the committed workbooks in `fixtures/ingestion/`
  * (FIXTURES.md §8), diffed against scripts/ingestion_oracle.py table by
  * table, surrogate ids included: the batch plan, the one-file-per-commit
  * stream, re-drop idempotency, and the Spark job budget of one commit.
  */
class IngestionGoldenSpec extends SparkSpec {

  private val fixtures = "fixtures/ingestion"
  private val files = Seq("wb_000.xlsx", "wb_001.xlsx", "wb_002.xlsx")

  private lazy val oracleDir: String = {
    val dir = Files.createTempDirectory("ingestion_golden_oracle").toString
    val rc = s"python3 scripts/ingestion_oracle.py $fixtures $dir".!
    assert(rc == 0, "oracle script failed")
    dir
  }

  private def copyInto(dir: String, name: String, as: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.copy(Paths.get(fixtures, name), Paths.get(dir, as),
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def commit(base: String): (Long, Long) =
    IngestStream.runAvailableNow(spark, s"$base/in",
      warehouseDir = s"$base/wh", processedDir = s"$base/done",
      errorsDir = s"$base/bad", checkpointDir = s"$base/ckpt")

  /** Every table's rows, as sorted strings (the saved files are replaced
    * by the next commit, so the rows are taken out before it).
    */
  private def snapshot(wh: Warehouse): Seq[Seq[String]] =
    Seq(wh.paymentType, wh.store, wh.provider, wh.product, wh.purchase,
      wh.operation, wh.price).map(_.collect().map(_.toString).toSeq.sorted)

  /** The three workbooks committed one per micro-batch, in name order. */
  private lazy val streamed: String = {
    val base = Files.createTempDirectory("ingestion_golden_stream").toString
    files.foreach { f =>
      copyInto(s"$base/in", f, f)
      assert(commit(base) == ((1L, 0L)), s"commit of $f")
    }
    Checkpoints.release()
    base
  }

  test("a batch ingest of the three workbooks matches the oracle, ids included") {
    val wh = Ingestion.ingestWorkbooks(spark, fixtures, Ingestion.empty(spark))
    IngestionSpec.assertOracle(wh, oracleDir)
    Checkpoints.release()
  }

  test("three one-file commits end in the oracle's warehouse") {
    IngestionSpec.assertOracle(WarehouseStore.load(spark, s"$streamed/wh"), oracleDir)
  }

  test("a saved warehouse loads with exactly the seed schemas, which are the saved ones") {
    def fields(df: DataFrame) = df.schema.fields.map(f => f.name -> f.dataType).toSeq
    def tables(wh: Warehouse) = Seq(wh.paymentType, wh.store, wh.provider,
      wh.product, wh.purchase, wh.operation, wh.price)
    val names = Seq("payment_type", "store", "provider", "product", "purchase",
      "operation", "price")
    val seeds = tables(Ingestion.empty(spark)).map(fields)
    assert(tables(WarehouseStore.load(spark, s"$streamed/wh")).map(fields) == seeds)
    assert(names.map(n => fields(spark.read.parquet(s"$streamed/wh/$n"))) == seeds)
  }

  test("re-dropping a committed workbook leaves every table's rows unchanged") {
    val before = snapshot(WarehouseStore.load(spark, s"$streamed/wh"))
    copyInto(s"$streamed/in", files(1), "replay_" + files(1))
    assert(commit(streamed) == ((1L, 0L)))
    Checkpoints.release()
    assert(snapshot(WarehouseStore.load(spark, s"$streamed/wh")) == before)
  }

  test("a one-workbook commit into a two-workbook warehouse stays within its job budget") {
    val base = Files.createTempDirectory("ingestion_golden_jobs").toString
    files.take(2).foreach(f => copyInto(s"$base/first", f, f))
    copyInto(s"$base/third", files(2), files(2))
    WarehouseStore.save(spark,
      Ingestion.ingestWorkbooks(spark, s"$base/first", Ingestion.empty(spark)), s"$base/wh")
    Checkpoints.release()

    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerDrain(sc)
    sc.addSparkListener(listener)
    try {
      val wh = WarehouseStore.load(spark, s"$base/wh")
      WarehouseStore.save(spark,
        Ingestion.ingestWorkbooks(spark, s"$base/third", wh), s"$base/wh")
      org.apache.spark.graft.ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    Checkpoints.release()
    info(s"load + ingestWorkbooks + save: ${jobs.get} Spark jobs")
    // At local[4] with 4 shuffle partitions this runs 46 jobs (load 0,
    // ingest 34, save 12). The plan that ranked each id kind behind its
    // own checkpoint, re-running the batch from the xlsx scan each time,
    // ran 94, 7 of them schema inference in the load.
    assert(jobs.get <= 50, s"${jobs.get} Spark jobs")
  }
}
