package graft

import java.net.URI
import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.plans.{Ingestion, Warehouse, WarehouseStore}
import graft.streaming.IngestStream
import org.apache.hadoop.fs.{FSDataOutputStream, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.graft.TempDirs
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import scala.sys.process._

/** Golden ingestion over the committed workbooks in `fixtures/ingestion/`
  * (FIXTURES.md §8), diffed against scripts/ingestion_oracle.py table by
  * table, surrogate ids included: the batch plan, the one-file-per-commit
  * stream, re-drop idempotency, the commit protocol (a commit appends one
  * file to each table that gains rows, leaves the files it does not change
  * in place, compacts a fragmented table, and fails whole when a staging
  * write or a publish step fails) and the Spark job budget of one commit.
  */
class IngestionGoldenSpec extends SparkSpec {

  private val fixtures = "fixtures/ingestion"
  private val files = Seq("wb_000.xlsx", "wb_001.xlsx", "wb_002.xlsx")

  private lazy val oracleDir: String = {
    val dir = TempDirs.create("ingestion_golden_oracle").toString
    val rc = s"python3 scripts/ingestion_oracle.py $fixtures $dir".!
    assert(rc == 0, "oracle script failed")
    dir
  }

  private def copyInto(dir: String, name: String, as: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.copy(Paths.get(fixtures, name), Paths.get(dir, as),
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Drain `$base/in` into the warehouse at `$base/wh`, under `scheme`. */
  private def commit(base: String, scheme: String = ""): (Long, Long) =
    IngestStream.runAvailableNow(spark, s"$base/in",
      warehouseDir = s"$scheme$base/wh", processedDir = s"$base/done",
      errorsDir = s"$base/bad", checkpointDir = s"$base/ckpt")

  /** Every table's rows, as sorted strings (taken out before the next
    * commit, which may replace the files a loaded warehouse reads).
    */
  private def snapshot(wh: Warehouse): Seq[Seq[String]] =
    Seq(wh.paymentType, wh.store, wh.provider, wh.product, wh.purchase,
      wh.operation, wh.price).map(_.collect().map(_.toString).toSeq.sorted)

  private val tableNames = Seq("payment_type", "store", "provider", "product",
    "purchase", "operation", "price")

  /** Each table's data files (name -> length) in the warehouse at `wh`. */
  private def listing(wh: String): Map[String, Map[String, Long]] =
    tableNames.map { t =>
      t -> Option(new java.io.File(wh, t).listFiles()).toSeq.flatten
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getName -> f.length).toMap
    }.toMap

  /** The table count past which a save compacts instead of appending:
    * one file per full scan split (1 here) plus one split's worth of
    * per-file open cost.
    */
  private def compactAbove: Long = {
    val conf = spark.sessionState.conf
    1 + conf.filesMaxPartitionBytes / conf.filesOpenCostInBytes
  }

  /** Rewrite table `t` of the warehouse at `wh` as exactly `n` files of
    * the same rows (row i in file i mod n).
    */
  private def fragment(wh: String, t: String, n: Int): Unit = {
    val df = spark.read.parquet(s"$wh/$t")
    val rows = df.rdd.zipWithIndex().map(_.swap)
      .partitionBy(new org.apache.spark.HashPartitioner(n)).values
    spark.createDataFrame(rows, df.schema).write.parquet(s"$wh/.fragmented_$t")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$wh/$t"))
    Files.move(Paths.get(s"$wh/.fragmented_$t"), Paths.get(s"$wh/$t"))
  }

  /** The warehouse's file listing after each commit of [[streamed]]. */
  private val streamedListings = scala.collection.mutable.ArrayBuffer[Map[String, Map[String, Long]]]()

  /** The three workbooks committed one per micro-batch, in name order. */
  private lazy val streamed: String = {
    val base = TempDirs.create("ingestion_golden_stream").toString
    files.foreach { f =>
      copyInto(s"$base/in", f, f)
      assert(commit(base) == ((1L, 0L)), s"commit of $f")
      streamedListings += listing(s"$base/wh")
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

  test("a one-file commit leaves every file of the appended tables and of payment_type in place") {
    streamed
    val kept = tableNames.filterNot(_ == "price")
    assert(streamedListings.size == files.size)
    streamedListings.zip(streamedListings.tail).foreach { case (before, after) =>
      kept.foreach { t =>
        val moved = before(t).filterNot { case (f, len) => after(t).get(f).contains(len) }
        assert(moved.isEmpty, s"$t: the commit rewrote ${moved.keys.mkString(", ")}")
      }
      assert(after("payment_type") == before("payment_type"))
    }
  }

  test("a one-file commit appends exactly one file to each table that gains rows") {
    streamed
    val appendable = tableNames.filterNot(t => t == "price" || t == "payment_type")
    streamedListings.zip(streamedListings.tail).foreach { case (before, after) =>
      val added = appendable.map(t => t -> (after(t).keySet -- before(t).keySet).size).toMap
      assert(added("purchase") == 1 && added("operation") == 1, s"files appended: $added")
      assert(added.values.forall(_ <= 1), s"files appended: $added")
    }
  }

  test("re-dropping a committed workbook leaves every table's rows unchanged") {
    val before = snapshot(WarehouseStore.load(spark, s"$streamed/wh"))
    val filesBefore = listing(s"$streamed/wh")
    copyInto(s"$streamed/in", files(1), "replay_" + files(1))
    assert(commit(streamed) == ((1L, 0L)))
    Checkpoints.release()
    assert(snapshot(WarehouseStore.load(spark, s"$streamed/wh")) == before)
    // every delta is empty, so the commit writes no table at all
    assert(listing(s"$streamed/wh") == filesBefore)
  }

  test("a commit rewrites a table fragmented past the threshold whole, and still matches the oracle") {
    val base = TempDirs.create("ingestion_golden_compact").toString
    files.take(2).foreach(f => copyInto(s"$base/first", f, f))
    copyInto(s"$base/third", files(2), files(2))
    WarehouseStore.save(spark,
      Ingestion.ingestWorkbooks(spark, s"$base/first", Ingestion.empty(spark)), s"$base/wh")
    Checkpoints.release()
    fragment(s"$base/wh", "operation", (compactAbove + 1).toInt)
    val fragmented = listing(s"$base/wh")("operation")
    assert(fragmented.size == compactAbove + 1)

    val wh = WarehouseStore.load(spark, s"$base/wh")
    WarehouseStore.save(spark,
      Ingestion.ingestWorkbooks(spark, s"$base/third", wh), s"$base/wh")
    Checkpoints.release()
    val compacted = listing(s"$base/wh")("operation")
    assert(compacted.size == 1, s"${compacted.size} files after compaction")
    assert(compacted.keySet.intersect(fragmented.keySet).isEmpty)
    IngestionSpec.assertOracle(WarehouseStore.load(spark, s"$base/wh"), oracleDir)
  }

  test("a commit whose publish step fails is quarantined and leaves the live tables as they were") {
    val base = TempDirs.create("ingestion_golden_failing").toString
    spark.sparkContext.hadoopConfiguration.set("fs.failmv.impl", classOf[FailingRenameFs].getName)
    def run(): (Long, Long) = IngestStream.runAvailableNow(spark, s"$base/in",
      warehouseDir = s"failmv:$base/wh", processedDir = s"$base/done",
      errorsDir = s"$base/bad", checkpointDir = s"$base/ckpt")
    copyInto(s"$base/in", files(0), files(0))
    assert(run() == ((1L, 0L)))
    val before = snapshot(WarehouseStore.load(spark, s"$base/wh"))
    val filesBefore = listing(s"$base/wh")

    copyInto(s"$base/in", files(1), files(1))
    FailingRenameFs.failing = true
    try assert(run() == ((0L, 1L))) finally FailingRenameFs.failing = false
    Checkpoints.release()
    assert(new java.io.File(s"$base/bad").list().toSeq == Seq(files(1)))
    assert(listing(s"$base/wh") == filesBefore)
    assert(snapshot(WarehouseStore.load(spark, s"$base/wh")) == before)

    // a replacement cut short between its two renames: the next load
    // rolls the old table back into place
    Files.move(Paths.get(s"$base/wh/price"), Paths.get(s"$base/wh/.previous_price"))
    assert(snapshot(WarehouseStore.load(spark, s"$base/wh")) == before)
    assert(listing(s"$base/wh") == filesBefore)
  }

  test("a commit whose staging write fails for one table waits for the others, is quarantined and leaves the live tables as they were") {
    val base = TempDirs.create("ingestion_golden_stage_failing").toString
    spark.sparkContext.hadoopConfiguration.set("fs.failmv.impl", classOf[FailingRenameFs].getName)
    copyInto(s"$base/in", files(0), files(0))
    assert(commit(base, "failmv:") == ((1L, 0L)))
    val before = snapshot(WarehouseStore.load(spark, s"$base/wh"))
    val filesBefore = listing(s"$base/wh")

    // the other tables' staging writes succeed: the save must wait for
    // them before it throws and the batch quarantines its file
    copyInto(s"$base/in", files(1), files(1))
    FailingRenameFs.failingStage = Some("price")
    try assert(commit(base, "failmv:") == ((0L, 1L))) finally FailingRenameFs.failingStage = None
    val staged = new java.io.File(s"$base/wh").listFiles().toSeq
      .filter(d => d.getName.startsWith(".staging_") && d.getName != ".staging_price")
    assert(staged.nonEmpty && staged.forall(d => new java.io.File(d, "_SUCCESS").exists),
      "a staging write outlived its commit")
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerDrain(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty, "a staging job outlived its commit")
    Checkpoints.release()
    assert(new java.io.File(s"$base/bad").list().toSeq == Seq(files(1)))
    assert(listing(s"$base/wh") == filesBefore)
    assert(snapshot(WarehouseStore.load(spark, s"$base/wh")) == before)
  }

  test("a one-workbook commit into a two-workbook warehouse stays within its job budget") {
    val base = TempDirs.create("ingestion_golden_jobs").toString
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
    def jobsSoFar(): Int = { org.apache.spark.graft.ListenerDrain(sc); jobs.get }
    val phases = try {
      val wh = WarehouseStore.load(spark, s"$base/wh")
      val loaded = jobsSoFar()
      val next = Ingestion.ingestWorkbooks(spark, s"$base/third", wh)
      val ingested = jobsSoFar()
      WarehouseStore.save(spark, next, s"$base/wh")
      Seq(loaded, ingested - loaded, jobsSoFar() - ingested)
    } finally sc.removeSparkListener(listener)
    Checkpoints.release()
    info(s"load + ingestWorkbooks + save: ${jobs.get} Spark jobs (${phases.mkString(" + ")})")
    // At local[4] with 4 shuffle partitions this runs 40 jobs (load 0,
    // ingest 30, save 10). Staging and swapping all seven tables, with a
    // driver-side Spark job for each sheet's header, it ran 44 (ingest 32,
    // save 12); with two first-row passes over Precios 46. The plan that
    // ranked each id kind behind its own checkpoint, re-running the batch
    // from the xlsx scan each time, ran 94, 7 of them schema inference in
    // the load.
    assert(jobs.get <= 44, s"${jobs.get} Spark jobs")
  }
}

/** The local filesystem under the `failmv` scheme; while `failing` is set,
  * every rename outside a write's own `_temporary` directory (so every
  * publish step of a warehouse save) reports failure, and while
  * `failingStage` names a table, every file create under its
  * `.staging_<table>` directory (so that table's staging write) throws,
  * and one under any other staging directory first waits a second, so
  * the failure comes while the other staging writes still run.
  */
class FailingRenameFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("failmv:///")
}) {
  override def rename(src: Path, dst: Path): Boolean =
    if (FailingRenameFs.failing && !src.toUri.getPath.contains("/_temporary/")) false
    else super.rename(src, dst)

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val path = f.toUri.getPath
    FailingRenameFs.failingStage.filter(_ => path.contains("/.staging_")).foreach { t =>
      if (path.contains(s"/.staging_$t/")) throw new java.io.IOException(s"failmv: create $f refused")
      Thread.sleep(1000)
    }
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FailingRenameFs {
  @volatile var failing = false
  @volatile var failingStage: Option[String] = None
}
