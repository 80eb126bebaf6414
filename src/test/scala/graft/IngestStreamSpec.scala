package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.plans.WarehouseStore
import graft.streaming.IngestStream
import org.apache.spark.graft.TempDirs

/** Streaming warehouse ingestion end-to-end: drop dir → per-file
  * micro-batches → parquet warehouse → archival, with replay idempotency.
  */
class IngestStreamSpec extends SparkSpec {

  private val fixtures = Seq(
    "030-Lovely_Toy_Invntry_SV25_p1.xlsx", "030-Lovely_Toy_Invntry_SV25_p2.xlsx")

  private def copyFixtures(to: String): Unit = {
    new java.io.File(to).mkdirs()
    fixtures.foreach { f =>
      Files.copy(Paths.get(s"/root/reference/data_test/$f"), Paths.get(s"$to/$f"),
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  test("drains the drop dir, builds the warehouse, archives the files") {
    val base = TempDirs.create("ingstream").toString
    val in = s"$base/in"
    copyFixtures(in)
    val (ok, err) = IngestStream.runAvailableNow(spark, in,
      warehouseDir = s"$base/wh", processedDir = s"$base/done",
      errorsDir = s"$base/bad", checkpointDir = s"$base/ckpt")
    assert(ok == 2 && err == 0)
    assert(new java.io.File(in).listFiles().forall(_.getName.startsWith(".")))
    assert(new java.io.File(s"$base/done").list().sorted.toSeq == fixtures)

    // warehouse state matches the batch-run oracle counts (IngestionSpec)
    val wh = WarehouseStore.load(spark, s"$base/wh")
    assert(wh.store.count() == 1)
    assert(wh.provider.count() == 36)
    assert(wh.product.count() == 44)
    assert(wh.purchase.count() == 46)
    assert(wh.operation.count() == 46)
    assert(wh.price.count() == 44)
    val s = wh.store.head()
    assert(s.getAs[String]("store_name") == "aliexpress")

    // replaying the same files (fresh checkpoint → reprocessed) is a
    // no-op for facts: the J5 gate suppresses every duplicate
    copyFixtures(in)
    val (ok2, err2) = IngestStream.runAvailableNow(spark, in,
      warehouseDir = s"$base/wh", processedDir = s"$base/done",
      errorsDir = s"$base/bad", checkpointDir = s"$base/ckpt2")
    assert(ok2 == 2 && err2 == 0)
    val wh2 = WarehouseStore.load(spark, s"$base/wh")
    assert(wh2.purchase.count() == 46)
    assert(wh2.operation.count() == 46)
    assert(wh2.product.count() == 44)
    // replayed files archived with collision-suffixed names
    assert(new java.io.File(s"$base/done").list().length == 4)
  }

  test("corrupt workbook is quarantined; the good one still lands") {
    val base = TempDirs.create("ingbad").toString
    val in = s"$base/in"
    new java.io.File(in).mkdirs()
    Files.copy(Paths.get(s"/root/reference/data_test/${fixtures.head}"),
      Paths.get(s"$in/${fixtures.head}"))
    Files.write(Paths.get(s"$in/corrupt.xlsx"),
      "this is not a zip archive".getBytes)
    val (ok, err) = IngestStream.runAvailableNow(spark, in,
      warehouseDir = s"$base/wh", processedDir = s"$base/done",
      errorsDir = s"$base/bad", checkpointDir = s"$base/ckpt")
    assert(ok == 1 && err == 1)
    assert(new java.io.File(s"$base/bad").list().toSeq == Seq("corrupt.xlsx"))
    val wh = WarehouseStore.load(spark, s"$base/wh")
    assert(wh.purchase.count() > 0) // p1 alone ingested
  }
}
