package graft

import graft.plans.{Ingestion, Warehouse}
import org.apache.spark.graft.TempDirs
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import scala.sys.process._

/** Golden end-to-end test of the warehouse ingestion plan (SURVEY.md §3.2)
  * over the reference's own fixture workbooks, diffed against an
  * independent row-at-a-time re-implementation of the reference semantics
  * (scripts/ingestion_oracle.py).
  */
class IngestionSpec extends SparkSpec {

  private val fixtures = "/root/reference/data_test"

  private lazy val wh: Warehouse =
    Ingestion.ingestWorkbooks(spark, fixtures, Ingestion.empty(spark))

  private lazy val oracleDir: String = {
    val dir = TempDirs.create("ingestion_oracle").toString
    val rc = s"python3 scripts/ingestion_oracle.py $fixtures $dir".!
    assert(rc == 0, "oracle script failed")
    dir
  }

  private def expectTable(name: String): DataFrame =
    spark.read.json(s"$oracleDir/$name.jsonl")

  import IngestionSpec.assertMatches

  test("store dim matches the oracle") {
    assertMatches(wh.store, expectTable("store"), "store")
    assert(wh.store.filter(!col("status")).count() == 0)
  }

  test("provider dim matches the oracle") {
    assertMatches(wh.provider, expectTable("provider"), "provider")
  }

  test("product dim matches the oracle") {
    assertMatches(wh.product.drop("description"), expectTable("product"), "product")
  }

  test("purchase fact matches the oracle") {
    assertMatches(wh.purchase.drop("tax", "ieps", "id_payment_type"),
      expectTable("purchase").drop("id_payment_type"), "purchase")
    // constant-dim join J3: every purchase carries the seeded payment type
    assert(wh.purchase.filter(col("id_payment_type") =!= 1).count() == 0)
    assert(wh.purchase.filter(col("tax") =!= 0 || col("ieps") =!= 0).count() == 0)
  }

  test("operation fact matches the oracle") {
    assertMatches(wh.operation, expectTable("operation").drop("purchase_date"), "operation")
  }

  test("price SCD state matches the oracle") {
    assertMatches(wh.price.drop("start_date", "end_date"),
      expectTable("price").drop("start_date"), "price")
    // first load: every row opens at the batch date, none closed
    assert(wh.price.filter(col("start_date") =!= current_date()).count() == 0)
    assert(wh.price.filter(col("end_date").isNotNull).count() == 0)
  }

  test("the full 11-workbook historical corpus matches the oracle") {
    val corpus = "/root/reference/data_processed"
    val whC = Ingestion.ingestWorkbooks(spark, corpus, Ingestion.empty(spark))
    val dir = TempDirs.create("ingestion_corpus").toString
    val rc = s"python3 scripts/ingestion_oracle.py $corpus $dir".!
    assert(rc == 0, "oracle script failed on the corpus")
    IngestionSpec.assertOracle(whC, dir)
  }

  test("re-ingesting the same files is a no-op for facts (J5 idempotency)") {
    val again = Ingestion.ingestWorkbooks(spark, fixtures, wh)
    assert(again.purchase.count() == wh.purchase.count())
    assert(again.operation.count() == wh.operation.count())
    assert(again.store.count() == wh.store.count())
    assert(again.provider.count() == wh.provider.count())
    assert(again.product.count() == wh.product.count())
  }

  test("SCD merge: price change moves the dates") {
    import spark.implicits._
    val current = Seq((1L, 10.0, 8.5, "2026-01-01", null.asInstanceOf[String]),
                      (2L, 20.0, 17.0, "2026-01-01", null.asInstanceOf[String]))
      .toDF("id_product", "price", "offer_price", "start_date", "end_date")
      .withColumn("start_date", col("start_date").cast("date"))
      .withColumn("end_date", col("end_date").cast("date"))
    val updates = Seq((1L, 12.0, 9.0), (3L, 30.0, 25.5))
      .toDF("id_product", "price", "offer_price")
    val merged = Ingestion.scdMerge(current, updates, current_date())
      .orderBy("id_product").collect()
    assert(merged.length == 3)
    val r1 = merged(0) // changed: new price, dates moved
    assert(r1.getDouble(1) == 12.0 && r1.getDate(3).toString != "2026-01-01")
    val r2 = merged(1) // untouched
    assert(r2.getDouble(1) == 20.0 && r2.getDate(3).toString == "2026-01-01")
    val r3 = merged(2) // inserted, open-ended
    assert(r3.getDouble(1) == 30.0 && r3.isNullAt(4))
  }
}

object IngestionSpec {

  /** Symmetric diff on the shared columns; doubles rounded to 6 dp. */
  def assertMatches(actual: DataFrame, expected: DataFrame, name: String): Unit = {
    val cols = expected.columns.toSeq.sorted
    def norm(df: DataFrame) = df.select(cols.map { c =>
      val f = df.schema(c).dataType
      f match {
        case org.apache.spark.sql.types.DoubleType => round(col(c), 6).as(c)
        case _ => col(c).cast("string").as(c)
      }
    }: _*)
    val a = norm(actual.select(cols.map(col): _*))
    val e = norm(expected.select(cols.map(col): _*))
    val missing = e.exceptAll(a).collect()
    val extra = a.exceptAll(e).collect()
    org.scalatest.Assertions.assert(missing.isEmpty && extra.isEmpty,
      s"$name: ${missing.length} missing, ${extra.length} extra\n" +
        s"missing: ${missing.take(5).mkString("\n")}\nextra: ${extra.take(5).mkString("\n")}")
  }

  /** Every oracle table against `wh`: the columns the oracle does not
    * model (description, tax, ieps, payment type, price dates) dropped.
    */
  def assertOracle(wh: Warehouse, oracleDir: String): Unit = {
    val spark = wh.store.sparkSession
    def expect(name: String) = spark.read.json(s"$oracleDir/$name.jsonl")
    assertMatches(wh.store, expect("store"), "store")
    assertMatches(wh.provider, expect("provider"), "provider")
    assertMatches(wh.product.drop("description"), expect("product"), "product")
    assertMatches(wh.purchase.drop("tax", "ieps", "id_payment_type"),
      expect("purchase").drop("id_payment_type"), "purchase")
    assertMatches(wh.operation, expect("operation").drop("purchase_date"),
      "operation")
    assertMatches(wh.price.drop("start_date", "end_date"),
      expect("price").drop("start_date"), "price")
  }
}
