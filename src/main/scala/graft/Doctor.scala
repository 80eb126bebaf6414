package graft

import graft.plans.WarehouseStore

/** Entry point 3 of the reference (`database_utils.py:283-296`, SURVEY.md
  * §3.3): the catalog smoke check — connect, load the dimension
  * catalogs, report sizes. Here: open the parquet warehouse (arg 1,
  * default ./warehouse) and print per-table counts; exit non-zero when
  * the payment-type catalog the ingestion depends on is missing.
  */
object Doctor {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("warehouse")
    val spark = Engine.session("graft-doctor")
    val wh = WarehouseStore.load(spark, dir)
    println(s"* Warehouse at $dir:")
    wh.tables.foreach { case (n, df) => println(f"$n%-14s ${df.count()}%8d rows") }
    val ok = wh.paymentType.count() > 0
    println(if (ok) "payment_type catalog present — ingestion ready"
            else "payment_type catalog MISSING")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
