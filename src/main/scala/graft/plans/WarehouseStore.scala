package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet persistence for the [[Warehouse]] star schema: one directory
  * per table, updated by stage-then-swap (write the new state to a
  * staging dir, then rename over the old) — a minimal commit protocol
  * standing in for a transactional table format (Delta/Iceberg `MERGE`).
  * The swap keeps readers of the OLD paths valid while the new state is
  * being written, which is what lets one micro-batch read the warehouse
  * it is about to replace (streaming ingest, [[graft.streaming.IngestStream]]).
  */
object WarehouseStore {

  private val tables = Seq("payment_type", "store", "provider", "product",
    "purchase", "operation", "price")

  /** The warehouse at `dir`; a table not saved yet is its empty seed.
    * Each table is read with its seed's schema (the schema every save
    * writes), so a load runs no schema-inference job.
    */
  def load(spark: SparkSession, dir: String): Warehouse = {
    val empty = Ingestion.empty(spark)
    def tbl(name: String, fallback: DataFrame): DataFrame = {
      val p = new Path(s"$dir/$name")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) spark.read.schema(fallback.schema).parquet(p.toString) else fallback
    }
    Warehouse(
      paymentType = tbl("payment_type", empty.paymentType),
      store = tbl("store", empty.store),
      provider = tbl("provider", empty.provider),
      product = tbl("product", empty.product),
      purchase = tbl("purchase", empty.purchase),
      operation = tbl("operation", empty.operation),
      price = tbl("price", empty.price))
  }

  def save(spark: SparkSession, wh: Warehouse, dir: String): Unit = {
    val dfs = Map(
      "payment_type" -> wh.paymentType, "store" -> wh.store,
      "provider" -> wh.provider, "product" -> wh.product,
      "purchase" -> wh.purchase, "operation" -> wh.operation,
      "price" -> wh.price)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // stage everything first (plans still read the old table paths) …
    tables.foreach { t => dfs(t).write.mode("overwrite").parquet(s"$dir/.staging_$t") }
    // … then swap
    tables.foreach { t =>
      val live = new Path(s"$dir/$t")
      if (fs.exists(live)) fs.delete(live, true)
      fs.rename(new Path(s"$dir/.staging_$t"), live)
    }
  }
}
