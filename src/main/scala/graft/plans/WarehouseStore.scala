package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Parquet persistence for the [[Warehouse]] star schema: one directory
  * per table, updated by stage-then-swap (write the new state to a
  * staging dir, then rename over the old) — a minimal commit protocol
  * standing in for a transactional table format (Delta/Iceberg `MERGE`).
  * The swap keeps readers of the OLD paths valid while the new state is
  * being written, which is what lets one micro-batch read the warehouse
  * it is about to replace (streaming ingest, [[graft.streaming.IngestStream]]).
  */
object WarehouseStore {

  /** The warehouse at `dir`; a table not saved yet is its empty seed.
    * Each table is read with its seed's schema (the schema every save
    * writes), so a load runs no schema-inference job.
    */
  def load(spark: SparkSession, dir: String): Warehouse = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val Seq(paymentType, store, provider, product, purchase, operation, price) =
      Ingestion.empty(spark).tables.map { case (name, seed) =>
        val p = new Path(s"$dir/$name")
        if (fs.exists(p)) spark.read.schema(seed.schema).parquet(p.toString) else seed
      }
    Warehouse(paymentType, store, provider, product, purchase, operation, price)
  }

  def save(spark: SparkSession, wh: Warehouse, dir: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // stage everything first (plans still read the old table paths) …
    wh.tables.foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$dir/.staging_$t") }
    // … then swap
    wh.tables.foreach { case (t, _) =>
      val live = new Path(s"$dir/$t")
      if (fs.exists(live)) fs.delete(live, true)
      fs.rename(new Path(s"$dir/.staging_$t"), live)
    }
  }
}
