package graft.plans

import java.io.IOException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet persistence for the [[Warehouse]] star schema: one directory
  * per table, a minimal commit protocol standing in for a transactional
  * table format (Delta/Iceberg `MERGE`).
  *
  * A save stages concurrently, then publishes. Staging writes every table
  * the save changes to a hidden `.staging_<table>` directory while the
  * plans still read the live ones, which is what lets one micro-batch read
  * the warehouse it is about to change (streaming ingest,
  * [[graft.streaming.IngestStream]]). Each table's write reads only the
  * batch's pinned rows or its own live table and writes only its own
  * staging directory, so all of them run at once, one driver thread each;
  * the save waits for every one to return and publishes only when all
  * staged, else it throws the first failure with every live table as it
  * was. Publishing then runs table by table:
  *  - appends: moves the staged part files into the live directory (part
  *    file names are unique per write, so they never collide); an append
  *    is written as one file per scan split of its rows, one file for any
  *    batch of workbooks;
  *  - replaces: renames the live directory aside, renames the staged one
  *    into its place, and deletes the old one.
  * A state saved back to the directory it was built from (its
  * [[WarehouseDelta]]) appends each table's new rows, replaces the tables
  * it changes in place, and writes nothing for a table it leaves as it
  * was. Any other state replaces every table. A table that does not exist
  * yet is written whole, and a fragmented one ([[fragmented]]) is
  * rewritten whole into fewer files instead of appended to.
  *
  * Every filesystem step is checked: a delete, rename or move that
  * reports failure throws, so the caller (a streaming batch) fails and
  * quarantines its input instead of archiving it as processed.
  *
  * A crash or failure mid-publish leaves the tables published before it
  * changed and the rest untouched. Within a table it leaves an append
  * partly moved (some of the table's new rows present) or a replacement
  * between its two renames (live directory gone, old one kept at
  * `.previous_<table>`), which the next [[load]] rolls back. A failed
  * batch's input is quarantined; a crashed one's is not archived, so it
  * re-runs and adds the rows the anti-joins do not find (a fact whose
  * purchase row landed but whose operation row did not is added again).
  */
object WarehouseStore {

  /** The warehouse at `dir`; a table not saved yet is its empty seed.
    * Each table is read with its seed's schema (the schema every save
    * writes), so a load runs no schema-inference job. A replacement a
    * crash interrupted (live directory gone, `.previous_<table>` kept) is
    * rolled back first.
    */
  def load(spark: SparkSession, dir: String): Warehouse = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val Seq(paymentType, store, provider, product, purchase, operation, price) =
      Ingestion.empty(spark).tables.map { case (name, seed) =>
        val p = new Path(root, name)
        val previous = new Path(root, Previous + name)
        if (!fs.exists(p) && fs.exists(previous))
          check(fs.rename(previous, p), s"roll $previous back to $p")
        if (fs.exists(p)) spark.read.schema(seed.schema).parquet(p.toString) else seed
      }
    Warehouse(paymentType, store, provider, product, purchase, operation, price,
      origin = Some(fs.makeQualified(root).toString))
  }

  /** Save `wh` at `dir`: only its change when it was built from the
    * warehouse loaded there, every table otherwise (see the object doc).
    */
  def save(spark: SparkSession, wh: Warehouse, dir: String): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val change = wh.delta.filter(_.base == fs.makeQualified(root).toString)
    val steps = wh.tables.flatMap { case (t, full) =>
      val live = new Path(root, t)
      if (!fs.exists(live)) Some(Replace(t, full))
      else if (change.exists(c => !c.appended.contains(t) && !c.replaced(t))) None
      else {
        val files = dataFiles(fs, live)
        if (fragmented(spark, files)) Some(Replace(t, full.coalesce(compactedCount(spark, files))))
        else Some(change.flatMap(_.appended.get(t)).fold[Step](Replace(t, full)) {
          case (rows, n) => Append(t, rows.coalesce(fileCount(spark, n * rows.schema.defaultSize)))
        })
      }
    }
    // stage every table first, all at once (plans still read the live tables) …
    inWave(steps.map(s => () =>
      s.rows.write.mode("overwrite").parquet(new Path(root, Staging + s.table).toString)))
    // … then publish
    steps.foreach { s =>
      val live = new Path(root, s.table)
      val staged = new Path(root, Staging + s.table)
      val previous = new Path(root, Previous + s.table)
      s match {
        case _: Append =>
          dataFiles(fs, staged).foreach { f =>
            val to = new Path(live, f.getPath.getName)
            check(fs.rename(f.getPath, to), s"move ${f.getPath} to $to")
          }
          check(fs.delete(staged, true), s"delete $staged")
        case _: Replace =>
          if (fs.exists(live)) {
            if (fs.exists(previous)) check(fs.delete(previous, true), s"delete $previous")
            check(fs.rename(live, previous), s"rename $live to $previous")
          }
          check(fs.rename(staged, live), s"rename $staged to $live")
          if (fs.exists(previous)) check(fs.delete(previous, true), s"delete $previous")
      }
    }
  }

  private sealed trait Step { def table: String; def rows: DataFrame }
  private case class Append(table: String, rows: DataFrame) extends Step
  private case class Replace(table: String, rows: DataFrame) extends Step

  private val Staging = ".staging_"
  private val Previous = ".previous_"

  /** Run `writes` at once, each on a driver thread of its own started
    * from the calling one, so its jobs carry the caller's Spark local
    * properties (a streaming batch's query id, job group and SQL
    * execution root). Returns once every write has returned, even when
    * the caller is interrupted meanwhile; then throws the failure of the
    * first write that failed, in `writes` order, as it was thrown.
    */
  private def inWave(writes: Seq[() => Unit]): Unit = {
    val failures = new Array[Throwable](writes.size)
    val threads = writes.zipWithIndex.map { case (write, i) =>
      val t = new Thread(() => try write() catch { case e: Throwable => failures(i) = e },
        s"warehouse-stage-$i")
      t.start()
      t
    }
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive) try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread.interrupt()
    failures.find(_ != null).foreach(throw _)
    if (interrupted) throw new InterruptedException("warehouse commit: interrupted while staging")
  }

  private def check(ok: Boolean, what: String): Unit =
    if (!ok) throw new IOException(s"warehouse commit: could not $what")

  /** The parquet part files of a table directory (Spark's own hidden-name
    * rule: `_SUCCESS`, checksums and staging leftovers are not data).
    */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** Whether a table's files cost more to open than one full scan split
    * reads, by Spark's own scan cost model: a scan charges every file
    * `openCostInBytes` on top of its bytes and fills a split with
    * `maxPartitionBytes`. Files past the compacted count
    * ([[compactedCount]]) are overhead; past one split's worth of it
    * (32 files at the 4 MB / 128 MB defaults) the table's next write
    * rewrites it whole instead of adding more files.
    */
  private def fragmented(spark: SparkSession, files: Seq[FileStatus]): Boolean = {
    val conf = spark.sessionState.conf
    files.size > compactedCount(spark, files) + conf.filesMaxPartitionBytes / conf.filesOpenCostInBytes
  }

  /** The file count a rewrite of `files` compacts to. */
  private def compactedCount(spark: SparkSession, files: Seq[FileStatus]): Int =
    fileCount(spark, files.map(_.getLen).sum)

  /** The files `bytes` of rows are written as: one per full scan split.
    * An append takes its bytes from its row count times Spark's per-row
    * size estimate of its schema, so sizing it runs no job.
    */
  private def fileCount(spark: SparkSession, bytes: Long): Int = {
    val split = spark.sessionState.conf.filesMaxPartitionBytes
    math.max(1L, (bytes + split - 1) / split).toInt
  }
}
