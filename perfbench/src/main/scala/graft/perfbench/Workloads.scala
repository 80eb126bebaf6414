package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable

import graft.{Checkpoints, SparkEntry}
import graft.plans.{Ingestion, WarehouseStore}
import graft.streaming.IngestStream
import org.apache.spark.sql.SparkSession

/** What one run hands back: operation counts, metrics and the query
  * outputs the caller still has to compare against their oracles.
  */
final class Outcome {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, Double]()
  val detail = mutable.LinkedHashMap[String, Any]()
  val checks = mutable.ArrayBuffer[(String, String, String)]() // (query, output dir, oracle sql)

  def fail(why: String): Unit = { failed += 1; failures += why }
}

/** Settings shared by the workloads. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seconds: Double,
                     work: String, inputs: String, fixtures: String,
                     conf: Map[String, String]) {
  def int(k: String): Int = conf(k).toInt
}

/** A measured pass over a workload: its wall time and how many operations
  * it ran, so a traced pass can repeat exactly the same work.
  */
final case class PassStats(wallS: Double, ops: Int)

trait Workload {
  /** Warm the JIT and Spark's code caches on the workload's own paths. */
  def warmUp(c: Ctx): Unit
  /** Closed loop: until `seconds` pass, or exactly `fixedOps` operations. */
  def pass(c: Ctx, tag: String, out: Outcome, fixedOps: Option[Int]): PassStats
}

object Workloads {
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  def copy(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst.getParent)
    Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Release the pass's checkpoints; when tracing, account the barriers
    * and the block-manager memory persisted RDDs hold just before.
    */
  def release(c: Ctx, acc: mutable.Map[String, Double]): Unit = {
    if (c.tracer.isTracing) {
      val cached = c.spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
      acc("checkpoints.barriers") = acc.getOrElse("checkpoints.barriers", 0.0) + Checkpoints.pending
      acc("checkpoints.cached_mb") = math.max(acc.getOrElse("checkpoints.cached_mb", 0.0), cached / 1e6)
    }
    val t0 = System.nanoTime()
    c.tracer.span("checkpoints", "Checkpoints.release")(Checkpoints.release())
    if (c.tracer.isTracing)
      acc("checkpoints.release_s") = acc.getOrElse("checkpoints.release_s", 0.0) + secs(t0)
  }
}

// ------------------------------------------------------------ ingest_drop

/** The reference's main loop: a backfill of several workbooks in one
  * `Ingestion.ingestWorkbooks` + `WarehouseStore.save`, then a drop
  * directory drained by `IngestStream.runAvailableNow`, one micro-batch
  * per file.
  */
object IngestDrop extends Workload {
  import Workloads._

  private def files(c: Ctx): Seq[Path] =
    Option(new File(c.inputs).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".xlsx")).map(_.toPath).sortBy(_.getFileName.toString)

  /** predictions.json: one {table: rows} object per prefix of the files. */
  private def predictions(c: Ctx): IndexedSeq[Map[String, Long]] = {
    val txt = new String(Files.readAllBytes(Paths.get(c.inputs, "predictions.json")), "UTF-8")
    "\\{[^{}]*\\}".r.findAllIn(txt).map { o =>
      "\"(\\w+)\":\\s*(\\d+)".r.findAllMatchIn(o).map(m => m.group(1) -> m.group(2).toLong).toMap
    }.toIndexedSeq
  }

  private def counts(spark: SparkSession, wh: String): Map[String, Long] = {
    val w = WarehouseStore.load(spark, wh)
    Map("payment_type" -> w.paymentType.count(), "store" -> w.store.count(),
      "provider" -> w.provider.count(), "product" -> w.product.count(),
      "purchase" -> w.purchase.count(), "operation" -> w.operation.count(),
      "price" -> w.price.count())
  }

  /** One drop-directory commit into a scratch warehouse. The process's
    * cold first ingestion (JIT, code generation) belongs to set-up, and a
    * commit runs the same ingest and save calls as the backfill, so both
    * timed paths start warm.
    */
  def warmUp(c: Ctx): Unit = {
    val Seq(in, wh, done, bad, ckpt) =
      Seq("in", "wh", "done", "bad", "ckpt").map(d => new File(c.work, s"warm/$d").toString)
    val f = files(c).head
    copy(f, Paths.get(in, f.getFileName.toString))
    IngestStream.runAvailableNow(c.spark, in, wh, done, bad, ckpt)
    Checkpoints.release()
  }

  def pass(c: Ctx, tag: String, out: Outcome, fixedOps: Option[Int]): PassStats = {
    val spark = c.spark
    val tr = c.tracer
    val base = new File(c.work, tag)
    rmrf(base)
    val all = files(c)
    val (backfill, pool) = all.splitAt(c.int("backfill_files"))
    val bfDir = new File(base, "backfill").toPath
    backfill.foreach(f => copy(f, bfDir.resolve(f.getFileName)))
    val wh = new File(base, "wh").toString
    val Seq(in, done, bad, ckpt) =
      Seq("in", "done", "bad", "ckpt").map(d => new File(base, d).toString)
    new File(in).mkdirs()
    val layer = mutable.Map[String, Double]()
    val stages0 = { tr.drain(); tr.stages.size }
    val t0 = System.nanoTime()
    val wall0 = tr.nowMs

    // backfill: one batch ingest of several workbooks
    out.attempted += 1
    tr.nextOp()
    val bfT0 = System.nanoTime()
    try {
      val existing = tr.span("plans", "WarehouseStore.load") {
        timed(layer, "plans.store_load_s")(WarehouseStore.load(spark, wh))
      }
      val next = tr.span("plans", "Ingestion.ingestWorkbooks") {
        timed(layer, "plans.ingest_build_s")(Ingestion.ingestWorkbooks(spark, bfDir.toString, existing))
      }
      tr.span("plans", "WarehouseStore.save") {
        timed(layer, "plans.store_save_s")(WarehouseStore.save(spark, next, wh))
      }
    } catch { case e: Exception => out.fail(s"backfill: $e") }
    val bfWall = secs(bfT0)
    Checkpoints.release()

    // drain: files dropped one at a time, one micro-batch per file; the
    // backfill's garbage is collected first, outside the timed region
    System.gc()
    val batches0 = { tr.drain(); tr.batches.size }
    val drainT0 = System.nanoTime()
    var drained = 0
    def more: Boolean = fixedOps match {
      case Some(n) => drained < n
      case None => secs(drainT0) < c.seconds || drained == 0
    }
    while (more && drained < pool.size) {
      val f = pool(drained)
      copy(f, Paths.get(in, f.getFileName.toString))
      tr.nextOp()
      val (ok, err) = tr.span("streaming", "IngestStream.runAvailableNow") {
        IngestStream.runAvailableNow(spark, in, wh, done, bad, ckpt)
      }
      out.attempted += 1
      if (ok != 1 || err != 0) out.fail(s"drain: $ok committed, $err quarantined of 1")
      drained += 1
      Checkpoints.release()
    }
    val drainWall = secs(drainT0)
    val wall = secs(t0)
    val wall1 = tr.nowMs
    tr.drain()
    // bytes the pass's tasks wrote (warehouse tables, staged and swapped)
    val writtenBytes = tr.stages.drop(stages0).map(_.outputBytes).sum.toDouble
    val commits = tr.batches.drop(batches0).toSeq
    out.detail(s"$tag.backfill_s") = bfWall
    out.detail(s"$tag.files_drained") = drained
    out.detail(s"$tag.commit_s") = commits.map(_.triggerMs / 1e3)

    // Compras rows committed per second over the backfill and the drain
    val rows = c.int("rows_per_file").toDouble * (backfill.size + drained)
    out.metrics("op_p50_s") = median(commits.map(_.triggerMs / 1e3))
    out.metrics("work_per_s") = rows / (bfWall + drainWall)
    if (tr.isTracing) {
      val inBytes = all.take(backfill.size + drained).map(p => Files.size(p)).sum.toDouble
      out.metrics ++= layer
      out.metrics("plans.store_written_mb") = writtenBytes / 1e6
      out.metrics("plans.write_amplification") = writtenBytes / inBytes
      out.metrics("streaming.batch_s") = median(commits.map(_.triggerMs / 1e3))
      out.metrics("streaming.add_batch_s") = median(commits.map(_.addBatchMs / 1e3))
      out.metrics("streaming.trigger_overhead_s") =
        median(commits.map(b => (b.triggerMs - b.addBatchMs) / 1e3))
      out.metrics("streaming.files_archived") =
        Option(new File(done).list()).map(_.length).getOrElse(0).toDouble
      out.detail("trace_window_ms") = Seq(wall0, wall1)
    }

    // checks, outside the timed region: the warehouse holds exactly the
    // rows the generator predicts for the workbooks ingested (rows repeated
    // across files add no facts); when traced, a re-dropped workbook must
    // add no facts either
    val expect = predictions(c)(backfill.size + drained - 1)
    val got = counts(spark, wh)
    if (got != expect) out.fail(s"$tag counts $got != predicted $expect")
    if (tr.isTracing) {
      val replay = backfill.head
      copy(replay, Paths.get(in, "replay_" + replay.getFileName))
      out.attempted += 1
      val (rok, rerr) = IngestStream.runAvailableNow(spark, in, wh, done, bad, ckpt)
      val after = counts(spark, wh)
      if (rok != 1 || rerr != 0 || after != got)
        out.fail(s"$tag re-drop of ${replay.getFileName} changed the warehouse: $got -> $after")
      Checkpoints.release()
    }

    PassStats(wall, drained)
  }

  private def timed[T](acc: mutable.Map[String, Double], k: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally acc(k) = acc.getOrElse(k, 0.0) + secs(t0)
  }
}

// ------------------------------------------------------- query workloads

/** Closed loop over registered queries: every execution writes its
  * output, which is compared against the query's oracle after the run.
  */
abstract class QueryLoop extends Workload {
  import Workloads._

  /** (name, run) — `run` builds and executes one operation, writing its
    * output under the given directory, and returns an error or None.
    */
  def ops(c: Ctx): Seq[(String, String => Option[String])]

  /** Work units one pass over all ops represents (docs × queries). */
  def workPerRound(c: Ctx): Double

  /** Registered query as an op: build, then write the result as parquet. */
  def registered(c: Ctx, q: String, dir: String): (String, String => Option[String]) =
    q -> { (outDir: String) =>
      val df = c.tracer.span("queries", s"$q.build") {
        SparkEntry.queries(q)(c.spark, dir)
      }
      c.tracer.span("action", s"$q.write") {
        df.write.mode("overwrite").parquet(outDir)
      }
      None
    }

  def warmUp(c: Ctx): Unit = {
    val warmDir = c.conf("warm_inputs")
    val wc = c.copy(inputs = warmDir)
    val acc = mutable.Map[String, Double]()
    ops(wc).foreach { case (name, run) =>
      run(new File(c.work, s"warm/$name").toString)
      release(c, acc)
    }
  }

  def pass(c: Ctx, tag: String, out: Outcome, fixedOps: Option[Int]): PassStats = {
    val all = ops(c)
    val times = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val acc = mutable.Map[String, Double]()
    val t0 = System.nanoTime()
    val wall0 = c.tracer.nowMs
    var n = 0
    var rounds = 0
    def more: Boolean = fixedOps match {
      case Some(k) => n < k
      case None => secs(t0) < c.seconds || rounds == 0
    }
    while (more) {
      all.foreach { case (name, run) =>
        if (fixedOps.forall(n < _)) {
          c.tracer.nextOp()
          out.attempted += 1
          val q0 = System.nanoTime()
          val err = try run(new File(c.work, s"$tag/$name").toString)
          catch { case e: Exception => Some(e.toString) }
          times.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += secs(q0)
          err.foreach(e => out.fail(s"$name: $e"))
          n += 1
          release(c, acc)
        }
      }
      rounds += 1
    }
    val wall = secs(t0)
    val wall1 = c.tracer.nowMs
    out.detail(s"$tag.rounds") = rounds
    val oracles = SparkEntry.oracleSql
    all.foreach { case (name, _) =>
      oracles.get(name).foreach(sql =>
        out.checks += ((name, new File(c.work, s"$tag/$name").toString, sql)))
    }
    out.detail(s"$tag.query_s") = times.map { case (k, v) => k -> v.toSeq }.toMap
    // one round's latency: the sum of each op's median time
    val round = all.map(o => median(times(o._1).toSeq)).sum
    out.metrics("op_p50_s") = round
    out.metrics("work_per_s") = workPerRound(c) * n / all.size / wall
    if (c.tracer.isTracing) {
      out.metrics ++= acc
      out.detail("trace_window_ms") = Seq(wall0, wall1)
    }
    PassStats(wall, n)
  }
}

object CorpusCurate extends QueryLoop {
  // Four of the north-star curation queries: a run's budget (a cold pass
  // to warm up, a timed pass and an oracle check per query) does not fit
  // more. q139_cc_star_contraction in particular has a DuckDB oracle (a
  // recursive CTE) that takes minutes per generated corpus.
  val Queries = Seq("q161_pretrain_pipeline", "q102_curation_pipeline",
    "q146_bloom_decontaminate", "q34_minhash_lsh")

  def ops(c: Ctx): Seq[(String, String => Option[String])] =
    Queries.map(q => registered(c, q, c.inputs))

  def workPerRound(c: Ctx): Double = c.conf("docs").toDouble * Queries.size
}
