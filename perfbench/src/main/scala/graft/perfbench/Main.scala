package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.Engine
import org.apache.spark.sql.functions.col

/** One benchmark run inside one JVM: set up, measure a workload, and write
  * `result.json` (and, when traced, `trace.json`) into the work directory.
  *
  * Arguments are `key=value` pairs; `perfbench/run.py` supplies them.
  */
object Main {
  val PerLayer: Seq[String] = Seq(
    "engine.session_s",
    "driver.plan_s", "driver.jobs", "driver.eager_jobs", "driver.idle_s",
    "stages.count", "stages.tasks", "stages.task_s", "stages.tail_ratio",
    "stages.shuffle_write_mb", "stages.shuffle_read_mb", "stages.spill_mb",
    "stages.gc_s", "stages.input_mb",
    "checkpoints.barriers", "checkpoints.cached_mb", "checkpoints.release_s",
    "sources.inflate_mb_per_s", "sources.zstd_mb_per_s", "sources.bzip2_mb_per_s",
    "sources.brotli_mb_per_s", "sources.xz_mb_per_s", "sources.lz4_mb_per_s",
    "sources.snappy_mb_per_s", "sources.xlsx_mb_per_s", "sources.decode_errors",
    "operators.jpeg_mb_per_s", "operators.png_mb_per_s",
    "expressions.hash60_rows_per_s", "expressions.minhash_rows_per_s",
    "expressions.simhash_rows_per_s", "functions.c_round_rows_per_s",
    "functions.store_name_rows_per_s",
    "operators.dedup_exact_s", "operators.minhash_lsh_s", "operators.simhash_pairs_s",
    "operators.bloom_decontaminate_s", "operators.remove_boilerplate_s",
    "operators.token_budget_s",
    "plans.ingest_build_s", "plans.store_load_s", "plans.store_save_s",
    "plans.store_written_mb", "plans.write_amplification",
    "streaming.batch_s", "streaming.add_batch_s", "streaming.trigger_overhead_s",
    "streaming.files_archived",
    "trace.overhead_frac")

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val traced = conf("trace") == "1"
    val launchMs = conf("launch_ms").toLong
    val work = conf("work")
    new File(work).mkdirs()

    val s0 = System.nanoTime()
    val spark = Engine.session("perfbench", conf("cpus").toInt)
    val sessionS = Workloads.secs(s0)
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, traced)
    val c = Ctx(spark, tracer, conf("seconds").toDouble, work, conf("inputs"),
      conf("fixtures"), conf)
    val workload: Workload = conf("workload") match {
      case "ingest_drop" => IngestDrop
      case "corpus_curate" => CorpusCurate
    }
    val out = new Outcome
    workload.warmUp(c)
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3
    out.detail("engine_session_s") = sessionS

    val base = workload.pass(c, "run", out, None)
    out.metrics("setup_s") = setupS
    if (traced) {
      // the overhead compares the untraced pass with a traced pass over the
      // same operations; the engine still warms between them, which biases
      // it low, but a third pass would not fit a traced run's time limit
      tracer.tracingOn()
      val t = workload.pass(c, "traced", out, Some(base.ops))
      tracer.tracingOff()
      out.metrics("trace.overhead_frac") = t.wallS / base.wallS - 1.0
      out.metrics("engine.session_s") = sessionS
      layerMetrics(tracer, out)
      val passSelf = tracer.selfSecondsByLayer
      tracer.tracingOn()
      val docs = spark.read.parquet(conf("corpus")).cache()
      docs.count()
      Layers.sources(c, Option(new File(conf("workbooks")).listFiles()).toSeq.flatten
        .map(_.toString).filter(_.endsWith(".xlsx")).sorted, out)
      Layers.media(c, docs.select(col("text")).limit(200).collect().map(_.getString(0)).toSeq, out)
      Layers.expressions(c, docs, out)
      Layers.operators(c, docs, out)
      docs.unpersist()
      tracer.tracingOff()
      PerLayer.foreach(k => if (!out.metrics.contains(k)) out.metrics(k) = 0.0)
      Files.write(Paths.get(work, "trace.json"),
        tracer.toJson(Map("workload" -> conf("workload"), "pass_wall_s" -> t.wallS,
          "pass_self_s_by_layer" -> passSelf,
          "pass_driver_idle_s" -> out.metrics("driver.idle_s"),
          "pass_stage_task_s" -> out.metrics("stages.task_s")))
          .getBytes(StandardCharsets.UTF_8))
    }
    out.metrics("peak_rss_mb") = peakRssMb
    tracer.close()
    writeResult(work, out)
    spark.stop()
  }

  /** driver.* and stages.* over the traced pass. */
  private def layerMetrics(tr: Tracer, out: Outcome): Unit = {
    val st = tr.stages.toSeq
    val window = out.detail.get("trace_window_ms").collect { case Seq(a: Long, b: Long) => (a, b) }
    val taskMs = st.map(_.taskMs).sum.toDouble
    out.metrics("driver.plan_s") = tr.planSeconds
    out.metrics("driver.jobs") = tr.jobs.toDouble
    out.metrics("driver.eager_jobs") = tr.eagerJobs.toDouble
    out.metrics("driver.idle_s") = window.map { case (a, b) => tr.idleSeconds(a, b) }.getOrElse(0.0)
    out.metrics("stages.count") = st.size.toDouble
    out.metrics("stages.tasks") = st.map(_.tasks).sum.toDouble
    out.metrics("stages.task_s") = taskMs / 1e3
    out.metrics("stages.tail_ratio") =
      if (taskMs == 0) 0.0
      else st.filter(_.medianTaskMs > 0).map(s => s.taskMs * s.maxTaskMs.toDouble / s.medianTaskMs).sum /
        math.max(1.0, st.filter(_.medianTaskMs > 0).map(_.taskMs).sum.toDouble)
    out.metrics("stages.shuffle_write_mb") = st.map(_.shuffleWrite).sum / 1e6
    out.metrics("stages.shuffle_read_mb") = st.map(_.shuffleRead).sum / 1e6
    out.metrics("stages.spill_mb") = st.map(_.spill).sum / 1e6
    out.metrics("stages.gc_s") = st.map(_.gcMs).sum / 1e3
    out.metrics("stages.input_mb") = st.map(_.inputBytes).sum / 1e6
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(Double.NaN)

  private def writeResult(work: String, out: Outcome): Unit = {
    val checks = out.checks.map { case (q, dir, sql) =>
      Json.obj(Map("query" -> q, "out" -> dir, "sql" -> sql))
    }
    val json = Json.obj(Map(
      "attempted" -> out.attempted, "failed" -> out.failed,
      "failures" -> out.failures.toSeq,
      "metrics" -> out.metrics.toMap,
      "detail" -> out.detail.toMap,
      "checks" -> Json.Raw(checks.mkString("[", ",", "]"))))
    Files.write(Paths.get(work, "result.json"), json.getBytes(StandardCharsets.UTF_8))
  }
}
