package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into an engine module, made by the benchmark itself. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      op: Int, startNs: Long, var endNs: Long = 0L)

/** Per-stage record folded from listener events. */
final case class StageRec(stageId: Int, tasks: Int, startMs: Long, endMs: Long,
                          taskMs: Long, maxTaskMs: Long, medianTaskMs: Long,
                          shuffleWrite: Long, shuffleRead: Long, spill: Long,
                          gcMs: Long, inputBytes: Long, outputBytes: Long)

/** Micro-batch progress of a streaming query. */
final case class BatchRec(batchId: Long, triggerMs: Long, addBatchMs: Long,
                          inputRows: Long)

/** Observes a workload from outside the engine: spans around the
  * benchmark's own calls into each module, a SparkListener for jobs,
  * stages and tasks, a QueryExecutionListener for planning phases and a
  * StreamingQueryListener for micro-batch progress.
  *
  * Only jobs submitted while the `perfbench.traced` local property is set
  * count; streaming threads inherit it from the thread that starts them.
  * Micro-batch progress is always recorded: the untraced run reads its
  * commit latencies from it too. Without `full`, only that streaming
  * listener is registered.
  */
final class Tracer(spark: SparkSession, full: Boolean) {
  private val sc = spark.sparkContext
  private val epochNs = System.nanoTime()
  private val epochMs = System.currentTimeMillis()
  @volatile private var tracing = false

  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var opId = 0

  private val lock = new Object
  private val tracedJobs = mutable.Set[Int]()
  private val tracedStages = mutable.Set[Int]()
  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val writeExecs = mutable.Set[Long]()
  private val jobExecs = mutable.ArrayBuffer[Option[Long]]() // SQL execution per traced job
  val stages = mutable.ArrayBuffer[StageRec]()
  val batches = mutable.ArrayBuffer[BatchRec]()
  private var planNs = 0L

  def tracingOn(): Unit = { tracing = true; sc.setLocalProperty(Tracer.Prop, "1") }
  def tracingOff(): Unit = {
    drain()
    tracing = false
    sc.setLocalProperty(Tracer.Prop, null)
  }
  def isTracing: Boolean = tracing

  /** Start a new operation: later spans and stages are attributed to it. */
  def nextOp(): Unit = opId += 1

  /** Time `f` as a span of `layer` when tracing; run it bare otherwise. */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!tracing) f
    else {
      val s = Span(spans.size, name, layer, stack.headOption.getOrElse(-1),
        opId, System.nanoTime())
      spans += s
      stack = s.id :: stack
      try f
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.waitUntilEmpty(sc)

  private def traced(props: java.util.Properties): Boolean =
    props != null && props.getProperty(Tracer.Prop) == "1"

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (traced(e.properties)) lock.synchronized {
        tracedJobs += e.jobId
        tracedStages ++= e.stageIds
        jobExecs += Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong)
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if Tracer.isWrite(x.physicalPlanDescription) =>
        lock.synchronized(writeExecs += x.executionId)
      case _ =>
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      if (tracedStages.contains(e.stageId) && e.taskInfo != null)
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) +=
          e.taskInfo.duration
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val si = e.stageInfo
        if (tracedStages.contains(si.stageId)) {
          val tm = si.taskMetrics
          val durs = stageTasks.remove(si.stageId).map(_.sorted).getOrElse(mutable.ArrayBuffer[Long]())
          val med = if (durs.isEmpty) 0L else durs(durs.size / 2)
          stages += StageRec(si.stageId, si.numTasks,
            si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
            if (tm == null) 0L else tm.executorRunTime,
            if (durs.isEmpty) 0L else durs.last, med,
            if (tm == null) 0L else tm.shuffleWriteMetrics.bytesWritten,
            if (tm == null) 0L else tm.shuffleReadMetrics.totalBytesRead,
            if (tm == null) 0L else tm.memoryBytesSpilled + tm.diskBytesSpilled,
            if (tm == null) 0L else tm.jvmGCTime,
            if (tm == null) 0L else tm.inputMetrics.bytesRead,
            if (tm == null) 0L else tm.outputMetrics.bytesWritten)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (tracing) lock.synchronized {
        planNs += qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala
      if (p.numInputRows > 0) lock.synchronized {
        batches += BatchRec(p.batchId, d.get("triggerExecution").map(_.longValue).getOrElse(0L),
          d.get("addBatch").map(_.longValue).getOrElse(0L), p.numInputRows)
      }
    }
  }

  if (full) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }
  spark.streams.addListener(streamListener)

  def close(): Unit = {
    drain()
    if (full) {
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
    }
    spark.streams.removeListener(streamListener)
  }

  def jobs: Int = lock.synchronized(tracedJobs.size)

  /** Jobs that do not belong to a write: collects and `head`s the driver
    * blocks on while it builds a plan (`maxId`, bloom builds, file lists)
    * and checkpoint materializations.
    */
  def eagerJobs: Int = lock.synchronized(jobExecs.count(!_.exists(writeExecs.contains)))

  def planSeconds: Double = lock.synchronized(planNs / 1e9)

  /** Seconds of `wallMs` during which no traced stage was running. */
  def idleSeconds(wallStartMs: Long, wallEndMs: Long): Double = lock.synchronized {
    val iv = stages.map(s => (math.max(s.startMs, wallStartMs), math.min(s.endMs, wallEndMs)))
      .filter(t => t._2 > t._1).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, (wallEndMs - wallStartMs) - covered) / 1e3
  }

  def nowMs: Long = epochMs + (System.nanoTime() - epochNs) / 1000000L

  /** Seconds per layer spent in spans of that layer, net of child spans. */
  def selfSecondsByLayer: Map[String, Double] = {
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9).sum
    }
  }

  /** The trace artifact: spans plus the listener counters. */
  def toJson(extra: Map[String, Any]): String = lock.synchronized {
    val sp = spans.map { s =>
      Json.obj(Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "op" -> s.op,
        "start_s" -> (s.startNs - epochNs) / 1e9, "end_s" -> (s.endNs - epochNs) / 1e9))
    }
    val st = stages.map { s =>
      Json.obj(Map("stage" -> s.stageId, "tasks" -> s.tasks,
        "wall_ms" -> (s.endMs - s.startMs), "task_ms" -> s.taskMs,
        "max_task_ms" -> s.maxTaskMs, "median_task_ms" -> s.medianTaskMs,
        "shuffle_write" -> s.shuffleWrite, "shuffle_read" -> s.shuffleRead,
        "spill" -> s.spill, "gc_ms" -> s.gcMs, "input" -> s.inputBytes,
        "output" -> s.outputBytes))
    }
    val bt = batches.map { b =>
      Json.obj(Map("batch" -> b.batchId, "trigger_ms" -> b.triggerMs,
        "add_batch_ms" -> b.addBatchMs, "input_rows" -> b.inputRows))
    }
    Json.obj(extra ++ Map(
      "spans" -> Json.Raw(sp.mkString("[", ",", "]")),
      "stages" -> Json.Raw(st.mkString("[", ",", "]")),
      "batches" -> Json.Raw(bt.mkString("[", ",", "]")),
      "self_s_by_layer" -> Json.Raw(Json.obj(selfSecondsByLayer)),
      "plan_s" -> planSeconds))
  }
}

object Tracer {
  val Prop = "perfbench.traced"

  private val WriteNodes = Seq("InsertIntoHadoopFsRelationCommand", "WriteFiles",
    "OverwriteByExpression", "AppendData", "WriteToDataSourceV2")

  def isWrite(physicalPlan: String): Boolean =
    physicalPlan != null && WriteNodes.exists(physicalPlan.contains)
}

/** Minimal JSON writer for flat records of numbers and strings. */
object Json {
  final case class Raw(s: String)

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]])
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${value(v)}" }
      .mkString("{", ",", "}")
}
