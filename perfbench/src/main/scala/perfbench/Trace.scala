package perfbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: run → operation → job → stage. Times are epoch
  * milliseconds; `counts` holds what was recorded at its boundaries. */
final case class Span(id: Int, kind: String, name: String, parent: Int,
                      start: Double, var end: Double,
                      counts: mutable.Map[String, Double] = mutable.Map.empty)

/** Counts two log lines the engine emits but exposes nowhere else:
  * codegen compiles with their time ("Code generated in N ms", INFO,
  * kept off the console) and DAGScheduler accumulator-update failures
  * ("attempted to access non-existent accumulator", ERROR). Installed
  * in every run; it costs one string test per matching log line. */
final class LogTap extends AbstractAppender("perfbench-tap", null, null, true,
    Property.EMPTY_ARRAY) {
  @volatile var compiles = 0L
  @volatile var compileMs = 0.0
  @volatile var droppedAccum = 0L
  private val generated = "Code generated in ([0-9.]+) ms".r.unanchored

  override def append(e: LogEvent): Unit = {
    val msg = e.getMessage.getFormattedMessage
    msg match {
      case generated(ms) => synchronized { compiles += 1; compileMs += ms.toDouble }
      case _ =>
        val thrown = Option(e.getThrown).map(_.getMessage).getOrElse("")
        if (msg.contains("non-existent accumulator") || thrown.contains("non-existent accumulator"))
          synchronized { droppedAccum += 1 }
    }
  }

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    start()
    val codegen = new LoggerConfig(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator", Level.INFO, false)
    codegen.addAppender(this, Level.INFO, null)
    cfg.addLogger(codegen.getName, codegen)
    val dag = new LoggerConfig("org.apache.spark.scheduler.DAGScheduler", Level.WARN, true)
    dag.addAppender(this, Level.ERROR, null)
    cfg.addLogger(dag.getName, dag)
    ctx.updateLoggers()
  }
}

/** The traced run's recorder: a SparkListener and a
  * QueryExecutionListener that open job and stage spans under the
  * operation the harness marks as current, and sum the engine layers'
  * counters (plan phases, codegen, jobs/stages/tasks, shuffle, spill,
  * GC) per operation. Spans stay in memory until [[spansJson]]. */
final class Tracer(spark: SparkSession, tap: LogTap) extends SparkListener
    with QueryExecutionListener {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val root = newSpan("run", "run", -1, nowMs)
  private val ops = mutable.ArrayBuffer.empty[Span]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSpan = mutable.Map.empty[(Int, Int), Int]
  @volatile var enabled = false

  private def newSpan(kind: String, name: String, parent: Int, start: Double): Span =
    synchronized {
      val s = Span(spans.size, kind, name, parent, start, start)
      spans += s
      s
    }

  private def add(spanId: Int, key: String, v: Double): Unit = synchronized {
    val c = spans(spanId).counts
    c(key) = c.getOrElse(key, 0.0) + v
  }

  /** The operation open at epoch-ms `t`, else the run. Listener events
    * arrive late on the bus, so they are placed by their own
    * timestamps, not by what is current when they are delivered. */
  private def opAt(t: Double): Int = synchronized {
    ops.reverseIterator.find(o => o.start <= t && t <= o.end).map(_.id).getOrElse(root.id)
  }

  /** Time `body` as an operation span named `name` under the run. */
  def op[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val s = newSpan("op", name, root.id, nowMs)
    s.end = Double.MaxValue
    synchronized(ops += s)
    val (c0, ms0) = (tap.compiles, tap.compileMs)
    try body
    finally {
      s.end = nowMs
      add(s.id, "codegen.compiles", (tap.compiles - c0).toDouble)
      add(s.id, "codegen.compile_ms", tap.compileMs - ms0)
    }
  }

  def attach(): Unit = {
    enabled = true
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Wait for every posted event, then stop listening. */
  def detach(): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    enabled = false
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    root.end = nowMs
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val op = opAt(e.time.toDouble)
    val s = newSpan("job", s"job ${e.jobId}", op, e.time.toDouble)
    synchronized {
      jobSpan(e.jobId) = s.id
      e.stageInfos.foreach(si => stageJob(si.stageId) = e.jobId)
    }
    add(op, "exec.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(jobSpan.get(e.jobId)).foreach(id => spans(id).end = e.time.toDouble)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (enabled) {
    val si = e.stageInfo
    val start = si.submissionTime.map(_.toDouble).getOrElse(nowMs)
    val parent = synchronized(stageJob.get(si.stageId).flatMap(jobSpan.get))
      .getOrElse(opAt(start))
    val s = newSpan("stage", s"stage ${si.stageId}.${si.attemptNumber()}", parent, start)
    synchronized(stageSpan((si.stageId, si.attemptNumber())) = s.id)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    synchronized(stageSpan.remove((si.stageId, si.attemptNumber()))).foreach { id =>
      val s = spans(id)
      s.end = si.completionTime.map(_.toDouble).getOrElse(nowMs)
      val m = si.taskMetrics
      val op = opOf(id)
      val vals = Seq(
        "exec.stages" -> 1.0,
        "exec.tasks" -> si.numTasks.toDouble,
        "exec.task_busy_ms" -> (if (m == null) 0.0 else m.executorRunTime.toDouble),
        "exec.gc_ms" -> (if (m == null) 0.0 else m.jvmGCTime.toDouble),
        "exec.shuffle_read_bytes" ->
          (if (m == null) 0.0 else m.shuffleReadMetrics.totalBytesRead.toDouble),
        "exec.shuffle_write_bytes" ->
          (if (m == null) 0.0 else m.shuffleWriteMetrics.bytesWritten.toDouble),
        "exec.spill_bytes" ->
          (if (m == null) 0.0 else (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble))
      vals.foreach { case (k, v) => add(id, k, v); if (op != id) add(op, k, v) }
    }
  }

  /** The operation span a span belongs to, or the run. */
  private def opOf(id: Int): Int = {
    var s = spans(id)
    while (s.kind != "op" && s.parent >= 0) s = spans(s.parent)
    s.id
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val op = opAt(phases.values.map(_.startTimeMs).min.toDouble)
        phases.foreach { case (phase, p) => add(op, s"plan.${phase}_ms", p.durationMs.toDouble) }
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Sum of `key` over the operation spans whose name starts with `prefix`. */
  def opSum(prefix: String, key: String): Double = synchronized {
    spans.iterator.filter(s => s.kind == "op" && s.name.startsWith(prefix))
      .map(_.counts.getOrElse(key, 0.0)).sum
  }

  /** Self time of every span: its duration minus the union of the
    * intervals its children cover (clipped to the span). */
  def selfMs: Map[Int, Double] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var (lo, hi) = (Double.NaN, Double.NaN)
      iv.foreach { case (a, b) =>
        if (hi.isNaN || a > hi) {
          if (!hi.isNaN) covered += hi - lo
          lo = a; hi = b
        } else hi = math.max(hi, b)
      }
      if (!hi.isNaN) covered += hi - lo
      s.id -> math.max(0.0, s.end - s.start - covered)
    }.toMap
  }

  def spansJson: Seq[Map[String, Any]] = {
    val self = selfMs
    synchronized(spans.toList).map { s =>
      Map("id" -> s.id, "kind" -> s.kind, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self(s.id),
        "counts" -> s.counts.toMap)
    }
  }
}
