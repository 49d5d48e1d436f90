package graft.tools

import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev tool: the runtime counters of named contract queries (noop
  * sink) — direct evidence for stage, shuffle and compile claims that
  * localCheckpoint boundaries hide from explain(). Each query runs
  * once warm (scans page-cached, schemas memoized), then once measured.
  * Usage: sbt "runMain graft.tools.Measure <sfDir> <query...>" */
object Measure {

  /** One measured run. Stages and tasks count what executed: a stage
    * skipped for a reused shuffle reports nothing. `compiles` is the
    * JVM-wide codegen compile delta. */
  final case class Record(name: String, seconds: Double, jobs: Int,
      stages: Int, tasks: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long, compiles: Long)

  private class Counters extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0L
    @volatile var read = 0L
    @volatile var written = 0L
    @volatile var spilled = 0L
    def reset(): Unit = {
      jobs = 0; stages = 0; tasks = 0L; read = 0L; written = 0L; spilled = 0L
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages += 1
      tasks += e.stageInfo.numTasks
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        read += m.shuffleReadMetrics.totalBytesRead
        written += m.shuffleWriteMetrics.bytesWritten
        spilled += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Warm, then measure, each query in turn. The listener bus is
    * drained before the counters reset (late events of the warm run
    * stay out) and before they are read (the measured run's last
    * events are in). */
  def run(spark: SparkSession, dir: String, names: Seq[String]): Seq[Record] = {
    val sc = spark.sparkContext
    val c = new Counters
    sc.addSparkListener(c)
    try names.map { n =>
      val q = graft.SparkEntry.queries(n)
      q(spark, dir).write.format("noop").mode("overwrite").save()
      ListenerBusDrain(sc)
      c.reset()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      q(spark, dir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      ListenerBusDrain(sc)
      Record(n, sec, c.jobs, c.stages, c.tasks, c.read, c.written, c.spilled,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
    } finally sc.removeSparkListener(c)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    val mib = 1048576.0
    run(spark, args.head, args.tail.toSeq).foreach { r =>
      println(f"[measure] ${r.name}%-24s ${r.seconds}%7.2f s ${r.jobs}%4d jobs " +
        f"${r.stages}%4d stages ${r.tasks}%6d tasks " +
        f"read ${r.shuffleReadBytes / mib}%9.1f MiB write ${r.shuffleWriteBytes / mib}%9.1f MiB " +
        f"spill ${r.spillBytes / mib}%9.1f MiB ${r.compiles}%5d compiles")
    }
    spark.stop()
  }
}
