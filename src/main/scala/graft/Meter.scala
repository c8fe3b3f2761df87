package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBus, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** What ran in one metered window (see [[Meter.take]]).
  *
  * The counts `jobs` … `output_bytes` carry the names and definitions
  * of the benchmark harness's meter (`perfbench`), so the two agree:
  * jobs started, stages completed, tasks ended, and the ended tasks'
  * executor CPU ns and run ms, shuffle bytes read (local + remote) and
  * written, spill (memory + disk), input bytes and output bytes. Besides
  * those: `actions`, the distinct SQL executions the started jobs belong
  * to (a job outside any SQL execution is no action); `shuffleStages`,
  * the stages that ran shuffle map tasks in their first attempt (a
  * skipped stage runs none); `inputRecords`; `jobLabels`, the started
  * jobs per job description (`""` for a job without one); and the
  * progress events of the session's streaming queries. */
final case class Measure(actions: Long = 0, jobs: Long = 0, stages: Long = 0,
    shuffleStages: Long = 0, tasks: Long = 0, executorCpuNs: Long = 0,
    executorRunMs: Long = 0, shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0, inputBytes: Long = 0, inputRecords: Long = 0,
    outputBytes: Long = 0, jobLabels: Map[String, Long] = Map.empty,
    progress: Vector[StreamingQueryProgress] = Vector.empty) {

  /** Every count, under the harness meter's names where it has one. */
  def counters: Seq[(String, Long)] = Seq("actions" -> actions, "jobs" -> jobs,
    "stages" -> stages, "shuffle_stages" -> shuffleStages, "tasks" -> tasks,
    "executor_cpu_ns" -> executorCpuNs, "executor_run_ms" -> executorRunMs,
    "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "input_bytes" -> inputBytes,
    "input_records" -> inputRecords, "output_bytes" -> outputBytes)
}

/** The metrics listener: counts the jobs, stages and tasks of the
  * session's Spark context, and the micro-batch progress of the
  * session's streaming queries, from construction until [[close]].
  *
  * The scheduler events of every thread and session on the context
  * count, so a window measures everything that ran in it: a body's
  * [[Par]] sides too, and anything else running at the same time. Events
  * are delivered asynchronously; [[take]] drains the listener bus
  * first, so a window ends exactly where the call is. */
final class Meter(spark: SparkSession) extends SparkListener with AutoCloseable {
  private var acc = Measure()
  private var executions = Set.empty[String]
  private var shuffleMapStages = Set.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val label = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    acc = acc.copy(jobs = acc.jobs + 1,
      jobLabels = acc.jobLabels.updated(label, acc.jobLabels.getOrElse(label, 0L) + 1))
    props.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .foreach(executions += _)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc = acc.copy(stages = acc.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskType == "ShuffleMapTask" && e.stageAttemptId == 0) shuffleMapStages += e.stageId
    acc = Option(e.taskMetrics).fold(acc.copy(tasks = acc.tasks + 1)) { m =>
      val sr = m.shuffleReadMetrics
      acc.copy(tasks = acc.tasks + 1,
        executorCpuNs = acc.executorCpuNs + m.executorCpuTime,
        executorRunMs = acc.executorRunMs + m.executorRunTime,
        shuffleReadBytes = acc.shuffleReadBytes + sr.remoteBytesRead + sr.localBytesRead,
        shuffleWriteBytes = acc.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = acc.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
        inputBytes = acc.inputBytes + m.inputMetrics.bytesRead,
        inputRecords = acc.inputRecords + m.inputMetrics.recordsRead,
        outputBytes = acc.outputBytes + m.outputMetrics.bytesWritten)
    }
  }

  private object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Meter.this.synchronized { acc = acc.copy(progress = acc.progress :+ e.progress) }
  }

  /** Everything that ran since the previous call (or since the meter
    * was made): every event posted before this call is delivered
    * first. */
  def take(): Measure = {
    GraftBus.drain(spark.sparkContext)
    synchronized {
      val m = acc.copy(actions = executions.size, shuffleStages = shuffleMapStages.size)
      acc = Measure()
      executions = Set.empty
      shuffleMapStages = Set.empty
      m
    }
  }

  /** Detaches both listeners. */
  override def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.streams.removeListener(Streams)
  }

  spark.sparkContext.addSparkListener(this)
  spark.streams.addListener(Streams)
}
