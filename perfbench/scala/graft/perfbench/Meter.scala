package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as seen by the listener: its window, its description
  * (the label of the operation that submitted it, or a stale one) and
  * its stages. */
final case class JobRec(id: Int, startMs: Long, var endMs: Long,
    desc: String, stageIds: Seq[Int])

final case class StageRec(id: Int, name: String, submitMs: Long, endMs: Long,
    tasks: Int)

/** One micro-batch progress event of a streaming query. */
final case class BatchRec(batchId: Long, startMs: Long, inputRows: Long,
    durationMs: Map[String, Long], stateRows: Long, stateBytes: Long)

/** The executed plan of one action, reduced to the census counts. */
final case class PlanRec(action: String, shuffles: Int, broadcasts: Int,
    fileScans: Int, cacheScans: Int, rddScans: Int)

/** Everything the listeners saw during one operation. */
final case class OpMeasure(counters: Map[String, Long], jobs: Seq[JobRec],
    stages: Seq[StageRec], batches: Seq[BatchRec], plans: Seq[PlanRec])

/** The benchmark's own listeners. Aggregate counters and job/stage
  * windows are always kept (they are cheap); executed-plan census
  * records are kept only when `tracePlans` is set. Events are
  * buffered and handed out per operation by [[take]], after the
  * listener bus has been drained. */
final class Meter(spark: SparkSession) extends SparkListener {
  @volatile var tracePlans = false

  private val counterNames = Seq("jobs", "stages", "tasks", "executor_cpu_ns",
    "executor_run_ms", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "input_bytes", "output_bytes")
  private val counters = counterNames.map(_ -> new AtomicLong).toMap
  private def add(k: String, v: Long): Unit = { counters(k).addAndGet(v); () }

  private val jobsQ = new ConcurrentLinkedQueue[JobRec]()
  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stagesQ = new ConcurrentLinkedQueue[StageRec]()
  private val batchesQ = new ConcurrentLinkedQueue[BatchRec]()
  private val plansQ = new ConcurrentLinkedQueue[PlanRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("jobs", 1)
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    val j = JobRec(e.jobId, e.time, -1L, desc, e.stageIds)
    openJobs.put(e.jobId, j)
    jobsQ.add(j)
    ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(openJobs.remove(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add("stages", 1)
    val i = e.stageInfo
    val sub = i.submissionTime.getOrElse(-1L)
    stagesQ.add(StageRec(i.stageId, i.name, sub, i.completionTime.getOrElse(sub),
      i.numTasks))
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("executor_cpu_ns", m.executorCpuTime)
      add("executor_run_ms", m.executorRunTime)
      add("shuffle_read_bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("output_bytes", m.outputMetrics.bytesWritten)
    }
  }

  private object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      batchesQ.add(BatchRec(p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
      ()
    }
  }

  private object Plans extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
      if (tracePlans) plansQ.add(census(action, qe.executedPlan))
    override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()

    def census(action: String, plan: SparkPlan): PlanRec = {
      def n(pf: PartialFunction[SparkPlan, Unit]) = collectWithSubqueries(plan)(pf).size
      PlanRec(action,
        n { case _: ShuffleExchangeLike => () },
        n { case _: BroadcastExchangeLike => () },
        n { case _: org.apache.spark.sql.execution.FileSourceScanExec => ()
            case _: BatchScanExec => () },
        n { case _: InMemoryTableScanExec => () },
        n { case _: org.apache.spark.sql.execution.RDDScanExec => ()
            case _: org.apache.spark.sql.execution.ExternalRDDScanExec[_] => () })
    }
  }

  def snapshot(): Map[String, Long] = counters.map { case (k, v) => k -> v.get }

  private def drainQ[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
    val b = Seq.newBuilder[T]
    var x = q.poll()
    while (x != null) { b += x; x = q.poll() }
    b.result()
  }

  /** Deliver every pending event, then hand out what arrived since the
    * previous call, with counter deltas against `before`. */
  def take(before: Map[String, Long]): OpMeasure = {
    PerfbenchBus.drain(spark.sparkContext)
    val now = snapshot()
    OpMeasure(now.map { case (k, v) => k -> (v - before(k)) },
      drainQ(jobsQ), drainQ(stagesQ), drainQ(batchesQ), drainQ(plansQ))
  }

  spark.sparkContext.addSparkListener(this)
  spark.streams.addListener(Streams)
  spark.listenerManager.register(Plans)
}

object Meter {
  /** Milliseconds of `[t0, t1]` covered by at least one interval. */
  def coveredMs(t0: Long, t1: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    covered
  }
}
