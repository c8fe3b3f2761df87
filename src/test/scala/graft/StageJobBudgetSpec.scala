package graft

import graft.etl._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** Structure budget of the consolidate → validate stage calls: the
  * Spark actions (SQL executions) and jobs each call runs on a tiny
  * fixed corpus, counted by a listener. At this size the stages are
  * driver-bound, so every extra action, exchange materialization or
  * inference read is wall time; a change that reintroduces one fails
  * here instead of only showing up as a slower benchmark.
  */
class StageJobBudgetSpec extends AnyFunSuite {

  // A session of its own over the shared context, so SQL confs other
  // suites set in this JVM do not move the counts.
  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
      .newSession()
    s.conf.set("spark.sql.shuffle.partitions", "2")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s
  }

  private def res(name: String): String =
    Paths.get(getClass.getResource(s"/difftest/$name").toURI).toString

  private val CallKey = "graft.budget.call"
  private val Marker = "marker"

  /** One started job: its SQL execution id and result-stage name. */
  private final case class Job(execution: String, stage: String) {
    override def toString = s"$stage (sql $execution)"
  }

  /** Jobs started per value of the [[CallKey]] local property. */
  private class JobCounter extends SparkListener {
    val jobs = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Job]]()
    private val markerJobs = ConcurrentHashMap.newKeySet[Int]()
    @volatile var drained = new CountDownLatch(1)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(CallKey))).foreach { c =>
        if (c == Marker) markerJobs.add(e.jobId)
        else jobs.computeIfAbsent(c, _ => new ConcurrentLinkedQueue[Job]()).add(Job(
          e.properties.getProperty("spark.sql.execution.id", "-"),
          e.stageInfos.maxBy(_.stageId).name))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (markerJobs.contains(e.jobId)) drained.countDown()
  }

  /** Runs `body` tagged as `call`, then waits until the listener has
    * seen every event of it: a marker job is run afterwards, and the
    * bus delivers events in order, so the marker's end comes last. */
  private def counted(counter: JobCounter, call: String)(body: => Unit): Seq[Job] = {
    val sc = spark.sparkContext
    sc.setLocalProperty(CallKey, call)
    try body finally sc.setLocalProperty(CallKey, null)
    counter.drained = new CountDownLatch(1)
    sc.setLocalProperty(CallKey, Marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(CallKey, null)
    assert(counter.drained.await(30, TimeUnit.SECONDS), "listener bus did not drain")
    Option(counter.jobs.get(call)).map(_.asScala.toSeq).getOrElse(Nil)
  }

  private def assertBudget(call: String, jobs: Seq[Job], maxActions: Int, maxJobs: Int): Unit = {
    val actions = jobs.map(_.execution).filter(_ != "-").distinct.size
    info(s"$call: $actions actions, ${jobs.size} jobs")
    assert(actions <= maxActions, s"$call ran $actions actions: ${jobs.mkString(", ")}")
    assert(jobs.size <= maxJobs, s"$call ran ${jobs.size} jobs: ${jobs.mkString(", ")}")
  }

  test("consolidate and validate stay within their Spark action and job budgets") {
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      // One run first: the budget is the recurring cost, not the
      // session's first-use work.
      val warm = Files.createTempDirectory("graft-budget-warm").toString
      ConsolidateMain.run(spark, res("linkedin.csv"), res("gmail.csv"), res("contacts.vcf"), warm)
      ValidateMain.run(spark, warm)

      val dir = Files.createTempDirectory("graft-budget").toString
      val consolidate = counted(counter, "consolidate") {
        ConsolidateMain.run(spark, res("linkedin.csv"), res("gmail.csv"),
          res("contacts.vcf"), dir)
      }
      val validate = counted(counter, "validate") { ValidateMain.run(spark, dir) }
      // Actions are exact. Jobs get one of headroom: AQE runs each
      // query stage as its own job, and on this corpus the merge
      // aggregate's count moves by one with stage timing (22 or 23).
      assertBudget("consolidate", consolidate, maxActions = 9, maxJobs = 23)
      assertBudget("validate", validate, maxActions = 2, maxJobs = 7)
    } finally spark.sparkContext.removeSparkListener(counter)
  }
}
