package graft

import graft.etl._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Structure budget of the consolidate → validate stage calls: the
  * Spark actions (SQL executions) and jobs each call runs on a tiny
  * fixed corpus, counted by a [[Meter]]. At this size the stages are
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

  private def assertBudget(call: String, m: Measure, maxActions: Int, maxJobs: Int): Unit = {
    info(s"$call: ${m.actions} actions, ${m.jobs} jobs")
    assert(m.actions <= maxActions, s"$call ran ${m.actions} actions")
    assert(m.jobs <= maxJobs, s"$call ran ${m.jobs} jobs")
  }

  test("consolidate and validate stay within their Spark action and job budgets") {
    val meter = new Meter(spark)
    try {
      // One run first: the budget is the recurring cost, not the
      // session's first-use work.
      val warm = Files.createTempDirectory("graft-budget-warm").toString
      ConsolidateMain.run(spark, res("linkedin.csv"), res("gmail.csv"), res("contacts.vcf"), warm)
      ValidateMain.run(spark, warm)

      val dir = Files.createTempDirectory("graft-budget").toString
      meter.take()
      ConsolidateMain.run(spark, res("linkedin.csv"), res("gmail.csv"), res("contacts.vcf"), dir)
      val consolidate = meter.take()
      ValidateMain.run(spark, dir)
      val validate = meter.take()
      // Actions are exact. Jobs get one of headroom: AQE runs each
      // query stage as its own job, and on this corpus the merge
      // aggregate's count moves by one with stage timing (22 or 23).
      assertBudget("consolidate", consolidate, maxActions = 9, maxJobs = 23)
      assertBudget("validate", validate, maxActions = 2, maxJobs = 7)
    } finally meter.close()
  }
}
