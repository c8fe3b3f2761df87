package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

/** Structure budget of the near-dup family: the Spark actions (SQL
  * executions), jobs and shuffle exchanges that each query's prepare
  * hook and body run at sf0.001, counted by listeners. The near-dup
  * operators share one LSH core, so a change to a signature, candidate
  * rule or verify reaches many plans at once; an extra action or
  * shuffle anywhere in the family fails here instead of only showing
  * up as a slower benchmark.
  *
  * Each query runs once to warm the session (memos, stores, codegen),
  * then again — prepare, then body and a `collect()` — under the
  * counters, the recurring run the benchmark times. Actions are exact;
  * jobs get one of headroom, because AQE runs each query stage as its
  * own job and the count can move by one with stage timing; shuffle
  * exchanges are counted over the final adaptive plans, the plans of
  * the caches they read included, and may only fall.
  */
class NearDupBudgetSpec extends AnyFunSuite {
  import NearDupBudgetSpec.Cost

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

  private val Dir = "/root/testdata/sf0.001"
  private val CallKey = "graft.budget.call"
  private val Marker = "marker"

  /** Every job and every successful SQL execution's final plan since
    * the last [[take]]. Jobs from the query's own worker threads (the
    * takedown's Future) are counted too: only the marker is excluded. */
  private class Counter extends SparkListener with QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    private val jobs = new ConcurrentLinkedQueue[String]()
    private val shuffles = new ConcurrentLinkedQueue[Integer]()
    @volatile var drained = new CountDownLatch(1)
    @volatile private var markerJob = -1
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      if (p.flatMap(x => Option(x.getProperty(CallKey))).contains(Marker)) markerJob = e.jobId
      else jobs.add(p.map(_.getProperty("spark.sql.execution.id", "-")).getOrElse("-"))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) drained.countDown()
    override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
      shuffles.add(exchanges(qe.executedPlan))
    /** Shuffle exchanges in `plan`, and in the plans of the caches it
      * reads: a cache's exchanges run in the action that fills it. */
    private def exchanges(plan: SparkPlan): Int =
      collectWithSubqueries(plan) {
        case _: ShuffleExchangeLike => 1
        case c: InMemoryTableScanExec => exchanges(c.relation.cachedPlan)
      }.sum
    override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()

    /** Waits until every event before this call is delivered (a
      * marker job runs last, and the bus delivers in order), then
      * hands out what arrived since the previous call. */
    def take(): Cost = {
      val sc = spark.sparkContext
      drained = new CountDownLatch(1)
      sc.setLocalProperty(CallKey, Marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(CallKey, null)
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus did not drain")
      val js = Iterator.continually(jobs.poll()).takeWhile(_ != null).toSeq
      val sh = Iterator.continually(shuffles.poll()).takeWhile(_ != null).map(_.intValue).toSeq
      Cost(js.filter(_ != "-").distinct.size, js.size, sh.sum)
    }
  }

  /** Budgets per query, (prepare, body), as measured on the plans
    * before the near-dup operators were rebuilt on one LSH core. A
    * query without a prepare hook has a zero prepare cost. */
  private val Budgets: Seq[(String, Cost, Cost)] = Seq(
    ("q51_minhash_lsh", Cost(0, 0, 0), Cost(1, 12, 9)),
    ("q88_minhash_lsh_capped", Cost(0, 0, 0), Cost(1, 12, 9)),
    ("q94_ngram_minhash", Cost(0, 0, 0), Cost(1, 12, 9)),
    ("q96_incremental_dedup", Cost(4, 10, 7), Cost(1, 13, 8)),
    ("q101_index_merge", Cost(1, 5, 3), Cost(1, 7, 8)),
    ("q116_index_remove", Cost(3, 7, 4), Cost(1, 8, 4)),
    ("q124_capped_cluster_remove", Cost(11, 30, 28), Cost(5, 33, 8)),
    ("q148_ingest_epoch_chain", Cost(2, 8, 4), Cost(1, 15, 17)))

  /** The budget breaches of one call, empty when it is within budget. */
  private def breaches(call: String, got: Cost, want: Cost): Seq[String] = {
    info(s"$call: $got (budget $want)")
    Seq(
      Option.when(got.actions != want.actions)(s"$call ran ${got.actions} actions, budget ${want.actions}"),
      Option.when(got.jobs > want.jobs + 1)(s"$call ran ${got.jobs} jobs, budget ${want.jobs} + 1"),
      Option.when(got.shuffles > want.shuffles)(
        s"$call planned ${got.shuffles} shuffle exchanges, budget ${want.shuffles}")).flatten
  }

  test("the near-dup queries stay within their action, job and shuffle budgets") {
    val counter = new Counter
    spark.sparkContext.addSparkListener(counter)
    spark.listenerManager.register(counter)
    try {
      val prepares = Registry.preparesMap
      val over = Budgets.flatMap { case (name, prepBudget, bodyBudget) =>
        val prepare = prepares.get(name)
        val body = SparkEntry.queries(name)
        def pass(): (Cost, Cost) = {
          counter.take()
          prepare.foreach(_(spark, Dir))
          val prep = counter.take()
          body(spark, Dir).collect()
          val run = counter.take()
          queries.evictMemos(spark)
          Scratch.releaseAll()
          (prep, run)
        }
        pass() // warm: first-use memos, stores and codegen
        val (prep, run) = pass()
        breaches(s"$name prepare", prep, prepBudget) ++
          breaches(s"$name body", run, bodyBudget)
      }
      assert(over.isEmpty, over.mkString("; "))
    } finally {
      spark.listenerManager.unregister(counter)
      spark.sparkContext.removeSparkListener(counter)
    }
  }
}

object NearDupBudgetSpec {
  /** (actions, jobs, shuffle exchanges) of one counted call. */
  final case class Cost(actions: Int, jobs: Int, shuffles: Int) {
    override def toString = s"$actions actions, $jobs jobs, $shuffles shuffles"
  }
}
