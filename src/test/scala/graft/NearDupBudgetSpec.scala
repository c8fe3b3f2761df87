package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Structure budget of the near-dup family and of the default census
  * subset (the composed pipeline q87, the erasure q125, the stream
  * q130 and the epoch queries q140, q145, q146): the Spark actions (SQL
  * executions), jobs and shuffle exchanges that each query's prepare
  * hook and body run at sf0.001, counted by a [[Meter]]. The near-dup
  * operators share one LSH core and every query shares one cache
  * primitive, so a change to either reaches many plans at once; an
  * extra action or shuffle anywhere fails here instead of only showing
  * up as a slower benchmark.
  *
  * Each query runs once to warm the session (memos, stores, codegen),
  * then again — prepare, then body and a `collect()` — under the
  * counters, the recurring run the benchmark times. Actions are exact;
  * jobs get one of headroom, because AQE runs each query stage as its
  * own job and the count can move by one with stage timing; shuffles
  * are the shuffle map stages that ran (skipped stages excluded), and
  * may only fall. A shuffle counts in the call whose action runs it: a
  * cache's shuffles run once, in the action that fills it, however many
  * plans read the cache afterwards.
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
  /** Budgets per query, (prepare, body), as measured once every cache
    * variant was folded into one `Scratch.scoped`. Each count is at or
    * below the parent's under the same counters: the near-dup queries
    * as rebuilt on one LSH core, and the composed pipeline (q87), the
    * erasure, stream and epoch queries (q125, q130, q140, q145, q146).
    * A query without a prepare hook has a zero prepare cost. */
  private val Budgets: Seq[(String, Cost, Cost)] = Seq(
    ("q51_minhash_lsh", Cost(0, 0, 0), Cost(1, 7, 3)),
    ("q88_minhash_lsh_capped", Cost(0, 0, 0), Cost(1, 8, 5)),
    ("q94_ngram_minhash", Cost(0, 0, 0), Cost(1, 8, 5)),
    ("q96_incremental_dedup", Cost(2, 5, 3), Cost(1, 8, 3)),
    ("q101_index_merge", Cost(1, 4, 3), Cost(1, 7, 5)),
    ("q116_index_remove", Cost(1, 4, 3), Cost(1, 7, 3)),
    ("q124_capped_cluster_remove", Cost(4, 13, 6), Cost(3, 19, 6)),
    ("q148_ingest_epoch_chain", Cost(2, 6, 4), Cost(1, 15, 13)),
    ("q87_pipeline_composed", Cost(0, 0, 0), Cost(7, 29, 12)),
    ("q125_retention_erase", Cost(2, 6, 3), Cost(1, 8, 5)),
    ("q130_funnel_erase_requests", Cost(0, 0, 0), Cost(2, 7, 4)),
    ("q140_maintenance_epoch", Cost(4, 13, 6), Cost(5, 47, 22)),
    ("q145_epoch_chain", Cost(4, 13, 6), Cost(5, 49, 23)),
    ("q146_nightly_job", Cost(10, 38, 18), Cost(7, 73, 38)))

  /** The budget breaches of one call, empty when it is within budget. */
  private def breaches(call: String, got: Cost, want: Cost): Seq[String] = {
    info(s"$call: $got (budget $want)")
    Seq(
      Option.when(got.actions != want.actions)(s"$call ran ${got.actions} actions, budget ${want.actions}"),
      Option.when(got.jobs > want.jobs + 1)(s"$call ran ${got.jobs} jobs, budget ${want.jobs} + 1"),
      Option.when(got.shuffles > want.shuffles)(
        s"$call ran ${got.shuffles} shuffle stages, budget ${want.shuffles}")).flatten
  }

  test("the near-dup queries stay within their action, job and shuffle budgets") {
    val meter = new Meter(spark)
    def take(): Cost = {
      val m = meter.take()
      Cost(m.actions.toInt, m.jobs.toInt, m.shuffleStages.toInt)
    }
    try {
      val prepares = Registry.preparesMap
      val over = Budgets.flatMap { case (name, prepBudget, bodyBudget) =>
        val prepare = prepares.get(name)
        val body = SparkEntry.queries(name)
        def pass(): (Cost, Cost) = {
          take()
          prepare.foreach(_(spark, Dir))
          val prep = take()
          body(spark, Dir).collect()
          val run = take()
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
    } finally meter.close()
  }
}

object NearDupBudgetSpec {
  /** (actions, jobs, shuffle map stages) of one counted call. */
  final case class Cost(actions: Int, jobs: Int, shuffles: Int) {
    override def toString = s"$actions actions, $jobs jobs, $shuffles shuffles"
  }
}
