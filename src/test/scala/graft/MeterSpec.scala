package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[Meter]]'s counts, pinned on a query whose structure is known: a
  * global count over four input partitions runs its partial aggregate
  * as one shuffle map stage of four tasks, then the final aggregate as
  * one task, each stage a job of its own under adaptive execution. */
class MeterSpec extends AnyFunSuite {

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

  private def countAll(): Unit = {
    assert(spark.range(0, 100, 1, 4).groupBy().count().collect().head.getLong(0) == 100)
  }

  test("a global count over 4 partitions: 1 action, 2 jobs, 1 shuffle map stage, 5 tasks") {
    val meter = new Meter(spark)
    try {
      meter.take()
      countAll()
      val m = meter.take()
      assert((m.actions, m.jobs, m.stages, m.shuffleStages, m.tasks) == (1, 2, 2, 1, 5), m)
      assert(m.shuffleWriteBytes > 0 && m.shuffleReadBytes == m.shuffleWriteBytes, m)
      assert(m.executorCpuNs > 0 && m.progress.isEmpty, m)
      assert(meter.take() == Measure(), "a window in which nothing ran counts nothing")
    } finally meter.close()
  }

  test("consecutive takes split two actions exactly: their sum is one take over both") {
    val whole = new Meter(spark)
    val split = new Meter(spark)
    try {
      whole.take()
      split.take()
      countAll()
      val a = split.take()
      countAll()
      val b = split.take()
      val both = whole.take()
      assert(a.actions == 1 && b.actions == 1 && a.jobs == 2 && b.jobs == 2, (a, b))
      val sum = a.counters.lazyZip(b.counters).map { case ((k, x), (_, y)) => k -> (x + y) }
      assert(sum == both.counters, s"$a + $b != $both")
      assert(both.progress.isEmpty, both)
    } finally {
      whole.close()
      split.close()
    }
  }

  test("sf0.001: q130's progress events reach the meter with the session's state width") {
    val meter = new Meter(spark)
    try {
      meter.take()
      Registry.queriesMap("q130_funnel_erase_requests")(spark, "/root/testdata/sf0.001").collect()
      val progress = meter.take().progress
      assert(progress.exists(_.stateOperators.exists(_.numShufflePartitions == 2)),
        s"state widths ${progress.map(_.stateOperators.map(_.numShufflePartitions).toSeq)}")
    } finally meter.close()
  }
}
