package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[Par.both]]: both halves' results, the side's job labels, and
  * failures. Then the bodies that fork (q140, q145 and q146, one after
  * another in one session, prepared as `Bench` runs them): every job
  * each one submits, on any of its threads, carries its own name as
  * the job description. */
class ParSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Dir = "/root/testdata/sf0.001"

  /** The job labels of `f`, run under the job description `label`. */
  private def labels(meter: Meter, label: String)(f: => Unit): Map[String, Long] = {
    spark.sparkContext.setJobDescription(label)
    try {
      meter.take()
      f
      meter.take().jobLabels
    } finally spark.sparkContext.setJobDescription(null)
  }

  test("both halves run, and the side's jobs carry the caller's description") {
    val meter = new Meter(spark)
    try {
      for (label <- Seq("first", "second")) {
        val got = labels(meter, label) {
          val (a, b) = Par.both(spark)(spark.range(10).count())(spark.range(5).count())
          assert((a, b) == (10L, 5L))
        }
        assert(got.keySet == Set(label), got)
      }
    } finally meter.close()
  }

  test("a failing half is thrown once both halves are done") {
    val done = new java.util.concurrent.atomic.AtomicBoolean()
    val e = intercept[IllegalStateException] {
      Par.both(spark)(throw new IllegalStateException("side")) {
        Thread.sleep(50); done.set(true)
      }
    }
    assert(e.getMessage == "side" && done.get)
    val f = intercept[IllegalArgumentException] {
      Par.both(spark)(Thread.sleep(50))(throw new IllegalArgumentException("caller"))
    }
    assert(f.getMessage == "caller")
  }

  test("q140, q145 and q146 in one session: every job carries its own query's name") {
    val meter = new Meter(spark)
    try {
      for (name <- Seq("q140_maintenance_epoch", "q145_epoch_chain", "q146_nightly_job")) {
        Registry.preparesMap(name)(spark, Dir)
        val got = labels(meter, name)(Registry.queriesMap(name)(spark, Dir).collect())
        Scratch.releaseAll()
        assert(got.keySet == Set(name), s"$name: $got")
      }
    } finally meter.close()
  }
}
