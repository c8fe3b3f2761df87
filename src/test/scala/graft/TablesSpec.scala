package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** `Tables.parquet` resolves a file's schema once per file version:
  * a repeated read runs no Spark job, returns what a plain
  * `spark.read.parquet` returns, and a table rewritten at the same
  * path is re-inferred. Reads the small event/document/embedding
  * tables kept with the benchmark (`perfbench/data`, read only).
  */
class TablesSpec extends AnyFunSuite {

  private val dir = new java.io.File("perfbench/data").getAbsolutePath

  // A session of its own over the shared context, so SQL confs other
  // suites set in this JVM do not leak in or out.
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

  /** Jobs started while `body` runs. */
  private def jobsIn(body: => Unit): Long = {
    val meter = new Meter(spark)
    try { meter.take(); body; meter.take().jobs } finally meter.close()
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** The read every table load did before `Tables.parquet`. */
  private def plainRead(path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.read.parquet(path)
  }

  test("a repeated load runs no Spark job and reads what spark.read.parquet reads") {
    for (name <- Seq("documents", "embeddings", "events")) {
      Tables.load(spark, dir, name)
      var again: DataFrame = null
      val jobs = jobsIn { again = Tables.load(spark, dir, name) }
      assert(jobs == 0, s"second Tables.load($name) ran $jobs jobs")
      val plain = plainRead(s"$dir/$name.parquet")
      assert(Tables.parquet(spark, s"$dir/$name.parquet").schema == plain.schema)
      if (name != "events") {
        assert(again.schema == plain.schema)
        assert(sameRows(again, plain), name)
      }
    }
  }

  test("a table rewritten at the same path is re-inferred, not served a stale schema") {
    val path = java.nio.file.Files.createTempDirectory("graft_tables_").resolve("t").toString
    try {
      spark.range(5).select(col("id"), col("id").cast("string").as("a"))
        .write.mode("overwrite").parquet(path)
      val first = Tables.parquet(spark, path)
      assert(first.columns.toSeq == Seq("id", "a"))
      assert(jobsIn(Tables.parquet(spark, path)) == 0)
      val b = spark.range(3).select(col("id"), (col("id") * 0.5).as("b"))
      b.write.mode("overwrite").parquet(path)
      val second = Tables.parquet(spark, path)
      assert(second.schema == spark.read.parquet(path).schema)
      assert(second.columns.toSeq == Seq("id", "b"))
      assert(sameRows(second, b))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(path).getParentFile)
  }

  test("a partitioned directory keeps its inferred partition column type") {
    val path = java.nio.file.Files.createTempDirectory("graft_tables_").resolve("p").toString
    try {
      spark.range(20).withColumn("pid", floor(col("id") / 7))
        .write.partitionBy("pid").mode("overwrite").parquet(path)
      val plain = spark.read.parquet(path)
      val read = Tables.parquet(spark, path)
      assert(read.schema == plain.schema)
      assert(sameRows(read, plain))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(path).getParentFile)
  }

  test("events ts is a TimestampType equal to the plain read's normalization") {
    val events = Tables.load(spark, dir, "events")
    assert(events.schema("ts").dataType == TimestampType)
    val plain = plainRead(s"$dir/events.parquet")
    val expected =
      if (plain.schema("ts").dataType == LongType)
        plain.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      else plain
    assert(sameRows(events, expected))
  }

  test("concurrent loads from Futures return the same schema") {
    val path = java.nio.file.Files.createTempDirectory("graft_tables_").resolve("c").toString
    try {
      spark.range(10).select(col("id"), col("id").cast("string").as("s"))
        .write.mode("overwrite").parquet(path)
      val expected = spark.read.parquet(path).schema
      val loads = Future.sequence((1 to 8).map(_ => Future(Tables.parquet(spark, path).schema)))
      assert(Await.result(loads, 2.minutes).forall(_ == expected))
      val events = Future.sequence((1 to 4).map(_ => Future(Tables.load(spark, dir, "events").schema)))
      assert(Await.result(events, 2.minutes).distinct.size == 1)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(path).getParentFile)
  }
}
