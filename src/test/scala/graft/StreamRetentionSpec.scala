package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.StreamingOps
import graft.queries.StreamingOps.{RetOutE, SessionEvent}

/** q128's streaming-retention semantics on crafted MULTI-batch
  * replays (the sf replay is one data batch; these are where the
  * cross-batch state actually works): a (user, day) pair spanning
  * micro-batches emits exactly once (the max-day dedup), the cohort
  * day is fixed by the first sighting and never moves, and a user
  * first seen mid-stream opens their cohort there. Then the sf pin:
  * the registered q128 equals the registered q114 row-for-row — the
  * identity the shared DuckDB oracle re-proves cross-engine every
  * round. */
class StreamRetentionSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("multi-batch: cross-batch day dedup, fixed cohort, mid-stream cohort opens") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_sret_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val dataDir = s"$root/data"
    val base = System.currentTimeMillis() - 60000
    val DayUs = 86400000000L
    def ev(u: Long, day: Long, hour: Long) = SessionEvent(u, day * DayUs + hour * 3600000000L)
    def writeFile(rows: Seq[SessionEvent], name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_sret_src_")
      spark.createDataset(rows).coalesce(1).write.mode("overwrite").parquet(s"$tmp/d")
      val part = new java.io.File(s"$tmp/d").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dest = inputDir.resolve(name)
      java.nio.file.Files.move(part.toPath, dest)
      assert(dest.toFile.setLastModified(mtime))
    }
    // u1: day 20000 in batches 0 AND 1 (must emit once), day 20001 in
    // batch 1; u2: day 20000 only; u3 first appears in batch 1 on day
    // 20001 (cohort opens there).
    writeFile(Seq(ev(1, 20000, 1), ev(2, 20000, 2), ev(1, 20000, 3)),
      "f0.parquet", base)
    writeFile(Seq(ev(1, 20000, 10), ev(1, 20001, 2), ev(3, 20001, 3)),
      "f1.parquet", base + 2000)
    val chk = java.nio.file.Files.createTempDirectory("graft_sret_chk_").toString
    val in = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[SessionEvent]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir.toString)
      .as[SessionEvent]
    val q = in.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
        StreamingOps.RetentionHandler("q128", StreamingOps.Retire.Never, StreamingOps.Erase.Never))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", chk)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[RetOutE], id: Long) =>
        batch.toDF().write.mode("overwrite").parquet(s"$dataDir/b$id"); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.read.option("recursiveFileLookup", "true")
      .schema(implicitly[org.apache.spark.sql.Encoder[RetOutE]].schema)
      .parquet(dataDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(rows.sorted == Seq(
      (1L, 20000, 20000), (1L, 20001, 20000), // cohort fixed; day dedup across batches
      (2L, 20000, 20000),
      (3L, 20001, 20001)).sorted, s"unexpected emission set: $rows")
  }

  test("guard: a day predating the standing cohort fails the stream loudly") {
    // q128 runs without a watermark, so a straggler reaches the
    // handler — a pre-cohort day would silently mis-cohort if merged;
    // the handler must raise instead (the q119 guard principle),
    // killing the query rather than producing a wrong matrix.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_sretg_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val base = System.currentTimeMillis() - 60000
    val DayUs = 86400000000L
    def writeFile(rows: Seq[SessionEvent], name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_sretg_src_")
      spark.createDataset(rows).coalesce(1).write.mode("overwrite").parquet(s"$tmp/d")
      val part = new java.io.File(s"$tmp/d").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dest = inputDir.resolve(name)
      java.nio.file.Files.move(part.toPath, dest)
      assert(dest.toFile.setLastModified(mtime))
    }
    writeFile(Seq(SessionEvent(7L, 20005L * DayUs)), "f0.parquet", base)
    writeFile(Seq(SessionEvent(7L, 20001L * DayUs)), "f1.parquet", base + 2000)
    val chk = java.nio.file.Files.createTempDirectory("graft_sretg_chk_").toString
    val in = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[SessionEvent]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir.toString)
      .as[SessionEvent]
    val q = in.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
        StreamingOps.RetentionHandler("q128", StreamingOps.Retire.Never, StreamingOps.Erase.Never))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", chk)
      .format("noop")
      .trigger(Trigger.AvailableNow()).start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)
    assert(msgs(ex).contains("arrival-order violation"),
      s"guard must surface, got: ${msgs(ex).take(300)}")
  }

  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"$sf replay: q128 == q114 row-for-row", SlowReplay) {
      val dir = s"/root/testdata/$sf"
      val got = Registry.queriesMap("q128_stream_retention")(spark, dir)
        .collect().map(_.toSeq).toSeq
      val want = Registry.queriesMap("q114_retention")(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(got == want)
      assert(got.nonEmpty)
    }
  }
}
