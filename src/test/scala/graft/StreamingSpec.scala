package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** Multi-batch Structured Streaming semantics the one-shot
  * AvailableNow queries can't exercise: event-time watermarks closing
  * windows in append mode and dropping late data, streaming dedup
  * state spanning micro-batches, and checkpoint recovery — a stream
  * stopped mid-run must restart from its checkpoint with offsets AND
  * operator state intact, producing exactly-once output.
  */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(minute: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("watermark closes 10-min windows in append mode and drops late rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = input.toDF().toDF("ts", "v")
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
      .select(col("window.start").cast("string").as("w"), col("n"), col("sum_v"))
    val q = agg.writeStream.format("memory").queryName("wm_append")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      // Batch 1: two rows in the 10:00 window, one in 10:10.
      input.addData((ts(1), 1L), (ts(4), 2L), (ts(11), 10L))
      q.processAllAvailable()
      // Append mode: nothing emitted yet — no window is below watermark.
      assert(spark.table("wm_append").count() == 0)

      // Batch 2: event at 10:26 advances the watermark to 10:21 ≥ the
      // 10:10 window's end → both early windows close and emit.
      input.addData((ts(26), 100L))
      q.processAllAvailable()
      // One more batch so the advanced watermark is applied to state.
      input.addData((ts(27), 1000L))
      q.processAllAvailable()
      val closed = spark.table("wm_append").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(closed == Set(
        ("2024-01-01 10:00:00", 2L, 3L),
        ("2024-01-01 10:10:00", 1L, 10L)))

      // A row behind the watermark (10:02 << 10:17) is dropped: the
      // 10:00 window NEVER re-emits.
      input.addData((ts(2), 999L))
      q.processAllAvailable()
      val after = spark.table("wm_append").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(after == closed)
    } finally q.stop()
  }

  test("mapGroupsWithState keeps one running aggregate per key across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val totals = input.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState[Double, (Long, Double)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (user, rows, state: org.apache.spark.sql.streaming.GroupState[Double]) =>
          val sum = state.getOption.getOrElse(0.0) + rows.map(_._2).sum
          state.update(sum)
          (user, sum)
      }
    val q = totals.toDF("user_id", "total").writeStream
      .format("memory").queryName("running_totals")
      .outputMode(OutputMode.Update())
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData((1L, 10.0), (1L, 5.0), (2L, 1.0))
      q.processAllAvailable()
      input.addData((1L, 1.0), (3L, 7.0))
      q.processAllAvailable()
      // Update-mode memory sink appends each batch's updated rows;
      // totals only grow, so max per key = the current state (robust
      // to collect order across batch blocks).
      val latest = spark.table("running_totals").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      assert(latest == Map(1L -> 16.0, 2L -> 1.0, 3L -> 7.0))
    } finally q.stop()
  }

  /** Write one parquet data file into the streaming source dir with a
    * controlled modification time, so `maxFilesPerTrigger=1` consumes
    * the files in write order (the file source orders new files by
    * mtime). */
  private def writeSourceFile(rows: Seq[graft.queries.StreamingOps.SessionEvent],
      inputDir: java.nio.file.Path, name: String, mtime: Long): Unit = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_src_")
    spark.createDataset(rows).coalesce(1).write.mode("overwrite")
      .parquet(s"$tmp/d")
    val part = new java.io.File(s"$tmp/d").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .head
    val dest = inputDir.resolve(name)
    java.nio.file.Files.move(part.toPath, dest)
    assert(dest.toFile.setLastModified(mtime))
  }

  /** q67-style sessionization stream over a file source, one file per
    * micro-batch, with an IDEMPOTENT per-batch parquet sink (each
    * batch overwrites its own subdir — the canonical exactly-once
    * foreachBatch pattern, so a batch replayed after a mid-run kill
    * cannot duplicate rows). */
  private def startSessionStream(inputDir: String, dataDir: String,
      chkDir: String, trigger: Trigger) = {
    import spark.implicits._
    import graft.queries.StreamingOps
    val events = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[StreamingOps.SessionEvent]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir)
      .as[StreamingOps.SessionEvent]
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
        StreamingOps.SessionHandler("q67", StreamingOps.Retire.Never, StreamingOps.Erase.Never))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", chkDir)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[StreamingOps.SessionOutE], id: Long) =>
          batch.toDF().write.mode("overwrite").parquet(s"$dataDir/b$id"); ()
      }
      .trigger(trigger).start()
  }

  private def readSink(dataDir: String): Set[(Long, Long, Long, Long)] = {
    import graft.queries.StreamingOps
    import spark.implicits._
    spark.read.option("recursiveFileLookup", "true")
      .schema(implicitly[org.apache.spark.sql.Encoder[StreamingOps.SessionOutE]].schema)
      .parquet(dataDir)
      .as[StreamingOps.SessionOutE].collect()
      .map(s => (s.user_id, s.n_events, s.start_us, s.end_us)).toSet
  }

  test("checkpoint recovery: mid-run stop + restart is exactly-once with state intact") {
    val root = java.nio.file.Files.createTempDirectory("graft_recovery_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val min = 60L * 1000000
    def ev(u: Long, m: Long) = graft.queries.StreamingOps.SessionEvent(u, m * min)
    // Three source files = three micro-batches. Sessions (30-min gap):
    //   user 1: [0m, 5m] closed by 60m; [60m] closed by 180m; 180m stays open.
    //   user 2: [0m, 10m] closed by 120m — the 0m event arrives in file 0,
    //   the 10m event in file 1, the closing 120m event in file 2, so the
    //   session is only correct if operator state survives the restart.
    val base = System.currentTimeMillis() - 60000
    writeSourceFile(Seq(ev(1, 0), ev(1, 5), ev(2, 0)), inputDir, "f0.parquet", base)
    writeSourceFile(Seq(ev(1, 60), ev(2, 10)), inputDir, "f1.parquet", base + 2000)
    writeSourceFile(Seq(ev(1, 180), ev(2, 120)), inputDir, "f2.parquet", base + 4000)
    val expected = Set(
      (1L, 2L, 0L * min, 5L * min),
      (1L, 1L, 60L * min, 60L * min),
      (2L, 2L, 0L * min, 10L * min))

    // Run 1: kill mid-run — stop as soon as >=1 batch has committed,
    // while later batches are still queued (or in flight).
    val data1 = s"$root/data"; val chk = s"$root/chk"
    val q1 = startSessionStream(inputDir.toString, data1, chk,
      Trigger.ProcessingTime(50))
    try {
      val deadline = System.currentTimeMillis() + 60000
      while ((q1.lastProgress == null || q1.lastProgress.batchId < 0) &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(q1.lastProgress != null, "no batch committed within 60s")
    } finally q1.stop()
    val commits = new java.io.File(s"$chk/commits")
      .listFiles().count(f => !f.getName.startsWith("."))
    assert(commits >= 1, "expected at least one committed batch before the kill")

    // Run 2: restart from the SAME checkpoint — offsets resume past the
    // committed batches, flatMapGroupsWithState state is restored from
    // the state store, and AvailableNow drains the remaining files.
    val q2 = startSessionStream(inputDir.toString, data1, chk,
      Trigger.AvailableNow())
    q2.awaitTermination()
    assert(readSink(data1) == expected)

    // One-shot control run (fresh checkpoint + sink over the same
    // input) must agree — recovery added nothing and lost nothing.
    val data2 = s"$root/data_oneshot"
    val q3 = startSessionStream(inputDir.toString, data2, s"$root/chk_oneshot",
      Trigger.AvailableNow())
    q3.awaitTermination()
    assert(readSink(data2) == expected)
  }

  test("streaming dropDuplicates state spans micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val dedup = input.toDF().toDF("user_id", "event_type")
      .dropDuplicates("user_id", "event_type")
    val q = dedup.writeStream.format("memory").queryName("dedup_batches")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      input.addData((1L, "click"), (1L, "click"), (2L, "view"))
      q.processAllAvailable()
      assert(spark.table("dedup_batches").count() == 2)
      // Same keys in a LATER batch are still suppressed by state.
      input.addData((1L, "click"), (2L, "view"), (3L, "click"))
      q.processAllAvailable()
      val rows = spark.table("dedup_batches").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows == Set((1L, "click"), (2L, "view"), (3L, "click")))
    } finally q.stop()
  }
}
