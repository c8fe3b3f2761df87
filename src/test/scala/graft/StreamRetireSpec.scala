package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.StreamingOps
import graft.queries.StreamingOps.{FunnelEventWm, SessionEventWm}

/** q121/q122's state-retirement semantics, fired OBSERVABLY on crafted
  * multi-batch replays (at the sf scales the driver's capture is one
  * data batch and the retirement machinery only ever removes state
  * silently — these are the tests where it has to show its work):
  * completed funnels and expired idle funnels leave the state store
  * (numRowsTotal DECLINES across batches), a returning retired user
  * restarts the cascade (the documented deviation from q115), and a
  * session tail flushes by watermark with exactly the bounds the batch
  * gap-split computes, then is gone from state. */
class StreamRetireSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val MinUs = 60L * 1000000

  /** Fixture minutes are offset well past the epoch: the stream's
    * INITIAL watermark is 0 (1970-01-01), and with a 0-second delay
    * any event at or before the current watermark is dropped as late —
    * an un-offset minute-0 event would silently vanish in batch 0. */
  private val Off = 100000L

  /** One parquet file per micro-batch, consumed in mtime order (the
    * StreamingSpec pattern). */
  private def writeSourceFile[T <: Product : org.apache.spark.sql.Encoder](
      rows: Seq[T], inputDir: java.nio.file.Path, name: String, mtime: Long): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_src_")
    spark.createDataset(rows).coalesce(1).write.mode("overwrite").parquet(s"$tmp/d")
    val part = new java.io.File(s"$tmp/d").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .head
    val dest = inputDir.resolve(name)
    java.nio.file.Files.move(part.toPath, dest)
    assert(dest.toFile.setLastModified(mtime))
  }

  private def fev(u: Long, m: Long, ty: String) =
    FunnelEventWm(u, new Timestamp((Off + m) * 60000), (Off + m) * MinUs, ty)
  private def sev(u: Long, m: Long) =
    SessionEventWm(u, new Timestamp((Off + m) * 60000), (Off + m) * MinUs)

  /** Fixture minute -> epoch micros (with the offset applied). */
  private def us(m: Long): Long = (Off + m) * MinUs

  /** Run a retiring stream to completion over the staged files;
    * returns (emitted rows, per-batch state row counts). */
  private def runRetiring[I <: Product : org.apache.spark.sql.Encoder, O](
      inputDir: String, dataDir: String,
      build: org.apache.spark.sql.Dataset[I] => org.apache.spark.sql.Dataset[_])
      : Seq[Long] = {
    val chk = java.nio.file.Files.createTempDirectory("graft_retire_chk_").toString
    val in = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[I]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir)
      .withWatermark("ts", "0 seconds")
      .as[I]
    val q = build(in).writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", chk)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[_], id: Long) =>
        batch.toDF().write.mode("overwrite").parquet(s"$dataDir/b$id"); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.recentProgress.toSeq.sortBy(_.batchId)
      .filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum)
  }

  test("funnel retirement: complete -> gone, idle -> timed out, return -> restart") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_retire_f_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val dataDir = s"$root/data"
    val base = System.currentTimeMillis() - 60000
    // u1 completes inside batch 0 (state retires at once), returns with
    // a view in batch 2 (RESTART — the documented deviation). u2 views
    // in batch 0 then goes idle; the 1h event-time horizon passes as
    // later batches advance the watermark, so its state times out
    // silently. u3 progresses across all three batches and completes.
    writeSourceFile(Seq(
      fev(1, 0, "view"), fev(1, 1, "click"), fev(1, 2, "purchase"),
      fev(2, 0, "view"), fev(3, 0, "view")), inputDir, "f0.parquet", base)
    writeSourceFile(Seq(fev(3, 65, "click")), inputDir, "f1.parquet", base + 2000)
    writeSourceFile(Seq(fev(3, 130, "purchase"), fev(1, 200, "view")),
      inputDir, "f2.parquet", base + 4000)
    val stateRows = runRetiring[FunnelEventWm, StreamingOps.FunnelOutE](
      inputDir.toString, dataDir,
      ds => ds.groupByKey(_.user_id).flatMapGroupsWithState(
        OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
        StreamingOps.FunnelHandler("q121",
          StreamingOps.Retire.Idle(StreamingOps.FunnelIdleHorizonUs, onComplete = true),
          StreamingOps.Erase.Never)))
    val raw = spark.read.option("recursiveFileLookup", "true")
      .schema(implicitly[org.apache.spark.sql.Encoder[StreamingOps.FunnelOutE]].schema)
      .parquet(dataDir)
    val rows = raw.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    // Emission log: u1 completes (3) then restarts at step 1; u2 stops
    // at 1; u3 walks 1 -> 2 -> 3.
    assert(rows.count { case (u, s) => u == 1L && s == 3 } == 1)
    assert(rows.count { case (u, s) => u == 1L && s == 1 } == 1,
      "a retired user returning must restart the cascade (documented deviation)")
    assert(rows.filter(_._1 == 2L).map(_._2) == Seq(1))
    assert(rows.filter(_._1 == 3L).map(_._2).sorted == Seq(1, 2, 3))
    // funnelFinal still reports the max-reached row per user.
    val fin = StreamingOps.funnelFinal(raw)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fin == Map(1L -> 3, 2L -> 1, 3L -> 3))
    // State DECLINES: u1 retires on completion in batch 0 (3 active
    // users -> 2 rows), and by the end only u1's restarted state
    // remains (u2 timed out, u3 completed).
    assert(stateRows.head == 2, s"batch-0 state must exclude the completed u1: $stateRows")
    assert(stateRows.last == 1, s"final state must hold only the restarted u1: $stateRows")
    assert(stateRows.max <= 2, s"state never holds a completed/expired funnel: $stateRows")
  }

  test("session retirement: watermark flushes provably-closed tails with exact bounds") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_retire_s_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val dataDir = s"$root/data"
    val base = System.currentTimeMillis() - 60000
    // u1: [0m, 5m] then silence -> flushed by timeout once the
    // watermark (driven by u2/u3's later events) passes 5m + gap.
    // u2: [0m] closed by its own 100m event; [100m] flushed in the
    // concluding no-data batch (130m + 1ms < final watermark 200m).
    // u3: [0m] closed by its own 200m event; [200m] still extendable
    // at the final watermark -> stays in state, never emitted.
    writeSourceFile(Seq(sev(1, 0), sev(1, 5), sev(2, 0), sev(3, 0)),
      inputDir, "f0.parquet", base)
    writeSourceFile(Seq(sev(2, 100)), inputDir, "f1.parquet", base + 2000)
    writeSourceFile(Seq(sev(3, 200)), inputDir, "f2.parquet", base + 4000)
    val stateRows = runRetiring[SessionEventWm, StreamingOps.SessionOutE](
      inputDir.toString, dataDir,
      ds => ds.groupByKey(_.user_id).flatMapGroupsWithState(
        OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
        StreamingOps.SessionHandler("q122", StreamingOps.Retire.Flush, StreamingOps.Erase.Never)))
    val rows = spark.read.option("recursiveFileLookup", "true")
      .schema(implicitly[org.apache.spark.sql.Encoder[StreamingOps.SessionOutE]].schema)
      .parquet(dataDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows == Set(
      (1L, 2L, us(0), us(5)),      // u1 flushed tail, exact bounds
      (2L, 1L, us(0), us(0)),      // u2 closed by successor
      (2L, 1L, us(100), us(100)),  // u2 tail flushed in no-data batch
      (3L, 1L, us(0), us(0))),     // u3 closed by successor
      s"unexpected emission set: $rows")
    // State declines to exactly the one still-extendable tail (u3).
    assert(stateRows.last == 1, s"final state must hold only u3's open tail: $stateRows")
    assert(stateRows.max >= 3, s"all three users were once in state: $stateRows")
  }

  test("session retirement: timer exactly ON the final watermark does NOT fire (strict <)") {
    // ADVICE r14: FlatMapGroupsWithStateExec fires a timer only when
    // timeoutTimestamp < watermark — STRICT. The sf corpora never land
    // on the boundary, so this crafted ms-aligned replay is the pin:
    // u4's tail timer (end_ms + gap_ms + 1) equals the final watermark
    // exactly -> retained; u5's sits 1 ms earlier -> flushed. The
    // registered q122 oracle encodes the same strict disjunct.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_retire_b_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val dataDir = s"$root/data"
    val base = System.currentTimeMillis() - 60000
    val gapMs = 30L * 60 * 1000
    val bMs = Off * 60000 // ms-aligned fixture origin (watermark math is exact)
    def sevMs(u: Long, ms: Long) = SessionEventWm(u, new Timestamp(ms), ms * 1000)
    val wMs = bMs + gapMs + 1 // final watermark == u4's timer, 1 past u5's
    writeSourceFile(Seq(sevMs(4, bMs), sevMs(5, bMs - 1)),
      inputDir, "f0.parquet", base)
    writeSourceFile(Seq(sevMs(9, wMs)), inputDir, "f1.parquet", base + 2000)
    val stateRows = runRetiring[SessionEventWm, StreamingOps.SessionOutE](
      inputDir.toString, dataDir,
      ds => ds.groupByKey(_.user_id).flatMapGroupsWithState(
        OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
        StreamingOps.SessionHandler("q122", StreamingOps.Retire.Flush, StreamingOps.Erase.Never)))
    val rows = spark.read.option("recursiveFileLookup", "true")
      .schema(implicitly[org.apache.spark.sql.Encoder[StreamingOps.SessionOutE]].schema)
      .parquet(dataDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows == Set((5L, 1L, (bMs - 1) * 1000, (bMs - 1) * 1000)),
      s"only u5 (timer == wm-1) may flush; u4's timer == wm must hold: $rows")
    assert(stateRows.last == 2, s"u4 and u9 must remain in state: $stateRows")
  }

  test("sf replay: q121 == q115 and q122 == its flush oracle semantics", SlowReplay) {
    // The registered instances on real data: single data batch, so
    // q121's emission log is q115's exactly; q122 adds exactly the
    // watermark-flushed tails. Cross-checked in-engine here (the
    // registered oracles re-prove both cross-engine every round).
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val retire = Registry.queriesMap("q121_stream_funnel_retire")(spark, dir)
        .collect().map(_.toSeq).toSeq
      val plain = Registry.queriesMap("q115_stream_funnel")(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(retire == plain, s"q121 != q115 at $dir")
      val flush = Registry.queriesMap("q122_stream_sessions_retire")(spark, dir)
        .collect().map(_.toSeq).toSeq
      val closed = Registry.queriesMap("q67_stream_sessions")(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(closed.toSet.subsetOf(flush.toSet),
        s"q122 must emit every successor-closed session at $dir")
      assert(flush.size > closed.size,
        s"no tail flushed at $dir; the retirement replay is vacuous")
    }
  }
}
