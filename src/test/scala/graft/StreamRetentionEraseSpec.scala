package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.StreamingOps
import graft.queries.StreamingOps.{RetOutE, SessionEventWm}

/** q132's watermarked retention-erasure semantics on crafted
  * multi-batch replays: tombstone + re-cohort on the first post-T
  * event, T-timer erasure for never-returning users, EVENT-granular
  * erasure on a day straddling T, a stale T timer firing after an
  * event-applied erasure (state and era flag must survive it), and
  * the watermark dropping a straggler BEFORE the handler — the
  * registered answer to q128's documented late-new-day residual (the
  * same row would raise q128's guard). Then the sf pins: q132 ==
  * the erasure-filtered recompute in-engine, non-vacuous vs q128. */
class StreamRetentionEraseSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val DayUs = 86400000000L
  // Pending users must satisfy the handler-side predicate; kept must not.
  private lazy val erasedIds =
    (1L to 300L).filter(StreamingOps.streamErased).toList
  private lazy val keptIds =
    (1L to 300L).filterNot(StreamingOps.streamErased).toList

  private def sev(u: Long, day: Long, hour: Long) = {
    val us = day * DayUs + hour * 3600000000L
    SessionEventWm(u, new Timestamp(us / 1000), us)
  }

  private def writeFile(inputDir: java.nio.file.Path, rows: Seq[SessionEventWm],
      name: String, mtime: Long): Unit = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_rete_src_")
    spark.createDataset(rows).coalesce(1).write.mode("overwrite").parquet(s"$tmp/d")
    val part = new java.io.File(s"$tmp/d").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val dest = inputDir.resolve(name)
    java.nio.file.Files.move(part.toPath, dest)
    assert(dest.toFile.setLastModified(mtime))
  }

  test("multi-batch: tombstone+recohort, T-timer erase, straddle day, stale timer, straggler drop") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_rete_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val dataDir = s"$root/data"
    val base = System.currentTimeMillis() - 60000
    // T mid-day so a single day can straddle it.
    val eraseUs = 20010L * DayUs + 12L * 3600000000L
    val List(e1, e2, e3, e4) = erasedIds.take(4)
    val List(k, w) = keptIds.take(2)
    // e1: pre-T days 20000/20001 reported, post-T return on 20012
    //     -> tombstone + re-cohort at 20012.
    // e2: pre-T day 20000 only, never returns -> T-timer tombstone.
    // e3: day 20010 straddles T (hour 1 pre, hour 20 post) -> the
    //     day SURVIVES for the erased user, flagged, cohort 20010.
    // e4: pre-T day 20000; post-T day 20012 applies the erasure; the
    //     stale T timer then fires (watermark passes T via k's 20020)
    //     and must NOT drop the erased state; day 20021 then extends
    //     the flagged era with cohort 20012.
    // k:  kept user advancing the watermark; plain q128 behavior.
    // w:  kept user whose day-20014 row arrives AFTER the watermark
    //     reached 20020 -> dropped pre-handler (q128's guard would
    //     have killed the stream on this row).
    writeFile(inputDir, Seq(
      sev(e1, 20000, 1), sev(e1, 20001, 1),
      sev(e2, 20000, 2),
      sev(e3, 20010, 1),
      sev(e4, 20000, 3),
      sev(k, 20000, 4)), "f0.parquet", base)
    writeFile(inputDir, Seq(
      sev(e1, 20012, 1), sev(e3, 20010, 20), sev(e4, 20012, 2),
      sev(w, 20016, 1)), "f1.parquet", base + 2000)
    writeFile(inputDir, Seq(sev(k, 20020, 1)), "f2.parquet", base + 4000)
    writeFile(inputDir, Seq(sev(e4, 20021, 1), sev(w, 20014, 1)),
      "f3.parquet", base + 6000)
    val chk = java.nio.file.Files.createTempDirectory("graft_rete_chk_").toString
    val in = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[SessionEventWm]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir.toString)
      .withWatermark("ts", "0 seconds")
      .as[SessionEventWm]
    val q = in.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
        StreamingOps.RetentionHandler("q132",
          StreamingOps.Retire.Never, StreamingOps.Erase.AtInstant(eraseUs)))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", chk)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[RetOutE], id: Long) =>
        batch.toDF().write.mode("overwrite").parquet(s"$dataDir/b$id"); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val raw = spark.read.option("recursiveFileLookup", "true")
      .schema(implicitly[org.apache.spark.sql.Encoder[RetOutE]].schema)
      .parquet(dataDir)
    val rows = raw.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getBoolean(3))).toSeq
    def tombs(u: Long) = rows.count { case (uu, d, _, e) => uu == u && d == -1 && e }
    assert(tombs(e1) == 1 && rows.contains((e1, 20012, 20012, true)),
      s"e1 must tombstone and re-cohort: $rows")
    assert(tombs(e2) == 1, "never-returning pending user must erase by T timer")
    assert(tombs(e3) == 1 && rows.contains((e3, 20010, 20010, true)),
      "a day straddling T must survive flagged — erasure is event-granular")
    assert(tombs(e4) == 1, "stale timer must not emit a second tombstone")
    assert(rows.contains((e4, 20021, 20012, true)),
      s"stale T timer dropped e4's erased state (cohort lost): $rows")
    // The straggler was dropped pre-handler: no emission, no guard kill.
    assert(rows.collect { case (u, d, _, _) if u == w => d } == Seq(20016),
      s"w's straggler must be watermark-dropped: $rows")
    // Era compaction: e1/e3/e4 keep only flagged days; e2 vanishes.
    val cur = StreamingOps.retentionCurrent(raw)
    val cohorts = cur.collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2))).toSet
    assert(!rows.exists { case (u, d, _, e) => u == e2 && d >= 0 && e },
      "e2 must have no flagged days")
    // e1 and e4 re-cohorted at 20012 (2024-10-16): that cell holds both.
    assert(cohorts.contains(("2024-10-16", 0, 2L)),
      s"re-cohorted users missing from the matrix: $cohorts")
  }

  // ---- q139: the control stream against the retention store.

  import graft.queries.StreamingOps.CtrlEvent
  private def rev(u: Long, day: Long, hour: Long) =
    CtrlEvent(u, day * DayUs + hour * 3600000000L, "activity", 0)
  private def rreq(u: Long, us: Long) =
    CtrlEvent(u, us, "erase_request", 1)

  private def writeCtrl(inputDir: java.nio.file.Path, rows: Seq[CtrlEvent],
      name: String, mtime: Long): Unit = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_retc_src_")
    spark.createDataset(rows).coalesce(1).write.mode("overwrite").parquet(s"$tmp/d")
    val part = new java.io.File(s"$tmp/d").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val dest = inputDir.resolve(name)
    java.nio.file.Files.move(part.toPath, dest)
    assert(dest.toFile.setLastModified(mtime))
  }

  private def runCtrl(inputDir: java.nio.file.Path, dataDir: String): Unit = {
    import spark.implicits._
    val chk = java.nio.file.Files.createTempDirectory("graft_retc_chk_").toString
    val in = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[CtrlEvent]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir.toString)
      .as[CtrlEvent]
    val q = in.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
        StreamingOps.RetentionHandler("q139",
          StreamingOps.Retire.Never, StreamingOps.Erase.Control))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", chk)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[RetOutE], id: Long) =>
        batch.toDF().write.mode("overwrite").parquet(s"$dataDir/b$id"); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("q139 multi-batch: tombstone+re-cohort, early request, never-returns, straddle day") {
    val root = java.nio.file.Files.createTempDirectory("graft_retc_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val dataDir = s"$root/data"
    val base = System.currentTimeMillis() - 60000
    val T = 20010L * DayUs + 12L * 3600000000L // mid-day instant
    val (e1, e2, e3, e4, k) = (51L, 52L, 53L, 54L, 56L)
    // e1: days 20000/20001 reported, request, returns day 20012 ->
    //     tombstone at the request row + flagged re-cohort.
    // e2: request FIRST; pre-T day 20000 arrives later (skipped — the
    //     register remembers); day 20012 -> flagged, NO tombstone.
    // e3: day 20000 reported, request, never returns -> tombstone on
    //     the request row itself (no timer in this handler at all).
    // e4: pre-T activity on T's OWN day (hour 1), request, post-T
    //     activity the same day (hour 20) -> the day survives flagged.
    // k:  no request.
    writeCtrl(inputDir, Seq(
      rev(e1, 20000, 1), rev(e1, 20001, 1),
      rreq(e2, T),
      rev(e3, 20000, 2),
      rev(e4, 20010, 1),
      rev(k, 20000, 3)), "f0.parquet", base)
    writeCtrl(inputDir, Seq(rreq(e1, T), rreq(e3, T), rreq(e4, T),
      rev(e2, 20000, 4)), "f1.parquet", base + 2000)
    writeCtrl(inputDir, Seq(rev(e1, 20012, 1), rev(e2, 20012, 2),
      rev(e4, 20010, 20), rev(k, 20001, 1)), "f2.parquet", base + 4000)
    runCtrl(inputDir, dataDir)
    import spark.implicits._
    val raw = spark.read.option("recursiveFileLookup", "true")
      .schema(implicitly[org.apache.spark.sql.Encoder[RetOutE]].schema)
      .parquet(dataDir)
    val rows = raw.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getBoolean(3))).toSeq
    def tombs(u: Long) = rows.count { case (uu, d, _, e) => uu == u && d == -1 && e }
    assert(tombs(e1) == 1 && rows.contains((e1, 20012, 20012, true)),
      s"e1 must tombstone and re-cohort: $rows")
    assert(tombs(e2) == 0 && rows.contains((e2, 20012, 20012, true)) &&
      !rows.exists { case (u, d, _, _) => u == e2 && d == 20000 },
      s"e2's early request must skip the pre-T straggler without a tombstone: $rows")
    assert(tombs(e3) == 1, "never-returning user must tombstone on the request row")
    assert(tombs(e4) == 1 && rows.contains((e4, 20010, 20010, true)),
      s"e4's straddling day must survive flagged: $rows")
    val cur = StreamingOps.retentionCurrent(raw)
    val curRows = cur.collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2))).toSet
    // Era compaction: e1/e2 cohort at 2024-10-16 (day 20012), e4 at
    // 2024-10-14 (day 20010), e3 gone, k at 2024-10-04 with 2 days.
    assert(curRows.contains(("2024-10-16", 0, 2L)), s"re-cohort cell: $curRows")
    assert(curRows.contains(("2024-10-14", 0, 1L)), s"straddle cell: $curRows")
    assert(!rows.exists { case (u, d, _, e) => u == e3 && d >= 0 && e },
      "e3 must have no flagged days")
  }

  test("q139: kill and resume from checkpoint — the register and cohort anchor survive recovery (r17 VERDICT task 3)") {
    import spark.implicits._
    // The q130 recovery witness, retention-store edition: the state a
    // deployment cannot afford to lose here is (a) the COHORT DAY —
    // load-bearing forever (a lost anchor would re-cohort a returning
    // user and corrupt two cells) — and (b) the applied-erasure
    // register, without which a post-restart pre-T straggler leaks.
    val root = java.nio.file.Files.createTempDirectory("graft_retcrec_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val dataDir = s"$root/data"
    val chk = s"$root/chk"
    val base = System.currentTimeMillis() - 60000
    val T = 20010L * DayUs + 12L * 3600000000L
    val (u1, u2) = (71L, 72L)
    def start() = {
      import spark.implicits._
      val in = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[CtrlEvent]].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inputDir.toString)
        .as[CtrlEvent]
      in.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
          StreamingOps.RetentionHandler("q139",
            StreamingOps.Retire.Never, StreamingOps.Erase.Control))
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", chk)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[RetOutE], id: Long) =>
          batch.toDF().write.mode("overwrite").parquet(s"$dataDir/b$id"); ()
        }
        .trigger(Trigger.AvailableNow()).start()
    }
    // Run 1: u1 cohorts at day 20000; u2's request applies over empty
    // state (register stored, no tombstone). STOP.
    writeCtrl(inputDir, Seq(rev(u1, 20000, 1), rreq(u2, T)), "f0.parquet", base)
    val q1 = start(); q1.awaitTermination()
    // Run 2 (a NEW query from the same checkpoint): u1's day 20005
    // must emit against the RECOVERED cohort anchor (20000 — a lost
    // anchor would re-cohort at 20005); u2's pre-T straggler must be
    // SKIPPED (recovered register) and its post-T day re-cohort
    // flagged.
    writeCtrl(inputDir, Seq(rev(u1, 20005, 1), rev(u2, 20000, 2)),
      "f1.parquet", base + 2000)
    writeCtrl(inputDir, Seq(rev(u2, 20012, 1)), "f2.parquet", base + 4000)
    val q2 = start(); q2.awaitTermination()
    val raw = spark.read.option("recursiveFileLookup", "true")
      .schema(implicitly[org.apache.spark.sql.Encoder[RetOutE]].schema)
      .parquet(dataDir)
    val rows = raw.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getBoolean(3))).toSeq
    assert(rows.contains((u1, 20005, 20000, false)),
      s"u1's post-restart day must anchor to the recovered cohort: $rows")
    assert(!rows.exists { case (u, d, _, _) => u == u2 && d == 20000 },
      s"u2's pre-T straggler leaked past the recovered register: $rows")
    assert(rows.contains((u2, 20012, 20012, true)),
      s"u2's post-T day must re-cohort flagged after recovery: $rows")
    // Control: the same files through ONE uninterrupted process give
    // the identical compacted matrix.
    val root2 = java.nio.file.Files.createTempDirectory("graft_retcrec1_")
    val in2 = java.nio.file.Files.createDirectory(root2.resolve("in"))
    writeCtrl(in2, Seq(rev(u1, 20000, 1), rreq(u2, T)), "f0.parquet", base)
    writeCtrl(in2, Seq(rev(u1, 20005, 1), rev(u2, 20000, 2)),
      "f1.parquet", base + 2000)
    writeCtrl(in2, Seq(rev(u2, 20012, 1)), "f2.parquet", base + 4000)
    runCtrl(in2, s"$root2/data")
    def matrix(d: String) = StreamingOps.retentionCurrent(
        spark.read.option("recursiveFileLookup", "true")
          .schema(implicitly[org.apache.spark.sql.Encoder[RetOutE]].schema)
          .parquet(d))
      .collect().map(_.toSeq).toSet
    assert(matrix(dataDir) == matrix(s"$root2/data"),
      "restarted run diverged from the uninterrupted run")
  }

  test("q139: the lastUs mixed-era witness survives recovery — a post-restart request over recovered post-T activity still raises") {
    // The guard's entire value is the lastUs timestamp in state: a
    // request arriving AFTER the user already processed post-T
    // activity is the irrecoverable shape and must raise. If recovery
    // dropped lastUs, the restarted handler would apply the wipe
    // silently and lose post-T days — so the witness itself must
    // survive the checkpoint.
    val root = java.nio.file.Files.createTempDirectory("graft_retcrecg_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val chk = s"$root/chk"
    val base = System.currentTimeMillis() - 60000
    val T = 20010L * DayUs + 12L * 3600000000L
    val u = 75L
    def start() = {
      import spark.implicits._
      val in = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[CtrlEvent]].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inputDir.toString)
        .as[CtrlEvent]
      in.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
          StreamingOps.RetentionHandler("q139",
            StreamingOps.Retire.Never, StreamingOps.Erase.Control))
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", chk)
        .format("noop")
        .trigger(Trigger.AvailableNow()).start()
    }
    // Run 1: activity on day 20000 AND day 20012 (post-T) — lastUs
    // now witnesses post-T processing. STOP.
    writeCtrl(inputDir, Seq(rev(u, 20000, 1), rev(u, 20012, 1)),
      "f0.parquet", base)
    val q1 = start(); q1.awaitTermination()
    // Run 2: the request arrives — the RECOVERED lastUs must trip the
    // guard in the resumed query.
    writeCtrl(inputDir, Seq(rreq(u, T)), "f1.parquet", base + 2000)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q2 = start(); q2.awaitTermination()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)
    assert(msgs(ex).contains("q139 arrival-order violation"),
      s"the recovered lastUs must trip the guard, got: ${msgs(ex).take(300)}")
  }

  test("q139 guard: a post-T event processed before the request raises in-handler") {
    val root = java.nio.file.Files.createTempDirectory("graft_retcg_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val base = System.currentTimeMillis() - 60000
    val T = 20010L * DayUs + 12L * 3600000000L
    writeCtrl(inputDir, Seq(rev(57L, 20012, 1)), "f0.parquet", base)
    writeCtrl(inputDir, Seq(rreq(57L, T)), "f1.parquet", base + 2000)
    import spark.implicits._
    val chk = java.nio.file.Files.createTempDirectory("graft_retcg_chk_").toString
    val in = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[CtrlEvent]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir.toString)
      .as[CtrlEvent]
    val q = in.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
        StreamingOps.RetentionHandler("q139",
          StreamingOps.Retire.Never, StreamingOps.Erase.Control))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", chk)
      .format("noop")
      .trigger(Trigger.AvailableNow()).start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)
    assert(msgs(ex).contains("q139 arrival-order violation"),
      s"guard must surface, got: ${msgs(ex).take(300)}")
  }

  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"$sf replay: q139 == q137 (stream control-stream == batch cohort move)", SlowReplay) {
      val dir = s"/root/testdata/$sf"
      val got = Registry.queriesMap("q139_retention_erase_requests")(spark, dir)
        .collect().map(_.toSeq).toSeq
      val batch = Registry.queriesMap("q137_retention_erase_before_t")(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(got == batch, s"q139 != q137 at $dir — stream and batch halves disagree")
      val fixedT = Registry.queriesMap("q132_stream_retention_erase")(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(got != fixedT,
        s"q139 == q132 at $dir — per-user instants changed nothing")
    }
  }

  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"$sf replay: q132 == erasure-filtered recompute, non-vacuous", SlowReplay) {
      val dir = s"/root/testdata/$sf"
      val got = Registry.queriesMap("q132_stream_retention_erase")(spark, dir)
        .collect().map(_.toSeq).toSeq
      // In-engine oracle twin: q114's matrix over the filtered events.
      val e = queries.t(spark, dir, "events")
      val d = e.where(
          !(queries.h60(concat(lit("erase:"), col("user_id"))) % 10 === 0) ||
            col("ts") >= lit("2024-01-08").cast("timestamp"))
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val f = d.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      val cells = d.join(f, "user_id")
        .groupBy(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
      val sz = cells.where(col("day_offset") === 0)
        .select(col("cohort_day"), col("n_users").as("cohort_size"))
      val want = cells.join(sz, "cohort_day")
        .select(col("cohort_day"), col("day_offset").cast("int").as("day_offset"),
          col("n_users"),
          round(col("n_users").cast("double") / col("cohort_size"), 4).as("retention"))
        .orderBy(col("cohort_day"), col("day_offset"))
        .collect().map(_.toSeq).toSeq
      assert(got == want, s"q132 != filtered recompute at $dir")
      val plain = Registry.queriesMap("q128_stream_retention")(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(got != plain, s"erasure changed nothing at $dir — vacuous replay")
    }
  }
}
