package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.StreamingOps
import graft.queries.StreamingOps.{CtrlEvent, FunnelOutE}

/** q130's control-stream erasure semantics, fired on crafted
  * multi-batch replays where each arrival shape is observable:
  * the request BETWEEN the user's events (tombstone + flagged
  * restart), BEFORE them (no tombstone, pre-T stragglers skipped),
  * AFTER them over pure post-T state (kept, re-emitted flagged —
  * the no-pre-T-report case), never-returning (tombstone on the
  * request row itself — no timer needed, the request is in-band),
  * the exact-T tie (request processes first), and the one
  * irrecoverable shape — state mixing eras — which must raise
  * in-handler. Then the sf pins: the registered q130 equals the
  * per-user-T filtered recompute in-engine, differs from q115
  * (erasure non-vacuous) and from q127 (the per-user instants are a
  * real generalization of the fixed-T operator). */
class StreamCtrlEraseSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val MinUs = 60L * 1000000
  private def ev(u: Long, m: Long, ty: String) =
    CtrlEvent(u, m * MinUs, ty, 0)
  private def req(u: Long, m: Long) =
    CtrlEvent(u, m * MinUs, "erase_request", 1)

  private def writeFile(inputDir: java.nio.file.Path, rows: Seq[CtrlEvent],
      name: String, mtime: Long): Unit = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ctrl_src_")
    spark.createDataset(rows).coalesce(1).write.mode("overwrite").parquet(s"$tmp/d")
    val part = new java.io.File(s"$tmp/d").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val dest = inputDir.resolve(name)
    java.nio.file.Files.move(part.toPath, dest)
    assert(dest.toFile.setLastModified(mtime))
  }

  private def runStream(inputDir: java.nio.file.Path, dataDir: String): Unit = {
    import spark.implicits._
    val chk = java.nio.file.Files.createTempDirectory("graft_ctrl_chk_").toString
    val in = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[CtrlEvent]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir.toString)
      .as[CtrlEvent]
    val q = in.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
        StreamingOps.FunnelHandler("q130", StreamingOps.Retire.Never, StreamingOps.Erase.Control))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", chk)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[FunnelOutE], id: Long) =>
        batch.toDF().write.mode("overwrite").parquet(s"$dataDir/b$id"); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("multi-batch request arrival shapes: between, before, after, never-returns, exact tie") {
    val root = java.nio.file.Files.createTempDirectory("graft_ctrl_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val dataDir = s"$root/data"
    val base = System.currentTimeMillis() - 60000
    val (rA, rB, rC, rD, rE, k) = (1L, 2L, 3L, 4L, 5L, 6L)
    // T = minute 100 for every crafted request.
    // rA: view+click pre-T (reported step 2), request, then returns
    //     -> tombstone + flagged restart reaching step 2 again.
    // rB: request arrives FIRST; post-T view in a later batch; then a
    //     pre-T straggler view which must be skipped, not accumulated.
    // rC: post-T view+click BEFORE the request row arrives (pure
    //     post-T state) -> kept, marked, re-emitted flagged.
    // rD: pre-T view only, then the request -> tombstone on the
    //     request row itself; absent from current.
    // rE: pre-T view, then request AND a view at exactly T in one
    //     batch -> the request processes first, the tied view lands
    //     in the post-T era (restart at step 1).
    // k:  no request; plain q115 citizen.
    writeFile(inputDir, Seq(
      ev(rA, 0, "view"), ev(rA, 1, "click"),
      ev(rC, 120, "view"), ev(rC, 130, "click"),
      ev(rD, 0, "view"),
      ev(rE, 50, "view"),
      ev(k, 0, "view"),
      req(rB, 100)), "f0.parquet", base)
    writeFile(inputDir, Seq(
      req(rA, 100), req(rC, 100), req(rD, 100),
      req(rE, 100), ev(rE, 100, "view"),
      ev(rB, 150, "view"),
      ev(k, 10, "click")), "f1.parquet", base + 2000)
    writeFile(inputDir, Seq(
      ev(rA, 150, "view"), ev(rA, 160, "click"),
      ev(rB, 50, "view")), "f2.parquet", base + 4000)
    runStream(inputDir, dataDir)
    import spark.implicits._
    val raw = spark.read.option("recursiveFileLookup", "true")
      .schema(implicitly[org.apache.spark.sql.Encoder[FunnelOutE]].schema)
      .parquet(dataDir)
    val rows = raw.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(4))).toSeq
    // Tombstones: rA (reported pre-T progress), rD (never returns —
    // the request row itself erases, no timer), rE (tie case). None
    // for rB (nothing reported pre-T) or rC (no pre-T report exists).
    assert(rows.count { case (u, s, e) => u == rA && s == 0 && e } == 1)
    assert(rows.count { case (u, s, e) => u == rD && s == 0 && e } == 1,
      "never-returning user must erase on the request row itself")
    assert(rows.count { case (u, s, e) => u == rE && s == 0 && e } == 1)
    assert(!rows.exists { case (u, s, _) => (u == rB || u == rC) && s == 0 },
      s"rB/rC must not tombstone — nothing pre-T was reported: $rows")
    // rC's re-emit is flagged at its standing step.
    assert(rows.contains((rC, 2, true)),
      s"late request over pure post-T state must re-emit flagged: $rows")
    // Current view: rA restarted to step 2, rB's straggler skipped
    // (step 1 from the post-T view only), rC kept at step 2, rD gone,
    // rE restarted at the tied view, k plain step 2.
    val cur = StreamingOps.funnelCurrent(raw)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cur == Map(rA -> 2, rB -> 1, rC -> 2, rE -> 1, k -> 2),
      s"unexpected current state: $cur")
    // rA's restart latency is the post-T one (10 min), not the pre-T.
    val rArow = StreamingOps.funnelCurrent(raw)
      .where(col("user_id") === rA).collect().head
    assert(rArow.getLong(2) == 10 * MinUs, s"rA v2c: $rArow")
  }

  test("guard: state mixing eras when the request arrives raises in-handler") {
    val root = java.nio.file.Files.createTempDirectory("graft_ctrlg_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val base = System.currentTimeMillis() - 60000
    // g: pre-T view (t1=0) and post-T click (t2=120) both land before
    // the request (T=100) — the post-T cascade's own t1 is unknowable,
    // so the handler must fail loudly, not guess.
    writeFile(inputDir, Seq(ev(7L, 0, "view"), ev(7L, 120, "click")),
      "f0.parquet", base)
    writeFile(inputDir, Seq(req(7L, 100)), "f1.parquet", base + 2000)
    import spark.implicits._
    val chk = java.nio.file.Files.createTempDirectory("graft_ctrlg_chk_").toString
    val in = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[CtrlEvent]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir.toString)
      .as[CtrlEvent]
    val q = in.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
        StreamingOps.FunnelHandler("q130", StreamingOps.Retire.Never, StreamingOps.Erase.Control))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", chk)
      .format("noop")
      .trigger(Trigger.AvailableNow()).start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)
    assert(msgs(ex).contains("q130 arrival-order violation"),
      s"guard must surface, got: ${msgs(ex).take(300)}")
  }

  // ---- q138: q130 with retirement (the retirement-proof register).

  import graft.queries.StreamingOps.CtrlEventWm
  private def evw(u: Long, m: Long, ty: String) =
    CtrlEventWm(u, new java.sql.Timestamp((100000L + m) * 60000),
      (100000L + m) * MinUs, ty, 0)
  private def reqw(u: Long, m: Long) =
    CtrlEventWm(u, new java.sql.Timestamp((100000L + m) * 60000),
      (100000L + m) * MinUs, "erase_request", 1)

  private def writeFile2(inputDir: java.nio.file.Path, rows: Seq[CtrlEventWm],
      name: String, mtime: Long): Unit = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ctrlr_src_")
    spark.createDataset(rows).coalesce(1).write.mode("overwrite").parquet(s"$tmp/d")
    val part = new java.io.File(s"$tmp/d").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val dest = inputDir.resolve(name)
    java.nio.file.Files.move(part.toPath, dest)
    assert(dest.toFile.setLastModified(mtime))
  }

  test("q130: kill and resume from checkpoint mid-stream — the erase register survives recovery (r16 VERDICT task 6)") {
    import spark.implicits._
    // Every streaming volume row replays micro-batches in ONE process;
    // this is the missing witness: the query is STOPPED between
    // triggers and a NEW query resumes from the checkpoint. The erase
    // register is the state a deployment cannot afford to lose — u1's
    // request applies in run 1, and run 2's pre-T straggler can only
    // be skipped if the recovered state still holds the register.
    // u2 carries plain funnel state (view in run 1, click in run 2)
    // across the restart.
    val root = java.nio.file.Files.createTempDirectory("graft_ctrlrec_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val dataDir = s"$root/data"
    val chk = s"$root/chk"
    val base = System.currentTimeMillis() - 60000
    val (u1, u2) = (71L, 72L)
    def start() = {
      val in = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[CtrlEvent]].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inputDir.toString)
        .as[CtrlEvent]
      in.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
          StreamingOps.FunnelHandler("q130", StreamingOps.Retire.Never, StreamingOps.Erase.Control))
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", chk)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[FunnelOutE], id: Long) =>
          batch.toDF().write.mode("overwrite").parquet(s"$dataDir/b$id"); ()
        }
        .trigger(Trigger.AvailableNow()).start()
    }
    // Run 1: u1's request (T=100) and u2's view, then STOP (AvailableNow
    // drains exactly the files present and terminates).
    writeFile(inputDir, Seq(req(u1, 100), ev(u2, 10, "view")), "f0.parquet", base)
    val q1 = start(); q1.awaitTermination()
    // Run 2: a NEW query from the same checkpoint. u1's pre-T straggler
    // (view@50 < T) must be SKIPPED — only possible if the register
    // survived recovery — and the post-T view@150 reported flagged;
    // u2's click@20 must complete step 2 on the recovered anchor.
    writeFile(inputDir, Seq(ev(u1, 50, "view"), ev(u2, 20, "click")),
      "f1.parquet", base + 2000)
    writeFile(inputDir, Seq(ev(u1, 150, "view")), "f2.parquet", base + 4000)
    val q2 = start(); q2.awaitTermination()
    val raw = spark.read.option("recursiveFileLookup", "true")
      .schema(implicitly[org.apache.spark.sql.Encoder[FunnelOutE]].schema)
      .parquet(dataDir)
    val rows = raw.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(4))).toSeq
    assert(!rows.contains((u1, 1, false)),
      s"u1's pre-T straggler leaked past the recovered register: $rows")
    assert(rows.contains((u1, 1, true)),
      s"u1's post-T view must report flagged after recovery: $rows")
    assert(rows.contains((u2, 2, false)),
      s"u2's recovered anchor must complete step 2: $rows")
    val cur = StreamingOps.funnelCurrent(raw)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cur == Map(u1 -> 1, u2 -> 2), s"current after recovery: $cur")
    // Control: the same files through ONE uninterrupted process give
    // the identical final relation.
    val root2 = java.nio.file.Files.createTempDirectory("graft_ctrlrec1_")
    val in2 = java.nio.file.Files.createDirectory(root2.resolve("in"))
    writeFile(in2, Seq(req(u1, 100), ev(u2, 10, "view")), "f0.parquet", base)
    writeFile(in2, Seq(ev(u1, 50, "view"), ev(u2, 20, "click")),
      "f1.parquet", base + 2000)
    writeFile(in2, Seq(ev(u1, 150, "view")), "f2.parquet", base + 4000)
    runStream(in2, s"$root2/data")
    val raw2 = spark.read.option("recursiveFileLookup", "true")
      .schema(implicitly[org.apache.spark.sql.Encoder[FunnelOutE]].schema)
      .parquet(s"$root2/data")
    val cur2 = StreamingOps.funnelCurrent(raw2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cur2 == cur, s"restart run diverged from the uninterrupted run: $cur2 vs $cur")
  }

  test("q138: idle unerased state retires; applied registers survive idle AND stale timers") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ctrlr_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val dataDir = s"$root/data"
    val base = System.currentTimeMillis() - 60000
    val (u1, u3, u4, k) = (41L, 43L, 44L, 46L)
    // Horizon 60 min; T = 100 for crafted requests.
    // u1 (no request): view@0 reported; idles past the horizon
    //     (retired); its click@500 then builds NOTHING (no view in
    //     state) — where q130 would have reported step 2.
    // u3 (request@100, no events before): the applied register idles
    //     arbitrarily long with NO timer; view@800 must still come
    //     out FLAGGED — the register survived.
    // u4: view@0 (arms the idle timer), request@100 in the next batch
    //     (applied, tombstone, no new timer); the STALE timer then
    //     fires once the watermark passes minute 60 and must not drop
    //     the register; view@700 comes out flagged.
    // k:  watermark mover.
    writeFile2(inputDir, Seq(evw(u1, 0, "view"), evw(u4, 0, "view"),
      evw(k, 0, "view")), "f0.parquet", base)
    writeFile2(inputDir, Seq(reqw(u3, 100), reqw(u4, 100)),
      "f1.parquet", base + 2000)
    writeFile2(inputDir, Seq(evw(k, 500, "click")), "f2.parquet", base + 4000)
    writeFile2(inputDir, Seq(evw(u1, 500, "click"), evw(u4, 700, "view"),
      evw(u3, 800, "view")), "f3.parquet", base + 6000)
    val chk = java.nio.file.Files.createTempDirectory("graft_ctrlr_chk_").toString
    val in = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[CtrlEventWm]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir.toString)
      .withWatermark("ts", "0 seconds")
      .as[CtrlEventWm]
    val q = in.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
        StreamingOps.FunnelHandler("q138",
          StreamingOps.Retire.Idle(60 * MinUs, onComplete = false), StreamingOps.Erase.Control))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", chk)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[FunnelOutE], id: Long) =>
        batch.toDF().write.mode("overwrite").parquet(s"$dataDir/b$id"); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val raw = spark.read.option("recursiveFileLookup", "true")
      .schema(implicitly[org.apache.spark.sql.Encoder[FunnelOutE]].schema)
      .parquet(dataDir)
    val rows = raw.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(4))).toSeq
    assert(!rows.contains((u1, 2, false)),
      s"u1's post-retirement click must not resurrect the funnel: $rows")
    assert(rows.contains((u3, 1, true)),
      s"u3's register must survive idle (flagged restart): $rows")
    assert(rows.count { case (u, st, e) => u == u4 && st == 0 && e } == 1 &&
      rows.contains((u4, 1, true)),
      s"u4's register must survive the stale timer: $rows")
    val cur = StreamingOps.funnelCurrent(raw)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cur(u1) == 1 && cur(u3) == 1 && cur(u4) == 1, s"current: $cur")
  }

  test("q138: request arriving AFTER idle retirement still tombstones (r16 ADVICE)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ctrlrl_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val dataDir = s"$root/data"
    val base = System.currentTimeMillis() - 60000
    val (u5, k) = (55L, 56L)
    // Horizon 60 min. u5: view@0 reported erased=false; k's click@61
    // pushes the watermark past the horizon so u5's idle timer fires
    // (state RETIRED); only then does u5's request@100 arrive — it
    // applies over ABSENT state, so the handler has no memory of the
    // pre-T report. The unconditional tombstone must withdraw it:
    // funnelCurrent must DROP u5 (the erased user's exact answer —
    // no post-T events). Pre-fix the tombstone was gated on st.t1>=0
    // and u5 silently kept the pre-T step-1 row.
    writeFile2(inputDir, Seq(evw(u5, 0, "view"), evw(k, 0, "view")),
      "f0.parquet", base)
    writeFile2(inputDir, Seq(evw(k, 61, "click")), "f1.parquet", base + 2000)
    writeFile2(inputDir, Seq(evw(k, 62, "purchase")), "f2.parquet", base + 4000)
    writeFile2(inputDir, Seq(reqw(u5, 100)), "f3.parquet", base + 6000)
    val chk = java.nio.file.Files.createTempDirectory("graft_ctrlrl_chk_").toString
    val in = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[CtrlEventWm]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir.toString)
      .withWatermark("ts", "0 seconds")
      .as[CtrlEventWm]
    val q = in.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
        StreamingOps.FunnelHandler("q138",
          StreamingOps.Retire.Idle(60 * MinUs, onComplete = false), StreamingOps.Erase.Control))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", chk)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[FunnelOutE], id: Long) =>
        batch.toDF().write.mode("overwrite").parquet(s"$dataDir/b$id"); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val raw = spark.read.option("recursiveFileLookup", "true")
      .schema(implicitly[org.apache.spark.sql.Encoder[FunnelOutE]].schema)
      .parquet(dataDir)
    val rows = raw.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(4))).toSeq
    assert(rows.contains((u5, 1, false)),
      s"u5's pre-T progress must have been reported before retirement: $rows")
    assert(rows.count { case (u, st, e) => u == u5 && st == 0 && e } == 1,
      s"u5's post-retirement request must emit the tombstone: $rows")
    val cur = StreamingOps.funnelCurrent(raw)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(!cur.contains(u5),
      s"funnelCurrent must DROP the erased u5 (no post-T events): $cur")
    assert(cur(k) == 3, s"the watermark mover is untouched: $cur")
  }

  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"$sf replay: q138 == q130 (single-batch; timers only remove silently)", SlowReplay) {
      val dir = s"/root/testdata/$sf"
      val got = Registry.queriesMap("q138_funnel_erase_requests_retire")(spark, dir)
        .collect().map(_.toSeq).toSeq
      val want = Registry.queriesMap("q130_funnel_erase_requests")(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(got == want, s"q138 != q130 at $dir")
      assert(got.nonEmpty)
    }
  }

  // ---- q134: the session store against the same control stream.

  import graft.queries.StreamingOps.{CtrlSessEvent, SessionOutE}
  // Epoch-0 watermark guard (StreamRetireSpec's Off device): crafted
  // minutes are offset so no event sits at the initial watermark.
  private val SOff = 100000L
  private def sevc(u: Long, m: Long) =
    CtrlSessEvent(u, new java.sql.Timestamp((SOff + m) * 60000), (SOff + m) * MinUs, 0)
  private def sreq(u: Long, m: Long) =
    CtrlSessEvent(u, new java.sql.Timestamp((SOff + m) * 60000), (SOff + m) * MinUs, 1)

  private def writeSess(inputDir: java.nio.file.Path, rows: Seq[CtrlSessEvent],
      name: String, mtime: Long): Unit = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cse_src_")
    spark.createDataset(rows).coalesce(1).write.mode("overwrite").parquet(s"$tmp/d")
    val part = new java.io.File(s"$tmp/d").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val dest = inputDir.resolve(name)
    java.nio.file.Files.move(part.toPath, dest)
    assert(dest.toFile.setLastModified(mtime))
  }

  private def runSessStream(inputDir: java.nio.file.Path, dataDir: String,
      delay: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val chk = java.nio.file.Files.createTempDirectory("graft_cse_chk_").toString
    val crafted = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[CtrlSessEvent]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir.toString)
    // The crafted files carry both kinds; split them into the events and
    // the request feed and rebuild the input as registered q134 does, so
    // the watermark goes on the events only and a request is never late.
    val in = StreamingOps.streamRows[CtrlSessEvent](
      crafted.where(col("kind") === 0),
      Some(crafted.where(col("kind") === 1).select(col("user_id"), col("ts_us").as("req_us"))),
      StreamingOps.EventView.Untyped, watermark = true, delay)
    val q = in.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
        StreamingOps.SessionHandler("q134", StreamingOps.Retire.Flush, StreamingOps.Erase.Control))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", chk)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[SessionOutE], id: Long) =>
        batch.toDF().write.mode("overwrite").parquet(s"$dataDir/b$id"); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  test("q134 multi-batch: wipe + tombstone, fresh post-T session, flush, compaction") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cse_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val dataDir = s"$root/data"
    val base = System.currentTimeMillis() - 60000
    val (s1, s2, w, k) = (11L, 12L, 13L, 14L)
    // s1 (T=100): pre-T closed session [0,5] reported, open [50] wiped
    //     at the request; returns post-T at 150 (flushes at the end).
    // s2 (T=100): open [0] wiped; never returns -> absent everywhere.
    // w  (T=95, request in the SAME batch as its pre-T event at 80):
    //     the event sorts before the request by timestamp, the wipe
    //     forgets it -> absent from current.
    // k:  no request; [0] closes by successor at 400.
    writeSess(inputDir, Seq(
      sevc(s1, 0), sevc(s1, 5), sevc(s2, 0), sevc(k, 0), sevc(s1, 50)),
      "f0.parquet", base)
    writeSess(inputDir, Seq(
      sreq(s1, 100), sreq(s2, 100), sreq(w, 95), sevc(w, 80)),
      "f1.parquet", base + 2000)
    writeSess(inputDir, Seq(sevc(s1, 150)), "f2.parquet", base + 4000)
    writeSess(inputDir, Seq(sevc(k, 400)), "f3.parquet", base + 6000)
    runSessStream(inputDir, dataDir, "0 seconds")
    val raw = spark.read.option("recursiveFileLookup", "true")
      .schema(implicitly[org.apache.spark.sql.Encoder[SessionOutE]].schema)
      .parquet(dataDir)
    val rows = raw.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    def us(m: Long) = (SOff + m) * MinUs
    assert(rows.contains((s1, 0L, 0L, 0L, true)) &&
      rows.contains((s2, 0L, 0L, 0L, true)) &&
      rows.contains((w, 0L, 0L, 0L, true)), s"missing tombstones: $rows")
    assert(rows.contains((s1, 2L, us(0), us(5), false)), "pre-T closed report")
    assert(rows.contains((s1, 1L, us(150), us(150), false)),
      "post-T session must flush once the watermark passes its gap")
    assert(!rows.exists(r => r._1 == w && r._2 > 0),
      s"w's wiped pre-T session must never surface: $rows")
    val requests = Seq((s1, us(100)), (s2, us(100)), (w, us(95)))
      .toDF("user_id", "req_us")
    val cur = StreamingOps.sessionsCurrentByRequests(raw, requests)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(cur == Set((s1, 1L, us(150), us(150)), (k, 1L, us(0), us(0))),
      s"unexpected current log: $cur")
  }

  test("q134: a request alone in its batch keeps the post-T session's flush timer — the session is emitted and leaves no state") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cse3_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val dataDir = s"$root/data"
    val base = System.currentTimeMillis() - 60000
    val (s4, k) = (31L, 32L)
    // s4's post-T session [120, 125] is open when its late request
    // (T = 100) arrives alone in the next batch (requests are never
    // watermarked); k's event at 800 then pushes the watermark past the
    // session's gap. The request-only call must set the flush timer
    // again, or Spark drops it and the session never leaves state.
    writeSess(inputDir, Seq(sevc(s4, 120), sevc(s4, 125)), "f0.parquet", base)
    writeSess(inputDir, Seq(sreq(s4, 100)), "f1.parquet", base + 2000)
    writeSess(inputDir, Seq(sevc(k, 800)), "f2.parquet", base + 4000)
    val q = runSessStream(inputDir, dataDir, "0 seconds")
    val rows = spark.read.option("recursiveFileLookup", "true")
      .schema(implicitly[org.apache.spark.sql.Encoder[SessionOutE]].schema)
      .parquet(dataDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    def us(m: Long) = (SOff + m) * MinUs
    assert(rows.contains((s4, 0L, 0L, 0L, true)), s"the request tombstones: $rows")
    assert(rows.contains((s4, 2L, us(120), us(125), false)),
      s"the kept post-T session must flush once the watermark passes its gap: $rows")
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    assert(stateRows == 1, s"only k's open session may stay in state, found $stateRows rows")
  }

  test("q134 lagging watermark: late request keeps a pure post-T open session; compaction drops handler-invisible pre-T sessions") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cse2_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val dataDir = s"$root/data"
    val base = System.currentTimeMillis() - 60000
    val (s3, v) = (21L, 22L)
    // 10h watermark delay: requests may trail events (production
    // lateness). s3's request (T=100) arrives AFTER its post-T open
    // session [120,125] exists -> kept untouched (the graceful
    // branch). v's request (T=70) arrives BEFORE its pre-T straggler
    // at 60 -> the handler, which remembers nothing, opens [60,60];
    // the successor at 160 closes and REPORTS it; the consumer's
    // request-log compaction is what drops it.
    writeSess(inputDir, Seq(sreq(v, 70)), "f0.parquet", base)
    writeSess(inputDir, Seq(sevc(s3, 120), sevc(s3, 125), sevc(v, 60)),
      "f1.parquet", base + 2000)
    writeSess(inputDir, Seq(sreq(s3, 100), sevc(v, 160)), "f2.parquet", base + 4000)
    runSessStream(inputDir, dataDir, "10 hours")
    val raw = spark.read.option("recursiveFileLookup", "true")
      .schema(implicitly[org.apache.spark.sql.Encoder[SessionOutE]].schema)
      .parquet(dataDir)
    val rows = raw.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    def us(m: Long) = (SOff + m) * MinUs
    assert(rows.contains((v, 1L, us(60), us(60), false)),
      s"v's straggler session must be reported (closed by successor): $rows")
    assert(rows.contains((s3, 0L, 0L, 0L, true)), "late request still tombstones")
    val requests = Seq((s3, us(100)), (v, us(70))).toDF("user_id", "req_us")
    val cur = StreamingOps.sessionsCurrentByRequests(raw, requests)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // s3's post-T session is still OPEN (the lagging watermark never
    // flushes it in this replay); v's pre-T session is compacted away.
    assert(cur.isEmpty, s"compaction must drop v's pre-T session: $cur")
  }

  test("q134: kill and resume from checkpoint — open-session state survives, and the crash-window foreachBatch re-emission is absorbed idempotently (r17 VERDICT task 3)") {
    import spark.implicits._
    // The q130 recovery witness, session-store edition, PLUS the
    // at-least-once window the q130 test could not exercise: the
    // resumed query re-executes the last UNCOMMITTED batch and
    // re-runs its foreachBatch — the emission log's b$id-overwrite
    // device must absorb the duplicate emission, or the consumer's
    // compaction would double-report the re-emitted session. The
    // crash window is forced by deleting the final commit marker
    // (exactly what a crash between foreachBatch and the offset
    // commit leaves behind).
    val root = java.nio.file.Files.createTempDirectory("graft_cserec_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val dataDir = s"$root/data"
    val chk = s"$root/chk"
    val base = System.currentTimeMillis() - 60000
    val (u1, u2, u3, k) = (81L, 82L, 83L, 84L)
    def start() = {
      val in = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[CtrlSessEvent]].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inputDir.toString)
        .withWatermark("ts", "0 seconds")
        .as[CtrlSessEvent]
      in.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update(),
          org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
          StreamingOps.SessionHandler("q134",
            StreamingOps.Retire.Flush, StreamingOps.Erase.Control))
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", chk)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[SessionOutE], id: Long) =>
          batch.toDF().write.mode("overwrite").parquet(s"$dataDir/b$id"); ()
        }
        .trigger(Trigger.AvailableNow()).start()
    }
    // Run 1: u1 opens [50]; u2 opens [0]; u3's [0] is CLOSED by its
    // successor at 100 in the second batch (so b1 carries a real
    // emission for the re-run to duplicate); then STOP. Batch maxima
    // are monotone (50 then 100 then ...) so no re-armed flush timer
    // lands at/under the standing watermark.
    writeSess(inputDir, Seq(sevc(u1, 50), sevc(u2, 0), sevc(u3, 0)),
      "f0.parquet", base)
    writeSess(inputDir, Seq(sevc(u1, 60), sevc(u3, 90)),
      "f1.parquet", base + 2000)
    val q1 = start(); q1.awaitTermination()
    // The crash window: drop the last commit marker so the resumed
    // query re-executes that batch (same batch id, state reloaded at
    // the pre-batch version) and re-runs its foreachBatch.
    val commits = new java.io.File(s"$chk/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty, "run 1 must have committed batches")
    // The checksum sidecar goes with it, or the re-commit's rename
    // collides with the orphaned .crc.
    new java.io.File(commits.last.getParentFile,
      "." + commits.last.getName + ".crc").delete()
    assert(commits.last.delete(), "failed to open the crash window")
    // Run 2: u2's request (T=100) must wipe the RECOVERED open [0],
    // and its post-T 150 in the same batch opens fresh; u1's flush
    // then reports n_events=2 — only right if the recovered state
    // held both events exactly once (a lost state or a double-applied
    // re-run both break the count); k's 400 then 500 move the
    // watermark so every standing flush timer fires.
    writeSess(inputDir, Seq(sreq(u2, 100), sevc(u2, 150)),
      "f2.parquet", base + 4000)
    writeSess(inputDir, Seq(sevc(k, 400)), "f3.parquet", base + 6000)
    writeSess(inputDir, Seq(sevc(k, 500)), "f4.parquet", base + 8000)
    val q2 = start(); q2.awaitTermination()
    val raw = spark.read.option("recursiveFileLookup", "true")
      .schema(implicitly[org.apache.spark.sql.Encoder[SessionOutE]].schema)
      .parquet(dataDir)
    val rows = raw.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSeq
    def us(m: Long) = (SOff + m) * MinUs
    assert(rows.count(_ == ((u1, 2L, us(50), us(60), false))) == 1,
      s"u1's recovered session must flush with BOTH events exactly once: $rows")
    assert(rows.count(_ == ((u3, 1L, us(0), us(0), false))) == 1,
      s"u3's re-emitted close must appear exactly once after the overwrite: $rows")
    assert(rows.contains((u2, 0L, 0L, 0L, true)) &&
      rows.contains((u2, 1L, us(150), us(150), false)),
      s"u2's recovered open session must wipe and the post-T one report: $rows")
    val requests = Seq((u2, us(100))).toDF("user_id", "req_us")
    val cur = StreamingOps.sessionsCurrentByRequests(raw, requests)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // Control: the same files through ONE uninterrupted process.
    val root2 = java.nio.file.Files.createTempDirectory("graft_cserec1_")
    val in2 = java.nio.file.Files.createDirectory(root2.resolve("in"))
    writeSess(in2, Seq(sevc(u1, 50), sevc(u2, 0), sevc(u3, 0)),
      "f0.parquet", base)
    writeSess(in2, Seq(sevc(u1, 60), sevc(u3, 90)),
      "f1.parquet", base + 2000)
    writeSess(in2, Seq(sreq(u2, 100), sevc(u2, 150)),
      "f2.parquet", base + 4000)
    writeSess(in2, Seq(sevc(k, 400)), "f3.parquet", base + 6000)
    writeSess(in2, Seq(sevc(k, 500)), "f4.parquet", base + 8000)
    runSessStream(in2, s"$root2/data", "0 seconds")
    val raw2 = spark.read.option("recursiveFileLookup", "true")
      .schema(implicitly[org.apache.spark.sql.Encoder[SessionOutE]].schema)
      .parquet(s"$root2/data")
    val cur2 = StreamingOps.sessionsCurrentByRequests(raw2, requests)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(cur == cur2,
      s"restarted run diverged from the uninterrupted run: $cur vs $cur2")
  }

  test("q134 guard: an open session straddling the instant raises in-handler") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cse3_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val base = System.currentTimeMillis() - 60000
    writeSess(inputDir, Seq(sevc(31L, 90), sevc(31L, 110)), "f0.parquet", base)
    writeSess(inputDir, Seq(sreq(31L, 100)), "f1.parquet", base + 2000)
    val chk = java.nio.file.Files.createTempDirectory("graft_cse3_chk_").toString
    val in = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[CtrlSessEvent]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir.toString)
      .withWatermark("ts", "10 hours")
      .as[CtrlSessEvent]
    val q = in.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
        StreamingOps.SessionHandler("q134", StreamingOps.Retire.Flush, StreamingOps.Erase.Control))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", chk)
      .format("noop")
      .trigger(Trigger.AvailableNow()).start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)
    assert(msgs(ex).contains("q134 arrival-order violation"),
      s"guard must surface, got: ${msgs(ex).take(300)}")
  }

  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"$sf replay: q134 == per-user-T filtered session recompute, non-vacuous", SlowReplay) {
      import org.apache.spark.sql.expressions.Window
      val dir = s"/root/testdata/$sf"
      val got = Registry.queriesMap("q134_session_erase_requests")(spark, dir)
        .collect().map(_.toSeq).toSeq
      val e = queries.t(spark, dir, "events")
      val gapUs = 30L * 60 * 1000000
      val reqT = lit(queries.PrivacyBaseUs) +
        (queries.h60(concat(lit("reqday:"), col("user_id")))
          % queries.PrivacyRangeDays) * lit(86400000000L)
      val x = e.where(
          !(queries.h60(concat(lit("erase:"), col("user_id"))) % 10 === 0) ||
            unix_micros(col("ts")) >= reqT)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      val sess = x.withColumn("brk",
          when(lag(col("ts_us"), 1).over(w).isNull ||
            col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1).otherwise(0))
        .withColumn("sid", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val g = sess.groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
      val lastSid = g.groupBy(col("user_id")).agg(max(col("sid")).as("last_sid"))
      val wmMs = e.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0) / 1000
      val want = g.join(lastSid, "user_id")
        .where(col("sid") < col("last_sid") ||
          (col("end_us") / 1000).cast("long") + gapUs / 1000 + 1 < wmMs)
        .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
        .orderBy(col("user_id"), col("start_us"))
        .collect().map(_.toSeq).toSeq
      assert(got == want, s"q134 != filtered recompute at $dir")
      val fixedT = Registry.queriesMap("q129_stream_sessions_user_erase")(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(got != fixedT,
        s"q134 == q129 at $dir — per-user instants changed nothing")
    }
  }

  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"$sf replay: q130 == per-user-T filtered recompute, non-vacuous", SlowReplay) {
      val dir = s"/root/testdata/$sf"
      val got = Registry.queriesMap("q130_funnel_erase_requests")(spark, dir)
        .collect().map(_.toSeq).toSeq
      // In-engine oracle twin: q113's cascade with each erased user's
      // events filtered by their OWN request instant.
      val e = queries.t(spark, dir, "events")
      val reqT = lit(queries.PrivacyBaseUs) +
        (queries.h60(concat(lit("reqday:"), col("user_id")))
          % queries.PrivacyRangeDays) * lit(86400000000L)
      val filtered = e.where(
        !(queries.h60(concat(lit("erase:"), col("user_id"))) % 10 === 0) ||
          unix_micros(col("ts")) >= reqT)
      val want = queries.Analytic.funnelStates(filtered)
        .select(col("user_id"),
          when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
            .otherwise(1).cast("int").as("reached_step"),
          (unix_micros(col("t2")) - unix_micros(col("t1"))).as("v2c_micros"),
          (unix_micros(col("t3")) - unix_micros(col("t2"))).as("c2p_micros"))
        .orderBy(col("user_id"))
        .collect().map(_.toSeq).toSeq
      assert(got == want, s"q130 != filtered recompute at $dir")
      if (sf == "sf0.01") {
        // Non-vacuity only at sf0.01: sf0.001 has a single erased user
        // whose hashed request instant happens to precede all three of
        // their funnel anchors, so the filter changes nothing there.
        val plain = Registry.queriesMap("q115_stream_funnel")(spark, dir)
          .collect().map(_.toSeq).toSeq
        assert(got != plain, s"erasure changed nothing at $dir — vacuous replay")
        // The per-user instants are a real generalization: the fixed-T
        // q127 must disagree somewhere (some user's T != 2024-01-08).
        val fixedT = Registry.queriesMap("q127_stream_funnel_user_erase")(spark, dir)
          .collect().map(_.toSeq).toSeq
        assert(got != fixedT,
          "q130 == q127 — the per-user request instants changed nothing")
      }
    }
  }
}
