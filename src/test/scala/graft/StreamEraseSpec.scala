package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.StreamingOps
import graft.queries.StreamingOps.{FunnelEventWm, FunnelOutE}

/** q127's in-stream user-erasure semantics, fired OBSERVABLY on
  * crafted multi-batch replays (the sf replay is one data batch, where
  * the registered oracle already re-proves the outcome cross-engine):
  * a pending user's first post-T event forgets their state and emits
  * the tombstone before restarting; a pending user who never returns
  * erases by the T event-time timer (including the pre-T-COMPLETED
  * funnel, which must NOT silently retire past its deletion); the
  * current-state projection drops fully-forgotten users and reports
  * restarts from their flagged rows only; non-erased users behave as
  * q121. Plus the h60Jvm == h60-column pin the handler-side predicate
  * rests on. */
class StreamEraseSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("h60Jvm mirrors the h60 column exactly") {
    val s = spark
    import s.implicits._
    val ids = (0L to 300L).toSeq
    val col60 = ids.toDF("user_id")
      .select(col("user_id"),
        queries.h60(concat(lit("erase:"), col("user_id"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { u =>
      assert(StreamingOps.h60Jvm(s"erase:$u") == col60(u), s"uid $u")
    }
  }

  // Crafted uids with known predicate values (scanned, not assumed).
  private lazy val erasedIds =
    (1L to 300L).filter(StreamingOps.streamErased).toList
  private lazy val keptIds =
    (1L to 300L).filterNot(StreamingOps.streamErased).toList

  private val MinUs = 60L * 1000000
  private val Off = 100000L // epoch-0 watermark guard (StreamRetireSpec)
  private def fev(u: Long, m: Long, ty: String) =
    FunnelEventWm(u, new Timestamp((Off + m) * 60000), (Off + m) * MinUs, ty)

  private def writeSourceFile(rows: Seq[FunnelEventWm],
      inputDir: java.nio.file.Path, name: String, mtime: Long): Unit = {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_esrc_")
    spark.createDataset(rows).coalesce(1).write.mode("overwrite").parquet(s"$tmp/d")
    val part = new java.io.File(s"$tmp/d").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .head
    val dest = inputDir.resolve(name)
    java.nio.file.Files.move(part.toPath, dest)
    assert(dest.toFile.setLastModified(mtime))
  }

  test("multi-batch erasure: tombstone + restart, timer erase, completed-funnel erase") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_erase_s_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val dataDir = s"$root/data"
    val base = System.currentTimeMillis() - 60000
    val eraseUs = (Off + 100) * MinUs // T at fixture minute 100
    val List(e1, e2, e3) = erasedIds.take(3)
    val k1 = keptIds.head
    // e1: view+click pre-T (reported step 2), returns with a view at
    //     minute 150 -> tombstone + restart at step 1.
    // e2: view pre-T (reported step 1), never returns -> T timer
    //     erases silently-but-for-the-tombstone; absent from current.
    // e3: COMPLETES pre-T (step 3) -> must still erase by timer
    //     (the silent-retire leak case).
    // k1: kept user, view pre-T + click post-T -> plain q121 behavior.
    writeSourceFile(Seq(
      fev(e1, 0, "view"), fev(e1, 1, "click"),
      fev(e2, 0, "view"),
      fev(e3, 0, "view"), fev(e3, 1, "click"), fev(e3, 2, "purchase"),
      fev(k1, 0, "view")), inputDir, "f0.parquet", base)
    writeSourceFile(Seq(fev(e1, 150, "view"), fev(k1, 160, "click")),
      inputDir, "f1.parquet", base + 2000)
    val chk = java.nio.file.Files.createTempDirectory("graft_erase_chk_").toString
    val in = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[FunnelEventWm]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir.toString)
      .withWatermark("ts", "0 seconds")
      .as[FunnelEventWm]
    val q = in.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
        StreamingOps.FunnelHandler("q127",
          StreamingOps.Retire.Idle(StreamingOps.FunnelIdleHorizonUs, onComplete = true),
          StreamingOps.Erase.AtInstant(eraseUs)))
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
    // Tombstones: e1 (in-call, prior reported state), e2 + e3 (timer).
    assert(rows.count { case (u, s2, e) => u == e1 && s2 == 0 && e } == 1)
    assert(rows.count { case (u, s2, e) => u == e2 && s2 == 0 && e } == 1,
      "never-returning pending user must erase by the T timer")
    assert(rows.count { case (u, s2, e) => u == e3 && s2 == 0 && e } == 1,
      "a pre-T-completed funnel must erase by timer, not silently retire")
    // e1's restart row is flagged; its pre-erase step-2 row is not.
    assert(rows.contains((e1, 2, false)) && rows.contains((e1, 1, true)))
    // Current-state projection: e1 restarted at step 1, e2/e3 gone,
    // k1 reported at step 2 (plain funnel).
    val cur = StreamingOps.funnelCurrent(raw)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cur == Map(e1 -> 1, k1 -> 2), s"unexpected current state: $cur")
  }

  test("session erasure: tombstone + fresh post-T session, timer erase, kept user untouched") {
    import spark.implicits._
    import graft.queries.StreamingOps.{SessionEventWm, SessionOutE}
    val root = java.nio.file.Files.createTempDirectory("graft_erase_ss_")
    val inputDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val dataDir = s"$root/data"
    val base = System.currentTimeMillis() - 60000
    val eraseUs = (Off + 100) * MinUs
    def sev(u: Long, m: Long) =
      SessionEventWm(u, new Timestamp((Off + m) * 60000), (Off + m) * MinUs)
    def writeS(rows: Seq[SessionEventWm], name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_esrc2_")
      spark.createDataset(rows).coalesce(1).write.mode("overwrite").parquet(s"$tmp/d")
      val part = new java.io.File(s"$tmp/d").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dest = inputDir.resolve(name)
      java.nio.file.Files.move(part.toPath, dest)
      assert(dest.toFile.setLastModified(mtime))
    }
    val List(e1, e2) = erasedIds.take(2)
    val k1 = keptIds.head
    // e1: pre-T session [0,5] (closed+emitted by its own batch-1
    //     event? no — flushed is suppressed for pending users, but a
    //     SUCCESSOR closes it in the same pre-T era: events at 0,5
    //     then 50 -> [0,5] closes in-call), then returns post-T at
    //     150 -> tombstone + fresh flagged session.
    // e2: pre-T events only -> T-timer tombstone, absent from current.
    // k1: kept, sessions close/flush as q122.
    writeS(Seq(sev(e1, 0), sev(e1, 5), sev(e1, 50),
      sev(e2, 0), sev(k1, 0)), "f0.parquet", base)
    writeS(Seq(sev(e1, 150), sev(k1, 155)), "f1.parquet", base + 2000)
    writeS(Seq(sev(k1, 400)), "f2.parquet", base + 4000)
    val chk = java.nio.file.Files.createTempDirectory("graft_erase_chk2_").toString
    val in = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[SessionEventWm]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir.toString)
      .withWatermark("ts", "0 seconds")
      .as[SessionEventWm]
    val q = in.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
        StreamingOps.SessionHandler("q129",
          StreamingOps.Retire.Flush, StreamingOps.Erase.AtInstant(eraseUs)))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", chk)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[SessionOutE], id: Long) =>
        batch.toDF().write.mode("overwrite").parquet(s"$dataDir/b$id"); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val raw = spark.read.option("recursiveFileLookup", "true")
      .schema(implicitly[org.apache.spark.sql.Encoder[SessionOutE]].schema)
      .parquet(dataDir)
    val rows = raw.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    def us(m: Long) = (Off + m) * MinUs
    // Tombstones for both erased users (e1 in-call, e2 by T timer).
    assert(rows.contains((e1, 0L, 0L, 0L, true)))
    assert(rows.contains((e2, 0L, 0L, 0L, true)),
      "never-returning pending user must erase by the T timer")
    // e1's pre-T closed session was reported (unflagged) before the
    // erasure; the fresh post-T session flushes flagged once k1's
    // late events advance the watermark past its gap.
    assert(rows.contains((e1, 2L, us(0), us(5), false)))
    assert(rows.contains((e1, 1L, us(150), us(150), true)))
    // Current view: e1 keeps only the flagged post-T session; e2 is
    // fully forgotten; k1 keeps its closed/flushed sessions.
    val cur = StreamingOps.sessionsCurrent(raw)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(cur.filter(_._1 == e1) == Set((e1, 1L, us(150), us(150))),
      s"e1 current must be the post-T session only: $cur")
    assert(!cur.exists(_._1 == e2), s"e2 must be fully forgotten: $cur")
    assert(cur.exists(_._1 == k1), s"kept user's sessions must survive: $cur")
  }

  test("sf replay: q129 == filtered gap-split + strict flush rule, non-vacuous", SlowReplay) {
    import org.apache.spark.sql.expressions.Window
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val got = Registry.queriesMap("q129_stream_sessions_user_erase")(spark, dir)
        .collect().map(_.toSeq).toSeq
      // In-engine oracle twin: batch gap-split over the erasure-
      // filtered relation + the strict watermark-flush disjunct (the
      // registered DuckDB oracle's semantics; wm from the FULL stream).
      val e = queries.t(spark, dir, "events")
      val gapUs = 30L * 60 * 1000000
      val x = e.where(
          !(queries.h60(concat(lit("erase:"), col("user_id"))) % 10 === 0) ||
            col("ts") >= lit("2024-01-08").cast("timestamp"))
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
      assert(got == want, s"q129 != filtered recompute at $dir")
      val plain = Registry.queriesMap("q122_stream_sessions_retire")(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(got != plain, s"erasure changed nothing at $dir — vacuous replay")
    }
  }

  test("sf replay: q127 == filtered recompute, and the erasure is non-vacuous", SlowReplay) {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val got = Registry.queriesMap("q127_stream_funnel_user_erase")(spark, dir)
        .collect().map(_.toSeq).toSeq
      // In-engine oracle twin: q113's cascade over the erasure-filtered
      // event relation (the registered DuckDB oracle's semantics).
      val e = queries.t(spark, dir, "events")
      val eraseTs = lit("2024-01-08").cast("timestamp")
      val filtered = e.where(
        !(queries.h60(concat(lit("erase:"), col("user_id"))) % 10 === 0) ||
          col("ts") >= eraseTs)
      val want = queries.Analytic.funnelStates(filtered)
        .select(col("user_id"),
          when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
            .otherwise(1).cast("int").as("reached_step"),
          (unix_micros(col("t2")) - unix_micros(col("t1"))).as("v2c_micros"),
          (unix_micros(col("t3")) - unix_micros(col("t2"))).as("c2p_micros"))
        .orderBy(col("user_id"))
        .collect().map(_.toSeq).toSeq
      assert(got == want, s"q127 != filtered recompute at $dir")
      // Non-vacuity: at least one erased user's report must differ
      // from the unfiltered stream funnel's (q115).
      val plain = Registry.queriesMap("q115_stream_funnel")(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(got != plain, s"erasure changed nothing at $dir — vacuous replay")
    }
  }
}
