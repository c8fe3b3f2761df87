package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Volume run for q130's control-stream erasure: 28.7M events replayed
  * through real micro-batches (64 time-ordered events_gen part files,
  * 8 per trigger) UNIONED with a genuine second stream of erase
  * requests — 5 per-T-day request files, 1 per trigger, mtime-ordered
  * so each request reaches the store BEFORE any >= T event (the
  * time-order contract a production privacy feed satisfies), while
  * landing mid-stream so the tombstone/restart paths fire at volume
  * (~24k users with per-user instants spread over corpus days 1-5).
  *
  * Verification is the registered oracle's identity at 28.7M events:
  * the current-state projection must equal the batch funnel over the
  * per-user-T-filtered relation EXACTLY — steps AND latencies, every
  * user (NoTimeout handler: erasure is the only state remover, so no
  * retirement deviation class exists here at all).
  *
  * Usage: sbt "Test/runMain graft.StreamCtrlEraseVolBench /tmp/events24m"
  */
object StreamCtrlEraseVolBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/events24m")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // Per-user T = corpus day 1 + (h60("reqday:"+u) % 5) days.
    val baseUs = java.time.Instant.parse("2025-01-02T00:00:00Z").toEpochMilli * 1000
    val rangeDays = 5
    val DayUs = 86400000000L
    val parts = s"$dir/events_parts"
    val schema = spark.read.parquet(parts).schema
    val e = Tables.load(spark, dir, "events")

    // Request fixture: one file per T-day, mtimes ascending and older
    // than every event part, so trigger k (maxFilesPerTrigger=1 on
    // this source) delivers day-(1+k) requests while the event source
    // is still replaying day < 1+k — in event-time order, mid-stream.
    val reqT = lit(baseUs) +
      (queries.h60(concat(lit("reqday:"), col("user_id"))) % rangeDays) * lit(DayUs)
    val reqAll = e
      .where(queries.h60(concat(lit("erase:"), col("user_id"))) % 10 === 0)
      .select(col("user_id")).distinct()
      .select(col("user_id"), reqT.as("req_us"))
    val reqDir = java.nio.file.Files.createTempDirectory("ctrl_req_").toString
    val tmp = java.nio.file.Files.createTempDirectory("ctrl_req_tmp_").toString
    val t0 = System.currentTimeMillis() - 3600000
    for (d <- 0 until rangeDays) {
      reqAll.where(col("req_us") === baseUs + d * DayUs)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/d$d")
      val part = new java.io.File(s"$tmp/d$d").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dest = new java.io.File(reqDir, f"req_$d%02d.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      require(dest.setLastModified(t0 + d * 1000))
    }
    val nReq = reqAll.count()

    val scratch = java.nio.file.Files.createTempDirectory("ctrl_erase_").toString
    val (data, chk) = (s"$scratch/data", s"$scratch/chk")
    val t1 = System.nanoTime()
    val events = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 8)
      .parquet(parts)
    val requests = spark.readStream
      .schema(new org.apache.spark.sql.types.StructType()
        .add("user_id", org.apache.spark.sql.types.LongType)
        .add("req_us", org.apache.spark.sql.types.LongType))
      .option("maxFilesPerTrigger", 1)
      .parquet(reqDir)
    val out = queries.StreamingOps.streamRows[queries.StreamingOps.CtrlEvent](events, Some(requests),
      queries.StreamingOps.EventView.Funnel, watermark = false)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
        queries.StreamingOps.FunnelHandler("q130",
          queries.StreamingOps.Retire.Never, queries.StreamingOps.Erase.Control))
    val q = out.writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", chk)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[queries.StreamingOps.FunnelOutE], id: Long) =>
        b.toDF().write.mode("append").parquet(data); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val stateRows = q.recentProgress.toSeq.sortBy(_.batchId)
      .filter(_.stateOperators.nonEmpty)
      .map(p => p.stateOperators.map(_.numRowsTotal).sum)
    val wallS = (System.nanoTime() - t1) / 1e9
    val raw = spark.read.schema(org.apache.spark.sql.Encoders
      .product[queries.StreamingOps.FunnelOutE].schema).parquet(data)
    val tombs = raw.where(col("reached_step") === 0).count()
    val flagged = raw.where(col("erased") && col("reached_step") > 0).count()
    val users = e.select(col("user_id")).distinct().count()
    println(f"CTRLERASE 28.7M events + $nReq%,d mid-stream erase requests " +
      f"replayed in $wallS%5.1f s  tombstones=$tombs%,d  post-erase rows=" +
      f"$flagged%,d  state peak=${stateRows.max}%,d final=${stateRows.last}%,d " +
      f"for $users%,d users")
    require(tombs > 0 && flagged > 0,
      "control-stream erasure branches unfired at volume")
    require(stateRows.max <= 2 * users, "state not user-bounded")

    // The registered oracle's identity at volume: current state ==
    // batch funnel over each user's OWN request-instant filter.
    val filtered = e.where(
      !(queries.h60(concat(lit("erase:"), col("user_id"))) % 10 === 0) ||
        unix_micros(col("ts")) >= reqT)
    val want = queries.Analytic.funnelStates(filtered)
      .select(col("user_id"),
        when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
          .otherwise(1).cast("int").as("w_step"),
        (unix_micros(col("t2")) - unix_micros(col("t1"))).as("w_v2c"),
        (unix_micros(col("t3")) - unix_micros(col("t2"))).as("w_c2p"))
    val cur = queries.StreamingOps.funnelCurrent(raw)
    val bad = cur.join(want, Seq("user_id"), "full")
      .where(!(col("reached_step") <=> col("w_step")) ||
             !(col("v2c_micros") <=> col("w_v2c")) ||
             !(col("c2p_micros") <=> col("w_c2p"))).count()
    require(bad == 0,
      s"$bad users differ from the per-user-T filtered batch recompute")
    println(f"CTRLVERIFY current state (${cur.count()}%,d users) == per-user-T " +
      "filtered batch funnel, steps AND latencies, 0 mismatches " +
      "(requests as data, no compile-time erase set anywhere)")

    // ---- SESS phase: q134, the same request POPULATION against the
    // session store (one privacy feed, two stores) — but delivered IN
    // EVENT-TIME ORDER, the session handler's contract: file k of
    // this dir holds the requests whose instant falls inside trigger
    // k's event-time window (8 parts/trigger over 64 parts of a 7-day
    // span = 0.875-day windows; day-d instants land in trigger d for
    // d = 1..5, so file 0 is EMPTY), and the in-batch sort places
    // each request at its exact position between its user's pre- and
    // post-T events. The funnel phase above deliberately kept the
    // EARLY feed — its handler stores the instant and tolerates it;
    // this handler keeps no memory (state drains), so an early feed
    // fuses boundary sessions across T (the scaladoc's documented
    // hazard, observed here at 496/4.7M rows before the alignment).
    val reqDirOrd = java.nio.file.Files.createTempDirectory("ctrl_req_ord_").toString
    val reqSchema = new org.apache.spark.sql.types.StructType()
      .add("user_id", org.apache.spark.sql.types.LongType)
      .add("req_us", org.apache.spark.sql.types.LongType)
    for (k <- 0 until 6) {
      val winStart = baseUs - DayUs + math.round(k * 0.875 * DayUs)
      val winEnd = baseUs - DayUs + math.round((k + 1) * 0.875 * DayUs)
      reqAll.where(col("req_us") >= winStart && col("req_us") < winEnd)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/w$k")
      val part = new java.io.File(s"$tmp/w$k").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dest = new java.io.File(reqDirOrd, f"req_$k%02d.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      require(dest.setLastModified(t0 + k * 1000))
    }
    val sessScratch = java.nio.file.Files.createTempDirectory("ctrl_sess_").toString
    val (sData, sChk) = (s"$sessScratch/data", s"$sessScratch/chk")
    val t2 = System.nanoTime()
    val sevents = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 8)
      .parquet(parts)
    val srequests = spark.readStream
      .schema(reqSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(reqDirOrd)
    val sout = queries.StreamingOps.streamRows[queries.StreamingOps.CtrlSessEvent](sevents, Some(srequests),
      queries.StreamingOps.EventView.Untyped, watermark = true)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
        queries.StreamingOps.SessionHandler("q134",
          queries.StreamingOps.Retire.Flush, queries.StreamingOps.Erase.Control))
    val sq = sout.writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", sChk)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[queries.StreamingOps.SessionOutE], id: Long) =>
        b.toDF().write.mode("append").parquet(sData); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    sq.awaitTermination()
    val sStateRows = sq.recentProgress.toSeq.sortBy(_.batchId)
      .filter(_.stateOperators.nonEmpty)
      .map(p => p.stateOperators.map(_.numRowsTotal).sum)
    val sRaw = spark.read.schema(org.apache.spark.sql.Encoders
      .product[queries.StreamingOps.SessionOutE].schema).parquet(sData)
    val sTombs = sRaw.where(col("n_events") === 0).count()
    println(f"CTRLSESS  28.7M events + $nReq%,d requests session-replayed in " +
      f"${(System.nanoTime() - t2) / 1e9}%5.1f s  tombstones=$sTombs%,d  " +
      f"state peak=${sStateRows.max}%,d final=${sStateRows.last}%,d")
    require(sTombs == nReq,
      s"every request row must tombstone exactly once: $sTombs != $nReq")
    val sCur = queries.StreamingOps.sessionsCurrentByRequests(
      sRaw, spark.read.parquet(reqDir))
    val gapUs = queries.SessGapUs
    val x = filtered.select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"))
    val sess = x.withColumn("brk",
        when(lag(col("ts_us"), 1).over(w).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1).otherwise(0))
      .withColumn("sid", sum(col("brk")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
    val g = sess.groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
    val lastSid = g.groupBy(col("user_id")).agg(max(col("sid")).as("last_sid"))
    val wmMs = e.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0) / 1000
    val sWant = g.join(lastSid, "user_id")
      .where(col("sid") < col("last_sid") ||
        (col("end_us") / 1000).cast("long") + gapUs / 1000 + 1 < wmMs)
      .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
    val sBad = sCur.union(sWant)
      .groupBy(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2).count()
    require(sBad == 0,
      s"$sBad session rows differ from the per-user-T filtered gap-split + flush rule")
    println(f"CTRLVERIFY SESS: current session log (${sCur.count()}%,d rows) == " +
      "per-user-T filtered gap-split + strict flush rule, 0 mismatches")

    // ---- RETIRE phase: q138, the retirement composition. The EARLY
    // request feed is deliberate here too — the funnel register
    // tolerates it — and the claim under test is the split guarantee:
    // ERASED users stay EXACT (applied registers never time out),
    // non-erased users carry exactly q121's restart deviation class.
    val rScratch = java.nio.file.Files.createTempDirectory("ctrl_ret_").toString
    val (rData, rChk) = (s"$rScratch/data", s"$rScratch/chk")
    val t3 = System.nanoTime()
    val revents = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 8).parquet(parts)
    val rrequests = spark.readStream.schema(reqSchema)
      .option("maxFilesPerTrigger", 1).parquet(reqDir)
    val rout = queries.StreamingOps.streamRows[queries.StreamingOps.CtrlEventWm](revents, Some(rrequests),
      queries.StreamingOps.EventView.Funnel, watermark = true)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
        queries.StreamingOps.FunnelHandler("q138",
          queries.StreamingOps.Retire.Idle(queries.StreamingOps.FunnelIdleHorizonUs, onComplete = false), queries.StreamingOps.Erase.Control))
    val rq = rout.writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", rChk)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[queries.StreamingOps.FunnelOutE], id: Long) =>
        b.toDF().write.mode("append").parquet(rData); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    rq.awaitTermination()
    val rStateRows = rq.recentProgress.toSeq.sortBy(_.batchId)
      .filter(_.stateOperators.nonEmpty)
      .map(p => p.stateOperators.map(_.numRowsTotal).sum)
    val rRaw = spark.read.schema(org.apache.spark.sql.Encoders
      .product[queries.StreamingOps.FunnelOutE].schema).parquet(rData)
    val rCur = queries.StreamingOps.funnelCurrent(rRaw)
    println(f"CTRLRETIRE 28.7M events with 1h idle retirement replayed in " +
      f"${(System.nanoTime() - t3) / 1e9}%5.1f s  state peak=${rStateRows.max}%,d " +
      f"final=${rStateRows.last}%,d (registers + horizon-active of $users%,d users)")
    require(rStateRows.last < users / 2,
      "retirement did not drain state — the horizon path is vacuous")
    // Erased cohort EXACT: their registers never retire.
    val erasedPred = queries.h60(concat(lit("erase:"), col("user_id"))) % 10 === 0
    val eBad = rCur.where(erasedPred).join(want.where(erasedPred),
        Seq("user_id"), "full")
      .where(!(col("reached_step") <=> col("w_step")) ||
             !(col("v2c_micros") <=> col("w_v2c")) ||
             !(col("c2p_micros") <=> col("w_c2p"))).count()
    require(eBad == 0,
      s"$eBad ERASED users deviate under retirement — the register leaked")
    // Non-erased: the q121 census (reached-step agreement).
    val agree = rCur.join(want, Seq("user_id"), "full")
      .select(when(col("reached_step") <=> col("w_step"), 1L).otherwise(0L).as("ok"))
      .agg(sum(col("ok")).as("ok"), count(lit(1)).as("n")).collect()(0)
    println(f"CTRLVERIFY RETIRE: erased cohort EXACT (0 of $nReq%,d deviate — " +
      f"applied registers never time out); overall reached-step agreement " +
      f"${agree.getLong(0)}%,d / ${agree.getLong(1)}%,d " +
      "(shortfall = q121's restart deviation class, non-erased users only)")
    spark.stop()
  }
}
