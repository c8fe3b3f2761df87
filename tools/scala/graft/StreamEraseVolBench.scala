package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Volume run for q127's in-stream user erasure: 28.7M events
  * replayed through real micro-batches (the 64 time-ordered
  * events_gen part files, 8 per trigger) with the erase request
  * pinned mid-window (2025-01-06), so ~10 % of the 240k users are
  * forgotten mid-stream — pre-T progress tombstoned, post-T events
  * restarting fresh.
  *
  * Two phases, separating the two state-removal mechanisms:
  *   EXACT — idle horizon past the corpus span (erasure is the only
  *     remover besides completion): the current-state projection must
  *     equal the batch funnel over the erasure-filtered relation
  *     EXACTLY (steps AND latencies, every user) — the registered
  *     oracle's identity at volume;
  *   PROD — the production configuration (1 h idle horizon,
  *     complete-retire-now): q121's restart deviation class rejoins
  *     (BOTH mechanisms restart returning users); reports the honest
  *     reached-step agreement census (the q121 volume-row device).
  *
  * Usage: sbt "Test/runMain graft.StreamEraseVolBench /tmp/events24m"
  */
object StreamEraseVolBench {
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

    val eraseUs = java.time.Instant.parse("2025-01-06T00:00:00Z")
      .toEpochMilli * 1000
    val parts = s"$dir/events_parts"
    val schema = spark.read.parquet(parts).schema

    def replay(tag: String, horizonUs: Long,
        retireOnComplete: Boolean): org.apache.spark.sql.DataFrame = {
      val scratch = java.nio.file.Files.createTempDirectory(s"serase_$tag").toString
      val (data, chk) = (s"$scratch/data", s"$scratch/chk")
      val t1 = System.nanoTime()
      val events = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(parts)
        .where(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), col("ts"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))
        .withWatermark("ts", "0 seconds")
        .as[queries.StreamingOps.FunnelEventWm]
      val out = events.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update(),
          org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
          queries.StreamingOps.FunnelHandler("q127",
            queries.StreamingOps.Retire.Idle(horizonUs, retireOnComplete),
            queries.StreamingOps.Erase.AtInstant(eraseUs)))
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
      val raw = spark.read.schema(org.apache.spark.sql.Encoders
        .product[queries.StreamingOps.FunnelOutE].schema).parquet(data)
      val tombs = raw.where(col("reached_step") === 0).count()
      val flagged = raw.where(col("erased") && col("reached_step") > 0).count()
      println(f"SEV$tag%-6s 28.7M events replayed in ${(System.nanoTime() - t1) / 1e9}%5.1f s  " +
        f"tombstones=$tombs%,d  post-erase rows=$flagged%,d  " +
        f"state peak=${stateRows.max}%,d final=${stateRows.last}%,d")
      require(tombs > 0 && flagged > 0, s"$tag: erasure branches unfired at volume")
      raw
    }

    val e = Tables.load(spark, dir, "events")
    val filtered = e.where(
      !(queries.h60(concat(lit("erase:"), col("user_id"))) % 10 === 0) ||
        unix_micros(col("ts")) >= eraseUs)
    val want = queries.Analytic.funnelStates(filtered)
      .select(col("user_id"),
        when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
          .otherwise(1).cast("int").as("w_step"),
        (unix_micros(col("t2")) - unix_micros(col("t1"))).as("w_v2c"),
        (unix_micros(col("t3")) - unix_micros(col("t2"))).as("w_c2p"))
    val nErased = e.where(queries.h60(concat(lit("erase:"), col("user_id"))) % 10 === 0)
      .select(col("user_id")).distinct().count()

    // ---- EXACT phase: BOTH retirement mechanisms off (idle horizon
    // past the corpus span, completed state retained) -> the only
    // state remover is the erasure itself, and the stream must equal
    // the filtered batch recompute exactly.
    val horizonOff = 30L * 24 * 3600 * 1000000 // 30 days > corpus span
    val exact = queries.StreamingOps.funnelCurrent(
      replay("EXACT", horizonOff, retireOnComplete = false))
    val exactBad = exact.join(want, Seq("user_id"), "full")
      .where(!(col("reached_step") <=> col("w_step")) ||
             !(col("v2c_micros") <=> col("w_v2c")) ||
             !(col("c2p_micros") <=> col("w_c2p"))).count()
    require(exactBad == 0,
      s"$exactBad users differ from the filtered batch recompute with retirement off")
    println(f"SEVVERIFY EXACT: current state (${exact.count()}%,d users) == " +
      f"erasure-filtered batch funnel, steps AND latencies, 0 mismatches; " +
      f"$nErased%,d users erased mid-stream")

    // ---- PROD phase: 1 h idle horizon -> q121's deviation class on
    // top; census on reached_step (the q121 volume-row device).
    val prod = queries.StreamingOps.funnelCurrent(
      replay("PROD", 60L * 60 * 1000000, retireOnComplete = true))
    val agree = prod.join(want, Seq("user_id"), "full")
      .select(when(col("reached_step") <=> col("w_step"), 1L).otherwise(0L).as("ok"))
      .agg(sum(col("ok")).as("ok"), count(lit(1)).as("n")).collect()(0)
    println(f"SEVVERIFY PROD: reached-step agreement ${agree.getLong(0)}%,d / " +
      f"${agree.getLong(1)}%,d with the 1h idle horizon " +
      "(shortfall = q121's documented restart deviation class)")

    // ---- SESS phase: q129's session-store erasure. No retirement
    // mechanism interferes here (the flush IS part of the semantics
    // and of the oracle rule), so the identity is exact in one run:
    // current session log == batch gap-split over the filtered
    // relation + the strict watermark-flush disjunct.
    val sessScratch = java.nio.file.Files.createTempDirectory("serase_sess").toString
    val (sData, sChk) = (s"$sessScratch/data", s"$sessScratch/chk")
    val t2 = System.nanoTime()
    val sevents = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 8)
      .parquet(parts)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
      .withWatermark("ts", "0 seconds")
      .as[queries.StreamingOps.SessionEventWm]
    val sout = sevents.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
        queries.StreamingOps.SessionHandler("q129",
          queries.StreamingOps.Retire.Flush, queries.StreamingOps.Erase.AtInstant(eraseUs)))
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
    val sFlagged = sRaw.where(col("erased") && col("n_events") > 0).count()
    println(f"SEVSESS   28.7M events session-erase-replayed in " +
      f"${(System.nanoTime() - t2) / 1e9}%5.1f s  tombstones=$sTombs%,d  " +
      f"post-erase sessions=$sFlagged%,d  state peak=${sStateRows.max}%,d " +
      f"final=${sStateRows.last}%,d")
    require(sTombs > 0 && sFlagged > 0, "session erasure branches unfired at volume")
    val cur = queries.StreamingOps.sessionsCurrent(sRaw)
    val gapUs = queries.SessGapUs
    val x = e.where(
        !(queries.h60(concat(lit("erase:"), col("user_id"))) % 10 === 0) ||
          unix_micros(col("ts")) >= eraseUs)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
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
    val sBad = cur.union(sWant)
      .groupBy(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2).count()
    require(sBad == 0,
      s"$sBad session rows differ from the filtered gap-split + flush rule")
    println(f"SEVVERIFY SESS: current session log (${cur.count()}%,d rows) == " +
      "filtered gap-split + strict flush rule, 0 mismatches")
    spark.stop()
  }
}
