package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Volume run for q132's watermarked streaming retention with
  * in-stream erasure: 28.7M events / 240k users replayed through real
  * micro-batches, erase instant MID-DAY mid-corpus (2025-01-04 12:00)
  * so the event-granular claim is exercised at volume — thousands of
  * erased users have activity on the straddling day itself, and the
  * day must survive for exactly those with a post-T event on it.
  *
  * Verifies the registered oracle's identity at volume: the
  * era-compacted rolled-up matrix equals the batch q114 matrix over
  * the erasure-filtered relation CELL FOR CELL; tombstone count equals
  * the batch-derived expectation (erased users with >= 1 pre-T event);
  * compacted emissions equal the filtered distinct user-day count;
  * state stays user-bounded.
  *
  * Usage: sbt "Test/runMain graft.StreamRetentionEraseVolBench /tmp/events24m"
  */
object StreamRetentionEraseVolBench {
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

    val eraseUs = java.time.Instant.parse("2025-01-04T12:00:00Z")
      .toEpochMilli * 1000
    val parts = s"$dir/events_parts"
    val schema = spark.read.parquet(parts).schema

    val scratch = java.nio.file.Files.createTempDirectory("sretev_").toString
    val (data, chk) = (s"$scratch/data", s"$scratch/chk")
    val t1 = System.nanoTime()
    val events = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 8)
      .parquet(parts)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
      .withWatermark("ts", "0 seconds")
      .as[queries.StreamingOps.SessionEventWm]
    val out = events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
        queries.StreamingOps.RetentionHandler("q132",
          queries.StreamingOps.Retire.Never, queries.StreamingOps.Erase.AtInstant(eraseUs)))
    val q = out.writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", chk)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[queries.StreamingOps.RetOutE], id: Long) =>
        b.toDF().write.mode("append").parquet(data); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val stateRows = q.recentProgress.toSeq.sortBy(_.batchId)
      .filter(_.stateOperators.nonEmpty)
      .map(p => p.stateOperators.map(_.numRowsTotal).sum)
    val wallS = (System.nanoTime() - t1) / 1e9
    val raw = spark.read.schema(org.apache.spark.sql.Encoders
      .product[queries.StreamingOps.RetOutE].schema).parquet(data)
    val tombs = raw.where(col("day") === -1).count()
    val e = Tables.load(spark, dir, "events")
    val erased = queries.h60(concat(lit("erase:"), col("user_id"))) % 10 === 0
    val users = e.select(col("user_id")).distinct().count()
    // Batch-derived tombstone expectation: every erased user with
    // >= 1 pre-T event had reported state to withdraw — whether the
    // withdrawal came from their first post-T event or the T timer —
    // and nobody else may emit one.
    val wantTombs = e.where(erased && unix_micros(col("ts")) < eraseUs)
      .select(col("user_id")).distinct().count()
    println(f"SREVRUN   28.7M events erase-replayed in $wallS%5.1f s  " +
      f"tombstones=$tombs%,d (expect $wantTombs%,d)  " +
      f"state peak=${stateRows.max}%,d final=${stateRows.last}%,d for $users%,d users")
    require(tombs == wantTombs,
      s"tombstones $tombs != erased-users-with-pre-T-activity $wantTombs")
    require(stateRows.max <= 2 * users, "state not user-bounded")

    // Era-compacted emissions == filtered distinct user-days (each
    // surviving pair emitted exactly once in its surviving era).
    val filtered = e.where(!erased || unix_micros(col("ts")) >= eraseUs)
    val he = raw.groupBy(col("user_id")).agg(max(col("erased").cast("int")).as("he"))
    val keptPairs = raw.join(he, "user_id")
      .where(col("erased").cast("int") === col("he") && col("day") >= 0).count()
    val wantPairs = filtered.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct().count()
    require(keptPairs == wantPairs,
      s"compacted emissions $keptPairs != filtered distinct user-days $wantPairs")

    // The registered identity, cell for cell.
    val cur = queries.StreamingOps.retentionCurrent(raw)
    val d = filtered.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
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
    val bad = cur.union(want)
      .groupBy(col("cohort_day"), col("day_offset"), col("n_users"), col("retention"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2).count()
    require(bad == 0, s"$bad matrix cells differ from the filtered batch recompute")
    // Straddle-day non-vacuity: erased users active on BOTH sides of
    // the mid-day instant must exist (the event-granular case).
    val straddlers = e.where(erased).select(col("user_id"),
        (unix_micros(col("ts")) >= eraseUs).as("post"),
        to_date(col("ts")).as("day"))
      .where(col("day") === lit("2025-01-04").cast("date"))
      .groupBy(col("user_id")).agg(countDistinct(col("post")).as("sides"))
      .where(col("sides") === 2).count()
    require(straddlers > 0, "no erased user straddles T's day — census vacuous")
    println(f"SREVERIFY matrix (${cur.count()}%,d cells) == filtered batch " +
      f"recompute cell-for-cell; $straddlers%,d erased users straddle the " +
      "erase instant's own day (event-granular erasure exercised)")

    // ---- CTRL phase: q139, the control stream against the retention
    // store (per-user instants as DATA). The EARLY request feed is
    // deliberate — the retention register (reqUs beside the cohort
    // day) tolerates it like the funnel's does. Identity: the rolled
    // up era-compacted matrix == the per-user-T filtered recompute.
    val baseUs = java.time.Instant.parse("2025-01-02T00:00:00Z").toEpochMilli * 1000
    val DayUs = 86400000000L
    val reqT = lit(baseUs) +
      (queries.h60(concat(lit("reqday:"), col("user_id"))) % 5) * lit(DayUs)
    val reqAll = e.where(erased).select(col("user_id")).distinct()
      .select(col("user_id"), reqT.as("req_us"))
    val reqDir = java.nio.file.Files.createTempDirectory("retc_req_").toString
    val rtmp = java.nio.file.Files.createTempDirectory("retc_req_tmp_").toString
    val t0r = System.currentTimeMillis() - 3600000
    for (d <- 0 until 5) {
      reqAll.where(col("req_us") === baseUs + d * DayUs)
        .coalesce(1).write.mode("overwrite").parquet(s"$rtmp/d$d")
      val part = new java.io.File(s"$rtmp/d$d").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dest = new java.io.File(reqDir, f"req_$d%02d.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      require(dest.setLastModified(t0r + d * 1000))
    }
    val nReq = reqAll.count()
    val cScratch = java.nio.file.Files.createTempDirectory("retc_").toString
    val (cData, cChk) = (s"$cScratch/data", s"$cScratch/chk")
    val t2 = System.nanoTime()
    val cevents = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 8).parquet(parts)
    val crequests = spark.readStream
      .schema(new org.apache.spark.sql.types.StructType()
        .add("user_id", org.apache.spark.sql.types.LongType)
        .add("req_us", org.apache.spark.sql.types.LongType))
      .option("maxFilesPerTrigger", 1).parquet(reqDir)
    val cout = queries.StreamingOps.streamRows[queries.StreamingOps.CtrlEvent](cevents, Some(crequests),
      queries.StreamingOps.EventView.Activity, watermark = false)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
        queries.StreamingOps.RetentionHandler("q139",
          queries.StreamingOps.Retire.Never, queries.StreamingOps.Erase.Control))
    val cq = cout.writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", cChk)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[queries.StreamingOps.RetOutE], id: Long) =>
        b.toDF().write.mode("append").parquet(cData); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    cq.awaitTermination()
    val cStateRows = cq.recentProgress.toSeq.sortBy(_.batchId)
      .filter(_.stateOperators.nonEmpty)
      .map(p => p.stateOperators.map(_.numRowsTotal).sum)
    val cRaw = spark.read.schema(org.apache.spark.sql.Encoders
      .product[queries.StreamingOps.RetOutE].schema).parquet(cData)
    val cTombs = cRaw.where(col("day") === -1).count()
    println(f"SREVCTRL  28.7M events + $nReq%,d in-band erase requests replayed " +
      f"in ${(System.nanoTime() - t2) / 1e9}%5.1f s  tombstones=$cTombs%,d  " +
      f"state peak=${cStateRows.max}%,d final=${cStateRows.last}%,d")
    require(cTombs > 0, "no tombstone fired at volume")
    require(cStateRows.max <= 2 * users, "state not user-bounded")
    val cCur = queries.StreamingOps.retentionCurrent(cRaw)
    val cFiltered = e.join(broadcast(reqAll), Seq("user_id"), "left")
      .where(col("req_us").isNull || unix_micros(col("ts")) >= col("req_us"))
    val cd = cFiltered.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val cf = cd.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val cCells = cd.join(cf, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
    val cSz = cCells.where(col("day_offset") === 0)
      .select(col("cohort_day"), col("n_users").as("cohort_size"))
    val cWant = cCells.join(cSz, "cohort_day")
      .select(col("cohort_day"), col("day_offset").cast("int").as("day_offset"),
        col("n_users"),
        round(col("n_users").cast("double") / col("cohort_size"), 4).as("retention"))
    val cBad = cCur.union(cWant)
      .groupBy(col("cohort_day"), col("day_offset"), col("n_users"), col("retention"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2).count()
    require(cBad == 0,
      s"$cBad matrix cells differ from the per-user-T filtered recompute")
    println(f"SREVCTRL  matrix (${cCur.count()}%,d cells) == per-user-T filtered " +
      "recompute cell-for-cell — the q137 batch identity, now held by the " +
      "control-stream store under an EARLY request feed (the register absorbs it)")
    spark.stop()
  }
}
