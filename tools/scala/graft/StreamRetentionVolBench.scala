package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Volume run for q128's streaming retention: 28.7M events replayed
  * through real micro-batches (64 time-ordered part files, 8 per
  * trigger), per-user (cohort_day, max_day) state, one emission per
  * newly-seen (user, day). The rolled-up matrix must equal the batch
  * q114 output cell-for-cell, the emission count must equal the
  * distinct user-day count exactly (the cross-batch dedup claim), and
  * state rows stay == users (two ints each).
  *
  * Usage: sbt "Test/runMain graft.StreamRetentionVolBench /tmp/events24m"
  */
object StreamRetentionVolBench {
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

    val parts = s"$dir/events_parts"
    val schema = spark.read.parquet(parts).schema
    val scratch = java.nio.file.Files.createTempDirectory("sret").toString
    val (data, chk) = (s"$scratch/data", s"$scratch/chk")

    val t1 = System.nanoTime()
    val events = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 8)
      .parquet(parts)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[queries.StreamingOps.SessionEvent]
    val out = events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
        queries.StreamingOps.RetentionHandler("q128",
          queries.StreamingOps.Retire.Never, queries.StreamingOps.Erase.Never))
    val q = out.writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", chk)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[queries.StreamingOps.RetOutE], id: Long) =>
        println(f"SRVBATCH  batch=$id%2d emissions=${b.count()}%,d")
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
    val emitted = raw.count()
    val e = Tables.load(spark, dir, "events")
    val userDays = e.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct().count()
    require(emitted == userDays,
      s"emissions $emitted != distinct user-days $userDays — cross-batch dedup broken")
    val users = e.select(col("user_id")).distinct().count()
    require(stateRows.max <= 2 * users,
      s"state metric ${stateRows.max} exceeds 2x users $users — state not user-bounded")
    println(f"SRVRUN    28.7M events replayed in $wallS%5.1f s  " +
      f"emissions=$emitted%,d == distinct user-days; state-store rows metric " +
      f"final=${stateRows.last}%,d peak=${stateRows.max}%,d for $users%,d users " +
      "(two ints of state each — user-bounded, event-volume-independent)")

    // Rolled-up matrix == the registered batch q114, cell for cell.
    val cells = raw.groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
    val sz = cells.where(col("day_offset") === 0)
      .select(col("cohort_day"), col("n_users").as("cohort_size"))
    val got = cells.join(sz, "cohort_day")
      .select(date_from_unix_date(col("cohort_day")).as("cohort_day"),
        col("day_offset").cast("int").as("day_offset"), col("n_users"),
        round(col("n_users").cast("double") / col("cohort_size"), 4).as("retention"))
      .collect().map(r => (r.getDate(0).toString, r.getInt(1),
        r.getLong(2), r.getDouble(3))).toSet
    val want = Registry.queriesMap("q114_retention")(spark, dir)
      .collect().map(r => (r.getDate(0).toString, r.getInt(1),
        r.getLong(2), r.getDouble(3))).toSet
    require(got == want, {
      val d = (got -- want) ++ (want -- got)
      s"stream rollup != batch q114 on ${d.size} cells, e.g. ${d.take(3)}"
    })
    println(f"SRVVERIFY stream rollup == batch q114 matrix, all ${want.size}%,d cells")
    spark.stop()
  }
}
