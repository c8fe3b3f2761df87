package graft

import org.apache.spark.sql.functions._

/** Volume run for q113's funnel at 24M events / 200k users
  * (`events_gen` corpus — the same one the streaming family's volume
  * rows replay). Verification is an INDEPENDENT dataflow: a
  * groupByKey(user).mapGroups pass that buffers each user's (ts,
  * type) pairs and walks the funnel imperatively — one shuffle, no
  * joins, a completely different plan shape from the registered
  * three-stage conditional-min cascade — asserted equal row-for-row
  * (the strictly-after rule is easy to get wrong in exactly one of
  * the two formulations, which is what makes the identity evidence).
  *
  * An INCREMENTAL phase (q119) then stores the 5-day standing states
  * and merges the final two generator days as daily batches,
  * asserting the merged states render exactly the verified full
  * recompute — the deployment shape where history is never rescanned.
  *
  * Usage: python3 tools/events_gen.py /tmp/events24m 24000000 64 &&
  *   sbt "Test/runMain graft.FunnelVolBench /tmp/events24m"
  */
object FunnelVolBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/events24m")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val meter = new Meter(spark)

    meter.take()
    val t1 = System.nanoTime()
    val cascade = Registry.queriesMap("q113_funnel")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    val casS = (System.nanoTime() - t1) / 1e9
    val reached = cascade.values.groupBy(_._1).view.mapValues(_.size).toMap
    println(f"FNVCASCADE ${cascade.size}%,d funnel users in $casS%5.1f s  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB  " +
      f"reached 1/2/3 = ${reached.getOrElse(1, 0)}%,d/${reached.getOrElse(2, 0)}%,d/${reached.getOrElse(3, 0)}%,d")

    // Independent per-user imperative walk.
    meter.take()
    val t2 = System.nanoTime()
    val walked = Tables.load(spark, dir, "events")
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .mapGroups { (uid, it) =>
        val evs = it.map(e => (e._2, e._3)).toArray
        var t1v = Long.MaxValue
        evs.foreach { case (us, ty) => if (ty == "view" && us < t1v) t1v = us }
        if (t1v == Long.MaxValue) (uid, 0, -1L, -1L)
        else {
          var t2v = Long.MaxValue
          evs.foreach { case (us, ty) => if (ty == "click" && us > t1v && us < t2v) t2v = us }
          if (t2v == Long.MaxValue) (uid, 1, -1L, -1L)
          else {
            var t3v = Long.MaxValue
            evs.foreach { case (us, ty) => if (ty == "purchase" && us > t2v && us < t3v) t3v = us }
            if (t3v == Long.MaxValue) (uid, 2, t2v - t1v, -1L)
            else (uid, 3, t2v - t1v, t3v - t2v)
          }
        }
      }
      .filter(_._2 > 0)
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val walkS = (System.nanoTime() - t2) / 1e9
    println(f"FNVWALK    independent mapGroups walk in $walkS%5.1f s  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")

    require(cascade == walked, {
      val diff = (cascade.keySet ++ walked.keySet)
        .filter(k => cascade.get(k) != walked.get(k)).take(3)
      s"plans disagree on ${diff.size}+ users, e.g. " +
        diff.map(k => s"$k: ${cascade.get(k)} vs ${walked.get(k)}").mkString("; ")
    })
    println(f"FNVVERIFY  cascade == imperative walk, all ${cascade.size}%,d users")

    // ---- incremental phase (q119): standing per-user funnel states
    // over the first five days are STORED (the production monitor
    // state), then the final two generator days merge in as daily
    // batches — the deployment shape where history is never
    // rescanned. Timed per batch: read standing parquet, scan the
    // day's events, seeded-cascade merge, store. The claim: per-batch
    // cost is the batch scan plus a state-table pass, flat from day
    // to day. Final states must render EXACTLY the full-recompute
    // cascade already verified above.
    val scratch = java.nio.file.Files.createTempDirectory("graft_fvb_").toString
    val ev = Tables.load(spark, dir, "events")
    val t3 = System.nanoTime()
    queries.Analytic.funnelStates(ev.where(col("ts") < lit("2025-01-06").cast("timestamp")))
      .write.mode("overwrite").parquet(s"$scratch/st0")
    println(f"FNVSETUP   standing 5-day funnel states stored in " +
      f"${(System.nanoTime() - t3) / 1e9}%5.1f s  " +
      f"(${spark.read.parquet(s"$scratch/st0").count()}%,d users)")
    var prev = s"$scratch/st0"
    for ((lo, hi, tag) <- Seq(
        ("2025-01-06", "2025-01-07", "day6"),
        ("2025-01-07", "2025-01-09", "day7"))) {
      meter.take()
      val t4 = System.nanoTime()
      val batch = ev.where(col("ts") >= lit(lo).cast("timestamp") &&
        col("ts") < lit(hi).cast("timestamp"))
      val next = s"$scratch/st_$tag"
      queries.Analytic.mergeFunnelStates(spark.read.parquet(prev), batch)
        .write.mode("overwrite").parquet(next)
      println(f"FNVMERGE   $tag batch merged in ${(System.nanoTime() - t4) / 1e9}%5.1f s  " +
        f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB  " +
        f"(${batch.count()}%,d events)")
      prev = next
    }
    val mergedRender = spark.read.parquet(prev)
      .select(col("user_id"),
        when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
          .otherwise(1).cast("int").as("step"),
        coalesce(unix_micros(col("t2")) - unix_micros(col("t1")), lit(-1L)).as("v2c"),
        coalesce(unix_micros(col("t3")) - unix_micros(col("t2")), lit(-1L)).as("c2p"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    require(mergedRender == cascade, {
      val diff = (mergedRender.keySet ++ cascade.keySet)
        .filter(k => mergedRender.get(k) != cascade.get(k)).take(3)
      s"incremental disagrees with recompute on ${diff.size}+ users, e.g. " +
        diff.map(k => s"$k: ${mergedRender.get(k)} vs ${cascade.get(k)}").mkString("; ")
    })
    println(f"FNVINCVERIFY merged daily states == full recompute, all ${cascade.size}%,d users")
    spark.stop()
  }
}
