package graft

import org.apache.spark.sql.functions._

/** Volume run for q114's retention matrix at 28.7M events / 240k
  * users. Verification is by exact PARTITION invariants of the cell
  * relation (every (user, day) activity lands in exactly one cell;
  * every user in exactly one cohort), checked against independently
  * computed totals:
  *
  *   - Σ n_users over all cells == |distinct (user, day)|
  *   - Σ cohort day-0 sizes == |distinct users|
  *   - day-0 retention == 1.0 for every cohort
  *
  * An INCREMENTAL phase (q120) then stores the 5-day first-seen +
  * cells tables and folds the final two generator days in as daily
  * batches, asserting the merged matrix equals the full recompute.
  *
  * Usage: sbt "Test/runMain graft.RetentionVolBench /tmp/events24m"
  */
object RetentionVolBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/events24m")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val meter = new Meter(spark)

    meter.take()
    val t1 = System.nanoTime()
    val cells = Registry.queriesMap("q114_retention")(spark, dir)
      .collect().map(r => (r.getDate(0).toString, r.getInt(1),
        r.getLong(2), r.getDouble(3)))
    val wallS = (System.nanoTime() - t1) / 1e9
    println(f"RETRUN    ${cells.length}%,d retention cells over 28.7M events in " +
      f"$wallS%5.1f s  shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")

    val e = Tables.load(spark, dir, "events")
    val userDays = e.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct().count()
    val users = e.select(col("user_id")).distinct().count()
    val cellSum = cells.map(_._3).sum
    val day0Sum = cells.filter(_._2 == 0).map(_._3).sum
    val badDay0 = cells.filter(c => c._2 == 0 && c._4 != 1.0)
    require(cellSum == userDays,
      s"cells must partition (user, day) activity: $cellSum vs $userDays")
    require(day0Sum == users,
      s"cohorts must partition users: $day0Sum vs $users")
    require(badDay0.isEmpty, s"day-0 retention must be 1.0: ${badDay0.take(3)}")
    println(f"RETVERIFY cells partition activity ($cellSum%,d user-days) and " +
      f"cohorts partition users ($users%,d); day-0 retention 1.0 for all " +
      f"${cells.count(_._2 == 0)}%,d cohorts")

    // ---- incremental phase (q120): first-seen + additive cells over
    // the first five days are STORED, the final two generator days
    // fold in as daily batches (history never rescanned; per-batch
    // cost = the batch scan + a days²-bounded cell merge). The final
    // rendered matrix must equal the registered q114 output already
    // collected above.
    val scratch = java.nio.file.Files.createTempDirectory("graft_rvb_").toString
    val t2 = System.nanoTime()
    val (f0, c0) = queries.Analytic.retentionState(
      e.where(col("ts") < lit("2025-01-06").cast("timestamp")))
    f0.write.mode("overwrite").parquet(s"$scratch/f0")
    c0.write.mode("overwrite").parquet(s"$scratch/c0")
    println(f"RETSETUP  standing 5-day first-seen + cells stored in " +
      f"${(System.nanoTime() - t2) / 1e9}%5.1f s")
    var (fPrev, cPrev) = (s"$scratch/f0", s"$scratch/c0")
    for ((lo, hi, tag) <- Seq(
        ("2025-01-06", "2025-01-07", "day6"),
        ("2025-01-07", "2025-01-09", "day7"))) {
      meter.take()
      val t3 = System.nanoTime()
      val batch = e.where(col("ts") >= lit(lo).cast("timestamp") &&
        col("ts") < lit(hi).cast("timestamp"))
      val (fN, cN) = queries.Analytic.mergeRetention(
        spark.read.parquet(fPrev), spark.read.parquet(cPrev), batch)
      fN.write.mode("overwrite").parquet(s"$scratch/f_$tag")
      cN.write.mode("overwrite").parquet(s"$scratch/c_$tag")
      println(f"RETMERGE  $tag batch folded in ${(System.nanoTime() - t3) / 1e9}%5.1f s  " +
        f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB  (${batch.count()}%,d events)")
      fPrev = s"$scratch/f_$tag"; cPrev = s"$scratch/c_$tag"
    }
    val mergedCells = spark.read.parquet(cPrev)
    val sz = mergedCells.where(col("day_offset") === 0)
      .select(col("cohort_day"), col("n_users").as("cohort_size"))
    val mergedRender = mergedCells.join(sz, "cohort_day")
      .select(col("cohort_day"), col("day_offset").cast("int").as("day_offset"),
        col("n_users"),
        round(col("n_users").cast("double") / col("cohort_size"), 4).as("retention"))
      .collect().map(r => (r.getDate(0).toString, r.getInt(1),
        r.getLong(2), r.getDouble(3))).toSet
    require(mergedRender == cells.toSet, {
      val diff = (mergedRender -- cells.toSet) ++ (cells.toSet -- mergedRender)
      s"incremental disagrees with recompute on ${diff.size} cells, e.g. ${diff.take(3)}"
    })
    println(f"RETINCVERIFY merged daily cells == full recompute, all ${cells.length}%,d cells")
    spark.stop()
  }
}
