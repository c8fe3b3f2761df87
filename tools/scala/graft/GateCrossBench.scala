package graft

import org.apache.spark.sql.functions._

/** Crossover measurement for [[queries.Analytic.DedupBroadcastIdCap]]
  * (r17 VERDICT task 2 / ADVICE): the r17 SMVGATE A/B showed the
  * shuffle anti-join branch 4.5× FASTER than the broadcast probe at
  * 10.8M batch ids, so the old 20M default routed realistic large
  * batches to the measured-slower plan. This bench bisects the
  * crossover: the same 25.2M-id standing store, dirty batches at a
  * ladder of sizes (hash-subsampled from the full corpus, ~25 %
  * in-batch+cross-epoch duplicate pressure like q133's), each deduped
  * through BOTH branches of [[queries.Analytic.dedupBatchGated]]
  * (cap forced huge → broadcast probe; cap 0 → shuffle anti-join),
  * timed to the deduped batch's materialization, equality asserted.
  *
  * Usage: sbt "Test/runMain graft.GateCrossBench /tmp/events24m"
  */
object GateCrossBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/events24m")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val meter = new Meter(spark)

    val scratch = java.nio.file.Files.createTempDirectory("gatecross_").toString
    val e = Tables.load(spark, dir, "events")
    val isBatch = queries.h60(concat(lit("sessbatch:"), col("event_id"))) % 8 === 0

    // The q133 standing id store: all 7/8 standing event ids, stored.
    e.where(!isBatch).select(col("event_id"))
      .write.mode("overwrite").parquet(s"$scratch/ids")
    val ids = spark.read.parquet(s"$scratch/ids")
    println(f"GCSETUP   standing id store: ${ids.count()}%,d ids")

    // Ladder of dirty batches: a deterministic 1/D sample of ALL
    // events (so ~7/8 of each batch duplicates standing ids — the
    // redelivery-heavy shape where the dedup does real work), plus a
    // second copy of half of it (in-batch duplicate pressure).
    for (d <- Seq(192, 96, 48, 24, 12, 6, 3, 2)) {
      val samp = queries.h60(concat(lit("cross:"), col("event_id"))) % d === 0
      val redup = queries.h60(concat(lit("cross2:"), col("event_id"))) % (2 * d) === 0
      val dirty = e.where(samp).unionByName(e.where(samp && redup))
      val nUniq = e.where(samp).count()
      def timeBranch(cap: Long, label: String): (Long, Double, Double) = {
        Scratch.releaseAll()
        meter.take()
        val t0 = System.nanoTime()
        val n = queries.Analytic.dedupBatchGated(dirty, ids, cap).count()
        (n, (System.nanoTime() - t0) / 1e9, meter.take().shuffleWriteBytes / 1e9)
      }
      val (nB, sB, shB) = timeBranch(Long.MaxValue, "broadcast")
      val (nS, sS, shS) = timeBranch(0L, "shuffle")
      require(nB == nS, s"branches disagree at 1/$d: $nB vs $nS")
      val default =
        if (nUniq <= queries.Analytic.DedupBroadcastIdCap) "broadcast"
        else "shuffle"
      val winner = if (sB <= sS) "broadcast" else "shuffle"
      println(f"GCPOINT   batch=$nUniq%,d uniq ids: broadcast $sB%6.2f s " +
        f"(shuf $shB%.2f GB)  vs  shuffle $sS%6.2f s (shuf $shS%.2f GB)  " +
        f"-> $winner wins; default cap picks $default" +
        (if (default == winner) "" else "  ** MISROUTED **"))
    }
    spark.stop()
  }
}
