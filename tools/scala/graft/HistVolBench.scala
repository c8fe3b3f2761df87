package graft

import org.apache.spark.sql.functions._

/** Volume run for q112's incremental quantile maintenance at 2M docs:
  * the standing (lang, n) histogram is STORED to parquet (the
  * production shape — the corpus is not re-tokenized to update a
  * monitor), a 10 % batch histogram is merged in, and the merged
  * quantiles are asserted equal to the full q107 recompute over all
  * 2M docs. The merge itself touches only the two histograms
  * (domain-bounded — ~600 rows here), so the per-batch cost is the
  * batch's own scan; the report separates the two.
  *
  * A final DECREMENT phase (q118) subtracts a 10 % takedown batch's
  * histogram from the stored full-corpus histogram and asserts the
  * post-removal quantiles equal a survivors-only recompute.
  *
  * Usage: sbt "Test/runMain graft.HistVolBench /tmp/cur2m"
  */
object HistVolBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/cur2m")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val meter = new Meter(spark)
    val inc = queries.h60(concat(lit("qtile:"), col("doc_id"))) % 10 === 0
    val standingPath = java.nio.file.Files.createTempDirectory("histvol").toString

    // One-time: build + store the standing 90% histogram.
    meter.take()
    val t0 = System.nanoTime()
    queries.CurationOps.tokenHistFor(spark, dir, !inc)
      .write.mode("overwrite").parquet(s"$standingPath/hist.parquet")
    val buildS = (System.nanoTime() - t0) / 1e9
    val standing = spark.read.parquet(s"$standingPath/hist.parquet")
    println(f"HISTSETUP standing 90%% histogram built+stored in $buildS%5.1f s  " +
      f"rows=${standing.count()}%,d  shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.3f GB")

    // Per-batch: scan the 10% batch, merge, read quantiles.
    meter.take()
    val t1 = System.nanoTime()
    val merged = queries.CurationOps.quantilesOf(queries.CurationOps.mergeHist(
        standing, queries.CurationOps.tokenHistFor(spark, dir, inc)))
      .collect().map(_.toSeq).toSeq
    val mergeS = (System.nanoTime() - t1) / 1e9
    println(f"HISTMERGE batch merged + quantiles read in $mergeS%5.1f s  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.3f GB")

    val direct = Registry.queriesMap("q107_exact_quantiles")(spark, dir)
      .collect().map(_.toSeq).toSeq
    require(merged == direct,
      s"incremental != full recompute: $merged vs $direct")
    println(f"HISTVERIFY merged quantiles == full 2M-doc recompute, all langs")

    // ---- decrement phase (q118): a 10 % takedown batch leaves the
    // standing FULL-corpus histogram (stored untimed — in production
    // it is the running monitor state). Timed body: scan the removed
    // batch, histogram it, subtract, read quantiles — the batch's own
    // scan plus a domain-bounded join, like the merge phase.
    meter.take()
    val t2 = System.nanoTime()
    queries.CurationOps.tokenHistFor(spark, dir, lit(true))
      .write.mode("overwrite").parquet(s"$standingPath/histFull.parquet")
    println(f"HISTSETUP standing full histogram stored in " +
      f"${(System.nanoTime() - t2) / 1e9}%5.1f s")
    val rem = queries.h60(concat(lit("remove:"), col("doc_id"))) % 10 === 0
    meter.take()
    val t3 = System.nanoTime()
    val removedQ = queries.CurationOps.quantilesOf(queries.CurationOps.removeFromHist(
        spark.read.parquet(s"$standingPath/histFull.parquet"),
        queries.CurationOps.tokenHistFor(spark, dir, rem)))
      .collect().map(_.toSeq).toSeq
    val remS = (System.nanoTime() - t3) / 1e9
    println(f"HISTRM    takedown batch subtracted + quantiles read in $remS%5.1f s  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.3f GB")
    val directRm = queries.CurationOps.quantilesOf(
        queries.CurationOps.tokenHistFor(spark, dir, !rem))
      .collect().map(_.toSeq).toSeq
    require(removedQ == directRm,
      s"decrement != survivors recompute: $removedQ vs $directRm")
    println(f"HISTRMVERIFY decremented quantiles == survivors-only recompute, all langs")
    spark.stop()
  }
}
