package graft

import org.apache.spark.sql.functions._

/** Volume run for q108's DSIR importance weighting at 2M docs, on the
  * `tools/dsir_gen.py` corpus where selection has GROUND TRUTH: the
  * target is a semantic domain (lang='es', base text + a Zipf-head of
  * 16 motif bigram pairs) and exactly the residue-99 raw docs are
  * planted in-domain (same motifs, lang='en'). The registered h60
  * split can't provide this — target and raw drawn from the same
  * distribution score as noise by construction — so the bench drives
  * the SAME `dsirScores` dataflow with `tgt = (lang = 'es')`.
  *
  * Asserted over all 2M docs:
  *   - the top-1000 raw docs by DSIR score are ALL planted (residue
  *     99) — the selection finds exactly the in-domain needles in a
  *     1.94M-doc out-of-domain haystack;
  *   - score separation: min(top-1000) is reported against the
  *     corpus-wide raw quantiles from a 10k-doc spot sample.
  *
  * Reported: wall, shuffle GB (the only corpus-sized exchange is the
  * per-doc partial-sum groupBy — the count/weight tables are ≤ 8192
  * rows and broadcast).
  *
  * Usage: python3 tools/dsir_gen.py /tmp/dsir2m 2000000 &&
  *   sbt "Test/runMain graft.DsirVolBench /tmp/dsir2m"
  */
object DsirVolBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/dsir2m")
    val topK = args.lift(1).map(_.toInt).getOrElse(1000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val meter = new Meter(spark)

    meter.take()
    val t1 = System.nanoTime()
    val top = queries.CurationOps.dsirScores(spark, dir,
        col("lang") === "es", topK)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val wallS = (System.nanoTime() - t1) / 1e9
    println(f"DSVRUN    top-$topK%,d of 2M docs scored in $wallS%5.1f s  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")

    val planted = top.count(_._1 % 100 == 99)
    println(f"DSVTOP    planted in top-$topK%,d: $planted%,d  " +
      f"score range [${top.map(_._2).min}%.1f, ${top.map(_._2).max}%.1f]")
    require(planted == topK,
      s"selection ground truth violated: ${topK - planted} out-of-domain docs in the top-$topK")

    // Spot sample of out-of-domain raw scores for the separation report.
    val sample = queries.CurationOps.dsirScoredAll(spark, dir,
        col("lang") === "es")
      .where(col("doc_id") % 100 =!= 99).where(col("doc_id") % 200 === 0)
      .agg(max(col("dsir_score")), avg(col("dsir_score"))).collect()(0)
    println(f"DSVVERIFY all top-$topK%,d planted; out-of-domain spot sample: " +
      f"max=${sample.getDouble(0)}%.1f avg=${sample.getDouble(1)}%.1f " +
      f"vs planted min=${top.map(_._2).min}%.1f")
    spark.stop()
  }
}
