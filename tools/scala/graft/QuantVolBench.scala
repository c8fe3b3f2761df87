package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Volume run for q107's bounded-domain exact quantiles at 2M docs
  * (the `curation_gen` corpus: token counts span the 121-value 62..182
  * domain over 5 languages, so the histogram relation is ~600 rows no
  * matter the corpus). Two exact plans over the same 2M rows:
  *
  *   - q107's registered plan: groupBy(lang, n) histogram →
  *     per-lang cumulative window over the domain-bounded relation →
  *     integer quantile test. The only corpus-sized exchange is the
  *     map-side-combined histogram aggregation.
  *   - the canonical exact plan: global per-lang sort + row_number,
  *     pick the type-1 elements — the full (lang, n) row stream
  *     through a range exchange.
  *
  * Both are EXACT, so the run asserts result equality row-for-row
  * (the cross-plan replay of the oracle identity) and reports
  * wall/shuffle for each. At 100 TB the sort plan's exchange is the
  * corpus; the histogram plan's exchange stays ~domain-sized.
  *
  * Usage: sbt "Test/runMain graft.QuantVolBench /tmp/cur2m"
  */
object QuantVolBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/cur2m")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val meter = new Meter(spark)

    // ---- canonical exact plan: per-lang sort + row_number (timed) -
    meter.take()
    val t2 = System.nanoTime()
    val rows = Tables.load(spark, dir, "documents")
      .select(col("lang"), size(split(trim(col("text")), " +")).cast("long").as("n"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n"))
    val ranked = rows
      .withColumn("rk", row_number().over(w))
      .withColumn("tot", count(lit(1)).over(Window.partitionBy(col("lang"))))
    val sorted = ranked.groupBy(col("lang")).agg(
        min(when(col("rk") * 100 >= col("tot") * 50, col("n"))).as("p50"),
        min(when(col("rk") * 100 >= col("tot") * 90, col("n"))).as("p90"),
        min(when(col("rk") * 100 >= col("tot") * 99, col("n"))).as("p99"),
        max(col("tot")).as("n_docs"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val sortS = (System.nanoTime() - t2) / 1e9
    println(f"QVSORT    full-sort plan: ${sorted.size}%d langs in $sortS%5.1f s  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.3f GB")

    // ---- q107's registered plan (timed) --------------------------
    meter.take()
    val t1 = System.nanoTime()
    val hist = Registry.queriesMap("q107_exact_quantiles")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val histS = (System.nanoTime() - t1) / 1e9
    println(f"QVHIST    histogram plan: ${hist.size}%d langs in $histS%5.1f s  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.3f GB")

    require(hist == sorted, s"plans disagree: $hist vs $sorted")
    println(f"QVVERIFY  histogram == full-sort, all langs " +
      f"(docs=${hist.values.map(_._4).sum}%,d)")
    hist.toSeq.sortBy(_._1).foreach { case (l, (a, b, c, n)) =>
      println(f"QVROW     $l%-3s p50=$a%4d p90=$b%4d p99=$c%4d n=$n%,10d") }
    spark.stop()
  }
}
