package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** The zero-shuffle funnel claim, demonstrated (q113's scaladoc: "a
  * deployment that bucketizes events by user pays zero shuffles").
  * The same funnel dataflow (Analytic.funnelStates + q113's
  * projection, minus the presentation sort) runs twice over 28.7M
  * events:
  *
  *   - PLAIN: the flat parquet events table — every groupBy(user_id)
  *     and join(user_id) exchanges on user_id;
  *   - BUCKETED: the identical rows stored once as a
  *     bucketBy(user_id) table — the scan itself reports the hash
  *     distribution, so Catalyst elides EVERY shuffle exchange; the
  *     executed plan is asserted to contain ZERO ShuffleExchange
  *     nodes (broadcasts are disabled so the joins cannot dodge the
  *     claim by broadcasting instead).
  *
  * The one-time bucketed write is the layout cost a deployment pays
  * once and amortizes over every per-user query (funnel, retention,
  * sessionization, the q119/q120 incremental merges — all keyed on
  * user_id); it is reported untimed, like the volbench standing-state
  * setups.
  *
  * Usage: sbt "Test/runMain graft.BucketedFunnelBench /tmp/events24m"
  */
object BucketedFunnelBench extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/events24m")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val wh = java.nio.file.Files.createTempDirectory("graft_bfb_wh_").toString
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", wh)
      // The claim is "no shuffle", not "small dimension": forbid the
      // planner from replacing the user_id joins with broadcasts.
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val meter = new Meter(spark)

    // q113's projection WITHOUT the presentation orderBy: the final
    // sort exists for oracle determinism and costs a range exchange
    // in any layout — the zero-shuffle claim is about COMPUTING the
    // per-user relation, so results are compared sorted client-side.
    def funnel(e: org.apache.spark.sql.DataFrame) =
      queries.Analytic.funnelStates(e).select(
        col("user_id"),
        when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
          .otherwise(1).cast("int").as("reached_step"),
        (unix_micros(col("t2")) - unix_micros(col("t1"))).as("v2c_micros"),
        (unix_micros(col("t3")) - unix_micros(col("t2"))).as("c2p_micros"))

    // ---- plain flat-parquet run (timed) ---------------------------
    meter.take()
    val t0 = System.nanoTime()
    val plainDf = funnel(Tables.load(spark, dir, "events"))
    val plain = plainDf.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val plainS = (System.nanoTime() - t0) / 1e9
    val plainShuf = meter.take().shuffleWriteBytes
    println(f"BFBPLAIN  ${plain.length}%,d funnel users in $plainS%5.1f s  " +
      f"shufWrite=${plainShuf / 1e9}%.3f GB  " +
      f"shuffleExchanges=${countShuffles(plainDf)}%d")

    // ---- one-time bucketed layout (untimed setup) -----------------
    val t1 = System.nanoTime()
    spark.sql("DROP TABLE IF EXISTS events_bucketed")
    Tables.load(spark, dir, "events")
      .write.bucketBy(32, "user_id").sortBy("user_id")
      .format("parquet").saveAsTable("events_bucketed")
    println(f"BFBSETUP  user-bucketed layout written once in " +
      f"${(System.nanoTime() - t1) / 1e9}%5.1f s")

    // ---- bucketed run (timed) -------------------------------------
    meter.take()
    val t2 = System.nanoTime()
    val bucketedDf = funnel(spark.table("events_bucketed"))
    val bucketed = bucketedDf.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val bucketedS = (System.nanoTime() - t2) / 1e9
    val nShuffles = countShuffles(bucketedDf)
    println(f"BFBBUCKET ${bucketed.length}%,d funnel users in $bucketedS%5.1f s  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.3f GB  " +
      f"shuffleExchanges=$nShuffles%d")

    require(plain.toSeq == bucketed.toSeq,
      "bucketed funnel disagrees with the flat-parquet run")
    require(nShuffles == 0,
      s"bucketed plan still contains $nShuffles shuffle exchange(s)")
    require(countShuffles(plainDf) > 0,
      "plain plan shows no shuffles — the comparison is vacuous")
    println(f"BFBVERIFY bucketed == plain (${plain.length}%,d users); " +
      "bucketed executed plan has ZERO shuffle exchanges")
    spark.stop()
  }

  /** Shuffle-exchange count in the EXECUTED plan (AQE-resolved;
    * broadcast exchanges counted separately would also be zero here
    * because broadcasts are disabled, but the claim under test is
    * specifically about shuffles). */
  private def countShuffles(df: org.apache.spark.sql.DataFrame): Int =
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeLike => e
    }.size
}
