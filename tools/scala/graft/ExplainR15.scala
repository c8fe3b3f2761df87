package graft

import org.apache.spark.sql.functions._

/** Plan audit for the round-15 operators: q125/q126's erasure plans
  * (the scaladoc claims: decrement bounded by the removal batch's
  * activity, first-seen/state deletes are broadcast anti-joins,
  * nothing corpus-sized shuffles beyond the standing-state build)
  * and the prepared q105/q119/q120 merge bodies. Prints
  * exchange/broadcast node counts of the AQE-resolved executed plans
  * at sf0.01.
  *
  * Usage: sbt "Test/runMain graft.ExplainR15"
  */
object ExplainR15 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (q <- Seq("q125_retention_erase", "q126_funnel_erase",
        "q105_cluster_merge", "q119_funnel_merge", "q120_retention_merge")) {
      // Audit the PREPARED body where one exists — the deployment
      // shape whose plan the scaladoc describes (standing state read
      // from storage, not rebuilt inline).
      Registry.preparesMap.get(q).foreach(p => p(spark, dir))
      val df = Registry.queriesMap(q)(spark, dir)
      df.collect() // materialize so AQE resolves the final plan
      val plan = df.queryExecution.executedPlan.toString
      def n(s: String) = s.r.findAllIn(plan).size
      println(f"EXPLAIN $q%-24s shuffleEx=${n("Exchange hashpartitioning|Exchange rangepartitioning")}%2d  " +
        f"broadcastEx=${n("BroadcastExchange")}%2d  bhj=${n("BroadcastHashJoin")}%2d  " +
        f"bnlj=${n("BroadcastNestedLoopJoin")}%2d  smj=${n("SortMergeJoin")}%2d")
      Scratch.releaseAll()
    }
    spark.stop()
  }
}
