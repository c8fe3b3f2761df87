package graft

import org.apache.spark.sql.functions._

/** Volume row for the q149/q150/q151 sketch family at 28.7M events /
  * 240k users: the per-day HLL sketch build's defining scale property
  * is that it NEVER shuffles the corpus — duplicate-insensitivity
  * makes the (day, register) max map-side combinable, so the one
  * exchange carries days × 256 partial rows per task (r18 VERDICT
  * task 1; HllSpec pins the plan shape, this run pins the BYTES at
  * volume). The r18 build (a pre-aggregation `.distinct()` on
  * (day, user_id)) is run for contrast — and the honest finding
  * (ExplainHllDistinct, this round) is that Catalyst's
  * RemoveRedundantAggregates was ALREADY eliminating the distinct
  * (max is duplicate-agnostic), so the r18 plan never actually paid
  * the corpus-keyed exchange: both builds show the same ~0.2 MB
  * shuffle here. The source-level drop + the HllSpec plan pin turn
  * that from an optimizer courtesy into an explicit, regression-
  * guarded property of the operator. Finally merge == direct is
  * re-proven at volume: the per-day sketches merged by register max
  * equal the one-pass sketch over all events.
  *
  * Usage: sbt "Test/runMain graft.HllVolBench /tmp/events24m"
  */
object HllVolBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/events24m")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import queries.CurationOps

    val meter = new Meter(spark)

    val scratch = java.nio.file.Files.createTempDirectory("hll_").toString
    val e = Tables.load(spark, dir, "events")
    val nEvents = e.count()

    // ---- the REGISTERED build: daySketch, no pre-distinct.
    meter.take()
    val t0 = System.nanoTime()
    CurationOps.daySketch(e).write.mode("overwrite").parquet(s"$scratch/days")
    val wallA = (System.nanoTime() - t0) / 1e9
    val bytesA = meter.take().shuffleWriteBytes
    val store = spark.read.parquet(s"$scratch/days")
    val nStore = store.count()
    // The claim is "effectively zero at any scale": the exchange
    // carries only per-task (day, register) partials. 64 MB is two
    // orders of magnitude above what days x 256 x tasks can produce
    // and three below the corpus-keyed alternative.
    require(bytesA < (64L << 20),
      s"sketch build shuffled ${bytesA / 1e6} MB — the map-side combine regressed")
    println(f"HLLBUILD   per-day sketch store over $nEvents%,d events: " +
      f"$nStore%,d (day,register) rows in $wallA%5.1f s  " +
      f"shufWrite=${bytesA / 1e6}%.1f MB (map-side combined)")

    // ---- the r18 shape, for contrast: pre-distinct on (day, user).
    meter.take()
    val t1 = System.nanoTime()
    val (reg, rho) = CurationOps.hllRegRho(col("user_id"))
    e.select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .select(col("day"), reg.as("register_id"), rho.as("rho"))
      .groupBy(col("day"), col("register_id"))
      .agg(max(col("rho")).as("max_rho"))
      .write.mode("overwrite").parquet(s"$scratch/days_distinct")
    val wallB = (System.nanoTime() - t1) / 1e9
    val bytesB = meter.take().shuffleWriteBytes
    println(f"HLLDISTINCT r18 pre-distinct build: $wallB%5.1f s  " +
      f"shufWrite=${bytesB / 1e6}%.1f MB — identical exchange: Catalyst's " +
      f"RemoveRedundantAggregates already elided the distinct under the " +
      f"duplicate-agnostic max (see ExplainHllDistinct); the source drop + " +
      f"HllSpec pin make the property explicit, not optimizer-dependent")

    // Registers identical — duplicate-insensitivity at volume.
    val viaDistinct = spark.read.parquet(s"$scratch/days_distinct")
    val diff = store.unionByName(viaDistinct)
      .groupBy(col("day"), col("register_id"), col("max_rho"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2).count()
    require(diff == 0, s"$diff (day,register) rows differ with/without the distinct")

    // ---- merge == direct at volume: per-day maxima merged by
    // register max == the one-pass sketch over all events.
    val merged = store.groupBy(col("register_id"))
      .agg(max(col("max_rho")).as("max_rho"))
    val direct = e.select(reg.as("register_id"), rho.as("rho"))
      .groupBy(col("register_id")).agg(max(col("rho")).as("max_rho"))
    val diff2 = merged.unionByName(direct)
      .groupBy(col("register_id"), col("max_rho"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2).count()
    require(diff2 == 0, s"$diff2 registers differ between merge and direct")
    println(f"HLLVERIFY  distinct == no-distinct ($nStore%,d rows, 0 mismatches); " +
      f"merge(per-day) == direct one-pass sketch (0 register mismatches)")
    spark.stop()
  }
}
