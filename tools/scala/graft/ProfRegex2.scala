package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Second regex probe: the REAL dedup corpus, thread-count scaling,
  * regex vs JIT char-filter kernel. Quantifies the contention/bandwidth
  * penalty of java.util.regex inside 32-way codegen that a 4-thread
  * run underestimates.
  *
  * Usage: sbt "Test/runMain graft.ProfRegex2 /tmp/dedup2m 200000"
  */
object ProfRegex2 {
  def main(a: Array[String]): Unit = {
    val dir = a.headOption.getOrElse("/tmp/dedup2m")
    val n = a.lift(1).map(_.toLong).getOrElse(200000L)
    for (cpus <- Seq(4, 32)) {
      val spark = SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .appName(s"profregex2-$cpus").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") < n)
        .repartition(cpus).cache()
      val total = docs.count()
      val alnumLower = udf { (s: String) =>
        if (s == null) null
        else {
          val len = s.length
          val b = new java.lang.StringBuilder(len)
          var i = 0
          while (i < len) {
            val c = s.charAt(i)
            if ((c >= '0' && c <= '9') || (c >= 'a' && c <= 'z')) b.append(c)
            else if (c >= 'A' && c <= 'Z') b.append((c + 32).toChar)
            i += 1
          }
          b.toString
        }
      }
      def time(tag: String, fp: org.apache.spark.sql.Column): Unit = {
        val run = () => {
          val t0 = System.nanoTime()
          docs.select(md5(fp).as("fp")).queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e3 / total
        }
        run() // warmup
        println(f"PROFREGEX2 threads=$cpus%2d $tag%-10s ${run()}%8.1f us/doc wall (${total} docs)")
      }
      time("regex", lower(regexp_replace(col("text"), "[^a-zA-Z0-9]", "")))
      time("jit_udf", alnumLower(col("text")))
      docs.unpersist()
      spark.stop()
    }
  }
}
