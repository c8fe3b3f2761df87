package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Volume exercise for the streaming curation gate (q86's dataflow):
  * stream the 2M-document curation corpus through the quality-gate
  * aggregation as a RATE-LIMITED file stream (maxFilesPerTrigger over
  * a multi-part copy of the corpus), so the run exercises real
  * micro-batch mechanics — state reload per batch, Complete-mode
  * re-emission, checkpoint commits — instead of one giant batch.
  *
  * Records per-run: wall, rows, docs/sec, micro-batch count, and the
  * state store's row count + memory from the progress events — the
  * evidence that Complete-mode state is bounded by source cardinality
  * (the per-source counters), never by document volume.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.StreamBench
  *   [corpusDir] [filesPerTrigger] [nParts]"
  * (corpus: python3 tools/curation_gen.py /tmp/curation2m 2000000)
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/curation2m")
    val filesPerTrigger = args.lift(1).map(_.toInt).getOrElse(4)
    val nParts = args.lift(2).map(_.toInt).getOrElse(64)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // One-time: split the single-file corpus into nParts files so
    // maxFilesPerTrigger produces a real micro-batch cadence.
    val streamSrc = s"$dir/stream_parts"
    if (!new java.io.File(streamSrc).isDirectory)
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("source"), col("text"))
        .repartition(nParts)
        .write.mode("overwrite").parquet(streamSrc)
    val schema = spark.read.parquet(streamSrc).schema

    val meter = new Meter(spark)

    val out = java.nio.file.Files.createTempDirectory("graft_stream_bench_").toString
    val gated = queries.CurationOps.withGateFlags(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger)
        .parquet(streamSrc)
        .select(col("source"), col("text")))
    val agg = gated.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(lit(1) - col("f_len")).as("rej_len"),
        sum(lit(1) - col("f_mean")).as("rej_mean"),
        sum(lit(1) - col("f_stop")).as("rej_stop"),
        sum(lit(1) - col("f_alpha")).as("rej_alpha"),
        sum(lit(1) - col("keep")).as("n_reject"))
    val t0 = System.nanoTime()
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .option("checkpointLocation", s"$out/chk")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/data"); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val progress = meter.take().progress
    val rowsIn = progress.map(_.numInputRows).sum
    val states = progress.flatMap(_.stateOperators)
    val result = spark.read.parquet(s"$out/data")
      .orderBy(col("source")).collect()
    val total = result.map(_.getLong(1)).sum
    println(f"STREAMBENCH wall=$wall%7.1f s  rows=$rowsIn%,d (agg total=$total%,d)  " +
      f"docs/sec=${rowsIn / wall}%,.0f  batches=${progress.count(_.numInputRows > 0)}  " +
      f"stateRowsMax=${states.map(_.numRowsTotal).maxOption.getOrElse(0L)}  " +
      f"stateMemMax=${states.map(_.memoryUsedBytes).maxOption.getOrElse(0L) / 1024}%,d KiB")
    result.foreach(r => println(s"STREAMBENCH   $r"))
    spark.stop()
  }
}
