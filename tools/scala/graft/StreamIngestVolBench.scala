package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Volume run for q98's stream-static ingest gate (r9 VERDICT task 3 /
  * r10 task 2): the registered instance streams the sf corpus in ONE
  * AvailableNow batch, so neither micro-batch replay nor state growth
  * had volume evidence. This run replays the 2M-doc corpus's 10 %
  * incoming split (`tools/dedup_gen.py` ground-truth structure) as a
  * REAL micro-batch stream — the incoming docs are copied into many
  * part files and maxFilesPerTrigger turns those into batches — through
  * the IDENTICAL dataflow the registered q98 runs
  * ([[queries.StreamingOps.ingestGateStream]]: fused per-row JIT
  * signatures, zero stream-side shuffle, stateless static probe,
  * Complete-mode per-doc aggregate). Measured per batch: input rows and
  * state rows (the Complete agg's state = MATCHED incoming docs — the
  * bounded-state claim under test: it must track match count, never
  * input volume). Afterward the final Complete output is asserted EQUAL
  * to the batch q96 relation over the same corpus (stream == batch at
  * volume), and docs/s is the end-to-end stream wall over the incoming
  * split.
  *
  * Usage: SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=16g \
  *   sbt "Test/runMain graft.StreamIngestVolBench /tmp/dedup2m [parts] [filesPerTrigger]"
  */
object StreamIngestVolBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/dedup2m")
    val parts = args.lift(1).map(_.toInt).getOrElse(40)
    val filesPerTrigger = args.lift(2).map(_.toInt).getOrElse(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // ---- setup: copy the incoming 10% split into `parts` files -----
    val scratch = java.nio.file.Files.createTempDirectory("graft_sivb_").toString
    val inc = queries.h60(concat(lit("ingest:"), col("doc_id"))) % 10 === 0
    val src = s"$scratch/incoming"
    spark.read.parquet(s"$dir/documents.parquet").where(inc)
      .repartition(parts).write.parquet(src)
    val nIncoming = spark.read.parquet(src).count()
    println(f"SIVBSETUP incoming=$nIncoming%,d docs in $parts part files, " +
      f"$filesPerTrigger files/trigger")

    val meter = new Meter(spark)

    // ---- the stream: identical dataflow to the registered q98 ------
    val schema = spark.read.parquet(src).schema
    val docsStream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger).parquet(src)
    val gated = queries.StreamingOps.ingestGateStream(spark, dir, docsStream)
    val outDir = s"$scratch/out"
    val t0 = System.nanoTime()
    val q = gated.writeStream.outputMode(OutputMode.Complete())
      .option("checkpointLocation", s"$scratch/chk")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("overwrite").parquet(outDir); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"SIVBRUN   $dir docs=$nIncoming%,d streamed in $wall%6.1f s  " +
      f"(${nIncoming / wall}%,.0f docs/s end-to-end incl. static index build)")
    meter.take().progress.sortBy(_.batchId).foreach { p =>
      println(f"SIVBBATCH batch=${p.batchId}%2d rows=${p.numInputRows}%,8d " +
        f"stateRows=${p.stateOperators.map(_.numRowsTotal).sum}%,8d")
    }

    // ---- stream == batch at volume (untimed) -----------------------
    val streamed = queries.StreamingOps.ingestGateOutput(
      spark.read.parquet(outDir))
    val q96 = Registry.queriesMap("q96_incremental_dedup")(spark, dir)
    val sKeyed = streamed.select(col("doc_id"), col("n_matches"),
      col("best_match"), col("best_jaccard"))
    val diff = sKeyed.union(q96.select(col("doc_id"), col("n_matches"),
        col("best_match"), col("best_jaccard")))
      .groupBy(col("doc_id"), col("n_matches"), col("best_match"), col("best_jaccard"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2).count()
    val nMatched = streamed.count()
    Scratch.releaseAll()
    println(f"SIVBVERIFY matched=$nMatched%,d  mismatched_rows=$diff  " +
      (if (diff == 0) "(stream == q96 batch relation at volume)" else "MISMATCH"))
    require(diff == 0, s"$diff rows differ between streamed q98 and batch q96")
    spark.stop()
  }
}
