package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQueryListener, Trigger}

/** Volume exercise for the four event-stream operators (q65-q68's
  * dataflows) on a multi-million-event corpus replayed as a
  * RATE-LIMITED file stream: `tools/events_gen.py` writes the corpus
  * in global time order across many part files, and maxFilesPerTrigger
  * turns those into micro-batches whose event time advances like a
  * live feed — which is exactly what makes the STATE-GROWTH curves
  * (the point of this bench) measurable:
  *
  *   q65  Complete-mode windowed agg — state bounded by
  *        windows x event_types, never by input rows.
  *   q66  dropDuplicates — state grows to the distinct-KEY cardinality
  *        (users x types), not input volume; `q66wm` runs the
  *        watermarked `dropDuplicatesWithinWatermark` variant whose
  *        state is bounded by the keys seen inside the watermark
  *        horizon — the unbounded-key-space production answer.
  *   q67  flatMapGroupsWithState sessions — state = one open session
  *        per active user.
  *   q68  stream-stream interval join with 1h watermarks — buffered
  *        state plateaus at the watermark+interval time slice of the
  *        feed and is evicted as the watermark advances (no-data
  *        batches stay ENABLED here, unlike the single-batch
  *        registered instance, because eviction is what we measure).
  *
  * Each mode also asserts its aggregate result equals the same
  * computation run as a BATCH over the identical files — the volume
  * correctness row (time-ordered replay + 1h watermark means nothing
  * is late-dropped, so stream and batch must agree exactly).
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.StreamVolBench
  *   <q65|q66|q66wm|q67|q68> [corpusDir] [filesPerTrigger]"
  * (corpus: python3 tools/events_gen.py /tmp/events20m 20000000)
  */
object StreamVolBench {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("q65")
    val dir = args.lift(1).getOrElse("/tmp/events20m")
    val filesPerTrigger = args.lift(2).map(_.toInt).getOrElse(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // Same as Tables.load: plain parquet timestamps are instants.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val src = s"$dir/events_parts"
    val schema = spark.read.parquet(src).schema
    // Streaming shuffle width: same rationale as StreamingOps — each
    // micro-batch commits one state delta per partition per store, so
    // width is a fixed per-batch cost. 16 balances that against the
    // real state volume here (hundreds of MB for q66/q68).
    val streamParts = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "16")

    final case class BatchRow(batch: Long, rows: Long, stateRows: Long, stateMemMB: Double)
    val curve = new java.util.concurrent.ConcurrentLinkedQueue[BatchRow]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val sr = p.stateOperators.map(_.numRowsTotal).sum
        val sm = p.stateOperators.map(_.memoryUsedBytes).sum
        curve.add(BatchRow(p.batchId, p.numInputRows, sr, sm / 1e6))
      }
    })

    val out = java.nio.file.Files.createTempDirectory("graft_svb_").toString
    def stream(): DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger).parquet(src)
    def batch(): DataFrame = spark.read.parquet(src)

    /** Run to completion (AvailableNow), return (wall, result-reader). */
    def run(start: String => org.apache.spark.sql.streaming.StreamingQuery): Double = {
      spark.conf.set("spark.sql.shuffle.partitions", streamParts)
      val t0 = System.nanoTime()
      val q = start(s"$out/chk")
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.conf.set("spark.sql.shuffle.partitions", cpus)
      Thread.sleep(2000) // listener bus drain
      wall
    }
    def sinkToParquet(df: DataFrame): Double = run(chk =>
      df.writeStream.format("parquet").option("path", s"$out/data")
        .option("checkpointLocation", chk).outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start())
    def sinkBatches[T](ds: Dataset[T], m: OutputMode, per: String): Double = run(chk =>
      ds.writeStream.outputMode(m).option("checkpointLocation", chk)
        .foreachBatch { (b: Dataset[T], _: Long) =>
          b.toDF().write.mode(per).parquet(s"$out/data"); ()
        }.trigger(Trigger.AvailableNow()).start())

    def report(wall: Double, streamAgg: Seq[(String, Long)], batchAgg: Seq[(String, Long)]): Unit = {
      val rows = curve.toArray(Array.empty[BatchRow])
      val totalIn = rows.map(_.rows).sum
      val maxState = if (rows.isEmpty) 0L else rows.map(_.stateRows).max
      val maxMem = if (rows.isEmpty) 0.0 else rows.map(_.stateMemMB).max
      println(f"STREAMVOL $mode%-6s wall=$wall%7.1f s  rows=$totalIn%,d  " +
        f"rows/sec=${totalIn / wall}%,.0f  batches=${rows.count(_.rows > 0)}  " +
        f"stateRowsMax=$maxState%,d  stateMemMax=$maxMem%,.0f MB")
      // State-growth curve, ~8 sampled points.
      val dataRows = rows.filter(_.rows > 0).sortBy(_.batch)
      val step = math.max(1, dataRows.length / 8)
      dataRows.zipWithIndex
        .filter { case (_, i) => i % step == 0 || i == dataRows.length - 1 }
        .foreach { case (b, _) =>
          println(f"STREAMVOL   batch=${b.batch}%3d in=${b.rows}%,10d state=${b.stateRows}%,10d (${b.stateMemMB}%,.0f MB)") }
      val ok = streamAgg == batchAgg
      println(s"STREAMVOL   batch-equivalence: ${if (ok) "EXACT" else "MISMATCH"}")
      if (!ok) {
        println(s"STREAMVOL     stream=$streamAgg")
        println(s"STREAMVOL     batch =$batchAgg")
        sys.exit(1)
      }
    }
    def kv(df: DataFrame): Seq[(String, Long)] =
      df.collect().map(r => (r.get(0).toString, r.getLong(1))).toSeq.sortBy(_._1)

    mode match {
      case "q65" =>
        val agg = stream()
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events"), queries.dsum(col("value")).as("sum_value"))
          .select(unix_micros(col("window.start")).as("w_us"), col("event_type"),
            col("n_events"), col("sum_value"))
        val wall = sinkBatches(agg, OutputMode.Complete(), "overwrite")
        val s = spark.read.parquet(s"$out/data")
          .select(concat_ws("|", col("w_us"), col("event_type")).as("k"),
            col("n_events"))
        val b = batch()
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events"))
          .select(concat_ws("|", unix_micros(col("window.start")), col("event_type")).as("k"),
            col("n_events"))
        report(wall, kv(s), kv(b))

      case "q66" | "q66wm" =>
        val base = stream().select(col("ts"), col("user_id"), col("event_type"))
        val dedup =
          if (mode == "q66wm")
            base.withWatermark("ts", "1 hour")
              .dropDuplicatesWithinWatermark("user_id", "event_type")
          else base.dropDuplicates("user_id", "event_type")
        val wall = sinkToParquet(dedup.drop("ts"))
        val s = spark.read.parquet(s"$out/data")
          // The watermarked variant re-emits a key when it recurs past
          // the horizon (by design); distinct-per-type over the sink
          // restores the comparable count.
          .dropDuplicates("user_id", "event_type")
          .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        val b = batch().select(col("user_id"), col("event_type")).distinct()
          .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        report(wall, kv(s), kv(b))

      case "q67" =>
        val events = stream()
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
          .as[queries.StreamingOps.SessionEvent]
        val sessions = events.groupByKey(_.user_id)
          .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
            queries.StreamingOps.SessionHandler("q67",
              queries.StreamingOps.Retire.Never, queries.StreamingOps.Erase.Never))
        val wall = sinkBatches(sessions, OutputMode.Update(), "append")
        val s = spark.read.parquet(s"$out/data")
          .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
          .select(lit("closed").as("k"), col("n_sessions"), col("n_events"))
        // Batch truth: gap-split sessions minus each user's open tail.
        val gaps = batch().select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
          .withColumn("prev", lag(col("ts_us"), 1).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("user_id")).orderBy(col("ts_us"))))
          .withColumn("brk", when(col("prev").isNull ||
            col("ts_us") - col("prev") > 30L * 60 * 1000000, 1).otherwise(0))
        // Closed sessions = gap-split sessions minus each user's open
        // tail: events whose session-id < the user's max session-id.
        val sess = gaps.withColumn("sid", sum(col("brk")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("ts_us"))
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        val maxSid = sess.groupBy(col("user_id")).agg(max(col("sid")).as("last_sid"))
        val closed = sess.join(maxSid, "user_id").where(col("sid") < col("last_sid"))
        val bAgg = closed.groupBy(col("user_id"), col("sid")).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"))
          .select(lit("closed").as("k"), col("n_sessions"), col("n_events"))
        val sRow = s.collect().head
        val bRow = bAgg.collect().head
        report(wall,
          Seq(("sessions", sRow.getLong(1)), ("events", sRow.getLong(2))),
          Seq(("sessions", bRow.getLong(1)), ("events", bRow.getLong(2))))

      case "q68" =>
        def purchases(df: DataFrame) = df.where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
        def clicks(df: DataFrame) = df.where(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
            col("ts").as("c_ts"))
        val joined = purchases(stream()).withWatermark("p_ts", "1 hour")
          .join(clicks(stream()).withWatermark("c_ts", "1 hour"),
            col("user_id") === col("c_user") &&
              col("c_ts") >= col("p_ts") - expr("interval 10 minutes") &&
              col("c_ts") <= col("p_ts"))
          .select(col("p_id"), col("c_id"))
        val wall = sinkToParquet(joined)
        val s = spark.read.parquet(s"$out/data")
          .agg(count(lit(1)).as("n")).select(lit("pairs").as("k"), col("n"))
        val bdf = batch()
        val b = purchases(bdf).join(clicks(bdf),
          col("user_id") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("interval 10 minutes") &&
            col("c_ts") <= col("p_ts"))
          .agg(count(lit(1)).as("n")).select(lit("pairs").as("k"), col("n"))
        report(wall, kv(s), kv(b))

      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
