package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Volume run for q115's streaming funnel: 28.7M events replayed
  * through REAL micro-batches (the 64 time-ordered `events_gen` part
  * files, 8 files per trigger → 8 batches whose event time advances
  * like a live feed), per-user funnel state via the registered
  * `FunnelHandler`, final relation asserted equal to q113's batch
  * cascade over the same files — the q96==q98 proof, funnel edition.
  * Also reports the emission log's size: reached_step transitions
  * only, so state-change traffic is bounded by 3 × users, not by
  * events.
  *
  * A RETIRING phase (q121) then replays the same batches through
  * the q121 handler (Retire.Idle) and reports per-batch state
  * rows — the state-decline evidence the NoTimeout twin cannot give —
  * plus honest reached-step agreement counts vs the batch relation.
  *
  * Usage: sbt "Test/runMain graft.StreamFunnelVolBench /tmp/events24m"
  */
object StreamFunnelVolBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/events24m")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      // Same as Tables.load: plain parquet timestamps are instants
      // (NTZ-inferred ts would fail unix_micros' type check).
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val parts = s"$dir/events_parts"
    val schema = spark.read.parquet(parts).schema
    val scratch = java.nio.file.Files.createTempDirectory("sfunnel").toString
    val (data, chk) = (s"$scratch/data", s"$scratch/chk")

    val t1 = System.nanoTime()
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val events = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 8)
      .parquet(parts)
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_type"))
      // Per-batch event-time range, read back from query progress
      // below: stream == batch holds only under time-ordered arrival
      // across micro-batches (the funnel cascade's documented contract), so a
      // mis-ordered replay must fail LOUDLY here instead of producing
      // a plausible-but-wrong relation (r11 ADVICE).
      .observe("tsrange", min(col("ts_us")).as("minTs"), max(col("ts_us")).as("maxTs"))
      .as[queries.StreamingOps.FunnelEvent]
    val out = events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
        queries.StreamingOps.FunnelHandler("q115",
          queries.StreamingOps.Retire.Never, queries.StreamingOps.Erase.Never))
    val q = out.writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", chk)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[queries.StreamingOps.FunnelOutE], id: Long) =>
        val n = b.count()
        batches.incrementAndGet()
        println(f"SFVBATCH  batch=$id%2d emissions=$n%,d")
        b.toDF().write.mode("append").parquet(data); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // Time-ordered-arrival assert: each data batch's min event time
    // must be >= every earlier batch's max (AvailableNow over ≤100
    // batches keeps them all in recentProgress).
    val ranges = q.recentProgress.toSeq
      .filter(p => p.numInputRows > 0 && p.observedMetrics.containsKey("tsrange"))
      .sortBy(_.batchId)
      .flatMap { p =>
        val r = p.observedMetrics.get("tsrange")
        // A batch whose rows were ALL filtered before the observe
        // (possible if a trigger's files carry only signup events)
        // reports null min/max — it constrains nothing, skip it
        // instead of NPEing (r12 ADVICE).
        if (r.isNullAt(r.fieldIndex("minTs"))) None
        else Some((p.batchId, r.getLong(r.fieldIndex("minTs")),
          r.getLong(r.fieldIndex("maxTs"))))
      }
    // The ordering proof needs at least two observed batches — with
    // fewer, sliding(2) yields no comparable window and the assert
    // below would pass vacuously (r12 ADVICE).
    require(ranges.size >= 2,
      s"only ${ranges.size} observed data batches — the multi-batch ordering " +
        "claim is vacuous; check maxFilesPerTrigger vs the part-file count")
    ranges.sliding(2).foreach {
      case Seq((b0, _, hi0), (b1, lo1, _)) =>
        require(lo1 >= hi0, s"micro-batch replay not time-ordered: batch $b1 " +
          s"min ts $lo1 < batch $b0 max ts $hi0 — stream==batch is void on this input")
      case _ => ()
    }
    println(f"SFVORDER  event-time monotone across ${ranges.size}%d data batches " +
      "(time-ordered-arrival precondition holds)")
    val raw = spark.read.parquet(data)
    val stream = queries.StreamingOps.funnelFinal(raw)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    val wallS = (System.nanoTime() - t1) / 1e9
    println(f"SFVRUN    ${stream.size}%,d funnel users streamed through " +
      f"${batches.get()}%d micro-batches in $wallS%5.1f s  " +
      f"emission log=${raw.count()}%,d rows (state-change transitions only)")

    // Batch reference over the same files.
    val batch = Registry.queriesMap("q113_funnel")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    require(stream == batch, {
      val diff = (stream.keySet ++ batch.keySet)
        .filter(k => stream.get(k) != batch.get(k)).take(3)
      s"stream != batch for ${diff.size}+ users, e.g. " +
        diff.map(k => s"$k: ${stream.get(k)} vs ${batch.get(k)}").mkString("; ")
    })
    println(f"SFVVERIFY stream == q113 batch relation, all ${stream.size}%,d users")

    // ---- retiring phase (q121): the same replay through
    // the q121 handler (Retire.Idle). The claim under test is
    // STATE DECLINE — q115's NoTimeout state is one row per lifetime
    // user (240k, forever); the retiring variant holds only
    // incomplete funnels touched within the horizon. Agreement with
    // the batch relation is reported honestly per class: retirement
    // is an approximation (an idle user's anchors are forgotten, a
    // returning user restarts), so divergence counts are printed,
    // not hidden — the registered oracle equality lives at sf where
    // the single-batch replay is exact.
    val t5 = System.nanoTime()
    val events2 = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 8)
      .parquet(parts)
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("ts"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .withWatermark("ts", "0 seconds")
      .as[queries.StreamingOps.FunnelEventWm]
    val out2 = events2.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
        queries.StreamingOps.FunnelHandler("q121",
          queries.StreamingOps.Retire.Idle(queries.StreamingOps.FunnelIdleHorizonUs, onComplete = true),
          queries.StreamingOps.Erase.Never))
    val (data2, chk2) = (s"$scratch/data_retire", s"$scratch/chk_retire")
    val q2 = out2.writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", chk2)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[queries.StreamingOps.FunnelOutE], id: Long) =>
        b.toDF().write.mode("append").parquet(data2); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val sr = q2.recentProgress.toSeq.sortBy(_.batchId)
      .filter(_.stateOperators.nonEmpty)
      .map(p => (p.batchId, p.stateOperators.map(_.numRowsTotal).sum))
    sr.foreach { case (b, n) => println(f"SFVRETIRE batch=$b%2d stateRows=$n%,d") }
    val retire = queries.StreamingOps.funnelFinal(spark.read.parquet(data2))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val agree = retire.count { case (u, s) => batch.get(u).exists(_._1 == s) }
    println(f"SFVRETIRE ${(System.nanoTime() - t5) / 1e9}%5.1f s  " +
      f"peak_state=${sr.map(_._2).max}%,d  final_state=${sr.last._2}%,d  " +
      f"(q115 NoTimeout holds ${batch.size}%,d forever)  " +
      f"reached-step agreement $agree%,d/${retire.size}%,d vs batch")
    require(sr.last._2 < sr.map(_._2).max,
      "state rows never declined — retirement did nothing at volume")
    require(sr.map(_._2).max < batch.size,
      "peak state reached lifetime-user cardinality — completed funnels are not retiring")
    spark.stop()
  }
}
