package graft

import org.apache.spark.sql.functions._

/** Volume run for q131's incremental batch sessionization at 28.7M
  * events / 240k users / ~4.8M sessions: the standing 7/8 session
  * table is stored (untimed, the deployment's one-time build); the
  * TIMED body is the recurring fold of the held-out 1/8 batch —
  * touched-user split, interval sweep, passthrough union. Verifies
  * merge == full event-level gap-split recompute row-for-row and
  * censuses the branch mix (bridges / opens / extends+interiors) so
  * the bridge path is provably non-vacuous at volume.
  *
  * Usage: sbt "Test/runMain graft.SessionMergeVolBench /tmp/events24m"
  */
object SessionMergeVolBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/events24m")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val meter = new Meter(spark)

    val scratch = java.nio.file.Files.createTempDirectory("sessmerge_").toString
    val e = Tables.load(spark, dir, "events")
    val isBatch = queries.h60(concat(lit("sessbatch:"), col("event_id"))) % 8 === 0

    // ---- one-time standing build (untimed): store the session table.
    val t0 = System.nanoTime()
    queries.Analytic.sessionTable(e.where(!isBatch))
      .write.mode("overwrite").parquet(s"$scratch/standing")
    val standing = spark.read.parquet(s"$scratch/standing")
    val nStanding = standing.count()
    println(f"SMVSETUP  standing table: $nStanding%,d sessions stored in " +
      f"${(System.nanoTime() - t0) / 1e9}%5.1f s")

    // ---- timed: the recurring fold.
    val batch = e.where(isBatch)
    val nBatch = batch.count()
    meter.take()
    val t1 = System.nanoTime()
    queries.Analytic.mergeSessions(standing, batch)
      .write.mode("overwrite").parquet(s"$scratch/merged")
    val wallS = (System.nanoTime() - t1) / 1e9
    val merged = spark.read.parquet(s"$scratch/merged")
    val nMerged = merged.count()
    println(f"SMVMERGE  $nBatch%,d-event batch folded into $nStanding%,d standing " +
      f"sessions in $wallS%5.1f s  -> $nMerged%,d sessions  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")

    // ---- verify: merge == event-level recompute, row for row.
    val recompute = queries.Analytic.sessionTable(e)
    val bad = merged.union(recompute)
      .groupBy(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2).count()
    require(bad == 0, s"$bad session rows differ from the recompute")

    // ---- branch census (non-vacuity at volume): how many merged
    // sessions contain >= 2 standing sessions (bridges), how many
    // standing sessions grew (extend/interior), how many merged
    // sessions contain none (opens).
    val overlap = standing.as("s").join(merged.as("m"),
        col("s.user_id") === col("m.user_id") &&
          col("s.start_us") >= col("m.start_us") &&
          col("s.start_us") <= col("m.end_us"))
      .groupBy(col("m.user_id"), col("m.start_us"))
      .agg(count(lit(1)).as("nstand"))
    val bridges = overlap.where(col("nstand") >= 2).count()
    val opens = nMerged - overlap.count()
    val unchanged = merged.intersect(standing).count()
    require(bridges > 0, "no bridge fired at volume — census vacuous")
    require(opens > 0, "no session opened at volume")
    println(f"SMVVERIFY merge == recompute ($nMerged%,d sessions, 0 mismatches); " +
      f"branch census: $bridges%,d bridges, $opens%,d opens, " +
      f"${nMerged - opens - unchanged}%,d extended/bridged/interior-grown, " +
      f"$unchanged%,d untouched-or-identical")

    // ---- q133 phase: the same fold under ~25% redelivery pressure
    // (duplicates of standing AND batch events), deduped against the
    // STORED standing id set with the two-step broadcast probe. Must
    // equal the same recompute; the id store is scanned once, never
    // shuffled.
    e.where(!isBatch).select(col("event_id"))
      .write.mode("overwrite").parquet(s"$scratch/ids")
    val ids = spark.read.parquet(s"$scratch/ids")
    val nIds = ids.count()
    val redelivered = e.where(
      queries.h60(concat(lit("redeliver:"), col("event_id"))) % 4 === 0)
    val dirty = batch.unionByName(redelivered)
    val nDirty = dirty.count()
    meter.take()
    val t2 = System.nanoTime()
    queries.Analytic.mergeSessions(standing,
        queries.Analytic.dedupBatch(dirty, ids))
      .write.mode("overwrite").parquet(s"$scratch/merged133")
    val wall133 = (System.nanoTime() - t2) / 1e9
    val merged133 = spark.read.parquet(s"$scratch/merged133")
    val bad133 = merged133.union(recompute)
      .groupBy(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2).count()
    require(bad133 == 0,
      s"$bad133 session rows differ from the recompute under redelivery")
    println(f"SMVREDEL  $nDirty%,d-row dirty batch (${nDirty - nBatch}%,d redelivered " +
      f"dupes) deduped against the $nIds%,d-id store and folded in $wall133%5.1f s  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB; fold == recompute, 0 mismatches")

    // ---- q133 GATED phase (r16 VERDICT task 2): the same dirty batch
    // with the broadcast cap forced BELOW it, so the size gate takes
    // the shuffle anti-join branch — the plan an over-broadcast-budget
    // batch gets at 100×. Must equal the same recompute.
    meter.take()
    val t2b = System.nanoTime()
    queries.Analytic.mergeSessions(standing,
        queries.Analytic.dedupBatchGated(dirty, ids, 0L))
      .write.mode("overwrite").parquet(s"$scratch/merged133s")
    val wall133s = (System.nanoTime() - t2b) / 1e9
    val bad133s = spark.read.parquet(s"$scratch/merged133s").union(recompute)
      .groupBy(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2).count()
    require(bad133s == 0,
      s"$bad133s session rows differ from the recompute (shuffle dedup branch)")
    println(f"SMVGATE   same dirty batch above the broadcast gate (cap forced 0, " +
      f"shuffle anti-join dedup): folded in $wall133s%5.1f s  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB; fold == recompute, 0 mismatches")
    graft.Scratch.releaseAll()

    // ---- q147 AGED phase (r17 VERDICT task 6): the same dirty fold
    // with the id store bounded to the redelivery horizon
    // (2025-01-05 on this corpus — ids older than the maximum
    // redelivery delay age out), and the redelivered set restricted
    // to the horizon (the contract the in-plan guard enforces). The
    // aged store is the boundedness claim made concrete: O(horizon
    // days × rate) ids instead of O(history).
    val horizon = "2025-01-05"
    val hcut = lit(horizon).cast("timestamp")
    e.where(!isBatch && col("ts") >= hcut).select(col("event_id"))
      .write.mode("overwrite").parquet(s"$scratch/ids_aged")
    val agedIds = spark.read.parquet(s"$scratch/ids_aged")
    val nAged = agedIds.count()
    val dirtyAged = e.where(isBatch && col("ts") >= hcut)
      .unionByName(e.where(col("ts") >= hcut &&
        queries.h60(concat(lit("redeliver:"), col("event_id"))) % 4 === 0))
    val nDirtyAged = dirtyAged.count()
    meter.take()
    val t2c = System.nanoTime()
    queries.Analytic.mergeSessions(standing,
        queries.Analytic.dedupBatchAged(dirtyAged, agedIds, horizon))
      .write.mode("overwrite").parquet(s"$scratch/merged147")
    val wall147 = (System.nanoTime() - t2c) / 1e9
    val recompute147 = queries.Analytic.sessionTable(
      e.where(!isBatch || col("ts") >= hcut))
    val bad147 = spark.read.parquet(s"$scratch/merged147").union(recompute147)
      .groupBy(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2).count()
    require(bad147 == 0,
      s"$bad147 session rows differ from the recompute under the aged store")
    println(f"SMVAGED   $nDirtyAged%,d-row horizon-respecting dirty batch deduped " +
      f"against the $nAged%,d-id AGED store (vs $nIds%,d full — " +
      f"${100.0 * nAged / nIds}%.0f%%) and folded in $wall147%5.1f s  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB; fold == recompute, 0 mismatches")
    Scratch.releaseAll()

    // ---- q135/q136 phases: the session table's erase halves. The
    // standing table here is the VERIFIED full-corpus table (the
    // merged output proven == recompute above). Requests are the
    // q130/q134 volume population: erased cohort, per-user instants
    // over corpus days 1-5.
    val standingFull = merged
    val baseUs = java.time.Instant.parse("2025-01-02T00:00:00Z").toEpochMilli * 1000
    val erased = queries.h60(concat(lit("erase:"), col("user_id"))) % 10 === 0
    val reqT = lit(baseUs) +
      (queries.h60(concat(lit("reqday:"), col("user_id"))) % 5) * lit(86400000000L)
    val requests = e.where(erased).select(col("user_id")).distinct()
      .select(col("user_id"), reqT.as("req_us"))
    val nReq = requests.count()

    // q135: whole-user delete.
    meter.take()
    val t3 = System.nanoTime()
    standingFull.join(broadcast(requests.select(col("user_id"))),
        Seq("user_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$scratch/erased135")
    val wall135 = (System.nanoTime() - t3) / 1e9
    val got135 = spark.read.parquet(s"$scratch/erased135")
    val want135 = queries.Analytic.sessionTable(e.where(!erased))
    val bad135 = got135.union(want135)
      .groupBy(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2).count()
    require(bad135 == 0, s"$bad135 rows differ after whole-user erase")
    println(f"SMVERASE  $nReq%,d users' sessions deleted from the " +
      f"${nMerged}%,d-session table in $wall135%5.1f s  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB; == survivor recompute")

    // q136: partial erasure at per-user T (straddling sessions split).
    meter.take()
    val t4 = System.nanoTime()
    queries.Analytic.eraseSessionsBeforeT(standingFull, e, requests)
      .write.mode("overwrite").parquet(s"$scratch/erased136")
    val wall136 = (System.nanoTime() - t4) / 1e9
    val got136 = spark.read.parquet(s"$scratch/erased136")
    val want136 = queries.Analytic.sessionTable(
      e.where(!erased || unix_micros(col("ts")) >= reqT))
    val bad136 = got136.union(want136)
      .groupBy(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2).count()
    require(bad136 == 0, s"$bad136 rows differ after partial erase")
    // Straddle-split census: touched users' standing sessions whose
    // span crosses their own instant — the branch the q134 stream
    // handler cannot reconstruct and this batch operator must.
    val splits = standingFull.join(broadcast(requests), "user_id")
      .where(col("start_us") < col("req_us") && col("end_us") >= col("req_us"))
      .count()
    require(splits > 0, "no standing session straddles its user's T — split branch vacuous")
    println(f"SMVPARTIAL per-user-T partial erase of $nReq%,d users in " +
      f"$wall136%5.1f s  shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB; " +
      f"== filtered recompute; $splits%,d straddling sessions split at T")
    spark.stop()
  }
}
