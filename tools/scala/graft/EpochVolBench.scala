package graft

import org.apache.spark.sql.functions._

/** Volume run for q140's unified maintenance epoch at 28.7M events /
  * 240k users: the standing behavioral artifacts (session table,
  * funnel states, retention first-seen+cells) are built as of the
  * epoch boundary (untimed — the deployment's stored state); the
  * TIMED body is ONE dataflow folding the day's batch into all three
  * families and applying the shared privacy feed (per-user-instant
  * erasures, fold-then-erase) against the post-fold state — the
  * recurring nightly job. Verifies EVERY family's post-epoch relation
  * equals its per-user-T filtered from-scratch recompute, row for
  * row. The epoch's fourth family (the capped takedown) is
  * corpus-independent of this fixture; its volume row is
  * CappedClusterVolBench's (2M docs), unchanged.
  *
  * Usage: sbt "Test/runMain graft.EpochVolBench /tmp/events24m"
  */
object EpochVolBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/events24m")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import queries.Analytic

    val meter = new Meter(spark)

    val scratch = java.nio.file.Files.createTempDirectory("epoch_").toString
    val e = Tables.load(spark, dir, "events")
    // Epoch boundary: day-aligned mid-corpus (fixture spans
    // 2025-01-01..08); the privacy feed is EraseVolBench's population
    // (erased cohort, per-user instants over corpus days 1-5), so
    // requests land before, inside, and after the epoch day.
    val cut = lit("2025-01-05").cast("timestamp")
    val baseUs = java.time.Instant.parse("2025-01-02T00:00:00Z").toEpochMilli * 1000
    val reqT = lit(baseUs) +
      (queries.h60(concat(lit("reqday:"), col("user_id"))) % 5) * lit(86400000000L)
    val erased = queries.h60(concat(lit("erase:"), col("user_id"))) % 10 === 0

    // ---- one-time standing builds (untimed): the epoch-boundary state.
    val t0 = System.nanoTime()
    val pre = e.where(col("ts") < cut)
    Analytic.sessionTable(pre).write.mode("overwrite").parquet(s"$scratch/sess")
    Analytic.funnelStates(pre).write.mode("overwrite").parquet(s"$scratch/fun")
    val (f0, c0) = Analytic.retentionState(pre)
    f0.write.mode("overwrite").parquet(s"$scratch/retF")
    c0.write.mode("overwrite").parquet(s"$scratch/retC")
    val sessSt = spark.read.parquet(s"$scratch/sess")
    val funSt = spark.read.parquet(s"$scratch/fun")
    val retF = spark.read.parquet(s"$scratch/retF")
    val retC = spark.read.parquet(s"$scratch/retC")
    println(f"EPOCHSETUP standing artifacts stored (sessions=${sessSt.count()}%,d, " +
      f"funnel=${funSt.count()}%,d, cohorts=${retF.count()}%,d) in " +
      f"${(System.nanoTime() - t0) / 1e9}%5.1f s")

    // ---- timed: the epoch body — one batch scan, one request
    // relation, three folds, three erases (fold-then-erase).
    meter.take()
    val t1 = System.nanoTime()
    val batch = Scratch.scoped(e.where(col("ts") >= cut))
    val requests = Scratch.scoped(
      e.where(erased).select(col("user_id")).distinct()
        .select(col("user_id"), reqT.as("req_us")))
    val nReq = requests.count()
    val sess1 = Analytic.mergeSessions(sessSt, batch)
    val fun1 = Analytic.mergeFunnelStates(funSt, batch)
    val (retF1, retC1) = Analytic.mergeRetention(retF, retC, batch)
    val sess2 = Analytic.eraseSessionsBeforeT(sess1, e, requests)
    val fun2 = Analytic.eraseFunnelBeforeT(fun1, e, requests)
    val fullAct = e
      .join(broadcast(requests.select(col("user_id"))), Seq("user_id"), "left_semi")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val postTAct = e.join(broadcast(requests), Seq("user_id"))
      .where(unix_micros(col("ts")) >= col("req_us"))
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val (_, retC2) = Analytic.eraseRetentionBeforeT(retF1, retC1, fullAct, postTAct)
    sess2.write.mode("overwrite").parquet(s"$scratch/outSess")
    Analytic.funnelReport(fun2).write.mode("overwrite").parquet(s"$scratch/outFun")
    Analytic.retentionReport(retC2).write.mode("overwrite").parquet(s"$scratch/outRet")
    val wallS = (System.nanoTime() - t1) / 1e9
    val nBatch = batch.count()
    println(f"EPOCHBODY  $nBatch%,d-event batch + $nReq%,d-request privacy feed " +
      f"applied across 3 families in $wallS%5.1f s  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")
    Scratch.releaseAll()

    // ---- verify: every family == its per-user-T filtered recompute.
    val filtered = e.join(requests, Seq("user_id"), "left")
      .where(col("req_us").isNull || unix_micros(col("ts")) >= col("req_us"))
      .select(col("user_id"), col("ts"), col("event_type"))
    def diffCount(got: org.apache.spark.sql.DataFrame,
        want: org.apache.spark.sql.DataFrame): Long = {
      val cols = got.columns.map(col)
      got.select(cols: _*).unionByName(want.select(cols: _*))
        .groupBy(cols: _*).agg(count(lit(1)).as("n"))
        .where(col("n") =!= 2).count()
    }
    val badSess = diffCount(spark.read.parquet(s"$scratch/outSess"),
      Analytic.sessionTable(filtered))
    require(badSess == 0, s"$badSess session rows differ from the filtered recompute")
    val badFun = diffCount(spark.read.parquet(s"$scratch/outFun"),
      Analytic.funnelReport(Analytic.funnelStates(filtered)))
    require(badFun == 0, s"$badFun funnel rows differ from the filtered recompute")
    val badRet = diffCount(spark.read.parquet(s"$scratch/outRet"),
      Analytic.retentionReport(Analytic.retentionState(filtered)._2))
    require(badRet == 0, s"$badRet retention rows differ from the filtered recompute")
    val nSess = spark.read.parquet(s"$scratch/outSess").count()
    val nFun = spark.read.parquet(s"$scratch/outFun").count()
    val nRet = spark.read.parquet(s"$scratch/outRet").count()
    println(f"EPOCHVERIFY all 3 families == filtered recompute, 0 mismatches " +
      f"(sessions=$nSess%,d, funnel=$nFun%,d, retention=$nRet%,d rows); " +
      f"takedown family: corpus-independent, covered by CappedClusterVolBench")
    Scratch.releaseAll()

    // ---- q145 CHAIN phase (r17 VERDICT task 1): the SAME feed split
    // into two epochs — epoch 1 folds day 1 = [Jan 4, Jan 5) against
    // the pre-Jan-4 standing state, erases its half of the requests
    // (rebuilds see only the events ingested so far), and PUBLISHES
    // the post-epoch stores plus the erase register; epoch 2 folds
    // day 2 = [Jan 5, ...) THROUGH THE REGISTER (requests with
    // T = Jan 6 land inside day 2, so the register non-vacuously
    // drops their pre-T day-2 rows) and erases the other half over
    // the full store. The chained result must equal the ONE-SHOT
    // epoch's outputs above (path independence — q145's claim),
    // which are themselves proven == the filtered recompute.
    val cut1c = lit("2025-01-04").cast("timestamp")
    val cut2c = lit("2025-01-05").cast("timestamp")
    val t2 = System.nanoTime()
    val preC = e.where(col("ts") < cut1c)
    Analytic.sessionTable(preC).write.mode("overwrite").parquet(s"$scratch/sessC")
    Analytic.funnelStates(preC).write.mode("overwrite").parquet(s"$scratch/funC")
    val (f0c, c0c) = Analytic.retentionState(preC)
    f0c.write.mode("overwrite").parquet(s"$scratch/retFC")
    c0c.write.mode("overwrite").parquet(s"$scratch/retCC")
    println(f"CHAINSETUP pre-epoch-1 standing artifacts stored in " +
      f"${(System.nanoTime() - t2) / 1e9}%5.1f s")

    val epoch1 = queries.h60(concat(lit("epoch:"), col("user_id"))) % 2 === 0
    val requestsAll = Scratch.scoped(
      e.where(erased).select(col("user_id")).distinct()
        .select(col("user_id"), reqT.as("req_us")))
    val req1 = requestsAll.where(epoch1)
    val req2 = requestsAll.where(!epoch1)

    // Epoch 1 (timed): fold day 1, erase req1, publish.
    meter.take()
    val t3 = System.nanoTime()
    val day1 = Scratch.scoped(e.where(col("ts") >= cut1c && col("ts") < cut2c))
    val soFar = e.where(col("ts") < cut2c)
    val (sE1, fE1, rFE1, rCE1) = queries.EpochOps.behavioralEpoch(
      spark.read.parquet(s"$scratch/sessC"), spark.read.parquet(s"$scratch/funC"),
      spark.read.parquet(s"$scratch/retFC"), spark.read.parquet(s"$scratch/retCC"),
      day1, soFar, req1)
    sE1.write.mode("overwrite").parquet(s"$scratch/sessP1")
    fE1.write.mode("overwrite").parquet(s"$scratch/funP1")
    rFE1.write.mode("overwrite").parquet(s"$scratch/retFP1")
    rCE1.write.mode("overwrite").parquet(s"$scratch/retCP1")
    // The register publishes COMPACTED at the fold boundary (r18
    // VERDICT task 3): entries whose T the boundary passed can never
    // drop an in-order row again, so the standing register carries
    // only the PENDING requests.
    val cut2cUs = unix_micros(cut2c) // in-plan, tz-aligned with cut2c
    queries.EpochOps.compactRegister(req1, cut2cUs)
      .write.mode("overwrite").parquet(s"$scratch/regP1")
    val wallE1 = (System.nanoTime() - t3) / 1e9
    val nDay1 = day1.count()
    println(f"CHAINEPOCH1 $nDay1%,d-event day-1 batch folded+erased+PUBLISHED " +
      f"in $wallE1%5.1f s  shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")
    val nRegFull = req1.count()
    val nRegKept = spark.read.parquet(s"$scratch/regP1").count()
    require(nRegKept > 0 && nRegKept < nRegFull,
      s"register compaction vacuous at volume: $nRegKept of $nRegFull")
    println(f"REGCOMPACT published register $nRegFull%,d applied requests -> " +
      f"$nRegKept%,d pending (T past the boundary can never drop an " +
      f"in-order row; guard enforces the contract in-plan)")
    Scratch.releaseAll()

    // Epoch 2 (timed): the register front-end (compacted register +
    // in-order guard), then fold+erase against the PUBLISHED stores.
    meter.take()
    val t4 = System.nanoTime()
    val regP = spark.read.parquet(s"$scratch/regP1")
    val day2 = Scratch.scoped(
      queries.EpochOps.registerFrontEnd(
        e.where(col("ts") >= cut2c), regP, cut2cUs))
    val (sE2, fE2, _, rCE2) = queries.EpochOps.behavioralEpoch(
      spark.read.parquet(s"$scratch/sessP1"), spark.read.parquet(s"$scratch/funP1"),
      spark.read.parquet(s"$scratch/retFP1"), spark.read.parquet(s"$scratch/retCP1"),
      day2, e, req2)
    sE2.write.mode("overwrite").parquet(s"$scratch/outSessC")
    Analytic.funnelReport(fE2).write.mode("overwrite").parquet(s"$scratch/outFunC")
    Analytic.retentionReport(rCE2).write.mode("overwrite").parquet(s"$scratch/outRetC")
    val wallE2 = (System.nanoTime() - t4) / 1e9
    val nDay2 = day2.count()
    // The register must have dropped real rows (requests with T
    // inside day 2 whose users were active before their T).
    val nDropped = e.where(col("ts") >= cut2c)
      .join(broadcast(regP), Seq("user_id"))
      .where(unix_micros(col("ts")) < col("req_us")).count()
    require(nDropped > 0, "register drop class vacuous at volume")
    println(f"CHAINEPOCH2 $nDay2%,d-event day-2 batch folded through the " +
      f"published register ($nDropped%,d pre-T rows dropped) + erased in " +
      f"$wallE2%5.1f s  shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")
    Scratch.releaseAll()

    // Chain == one-shot (path independence), family by family.
    val badSessC = diffCount(spark.read.parquet(s"$scratch/outSessC"),
      spark.read.parquet(s"$scratch/outSess"))
    val badFunC = diffCount(spark.read.parquet(s"$scratch/outFunC"),
      spark.read.parquet(s"$scratch/outFun"))
    val badRetC = diffCount(spark.read.parquet(s"$scratch/outRetC"),
      spark.read.parquet(s"$scratch/outRet"))
    require(badSessC == 0 && badFunC == 0 && badRetC == 0,
      s"chain diverged from the one-shot epoch: sess=$badSessC fun=$badFunC ret=$badRetC")
    println(f"CHAINVERIFY two-epoch chain == one-shot epoch == filtered " +
      f"recompute across all 3 families, 0 mismatches")
    spark.stop()
  }
}
