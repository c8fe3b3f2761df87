package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

/** Round-17 audits.
  *
  * 1. q141 REGISTERED-BODY PRUNING (r16 VERDICT task 3): r16 proved
  *    the q124 signature-store partition prune out-of-band (ExplainR16
  *    ran removeFromCappedCluster on a synthetic range batch); q141
  *    registers the contiguous-range takedown at [[queries.DedupOps.Q141Cap]]
  *    (demotions fire at sf, so the reveal probe is non-empty and the
  *    prune is falsifiable — at q124's cap the probe is empty and the
  *    store scan short-circuits on ANY layout). This audit:
  *    (a) censuses recordsRead of both REGISTERED takedown bodies via
  *        Registry.queriesMap (prepare excluded from the counter), and
  *    (b) re-runs the registered q141 computation — same artifacts
  *        recipe, same cap, same removal range — as a flat-vs-pruned
  *        pair, requiring demotions > 0, identical assignments, and
  *        the pruned run skipping most of the store's rows.
  *
  * 2. Plan audit of the round's new/changed operators (q133's gated
  *    dedup branches), the ExplainR15/R16 device.
  *
  * Usage: sbt "Test/runMain graft.ExplainR17 [sfDir]"
  */
object ExplainR17 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import queries.DedupOps

    val recordsRead = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        recordsRead.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.recordsRead)
    })

    // ---- 1a. Registered-body census through the registry's own run
    // functions. Note recordsRead here mixes parquet reads with cache
    // reads (fenced artifacts report as input), so this is evidence of
    // the bodies' total input appetite, not the isolated prune — 1b
    // isolates the prune.
    def registered(name: String): Long = {
      Registry.preparesMap(name)(spark, dir)
      Thread.sleep(300)
      recordsRead.set(0)
      Registry.queriesMap(name)(spark, dir).collect()
      Thread.sleep(300)
      Scratch.releaseAll()
      recordsRead.get
    }
    val readSpread = registered("q124_capped_cluster_remove")
    val readRange = registered("q141_capped_cluster_remove_range")
    println(f"EXPLAINR17 registered takedown recordsRead: " +
      f"q124 hash-spread=$readSpread%,d  " +
      f"q141 range (cap ${DedupOps.Q141Cap})=$readRange%,d")

    // ---- 1b. The registered q141 computation as a flat-vs-pruned
    // pair: same artifact recipe (sigBanded -> cappedClusterArtifacts
    // at Q141Cap -> q124SigStore), same removal range, same cap — the
    // registered body modulo the one knob under audit (the pid
    // IN-list partition filter).
    val cap = DedupOps.Q141Cap
    val (sig0, banded0) = DedupOps.sigBanded(spark, dir)
    val sig = Scratch.fenced(sig0)
    val banded = Scratch.fenced(banded0)
    val nSig = sig.count(); banded.count()
    val (idx0, pairs0, standing0) = DedupOps.cappedClusterArtifacts(sig, banded, cap)
    val idx = Scratch.fenced(idx0)
    val pairs = Scratch.fenced(pairs0)
    val standing = Scratch.fenced(standing0)
    idx.count(); pairs.count(); standing.count()
    val (store, w) = DedupOps.q124SigStore(spark, dir, sig)
    val maxId = queries.t(spark, dir, "documents").agg(max(col("doc_id")))
      .collect()(0).getLong(0)
    val removed = queries.t(spark, dir, "documents")
      .where(col("doc_id") >= (maxId + 1) * 2 / 5 &&
        col("doc_id") < (maxId + 1) * 3 / 5)
      .select(col("doc_id"))
    val demotions = idx.where(size(col("ids")) === 0)
      .join(banded.join(removed, Seq("doc_id"), "left_anti")
          .groupBy(col("band"), col("key")).agg(count(lit(1)).as("n"))
          .where(col("n") > 0 && col("n") <= cap),
        Seq("band", "key"), "left_semi").count()
    require(demotions > 0,
      "registered range batch demoted nothing at the registered cap — census vacuous")
    def census(label: String, sigRel: org.apache.spark.sql.DataFrame,
        pid: Option[Long]): (Seq[(Long, Long)], Long) = {
      Scratch.releaseAll()
      recordsRead.set(0)
      val out = DedupOps.removeFromCappedCluster(
          idx, banded, sigRel, pairs, standing, removed, cap, pid)
        .select(col("id"), col("comp"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      Thread.sleep(300)
      println(f"EXPLAINR17 q141 $label%-7s takedown: recordsRead=${recordsRead.get}%,d")
      (out, recordsRead.get)
    }
    val (flatAsg, flatRead) = census("flat", store.drop("pid"), None)
    val (prunedAsg, prunedRead) = census("pruned", store, Some(w))
    require(flatAsg == prunedAsg,
      "pruned-store assignments differ from the flat run — pruning is unsound")
    val delta = flatRead - prunedRead
    require(delta > (nSig * 5) / 10,
      s"store pruning skipped only $delta rows of a $nSig-row store")
    println(f"EXPLAINR17 q141 registered-shape prune: $demotions%,d demotions, " +
      f"assignments equal, pruned run read $delta%,d fewer rows " +
      f"(store=$nSig%,d, pid width=$w)")
    Scratch.releaseAll()

    // ---- 1c. Bucketed standing stores (r16 VERDICT task 4): the
    // behavioral artifacts are now persisted user-bucketed tables, so
    // the folds' standing sides carry the scan's hash distribution.
    // Audit: the q119 funnel fold over the BUCKETED store vs the
    // identical files read flat — the bucketed plan must drop the
    // standing-side exchange while producing identical states.
    // Broadcasts are disabled for the pair so neither plan can dodge
    // the claim by broadcasting the batch aggregates.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    locally {
      val cut = lit(queries.Analytic.AnalyticCutoff).cast("timestamp")
      val batch = queries.t(spark, dir, "events").where(col("ts") >= cut)
      val store = queries.bucketedStore(spark, dir, "funstates_pre", "user_id")(
        queries.Analytic.funnelStates(
          queries.t(spark, dir, "events").where(col("ts") < cut)))
      val flat = spark.read.parquet(
        queries.localScratch(spark, "funstates_pre", dir))
      def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
        df.collect()
        "Exchange (hash|range)partitioning".r
          .findAllIn(df.queryExecution.executedPlan.toString).size
      }
      def render(df: org.apache.spark.sql.DataFrame) =
        queries.Analytic.mergeFunnelStates(df, batch)
      val flatDf = render(flat)
      val bucketedDf = render(store)
      val nFlat = shuffles(flatDf)
      val nBucketed = shuffles(bucketedDf)
      val same = flatDf.collect().map(_.toString).sorted
        .sameElements(bucketedDf.collect().map(_.toString).sorted)
      require(same, "bucketed-store fold differs from the flat-read fold")
      require(nBucketed < nFlat,
        s"bucketed standing store elided no exchange ($nBucketed vs $nFlat)")
      println(f"EXPLAINR17 q119 fold standing side: flat=$nFlat%d shuffle " +
        f"exchanges, bucketed store=$nBucketed%d (states identical)")
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    Scratch.releaseAll()

    // ---- 2. Plan audit: q133's gated dedup branches at sf0.01.
    val small = "/root/testdata/sf0.01"
    val e = queries.t(spark, small, "events")
    val ids = e.where(!queries.Analytic.sessBatchEvents).select(col("event_id"))
    val batch = e.where(queries.Analytic.sessBatchEvents)
      .unionByName(e.where(queries.Analytic.redelivered))
    for ((label, idCap) <- Seq(("broadcast", Long.MaxValue), ("shuffle", 0L))) {
      val df = queries.Analytic.dedupBatchGated(batch, ids, idCap)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      def n(s: String) = s.r.findAllIn(plan).size
      println(f"EXPLAINR17 q133 dedup $label%-9s shuffleEx=${n("Exchange hashpartitioning|Exchange rangepartitioning")}%2d  " +
        f"broadcastEx=${n("BroadcastExchange")}%2d  bhj=${n("BroadcastHashJoin")}%2d  " +
        f"smj=${n("SortMergeJoin")}%2d")
      Scratch.releaseAll()
    }
    spark.stop()
  }
}
