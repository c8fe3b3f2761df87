package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-16 audits (PlanAuditSpec runs [[audit]] under `sbt test`).
  *
  * 1. q124 STORE PRUNING (r15 VERDICT task 3): the registered prepare
  *    now persists the signature relation as a doc_id-range-
  *    partitioned parquet store. This audit proves, by recordsRead
  *    census on the REGISTERED store layout, that a takedown whose
  *    batch has id locality reads a partition SUBSET (the CCVBPART
  *    claim, now exercised by the registry's own artifact), that the
  *    pruned run's assignments equal the flat run's, and that the
  *    demotion path fired (cap tightened to 2 with a denser in-range
  *    batch, the CappedRemoveSpec device — at the default cap no sf
  *    bucket exceeds it and the probe set is empty on any layout).
  *
  * 2. Plan audit of the round's new operators (q130/q131/q132 +
  *    the store-backed q124), the ExplainR15 device: exchange and
  *    broadcast node counts of the AQE-resolved executed plans.
  *
  * Usage: sbt "Test/runMain graft.ExplainR16 [sfDir]"
  */
object ExplainR16 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    audit(spark, dir)
    spark.stop()
  }

  def audit(spark: SparkSession, dir: String): Unit = {
    import queries.DedupOps

    // ---- 1. q124 store pruning census.
    val recordsRead = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        recordsRead.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.recordsRead)
    })
    val (sig0, banded0) = DedupOps.sigBanded(spark, dir)
    val sig = Scratch.fenced(sig0)
    val banded = Scratch.fenced(banded0)
    val nSig = sig.count(); banded.count()
    val cap = 2
    val (idx0, pairs0, standing0) = DedupOps.cappedClusterArtifacts(sig, banded, cap)
    val idx = Scratch.fenced(idx0)
    val pairs = Scratch.fenced(pairs0)
    val standing = Scratch.fenced(standing0)
    idx.count(); pairs.count(); standing.count()
    // The REGISTERED store layout (same writer the prepare hook uses).
    val (store, w) = DedupOps.q124SigStore(spark, dir, sig)
    // Range batch with id locality: the first fifth of id space at the
    // CCVBPART density (random half), so families lose members
    // partially and demotion fires inside the range.
    val maxId = queries.t(spark, dir, "documents").agg(max(col("doc_id")))
      .collect()(0).getLong(0)
    val removed = queries.t(spark, dir, "documents")
      .where(col("doc_id") < (maxId + 1) / 5 &&
        queries.h60(concat(lit("remove:"), col("doc_id"))) % 2 === 0)
      .select(col("doc_id"))
    def census(label: String, sigRel: DataFrame, pid: Option[Long]): (Seq[(Long, Long)], Long) = {
      Scratch.releaseAll()
      recordsRead.set(0)
      val out = DedupOps.removeFromCappedCluster(
          idx, banded, sigRel, pairs, standing, removed, cap, pid)
        .select(col("id"), col("comp"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      Thread.sleep(300)
      println(f"EXPLAINR16 q124 $label%-7s takedown: recordsRead=${recordsRead.get}%,d")
      (out, recordsRead.get)
    }
    // Both runs read the ON-DISK store; the flat one just doesn't
    // prune — so the delta isolates the partition filter itself.
    val (flatAsg, flatRead) = census("flat", store.drop("pid"), None)
    val (prunedAsg, prunedRead) = census("pruned", store, Some(w))
    val demotions = idx.where(size(col("ids")) === 0)
      .join(banded.join(removed, Seq("doc_id"), "left_anti")
          .groupBy(col("band"), col("key")).agg(count(lit(1)).as("n"))
          .where(col("n") > 0 && col("n") <= cap),
        Seq("band", "key"), "left_semi").count()
    require(demotions > 0, "range batch demoted nothing — census vacuous")
    require(flatAsg == prunedAsg,
      "pruned-store assignments differ from the flat run — pruning is unsound")
    val delta = flatRead - prunedRead
    require(delta > (nSig * 5) / 10,
      s"store pruning skipped only $delta rows of a $nSig-row store")
    println(f"EXPLAINR16 q124 store pruning: $demotions%,d demotions, assignments " +
      f"equal, pruned run read ${delta}%,d fewer rows (store=$nSig%,d, pid width=$w)")
    Scratch.releaseAll()

    // ---- 2. Plan audit of the round's new/changed operators.
    val small = "/root/testdata/sf0.01"
    for (q <- Seq("q124_capped_cluster_remove", "q131_session_table_merge")) {
      Registry.preparesMap.get(q).foreach(p => p(spark, small))
      val df = Registry.queriesMap(q)(spark, small)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      def n(s: String) = s.r.findAllIn(plan).size
      println(f"EXPLAINR16 $q%-26s shuffleEx=${n("Exchange hashpartitioning|Exchange rangepartitioning")}%2d  " +
        f"broadcastEx=${n("BroadcastExchange")}%2d  bhj=${n("BroadcastHashJoin")}%2d  " +
        f"bnlj=${n("BroadcastNestedLoopJoin")}%2d  smj=${n("SortMergeJoin")}%2d")
      Scratch.releaseAll()
    }
    // Streaming operators have no single batch plan; audit their
    // batch-side projections instead (the rollup/current views).
    for (q <- Seq("q130_funnel_erase_requests", "q132_stream_retention_erase")) {
      val df = Registry.queriesMap(q)(spark, small)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      def n(s: String) = s.r.findAllIn(plan).size
      println(f"EXPLAINR16 $q%-26s shuffleEx=${n("Exchange hashpartitioning|Exchange rangepartitioning")}%2d  " +
        f"broadcastEx=${n("BroadcastExchange")}%2d  bhj=${n("BroadcastHashJoin")}%2d")
      Scratch.releaseAll()
    }
  }
}
