package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The standing structural plan audits, folded into the regular gate
  * (r19 VERDICT task 4 + ADVICE: the Explain* tools carried real
  * `require`-asserted claims — store pruning soundness, the
  * raise_error guard surviving optimization, the sketch build's
  * zero-corpus-exchange — but only ran by hand, so an optimizer or
  * refactor regression would have surfaced next time someone
  * remembered to run them, not at `sbt test`). Each case delegates to
  * the corresponding tool's `audit(spark, dir)` — the SAME assertions
  * the by-hand sf0.1 runs record — at sf0.01, the driver's
  * correctness scale. The tools remain runnable standalone
  * (`Test/runMain graft.ExplainR18 [sfDir]`) for the per-round sf0.1
  * evidence capture. The q124 store-pruning audit has no tool: its
  * assertions live here. */
class PlanAuditSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.01"

  /** q124 STORE PRUNING: the registered prepare persists the signature
    * relation as a doc_id-range-partitioned parquet store. By
    * recordsRead census on that layout, a takedown whose batch has id
    * locality reads a partition SUBSET, the pruned run's assignments
    * equal the flat run's, and the demotion path fires (cap tightened
    * to 2 with a denser in-range batch, the CappedRemoveSpec device —
    * at the default cap no sf bucket exceeds it and the probe set is
    * empty on any layout). */
  test("r16 audit: q124 store pruning sound + partition-subset reads; operator exchange census", SlowReplay) {
    import queries.DedupOps
    val recordsRead = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        recordsRead.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.recordsRead); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (sig0, banded0) = DedupOps.sigBanded(spark, dir)
      val sig = Scratch.scoped(sig0)
      val banded = Scratch.scoped(banded0)
      val nSig = sig.count()
      val cap = 2
      val (idx0, pairs0, standing0) = DedupOps.cappedClusterArtifacts(sig, banded, cap)
      val idx = Scratch.scoped(idx0)
      val pairs = Scratch.scoped(pairs0)
      val standing = Scratch.scoped(standing0)
      // The REGISTERED store layout (same writer the prepare hook uses).
      val (store, w) = DedupOps.q124SigStore(spark, dir, sig)
      // Range batch with id locality: the first fifth of id space at
      // the CCVBPART density (random half), so families lose members
      // partially and demotion fires inside the range.
      val maxId = queries.t(spark, dir, "documents").agg(max(col("doc_id")))
        .collect()(0).getLong(0)
      val removed = queries.t(spark, dir, "documents")
        .where(col("doc_id") < (maxId + 1) / 5 &&
          queries.h60(concat(lit("remove:"), col("doc_id"))) % 2 === 0)
        .select(col("doc_id"))
      def census(sigRel: DataFrame, pid: Option[Long]): (Seq[(Long, Long)], Long) = {
        // Both runs start from the same state: every cache an earlier
        // takedown filled is dropped (so no read of this one is served
        // from it), and the standing artifacts are filled again before
        // the count starts, so only the takedown's own reads land in it.
        Scratch.releaseAll()
        Seq(idx, banded, pairs, standing).foreach(Scratch.fill)
        Thread.sleep(300)
        recordsRead.set(0)
        val out = DedupOps.removeFromCappedCluster(
            idx, banded, sigRel, pairs, standing, removed, cap, pid)
          .select(col("id"), col("comp"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
        Thread.sleep(300)
        (out, recordsRead.get)
      }
      // Both runs read the ON-DISK store; the flat one just doesn't
      // prune — so the delta isolates the partition filter itself.
      val (flatAsg, flatRead) = census(store.drop("pid"), None)
      val (prunedAsg, prunedRead) = census(store, Some(w))
      val demotions = idx.where(size(col("ids")) === 0)
        .join(banded.join(removed, Seq("doc_id"), "left_anti")
            .groupBy(col("band"), col("key")).agg(count(lit(1)).as("n"))
            .where(col("n") > 0 && col("n") <= cap),
          Seq("band", "key"), "left_semi").count()
      assert(demotions > 0, "range batch demoted nothing — census vacuous")
      assert(flatAsg == prunedAsg,
        "pruned-store assignments differ from the flat run — pruning is unsound")
      val delta = flatRead - prunedRead
      info(s"store $nSig rows; flat takedown read $flatRead, pruned $prunedRead")
      assert(delta > (nSig * 5) / 10,
        s"store pruning skipped only $delta rows of a $nSig-row store")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      graft.Scratch.releaseAll()
    }
  }

  test("r18 audit: q140 request feed saves the events pass; q145 recurring run reads the published stores", SlowReplay) {
    ExplainR18.audit(spark, dir)
    graft.Scratch.releaseAll()
  }

  test("r19 audit: sketch scan pruned to (ts,user_id); register front-end broadcast with raise_error in-plan; no corpus-keyed sketch exchange") {
    ExplainR19.audit(spark, dir)
    graft.Scratch.releaseAll()
  }

  test("hll distinct-elision probe: RemoveRedundantAggregates still elides an inner distinct under max") {
    ExplainHllDistinct.audit(spark, dir)
    graft.Scratch.releaseAll()
  }
}
