package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Volume run for q124's capped-pipeline takedown at 2M docs — the
  * composition residual q117 documented, fired at production density:
  * on the `dedup_gen` corpus at cap 3 every 4-doc cluster bucket is
  * TOMBSTONED, so a 10 % takedown demotes tens of thousands of
  * buckets and the revealed-pair step is where most of the final
  * cluster state comes from (the capped standing state had never
  * paired those docs at all).
  *
  *   setup (untimed): signatures (with hs verify sets), banding, and
  *     the capped standing artifacts (index / pairs / components) all
  *     STORED to parquet — the production shape;
  *   timed: one removeFromCappedCluster pass — index takedown,
  *     demoted-bucket reveal + verify, cluster remove + merge;
  *   verify (untimed): the result equals the from-scratch capped
  *     rebuild over the survivors, (id, label) row for row.
  *
  * Usage: SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=16g \
  *   sbt "Test/runMain graft.CappedClusterVolBench /tmp/dedup2m"
  */
object CappedClusterVolBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/dedup2m")
    val cap = args.lift(1).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val meter = new Meter(spark)

    val scratch = java.nio.file.Files.createTempDirectory("graft_ccvb_").toString

    // ---- setup (untimed): store signatures, banding, artifacts -----
    val t0 = System.nanoTime()
    val (sig0, banded0) = queries.DedupOps.sigBanded(spark, dir)
    sig0.write.mode("overwrite").parquet(s"$scratch/sig")
    banded0.write.mode("overwrite").parquet(s"$scratch/banded")
    Scratch.releaseAll()
    val sig = spark.read.parquet(s"$scratch/sig")
    val banded = spark.read.parquet(s"$scratch/banded")
    val (idx0, pairs0, comps0) =
      queries.DedupOps.cappedClusterArtifacts(sig, banded, cap)
    idx0.write.mode("overwrite").parquet(s"$scratch/idx")
    pairs0.write.mode("overwrite").parquet(s"$scratch/pairs")
    comps0.write.mode("overwrite").parquet(s"$scratch/comps")
    Scratch.releaseAll()
    println(f"CCVBSETUP signatures + banding + capped artifacts stored in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    def stats(label: String, df: DataFrame): Unit = {
      val r = df.groupBy().agg(count(lit(1)).as("docs"),
        countDistinct(col("comp")).as("comps")).collect()(0)
      println(f"CCVBSTATE $label%-10s assigned_docs=${r.getLong(0)}%,10d  comps=${r.getLong(1)}%,9d")
    }
    val idx = spark.read.parquet(s"$scratch/idx")
    val pairs = spark.read.parquet(s"$scratch/pairs")
    val comps = spark.read.parquet(s"$scratch/comps")
    stats("standing", comps)
    println(f"CCVBSETUP standing: ${pairs.count()}%,d pairs, " +
      f"${idx.where(size(col("ids")) === 0).count()}%,d tombstoned buckets (cap $cap)")

    // ---- the takedown (timed) -------------------------------------
    val removed = spark.read.parquet(s"$dir/documents.parquet")
      .where(queries.h60(concat(lit("remove:"), col("doc_id"))) % 10 === 0)
      .select(col("doc_id"))
    meter.take()
    val t1 = System.nanoTime()
    queries.DedupOps.removeFromCappedCluster(
        idx, banded, sig, pairs, comps, removed, cap)
      .write.mode("overwrite").parquet(s"$scratch/after")
    val dt = (System.nanoTime() - t1) / 1e9
    println(f"CCVBRM    10%% takedown (${removed.count()}%,d docs) applied in " +
      f"$dt%6.1f s  shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")
    val after = spark.read.parquet(s"$scratch/after")
    stats("after_rm", after)
    // Branch census: demoted buckets and the pairs they revealed.
    val survCount = banded.join(removed, Seq("doc_id"), "left_anti")
      .groupBy(col("band"), col("key")).agg(count(lit(1)).as("n"))
    val demoted = idx.where(size(col("ids")) === 0)
      .join(survCount.where(col("n") > 0 && col("n") <= cap),
        Seq("band", "key"), "left_semi").count()
    // Docs newly assigned: in the post state but not the standing one
    // (reveal-created components, incl. resurrections).
    val newlyAssigned = after.join(comps, Seq("id"), "left_anti").count()
    println(f"CCVBRM    branches: demoted_buckets=$demoted%,d  " +
      f"newly_assigned_docs=$newlyAssigned%,d")

    // ---- removal == from-scratch capped rebuild (untimed) ---------
    val sigS = sig.join(removed, Seq("doc_id"), "left_anti")
    val bandedS = banded.join(removed, Seq("doc_id"), "left_anti")
    val (_, _, fromScratch) =
      queries.DedupOps.cappedClusterArtifacts(sigS, bandedS, cap)
    def normalized(asg: DataFrame): DataFrame =
      asg.join(asg.groupBy(col("comp")).agg(min(col("id")).as("lab")), "comp")
        .select(col("id"), col("lab"))
    val diff = normalized(after).union(normalized(fromScratch))
      .groupBy(col("id"), col("lab")).agg(count(lit(1)).as("n"))
      .where(col("n") =!= 2).count()
    Scratch.releaseAll()
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    println(f"CCVBVERIFY docs=$nDocs%,d  assignment_mismatches=$diff  " +
      (if (diff == 0) "(takedown == from-scratch capped rebuild over survivors)"
       else "MISMATCH"))
    require(diff == 0, s"$diff (id,label) rows differ vs the from-scratch capped rebuild")
    require(demoted > 0, "no bucket demoted at volume; the reveal path is vacuous")
    require(newlyAssigned > 0, "no revealed pair created state; the reveal path did nothing")

    // ---- doc_id-partitioned signature store (r14 THROUGHPUT's named
    // residual: "the remaining cost is the pruned signature scan — a
    // doc_id-bucketed signature store removes it"). The scan is
    // prunable exactly when the takedown batch has ID LOCALITY — the
    // common legal/licensing shape: the request names an INGEST RANGE
    // (sequential ids make a crawl window contiguous) and removes
    // docs within it. Note a range takedown that removes WHOLE
    // near-dup families is vacuous here — no bucket demotes, the
    // probe set is empty, and AQE elides the sig scan on any layout
    // (measured: identical recordsRead flat vs pruned) — so this
    // phase removes a random HALF of the first 20 % of id space
    // (same 10 % global rate as the h60 batch): families in the
    // range lose members partially, demotions fire densely, and the
    // probe set (surviving members of demoted buckets, each within
    // ±4 ids of a removed doc by dedup_gen construction) stays inside
    // the range — a doc_id-range layout skips every other partition's
    // files. A uniformly random global batch (the registered q124
    // instance) touches every partition of ANY layout — its floor is
    // the one full scan the broadcast prune already pays.
    val nParts = 128
    val partSize = math.max(1L, (nDocs + nParts - 1) / nParts)
    sig.withColumn("pid", floor(col("doc_id") / partSize))
      .write.partitionBy("pid").mode("overwrite").parquet(s"$scratch/sig_part")
    val sigPart = spark.read.parquet(s"$scratch/sig_part")
    val cut = nDocs / 5
    val removedC = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") < cut &&
        queries.h60(concat(lit("remove:"), col("doc_id"))) % 2 === 0)
      .select(col("doc_id"))
    def takedown(label: String, sigRel: DataFrame): (DataFrame, Long) = {
      Scratch.releaseAll()
      meter.take()
      val t = System.nanoTime()
      queries.DedupOps.removeFromCappedCluster(
          idx, banded, sigRel, pairs, comps, removedC, cap)
        .write.mode("overwrite").parquet(s"$scratch/after_$label")
      val m = meter.take()
      println(f"CCVBPART  $label%-9s range takedown in " +
        f"${(System.nanoTime() - t) / 1e9}%6.1f s  recordsRead=${m.inputRecords}%,d  " +
        f"shufWrite=${m.shuffleWriteBytes / 1e9}%.2f GB")
      (spark.read.parquet(s"$scratch/after_$label"), m.inputRecords)
    }
    val flatRead = takedown("flat", sig)
    // The neighborhood filter is what a deployment derives from the
    // takedown request's id range (+ the family-adjacency slack the
    // index build recorded); the partition column makes it a
    // file-pruned scan. Soundness is not assumed: if the neighborhood
    // missed a probe doc, the revealed pairs — and the assignments —
    // would differ from the flat run's, and the equality check below
    // fails.
    val maxPid = (cut + 4) / partSize
    val sigPruned = sigPart.where(col("pid") <= maxPid)
      .select(sig.columns.map(col): _*)
    val (prunedAfter, prunedRead) = takedown("pruned", sigPruned)
    val readDelta = flatRead._2 - prunedRead
    // Non-vacuity: the range batch must demote buckets (else neither
    // layout reads signatures at all), and the pruned layout must
    // actually skip the out-of-range partitions' rows.
    val demotedC = idx.where(size(col("ids")) === 0)
      .join(banded.join(removedC, Seq("doc_id"), "left_anti")
          .groupBy(col("band"), col("key")).agg(count(lit(1)).as("n"))
          .where(col("n") > 0 && col("n") <= cap),
        Seq("band", "key"), "left_semi").count()
    require(demotedC > 0, "range takedown demoted nothing; the phase is vacuous")
    require(readDelta > (nDocs * 6) / 10,
      s"partition pruning skipped only $readDelta rows; expected ~80% of the sig store")
    val partDiff = normalized(flatRead._1).union(normalized(prunedAfter))
      .groupBy(col("id"), col("lab")).agg(count(lit(1)).as("n"))
      .where(col("n") =!= 2).count()
    require(partDiff == 0,
      s"$partDiff (id,label) rows differ between flat and partition-pruned layouts")
    println(f"CCVBPART  layouts agree on every assignment; $demotedC%,d demotions; " +
      f"pruning kept ${maxPid + 1}%,d of $nParts%,d partitions and skipped " +
      f"$readDelta%,d scanned rows")
    Scratch.releaseAll()

    // ---- q145 CHAIN phase (r17 VERDICT task 1, cluster family): two
    // successive takedowns where epoch 2 runs against epoch 1's
    // PUBLISHED post-state (removeFromCappedClusterFull carries the
    // post index, the restricted-∪-revealed pair relation, and the
    // component assignment). Epoch 1 removes the demote-dense range
    // batch above; epoch 2 removes the same shape over the NEXT fifth
    // of id space, so its demotions fire against a standing state
    // that epoch 1's reveals already rewrote — the cross-epoch
    // tombstone interaction EpochSpec pins crafted, here at 2M docs.
    // Verify: chain == from-scratch capped rebuild over BOTH
    // removals' survivors.
    meter.take()
    val tC1 = System.nanoTime()
    val (idxP1, pairsP1, compsP1) = queries.DedupOps.removeFromCappedClusterFull(
      idx, banded, sig, pairs, comps, removedC, cap)
    idxP1.write.mode("overwrite").parquet(s"$scratch/idx_p1")
    pairsP1.write.mode("overwrite").parquet(s"$scratch/pairs_p1")
    compsP1.write.mode("overwrite").parquet(s"$scratch/comps_p1")
    println(f"CHAINRM1  epoch-1 takedown (${removedC.count()}%,d docs) applied " +
      f"and post-state PUBLISHED in ${(System.nanoTime() - tC1) / 1e9}%6.1f s  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")
    Scratch.releaseAll()
    val removedC2 = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") >= cut && col("doc_id") < 2 * cut &&
        queries.h60(concat(lit("remove:"), col("doc_id"))) % 2 === 0)
      .select(col("doc_id"))
    val banded1 = banded.join(removedC, Seq("doc_id"), "left_anti")
    meter.take()
    val tC2 = System.nanoTime()
    queries.DedupOps.removeFromCappedCluster(
        spark.read.parquet(s"$scratch/idx_p1"), banded1, sig,
        spark.read.parquet(s"$scratch/pairs_p1"),
        spark.read.parquet(s"$scratch/comps_p1"), removedC2, cap)
      .write.mode("overwrite").parquet(s"$scratch/after_chain")
    println(f"CHAINRM2  epoch-2 takedown (${removedC2.count()}%,d docs) applied " +
      f"against the published post-state in ${(System.nanoTime() - tC2) / 1e9}%6.1f s  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")
    Scratch.releaseAll()
    // Epoch-2 demotions against the PUBLISHED index (non-vacuity).
    val demotedC2 = spark.read.parquet(s"$scratch/idx_p1")
      .where(size(col("ids")) === 0)
      .join(banded1.join(removedC2, Seq("doc_id"), "left_anti")
          .groupBy(col("band"), col("key")).agg(count(lit(1)).as("n"))
          .where(col("n") > 0 && col("n") <= cap),
        Seq("band", "key"), "left_semi").count()
    require(demotedC2 > 0, "epoch 2 demoted nothing; the chain phase is vacuous")
    val removedBoth = removedC.unionByName(removedC2)
    val sigS2 = sig.join(removedBoth, Seq("doc_id"), "left_anti")
    val bandedS2 = banded.join(removedBoth, Seq("doc_id"), "left_anti")
    val (_, _, fromScratch2) =
      queries.DedupOps.cappedClusterArtifacts(sigS2, bandedS2, cap)
    val chainDiff = normalized(spark.read.parquet(s"$scratch/after_chain"))
      .union(normalized(fromScratch2))
      .groupBy(col("id"), col("lab")).agg(count(lit(1)).as("n"))
      .where(col("n") =!= 2).count()
    require(chainDiff == 0,
      s"$chainDiff (id,label) rows differ vs the two-removal from-scratch rebuild")
    println(f"CHAINVERIFY chained takedowns == from-scratch capped rebuild over " +
      f"both removals' survivors, 0 mismatches; epoch-2 demotions " +
      f"against the published index: $demotedC2%,d")
    spark.stop()
  }
}
