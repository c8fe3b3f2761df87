package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Volume exercise for the scale-parameterized embedding near-dup
  * family (q91 pairs / q93 clusters) against a `tools/embed_gen.py`
  * corpus: millions of vectors with KNOWN ground-truth structure — the
  * one dedup-family member round 8 left without a ground-truth volume
  * row (VERDICT r8 "What's missing" #1).
  *
  * Runs [[graft.queries.DedupOps.embeddingPairsScaled]] at production
  * parameters — 6 bands x 20 Rademacher bits (2^20 buckets/band at 2M
  * vectors -> mean occupancy ~1.9; an earlier 4x16 attempt put the
  * cap at only 2x the mean occupancy of 30 and LOST real pairs:
  * 93.6%/97.8% recall), bucket cap 64, cosine >= 0.8 — then the q93
  * cluster rollup on those pairs. Checks:
  *  - SOUNDNESS (exact): every pair stays within one generated group
  *    (blob, 4-cluster, or exact-dup pair) — near-orthogonal 64-dim
  *    singletons cannot reach cosine 0.8, so any cross-group pair is
  *    an engine bug.
  *  - RECALL: exact-dup pairs (identical vectors, identical keys)
  *    must be recovered at 100%; 4-clusters (cosine >= 0.9996
  *    pairwise, per-pair band-collision odds >= 0.999 at these
  *    parameters) at >= 98% with full member sets.
  *  - CAP: the hot blob's over-cap buckets are dropped — the run
  *    completes without the ~hotN^2/2 blob pairs; whatever blob pairs
  *    survive (via scattered low-occupancy buckets) must be sound.
  * Also prints the candidate-volume arithmetic of q54's fixed
  * 16-bucket instance on the same corpus (sum b^2/2 over its buckets,
  * count-only — the blowup the scaled instance exists to avoid).
  *
  * Usage:
  *   python3 tools/embed_gen.py /tmp/embed2m 2000000
  *   SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.EmbedDedupBench /tmp/embed2m"
  */
object EmbedDedupBench {
  private val Bands = 6
  private val Bits = 20
  private val Cap = 64
  private val Threshold = 0.8

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/embed2m")
    val HotN = args.lift(1).map(_.toLong).getOrElse(20000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val meter = new Meter(spark)

    // Codegen warmup at unit scale.
    queries.DedupOps.embeddingPairsScaled(spark, "/root/testdata/sf0.001",
      Bands, Bits, Cap, Threshold).queryExecution.toRdd.count()
    Scratch.releaseAll()

    // ---- timed: scaled+capped pair generation -------------------------
    meter.take()
    var t0 = System.nanoTime()
    val pairs = queries.DedupOps.embeddingPairsScaled(
      spark, dir, Bands, Bits, Cap, Threshold)
      .select(col("vec_a"), col("vec_b")).cache()
    val nPairs = pairs.count()
    val dtPairs = (System.nanoTime() - t0) / 1e9
    val m = meter.take()
    println(f"EMBEDBENCH q91(${Bands}x$Bits,cap=$Cap)   $dtPairs%8.2f s  pairs=$nPairs%,d  " +
      f"shufWrite=${m.shuffleWriteBytes / 1e9}%.2f GB  shufRead=${m.shuffleReadBytes / 1e9}%.2f GB")

    // ---- timed: cluster rollup on the same pair source ----------------
    t0 = System.nanoTime()
    import spark.implicits._
    val edges = pairs.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .as[graft.etl.Pipeline.Edge]
    val verts = edges.select(col("src")).union(edges.select(col("dst")))
      .distinct().as[java.lang.Long]
    val nVerts = verts.count()
    val tVerts = (System.nanoTime() - t0) / 1e9
    println(f"EMBEDBENCH   verts=$nVerts%,d in $tVerts%.2f s")
    val ccDf = graft.etl.Pipeline.connectedComponents(verts, edges)
    println(f"EMBEDBENCH   cc plan built at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val comps = ccDf
      .groupBy(col("comp"))
      .agg(min(col("id")).as("canonical"), count(lit(1)).as("n_vecs"),
        sort_array(collect_list(col("id"))).as("mem"))
      .cache()
    val nClusters = comps.count()
    val dtCc = (System.nanoTime() - t0) / 1e9
    println(f"EMBEDBENCH q93(clusters)       $dtCc%8.2f s  clusters=$nClusters%,d")

    // ---- ground-truth verification (untimed) --------------------------
    val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    // Pair soundness: both endpoints in the blob, or same group and
    // that group is a 4-cluster (g%8==0) or the exact pair {4g,4g+1}.
    val badPairs = pairs.where(
      !((col("vec_a") < HotN && col("vec_b") < HotN) ||
        (floor(col("vec_a") / 4) === floor(col("vec_b") / 4) &&
          ((floor(col("vec_a") / 4) % 8 === 0) ||
           (floor(col("vec_a") / 4) % 8 === 1 &&
            col("vec_a") % 4 === 0 && col("vec_b") % 4 === 1))))).count()
    val blobPairs = pairs.where(col("vec_a") < HotN && col("vec_b") < HotN).count()
    val exactRecovered = pairs.where(
      col("vec_a") >= HotN && // blob ids hit the same residue pattern
        floor(col("vec_a") / 4) % 8 === 1 && col("vec_a") % 4 === 0 &&
        col("vec_b") === col("vec_a") + 1).count()

    // Cluster soundness outside the blob: canonical = min member, all
    // members in one 4-cluster group or one exact pair.
    val nonBlob = comps.where(element_at(col("mem"), 1) >= HotN)
      .withColumn("g", floor(element_at(col("mem"), 1) / 4))
    val badClusters = nonBlob.where(
      !(col("canonical") === element_at(col("mem"), 1) &&
        col("g") === floor(element_at(col("mem"), size(col("mem"))) / 4) &&
        ((col("g") % 8 === 0 && col("n_vecs") <= 4) ||
         (col("g") % 8 === 1 && col("n_vecs") === 2 &&
          col("canonical") === col("g") * 4)))).count()
    val full4 = nonBlob.where(col("g") % 8 === 0 && col("n_vecs") === 4).count()

    // Expected counts: groups live in [HotN/4, nVecs/4); exact count
    // of each g%8 residue in the range (not range/8, which is off by
    // one for most sizes and would fail the ==1.0 exact-recall gate).
    def cntRes(n: Long, r: Long): Long = if (n <= r) 0 else (n - r + 7) / 8
    val (lo, hi) = (HotN / 4, nVecs / 4)
    val expected4 = cntRes(hi, 0) - cntRes(lo, 0)
    val expectedEx = cntRes(hi, 1) - cntRes(lo, 1)
    val recall4 = full4.toDouble / expected4
    val recallExact = exactRecovered.toDouble / expectedEx

    // q54's fixed-16-bucket instance on this corpus: candidate volume
    // it WOULD generate (count-only; the pairs themselves are the
    // point of not running it).
    val q54Cand = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(concat(
        when(element_at(col("embedding"), 1) >= 0, "1").otherwise("0"),
        when(element_at(col("embedding"), 17) >= 0, "1").otherwise("0"),
        when(element_at(col("embedding"), 33) >= 0, "1").otherwise("0"),
        when(element_at(col("embedding"), 49) >= 0, "1").otherwise("0")).as("b"))
      .groupBy(col("b")).count()
      .agg(sum(col("count") * (col("count") - 1))).head().getLong(0) / 2

    println(f"EMBEDVERIFY pairs_unsound=$badPairs clusters_unsound=$badClusters " +
      f"full4=$full4%,d/$expected4%,d (${recall4 * 100}%.2f%%) " +
      f"exact=$exactRecovered%,d/$expectedEx%,d (${recallExact * 100}%.2f%%) " +
      f"blob_pairs_surviving_cap=$blobPairs%,d q54_16bucket_candidates=$q54Cand%,d")
    pairs.unpersist(); comps.unpersist(); Scratch.releaseAll()
    require(badPairs == 0, s"$badPairs unsound q91 pairs bridge unrelated vectors")
    require(badClusters == 0, s"$badClusters q93 clusters violate ground truth")
    require(recall4 >= 0.98, f"4-cluster recall $recall4%.4f below 0.98")
    require(recallExact == 1.0, f"exact-dup recall $recallExact%.4f below 1.0")

    // ---- q97 ingest gate at the same production parameters ------------
    meter.take()
    t0 = System.nanoTime()
    val gate = queries.DedupOps.embeddingIngestGate(
      spark, dir, Bands, Bits, Cap, Threshold).cache()
    val nGate = gate.count()
    val dtGate = (System.nanoTime() - t0) / 1e9
    println(f"EMBEDBENCH q97(${Bands}x$Bits,cap=$Cap)   $dtGate%8.2f s  matches=$nGate%,d  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")
    // Soundness: a match is blob-blob or same-(cluster/exact)-group.
    val badGate = gate.where(
      !((col("vec_id") < HotN && col("best_match") < HotN) ||
        (floor(col("vec_id") / 4) === floor(col("best_match") / 4) &&
          ((floor(col("vec_id") / 4) % 8 === 0) ||
           (floor(col("vec_id") / 4) % 8 === 1 &&
            least(col("vec_id"), col("best_match")) % 4 === 0 &&
            greatest(col("vec_id"), col("best_match")) % 4 === 1))))).count()
    val nonBlobGate = gate.where(col("vec_id") >= HotN).count()
    gate.unpersist(); Scratch.releaseAll()
    // Expected non-blob matches: incoming cluster/exact vectors (the
    // query's own deterministic split) with >= 1 index groupmate.
    val docs97 = spark.range(HotN, nVecs).toDF("vec_id")
      .withColumn("g", floor(col("vec_id") / 4))
      .withColumn("r", col("vec_id") % 4)
      .withColumn("incoming",
        queries.h60(concat(lit("ingest:"), col("vec_id"))) % 10 === 0)
      .where((col("g") % 8 === 0) || (col("g") % 8 === 1 && col("r") <= 1))
    val expectedGate = docs97.groupBy(col("g"))
      .agg(sum(when(col("incoming"), 1).otherwise(0)).as("n_inc"),
        sum(when(!col("incoming"), 1).otherwise(0)).as("n_idx"))
      .select(sum(when(col("n_idx") >= 1, col("n_inc")).otherwise(0)))
      .collect()(0).getLong(0)
    Scratch.releaseAll()
    val recallGate = nonBlobGate.toDouble / expectedGate
    println(f"EMBEDVERIFY q97 nonblob_matches=$nonBlobGate%,d expected=$expectedGate%,d " +
      f"(${recallGate * 100}%.2f%%) unsound=$badGate blob_matches=${nGate - nonBlobGate}%,d")
    require(badGate == 0, s"$badGate q97 matches bridge unrelated vectors")
    require(recallGate >= 0.98, f"q97 ingest recall $recallGate%.4f below 0.98")
    println("EMBEDVERIFY OK")
    spark.stop()
  }
}
