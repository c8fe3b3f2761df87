package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Volume run for q104's Bloom-gate decontamination at the PRODUCTION
  * shape: a SMALL eval set (the benchmark side — h60 residue split,
  * 0.2 % of docs ≈ 4k docs / ~0.5M distinct 8-gram shingles) gating a
  * 2M-doc train side, on the `tools/dedup_gen.py` corpus whose
  * cross-split contamination is the generator's cluster/exact-dup
  * structure. Two parameter points through the SAME registered path
  * (bloomGateFor — m, k, and the split predicates are arguments):
  *
  *   production  m=2^26, k=8  — ~6 bits set per eval shingle in a
  *               8 MiB bitset, per-shingle FP ~1e-9: the FP tail is
  *               empty, the gate is pure narrow scan;
  *   fp-regime   m=2^26, k=2  — per-shingle FP ~2e-4, per-doc ~2.6 %:
  *               the FP tail is big enough to measure, showing the
  *               exact-verify stage absorbing it.
  *
  * Per point: bitset build wall (eval side + driver fold + broadcast),
  * gate wall (probe scan + exact verify of bloom hits), flagged/FP/true
  * doc counts, shuffle bytes. Then the reference EXACT-JOIN shape
  * (q77's: explode every train shingle, join eval) runs once, timed,
  * and the bloom gate's n_exact>0 relation is asserted EQUAL to it —
  * the no-false-negative law at volume. The bitset's memory argument:
  * at 100 TB an eval suite of 100M n-grams is a ~1.6 GB+ broadcast
  * hash relation for the exact join, but a 250 MB bitset at 20
  * bits/shingle — and the probe costs two word reads per position
  * instead of a hash-map lookup.
  *
  * Usage: SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=16g \
  *   sbt "Test/runMain graft.BloomVolBench /tmp/dedup2m"
  */
object BloomVolBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/dedup2m")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val meter = new Meter(spark)

    val ev = queries.h60(concat(lit("split:"), col("doc_id"))) % 1000 >= 998
    val tr = queries.h60(concat(lit("split:"), col("doc_id"))) % 1000 < 998

    val evalStats = Tables.load(spark, dir, "documents")
      .where(ev)
      .select(col("doc_id"), split(trim(col("text")), " +").as("toks"))
      .where(size(col("toks")) >= 8)
      .select(explode(queries.shingleH60Udf(8)(col("toks"))).as("h"))
      .agg(count(lit(1)).as("rows"), countDistinct(col("h")).as("distinct"))
      .collect()(0)
    println(f"BVBEVAL   eval shingles: ${evalStats.getLong(1)}%,d distinct " +
      f"(${evalStats.getLong(0)}%,d rows)")

    for ((mBits, k, label) <- Seq((26, 8, "production"), (26, 2, "fp-regime"))) {
      val m = 1L << mBits
      meter.take()
      val tB = System.nanoTime()
      val out = queries.TextOps.bloomGateFor(spark, dir, m, k, ev, tr)
      val buildS = (System.nanoTime() - tB) / 1e9 // bitset collect is eager
      val tP = System.nanoTime()
      val r = out.groupBy().agg(count(lit(1)).as("flagged"),
        sum(when(col("n_exact") === 0, 1L).otherwise(0L)).as("fp"),
        sum(when(col("n_exact") > 0, 1L).otherwise(0L)).as("contaminated"),
        sum(col("n_bloom")).as("bloom_hits")).collect()(0)
      val probeS = (System.nanoTime() - tP) / 1e9
      println(f"BVBGATE   $label%-10s m=2^$mBits k=$k  build=$buildS%5.1f s  " +
        f"gate=$probeS%5.1f s  shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")
      println(f"BVBGATE   $label%-10s flagged=${r.getLong(0)}%,d  " +
        f"contaminated=${r.getLong(2)}%,d  fp_docs=${r.getLong(1)}%,d  " +
        f"bloom_hit_shingles=${r.getLong(3)}%,d")
    }

    // ---- reference exact join (q77's shape), timed + equality -----
    meter.take()
    val tE = System.nanoTime()
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), ev.as("ev"), tr.as("tr"),
        split(trim(col("text")), " +").as("toks"))
      .where(size(col("toks")) >= 8)
    val evalSh = base.where(col("ev"))
      .select(explode(queries.shingleH60Udf(8)(col("toks"))).as("h")).distinct()
    val exact = base.where(col("tr"))
      .select(col("doc_id"), explode(queries.shingleH60Udf(8)(col("toks"))).as("h"))
      .join(evalSh, "h")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_exact"))
    exact.persist()
    val nExact = exact.count()
    val exactS = (System.nanoTime() - tE) / 1e9
    println(f"BVBEXACT  exact-join reference: $nExact%,d contaminated docs in " +
      f"$exactS%5.1f s  shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")

    // No false negatives at volume: the gate's n_exact>0 relation must
    // equal the exact join, doc for doc and count for count.
    val gateTrue = queries.TextOps.bloomGateFor(spark, dir, 1L << 26, 8, ev, tr)
      .where(col("n_exact") > 0).select(col("doc_id"), col("n_exact"))
    val diff = gateTrue.union(exact).groupBy(col("doc_id"), col("n_exact"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2).count()
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    println(f"BVBVERIFY docs=$nDocs%,d  mismatched_docs=$diff  " +
      (if (diff == 0) "(gate == exact join on the contaminated relation)" else "MISMATCH"))
    require(diff == 0, s"$diff (doc, n_exact) rows differ between gate and exact join")
    spark.stop()
  }
}
