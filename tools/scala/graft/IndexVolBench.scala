package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Volume run for q101's index-maintenance merge (r10 VERDICT task
  * 1a): the two-batch 2M-doc curve the operator's scale claim rests
  * on. Against `tools/dedup_gen.py` corpora (62,500 4-doc near-dup
  * clusters at 2M docs — every cluster bucket crosses q96's cap 3 once
  * all four members land, so the TOMBSTONE branch fires at production
  * density, not just in crafted specs):
  *
  *   standing = capped index over the 80 % split (h60 residues 2-9),
  *   merge A  = batch residue 0 (10 %) into the STORED standing index,
  *   merge B  = batch residue 1 (10 %) into the stored post-A index.
  *
  * Each merge reads the standing side from PARQUET (the production
  * shape — a stored bucket table absorbing a batch), so the timed body
  * is the batch's banding + capping + one co-partitioned index pass;
  * the claim under test is that merge B costs ≈ merge A (per-batch
  * cost flat from batch to batch, not growing with index size beyond
  * the index pass itself). After both merges, the final index is
  * asserted EQUAL, bucket for bucket, to the capped index recomputed
  * from scratch over the full corpus — the incremental == batch proof
  * at volume (IndexMergeSpec pins it at sf; the registered q101 oracle
  * re-proves it cross-engine at sf0.01 every round).
  *
  * A final REMOVAL phase (q116) then takes a 10 % takedown batch out
  * of the post-B index via removeFromIndexBuckets against the stored
  * full-corpus banding relation, asserts removal == from-scratch over
  * the surviving docs, and prints the branch census (tombstones
  * persisted / demoted to live / buckets dropped) — all three fire at
  * this corpus's production density.
  *
  * Usage: SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=16g \
  *   sbt "Test/runMain graft.IndexVolBench /tmp/dedup2m"
  */
object IndexVolBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/dedup2m")
    val cap = args.lift(1).map(_.toInt).getOrElse(3) // q96's registered cap
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val meter = new Meter(spark)

    val scratch = java.nio.file.Files.createTempDirectory("graft_ivb_").toString
    val m = queries.h60(concat(lit("ingest:"), col("doc_id"))) % 10

    def stats(label: String, df: DataFrame): Unit = {
      val r = df.agg(
        count(lit(1)).as("buckets"),
        sum(when(size(col("ids")) === 0, 1L).otherwise(0L)).as("tombstones"),
        sum(size(col("ids")).cast("long")).as("live_ids")).collect()(0)
      println(f"IVBSTATE  $label%-12s buckets=${r.getLong(0)}%,12d  " +
        f"tombstones=${r.getLong(1)}%,9d  live_ids=${r.getLong(2)}%,12d")
    }

    // ---- build + store the standing 80% index (untimed setup) -------
    val t0 = System.nanoTime()
    queries.DedupOps.cappedIndexBuckets(
        queries.DedupOps.bandedFor(spark, dir, m >= 2), cap)
      .write.mode("overwrite").parquet(s"$scratch/idx0")
    println(f"IVBSETUP  standing 80%% index built+stored in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    stats("standing", spark.read.parquet(s"$scratch/idx0"))

    // ---- merge batches A (residue 0) and B (residue 1) --------------
    var prev = s"$scratch/idx0"
    for ((res, tag) <- Seq((0, "A"), (1, "B"))) {
      meter.take()
      val t1 = System.nanoTime()
      val merged = queries.DedupOps.mergeIndexBuckets(
        spark.read.parquet(prev),
        queries.DedupOps.bandedFor(spark, dir, m === res), cap)
      val next = s"$scratch/idx$tag"
      merged.write.mode("overwrite").parquet(next)
      val dt = (System.nanoTime() - t1) / 1e9
      println(f"IVBMERGE  batch $tag (residue $res, 10%%) merged in $dt%6.1f s  " +
        f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")
      stats(s"after_$tag", spark.read.parquet(next))
      prev = next
    }

    // ---- incremental == batch at volume (untimed verification) ------
    val recomputed = queries.DedupOps.cappedIndexBuckets(
      queries.DedupOps.bandedFor(spark, dir, lit(true)), cap)
    val fin = spark.read.parquet(prev)
    def keyed(df: DataFrame) = df.select(col("band"), col("key"),
      concat_ws(",", transform(col("ids"), x => x.cast("string"))).as("idstr"))
    val diff = keyed(fin).union(keyed(recomputed))
      .groupBy(col("band"), col("key"), col("idstr"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2)
      .count()
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    println(f"IVBVERIFY docs=$nDocs%,d  mismatched_buckets=$diff  " +
      (if (diff == 0) "(merged == recomputed, bucket for bucket)" else "MISMATCH"))
    require(diff == 0, s"$diff buckets differ between merged and recomputed index")

    // ---- removal phase (q116): a 10 % takedown batch leaves the
    // final index. The full-corpus banding is the persisted reverse
    // relation q116's contract requires a deployment to keep (stored
    // untimed — it is written once at index-build time); the timed
    // body is the takedown itself: touched-bucket probe + bucket-
    // scoped rebuild + one pass over the standing index. At this
    // corpus's density the demotion branch fires in volume: most
    // 4-doc cluster buckets are tombstoned at cap 3, and a removed
    // member brings survivors back to 3 = cap -> LIVE again with the
    // full survivor set, recoverable only from the banding relation.
    val t2 = System.nanoTime()
    queries.DedupOps.bandedFor(spark, dir, lit(true))
      .write.mode("overwrite").parquet(s"$scratch/banding")
    println(f"IVBSETUP  full-corpus banding stored in " +
      f"${(System.nanoTime() - t2) / 1e9}%.1f s")
    val banding = spark.read.parquet(s"$scratch/banding")
    val removed = spark.read.parquet(s"$dir/documents.parquet")
      .where(queries.h60(concat(lit("remove:"), col("doc_id"))) % 10 === 0)
      .select(col("doc_id"))
    meter.take()
    val t3 = System.nanoTime()
    queries.DedupOps.removeFromIndexBuckets(
        spark.read.parquet(prev), banding, removed, cap)
      .write.mode("overwrite").parquet(s"$scratch/idxR")
    val dtR = (System.nanoTime() - t3) / 1e9
    println(f"IVBREMOVE 10%% takedown (${removed.count()}%,d docs) applied in " +
      f"$dtR%6.1f s  shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")
    val post = spark.read.parquet(s"$scratch/idxR")
    stats("after_rm", post)
    // Branch census: what happened to each pre-removal bucket.
    val census = spark.read.parquet(prev)
      .select(col("band"), col("key"), (size(col("ids")) === 0).as("wasTomb"))
      .join(post.select(col("band"), col("key"),
          (size(col("ids")) === 0).as("isTomb")),
        Seq("band", "key"), "left")
      .agg(
        sum(when(col("wasTomb") && col("isTomb"), 1L).otherwise(0L)).as("persisted"),
        sum(when(col("wasTomb") && col("isTomb") === false, 1L).otherwise(0L)).as("demoted"),
        sum(when(col("isTomb").isNull, 1L).otherwise(0L)).as("dropped")).collect()(0)
    println(f"IVBREMOVE branches: tombstones_persisted=${census.getLong(0)}%,d  " +
      f"demoted_to_live=${census.getLong(1)}%,d  buckets_dropped=${census.getLong(2)}%,d")
    // Removal == from-scratch over the surviving corpus, bucket for bucket.
    val recomputedR = queries.DedupOps.cappedIndexBuckets(
      banding.join(removed, Seq("doc_id"), "left_anti"), cap)
    val diffR = keyed(post).union(keyed(recomputedR))
      .groupBy(col("band"), col("key"), col("idstr"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2)
      .count()
    println(f"IVBRMVERIFY mismatched_buckets=$diffR  " +
      (if (diffR == 0) "(removal == from-scratch over surviving docs)" else "MISMATCH"))
    require(diffR == 0, s"$diffR buckets differ between removal and from-scratch rebuild")
    require(census.getLong(1) > 0, "demotion branch never fired at volume")
    require(census.getLong(2) > 0, "drop branch never fired at volume")
    spark.stop()
  }
}
