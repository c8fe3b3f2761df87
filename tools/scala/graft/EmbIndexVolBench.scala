package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Volume run for q102's EMBEDDING-index maintenance merge — the
  * sign-LSH twin of [[IndexVolBench]] (which measured q101's text
  * MinHash instance). Against a `tools/embed_gen.py` corpus (2M
  * 64-dim vectors: one 20k near-identical HOT BLOB, ~62k 4-vector
  * near-dup clusters, exact-dup pairs, rest near-orthogonal
  * singletons), at EmbedDedupBench's measured production parameters
  * (6 bands × 20 Rademacher bits, cap 64 — NOT the registered
  * sf-scale 4×6/cap-56 point, which at 2M vectors would collapse
  * into 256 all-tombstone buckets):
  *
  *   standing = capped sign-LSH index over the 80 % split
  *              (h60 residues 2–9), STORED to parquet,
  *   merge A  = batch residue 0 (10 %) into the stored standing index,
  *   merge B  = batch residue 1 (10 %) into the stored post-A index.
  *
  * The hot blob guarantees the TOMBSTONE branch fires at production
  * density (its ~20k vectors concentrate into a handful of
  * (band, key) buckets, each far over cap 64), and the 4-vector
  * clusters — whose members scatter across the h60 residues — drive
  * the alive∪alive union path on every merge. After both merges the
  * final index is asserted EQUAL, bucket for bucket, to the capped
  * index recomputed from scratch over the full 2M corpus: the
  * incremental == batch proof at volume for the embedding banding
  * (the registered q102 oracle re-proves the same equality
  * cross-engine at sf0.01 every round; IndexMergeSpec fires the
  * tombstone branch on this banding at sf).
  *
  * A final REMOVAL phase (q123) takes a 10 % takedown batch out of
  * the post-B index via removeFromIndexBuckets against the stored
  * full-corpus banding, asserting removal == from-scratch over the
  * survivors and that both the persistence branch (the hot blob's
  * buckets stay tombstoned) and the demotion branch fire.
  *
  * Usage: python3 tools/embed_gen.py /tmp/embed2m 2000000
  *   SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.EmbIndexVolBench /tmp/embed2m"
  */
object EmbIndexVolBench {
  private val Bands = 6  // EmbedDedupBench's production point
  private val Bits = 20
  private val Cap = 64

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/embed2m")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val meter = new Meter(spark)

    val scratch = java.nio.file.Files.createTempDirectory("graft_eivb_").toString
    val m = queries.h60(concat(lit("ingest:"), col("vec_id"))) % 10

    def stats(label: String, df: DataFrame): Unit = {
      val r = df.agg(
        count(lit(1)).as("buckets"),
        sum(when(size(col("ids")) === 0, 1L).otherwise(0L)).as("tombstones"),
        sum(size(col("ids")).cast("long")).as("live_ids")).collect()(0)
      println(f"EIVBSTATE $label%-12s buckets=${r.getLong(0)}%,12d  " +
        f"tombstones=${r.getLong(1)}%,9d  live_ids=${r.getLong(2)}%,12d")
    }

    def banded(pred: org.apache.spark.sql.Column): DataFrame =
      queries.DedupOps.embBandedFor(spark, dir, pred, Bands, Bits)

    // ---- build + store the standing 80% index (untimed setup) -------
    val t0 = System.nanoTime()
    queries.DedupOps.cappedIndexBuckets(banded(m >= 2), Cap)
      .write.mode("overwrite").parquet(s"$scratch/idx0")
    println(f"EIVBSETUP standing 80%% index built+stored in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    stats("standing", spark.read.parquet(s"$scratch/idx0"))

    // ---- merge batches A (residue 0) and B (residue 1) --------------
    var prev = s"$scratch/idx0"
    for ((res, tag) <- Seq((0, "A"), (1, "B"))) {
      meter.take()
      val t1 = System.nanoTime()
      val merged = queries.DedupOps.mergeIndexBuckets(
        spark.read.parquet(prev), banded(m === res), Cap)
      val next = s"$scratch/idx$tag"
      merged.write.mode("overwrite").parquet(next)
      val dt = (System.nanoTime() - t1) / 1e9
      println(f"EIVBMERGE batch $tag (residue $res, 10%%) merged in $dt%6.1f s  " +
        f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")
      stats(s"after_$tag", spark.read.parquet(next))
      prev = next
    }

    // ---- incremental == batch at volume (untimed verification) ------
    val recomputed = queries.DedupOps.cappedIndexBuckets(banded(lit(true)), Cap)
    val fin = spark.read.parquet(prev)
    def keyed(df: DataFrame) = df.select(col("band"), col("key"),
      concat_ws(",", transform(col("ids"), x => x.cast("string"))).as("idstr"))
    val diff = keyed(fin).union(keyed(recomputed))
      .groupBy(col("band"), col("key"), col("idstr"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2)
      .count()
    val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    println(f"EIVBVERIFY vecs=$nVecs%,d  mismatched_buckets=$diff  " +
      (if (diff == 0) "(merged == recomputed, bucket for bucket)" else "MISMATCH"))
    require(diff == 0, s"$diff buckets differ between merged and recomputed index")

    // ---- removal phase (q123): a 10 % takedown batch leaves the
    // final index — the IndexVolBench phase on the embedding banding.
    // The hot blob's buckets hold ~20k vectors each, so they stay
    // TOMBSTONED through any 10 % removal (persistence at extreme
    // density), while cap-adjacent cluster buckets DEMOTE back to
    // live with their full survivor sets out of the stored banding.
    val t2 = System.nanoTime()
    banded(lit(true)).write.mode("overwrite").parquet(s"$scratch/banding")
    println(f"EIVBSETUP full-corpus banding stored in " +
      f"${(System.nanoTime() - t2) / 1e9}%.1f s")
    val bandingDf = spark.read.parquet(s"$scratch/banding")
    val removed = spark.read.parquet(s"$dir/embeddings.parquet")
      .where(queries.h60(concat(lit("remove:"), col("vec_id"))) % 10 === 0)
      .select(col("vec_id").as("doc_id"))
    meter.take()
    val t3 = System.nanoTime()
    queries.DedupOps.removeFromIndexBuckets(
        spark.read.parquet(prev), bandingDf, removed, Cap)
      .write.mode("overwrite").parquet(s"$scratch/idxR")
    val dtR = (System.nanoTime() - t3) / 1e9
    println(f"EIVBREMOVE 10%% takedown (${removed.count()}%,d vecs) applied in " +
      f"$dtR%6.1f s  shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")
    val post = spark.read.parquet(s"$scratch/idxR")
    stats("after_rm", post)
    val census = spark.read.parquet(prev)
      .select(col("band"), col("key"), (size(col("ids")) === 0).as("wasTomb"))
      .join(post.select(col("band"), col("key"),
          (size(col("ids")) === 0).as("isTomb")),
        Seq("band", "key"), "left")
      .agg(
        sum(when(col("wasTomb") && col("isTomb"), 1L).otherwise(0L)).as("persisted"),
        sum(when(col("wasTomb") && col("isTomb") === false, 1L).otherwise(0L)).as("demoted"),
        sum(when(col("isTomb").isNull, 1L).otherwise(0L)).as("dropped")).collect()(0)
    println(f"EIVBREMOVE branches: tombstones_persisted=${census.getLong(0)}%,d  " +
      f"demoted_to_live=${census.getLong(1)}%,d  buckets_dropped=${census.getLong(2)}%,d")
    val recomputedR = queries.DedupOps.cappedIndexBuckets(
      bandingDf.join(removed, Seq("doc_id"), "left_anti"), Cap)
    val diffR = keyed(post).union(keyed(recomputedR))
      .groupBy(col("band"), col("key"), col("idstr"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2)
      .count()
    println(f"EIVBRMVERIFY mismatched_buckets=$diffR  " +
      (if (diffR == 0) "(removal == from-scratch over surviving vectors)" else "MISMATCH"))
    require(diffR == 0, s"$diffR buckets differ between removal and from-scratch rebuild")
    require(census.getLong(0) > 0, "persistence branch never fired at volume")
    require(census.getLong(1) > 0, "demotion branch never fired at volume")
    spark.stop()
  }
}
