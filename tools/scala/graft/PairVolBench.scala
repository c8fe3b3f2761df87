package graft

import org.apache.spark.sql.functions._

/** Volume run for q109's pair mining at 2M vectors, on the
  * `embed_gen` corpus whose similarity structure is PLANTED (20k-vec
  * hot blob, ~62k 4-vector clusters at cosine ≥ 0.9996, singletons
  * near-orthogonal), so the positive side has exact ground truth.
  *
  * Candidate generation is the production shape: the POSITIVE pool
  * comes from q91's banded sign-LSH at EmbedDedupBench's measured
  * point (6 bands × 20 bits) with the q88-style bucket cap (64),
  * driven through the SAME `embBandedFor` + `cappedIndexBuckets`
  * path the ingest gates use; the NEGATIVE pool is a deterministic
  * hash-stripe sample (~2k vectors per anchor, vec_id ≡ anchor mod
  * 997) — the standard two-source miner, since near-dup buckets by
  * construction contain no under-margin candidates. Both pools feed
  * q109's OWN `minePairs` selection (the registered query and this
  * bench share that code; the candidate generator is the deployment
  * parameter, exactly as the q109 scaladoc promises). The hot blob's
  * banded buckets exceed the cap and drop, so blob anchors pair only
  * through the stripe — the production behavior (boilerplate
  * embeddings are deduped, not mined).
  *
  * Asserted over all 2M vectors:
  *   - every CLUSTER-ROOT anchor (~495 of 1000 anchors) emits a pair
  *     whose positive is one of its own 3 planted cluster-mates at
  *     cos ≥ 0.99;
  *   - no anchor's positive crosses cluster lines below 0.99 (the
  *     near-orthogonal singleton floor makes an accidental ≥ 0.99
  *     impossible, so any violation is a selection bug);
  *   - every emitted negative is a non-mate under the margin.
  *
  * Usage: sbt "Test/runMain graft.PairVolBench /tmp/embed2m"
  */
object PairVolBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/embed2m")
    val (bands, bits, cap) = (6, 20, 64)
    val (posMin, negMax) = (0.25, 0.10)
    val hotN = 20000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val meter = new Meter(spark)


    meter.take()
    val t1 = System.nanoTime()
    // Production candidate generation: capped banded buckets probed by
    // the anchors' own band keys (the q97 ingest-gate probe shape).
    val buckets = queries.DedupOps.cappedIndexBuckets(
        queries.DedupOps.embBandedFor(spark, dir, lit(true), bands, bits), cap)
      .where(size(col("ids")) > 0)
    val banded = queries.DedupOps.embBandedFor(spark, dir,
        col("vec_id") % 2000 === 0, bands, bits)
      .withColumnRenamed("doc_id", "anchor_id")
      .join(buckets, Seq("band", "key"))
      .select(col("anchor_id"), explode(col("ids")).as("cand_id"))
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("norm", sqrt(graft.plans.VecDotProduct(col("v"), col("v"))))
    // Negative pool: ~2k-vector deterministic stripe per anchor.
    val anchorIds = e.where(col("vec_id") % 2000 === 0)
      .select(col("vec_id").as("anchor_id"), (col("vec_id") % 997).as("st"))
    val stripe = anchorIds.join(
        e.select(col("vec_id").as("cand_id"), (col("vec_id") % 997).as("st")), "st")
      .select(col("anchor_id"), col("cand_id"))
    val cand = banded.union(stripe)
      .where(col("cand_id") =!= col("anchor_id"))
      .distinct()
    val scored = cand
      .join(e.select(col("vec_id").as("anchor_id"), col("v").as("av"),
        col("norm").as("an")), "anchor_id")
      .join(e.select(col("vec_id").as("cand_id"), col("v"), col("norm")), "cand_id")
      .select(col("anchor_id"), col("cand_id"),
        round(graft.plans.VecDotProduct(col("av"), col("v")) /
          (col("an") * col("norm")), 6).as("cos6"))
    val pairs = queries.SimilarityOps.minePairs(scored, posMin, negMax)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4)))
    val wallS = (System.nanoTime() - t1) / 1e9
    println(f"PVBRUN    ${pairs.length}%,d pairs mined from 1,000 anchors over 2M vectors " +
      f"in $wallS%5.1f s  shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")

    // Ground truth: anchors are ids % 2000 == 0; among them the
    // cluster ROOTS are those with (id/4) % 8 == 0 outside the blob.
    def isClusterRoot(id: Long) = id >= hotN && (id / 4) % 8 == 0
    val rootAnchors = (0L until 2000000L by 2000L).filter(isClusterRoot).toSet
    val emitted = pairs.map(p => p._1 -> p).toMap
    val rootsPaired = rootAnchors.filter(emitted.contains)
    val badPos = rootsPaired.filter { a =>
      val p = emitted(a); p._2 / 4 != a / 4 || p._3 < 0.99
    }
    require(rootsPaired == rootAnchors,
      s"${rootAnchors.size - rootsPaired.size} cluster-root anchors missing pairs")
    require(badPos.isEmpty,
      s"${badPos.size} root anchors picked a non-mate or low-cos positive: ${badPos.take(3)}")
    val crossHigh = pairs.filter(p => p._3 >= 0.99 &&
      !(isClusterRoot(p._1) && p._2 / 4 == p._1 / 4) &&
      !(p._1 < hotN && p._2 < hotN))
    require(crossHigh.isEmpty,
      s"${crossHigh.length} positives at >= 0.99 that are not planted mates")
    // neg_cos is the 4-dp ROUNDING of a value < negMax, so it can
    // print as exactly negMax (0.09996 -> 0.1000) — allow the slack.
    val badNeg = pairs.filter(p =>
      (isClusterRoot(p._1) && p._4 / 4 == p._1 / 4) || p._5 >= negMax + 0.00005)
    require(badNeg.isEmpty,
      s"${badNeg.length} negatives are planted mates or over-margin")
    val blobAnchors = pairs.count(_._1 < hotN)
    println(f"PVBVERIFY ${rootAnchors.size}%,d/${rootAnchors.size}%,d cluster-root anchors " +
      f"paired with their own planted mates (cos >= 0.99); " +
      f"$blobAnchors%,d blob anchors emitted (capped buckets drop the blob); " +
      f"all negatives non-mate under $negMax")
    spark.stop()
  }
}
