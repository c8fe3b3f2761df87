package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Volume exercise for q53's PREFIX-FILTER path (the large-vocab
  * plan), against `tools/jaccard_gen.py` corpora — the one q53
  * physical plan the sf bench never reaches: the driver corpora's
  * gram vocabulary fits the bitset bound, so the adaptive probe
  * always picks the bitset join there (VERDICT r8 "What's missing"
  * #2). jaccard_gen's 32-letter tokens push the vocabulary to ~10^6,
  * so THIS run exercises the probe's overflow branch and the
  * PPJoin-style df-ordered prefix equi-join at volume.
  *
  * The prefix filter is sound AND complete for J >= 0.5 (with the
  * size-ratio guard), so ground truth is asserted as EQUALITY:
  * exactly 6 pairs per generated 4-doc cluster + 1 per exact-dup
  * pair, zero cross-group pairs.
  *
  * Usage (ladder — the point is the n^2 candidate growth curve):
  *   for n in 25000 50000 100000 200000; do
  *     python3 tools/jaccard_gen.py /tmp/jacc$n $n
  *   done
  *   SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.Q53Bench /tmp/jacc25000 /tmp/jacc50000 ..."
  */
object Q53Bench {
  def main(args: Array[String]): Unit = {
    // Flags: "q94" also runs the registered char-gram MINHASH (q53's
    // at-scale sketch relaxation) on each corpus with the same ground
    // truth (recall >= 99.9% asserted instead of exactness — the band
    // S-curve at J >= 0.89 is ~1.0); "noexact" skips the exact q53
    // run (for corpora past the exact join's practical range).
    // "cap=<n>" overrides q94's registered band-bucket cap (8).
    // "attrib" classifies every ground-truth pair by q94's band keys
    // WITHOUT running the pair pipeline — captured (some shared band's
    // bucket <= cap) / cap miss (shared bands exist, all hot) /
    // S-curve miss (no shared band) — the linear-cost recall
    // attribution (a full cap=64 pair run at 1M docs fills the
    // scratch disk; see THROUGHPUT.md).
    // "bands=<n>x<m>" makes attrib SIMULATE a re-parameterized band
    // layout (extra hashes from the same universal-hash family) — the
    // measured answer to "would more bands beat a bigger cap".
    val flags = args.toSeq.filter(a =>
      a == "q94" || a == "noexact" || a == "attrib" ||
        a.startsWith("cap=") || a.startsWith("bands=")).toSet
    val q94Cap = flags.collectFirst { case f if f.startsWith("cap=") => f.drop(4).toInt }
    val q94Bands = flags.collectFirst { case f if f.startsWith("bands=") =>
      val Array(b, r) = f.drop(6).split("x").map(_.toInt); (b, r) }
    val dirArgs = args.toSeq.filterNot(flags)
    val dirs = if (dirArgs.nonEmpty) dirArgs else Seq("/tmp/jacc50000")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val meter = new Meter(spark)

    // Warm the PREFIX plan's codegen explicitly (maxVocab = 0 forces
    // it): the sf corpus would otherwise warm the bitset plan only.
    queries.DedupOps.ngramJaccardPairs(spark, "/root/testdata/sf0.001", 0)
      .queryExecution.toRdd.count()
    Scratch.releaseAll()

    for (dir <- dirs if !flags("noexact")) {
      meter.take()
      val t0 = System.nanoTime()
      // 16384 = the registered q53 bound: the probe must OVERFLOW on
      // this corpus and choose the prefix path on its own.
      val pairs = queries.DedupOps.ngramJaccardPairs(spark, dir, 16384)
        .select(col("doc_a"), col("doc_b")).cache()
      val nPairs = pairs.count()
      val dt = (System.nanoTime() - t0) / 1e9
      val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
      val m = meter.take()
      println(f"Q53BENCH $dir%-18s docs=$nDocs%,9d $dt%8.2f s  pairs=$nPairs%,d  " +
        f"shufWrite=${m.shuffleWriteBytes / 1e9}%.2f GB  shufRead=${m.shuffleReadBytes / 1e9}%.2f GB")

      // ---- exactness vs ground truth (untimed) ------------------------
      val badPairs = pairs.where(
        !(floor(col("doc_a") / 4) === floor(col("doc_b") / 4) &&
          ((floor(col("doc_a") / 4) % 8 === 0) ||
           (floor(col("doc_a") / 4) % 8 === 1 &&
            col("doc_a") % 4 === 0 && col("doc_b") % 4 === 1)))).count()
      def cntRes(n: Long, r: Long): Long = if (n <= r) 0 else (n - r + 7) / 8
      val hi = nDocs / 4
      val expected = cntRes(hi, 0) * 6 + cntRes(hi, 1)
      pairs.unpersist(); Scratch.releaseAll()
      println(f"Q53VERIFY $dir%-18s pairs=$nPairs%,d expected=$expected%,d unsound=$badPairs")
      require(badPairs == 0, s"$badPairs pairs bridge unrelated docs")
      require(nPairs == expected,
        s"prefix path emitted $nPairs pairs, ground truth says $expected")
    }

    if (flags("q94")) for (dir <- dirs) {
      meter.take()
      val t0 = System.nanoTime()
      val pairs = q94Cap.map(c => queries.DedupOps.ngramMinhashPairs(spark, dir, c))
        .getOrElse(Registry.queriesMap("q94_ngram_minhash")(spark, dir))
        .select(col("doc_a"), col("doc_b")).cache()
      val nPairs = pairs.count()
      val dt = (System.nanoTime() - t0) / 1e9
      val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
      val m = meter.take()
      println(f"Q94BENCH $dir%-18s docs=$nDocs%,9d $dt%8.2f s  pairs=$nPairs%,d  " +
        f"shufWrite=${m.shuffleWriteBytes / 1e9}%.2f GB  shufRead=${m.shuffleReadBytes / 1e9}%.2f GB")
      val badPairs = pairs.where(
        !(floor(col("doc_a") / 4) === floor(col("doc_b") / 4) &&
          ((floor(col("doc_a") / 4) % 8 === 0) ||
           (floor(col("doc_a") / 4) % 8 === 1 &&
            col("doc_a") % 4 === 0 && col("doc_b") % 4 === 1)))).count()
      pairs.unpersist(); Scratch.releaseAll()
      def cntRes(n: Long, r: Long): Long = if (n <= r) 0 else (n - r + 7) / 8
      val hi = nDocs / 4
      val expected = cntRes(hi, 0) * 6 + cntRes(hi, 1)
      val recall = (nPairs - badPairs).toDouble / expected
      println(f"Q94VERIFY $dir%-18s pairs=$nPairs%,d expected=$expected%,d " +
        f"unsound=$badPairs recall=${recall * 100}%.3f%%")
      require(badPairs == 0, s"$badPairs q94 pairs bridge unrelated docs")
      require(recall >= 0.999, f"q94 recall $recall%.4f below 0.999")
    }

    if (flags("attrib")) for (dir <- dirs) {
      val cap = q94Cap.getOrElse(queries.DedupOps.Q94Cap)
      val t0 = System.nanoTime()
      val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
      // Ground-truth pairs (same residues as the verify blocks above):
      // group g = id/4; g%8==0 -> 6 pairs among {4g..4g+3};
      // g%8==1 -> exact pair (4g, 4g+1).
      val g = spark.range(0, (nDocs + 3) / 4).toDF("g")
      val combos = Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3))
      val clusterPairs = combos.map { case (i, j) =>
        g.where(col("g") % 8 === 0)
          .select((col("g") * 4 + i).as("a"), (col("g") * 4 + j).as("b"))
      }.reduce(_ union _)
      val exactPairs = g.where(col("g") % 8 === 1)
        .select((col("g") * 4).as("a"), (col("g") * 4 + 1).as("b"))
      val truth = clusterPairs.union(exactPairs)
        .where(col("a") < nDocs && col("b") < nDocs)
      // Band keys + GLOBAL bucket occupancy (BoundedIdBag keeps a
      // bucket entirely iff its full size <= cap, so global counts
      // decide drop exactly). Spilled to parquet rather than cached:
      // the columnar cache build competes with the signature
      // aggregation for execution memory at 1M docs (measured: the
      // cached form AGGREGATE_OOMs even at 28g/16 threads).
      // q94's banding front-end without the verify hash sets (the
      // expensive half, never read here); other (bands, rows) simulate
      // a re-parameterized sketch over the same universal-hash family.
      val g94 = queries.DedupOps.Grams94
      val (nb, nr) = q94Bands.getOrElse((g94.bands, g94.rows))
      val mh = queries.Lsh.MinHash(g94.gram, nb, nr)
      val bandedPath = java.nio.file.Files.createTempDirectory("q94attrib_").toString
      mh.banded(mh.sigOf(queries.t(spark, dir, "documents")
          .repartition(spark.sparkContext.defaultParallelism), sets = false))
        .write.mode("overwrite").parquet(bandedPath)
      val banded = spark.read.parquet(bandedPath)
      val dbg = sys.env.contains("GRAFT_ATTRIB_DEBUG")
      def step(name: String, df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        if (dbg) {
          val t = System.nanoTime()
          val n = df.queryExecution.toRdd.count()
          println(f"Q94ATTRIB-DBG $name%-12s rows=$n%,d  (${(System.nanoTime() - t) / 1e9}%.1f s)")
        }
        df
      }
      val bcount = step("bcount", banded.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("n")))
      val bk = step("bk", banded.join(bcount, Seq("band", "key")))
      val aSide = bk.select(col("doc_id").as("a"), col("band"),
        col("key").as("key_a"), col("n").as("bucket_n"))
      val bSide = bk.select(col("doc_id").as("b"), col("band"),
        col("key").as("key_b"))
      val shared = step("shared", truth.join(aSide, Seq("a")).join(bSide, Seq("b", "band"))
        .where(col("key_a") === col("key_b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n_shared"), min(col("bucket_n")).as("min_bucket")))
      val cls = truth.join(shared, Seq("a", "b"), "left").select(
        when(col("n_shared").isNull, "scurve_miss")
          .when(col("min_bucket") > cap, "cap_miss")
          .otherwise("captured").as("cls"))
        .groupBy(col("cls")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Scratch.releaseAll()
      val dt = (System.nanoTime() - t0) / 1e9
      val total = cls.values.sum
      println(f"Q94ATTRIB $dir%-18s cap=$cap bands=${nb}x$nr truthPairs=$total%,d  " +
        f"captured=${cls.getOrElse("captured", 0L)}%,d  " +
        f"scurve_miss=${cls.getOrElse("scurve_miss", 0L)}%,d  " +
        f"cap_miss=${cls.getOrElse("cap_miss", 0L)}%,d  ($dt%.1f s)")
    }
    spark.stop()
  }
}
