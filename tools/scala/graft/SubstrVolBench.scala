package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Volume run for q103's ExactSubstr-style sliding-window dedup (r10
  * VERDICT task 3 done-criteria) against the `tools/dedup_gen.py`
  * ground-truth corpus, whose cluster structure makes the operator's
  * behavior PROVABLE doc-class by doc-class at 2M docs:
  *
  *  - singleton docs (g%8 ∉ {0,1}) share no 10-token window with any
  *    other doc (hash-derived token streams, vocab 2^20) → every
  *    window has df=1 ≤ 2 → UNTOUCHED (n_kept == n_tokens);
  *  - exact-dup pairs (g%8==1): each window appears exactly twice,
  *    df=2 == cap → UNTOUCHED (the threshold is >2, q95's);
  *  - cluster ROOTS (g%8==0, r=0): every root window appears in ≥3 of
  *    the 4 cluster members (each member diverges at ONE position, so
  *    a window overlaps at most one member's mutation) → every window
  *    hot → FULLY DROPPED (n_kept == 0);
  *  - cluster MEMBERS (g%8==0, r>0): position p survives iff every
  *    window covering p also covers the member's own mutated position
  *    (those windows are doc-unique; all others are hot) → 1 ≤ n_kept
  *    ≤ 19 (only positions within 9 tokens of mutpos can qualify, and
  *    mutpos itself always survives).
  *
  * The run times the full operator output, then asserts all four
  * class invariants exactly — a 2M-doc correctness row, not just wall.
  *
  * Usage: SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=16g \
  *   sbt "Test/runMain graft.SubstrVolBench /tmp/dedup2m"
  */
object SubstrVolBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/dedup2m")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val meter = new Meter(spark)

    // Warm codegen on the sf corpus (untimed), as the other benches do.
    Registry.queriesMap("q103_substr_dedup")(spark, "/root/testdata/sf0.001")
      .queryExecution.toRdd.count()
    Scratch.releaseAll()

    val t0 = System.nanoTime()
    val outPath = java.nio.file.Files.createTempDirectory("graft_svol_").toString
    Registry.queriesMap("q103_substr_dedup")(spark, dir)
      .write.mode("overwrite").parquet(outPath)
    val dt = (System.nanoTime() - t0) / 1e9
    Scratch.releaseAll()
    val out = spark.read.parquet(outPath)
    val nDocs = out.count()
    val agg = out.agg(
      sum(col("n_tokens")).as("toks"),
      sum(col("n_kept")).as("kept"),
      sum(when(col("n_kept") < col("n_tokens"), 1L).otherwise(0L)).as("touched")).collect()(0)
    println(f"SUBSTRVOL $dir docs=$nDocs%,d  $dt%7.1f s  " +
      f"tokens=${agg.getLong(0)}%,d kept=${agg.getLong(1)}%,d " +
      f"touched_docs=${agg.getLong(2)}%,d  shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")

    // ---- ground-truth class invariants (untimed) --------------------
    val g = (col("doc_id") / 4).cast("long")
    val r = col("doc_id") % 4
    val cls = when(g % 8 === 0, when(r === 0, "root").otherwise("member"))
      .when(g % 8 === 1 && r <= 1, "exactdup")
      .otherwise("singleton")
    val bad = out.select(col("doc_id"), col("n_tokens"), col("n_kept"), cls.as("cls"))
      .select(col("cls"), col("n_tokens"), col("n_kept"),
        when(col("cls") === "root", col("n_kept") =!= 0)
          .when(col("cls") === "member",
            col("n_kept") < 1 || col("n_kept") > 19)
          .otherwise(col("n_kept") =!= col("n_tokens")).as("viol"))
    val byCls = bad.groupBy(col("cls"))
      .agg(count(lit(1)).as("docs"), sum(when(col("viol"), 1L).otherwise(0L)).as("viols"),
        sum(col("n_tokens") - col("n_kept")).as("dropped"))
      .orderBy(col("cls")).collect()
    byCls.foreach { row =>
      println(f"SUBSTRCLS ${row.getString(0)}%-10s docs=${row.getLong(1)}%,10d " +
        f"dropped_tokens=${row.getLong(3)}%,12d violations=${row.getLong(2)}")
    }
    val totalViol = byCls.map(_.getLong(2)).sum
    require(totalViol == 0, s"$totalViol docs violate their ground-truth class invariant")
    println(s"SUBSTRVERIFY all ${nDocs} docs match their class invariant " +
      "(singleton/exactdup untouched, roots fully dropped, members keep 1..19)")
    spark.stop()
  }
}
