package graft

import org.apache.spark.sql.functions._

/** Volume run for q106's Misra-Gries heavy-hitter sketch at 2M docs,
  * on the `tools/heavy_gen.py` corpus, which is built so the heavy
  * set is PROVABLE: ~8M distinct tape shingles each occur ~29 times
  * and every junction shingle contains the doc-unique tail token, so
  * the ONLY shingles over the n/(cap+1) ~ 60k threshold are the 33
  * (8+8+9+8) interior 3-grams of the planted boilerplate sentences, with
  * exactly computable counts ((n/10, n/20, n/10, n/20) occurrences
  * for sentences 1-4 — the (2,1,2,1)-per-20-ids draw). The run
  * asserts, over all 2M docs:
  *
  *   - sketch == exact: q106's two-pass output equals the full
  *     shingle groupBy's heavy set, count for count (the operator's
  *     core claim, at a cardinality — ~14M distinct shingles over a
  *     ~250M-row occurrence stream — where map-side combine can no
  *     longer collapse the full groupBy's shuffle);
  *   - ground truth: the heavy set is EXACTLY the 32 interior
  *     boilerplate shingles, each at its exactly-predicted count.
  *
  * (The first run of this bench used curation_gen.py's corpus; its
  * 64-word vocabulary both caps distinct shingles at 262k — a free
  * groupBy, nothing to beat — and makes every tape shingle heavy,
  * drowning the planted signal 1065-to-33. Wrong corpus, not a wrong
  * operator: sketch == exact held there too.)
  *
  * Reported per pass: wall, shuffle bytes, candidate count (bounded
  * by cap·partitions). The full-groupBy reference is timed for the
  * shuffle comparison.
  *
  * Usage: python3 tools/heavy_gen.py /tmp/heavy2m 2000000 &&
  *   sbt "Test/runMain graft.HeavyVolBench /tmp/heavy2m"
  */
object HeavyVolBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/cur2m")
    val cap = args.lift(1).map(_.toInt).getOrElse(4095)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val meter = new Meter(spark)

    def shingles = Tables.load(spark, dir, "documents")
      .select(split(trim(col("text")), " +").as("toks"))
      .where(size(col("toks")) >= 3)
      .select(explode(queries.shingleStringsUdf(3)(col("toks"))).as("s"))
      .as[String]

    // ---- pass 1: MG candidates (timed) ---------------------------
    meter.take()
    val t1 = System.nanoTime()
    val (cands, n) = queries.CurationOps.mgCandidates(shingles, cap)
    val mgS = (System.nanoTime() - t1) / 1e9
    println(f"HVBMG     cap=$cap  stream=$n%,d occurrences  " +
      f"candidates=${cands.length}%,d  pass1=$mgS%5.1f s  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")

    // ---- pass 2: exact trim (timed) ------------------------------
    meter.take()
    val t2 = System.nanoTime()
    val heavy = queries.CurationOps.heavyFromShingles(shingles, cap)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val trimS = (System.nanoTime() - t2) / 1e9
    println(f"HVBHEAVY  heavy=${heavy.length}%,d shingles  " +
      f"end_to_end=$trimS%5.1f s (incl. its own pass 1)  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")

    // ---- reference: full groupBy (timed) -------------------------
    meter.take()
    val t3 = System.nanoTime()
    val exact = shingles.toDF("shingle").groupBy(col("shingle"))
      .agg(count(lit(1)).as("c")).where(col("c") * (cap + 1) > n)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val fullS = (System.nanoTime() - t3) / 1e9
    println(f"HVBFULL   full-groupBy reference: ${exact.length}%,d heavy in " +
      f"$fullS%5.1f s  shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")

    // ---- verification --------------------------------------------
    require(heavy.toMap == exact.toMap,
      s"sketch (${heavy.length}) != exact (${exact.length}) heavy sets")
    // Ground truth: exactly the 33 interior shingles of the planted
    // boilerplate, at the generator's exactly-predicted counts
    // ((2,1,2,1) draws per 20 consecutive doc_ids).
    val boiler = Seq(
      "subscribe to our newsletter for updates terms and conditions apply",
      "all rights reserved contact the editor for reprint permission today",
      "click here to read more of this breaking story online now",
      "share this article on your favorite social media platform instantly")
    val nDocs = Tables.load(spark, dir, "documents").count()
    val perSentence = Seq(nDocs / 10, nDocs / 20, nDocs / 10, nDocs / 20)
    val expected = boiler.zip(perSentence).flatMap { case (s, c) =>
      s.split(" ").sliding(3).map(_.mkString(" ") -> c)
    }.toMap
    require(heavy.toMap == expected,
      s"heavy set != the ${expected.size} planted interior shingles at " +
        s"their predicted counts (got ${heavy.length})")
    println(f"HVBVERIFY sketch == exact == planted ground truth " +
      f"(${heavy.length}%,d shingles = the 4 sentences' 8+8+9+8 interior " +
      f"3-grams, counts exactly (n/10, n/20, n/10, n/20))")
    heavy.sortBy(-_._2).take(5).foreach { case (s, c) =>
      println(f"HVBTOP    $c%,10d  '$s'") }
    spark.stop()
  }
}
