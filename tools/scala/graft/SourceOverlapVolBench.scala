package graft


/** Volume run for q111's source-overlap matrix at 2M docs, on the
  * `curation_gen` corpus whose CROSS-source sharing is provable:
  * source = doc_id % 8 and tape = (doc_id·7) % 16 gives each source
  * exactly the two tapes {7a, 7a+8} mod 16, and distinct sources
  * share NO tape (7(a−b) ≡ 0 or 8 mod 16 has no solution for
  * 0 < |a−b| < 8) — so the ONLY shingles two sources can share are
  * boilerplate-derived. Working the mod-40 residue lattice
  * (source = id mod 8, boiler iff id mod 10 < 3, sentence =
  * 1 + id mod 4): each source draws exactly ONE sentence — sources
  * {0,4}→s1, {1,5}→s2, {2,6}→s3, {3,7}→s4 — so EXACTLY four source
  * pairs overlap, each sharing its sentence's shingle set. Every
  * boiler doc reads "… d<id> the and [sentence]", so the shared set
  * is the sentence's interior 8-grams plus the two junction 8-grams
  * starting at "the"/"and" (anything earlier contains the
  * doc-unique d<id>): 10-token sentences share 2+3 = 5 shingles,
  * the 11-token sentence 3 shares 2+4 = 6.
  *
  * Asserted: exactly the pairs (s0,s4)=5, (s1,s5)=5, (s2,s6)=6,
  * (s3,s7)=5, and nothing else — tape-disjointness AND the residue
  * lattice both confirmed over all 2M docs. Reported: wall, shuffle
  * GB (one shingle-keyed exchange; the pair relation is
  * sources²-bounded).
  *
  * Usage: sbt "Test/runMain graft.SourceOverlapVolBench /tmp/cur2m"
  */
object SourceOverlapVolBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/cur2m")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val meter = new Meter(spark)

    meter.take()
    val t1 = System.nanoTime()
    val rows = Registry.queriesMap("q111_source_overlap")(spark, dir)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4))))
    val wallS = (System.nanoTime() - t1) / 1e9
    println(f"SOVRUN    ${rows.length}%,d source pairs over 2M docs in $wallS%5.1f s  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")

    val got = rows.map { case (k, (sh, _, _)) => k -> sh }.toMap
    val expected = Map(
      ("s0", "s4") -> 5L, ("s1", "s5") -> 5L,
      ("s2", "s6") -> 6L, ("s3", "s7") -> 5L)
    require(got == expected,
      s"overlap matrix must be exactly the 4 same-sentence pairs at their " +
        s"sentence's shingle counts; got $got")
    val nRange = (rows.map(_._2._2) ++ rows.map(_._2._3)).distinct.sorted
    println(f"SOVVERIFY exactly the 4 same-sentence pairs, each sharing its " +
      f"sentence's 5/5/6/5 boilerplate shingles and nothing else " +
      f"(per-source distinct shingles ${nRange.head}%,d..${nRange.last}%,d — " +
      f"tape-disjointness holds at 2M docs)")
    spark.stop()
  }
}
