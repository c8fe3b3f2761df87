package graft

import org.apache.spark.sql.functions._

/** Volume run for q110's centroid/drift matrix at 2M vectors (128M
  * array elements through the posexplode → partial-agg pipeline).
  * Verification is an INDEPENDENT dataflow: an RDD mapPartitions pass
  * accumulating per-label double sums per partition, reduced on the
  * driver (labels × 64 doubles per partition — bounded), compared to
  * the registered query's centroid cosines within 1e-6 (the two paths
  * differ only by the query's 8-dp per-element decimal rounding, ~1e-8
  * relative). Reports wall + shuffle — the exchange must stay
  * partitions × labels × 64 rows, never corpus-sized.
  *
  * Usage: sbt "Test/runMain graft.CentroidVolBench /tmp/embed2m"
  */
object CentroidVolBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/embed2m")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val meter = new Meter(spark)

    meter.take()
    val t1 = System.nanoTime()
    val got = Registry.queriesMap("q110_embedding_centroids")(spark, dir)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(4))).toMap
    val wallS = (System.nanoTime() - t1) / 1e9
    println(f"CENTRUN   ${got.size}%,d drift pairs over 2M vectors in $wallS%5.1f s  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.3f GB")

    // Independent recompute: per-partition double accumulation.
    val t2 = System.nanoTime()
    val partials = Tables.load(spark, dir, "embeddings")
      .select(col("label"), col("embedding"))
      .rdd.mapPartitions { it =>
        val acc = scala.collection.mutable.Map.empty[Int, (Array[Double], Long)]
        it.foreach { r =>
          val l = r.getInt(0)
          val v = r.getSeq[Float](1)
          val (s, _) = acc.getOrElseUpdate(l, (new Array[Double](64), 0L))
          var i = 0
          while (i < 64) { s(i) += v(i); i += 1 }
          acc(l) = (s, acc(l)._2 + 1)
        }
        acc.iterator
      }.collect()
    val byLabel = partials.groupBy(_._1).map { case (l, ps) =>
      val s = new Array[Double](64)
      var n = 0L
      ps.foreach { case (_, (ss, nn)) => var i = 0; while (i < 64) { s(i) += ss(i); i += 1 }; n += nn }
      l -> s.map(_ / n)
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (ab, aa, bb) = (0.0, 0.0, 0.0)
      var i = 0
      while (i < 64) { ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1 }
      ab / (math.sqrt(aa) * math.sqrt(bb))
    }
    val refS = (System.nanoTime() - t2) / 1e9
    val maxDiff = got.map { case ((la, lb), c) =>
      math.abs(c - cos(byLabel(la), byLabel(lb)))
    }.max
    println(f"CENTREF   independent mapPartitions recompute in $refS%5.1f s; " +
      f"max |cos diff| = $maxDiff%.2e")
    require(maxDiff < 1e-4 + 5e-5,
      s"drift matrix deviates from the independent recompute: $maxDiff")
    println(f"CENTVERIFY drift matrix == independent double-sum recompute " +
      f"within the 4-dp output rounding")
    spark.stop()
  }
}
