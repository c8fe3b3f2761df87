package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Kernel microbench over fixed seeded inputs: the scalar and the
  * Catalyst form of `seqRatio`, the minhash signature UDF and
  * `SortedIntersectCount`. Each reports ns per operation and the
  * operation count. The DataFrame forms are timed through one warm
  * aggregate over cached inputs, so the figure is the expression's
  * cost plus a scan, not a collect. The scalar and expression
  * `seqRatio` must agree exactly on every pair, and the intersect
  * count must equal a plain set intersection. */
object Kernels {
  val Pairs = 50000
  val Docs = 2000
  val Sets = 50000

  private def timed[T](f: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = f
    (r, System.nanoTime() - t0)
  }

  def run(spark: SparkSession, seed: Long): Map[String, Any] = {
    val rnd = new scala.util.Random(seed)
    val alpha = "abcdefghijklmnopqrstuvwxyz .-"
    def word(n: Int) = Iterator.fill(n)(alpha(rnd.nextInt(alpha.length))).mkString
    val pairs = Array.fill(Pairs) {
      val a = word(6 + rnd.nextInt(18))
      val b = if (rnd.nextBoolean()) a.patch(rnd.nextInt(a.length), word(2), 1) else word(6 + rnd.nextInt(18))
      (a, b)
    }

    // Warm both paths once so the timed loops measure steady state.
    pairs.take(2000).foreach { case (a, b) => graft.functions.Similarity.seqRatio(a, b) }
    val (scalar, scalarNs) = timed(pairs.map { case (a, b) =>
      graft.functions.Similarity.seqRatio(a, b) })

    val pairDf = spark.createDataFrame(
      spark.sparkContext.parallelize(pairs.toSeq.zipWithIndex.map { case ((a, b), i) =>
        Row(i.toLong, a, b) }),
      StructType(Seq(StructField("i", LongType), StructField("a", StringType),
        StructField("b", StringType)))).cache()
    pairDf.count()
    val ratioDf = pairDf.select(col("i"), graft.plans.SeqRatio(col("a"), col("b")).as("r"))
    ratioDf.agg(sum(col("r"))).collect()
    val (_, exprNs) = timed(ratioDf.agg(sum(col("r"))).collect())
    val expr = new Array[Double](Pairs)
    ratioDf.collect().foreach(r => expr(r.getLong(0).toInt) = r.getDouble(1))
    val seqAgree = (0 until Pairs).forall(i =>
      java.lang.Double.doubleToLongBits(expr(i)) == java.lang.Double.doubleToLongBits(scalar(i)))
    pairDf.unpersist()

    val docs = Seq.fill(Docs)(Seq.fill(40 + rnd.nextInt(160))(word(3 + rnd.nextInt(5))))
    val p = (1L << 61) - 1
    val ab = Seq.fill(64)((1L + rnd.nextInt(Int.MaxValue), rnd.nextInt(Int.MaxValue).toLong))
    val docDf = spark.createDataFrame(spark.sparkContext.parallelize(docs.map(Row(_))),
      StructType(Seq(StructField("tk", ArrayType(StringType))))).cache()
    docDf.count()
    val sigDf = docDf.select(graft.queries.minhashSigUdf(3, ab, p)(col("tk")).as("sig"))
      .select(size(col("sig.hs")).as("n"))
    sigDf.agg(sum(col("n"))).collect()
    val (sigRows, sigNs) = timed(sigDf.agg(sum(col("n"))).collect())
    docDf.unpersist()

    def sortedSet(n: Int) = Iterator.fill(n)(rnd.nextInt(4000).toLong).toArray.distinct.sorted
    val sets = Array.fill(Sets)((sortedSet(10 + rnd.nextInt(60)), sortedSet(10 + rnd.nextInt(60))))
    val setDf = spark.createDataFrame(
      spark.sparkContext.parallelize(sets.toSeq.zipWithIndex.map { case ((a, b), i) =>
        Row(i.toLong, a.toSeq, b.toSeq) }),
      StructType(Seq(StructField("i", LongType), StructField("a", ArrayType(LongType)),
        StructField("b", ArrayType(LongType))))).cache()
    setDf.count()
    val sicDf = setDf.select(col("i"),
      graft.plans.SortedIntersectCount(col("a"), col("b")).as("n"))
    sicDf.agg(sum(col("n"))).collect()
    val (_, sicNs) = timed(sicDf.agg(sum(col("n"))).collect())
    val sicAgree = sicDf.collect().forall { r =>
      val (a, b) = sets(r.getLong(0).toInt)
      r.getInt(1) == a.toSet.intersect(b.toSet).size
    }
    setDf.unpersist()

    Map(
      "functions.Similarity.seqRatio" -> Map("ops" -> Pairs, "ns_per_op" -> scalarNs.toDouble / Pairs),
      "plans.SeqRatio" -> Map("ops" -> Pairs, "ns_per_op" -> exprNs.toDouble / Pairs),
      "queries.minhashSig" -> Map("ops" -> Docs, "ns_per_op" -> sigNs.toDouble / Docs,
        "shingles" -> sigRows.head.getLong(0)),
      "plans.SortedIntersectCount" -> Map("ops" -> Sets, "ns_per_op" -> sicNs.toDouble / Sets),
      "seq_ratio_agree" -> seqAgree,
      "sorted_intersect_agree" -> sicAgree)
  }
}
