package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

/** The contract of [[Scratch]]: one leaf per cache, the stored
  * partitioning visible to consumers, the same rows, blocks freed on
  * release, and no write to the caller's session conf — even while
  * many threads cache at once. */
class ScratchSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  // A session of its own over the shared context: the conf this spec
  // samples is not written by any other suite's session.
  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
      .newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s
  }

  private val CanChange = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  private def events(n: Int, salt: Int = 0): DataFrame =
    spark.range(n).select(((col("id") * 7 + salt) % 50).as("k"), col("id").as("v"))

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))

  /** ENSURE_REQUIREMENTS shuffles in `df`'s final plan. */
  private def ensureExchanges(df: DataFrame): Int = {
    df.collect()
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeLike if e.shuffleOrigin == ENSURE_REQUIREMENTS => e
    }.size
  }

  test("scoped returns a single leaf with the uncached relation's rows") {
    for (adaptive <- Seq(false, true)) {
      val src = events(500).where(col("v") % 3 =!= 0)
      val leaf = Scratch.scoped(src, adaptive)
      assert(leaf.queryExecution.analyzed.isInstanceOf[LeafNode],
        leaf.queryExecution.analyzed.treeString)
      assert(sorted(leaf) == sorted(src))
      // Scoping a leaf again hands it back unchanged.
      assert(Scratch.scoped(leaf, adaptive) eq leaf)
      Scratch.releaseAll()
    }
  }

  test("consumers of a repartition(k) cache plan no exchange on k, filled or not") {
    for (adaptive <- Seq(false, true); filledFirst <- Seq(false, true)) {
      val c = Scratch.scoped(events(2000).repartition(col("k")), adaptive)
      if (filledFirst) c.count()
      val grouped = c.groupBy(col("k")).agg(sum(col("v")).as("s"))
      val joined = c.as("a").join(c.as("b"), Seq("k"))
      assert(ensureExchanges(grouped) == 0,
        s"adaptive=$adaptive filled=$filledFirst: groupBy re-exchanged\n" +
          grouped.queryExecution.executedPlan)
      assert(ensureExchanges(joined) == 0,
        s"adaptive=$adaptive filled=$filledFirst: self-join re-exchanged\n" +
          joined.queryExecution.executedPlan)
      Scratch.releaseAll()
    }
  }

  test("a leaf over an ordered relation joins with itself") {
    for (adaptive <- Seq(false, true)) {
      // A range is ordered by id: the self-join gives one side a new
      // instance of the leaf, which must still canonicalize.
      val c = Scratch.scoped(spark.range(200).select(col("id"), (col("id") % 7).as("m")), adaptive)
      val joined = c.as("a").join(c.as("b"), col("a.id") === col("b.m"))
      assert(joined.count() == 200)
      Scratch.releaseAll()
    }
  }

  test("release(ds) and releaseAll() free the cached blocks") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val a = Scratch.scoped(events(300, 1), adaptive = true)
    val b = Scratch.scoped(events(300, 2))
    a.count(); b.count()
    val filled = sc.getPersistentRDDs.keySet -- before
    assert(filled.size == 2, s"expected two cached RDDs, got $filled")
    Scratch.release(a)
    assert((sc.getPersistentRDDs.keySet -- before).size == 1)
    Scratch.release(a) // a second release is a no-op
    Scratch.releaseAll()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    // A released leaf still reads its rows.
    assert(sorted(a) == sorted(events(300, 1)))
  }

  test("8 threads caching at once never write the session conf; each cache keeps its own width") {
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    val initial = spark.conf.getOption(CanChange)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Option[String]]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) seen.add(spark.conf.getOption(CanChange))
    })
    sampler.start()
    val widths = try {
      val runs = (0 until 8).map { i =>
        Future {
          (0 until 4).map { j =>
            val adaptive = (i + j) % 2 == 0
            val c = Scratch.scoped(events(400, i * 10 + j).repartition(col("k")), adaptive)
            c.count()
            (adaptive, c.rdd.getNumPartitions)
          }
        }
      }
      runs.flatMap(Await.result(_, 5.minutes))
    } finally {
      sampling = false
      sampler.join()
      Scratch.releaseAll()
    }
    assert(seen.size == 1 && seen.contains(initial),
      s"$CanChange changed while caching: saw $seen")
    // Byte coalescing squeezes these tiny caches below the fixed width;
    // a plain cache keeps the session's 4 shuffle partitions.
    widths.foreach { case (adaptive, n) =>
      if (adaptive) assert(n < 4, s"adaptive cache kept $n partitions")
      else assert(n == 4, s"plain cache has $n partitions")
    }
  }
}
