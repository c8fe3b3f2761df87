package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The stateful streams' width rule: a stream's state partitions are
  * `min(8, the session's spark.sql.shuffle.partitions)`, derived at
  * stream start without writing the session's conf when the session
  * is at most 8 wide, and the rows do not depend on the width. Each
  * session is a `newSession()` with its width set before any query
  * runs in it. */
class StreamWidthSpec extends AnyFunSuite {

  private lazy val base: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def session(width: Int): SparkSession = {
    val s = base.newSession()
    s.conf.set("spark.sql.shuffle.partitions", width.toString)
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s
  }

  private val Dir = "/root/testdata/sf0.001"
  private val Q130 = "q130_funnel_erase_requests"
  private val Stateful = Seq(Q130, "q127_stream_funnel_user_erase",
    "q129_stream_sessions_user_erase", "q132_stream_retention_erase")

  /** `q`'s rows in `s`, and the state width of the first stateful
    * operator in each of the stream's micro-batches. */
  private def run(s: SparkSession, q: String): (Seq[Seq[Any]], Seq[Long]) = {
    val widths = new ConcurrentLinkedQueue[Long]()
    val done = new CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.headOption.foreach(o => widths.add(o.numShufflePartitions))
      // Progress events precede the query's termination on the bus.
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        done.countDown()
    }
    s.streams.addListener(listener)
    try {
      val rows = Registry.queriesMap(q)(s, Dir).collect().map(_.toSeq).toSeq
      assert(done.await(60, TimeUnit.SECONDS), s"$q: no termination event")
      (rows, widths.asScala.toSeq)
    } finally s.streams.removeListener(listener)
  }

  test("sf0.001: q130/q127/q129/q132 rows do not depend on the session width; state width is min(8, width)") {
    val byWidth = Seq(2, 8).map { w =>
      val s = session(w)
      w -> Stateful.map { q =>
        val (rows, widths) = run(s, q)
        assert(rows.nonEmpty, s"$q is empty at $Dir")
        assert(widths.nonEmpty && widths.forall(_ == math.min(8, w)),
          s"$q at width $w: state widths $widths")
        q -> rows
      }.toMap
    }.toMap
    for (q <- Stateful)
      assert(byWidth(2)(q) == byWidth(8)(q), s"$q: width 2 and width 8 differ")
    val (wide, wideWidths) = run(session(16), Q130)
    assert(wideWidths.nonEmpty && wideWidths.forall(_ == 8),
      s"q130 at width 16: state widths $wideWidths")
    assert(wide == byWidth(2)(Q130), "q130: width 16 and width 2 differ")
    val twin = Registry.queriesMap("q143_funnel_erase_before_t")(session(2), Dir)
      .collect().map(_.toSeq).toSeq
    assert(byWidth(2)(Q130) == twin, "q130 != q143")
  }

  test("sf0.001: q130 in a width-4 session never writes spark.sql.shuffle.partitions") {
    val s = session(4)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) seen.add(s.conf.get("spark.sql.shuffle.partitions"))
    })
    sampler.start()
    val (rows, widths) = try run(s, Q130) finally {
      sampling = false
      sampler.join()
    }
    assert(seen.asScala == Set("4"),
      s"spark.sql.shuffle.partitions changed while q130 ran: saw $seen")
    assert(rows.nonEmpty)
    assert(widths.nonEmpty && widths.forall(_ == 4), s"q130 state widths $widths")
  }
}
