package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.StreamingOps

/** The recurring path of the control-stream queries: the second run in
  * a session finds the erase-request fixture the first run wrote (the
  * path the bench's later passes time, and which Verify's one run
  * never takes) and must repeat the first run's rows. The first run is
  * pinned against the batch twins that share its oracle verbatim:
  * q130 and q138 against q143, q139 against q137. */
class StreamRecurringSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Dir = "/root/testdata/sf0.001"
  private val Ctrl = Seq("q130_funnel_erase_requests", "q134_session_erase_requests",
    "q138_funnel_erase_requests_retire", "q139_retention_erase_requests")

  private def rows(q: String) =
    Registry.queriesMap(q)(spark, Dir).collect().map(_.toSeq).toSeq

  test("sf0.001: a second in-session run of q130/q134/q138/q139 repeats the first and the batch twins") {
    val first = Ctrl.map(q => q -> rows(q)).toMap
    val fixture = new java.io.File(StreamingOps.eraseRequestsPath(spark, Dir), "_SUCCESS")
    val written = fixture.lastModified()
    val second = Ctrl.map(q => q -> rows(q)).toMap
    assert(fixture.lastModified() == written,
      "the second run must read the first run's request fixture, not rewrite it")
    for (q <- Ctrl) {
      assert(first(q).nonEmpty, s"$q is empty at $Dir")
      assert(second(q) == first(q), s"$q: the recurring run differs from the first")
    }
    val funnelTwin = rows("q143_funnel_erase_before_t")
    assert(first("q130_funnel_erase_requests") == funnelTwin, "q130 != q143")
    assert(first("q138_funnel_erase_requests_retire") == funnelTwin, "q138 != q143")
    assert(first("q139_retention_erase_requests") == rows("q137_retention_erase_before_t"),
      "q139 != q137")
  }
}
