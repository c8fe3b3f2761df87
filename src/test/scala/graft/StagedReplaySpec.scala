package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The prepared path of every [[Q.staged]] query against its cold path:
  * the path `Bench` times (prepare, then the body over the parked
  * artifacts) must return the rows `Verify` and the oracle check (the
  * body building its artifacts inline).
  *
  * Each query runs three times in one session at sf0.001: cold; then
  * prepared; then, after Bench's between-pass protocol
  * (`queries.evictMemos` and `Scratch.releaseAll()`), prepared again,
  * over the standing stores the first runs wrote. The three runs'
  * row-hashes must be equal, and a prepared run must take what its
  * prepare parked. The epoch_mix queries with artifacts (q125, q148,
  * q151) and q140 run in the default tier, the rest in `SlowReplay`.
  * The memo lifetimes that protocol relies on are pinned first.
  */
class StagedReplaySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Dir = "/root/testdata/sf0.001"
  private val DefaultTier = Set("q125_retention_erase", "q148_ingest_epoch_chain",
    "q151_hll_add_fold", "q140_maintenance_epoch")

  /** md5 over the rows in their (total) output order. */
  private def rowHash(df: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    df.collect().foreach(r => md.update((r.mkString("\u0001") + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private val staged = Registry.all.filter(_.prepare.isDefined)

  test("the staged queries are the 32 with standing artifacts") {
    val ids = staged.map(_.name.takeWhile(_ != '_')).toSet
    assert(ids == Set("q28", "q96", "q98", "q101", "q102", "q105", "q116", "q117",
      "q119", "q120", "q123", "q124", "q125", "q126", "q131", "q133", "q135", "q136",
      "q137", "q140", "q141", "q142", "q143", "q144", "q145", "q146", "q147", "q148",
      "q150", "q151", "q152", "q153"), ids)
    assert(Registry.preparesMap.keySet == staged.map(_.name).toSet)
  }

  test("evictMemos drops pass-lifetime memo entries and keeps standing ones") {
    val pass = queries.Memo("spec_pass")
    val standing = queries.Memo("spec_standing", standing = true)
    var builds = 0
    def read(m: queries.Memo): Int = queries.sessionMemo(spark, m, Dir) { builds += 1; builds }
    assert((read(pass), read(standing), read(pass), read(standing)) == (1, 2, 1, 2))
    queries.evictMemos(spark)
    assert((read(pass), read(standing)) == (3, 2))
  }

  for (q <- staged) {
    val tags = if (DefaultTier(q.name)) Nil else Seq(SlowReplay)
    test(s"${q.name}: cold, prepared and prepared-again runs return the same rows", tags: _*) {
      def between(): Unit = { queries.evictMemos(spark); Scratch.releaseAll() }
      def prepared(): String = {
        q.prepare.get(spark, Dir)
        assert(Q.parkedCount(spark) > 0, "prepare parked nothing")
        val h = rowHash(q.run(spark, Dir))
        Scratch.releaseAll()
        assert(Q.parkedCount(spark) == 0, "the prepared run left its artifacts parked")
        h
      }
      between()
      val cold = rowHash(q.run(spark, Dir))
      Scratch.releaseAll()
      val first = prepared()
      between()
      val again = prepared()
      between()
      assert(first == cold, "the prepared run differs from the cold run")
      assert(again == cold, "the second prepared run differs from the cold run")
    }
  }
}
