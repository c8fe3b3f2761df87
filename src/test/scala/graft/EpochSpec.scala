package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Analytic

/** q140's unified maintenance epoch: the cross-family ORDERING hazard
  * pinned on a crafted epoch (the same user active in the epoch AND
  * erased with T inside it — fold-then-erase == the per-user-T
  * filtered recompute, erase-then-fold leaves the pre-T batch residue
  * the rebuild oracle rejects), the new funnel partial-erase half
  * pinned on crafted cascades, and the sf replays proving each of
  * q140's family slices equals the corresponding REGISTERED
  * per-family query (sessions == q136, retention == q137, clusters ==
  * q141) plus the funnel slice == the filtered batch recompute. */
class EpochSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val MinMs = 60000L
  private def ev(rows: Seq[(Long, Long)]) = {
    import spark.implicits._
    rows.map { case (u, m) => (u, new Timestamp(m * MinMs)) }
      .toDF("user_id", "ts")
  }
  private def us(m: Long) = m * MinMs * 1000

  test("ordering hazard: fold-then-erase == filtered recompute; erase-then-fold leaves pre-T batch residue") {
    import spark.implicits._
    // Epoch boundary at minute 100. u1 is erased with T = minute 150,
    // INSIDE the epoch: standing events {0, 10}, batch events
    // {120 (pre-T), 200 (post-T)}. u2 (no request) spans the boundary
    // untouched: standing {90}, batch {110}.
    val standingEvents = ev(Seq((1L, 0L), (1L, 10L), (2L, 90L)))
    val batchEvents = ev(Seq((1L, 120L), (1L, 200L), (2L, 110L)))
    val allEvents = standingEvents.unionByName(batchEvents)
    val requests = Seq((1L, us(150))).toDF("user_id", "req_us")
    val standing = Analytic.sessionTable(standingEvents)
    val expected = Analytic.sessionTable(
      allEvents.join(requests, Seq("user_id"), "left")
        .where(col("req_us").isNull || unix_micros(col("ts")) >= col("req_us"))
        .select(col("user_id"), col("ts")))
      .collect().map(_.toSeq).toSet
    // The pinned order: fold the day, then erase at T.
    val foldThenErase = Analytic.eraseSessionsBeforeT(
        Analytic.mergeSessions(standing, batchEvents), allEvents, requests)
      .collect().map(_.toSeq).toSet
    assert(foldThenErase == expected,
      s"fold-then-erase must equal the filtered recompute: $foldThenErase vs $expected")
    assert(expected.contains(Seq(1L, 1L, us(200), us(200))),
      "u1's post-T event must survive as its own session")
    // The rejected order: erasing first leaves the pre-T batch event
    // (minute 120 < T) to fold back in afterwards — residue.
    val eraseThenFold = Analytic.mergeSessions(
        Analytic.eraseSessionsBeforeT(standing, standingEvents, requests),
        batchEvents)
      .collect().map(_.toSeq).toSet
    assert(eraseThenFold != expected,
      "erase-then-fold unexpectedly matched the filtered recompute — hazard vacuous")
    assert(eraseThenFold.exists { r =>
      r.head == 1L && r(2).asInstanceOf[Long] == us(120) },
      s"the residue must be u1's pre-T batch event re-admitted: $eraseThenFold")
  }

  test("funnel partial erase at T: touched cascades rebuilt from post-T events, untouched bit-identical") {
    import spark.implicits._
    def fev(rows: Seq[(Long, Long, String)]) =
      rows.map { case (u, m, t) => (u, new Timestamp(m * MinMs), t) }
        .toDF("user_id", "ts", "event_type")
    // u1 (T=100): full cascade pre-T {view 0, click 10, purchase 20},
    //   post-T {view 110, click 120} -> rebuilt state reaches step 2
    //   with the post-T anchors.
    // u2 (T=100): only pre-T activity -> state row vanishes.
    // u3 (no request): cascade must pass through bit-identical.
    val events = fev(Seq(
      (1L, 0L, "view"), (1L, 10L, "click"), (1L, 20L, "purchase"),
      (1L, 110L, "view"), (1L, 120L, "click"),
      (2L, 0L, "view"), (2L, 10L, "click"),
      (3L, 5L, "view"), (3L, 15L, "click")))
    val requests = Seq((1L, us(100)), (2L, us(100))).toDF("user_id", "req_us")
    val states = Analytic.funnelStates(events)
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), String.valueOf(r.get(1)),
        String.valueOf(r.get(2)), String.valueOf(r.get(3))))
      .toSeq.sortBy(_._1)
    val got = norm(Analytic.eraseFunnelBeforeT(states, events, requests))
    val want = norm(Analytic.funnelStates(
      events.join(requests, Seq("user_id"), "left")
        .where(col("req_us").isNull || unix_micros(col("ts")) >= col("req_us"))
        .select(col("user_id"), col("ts"), col("event_type"))))
    assert(got == want, s"partial funnel erase != filtered recompute: $got vs $want")
    val gmap = got.map(r => r._1 -> r).toMap
    assert(gmap.contains(1L) && gmap(1L)._3 != "null" && gmap(1L)._4 == "null",
      s"u1 must reach step 2 on post-T anchors only: $got")
    assert(!gmap.contains(2L), "u2 (no post-T events) must vanish")
    assert(gmap.contains(3L), "u3 must pass through")
  }

  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"$sf replay: q140's family slices == the registered per-family queries", SlowReplay) {
      val dir = s"/root/testdata/$sf"
      val epoch = Registry.queriesMap("q140_maintenance_epoch")(spark, dir)
        .collect()
      def slice(f: String) =
        epoch.filter(_.getString(0) == f).map(_.toSeq.tail).toSeq
      // sessions == q136's registered output, reprojected.
      val q136 = Registry.queriesMap("q136_session_table_erase_before_t")(spark, dir)
        .select(col("user_id"), col("start_us"), col("n_events"), col("end_us"))
        .collect().map(_.toSeq).toSeq
      assert(slice("sessions").sortBy(_.toString) == q136.sortBy(_.toString),
        s"sessions slice != q136 at $dir")
      // retention == q137's registered output, reprojected (integer
      // cells only — the ratio column is derived).
      val q137 = Registry.queriesMap("q137_retention_erase_before_t")(spark, dir)
        .select(datediff(col("cohort_day"), lit("1970-01-01").cast("date"))
            .cast("long"),
          col("day_offset").cast("long"), col("n_users"),
          lit(null).cast("long"))
        .collect().map(_.toSeq).toSeq
      assert(slice("retention").sortBy(_.toString) == q137.sortBy(_.toString),
        s"retention slice != q137 at $dir")
      // clusters == q141's registered output, members hashed.
      val q141 = Registry.queriesMap("q141_capped_cluster_remove_range")(spark, dir)
        .select(col("canonical_id"), col("n_docs"),
          graft.queries.h60(col("members")), lit(null).cast("long"))
        .collect().map(_.toSeq).toSeq
      assert(slice("clusters").sortBy(_.toString) == q141.sortBy(_.toString),
        s"clusters slice != q141 at $dir")
      // funnel == the per-user-T filtered batch recompute (q130's
      // oracle relation, computed in-engine).
      val e = graft.queries.t(spark, dir, "events")
      val requests = e.where(Analytic.erasedUsers)
        .select(col("user_id")).distinct()
        .select(col("user_id"), Analytic.reqInstantUs.as("req_us"))
      val want = Analytic.funnelReport(Analytic.funnelStates(
          e.join(requests, Seq("user_id"), "left")
            .where(col("req_us").isNull ||
              unix_micros(col("ts")) >= col("req_us"))
            .select(col("user_id"), col("ts"), col("event_type"))))
        .select(col("user_id"), col("reached_step").cast("long"),
          col("v2c_micros"), col("c2p_micros"))
        .collect().map(_.toSeq).toSeq
      assert(slice("funnel").sortBy(_.toString) == want.sortBy(_.toString),
        s"funnel slice != filtered recompute at $dir")
      assert(slice("sessions").nonEmpty && slice("funnel").nonEmpty &&
        slice("retention").nonEmpty && slice("clusters").nonEmpty)
      graft.Scratch.releaseAll()
    }
  }

  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"$sf replay: q144's family slices == the registered per-family merges", SlowReplay) {
      import graft.queries.h60
      val dir = s"/root/testdata/$sf"
      val epoch = Registry.queriesMap("q144_ingest_epoch")(spark, dir).collect()
      def slice(f: String) =
        epoch.filter(_.getString(0) == f).map(_.toSeq.tail).toSeq
          .sortBy(_.toString)
      def reprojIdx(name: String) =
        Registry.queriesMap(name)(spark, dir)
          .select(col("band").cast("long"), h60(col("key").cast("string")),
            col("n_kept"),
            h60(concat(col("dropped").cast("string"), lit(":"), col("ids"))))
          .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(slice("text_index") == reprojIdx("q101_index_merge"),
        s"text_index slice != q101 at $dir")
      assert(slice("embedding_index") == reprojIdx("q102_embedding_index_merge"),
        s"embedding_index slice != q102 at $dir")
      val q105 = Registry.queriesMap("q105_cluster_merge")(spark, dir)
        .select(col("canonical_id"), col("n_docs"), col("n_incoming"),
          h60(col("members")))
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(slice("clusters") == q105, s"clusters slice != q105 at $dir")
      assert(slice("text_index").nonEmpty && slice("embedding_index").nonEmpty &&
        slice("clusters").nonEmpty)
      graft.Scratch.releaseAll()
    }
  }

  // ---- q145: the epoch CHAIN (r17 VERDICT task 1). Two crafted pins
  // (the cross-epoch register; the cross-epoch takedown through the
  // published post-state), the sf replays (chain == the one-shot
  // per-family rebuilds), and the sf0.1 register-drop census.

  test("q145 cross-epoch register: an epoch-1 request with T inside day 2 — register-filtered chain == filtered rebuild; skipping the register re-admits the pre-T day-2 row") {
    import spark.implicits._
    // Windows: standing < 40, day 1 = [40, 100), day 2 >= 100 (crafted
    // minutes). u1 requests in EPOCH 1 with T = minute 150 — INSIDE
    // day 2: epoch 1 erases everything it has seen (all < 150), and
    // day 2 then delivers one pre-T event (120) and one post-T (200).
    // u2 is the untouched control spanning all three windows.
    val standingEvents = ev(Seq((1L, 0L), (1L, 10L), (2L, 0L)))
    val day1 = ev(Seq((1L, 50L), (2L, 60L)))
    val day2 = ev(Seq((1L, 120L), (1L, 200L), (2L, 130L)))
    val req1 = Seq((1L, us(150))).toDF("user_id", "req_us")
    val soFar = standingEvents.unionByName(day1)
    val allEvents = soFar.unionByName(day2)
    // Epoch 1: fold day 1, erase req1 against what has been ingested.
    val postE1 = Analytic.eraseSessionsBeforeT(
      Analytic.mergeSessions(Analytic.sessionTable(standingEvents), day1),
      soFar, req1)
    // Epoch 2 WITH the register: u1's pre-T day-2 row drops pre-fold.
    val day2Reg = day2.join(req1, Seq("user_id"), "left")
      .where(col("req_us").isNull || unix_micros(col("ts")) >= col("req_us"))
      .select(col("user_id"), col("ts"))
    val got = Analytic.mergeSessions(postE1, day2Reg)
      .collect().map(_.toSeq).toSet
    val want = Analytic.sessionTable(
      allEvents.join(req1, Seq("user_id"), "left")
        .where(col("req_us").isNull || unix_micros(col("ts")) >= col("req_us"))
        .select(col("user_id"), col("ts")))
      .collect().map(_.toSeq).toSet
    assert(got == want, s"register-filtered chain != filtered rebuild: $got vs $want")
    assert(want.contains(Seq(1L, 1L, us(200), us(200))),
      "u1's post-T day-2 event must survive as its own session")
    // WITHOUT the register: nothing erases u1's pre-T day-2 row again
    // — the fold re-admits it, the cross-epoch residue.
    val bad = Analytic.mergeSessions(postE1, day2)
      .collect().map(_.toSeq).toSet
    assert(bad != want,
      "skipping the register unexpectedly matched the rebuild — hazard vacuous")
    assert(bad.exists(r => r.head == 1L && r(2).asInstanceOf[Long] == us(120)),
      s"the residue must be u1's pre-T day-2 event re-admitted: $bad")
  }

  test("q145 induction: a THIRD epoch folds against the accumulated register (req1 ∪ req2) — the chain iterates without drift") {
    import spark.implicits._
    // The register is not one epoch's artifact — it ACCUMULATES: each
    // epoch publishes the union of every applied request, and every
    // later epoch's fold front-ends through it. Three epochs, two
    // requests, both with T inside LATER epochs:
    //   u1 requested in epoch 1 with T = 250 (inside day 3!) — its
    //     register entry must survive THROUGH epoch 2 and still drop
    //     u1's pre-T day-3 row;
    //   u2 requested in epoch 2 with T = 220 (inside day 3) — joins
    //     the register at epoch 2's publish;
    //   u3 untouched control.
    // Days: standing < 40, day1 = [40,100), day2 = [100,200),
    // day3 >= 200.
    val standing0 = ev(Seq((1L, 0L), (2L, 0L), (3L, 0L)))
    val day1 = ev(Seq((1L, 50L), (2L, 50L), (3L, 50L)))
    val day2 = ev(Seq((1L, 120L), (2L, 120L), (3L, 120L)))
    val day3 = ev(Seq((1L, 210L), (1L, 300L), (2L, 205L), (2L, 300L), (3L, 210L)))
    val req1 = Seq((1L, us(250))).toDF("user_id", "req_us")
    val req2 = Seq((2L, us(220))).toDF("user_id", "req_us")
    val allReq = req1.unionByName(req2)
    val allEvents = standing0.unionByName(day1).unionByName(day2).unionByName(day3)
    def reg(day: org.apache.spark.sql.DataFrame,
        register: org.apache.spark.sql.DataFrame) =
      day.join(register, Seq("user_id"), "left")
        .where(col("req_us").isNull || unix_micros(col("ts")) >= col("req_us"))
        .select(col("user_id"), col("ts"))
    // Epoch 1: fold day 1, erase req1; publish register = req1.
    val e1 = Analytic.eraseSessionsBeforeT(
      Analytic.mergeSessions(Analytic.sessionTable(standing0), day1),
      standing0.unionByName(day1), req1)
    // Epoch 2: fold day 2 through register {req1}, erase req2;
    // publish register = req1 ∪ req2.
    val e2 = Analytic.eraseSessionsBeforeT(
      Analytic.mergeSessions(e1, reg(day2, req1)),
      allEvents.where(unix_micros(col("ts")) < us(200))
        .select(col("user_id"), col("ts")), req2)
    // Epoch 3: no new requests — fold day 3 through the ACCUMULATED
    // register. u1's 210 (< T=250) and u2's 205 (< T=220) must drop;
    // their 300s and u3's 210 fold.
    val e3 = Analytic.mergeSessions(e2, reg(day3, allReq))
      .collect().map(_.toSeq).toSet
    val want = Analytic.sessionTable(
      allEvents.join(allReq, Seq("user_id"), "left")
        .where(col("req_us").isNull || unix_micros(col("ts")) >= col("req_us"))
        .select(col("user_id"), col("ts")))
      .collect().map(_.toSeq).toSet
    assert(e3 == want, s"3-epoch chain != filtered rebuild: $e3 vs $want")
    assert(want.contains(Seq(1L, 1L, us(300), us(300))) &&
      want.contains(Seq(2L, 1L, us(300), us(300))),
      "the post-T day-3 events must survive as fresh sessions")
    // The stale-register hazard: epoch 3 consulting only the LATEST
    // epoch's requests (req2) re-admits u1's pre-T day-3 row.
    val bad = Analytic.mergeSessions(e2, reg(day3, req2))
      .collect().map(_.toSeq).toSet
    assert(bad != want && bad.exists(r =>
        r.head == 1L && r(2).asInstanceOf[Long] == us(210)),
      s"dropping an old register entry must re-admit u1's pre-T row: $bad")
  }

  test("q145 cross-epoch takedown: a bucket demoted (reveal) in epoch 1 is re-merged by epoch 2's demotion — chain through the published post-state == rebuild over both removals' survivors") {
    import spark.implicits._
    import graft.queries.DedupOps
    // hs similarity (size-10 sets, 9 shared -> J = 9/11 >= 0.8):
    // {1,2,6} mutually similar; {4,5} similar; 3 and 9 dissimilar.
    def sim(base: Long, uniq: Long) = (0L until 9L).map(base + _) :+ uniq
    def lone(base: Long) = (0L until 10L).map(base + _)
    val sig = Seq(
      1L -> sim(1000, 100), 2L -> sim(1000, 101), 6L -> sim(1000, 102),
      3L -> lone(2000), 9L -> lone(3000),
      4L -> sim(5000, 104), 5L -> sim(5000, 105)).toDF("doc_id", "hs")
    // Cap 2: A = {1,2,3} and E = {2,6,9} tombstone; B = {4,5} live.
    val banded = Seq(
      (1L, 0, "A"), (2L, 0, "A"), (3L, 0, "A"),
      (2L, 0, "E"), (6L, 0, "E"), (9L, 0, "E"),
      (4L, 0, "B"), (5L, 0, "B")).toDF("doc_id", "band", "key")
    val (idx0, pairs0, standing0) =
      DedupOps.cappedClusterArtifacts(sig, banded, 2)
    def partition(df: org.apache.spark.sql.DataFrame): Set[Set[Long]] =
      df.collect().map(r => r.getAs[Long]("comp") -> r.getAs[Long]("id"))
        .groupBy(_._1).values.map(_.map(_._2).toSet).toSet
    assert(partition(standing0) == Set(Set(4L, 5L)),
      "pre-chain: only the live pair bucket clusters")
    assert(idx0.where(size(col("ids")) === 0).count() == 2, "A and E tombstone")
    // EPOCH 1 removes {3}: A demotes to {1,2} -> REVEALS (1,2).
    val remA = Seq(3L).toDF("doc_id")
    val (idx1, pairs1, comps1) = DedupOps.removeFromCappedClusterFull(
      idx0, banded, sig, pairs0, standing0, remA, 2)
    assert(partition(comps1) == Set(Set(1L, 2L), Set(4L, 5L)),
      "epoch 1 must reveal (1,2)")
    // The carried pair relation is the survivors' verified relation.
    val carried = pairs1.collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
    assert(carried == Set((1L, 2L), (4L, 5L)),
      s"carried pairs must be restriction ∪ revealed: $carried")
    // EPOCH 2 removes {9} AGAINST THE PUBLISHED POST-STATE: E demotes
    // to {2,6} -> reveals (2,6), RE-MERGING the epoch-1-revealed
    // component {1,2} with 6. The banding store restricts by the
    // epoch-1 removal (the registered body's predicate device).
    val banded1 = banded.join(remA, Seq("doc_id"), "left_anti")
    val remB = Seq(9L).toDF("doc_id")
    val got = partition(DedupOps.removeFromCappedCluster(
      idx1, banded1, sig, pairs1, comps1, remB, 2))
    assert(got == Set(Set(1L, 2L, 6L), Set(4L, 5L)),
      s"epoch 2 must re-merge the demoted bucket's survivors: $got")
    // == the from-scratch capped rebuild over both removals' survivors.
    val surv = remA.unionByName(remB)
    val sigS = sig.join(surv, Seq("doc_id"), "left_anti")
    val bandedS = banded.join(surv, Seq("doc_id"), "left_anti")
    val (_, _, fromScratch) = DedupOps.cappedClusterArtifacts(sigS, bandedS, 2)
    assert(got == partition(fromScratch),
      "chain != from-scratch rebuild over both days' survivors")
    Scratch.releaseAll()
  }

  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"$sf replay: q145's behavioral slices == q140's (path independence) and its cluster slice == the one-shot union takedown", SlowReplay) {
      import graft.queries.DedupOps
      val dir = s"/root/testdata/$sf"
      val chain = Registry.queriesMap("q145_epoch_chain")(spark, dir).collect()
      val oneShot = Registry.queriesMap("q140_maintenance_epoch")(spark, dir)
        .collect()
      def slice(rows: Array[org.apache.spark.sql.Row], f: String) =
        rows.filter(_.getString(0) == f).map(_.toSeq.tail).toSeq
          .sortBy(_.toString)
      // The three behavioral families: two epochs with a split feed
      // == q140's single epoch == the filtered rebuild (path
      // independence — the chain's whole claim).
      for (f <- Seq("sessions", "funnel", "retention"))
        assert(slice(chain, f) == slice(oneShot, f),
          s"$f slice: chain != one-shot epoch at $dir")
      // Clusters: the chained takedowns == ONE takedown of the union
      // batch through the same standing artifacts.
      val (sig, banded, idx, pairs, standing, pidSize) =
        DedupOps.q124Arts(spark, dir, DedupOps.Q141Cap)
      val (loA, hiA) = DedupOps.q141Range(spark, dir)
      val (loB, hiB) = DedupOps.q145Range2(spark, dir)
      val docs = graft.queries.t(spark, dir, "documents")
      val remUnion = docs.where(
          (col("doc_id") >= loA && col("doc_id") < hiA) ||
          (col("doc_id") >= loB && col("doc_id") < hiB))
        .select(col("doc_id"))
      val want = DedupOps.removeFromCappedCluster(idx, banded, sig, pairs,
          standing, remUnion, DedupOps.Q141Cap, Some(pidSize))
        .groupBy(col("comp"))
        .agg(min(col("id")).as("k1"), count(lit(1)).as("k2"),
          graft.queries.h60(concat_ws(",",
            transform(sort_array(collect_list(col("id"))),
              x => x.cast("string")))).as("v1"))
        .select(col("k1"), col("k2"), col("v1"), lit(null).cast("long"))
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(slice(chain, "clusters") == want,
        s"clusters slice: chain != one-shot union takedown at $dir")
      assert(slice(chain, "sessions").nonEmpty &&
        slice(chain, "clusters").nonEmpty)
      graft.Scratch.releaseAll()
    }
  }

  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"$sf replay: q148's chained index slices == the registered one-shot merges, with cross-day bucket traffic", SlowReplay) {
      import graft.queries.{DedupOps, EpochOps, h60, t}
      val dir = s"/root/testdata/$sf"
      val chain = Registry.queriesMap("q148_ingest_epoch_chain")(spark, dir)
        .collect()
      def slice(f: String) = chain.filter(_.getString(0) == f)
        .map(_.toSeq.tail).toSeq.sortBy(_.toString)
      // The final index state is split-independent (grouping
      // invariance): the chained three-way split must equal the
      // registered 90/10 one-shot merges, reprojected.
      def reprojIdx(name: String) =
        Registry.queriesMap(name)(spark, dir)
          .select(col("band").cast("long"), h60(col("key").cast("string")),
            col("n_kept"),
            h60(concat(col("dropped").cast("string"), lit(":"), col("ids"))))
          .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(slice("text_index") == reprojIdx("q101_index_merge"),
        s"chained text index != one-shot merge at $dir")
      assert(slice("embedding_index") == reprojIdx("q102_embedding_index_merge"),
        s"chained embedding index != one-shot merge at $dir")
      // Non-vacuity: day 2 must land ids into buckets day 1 (or the
      // standing side) already populated — the cross-day interaction,
      // not two disjoint key spaces.
      val inc1 = h60(concat(lit("ingest:"), col("doc_id"))) % 10 === 0
      val d1 = DedupOps.bandedFor(spark, dir, inc1 || !EpochOps.ingest2("doc_id"))
        .select(col("band"), col("key"))
      val shared = DedupOps.bandedFor(spark, dir, EpochOps.ingest2("doc_id"))
        .join(d1, Seq("band", "key"), "left_semi").count()
      assert(shared > 0,
        s"day-2 batch shares no bucket with the standing+day-1 index at $dir")
      graft.Scratch.releaseAll()
    }
  }

  test("bucketedStore: two dirs that sanitize identically get distinct stores (r17 ADVICE)") {
    import spark.implicits._
    // "/x/sf0.1" and "/x/sf0_1" both sanitize to x_sf0_1; before the
    // dir-hash discriminator the second caller silently read the
    // first corpus's standing artifact.
    val a = graft.queries.bucketedStore(spark, "/x/sf0.1", "collide_t", "user_id")(
      Seq((1L, "a")).toDF("user_id", "v"))
    val b = graft.queries.bucketedStore(spark, "/x/sf0_1", "collide_t", "user_id")(
      Seq((2L, "b")).toDF("user_id", "v"))
    assert(a.collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(b.collect().map(_.getLong(0)).toSeq == Seq(2L),
      "the second dir must get its own store, not the first corpus's")
  }

  test("store identity is injective over TAGS too: punctuation-differing tags get distinct stores and locks (r19 ADVICE)") {
    import spark.implicits._
    // 'coll_a_b' and 'coll_a-b' sanitize to one catalog name; before
    // the raw-tag digest the second caller silently read the first
    // tag's store (bucketed) and the two shared one create lock.
    val a = graft.queries.bucketedStore(spark, "/x/tagc", "coll_a_b", "user_id")(
      Seq((1L, "a")).toDF("user_id", "v"))
    val b = graft.queries.bucketedStore(spark, "/x/tagc", "coll_a-b", "user_id")(
      Seq((2L, "b")).toDF("user_id", "v"))
    assert(a.collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(b.collect().map(_.getLong(0)).toSeq == Seq(2L),
      "the second tag must get its own store, not the first tag's")
  }

  test("register compaction: compacted == full on in-order feeds (an entry dies at the boundary); the straggler a compacted entry would have dropped raises loudly") {
    import spark.implicits._
    import graft.queries.EpochOps
    // Boundary at minute 100. Register: u1 T=50 (dead — the boundary
    // passed it), u3 T=100 (dies EXACTLY at the boundary: an in-order
    // row has ts >= 100 >= T, so ts < T is impossible), u2 T=150
    // (pending — T inside the next epoch).
    val register = Seq((1L, us(50)), (2L, us(150)), (3L, us(100)))
      .toDF("user_id", "req_us")
    val compacted = EpochOps.compactRegister(register, lit(us(100)))
    assert(compacted.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, us(150))),
      "only the pending entry (T > boundary) may survive compaction")
    // In-order day-2 batch: every row at/after the boundary. u2's 120
    // (< T=150) must drop under BOTH registers; everything else folds.
    val batch = ev(Seq((1L, 120L), (1L, 200L), (2L, 120L), (2L, 200L),
      (3L, 120L), (4L, 110L)))
    def fed(reg: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      EpochOps.registerFrontEnd(batch, reg, lit(us(100)))
        .collect().map(_.toSeq.toVector: Seq[Any]).toSet
    val viaFull = fed(register)
    val viaCompacted = fed(compacted)
    assert(viaFull == viaCompacted,
      s"compacted register changed an in-order fold: $viaCompacted vs $viaFull")
    assert(!viaFull.exists(r => r.head == 2L &&
        r(1).asInstanceOf[Timestamp].getTime == 120L * MinMs),
      "u2's pre-T row must drop")
    assert(viaFull.exists(r => r.head == 1L), "u1 (dead entry) must fold freely")
    // The STRAGGLER: u1 at minute 30 — BELOW u1's T=50, so the full
    // register would have dropped it, but the compacted one no longer
    // can. The in-plan guard must raise rather than let it fold.
    val straggler = ev(Seq((1L, 30L), (2L, 200L)))
    val ex = intercept[Exception] {
      EpochOps.registerFrontEnd(straggler, compacted, lit(us(100))).collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)
    assert(msgs(ex).contains("in-order contract violation"),
      s"the guard must surface, got: ${msgs(ex).take(300)}")
  }

  // sf0.01 only: sf0.001's 15-user corpus gives the epoch-1 feed
  // half ZERO requests (the register there was always empty — the
  // sf0.001 q145 replay passes vacuously on this axis); the driver's
  // correctness gate runs at sf0.01, where both classes are real.
  test("sf0.01 census: q145's register compaction is non-vacuous (entries dropped AND retained)") {
    import graft.queries.EpochOps
    val dir = "/root/testdata/sf0.01"
    val req1 = EpochOps.requestStore(spark, dir).where(EpochOps.epoch1Req)
    val full = req1.count()
    val kept = EpochOps.compactRegister(req1, EpochOps.cut2Us).count()
    assert(full > 0 && kept < full,
      s"no entry compacted at $dir ($kept of $full) — the bounding claim is vacuous")
    assert(kept > 0,
      s"every entry compacted away at $dir — the carried register is vacuous")
    graft.Scratch.releaseAll()
  }

  test("q152 cluster chain: successive merges == one-shot; a day-2 doc bridges two day-1-MERGED components") {
    import spark.implicits._
    // Standing components {1,2} and {3,4}. Day 1 extends BOTH (doc 5
    // joins the first, doc 7 the second). Day 2's doc 6 matches one
    // member of each EXTENDED component — the bridge only a chain can
    // exercise (a one-day merge never runs against day-1-merged
    // state). Chained closure through the published intermediate must
    // equal the one-shot closure over all edges.
    val standing = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)).toDF("id", "comp")
    val m1 = Seq((5L, 1L), (7L, 4L)).toDF("src", "dst")
    val m2 = Seq((6L, 2L), (6L, 3L)).toDF("src", "dst")
    def parts(df: org.apache.spark.sql.DataFrame): Set[Seq[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        .groupBy(_._2).values.map(_.map(_._1).sorted).toSet
    val pub = graft.Scratch.scoped(
      graft.queries.DedupOps.mergeComponents(standing, m1))
    assert(parts(pub) == Set(Seq(1L, 2L, 5L), Seq(3L, 4L, 7L)),
      "day 1 must extend both standing components (the bridge's precondition)")
    val chained = graft.queries.DedupOps.mergeComponents(pub, m2)
    val oneShot = graft.queries.DedupOps.mergeComponents(
      standing, m1.unionByName(m2))
    assert(parts(chained) == parts(oneShot), "chained != one-shot closure")
    assert(parts(chained) == Set(Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L)),
      "the day-2 bridge must fuse the two day-1-merged components")
    graft.Scratch.releaseAll()
  }

  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"$sf census: q152's day split is non-vacuous (both days carry accepted matches)") {
      val dir = s"/root/testdata/$sf"
      val (_, matches) = graft.queries.DedupOps.q105Relations(spark, dir)
      val d1 = matches.where(graft.queries.EpochOps.clusterDay1(col("src"))).count()
      val d2 = matches.where(!graft.queries.EpochOps.clusterDay1(col("src"))).count()
      assert(d1 > 0 && d2 > 0,
        s"degenerate day split at $dir: day1=$d1 day2=$d2 — the chain would be a one-day merge")
      graft.Scratch.releaseAll()
    }
  }

  test("store create locks are PER STORE: distinct tags build concurrently, same tag builds exactly once (r18 VERDICT + ADVICE)") {
    import spark.implicits._
    import java.util.concurrent.{Executors, CountDownLatch, TimeUnit, Callable}
    // Distinct tags: store A's build BLOCKS until store B's build has
    // entered. Under the r17 JVM-global monitor this deadlocks (B
    // cannot enter its build while A holds the lock); with per-store
    // striping both complete.
    val bRan = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new Callable[Long] {
        def call(): Long = graft.queries.plainStore(spark, "/x/conc", "conc_a") {
          assert(bRan.await(60, TimeUnit.SECONDS),
            "store B's build never entered — builds are serialized across stores")
          Seq((1L, "a")).toDF("k", "v")
        }.count()
      })
      val fb = pool.submit(new Callable[Long] {
        def call(): Long = graft.queries.plainStore(spark, "/x/conc", "conc_b") {
          bRan.countDown()
          Seq((2L, "b")).toDF("k", "v")
        }.count()
      })
      assert(fb.get(120, TimeUnit.SECONDS) == 1L)
      assert(fa.get(120, TimeUnit.SECONDS) == 1L)
      // Same tag raced from two threads: the r17 race fix must hold —
      // the build body runs exactly once (plain and bucketed paths).
      val plainBuilds = new java.util.concurrent.atomic.AtomicInteger(0)
      val bucketBuilds = new java.util.concurrent.atomic.AtomicInteger(0)
      val racers = (1 to 2).map(_ => pool.submit(new Callable[Long] {
        def call(): Long =
          graft.queries.plainStore(spark, "/x/conc", "conc_same") {
            plainBuilds.incrementAndGet()
            Seq((3L, "c")).toDF("k", "v")
          }.count() +
          graft.queries.bucketedStore(spark, "/x/conc", "conc_bsame", "k") {
            bucketBuilds.incrementAndGet()
            Seq((4L, "d")).toDF("k", "v")
          }.count()
      }))
      racers.foreach(f => assert(f.get(120, TimeUnit.SECONDS) == 2L))
      assert(plainBuilds.get() == 1, "plainStore build body ran twice under the race")
      assert(bucketBuilds.get() == 1, "bucketedStore build body ran twice under the race")
    } finally pool.shutdownNow()
  }

  test("sf0.1 census: the published register non-vacuously drops day-2 pre-T rows of epoch-1 requests") {
    val e = graft.queries.t(spark, "/root/testdata/sf0.1", "events")
    val dropped = e
      .where(Analytic.erasedUsers && graft.queries.EpochOps.epoch1Req &&
        col("ts") >= lit(graft.queries.EpochOps.Cut2).cast("timestamp") &&
        unix_micros(col("ts")) < Analytic.reqInstantUs)
      .count()
    assert(dropped > 0,
      "no epoch-1 request erases into day 2 at sf0.1 — the register would be vacuous everywhere")
  }
}
