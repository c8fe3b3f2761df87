package graft.queries

import graft.Q
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The UNIFIED MAINTENANCE EPOCH — the deployment shape the per-family
  * operators compose into (r16 VERDICT task 1). A warehouse schedules
  * ONE nightly job: fold the day's events into every behavioral
  * standing artifact (sessions, funnel, retention), apply the day's
  * privacy feed (per-user-instant erasures) against the post-fold
  * state, and run the day's takedown through the capped
  * index/clusters — sharing the batch scan and the request broadcast
  * across families instead of re-deriving them per job.
  *
  * Every half is an already-registered, individually-proven operator
  * (q131's interval fold, q119/q120's guarded merges, q136/q137's
  * per-user-T erasures, q141's range takedown); what q140 adds — and
  * what no per-family gate can witness — is their COMPOSITION in one
  * dataflow, including the cross-family ORDERING decision it forces:
  *
  * FOLD-THEN-ERASE. A user can be active in the epoch AND erased with
  * a T inside it. The epoch folds the full day first and applies the
  * erasure against the post-fold artifacts, so a pre-T batch event is
  * folded and then erased — equal to the per-user-T filtered
  * recompute. The other order is WRONG: erase-then-fold re-admits the
  * pre-T batch rows after the erasure already ran (nothing erases
  * them again), leaving residue the rebuild oracle rejects.
  * EpochSpec pins both facts on a crafted epoch (fold-then-erase ==
  * filtered recompute; erase-then-fold =!= it, with the residue row
  * identified).
  *
  * q145 then CLOSES THE LOOP (r17 VERDICT task 1): one epoch is not a
  * deployment — the nightly job runs epoch∘epoch∘…, each day folding
  * against the state the PREVIOUS epoch published. q145 runs two
  * epochs: epoch 1 folds day 1, applies its half of the privacy feed,
  * runs its takedown, and PUBLISHES the post-epoch artifacts back as
  * the user-bucketed standing stores (the bucketedStore layout);
  * epoch 2 then folds day 2 against the PUBLISHED state — consulting
  * the published ERASE REGISTER first (see below) — applies the other
  * half of the feed against the full event store, and chains a second
  * id-range takedown through epoch 1's published cluster artifacts.
  * The oracle is each family's rebuild over BOTH days' filtered
  * relation, so the driver's hash gate re-proves every round that the
  * epoch ITERATES without drift: two epochs with a split request feed
  * == the one-shot filtered rebuild.
  *
  * THE CROSS-EPOCH REGISTER. An erasure applied in epoch 1 whose T
  * lies INSIDE a later epoch's window is not done when epoch 1 ends:
  * day-2 events of that user with ts < T must never enter any fold
  * (nothing would erase them again — the fold-then-erase residue
  * hazard, now ACROSS epochs). The epoch therefore carries the applied
  * requests forward as a standing ERASE REGISTER (the q130/q138
  * stream-handler register, published as a batch store), and every
  * subsequent epoch's fold front-ends its batch through it: rows of a
  * registered user before that user's T are dropped before the fold.
  * The register ACCUMULATES — each epoch publishes the union of every
  * applied request, because a T can lie arbitrarily many epochs in
  * the future — but BOUNDED: the publish compacts away entries whose
  * T the fold boundary has already passed ([[compactRegister]]; under
  * the in-order contract they can never drop another row, and
  * [[registerFrontEnd]]'s in-plan guard makes a contract-violating
  * straggler loud instead of silent), so the standing register is
  * O(pending requests), not O(all requests ever);
  * q145 registers one chain step, and EpochSpec pins the
  * induction (a 3-epoch chain where an epoch-1 register entry must
  * survive THROUGH epoch 2 to protect epoch 3's fold, plus the
  * stale-register hazard: consulting only the latest epoch's requests
  * re-admits the identified pre-T row). EpochSpec also pins the
  * one-step hazard non-vacuously (register-consulted chain ==
  * filtered rebuild; skipping the register re-admits the identified
  * pre-T day-2 row) and censuses real register drops on the sf0.1
  * feed (88 day-2 rows; 41,798 at the 28.7M-event volume scale).
  *
  * q148 is the chain's INGEST-side sibling: two days' accepted
  * batches merged successively into the standing capped indexes,
  * tombstones carried across days — mergeIndexBuckets' grouping
  * invariance made driver-gated (oracle = the one-shot recompute).
  *
  * The takedown chain pins the other cross-epoch interaction: a
  * bucket TOMBSTONED in the standing index, DEMOTED to live by
  * epoch 1's removal (revealing its survivors' pairs), then hit
  * AGAIN by epoch 2's removal — epoch 2 must start from epoch 1's
  * published post-takedown (index, pairs, components), not the
  * originals, or the revealed edges and tombstone transitions are
  * recomputed wrong ([[DedupOps.removeFromCappedClusterFull]] carries
  * exactly that state; EpochSpec chains it on a crafted corpus).
  *
  * Scale shape: each epoch's batch is scanned ONCE (cached, three
  * folds consume it); the privacy feed is read from its own bounded
  * store ([[requestStore]] — r17 VERDICT task 5: deriving it from a
  * full events scan cost the epoch body one corpus pass; the store is
  * built once at prepare, and the oracle keeps the events-derived
  * DEFINITION) and broadcast into every erase; each fold/erase keeps
  * its own proven exchange bounds; the takedowns read the partitioned
  * signature store with the q141 pid prune, epoch 2 pruning a
  * DIFFERENT partition neighborhood (its range is disjoint). The
  * published stores are user-bucketed, so epoch 2's standing sides
  * arrive co-partitioned and contribute zero exchange. */
object EpochOps {

  /** The privacy feed as a BOUNDED standing store (r17 VERDICT
    * task 5): (user_id, req_us) for the requested cohort, built once
    * per (application, dir) from the event relation — the feed's
    * DEFINITION, which the oracles keep inline — then read back as
    * the small relation every epoch body broadcasts. A deployment's
    * request log IS its own table; scanning the full event store per
    * epoch to re-derive it was the one corpus-sized pass the q140
    * body paid that the operator does not need. */
  private[graft] def requestStore(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    plainStore(s, dir, "privacy_reqs")(
      t(s, dir, "events").where(Analytic.erasedUsers)
        .select(col("user_id")).distinct()
        .select(col("user_id"), Analytic.reqInstantUs.as("req_us")))

  /** ONE epoch's behavioral half, parameterized by the standing state
    * it folds into: FOLD the (already register-filtered) batch into
    * sessions/funnel/retention, THEN ERASE at this epoch's requests'
    * per-user instants against the post-fold state (the pinned order —
    * see the object scaladoc and EpochSpec), rebuilding touched users
    * from `eventStore` (the events visible to this epoch). Returns the
    * post-epoch (sessions, funnel states, retention first-seen,
    * retention cells). */
  private[graft] def behavioralEpoch(sessSt: DataFrame, funSt: DataFrame,
      retF: DataFrame, retC: DataFrame, batch: DataFrame,
      eventStore: DataFrame, requests: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val sess1 = Analytic.mergeSessions(sessSt, batch)
    val fun1 = Analytic.mergeFunnelStates(funSt, batch)
    // The post-fold retention pair is Scratch-scoped (r20
    // optimization): the erase half references the first-seen table
    // twice (decrement join + survivor anti-join) and the cells once
    // more under the report, and each unmaterialized reference
    // re-derived the whole fold. Both relations are the family's own
    // bounded state (first-seen: one row per user; cells: days²),
    // exactly what q145 publishes as stores between epochs anyway.
    val (retF1m, retC1m) = Analytic.mergeRetention(retF, retC, batch)
    // Fills the batch's distinct (user, day) slice both retention
    // relations read, so they are planned from its stored size; its
    // ingest-contract guard raises here.
    graft.Scratch.fill(retF1m)
    val retF1 = graft.Scratch.scoped(retF1m, adaptive = true)
    val retC1 = graft.Scratch.scoped(retC1m, adaptive = true)
    // ONE cohort slice (r20 optimization, guide §2.4): the session
    // erase, funnel erase, and both retention activity relations all
    // consume the requested users' events — previously each derived
    // its own slice with a fresh corpus scan plus a redundant
    // broadcast semi-join (4 scans per epoch; q145 runs two epochs).
    // The slice is Scratch-scoped: bounded by the ~10% requested
    // cohort's events projected to 4 columns, computed once, read by
    // all four consumers. Row-identical inputs to every consumer —
    // [[Analytic.cohortEvents]]'s equivalence note.
    // CACHED PARTITIONED BY user_id (r21 optimization, guide §2.4
    // "two operations keyed the same way can share one exchange"):
    // every consumer's first shuffle-requiring operator clusters on
    // user_id — the session rebuild's window, the funnel rebuild's
    // window, and the two distinct-activity aggregations (their
    // (user_id, day) grouping is clustered by user_id alone) — so
    // hashing the slice ONCE at materialization lets all four elide
    // their own exchange: 4 post-cache exchanges become 1 pre-cache
    // exchange per epoch. The scoped leaf reports the stored user_id
    // partitioning, so the elision holds on every consumer. Rows are
    // unchanged.
    val cohort = graft.Scratch.scoped(
      Analytic.cohortEvents(eventStore, requests)
        .repartition(col("user_id")), adaptive = true)
    // Filled before its four consumers are planned, so their joins are
    // chosen from its stored size.
    graft.Scratch.fill(cohort)
    val sess2 = Analytic.eraseSessionsBeforeTFrom(sess1, cohort, requests)
    val fun2 = Analytic.eraseFunnelBeforeTFrom(fun1, cohort, requests)
    val fullAct = cohort
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val postT = cohort.where(unix_micros(col("ts")) >= col("req_us"))
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val (retF2, retC2) =
      Analytic.eraseRetentionBeforeT(retF1, retC1, fullAct, postT)
    (sess2, fun2, retF2, retC2)
  }

  /** The shared epoch projection: one tagged relation over the four
    * families' post-epoch states (cluster components aggregated to
    * canonical/size/members first). */
  private[graft] def taggedEpoch(sess: DataFrame, funStates: DataFrame,
      retCells: DataFrame, clusterComps: DataFrame): DataFrame = {
    val clusters = clusterComps.groupBy(col("comp"))
      .agg(min(col("id")).as("canonical_id"),
        count(lit(1)).as("n_docs"),
        concat_ws(",", transform(sort_array(collect_list(col("id"))),
          x => x.cast("string"))).as("members"))
    val nl = lit(null).cast("long")
    sess
      .select(lit("sessions").as("family"), col("user_id").as("k1"),
        col("start_us").as("k2"), col("n_events").as("v1"),
        col("end_us").as("v2"))
      .unionByName(Analytic.funnelReport(funStates)
        .select(lit("funnel").as("family"), col("user_id").as("k1"),
          col("reached_step").cast("long").as("k2"),
          col("v2c_micros").as("v1"), col("c2p_micros").as("v2")))
      .unionByName(Analytic.retentionReport(retCells)
        .select(lit("retention").as("family"),
          datediff(col("cohort_day"), lit("1970-01-01").cast("date"))
            .cast("long").as("k1"),
          col("day_offset").cast("long").as("k2"),
          col("n_users").as("v1"), nl.as("v2")))
      .unionByName(clusters
        .select(lit("clusters").as("family"),
          col("canonical_id").as("k1"), col("n_docs").as("k2"),
          h60(col("members")).as("v1"), nl.as("v2")))
      .orderBy(col("family"), col("k1"), col("k2"))
  }

  /** DuckDB text of [[taggedEpoch]] over the four families' rebuild
    * oracles (each embedded verbatim as a subquery). */
  private def taggedEpochOracle(sessSql: String, funSql: String,
      retSql: String, clSql: String): String =
    s"""SELECT family, k1, k2, v1, v2 FROM (
      SELECT 'sessions' AS family, user_id AS k1, start_us AS k2,
             n_events AS v1, end_us AS v2
      FROM ($sessSql) s136
      UNION ALL
      SELECT 'funnel' AS family, user_id AS k1,
             CAST(reached_step AS BIGINT) AS k2,
             v2c_micros AS v1, c2p_micros AS v2
      FROM ($funSql) f130
      UNION ALL
      SELECT 'retention' AS family,
             CAST(cohort_day - DATE '1970-01-01' AS BIGINT) AS k1,
             CAST(day_offset AS BIGINT) AS k2,
             n_users AS v1, CAST(NULL AS BIGINT) AS v2
      FROM ($retSql) r137
      UNION ALL
      SELECT 'clusters' AS family, canonical_id AS k1, n_docs AS k2,
             ${oH60("members")} AS v1, CAST(NULL AS BIGINT) AS v2
      FROM ($clSql) c141
    ) ORDER BY family, k1, k2"""

  /** The epoch's standing artifacts — every family's state as of the
    * epoch boundary ([[Analytic.AnalyticCutoff]]): the session table,
    * funnel states, retention (first-seen, cells), and the capped
    * dedup artifacts with the partitioned signature store (at
    * [[DedupOps.Q141Cap]], the registered takedown's cap). Also
    * forces the [[requestStore]] build, so a prepared run's timed
    * body reads the feed from the bounded store. */
  private[graft] def q140Arts(s: org.apache.spark.sql.SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame,
         (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, Long)) = {
    // Every behavioral artifact is a persisted store (r16 VERDICT
    // task 4): user-bucketed where the epoch body joins on user_id
    // (the funnel/retention standing sides contribute zero exchange),
    // sharing tags with the per-family queries' prepares so one
    // layout serves the whole registry.
    def pre = t(s, dir, "events")
      .where(col("ts") < lit(Analytic.AnalyticCutoff).cast("timestamp"))
    val sessSt = bucketedStore(s, dir, "sess_cut", "user_id")(
      Analytic.sessionTable(pre))
    val funSt = bucketedStore(s, dir, "funstates_pre", "user_id")(
      Analytic.funnelStates(pre))
    val retF = bucketedStore(s, dir, "retfirst_pre", "user_id")(
      Analytic.retentionState(pre)._1)
    val retC = plainStore(s, dir, "retcells_pre")(
      Analytic.retentionState(pre)._2)
    requestStore(s, dir)
    (sessSt, funSt, retF, retC, DedupOps.q124Arts(s, dir, DedupOps.Q141Cap))
  }

  private def q140Body(s: org.apache.spark.sql.SparkSession, dir: String,
      arts: (DataFrame, DataFrame, DataFrame, DataFrame,
        (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, Long)))
      : DataFrame = {
    val e = t(s, dir, "events")
    val cut = lit(Analytic.AnalyticCutoff).cast("timestamp")
    val (sessSt, funSt, retF, retC,
      (sig, banded, idx, pairs, standing, pidSize)) = arts
    // ONE batch scan (cached; all three folds consume it) and ONE
    // privacy feed (the bounded store; broadcast into every erase).
    val batch = graft.Scratch.scoped(e.where(col("ts") >= cut), adaptive = true)
    val requests = graft.Scratch.scoped(requestStore(s, dir), adaptive = true)
    // The behavioral side's eager work (the cohort and nd fills plus
    // its plan analysis) and the takedown's eager CC
    // action chain are data-independent until taggedEpoch, yet both
    // serialize driver-action latency — so they compose on separate
    // threads (guide §2.6, the q146 side-overlap device applied
    // INSIDE the epoch body).
    val ((sess2, fun2, _, retC2), comps) = graft.Par.both(s)(
      behavioralEpoch(sessSt, funSt, retF, retC, batch, e, requests)) {
      // The day's TAKEDOWN through the capped artifacts (q141's range
      // batch; the store scan prunes to the range's partitions).
      val (lo, hi) = DedupOps.q141Range(s, dir)
      val removedDocs = t(s, dir, "documents")
        .where(col("doc_id") >= lo && col("doc_id") < hi)
        .select(col("doc_id"))
      DedupOps.removeFromCappedCluster(idx, banded, sig,
        pairs, standing, removedDocs, DedupOps.Q141Cap, Some(pidSize))
    }
    taggedEpoch(sess2, fun2, retC2, comps)
  }

  val q140 = Q.staged(
    "q140_maintenance_epoch",
    "unified maintenance epoch: one dataflow folds the day's batch into sessions/funnel/retention, applies the privacy feed at per-user T (fold-then-erase), and runs the range takedown — every family == its rebuild oracle",
    Some(taggedEpochOracle(Analytic.q136.oracle.get, oFunnelEraseBeforeTSql,
      oRetentionEraseBeforeTSql, DedupOps.q141.oracle.get)))(q140Arts)(q140Body)

  // ---- q145: the EPOCH CHAIN (r17 VERDICT task 1) — see the object
  // scaladoc. Day 1 is [AnalyticCutoff, Cut2); day 2 is everything
  // from Cut2 on; the privacy feed splits by a user hash into the
  // half each epoch processes (an arbitrary arrival assignment — the
  // shape that makes the carried register load-bearing, since an
  // epoch-1 request's T can lie inside day 2).

  /** Epoch 2's boundary: day 1 = [AnalyticCutoff, Cut2), day 2 =
    * [Cut2, ∞). One generator day — enough for every fold branch to
    * fire in epoch 1 while leaving T instants PAST the boundary
    * (the register's non-vacuous shape: the feed spreads T over
    * [Jan 4, Jan 12), so ~3/8 of requests erase into day 2). */
  private[graft] val Cut2 = "2024-01-09"

  /** Which half of the privacy feed arrives in epoch 1 (the rest
    * arrives in epoch 2). */
  private[graft] val epoch1Req: Column =
    h60(concat(lit("epoch:"), col("user_id"))) % 2 === 0

  /** [[Cut2]] as epoch-microseconds, derived IN-PLAN — the chain's
    * fold boundary: every event already folded has ts < this; every
    * in-order future batch row has ts >= it. A Column, not a Long
    * (r19 ADVICE): the previous driver-side constant was hardwired
    * to UTC midnight while every plan-side boundary casts
    * `lit(Cut2)` under `spark.sql.session.timeZone`, so a non-UTC
    * session would shift the two boundaries apart — spurious
    * [[registerFrontEnd]] raises on legitimate day-2 rows (tz ahead
    * of UTC) or an under-compacted register and unguarded window (tz
    * behind). Deriving the microsecond boundary from the SAME cast
    * keeps the two definitionally aligned in any timezone; the
    * expression is foldable, so Catalyst collapses it to a literal
    * at optimization time — zero run-time cost. */
  private[graft] def cut2Us: Column =
    unix_micros(lit(Cut2).cast("timestamp"))

  /** COMPACT a publishing epoch's erase register at its fold boundary
    * (r18 VERDICT task 3 — the q147 horizon device, register
    * edition). The register otherwise accumulates forever (every
    * applied request, because a T can lie arbitrarily many epochs
    * ahead); but under the in-order ingest contract every future
    * batch row has ts >= boundary, and the front-end only drops rows
    * with ts < T — so an entry with T <= boundary can never drop
    * another row: the published register needs only the PENDING
    * entries (T > boundary), O(pending requests) not O(all requests
    * ever). The contract is what makes the compaction sound, so it is
    * enforced LOUDLY by [[registerFrontEnd]]'s in-plan guard: a
    * straggler below the boundary — exactly the row a compacted-away
    * entry could have applied to — raises instead of silently passing
    * the fold. EpochSpec pins compacted == full on in-order feeds
    * (including an entry dying mid-chain), the straggler raise, and
    * the sf census that compaction is non-vacuous in both directions
    * (entries dropped AND retained). */
  private[graft] def compactRegister(register: DataFrame,
      boundaryUs: Column): DataFrame =
    register.where(col("req_us") > boundaryUs)

  /** The chain's register FRONT-END: drop batch rows of a registered
    * user before that user's T (the cross-epoch residue hazard — see
    * the object scaladoc), guarding the in-order contract in-plan.
    * The guard wraps user_id — the join key the front-end must
    * evaluate for every row (the q147 device) — so a pre-boundary
    * straggler raises even when the register no longer carries the
    * entry that would have dropped it. */
  private[graft] def registerFrontEnd(batch: DataFrame, register: DataFrame,
      boundaryUs: Column): DataFrame =
    batch
      .withColumn("user_id",
        when(unix_micros(col("ts")) < boundaryUs, raise_error(concat(
          lit("epoch in-order contract violation: batch event of user "),
          col("user_id").cast("string"), lit(" at "),
          col("ts").cast("string"),
          lit(" predates the fold boundary — a compacted register entry " +
            "could have applied to it"))).cast("long"))
          .otherwise(col("user_id")))
      .join(broadcast(register), Seq("user_id"), "left")
      .where(col("req_us").isNull || unix_micros(col("ts")) >= col("req_us"))
      .drop("req_us")

  // q145's standing artifacts are q140's recipe verbatim (the
  // pre-`AnalyticCutoff` behavioral stores, the capped cluster
  // artifacts at `Q141Cap`, the request store).
  val q145 = Q.staged(
    "q145_epoch_chain",
    "chained maintenance epochs: epoch 1 folds day 1, erases its requests, runs its takedown, and PUBLISHES the post-epoch stores (incl. the erase register); epoch 2 folds day 2 against the published state through the register and chains a second takedown — == the one-shot filtered rebuild over both days",
    // The one-shot rebuild over BOTH days' filtered relation: the
    // behavioral families' oracles are the same per-user-T rebuilds
    // (req1 ∪ req2 is the whole cohort — path independence is the
    // claim); the cluster slice rebuilds over the survivors of BOTH
    // ranges.
    Some(taggedEpochOracle(Analytic.q136.oracle.get, oFunnelEraseBeforeTSql,
      oRetentionEraseBeforeTSql,
      DedupOps.cappedRemoveOracle(
        """(doc_id < (SELECT ((max(doc_id) + 1) * 2) // 5 FROM documents)
             OR doc_id >= (SELECT ((max(doc_id) + 1) * 3) // 5 FROM documents))
           AND (doc_id < (SELECT ((max(doc_id) + 1) * 7) // 10 FROM documents)
             OR doc_id >= (SELECT ((max(doc_id) + 1) * 8) // 10 FROM documents))""",
        DedupOps.Q141Cap))))(q140Arts) {
    case (s, dir, (sessSt, funSt, retF, retC,
        (sig, banded, idx, pairs, standing, pidSize))) =>
      val e = t(s, dir, "events")
      val cut1 = lit(Analytic.AnalyticCutoff).cast("timestamp")
      val cut2 = lit(Cut2).cast("timestamp")
      val requests = graft.Scratch.scoped(requestStore(s, dir), adaptive = true)
      // ---- EPOCH 1: fold day 1 against the pre-cutoff stores, erase
      // the epoch-1 half of the feed (rebuilds see only the events
      // ingested so far), run the range-A takedown.
      val day1 = graft.Scratch.scoped(
        e.where(col("ts") >= cut1 && col("ts") < cut2), adaptive = true)
      val soFar = e.where(col("ts") < cut2)
      val req1 = requests.where(epoch1Req)
      // Lazy like e1Take below: a recurring run's publishes skip their
      // builds, so it never builds (or fills) epoch 1's fold.
      lazy val (sessE1, funE1, retFE1, retCE1) =
        behavioralEpoch(sessSt, funSt, retF, retC, day1, soFar, req1)
      val (loA, hiA) = DedupOps.q141Range(s, dir)
      val remA = t(s, dir, "documents")
        .where(col("doc_id") >= loA && col("doc_id") < hiA)
        .select(col("doc_id"))
      // LAZY (r20 optimization): removeFromCappedClusterFull runs its
      // connected-components machinery EAGERLY at call time (the CC
      // escape collects on the driver), so computing it here
      // unconditionally made every RECURRING run — where the epoch-1
      // stores below already exist and the publishes skip their
      // builds — pay epoch 1's whole takedown only to discard it.
      // Deferred, it is forced exactly when a publish actually needs
      // to build (plainStore's by-name contract), so the recurring
      // nightly run pays epoch 2 alone — the cost the chain's
      // scaladoc always claimed for it.
      lazy val e1Take = DedupOps.removeFromCappedClusterFull(
        idx, banded, sig, pairs, standing, remA,
        DedupOps.Q141Cap, Some(pidSize))
      // ---- PUBLISH: the post-epoch-1 state becomes the standing
      // stores epoch 2 reads — user-bucketed for the user-keyed
      // families (their epoch-2 joins see the bucket distribution and
      // contribute zero exchange), plain for the cells and the
      // id-keyed cluster artifacts, and the APPLIED REQUESTS as the
      // standing erase register. Write-once per (application, dir):
      // the first run pays both epochs plus the publish; a later run
      // in the same session folds day 2 against the already-published
      // state — exactly the recurring cost of the nightly job.
      val sessP = bucketedStore(s, dir, "sess_post1", "user_id")(sessE1)
      val funP = bucketedStore(s, dir, "funstates_post1", "user_id")(funE1)
      val retFP = bucketedStore(s, dir, "retfirst_post1", "user_id")(retFE1)
      val retCP = plainStore(s, dir, "retcells_post1")(retCE1)
      // The register publishes COMPACTED at the fold boundary
      // ([[compactRegister]] — r18 VERDICT task 3): entries whose T
      // the boundary has passed can never drop an in-order row again,
      // so the standing register stays O(pending requests).
      val regP = plainStore(s, dir, "reg_post1")(
        compactRegister(req1, cut2Us))
      val idxP = plainStore(s, dir, "cl_idx_post1")(e1Take._1)
      val pairsP = plainStore(s, dir, "cl_pairs_post1")(e1Take._2)
      val compsP = plainStore(s, dir, "cl_comps_post1")(e1Take._3)
      // ---- EPOCH 2: the register front-end drops day-2 rows of
      // registered users before their T (the cross-epoch residue
      // hazard — see the object scaladoc) and guards the in-order
      // contract the compaction relies on, then fold-then-erase
      // against the PUBLISHED state with the epoch-2 half of the
      // feed, the full event store now visible to the rebuilds.
      val day2 = graft.Scratch.scoped(
        registerFrontEnd(e.where(col("ts") >= cut2), regP, cut2Us), adaptive = true)
      val req2 = requests.where(!epoch1Req)
      // Epoch 2's behavioral side and its takedown overlap on separate
      // threads (guide §2.6 — the q140 body's device; the publishes
      // above are complete by here, so day2's register read and the
      // takedown's published-store reads are both safe).
      val ((sessE2, funE2, _, retCE2), compsE2) = graft.Par.both(s)(
        behavioralEpoch(sessP, funP, retFP, retCP, day2, e, req2)) {
        // Epoch 2's takedown chains through epoch 1's published cluster
        // state; the banding store is immutable, so epoch 1's removal
        // restricts it by predicate (range A is contiguous — no
        // materialized copy needed).
        val banded1 = banded.where(!(col("doc_id") >= loA && col("doc_id") < hiA))
        val (loB, hiB) = DedupOps.q145Range2(s, dir)
        val remB = t(s, dir, "documents")
          .where(col("doc_id") >= loB && col("doc_id") < hiB)
          .select(col("doc_id"))
        DedupOps.removeFromCappedCluster(idxP, banded1, sig,
          pairsP, compsP, remB, DedupOps.Q141Cap, Some(pidSize))
      }
      taggedEpoch(sessE2, funE2, retCE2, compsE2)
  }

  // ---- q144: the INGEST epoch — q140's sibling on the document side
  // of the nightly job ("merge the day's accepted docs into the
  // indexes and clusters"): ONE dataflow folds the day's accepted
  // batch into the text index (q101), the embedding index (q102), and
  // the near-dup clusters (q105), sharing the "ingest:" accepted
  // split across families the way q140 shares the event batch. Each
  // half is the registered operator verbatim; the composition is what
  // the per-family gates cannot witness. The oracle embeds
  // q101/q102/q105's merge oracles as subqueries over one tagged
  // relation (the q140 device) — string-valued columns (bucket keys,
  // id lists, member lists) ride as h60 hashes, cross-engine
  // deterministic by construction.

  /** The ingest-epoch projection of a merged (band, key, ids) bucket
    * relation onto the tagged-family shape (string key and id list
    * ride as h60 hashes — cross-engine deterministic). */
  private def idxSlice(merged: DataFrame, family: String): DataFrame =
    merged.select(lit(family).as("family"),
      col("band").cast("long").as("k1"),
      h60(col("key")).as("k2"),
      size(col("ids")).cast("long").as("v1"),
      h60(concat((size(col("ids")) === 0).cast("string"), lit(":"),
        concat_ws(",", transform(col("ids"), x => x.cast("string")))))
        .as("v2"))

  /** DuckDB text of [[idxSlice]] over an index-merge oracle. */
  private def oIdxSlice(oracle: String, family: String) =
    s"""SELECT '$family' AS family, CAST(band AS BIGINT) AS k1,
         ${oH60("CAST(key AS VARCHAR)")} AS k2, n_kept AS v1,
         ${oH60("CAST(dropped AS VARCHAR) || ':' || ids")} AS v2
       FROM ($oracle) ${family.take(4)}"""

  /** The ingest epoch's standing INDEX sides — the capped text and
    * embedding indexes over the 90 % split, scoped and materialized
    * (r20: the r14 prepare device, applied here as q101/q102's
    * prepares are; the timed epoch body is the day's batch banding +
    * the two co-partitioned merges, not the standing index builds a
    * deployment stores). */
  private[graft] def q144IdxArts(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    import DedupOps._
    // DedupOps.q101Arts' partitioning note: the merges co-locate on
    // the cached layout.
    val ti = graft.Scratch.scoped(
      cappedIndexBuckets(bandedFor(s, dir, !ingest("doc_id")), Q96Cap), adaptive = true)
    val ei = graft.Scratch.scoped(
      cappedIndexBuckets(embBandedFor(s, dir, !ingest("vec_id")), Q91Cap), adaptive = true)
    graft.Scratch.fill(ti); graft.Scratch.fill(ei)
    (ti, ei)
  }

  /** The ingest epoch's standing artifacts: q105's clusters and the
    * two index sides. */
  private def q144Arts(s: org.apache.spark.sql.SparkSession, dir: String)
      : ((DataFrame, DataFrame), (DataFrame, DataFrame)) =
    (DedupOps.q105Arts(s, dir), q144IdxArts(s, dir))

  private def q144Body(s: org.apache.spark.sql.SparkSession, dir: String,
      arts: ((DataFrame, DataFrame), (DataFrame, DataFrame))): DataFrame = {
    import DedupOps._
    val ((standing, matches), (tiStanding, eiStanding)) = arts
    val ti = idxSlice(mergeIndexBuckets(tiStanding,
      bandedFor(s, dir, ingest("doc_id")), Q96Cap), "text_index")
    val ei = idxSlice(mergeIndexBuckets(eiStanding,
      embBandedFor(s, dir, ingest("vec_id")), Q91Cap), "embedding_index")
    val cl = clusterRows(mergeComponents(standing, matches), incoming = true)
      .select(lit("clusters").as("family"),
        col("canonical_id").as("k1"), col("n_docs").as("k2"),
        col("n_incoming").as("v1"), h60(col("members")).as("v2"))
    ti.unionByName(ei).unionByName(cl)
      .orderBy(col("family"), col("k1"), col("k2"))
  }

  private def q144Oracle: String =
    s"""SELECT family, k1, k2, v1, v2 FROM (
      ${oIdxSlice(DedupOps.q101.oracle.get, "text_index")}
      UNION ALL
      ${oIdxSlice(DedupOps.q102.oracle.get, "embedding_index")}
      UNION ALL
      SELECT 'clusters' AS family, canonical_id AS k1, n_docs AS k2,
             n_incoming AS v1, ${oH60("members")} AS v2
      FROM (${DedupOps.q105.oracle.get}) c105
    ) ORDER BY family, k1, k2"""

  val q144 = Q.staged(
    "q144_ingest_epoch",
    "ingest epoch: the day's accepted docs merged into the text index, embedding index, and clusters in one dataflow — every family == its merge oracle",
    Some(q144Oracle))(q144Arts)(q144Body)

  // ---- q146: the WHOLE NIGHTLY JOB (r17 VERDICT task 4) — the
  // events side (q140's maintenance epoch) and the document side
  // (q144's ingest epoch) as ONE registration sharing the session:
  // both sides' relations union under a side tag, and the oracle is
  // the union of the two sides' already-proven composite oracles.
  // Nothing new is computed — the value is the driver gating the two
  // sides TOGETHER, the shape the scheduler actually runs.

  val q146 = Q.staged(
    "q146_nightly_job",
    "the full nightly job: the events maintenance epoch (q140), the document ingest epoch (q144), and the per-day sketch store update (q151 fold + q150 expiry) in one dataflow, side-tagged — each side == its composite rebuild oracle",
    Some(s"""SELECT side, family, k1, k2, v1, v2 FROM (
      SELECT 'events' AS side, * FROM (${q140.oracle.get}) ev
      UNION ALL
      SELECT 'ingest' AS side, * FROM (${q144Oracle}) ing
      UNION ALL
      SELECT 'sketch' AS side, 'hll_days' AS family,
        CAST(day - DATE '1970-01-01' AS BIGINT) AS k1,
        register_id AS k2, max_rho AS v1, CAST(NULL AS BIGINT) AS v2
      FROM (${CurationOps.oHllDaysSurviving}) sk
    ) ORDER BY side, family, k1, k2"""))(
    // The sketch side's standing store is built too; the side reads
    // it back through nightlySketchStore.
    (s, dir) => (q140Arts(s, dir), q144Arts(s, dir), CurationOps.q151Arts(s, dir))) {
    case (s, dir, (evArts, inArts, _)) =>
      // The two sides' bodies run EAGER driver work while composing
      // their plans (the takedown's and the cluster merge's connected
      // components both collect at call time), and the sides are data-
      // independent until the union — so they compose on separate
      // threads (guide §2.6: overlap independent jobs) instead of
      // paying CC-latency-after-CC-latency.
      val (ev, in) = graft.Par.both(s)(q140Body(s, dir, evArts))(q144Body(s, dir, inArts))
      // The SKETCH side (r18 VERDICT task 2): the epoch folds the
      // day's per-day sketches into the standing store and expires
      // the aged days in the same dataflow; the slice gates the whole
      // surviving store day-by-day against the direct rebuild.
      val sk = CurationOps.nightlySketchStore(s, dir)
        .select(lit("hll_days").as("family"),
          datediff(col("day"), lit("1970-01-01").cast("date"))
            .cast("long").as("k1"),
          col("register_id").as("k2"),
          col("max_rho").as("v1"), lit(null).cast("long").as("v2"))
      ev.select(lit("events").as("side"), col("family"), col("k1"),
          col("k2"), col("v1"), col("v2"))
        .unionByName(in.select(lit("ingest").as("side"), col("family"),
          col("k1"), col("k2"), col("v1"), col("v2")))
        .unionByName(sk.select(lit("sketch").as("side"), col("family"),
          col("k1"), col("k2"), col("v1"), col("v2")))
        .orderBy(col("side"), col("family"), col("k1"), col("k2"))
  }

  // ---- q148: the INGEST epoch CHAIN — q145's sibling on the
  // document side (the symmetry q145 closed for the events side).
  // Two days' accepted batches merge SUCCESSIVELY into the standing
  // capped indexes: day 2's merge runs against the index day 1's
  // merge produced — tombstones carried across days, a bucket can
  // cross the cap mid-chain. mergeIndexBuckets' tombstones make the
  // merge monotone and grouping-invariant (its scaladoc;
  // IndexMergeSpec's two-batch replay pins it in-engine at a
  // tightened cap), so the chain's oracle is the ONE-SHOT full-corpus
  // recompute — q101/q102's oracles VERBATIM — making grouping
  // invariance driver-gated cross-engine every round, exactly as
  // q145's oracle makes the behavioral chain's path independence.
  // The cluster family's cross-day composition is q152's (r18
  // VERDICT task 4: the closure algebra now has its registered twin).

  /** Day-2 accepted split — disjoint from q144's "ingest:" day-1
    * split; standing = neither day. */
  private[graft] def ingest2(idCol: String): Column =
    h60(concat(lit("ingest2:"), col(idCol))) % 10 === 0 &&
      !DedupOps.ingest(idCol)

  /** q148's standing artifacts — the capped indexes over the
    * NEITHER-day split (q144IdxArts' shape with the chain's standing
    * predicate), scoped and materialized untimed so the timed chain
    * body is the two days' banding + merges. */
  private def q148Arts(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    import DedupOps._
    // DedupOps.q101Arts' partitioning note: the chained merges
    // co-locate on the layout.
    val ti = graft.Scratch.scoped(cappedIndexBuckets(
      bandedFor(s, dir, !ingest("doc_id") && !ingest2("doc_id")), Q96Cap), adaptive = true)
    val ei = graft.Scratch.scoped(cappedIndexBuckets(
      embBandedFor(s, dir, !ingest("vec_id") && !ingest2("vec_id")), Q91Cap), adaptive = true)
    graft.Scratch.fill(ti); graft.Scratch.fill(ei)
    (ti, ei)
  }

  val q148 = Q.staged(
    "q148_ingest_epoch_chain",
    "chained ingest epochs: two days' accepted batches merged successively into the standing capped indexes (tombstones carried) == the one-shot recompute",
    Some(s"""SELECT family, k1, k2, v1, v2 FROM (
      ${oIdxSlice(DedupOps.q101.oracle.get, "text_index")}
      UNION ALL
      ${oIdxSlice(DedupOps.q102.oracle.get, "embedding_index")}
    ) ORDER BY family, k1, k2"""))(q148Arts) {
    case (s, dir, (tiStanding, eiStanding)) =>
      import DedupOps._
      val ti = idxSlice(mergeIndexBuckets(mergeIndexBuckets(tiStanding,
        bandedFor(s, dir, ingest("doc_id")), Q96Cap),
        bandedFor(s, dir, ingest2("doc_id")), Q96Cap), "text_index")
      val ei = idxSlice(mergeIndexBuckets(mergeIndexBuckets(eiStanding,
        embBandedFor(s, dir, ingest("vec_id")), Q91Cap),
        embBandedFor(s, dir, ingest2("vec_id")), Q91Cap), "embedding_index")
      ti.unionByName(ei).orderBy(col("family"), col("k1"), col("k2"))
  }

  // ---- q152: the CLUSTER family's ingest chain — the third family
  // q148's scaladoc argued by closure algebra instead of registering
  // (r18 VERDICT task 4, applying the suite's own q128 standard:
  // "composes" needs a registered twin). Two days' accepted match
  // batches merge SUCCESSIVELY through mergeComponents: day 2's merge
  // runs against the PUBLISHED post-day-1 component store, not the
  // originals. Union-find closure is grouping-invariant (contracting
  // day-2 edges through the finer post-day-1 partition preserves
  // connectivity — ClusterMergeSpec's replay device), so the chain's
  // oracle is q105's one-shot merge VERBATIM, making the invariance
  // driver-gated cross-engine every round, exactly as q148 gates the
  // index chain and q145 the behavioral chain. The interesting
  // cross-day branch — a day-2 doc BRIDGING two components that day 1
  // itself extended — cannot occur as a one-day merge; EpochSpec
  // fires it on a crafted corpus and pins chained == one-shot with
  // the published intermediate's two components identified.

  /** Which half of the gate's accepted matches arrives on day 1,
    * keyed by the incoming doc (an arrival-order split: each incoming
    * doc's matches land together, the shape a daily gate produces).
    * Salt chosen so BOTH halves are populated at sf0.001's three
    * matched srcs AND sf0.01's (EpochSpec census). */
  private[graft] def clusterDay1(incDoc: Column): Column =
    h60(concat(lit("ingd:"), incDoc)) % 2 === 0

  val q152 = Q.staged(
    "q152_cluster_ingest_chain",
    "chained cluster ingest: two days' accepted match batches merged successively through the published component store (day 2 against post-day-1 state) == the one-shot merge",
    Some(DedupOps.q105.oracle.get))(DedupOps.q105Arts) {
    case (s, dir, (standing, matches)) =>
      val day1 = matches.where(clusterDay1(col("src")))
      val day2 = matches.where(!clusterDay1(col("src")))
      // Epoch 1 merges day 1's matches and PUBLISHES the assignment
      // as a real store (r19 VERDICT task 2: the chain now runs
      // through the written-back artifact, q145's
      // chain-through-published-store shape, not an in-memory
      // cache). The read-back is scoped for plan hygiene: epoch 2's
      // closure issues several actions over it.
      val published = graft.Scratch.scoped(
        plainStore(s, dir, "cl_comps_ingest1")(
          DedupOps.mergeComponents(standing, day1)))
      DedupOps.clusters(DedupOps.mergeComponents(published, day2), incoming = true)
  }
}
