package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine capability: a named deterministic query over the
  * test tables, with an optional DuckDB-equivalent oracle SQL.
  *
  * Determinism contract (BASELINE.md): output fully ordered, floating
  * aggregates computed exactly (decimal) then rounded, column names
  * identical between the Spark plan and the oracle SQL.
  */
final case class Q(
    name: String,
    doc: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** The untimed build of the query's standing artifacts, derived by
      * [[Q.staged]] and never written by hand; see there. */
    prepare: Option[(SparkSession, String) => Unit] = None)

object Q {
  /** A query over standing artifacts: state a deployment builds once
    * and reads on every run (bucketed layouts, stored indexes, the
    * pre-cutoff behavioral stores). `arts` builds them; `body` is the
    * recurring query over them.
    *
    * `prepare` builds the artifacts and parks them under the query's
    * name; the next `run` in that session and directory takes them
    * (the entry is removed), so the bench times only the body. A run
    * with nothing parked (Verify, the specs, the driver's correctness
    * gate) builds them inline, so every run is self-sufficient and
    * both paths compute the same rows. Parked entries are a pass-
    * lifetime memo: `queries.evictMemos` drops them, and so does the
    * end of their session's context. */
  def staged[A](name: String, doc: String, oracle: Option[String])(
      arts: (SparkSession, String) => A)(
      body: (SparkSession, String, A) => DataFrame): Q =
    Q(name, doc,
      (s, dir) => body(s, dir, Option(parked(s).remove(dir -> name))
        .fold(arts(s, dir))(_.asInstanceOf[A])),
      oracle,
      prepare = Some((s, dir) => { parked(s).put(dir -> name, arts(s, dir)); () }))

  private val Parked = queries.Memo("parked")

  /** The session's parked artifacts, keyed by (dir, query name). */
  private def parked(s: SparkSession) =
    queries.sessionMemo(s, Parked, "")(
      new java.util.concurrent.ConcurrentHashMap[(String, String), Any]())

  /** How many artifacts `s` has parked and no run has taken yet. */
  private[graft] def parkedCount(s: SparkSession): Int = parked(s).size
}

object Registry {
  /** All query modules, merged. Order is stable for reporting. */
  def all: Seq[Q] =
    queries.Relational.all ++
      queries.Analytic.all ++
      queries.TextOps.all ++
      queries.DedupOps.all ++
      queries.SimilarityOps.all ++
      queries.ContactOps.all ++
      queries.MultimodalOps.all ++
      queries.StreamingOps.all ++
      // Appended last: inserting mid-list would shift the bench's
      // execution order for existing queries (see the ListMap note).
      queries.CurationOps.all :+
      // q87 lives in ContactOps but registers at the tail for the
      // same order-stability reason.
      queries.ContactOps.q87 :+
      // q88 (capped LSH) likewise appends rather than joining
      // DedupOps.all mid-list.
      queries.DedupOps.q88 :+
      // q89 (capped decontamination) — same tail-append rule.
      queries.TextOps.q89 :+
      // q90 (embedding near-dup clusters) — same tail-append rule.
      queries.DedupOps.q90 :+
      // q91/q92/q93 (round 9): scale-parameterized sign-LSH embedding
      // pairs, 64-bit simhash, and the scaled embedding clusters.
      queries.DedupOps.q91 :+
      queries.DedupOps.q92 :+
      queries.DedupOps.q93 :+
      // q94 (char-4-gram minhash: q53's at-scale sketch relaxation).
      queries.DedupOps.q94 :+
      // q95 (C4-style span-boilerplate removal) — same tail-append rule.
      queries.TextOps.q95 :+
      // q96 (incremental ingest-gate dedup) — same tail-append rule.
      queries.DedupOps.q96 :+
      // q97 (embedding ingest gate) — same tail-append rule.
      queries.DedupOps.q97 :+
      // q98 (stream-static ingest gate) — same tail-append rule.
      queries.StreamingOps.q98 :+
      // q99 (context-window chunking) — same tail-append rule.
      queries.TextOps.q99 :+
      // q100 (quality-aware canonical selection) — same tail-append rule.
      queries.DedupOps.q100 :+
      // q101 (ingest-index maintenance merge) — same tail-append rule.
      queries.DedupOps.q101 :+
      // q102 (embedding-index maintenance merge) — same tail-append rule.
      queries.DedupOps.q102 :+
      // q103 (ExactSubstr-style sliding-window dedup) — same tail-append rule.
      queries.TextOps.q103 :+
      // q104 (Bloom-gate decontamination) — same tail-append rule.
      queries.TextOps.q104 :+
      // q105 (cluster maintenance merge) — same tail-append rule.
      queries.DedupOps.q105 :+
      // q106 (Misra-Gries heavy-hitter shingles) — same tail-append rule.
      queries.CurationOps.q106 :+
      // q107 (bounded-domain exact quantiles) — same tail-append rule.
      queries.CurationOps.q107 :+
      // q108 (DSIR hashed-bigram importance weights) — same tail-append rule.
      queries.CurationOps.q108 :+
      // q109 (contrastive pair mining) — same tail-append rule.
      queries.SimilarityOps.q109 :+
      // q110 (embedding centroids / drift matrix) — same tail-append rule.
      queries.SimilarityOps.q110 :+
      // q111 (cross-source shingle overlap matrix) — same tail-append rule.
      queries.CurationOps.q111 :+
      // q112 (incremental quantile maintenance) — same tail-append rule.
      queries.CurationOps.q112 :+
      // q113 (ordered funnel with exact step latencies) — same tail-append rule.
      queries.Analytic.q113 :+
      // q114 (daily cohort retention matrix) — same tail-append rule.
      queries.Analytic.q114 :+
      // q115 (streaming funnel, q113's stream twin) — same tail-append rule.
      queries.StreamingOps.q115 :+
      // q116 (index retraction: bucket-scoped rebuild) — same tail-append rule.
      queries.DedupOps.q116 :+
      // q117 (cluster retraction: touched-component CC rerun) — same tail-append rule.
      queries.DedupOps.q117 :+
      // q118 (quantile histogram decrement) — same tail-append rule.
      queries.CurationOps.q118 :+
      // q119 (incremental funnel maintenance) — same tail-append rule.
      queries.Analytic.q119 :+
      // q120 (incremental retention maintenance) — same tail-append rule.
      queries.Analytic.q120 :+
      // q121 (streaming funnel with state retirement) — same tail-append rule.
      queries.StreamingOps.q121 :+
      // q122 (streaming sessions with watermark retirement) — same tail-append rule.
      queries.StreamingOps.q122 :+
      // q123 (embedding-index retraction) — same tail-append rule.
      queries.DedupOps.q123 :+
      // q124 (capped-pipeline takedown: demotion-revealed pairs) — same tail-append rule.
      queries.DedupOps.q124 :+
      // q125 (retention user erasure) — same tail-append rule.
      queries.Analytic.q125 :+
      // q126 (funnel user erasure) — same tail-append rule.
      queries.Analytic.q126 :+
      // q127 (in-stream user erasure) — same tail-append rule.
      queries.StreamingOps.q127 :+
      // q128 (streaming retention, q114's stream twin) — same tail-append rule.
      queries.StreamingOps.q128 :+
      // q129 (session-store user erasure, q127's session twin) — same tail-append rule.
      queries.StreamingOps.q129 :+
      // q130 (erase requests as a control stream) — same tail-append rule.
      queries.StreamingOps.q130 :+
      // q131 (incremental batch sessionization) — same tail-append rule.
      queries.Analytic.q131 :+
      // q132 (watermarked streaming retention with in-stream erasure) — same tail-append rule.
      queries.StreamingOps.q132 :+
      // q133 (redelivery-tolerant session fold) — same tail-append rule.
      queries.Analytic.q133 :+
      // q134 (session-store erasure from the control stream) — same tail-append rule.
      queries.StreamingOps.q134 :+
      // q135 (session-table whole-user erasure) — same tail-append rule.
      queries.Analytic.q135 :+
      // q136 (partial session-table erasure at per-user T) — same tail-append rule.
      queries.Analytic.q136 :+
      // q137 (partial retention erasure: cohort move) — same tail-append rule.
      queries.Analytic.q137 :+
      // q138 (control-stream funnel erasure with retirement) — same tail-append rule.
      queries.StreamingOps.q138 :+
      // q139 (control-stream retention erasure) — same tail-append rule.
      queries.StreamingOps.q139 :+
      // q141 (range-local capped takedown) — same tail-append rule.
      queries.DedupOps.q141 :+
      // q140 (unified maintenance epoch; registered after q141, whose
      // takedown it embeds) — same tail-append rule.
      queries.EpochOps.q140 :+
      // q142 (redelivery-tolerant retention fold) — same tail-append rule.
      queries.Analytic.q142 :+
      // q143 (partial funnel erasure at per-user T) — same tail-append rule.
      queries.Analytic.q143 :+
      // q144 (ingest epoch: index+cluster merges composed) — same tail-append rule.
      queries.EpochOps.q144 :+
      // q145 (the epoch chain: publish post-epoch stores, fold day 2) — same tail-append rule.
      queries.EpochOps.q145 :+
      // q146 (the full nightly job: q140 + q144 side-tagged) — same tail-append rule.
      queries.EpochOps.q146 :+
      // q147 (horizon-aged id store for the redelivery dedup) — same tail-append rule.
      queries.Analytic.q147 :+
      // q148 (chained ingest epochs: successive index merges) — same tail-append rule.
      queries.EpochOps.q148 :+
      // q149 (mergeable HLL distinct sketch) — same tail-append rule.
      queries.CurationOps.q149 :+
      // q150 (sketch day-retention by re-merge) — same tail-append rule.
      queries.CurationOps.q150 :+
      // q151 (sketch add half: fold the day into the per-day store) —
      // same tail-append rule.
      queries.CurationOps.q151 :+
      // q152 (cluster ingest chain: successive component merges) —
      // same tail-append rule.
      queries.EpochOps.q152 :+
      // q153 (sketch epoch chain: fold day 2 through the published
      // post-epoch-1 per-day store) — same tail-append rule.
      queries.CurationOps.q153

  // ListMap: keep registry order. A HashMap would reshuffle the
  // bench's execution order whenever a query is added, which moves
  // the (one-time, JVM-wide) codegen warm-up cost between queries and
  // makes round-over-round numbers incomparable.
  def queriesMap: Map[String, (SparkSession, String) => DataFrame] =
    scala.collection.immutable.ListMap(all.map(q => q.name -> q.run): _*)

  def preparesMap: Map[String, (SparkSession, String) => Unit] =
    scala.collection.immutable.ListMap(
      all.flatMap(q => q.prepare.map(q.name -> _)): _*)

  def oracleMap: Map[String, String] =
    scala.collection.immutable.ListMap(
      all.flatMap(q => q.oracle.map(q.name -> _)): _*)
}
