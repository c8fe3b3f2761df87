package graft.queries

import graft.Q
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.LongType

/** Structured Streaming operators over the `events` table, run to
  * completion with `Trigger.AvailableNow` so each query is a finite,
  * deterministic, oracle-checkable job while exercising the *real*
  * streaming machinery: file-source `readStream`, streaming windowed
  * aggregation, streaming deduplication state, and
  * `flatMapGroupsWithState` custom session state.
  *
  * Scale notes: on a live cluster these same plans run unbounded —
  * swap `AvailableNow` for a processing-time trigger, add
  * `withWatermark` so window/dedup state is evicted (the reference has
  * no streaming at all — SURVEY.md §2.8 — so watermark policy is ours
  * to choose), and point the parquet sinks at a production table.
  * Result capture is fully DISTRIBUTED: append-mode streams commit to
  * a scratch parquet FILE sink and Complete/Update streams write each
  * `foreachBatch` handle back out as a distributed parquet write —
  * nothing funnels through the driver, so the capture scales with the
  * cluster exactly like the stateful operators themselves.
  * Complete-mode output is used here only because it makes the
  * one-shot result exactly reproducible; its state is bounded by the
  * number of distinct (window, event_type) groups, not by input rows.
  *
  * The stateful queries are one state machine per family — funnel
  * ([[FunnelHandler]]), sessions ([[SessionHandler]]), retention
  * ([[RetentionHandler]]) — configured by a [[Retire]] and an [[Erase]]
  * policy. The timeout follows from the policies ([[Handler.timeout]]),
  * and a timer-arming handler reads a watermarked input:
  *
  * {{{
  * query  family     Retire                 Erase          timeout    current view
  * q67    sessions   Never                  Never          NoTimeout  sessionLog
  * q115   funnel     Never                  Never          NoTimeout  funnelFinal
  * q121   funnel     Idle(1 h, true)        Never          EventTime  funnelFinal
  * q122   sessions   Flush                  Never          EventTime  sessionLog
  * q127   funnel     Idle(1 h, true)        AtInstant(T)   EventTime  funnelCurrent
  * q128   retention  Never                  Never          NoTimeout  retentionCells
  * q129   sessions   Flush                  AtInstant(T)   EventTime  sessionsCurrent
  * q130   funnel     Never                  Control        NoTimeout  funnelCurrent
  * q132   retention  Never                  AtInstant(T)   EventTime  retentionCurrent
  * q134   sessions   Flush                  Control        EventTime  sessionsCurrentByRequests
  * q138   funnel     Idle(1 h, false)       Control        EventTime  funnelCurrent
  * q139   retention  Never                  Control        NoTimeout  retentionCurrent
  * }}}
  */
object StreamingOps {

  /** `readStream` over the events parquet with the batch schema
    * ([[graft.Tables.parquet]]: resolved once per file version, read
    * confs set); nanos ts rebuilt to micros exactly like `Tables.load`. */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.parquet(s, s"$dir/events.parquet").schema
    // The source path must be a glob: for a non-glob path the
    // file-stream source force-sets basePath to the path itself, which
    // then fails the "basePath must be a directory" check when the path
    // names the single parquet file.
    val df = s.readStream.schema(schema).option("basePath", dir)
      .parquet(s"$dir/events.{parquet}")
    if (schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else df
  }

  /** Cap of the stateful-stream shuffle width. A stream's width is
    * `min(StreamPartitions, session width)` ([[streamWidth]]). Every
    * micro-batch's task per state partition pays a state-store provider
    * init, a delta-file commit and a sink part file, so below the cap a
    * stream runs as wide as the session runs its batch shuffles: one
    * wave of tasks, not 8 partitions in 8 / width waves on a box with
    * fewer task slots. It is a cap and not a floor because above 8 the
    * batch session's CPU-count width multiplies that small-file I/O
    * without adding useful parallelism at this state volume. A
    * narrower width measured no gain on a 32-core session; the rule
    * gives 8 there, so it changes nothing where that was measured and
    * lowers the width only where a session has fewer than 8 task
    * slots. A live deployment sizes the streaming shuffle
    * independently of the batch one. */
  private val StreamPartitions = 8

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** The session's shuffle width, capped at `cap`. */
  private def streamWidth(s: SparkSession, cap: Int): String =
    math.min(cap, s.conf.get(ShufflePartitions).toInt).toString

  /** Run `f` with the streaming shuffle width plus any per-query
    * streaming confs (all are picked up when the streaming query
    * STARTS). Like [[graft.Tables.parquet]] it writes only the keys
    * whose value differs from the session's, and restores them
    * afterwards, so at a session width of 8 or less a stream without
    * per-query confs writes no session conf. */
  private def withStreamPartitions[A](s: SparkSession,
      confs: Map[String, String] = Map.empty)(f: => A): A = {
    val all = Map(ShufflePartitions -> streamWidth(s, StreamPartitions)) ++ confs
    val olds = all.keys.map(k => k -> s.conf.getOption(k))
      .filterNot { case (k, old) => old.contains(all(k)) }.toMap
    olds.keys.foreach(k => s.conf.set(k, all(k)))
    try f finally olds.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Fresh scratch root per run (data/ + chk/ separated so a
    * per-batch overwrite of data/ can never clobber the stream's
    * checkpoint), so Bench warm loops and Verify reruns never append
    * onto a previous run's commits. Prefers tmpfs (/dev/shm) when
    * present: a run-to-completion AvailableNow capture's checkpoint
    * has no recovery value past the run (the job either finishes or
    * reruns whole). tmpfs does not remove the fixed cost per atomic
    * checkpoint file, though: Hadoop's local file system forks shell
    * processes (`readlink`, `chmod`) to create and rename each one. A
    * live deployment points sink + checkpoint at durable shared
    * storage instead (see the object doc); the recovery tests manage
    * their own durable checkpoint dirs. */
  private def scratch(): (String, String) = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    // Named like localScratch's fixtures, with the owning pid, so one
    // sweep removes what dead JVMs left and never a live one's dirs.
    sweepDeadFixtures(base.toFile)
    val root = java.nio.file.Files.createTempDirectory(base, s"graft_fix_p${pidSelf}_stream_")
    (s"$root/data", s"$root/chk")
  }

  /** Run an append-mode streaming DF to completion into a scratch
    * parquet FILE sink and read it back as a DISTRIBUTED DataFrame.
    * The executors write the part files; the driver only tracks the
    * `_spark_metadata` commit log — at 100× the session/window output
    * the capture scales with the cluster, where a memory-sink table
    * (the previous design) would OOM the driver. The read-back uses
    * the stream's own schema, so an empty result round-trips. */
  private def runToParquet(s: SparkSession, df: DataFrame,
      confs: Map[String, String] = Map.empty): DataFrame =
    withStreamPartitions(s, confs) {
      val (data, chk) = scratch()
      val q = df.writeStream.format("parquet")
        .option("path", data)
        .option("checkpointLocation", chk)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.schema(df.schema).parquet(data)
    }

  /** Complete/Update-mode capture: the parquet file sink is
    * append-only, so these modes run through `foreachBatch`, writing
    * each batch handle straight back out as a DISTRIBUTED parquet
    * write — `overwrite` per batch for Complete (the final batch IS
    * the full result), `append` for Update (each batch carries only
    * the newly emitted rows). No `collect`, no driver buffer. */
  private def runBatchesToParquet[T](s: SparkSession, ds: Dataset[T],
      mode: OutputMode, perBatch: String): DataFrame = withStreamPartitions(s) {
    val (data, chk) = scratch()
    val q = ds.writeStream.outputMode(mode)
      .option("checkpointLocation", chk)
      .foreachBatch { (batch: Dataset[T], _: Long) =>
        batch.toDF().write.mode(perBatch).parquet(data); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.read.schema(ds.toDF().schema).parquet(data)
  }

  /** Streaming tumbling-window aggregation: 1-hour event-time windows
    * per event_type, counts + exact-decimal value sums. Complete mode
    * → the last foreachBatch overwrite IS the full windowed result. */
  val q65 = Q(
    "q65_stream_tumbling",
    "Structured Streaming 1h tumbling windows per event_type (AvailableNow)",
    (s, dir) => {
      val agg = eventsStream(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(unix_micros(col("window.start")).as("window_start_us"),
          col("event_type"), col("n_events"), col("sum_value"))
      runBatchesToParquet(s, agg, OutputMode.Complete(), "overwrite")
        .orderBy(col("window_start_us"), col("event_type"))
    },
    Some(s"""SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
        event_type, count(*) AS n_events, ${oSum("value", "sum_value")}
      FROM events GROUP BY 1, 2 ORDER BY window_start_us, event_type"""))

  /** Streaming deduplication: first event per (user_id, event_type)
    * via `dropDuplicates` state, appended to the sink; the per-type
    * distinct-user counts are then a batch aggregate over the sink
    * table (which rows win is arrival-order-dependent; the *counts*
    * are exactly the distinct pair counts, hence deterministic). */
  val q66 = Q(
    "q66_stream_dedup",
    "streaming dropDuplicates state: distinct (user, event_type) counts",
    (s, dir) => {
      val dedup = eventsStream(s, dir)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
      runToParquet(s, dedup)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(DISTINCT user_id) AS n_users
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Stream-stream interval join: every click in the 10 minutes before
    * a purchase by the same user. Both sides carry watermarks — on a
    * live stream that bounds the join state (each side buffers only
    * rows inside watermark + interval); with `AvailableNow` over one
    * parquet file the job is a single micro-batch, so no row is
    * watermark-dropped and the result equals the batch join, which is
    * what the oracle computes. Joined pairs append to the parquet
    * sink; the per-hour aggregate is a batch query over its files. */
  val q68 = Q(
    "q68_stream_join",
    "stream-stream interval join: clicks within 10min before same-user purchase",
    (s, dir) => {
      val purchases = eventsStream(s, dir)
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val clicks = eventsStream(s, dir)
        .where(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val joined = purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("interval 10 minutes") &&
          col("c_ts") <= col("p_ts"))
        .select(col("p_id"), col("c_id"),
          unix_micros(col("p_ts")).as("p_us"), unix_micros(col("c_ts")).as("c_us"))
      // Per-query streaming confs: the AvailableNow run of an INNER
      // stream-stream join emits every result in the data batch — the
      // trailing no-data micro-batch exists only to advance the
      // watermark and evict state, which a run-to-completion job never
      // reuses, yet it commits one delta per store (4 stores/partition
      // for a stream-stream join). Skipping it and halving the join's
      // state width (capped at 4 at this state volume) halves the
      // state-store commit count, the fixed cost that dominates a
      // single-batch job. q67's timeout semantics keep their no-data
      // batches — the conf is scoped to this query's start.
      runToParquet(s, joined, Map(
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
        ShufflePartitions -> streamWidth(s, 4)))
        .groupBy((col("p_us") - pmod(col("p_us"), lit(3600000000L))).as("hour_us"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("p_id")).as("n_purchases"),
          countDistinct(col("c_id")).as("n_clicks"))
        .orderBy(col("hour_us"))
    },
    Some("""WITH p AS (
        SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us
        FROM events WHERE event_type = 'purchase'),
      c AS (
        SELECT user_id, event_id AS c_id, epoch_us(ts) AS c_us
        FROM events WHERE event_type = 'click')
      SELECT p_us - (p_us % 3600000000) AS hour_us,
        count(*) AS n_pairs,
        count(DISTINCT p_id) AS n_purchases,
        count(DISTINCT c_id) AS n_clicks
      FROM p JOIN c ON p.user_id = c.user_id
        AND c_us >= p_us - 600000000 AND c_us <= p_us
      GROUP BY 1 ORDER BY hour_us"""))

  /** `readStream` over the documents parquet (schema resolved like
    * [[eventsStream]]; same glob device for the single-file path). */
  private def documentsStream(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.parquet(s, s"$dir/documents.parquet").schema
    s.readStream.schema(schema).option("basePath", dir)
      .parquet(s"$dir/documents.{parquet}")
  }

  /** Streaming curation monitor: the q83 quality gate applied at
    * INGEST, aggregated per source into live rejection counters — the
    * dashboard a production pipeline watches while a crawl streams in
    * (a source whose reject rate spikes gets quarantined). Gate rules
    * are [[CurationOps.withGateFlags]], the SAME columns the batch
    * gate runs, so stream and batch can never disagree on a rule.
    * Complete mode: state is bounded by the number of distinct
    * sources (the monitor's cardinality), never by document volume;
    * capture is the distributed foreachBatch overwrite, like q65. */
  val q86 = Q(
    "q86_stream_gate",
    "streaming per-source quality-gate rejection counters (Complete mode)",
    (s, dir) => {
      val gated = CurationOps.withGateFlags(
        documentsStream(s, dir).select(col("source"), col("text")))
      val agg = gated.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(lit(1) - col("f_len")).as("rej_len"),
          sum(lit(1) - col("f_mean")).as("rej_mean"),
          sum(lit(1) - col("f_stop")).as("rej_stop"),
          sum(lit(1) - col("f_alpha")).as("rej_alpha"),
          sum(lit(1) - col("keep")).as("n_reject"))
      runBatchesToParquet(s, agg, OutputMode.Complete(), "overwrite")
        .orderBy(col("source"))
    },
    Some("""WITH tok AS (
        SELECT source, string_split_regex(trim(text), ' +') AS toks FROM documents),
      m AS (
        SELECT source,
          CAST(len(toks) AS BIGINT) AS n_tokens,
          round(CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum')
            AS DOUBLE) / len(toks), 4) AS mean_tok_len,
          CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','it')))
            AS BIGINT) AS stop_hits,
          CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
            AS BIGINT) AS alpha_toks
        FROM tok),
      f AS (
        SELECT source,
          CAST(n_tokens BETWEEN 50 AND 100000 AS INTEGER) AS f_len,
          CAST(mean_tok_len BETWEEN 3.0 AND 10.0 AS INTEGER) AS f_mean,
          CAST(stop_hits >= 2 AS INTEGER) AS f_stop,
          CAST(alpha_toks * 10 >= n_tokens * 8 AS INTEGER) AS f_alpha
        FROM m),
      g AS (
        SELECT source, f_len, f_mean, f_stop, f_alpha,
          CAST(f_len = 1 AND f_mean = 1 AND f_stop = 1 AND f_alpha = 1
            AS INTEGER) AS keep
        FROM f)
      SELECT source, count(*) AS n_docs,
        CAST(sum(1 - f_len) AS BIGINT) AS rej_len,
        CAST(sum(1 - f_mean) AS BIGINT) AS rej_mean,
        CAST(sum(1 - f_stop) AS BIGINT) AS rej_stop,
        CAST(sum(1 - f_alpha) AS BIGINT) AS rej_alpha,
        CAST(sum(1 - keep) AS BIGINT) AS n_reject
      FROM g GROUP BY source ORDER BY source"""))

  /** STREAM-STATIC ingest gate: q96's incremental dedup with the
    * incoming batch arriving as a STREAM — the missing canonical
    * streaming join shape (q68 covers stream-stream; this is
    * stream-static). The 90 % index side is the batch relation a
    * standing dedup index persists ([[DedupOps.q96IndexSide]]: capped
    * band buckets + verify hash sets); the streamed incoming docs
    * compute their MinHash signatures PER ROW — `transform` folds
    * over the shingle-hash array, so the stream side needs NO shuffle
    * and no state to signature — probe the static buckets with a
    * stateless equi-join, exact-verify, and aggregate per incoming
    * doc (Complete mode; state is bounded by the number of MATCHED
    * incoming docs in the batch, never the index). Output and oracle
    * are exactly q96's — one truth relation, two physical engines.
    *
    * Per-row signatures run through the FUSED JIT kernel
    * [[graft.queries.minhashSigUdf]] (r9 VERDICT task 3): one kernel
    * pass per doc computes the distinct shingle-hash set AND all
    * minhash minima, replacing the |AB| + 2 interpreted `transform`
    * folds the first registration used — bit-identical output
    * (IngestGateSpec re-proves q98 == q96 relation equality, and the
    * registered oracle hash stays byte-stable), still zero stream-side
    * shuffle. */
  /** q98's STREAMING dataflow from an arbitrary documents-schema
    * stream: incoming filter → fused per-row signatures → stateless
    * static probe → Complete-mode per-doc aggregate. Factored out so
    * the volume bench (StreamIngestVolBench) runs the IDENTICAL
    * relation through real micro-batches (maxFilesPerTrigger over a
    * multi-part copy) while the registered instance streams the sf
    * corpus directly — one dataflow, two drivers. Returns the
    * pre-sink aggregate; the caller runs it to completion. */
  private[graft] def ingestGateStream(s: SparkSession, dir: String,
      docs: DataFrame,
      idxSide: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    // Static index side from the caller's prepared artifact when
    // present (r20: the r14 prepare device — the standing index is
    // what a deployment persists between batches; the stream's
    // recurring cost is the incoming signatures + the stateless
    // probe). Inline build otherwise (Verify, volume benches).
    val (keptIdx, idxHs) = idxSide.getOrElse(DedupOps.q96IndexSide(s, dir))
    // q96's signature in its per-row form: same constants and bands.
    val mh = DedupOps.Text
    val sigd = Lsh.Word3.units(docs.where(DedupOps.ingest("doc_id")))
      .select(col("doc_id"), mh.rowSig(col("tk")).as("sig"))
      .select(col("doc_id"), col("sig.hs").as("hs_a"), col("sig.mins").as("mins"))
    val banded = sigd.select(col("doc_id"), col("hs_a"), posexplode(mh.rowKeys(col("mins"))))
      .select(col("doc_id"), col("hs_a"), col("pos").as("band"), col("col").as("key"))
    val verified = banded
      .join(keptIdx, Seq("band", "key")) // stream-static, stateless
      .join(idxHs, Seq("idx_doc"))       // stream-static, stateless
      .select(col("doc_id"), col("idx_doc"),
        DedupOps.jaccardSorted(col("hs_a"), col("hs_b"))
          .as("jaccard"))
      .where(col("jaccard") >= 0.8)
    // A pair can surface through several bands: collect_set + the
    // struct-max argmax absorb duplicates WITHOUT a second stateful
    // operator (streaming distinct aggregation is unsupported, and
    // chaining dropDuplicates into a Complete agg is restricted).
    verified.groupBy(col("doc_id"))
      .agg(collect_set(col("idx_doc")).as("mset"),
        max(struct(col("jaccard"), (-col("idx_doc")).as("nid"))).as("best"))
  }

  /** Project [[ingestGateStream]]'s aggregate to q96's output shape. */
  private[graft] def ingestGateOutput(out: DataFrame): DataFrame =
    out.select(col("doc_id"),
        size(col("mset")).cast("long").as("n_matches"),
        (-col("best.nid")).as("best_match"),
        col("best.jaccard").as("best_jaccard"))
      .orderBy(col("doc_id"))

  val q98 = Q(
    "q98_stream_ingest_gate",
    "stream-static ingest gate: streamed incoming docs probed against the static capped q96 index",
    (s, dir) => {
      val side = prepTake(s, dir, "prep98")(DedupOps.q96Arts(s, dir))
      val gated = ingestGateStream(s, dir, documentsStream(s, dir), Some(side))
      ingestGateOutput(runBatchesToParquet(s, gated, OutputMode.Complete(), "overwrite"))
    },
    Some(DedupOps.oIngestGateSql),
    prepare = Some((s, dir) => prepPut(s, dir, "prep98", DedupOps.q96Arts(s, dir))))

  // ---- Stateful streams: one state machine per family ----------------

  /** A row of a stateful query's input. In a control+event union,
    * `kind` 1 marks an erase request whose `ts_us` is the request
    * instant T. Event-only and untyped inputs take `kind` and
    * `event_type` from [[EventRow]] and [[UntypedRow]]: class-body defs,
    * so the encoders add no column. */
  trait StreamRow {
    def user_id: Long
    def ts_us: Long
    def event_type: String
    def kind: Int
  }
  trait EventRow extends StreamRow { def kind: Int = 0 }
  trait UntypedRow extends StreamRow { def event_type: String = "activity" }

  final case class SessionEvent(user_id: Long, ts_us: Long) extends EventRow with UntypedRow
  final case class FunnelEvent(user_id: Long, ts_us: Long, event_type: String)
      extends EventRow
  final case class CtrlEvent(user_id: Long, ts_us: Long, event_type: String, kind: Int)
      extends StreamRow

  /** The `…Wm` rows and [[CtrlSessEvent]] keep the raw `ts` beside the
    * micros: an EventTimeTimeout handler must carry the watermarked
    * column into its typed input — projecting it away prunes the
    * EventTimeWatermark node and the analyzer rejects the timeout
    * ("watermark must be specified"). */
  final case class FunnelEventWm(user_id: Long, ts: java.sql.Timestamp,
      ts_us: Long, event_type: String) extends EventRow
  final case class SessionEventWm(user_id: Long, ts: java.sql.Timestamp,
      ts_us: Long) extends EventRow with UntypedRow
  final case class CtrlEventWm(user_id: Long, ts: java.sql.Timestamp,
      ts_us: Long, event_type: String, kind: Int) extends StreamRow
  final case class CtrlSessEvent(user_id: Long, ts: java.sql.Timestamp,
      ts_us: Long, kind: Int) extends UntypedRow

  /** Retirement: how state leaves the store other than by erasure. */
  sealed trait Retire extends Serializable
  object Retire {
    /** State lives as long as the user: bounded by users, not events. */
    case object Never extends Retire

    /** Funnel: a state untouched by events for `horizonUs` of event
      * time retires silently — its max-reached row was emitted at its
      * last transition — and with `onComplete` a completed funnel
      * retires at once (nothing later can change its three mins).
      * State is then bounded by users active within the horizon. A
      * retired user who returns restarts the cascade where q113 would
      * keep the old anchors: the delete+insert residual every
      * retirement scheme carries. On a single-data-batch replay no
      * restart can happen (a completed user's later events arrive in
      * the same call, and a timer only removes state silently), so the
      * emission log is the unretired one. */
    final case class Idle(horizonUs: Long, onComplete: Boolean) extends Retire

    /** Sessions: the open session flushes once the watermark passes
      * its end by more than the gap — no in-order event can extend it
      * then, so emitting it is what the batch gap-split decides — and
      * leaves the store. The timer is end_ms + gap_ms + 1, and Spark
      * fires a timer only when it is STRICTLY below the watermark, so
      * a tail whose timer lands exactly on the final watermark ms stays
      * in state (StreamRetireSpec pins the boundary). Expired timers
      * fire in the micro-batch after the watermark passes them,
      * including AvailableNow's closing no-data batch, so a finite
      * replay emits the successor-closed sessions plus every last
      * session ending more than a gap before the final watermark: the
      * q122 oracle's disjunct, in Spark's ms watermark arithmetic. */
    case object Flush extends Retire
  }

  /** Erasure: where a user's erase request comes from. Applying one
    * forgets the user's state from the instant T on, so an erased
    * user's report reflects only events at/after T (the oracles'
    * `ts >= T` filter), and withdraws reported rows with a tombstone
    * (funnel step 0, session n_events 0, retention day -1) that a
    * deletion-aware consumer keys on. */
  sealed trait Erase extends Serializable
  object Erase {
    case object Never extends Erase

    /** The [[streamErased]] users at the fixed instant `us`. The first
      * event at/after T applies the request before it is processed; a
      * due user with state but no such event is erased by an event-time
      * timer at T, so the deletion does not wait for the user to
      * return. While due, the timer slot holds the T timer. With the
      * 0-delay watermark, once the erasure has applied every later
      * event is post-T, so the applied flag may leave with the state. */
    final case class AtInstant(us: Long) extends Erase

    /** Request rows in the stream, the per-user T held in state. A
      * request sorts before events at its instant, so an event at
      * exactly T is post-T; no timer is needed, because the request row
      * itself erases a user who never returns. A request arriving after
      * post-T events reached the state it must wipe is the one
      * irrecoverable arrival order: it raises "<query> arrival-order
      * violation" in the handler rather than guess. */
    case object Control extends Erase
  }

  /** One family's `flatMapGroupsWithState` function over any
    * [[StreamRow]] input, configured by its policies; `label` names the
    * query in guard messages only. */
  sealed abstract class Handler[S, O]
      extends ((Long, Iterator[StreamRow], GroupState[S]) => Iterator[O]) {
    def label: String
    def retire: Retire
    def erase: Erase

    /** Timers run on event time: a policy that arms them needs
      * EventTimeTimeout and a watermarked input. */
    def armsTimers: Boolean =
      retire != Retire.Never || erase.isInstanceOf[Erase.AtInstant]

    def timeout: GroupStateTimeout =
      if (armsTimers) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout

    /** The instant this user's [[Erase.AtInstant]] erasure is due at, or -1. */
    protected def dueUs(user: Long): Long = erase match {
      case Erase.AtInstant(us) if streamErased(user) => us
      case _ => -1L
    }

    /** Arm the erase timer of a due user: T, or just past the watermark
      * once T has passed (Spark rejects a timer at or under it). */
    protected def armErase(state: GroupState[S], dueUs: Long): Unit =
      state.setTimeoutTimestamp(math.max(dueUs / 1000, state.getCurrentWatermarkMs() + 1))
  }

  /** Time order, requests before events at the same instant (stable). */
  private val ByTime: Ordering[StreamRow] = new Ordering[StreamRow] {
    def compare(a: StreamRow, b: StreamRow): Int = {
      val c = java.lang.Long.compare(a.ts_us, b.ts_us)
      if (c != 0) c else Integer.compare(b.kind, a.kind)
    }
  }

  private def inTimeOrder(rows: Iterator[StreamRow]): Array[StreamRow] =
    rows.toArray.sorted(ByTime)

  /** The event projection of [[streamRows]]: the funnel's three types
    * with their type column, every event typed "activity", or no type
    * column. */
  sealed trait EventView
  object EventView {
    case object Funnel extends EventView
    case object Activity extends EventView
    case object Untyped extends EventView
  }

  /** A stateful query's input: the events projected by `view` (`ts`
    * kept when `watermark`, then watermarked `delay` behind), unioned
    * kind-tagged with the erase `requests` when given. Registered
    * queries use a 0-second delay. The watermark goes on the EVENT
    * branch only, before the union: request rows carry their instant as event
    * time, and a privacy feed delivers requests early relative to the
    * event replay, so letting them advance the watermark would drop
    * on-time events as late. The union keeps the left branch's
    * watermark, so requests neither advance it nor get dropped by it.
    * The volume benches replay the same relation from their own paths. */
  private[graft] def streamRows[T: Encoder](events: DataFrame, requests: Option[DataFrame],
      view: EventView, watermark: Boolean, delay: String = "0 seconds"): Dataset[T] = {
    def branch(df: DataFrame, ts: Column, tsUs: Column, eventType: Column, kind: Int) =
      df.select(Seq(col("user_id")) ++ Option.when(watermark)(ts) ++ Seq(tsUs) ++
        Option.when(view != EventView.Untyped)(eventType) ++
        Option.when(requests.isDefined)(lit(kind).as("kind")): _*)
    val typed = if (view != EventView.Funnel) events
      else events.where(col("event_type").isin("view", "click", "purchase"))
    val ev = branch(typed, col("ts"), unix_micros(col("ts")).as("ts_us"),
      if (view == EventView.Activity) lit("activity").as("event_type") else col("event_type"), 0)
    val marked = if (watermark) ev.withWatermark("ts", delay) else ev
    requests.fold(marked)(r => marked.unionByName(branch(r,
      timestamp_micros(col("req_us")).as("ts"), col("req_us").as("ts_us"),
      lit("erase_request").as("event_type"), 1))).as[T]
  }

  /** A registered query's input: the events stream, plus the shared
    * request feed under [[Erase.Control]], watermarked when `h` arms
    * timers. */
  private def queryRows[T: Encoder](s: SparkSession, dir: String, view: EventView,
      h: Handler[_, _]): Dataset[T] = {
    val requests = Option.when(h.erase == Erase.Control)(
      s.readStream.schema(ReqSchema).parquet(eraseRequestsPath(s, dir)))
    streamRows[T](eventsStream(s, dir), requests, view, h.armsTimers)
  }

  /** Group by user, run `h` in Update mode under the timeout its
    * policies derive, and capture the emission log. */
  private def runStateful[I <: StreamRow, S: Encoder, O: Encoder](s: SparkSession,
      in: Dataset[I], h: Handler[S, O]): DataFrame =
    runBatchesToParquet(s,
      in.groupByKey(_.user_id)(Encoders.scalaLong)
        .flatMapGroupsWithState[S, O](OutputMode.Update(), h.timeout)(h),
      OutputMode.Update(), "append")

  /** JVM mirror of the package-level [[h60]] column (md5 → first 15
    * hex digits → unsigned 60-bit long), so the erasure predicate is
    * computable inside the state handler without a join. Pinned
    * equal to the column form in StreamEraseSpec. */
  private[graft] def h60Jvm(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var b = 0
    while (b < 7) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
    (h << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** The q125/q126 deterministic erasure predicate, handler-side. */
  private[graft] def streamErased(user: Long): Boolean =
    h60Jvm(s"erase:$user") % 10 == 0

  /** The fixed erase instant of q127/q129/q132 — the q119/q120 cutoff
    * date, mid-corpus for every sf window. */
  private[graft] val StreamEraseUs: Long =
    java.time.Instant.parse("2024-01-08T00:00:00Z").toEpochMilli * 1000

  /** Build (once per session+dir) the erase-request fixture the
    * control stream replays: one (user_id, req_us) row per requested
    * user ([[streamErased]], ~10 %) present in the events table, each
    * with their OWN instant ([[privacyInstantUs]], spread over days by a
    * second hash) — so requests land before, inside and after each
    * user's activity. A deployment receives this relation from its
    * privacy system; the fixture derives it deterministically (h60 on
    * both sides) so the DuckDB oracle can recompute it inline. The
    * distinct-users scan is a one-time fixture cost, not part of the
    * operator. */
  private[graft] def eraseRequestsPath(s: SparkSession, dir: String): String = {
    val path = localScratch(s, "q130req", dir)
    if (!new java.io.File(path, "_SUCCESS").exists()) {
      t(s, dir, "events")
        .where(h60(concat(lit("erase:"), col("user_id"))) % 10 === 0)
        .select(col("user_id")).distinct()
        .select(col("user_id"), privacyInstantUs.as("req_us"))
        .coalesce(1).write.mode("overwrite").parquet(path)
    }
    path
  }

  private val ReqSchema = new org.apache.spark.sql.types.StructType()
    .add("user_id", LongType).add("req_us", LongType)

  // ---- Funnel family: q115, q121, q127, q130, q138 -------------------

  /** Funnel state: the anchors t1/t2/t3 (-1 until set) and the erase
    * register — `reqUs` the request instant once known, `applied` the
    * erasure happened (state before T forgotten). */
  final case class FunnelStateC(t1: Long, t2: Long, t3: Long,
      reqUs: Long, applied: Boolean)

  /** One emission, flagged with its era: rows emitted after the user's
    * erasure carry true; the tombstone is (reached_step 0, erased true). */
  final case class FunnelOutE(user_id: Long, reached_step: Int,
      v2c_micros: java.lang.Long, c2p_micros: java.lang.Long, erased: Boolean)

  private val NoFunnel = FunnelStateC(-1L, -1L, -1L, -1L, applied = false)

  /** The cascade: t1 = first view, t2 = first click STRICTLY after t1,
    * t3 = first purchase strictly after t2. Fed in time order (event
    * time advances across micro-batches, as in the file replay and any
    * watermarked deployment), this walk equals q113's batch
    * conditional-min cascade: t1 can only be found in time order, so
    * the pre-view events a recompute would exclude have already
    * streamed past, and t2/t3 are first-past-the-mark in both. Ties
    * are order-free because the after-tests are strict. */
  private[graft] def advance(st: FunnelStateC, tsUs: Long, eventType: String): FunnelStateC =
    if (st.t1 < 0) { if (eventType == "view") st.copy(t1 = tsUs) else st }
    else if (st.t2 < 0) { if (eventType == "click" && tsUs > st.t1) st.copy(t2 = tsUs) else st }
    else if (st.t3 < 0 && eventType == "purchase" && tsUs > st.t2) st.copy(t3 = tsUs)
    else st

  private def funnelRow(user: Long, st: FunnelStateC): FunnelOutE = FunnelOutE(user,
    if (st.t3 >= 0) 3 else if (st.t2 >= 0) 2 else 1,
    if (st.t2 >= 0) java.lang.Long.valueOf(st.t2 - st.t1) else null,
    if (st.t3 >= 0) java.lang.Long.valueOf(st.t3 - st.t2) else null,
    erased = st.applied)

  private def funnelTombstone(user: Long) = FunnelOutE(user, 0, null, null, erased = true)

  /** The funnel state machine. It emits only on state change, so the
    * Update log carries one row per reached-step transition. Policy
    * rules:
    *   - [[Retire.Idle]] arms the idle timer from the call's last
    *     event; `onComplete` retires a completed funnel unless an
    *     erasure is still due — it must stay addressable so the T timer
    *     can forget it; a silent retire would leak the pre-T report
    *     past the deletion.
    *   - Under [[Erase.Control]] the register survives retirement: idle
    *     timers arm only for unapplied state, and a timer firing on an
    *     applied state keeps it. State is then the users active within
    *     the horizon plus the request log, erased users stay exact, and
    *     only unerased users carry the restart residual.
    *   - The tombstone withdraws reported progress. [[Erase.AtInstant]]
    *     emits it iff the state at call entry had progress (same-call
    *     progress was never reported); [[Erase.Control]] iff the wiped
    *     state had progress. Under retirement Control emits it
    *     unconditionally: retirement may have dropped reported state
    *     before the request arrived, so the handler cannot know whether
    *     earlier reports exist, and a spare tombstone is harmless.
    *   - A request over entirely post-T state (t1 >= T) keeps it, marks
    *     it applied and re-emits it flagged, with no tombstone: nothing
    *     pre-T was reported. Anchors straddling T raise the guard.
    *   - Once applied, a pre-T straggler is skipped (erased by
    *     definition), which keeps an early-delivered request exact. */
  final case class FunnelHandler(label: String, retire: Retire, erase: Erase)
      extends Handler[FunnelStateC, FunnelOutE] {
    require(retire != Retire.Flush, "the funnel retires by Retire.Idle")

    def apply(user: Long, rows: Iterator[StreamRow],
        state: GroupState[FunnelStateC]): Iterator[FunnelOutE] = {
      val due = dueUs(user)
      if (state.hasTimedOut) {
        val st = state.get
        if (erase == Erase.Control && st.applied) { state.update(st); Iterator.empty }
        else {
          state.remove()
          if (due >= 0 && !st.applied && st.t1 >= 0) Iterator.single(funnelTombstone(user))
          else Iterator.empty
        }
      } else {
        val evs = inTimeOrder(rows)
        val before = state.getOption.getOrElse(NoFunnel)
        var st = before
        var tomb = false
        evs.foreach { e =>
          if (e.kind == 1) {
            if (!st.applied) { // duplicate requests: first wins
              if (st.t1 >= e.ts_us) st = st.copy(reqUs = e.ts_us, applied = true)
              else if (math.max(st.t2, st.t3) >= e.ts_us)
                throw new IllegalStateException(
                  s"$label arrival-order violation: user $user has funnel anchors " +
                    s"straddling the erase instant ${e.ts_us} " +
                    s"(t1=${st.t1}, t2=${st.t2}, t3=${st.t3}) — post-T events " +
                    "reached the store before the request row")
              else {
                tomb ||= st.t1 >= 0 || retire != Retire.Never
                st = NoFunnel.copy(reqUs = e.ts_us, applied = true)
              }
            }
          } else {
            if (due >= 0 && !st.applied && e.ts_us >= due) {
              tomb ||= before.t1 >= 0
              st = NoFunnel.copy(reqUs = due, applied = true)
            }
            if (!(st.applied && e.ts_us < st.reqUs)) st = advance(st, e.ts_us, e.event_type)
          }
        }
        val register = erase == Erase.Control && st.applied
        val stillDue = due >= 0 && !st.applied
        val retireNow = retire match {
          case Retire.Idle(_, onComplete) => onComplete && st.t3 >= 0 && !stillDue && !register
          case _ => false
        }
        if ((st.t1 < 0 && !register) || retireNow) { if (state.exists) state.remove() }
        else {
          if (st != before) state.update(st)
          if (stillDue) armErase(state, due)
          else if (!register) retire match {
            case Retire.Idle(horizonUs, _) =>
              evs.reverseIterator.find(_.kind == 0).foreach(e =>
                state.setTimeoutTimestamp(e.ts_us / 1000 + horizonUs / 1000))
            case _ =>
          }
        }
        val row = if (st != before && st.t1 >= 0) List(funnelRow(user, st)) else Nil
        (if (tomb) funnelTombstone(user) :: row else row).iterator
      }
    }
  }

  /** The final per-user funnel rows from an Update-mode emission log:
    * reached_step only grows and the latency columns are fixed once
    * set, so the max-reached row per user IS the final state. */
  private[graft] def funnelFinal(raw: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("reached_step").desc)
    raw.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("user_id"), col("reached_step"),
        col("v2c_micros"), col("c2p_micros"))
      .orderBy(col("user_id"))
  }

  /** The rows of each user's current era in an erasing emission log:
    * if any row for a user carries erased=true, the erasure happened
    * and only flagged rows are current, otherwise all are. Order-free,
    * because the flag disambiguates eras. One window over user_id, so a
    * view that windows by user again shares its exchange. Filters on
    * the result apply after the era is chosen: a tombstone still marks
    * its user's era. */
  private def currentEra(raw: DataFrame): DataFrame = {
    val he = max(col("erased").cast("int"))
      .over(org.apache.spark.sql.expressions.Window.partitionBy(col("user_id")))
    raw.withColumn("he", he).where(col("erased").cast("int") === col("he")).drop("he")
  }

  /** CURRENT-state projection over an erasing funnel's emission log —
    * the log-compaction rule a deletion-aware consumer applies: the
    * [[currentEra]]'s progress rows (the post-T restart, whose
    * reached_step grows monotonically like q115's) — none means the
    * user is fully forgotten — under q115's max-reached rule. */
  private[graft] def funnelCurrent(raw: DataFrame): DataFrame = {
    // Deterministic tiebreak: two same-era rows can share the max
    // reached_step only after a retire-on-complete restart across
    // micro-batches; ordering the latencies makes which row survives
    // stable across runs.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("reached_step").desc,
        col("v2c_micros").asc_nulls_last, col("c2p_micros").asc_nulls_last)
    currentEra(raw).where(col("reached_step") > 0)
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("user_id"), col("reached_step"),
        col("v2c_micros"), col("c2p_micros"))
      .orderBy(col("user_id"))
  }

  /** Streaming twin of q113's batch funnel: the oracle's hash check
    * re-proves stream == batch cross-engine on every run (the q96/q98
    * pattern). StreamFunnelVolBench replays 28.7M events through real
    * micro-batches and matches q113 row for row. */
  val q115 = Q(
    "q115_stream_funnel",
    "streaming view->click->purchase funnel via flatMapGroupsWithState (stream == q113 batch)",
    (s, dir) => {
      import s.implicits._
      val h = FunnelHandler("q115", Retire.Never, Erase.Never)
      funnelFinal(runStateful(s, queryRows[FunnelEvent](s, dir, EventView.Funnel, h), h))
    },
    Some("""WITH v AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY 1),
      c AS (
        SELECT e.user_id, min(e.ts) AS t2 FROM events e
        JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
      p AS (
        SELECT e.user_id, min(e.ts) AS t3 FROM events e
        JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
      SELECT v.user_id,
        CAST(CASE WHEN p.t3 IS NOT NULL THEN 3
                  WHEN c.t2 IS NOT NULL THEN 2 ELSE 1 END AS INTEGER) AS reached_step,
        date_diff('microsecond', v.t1, c.t2) AS v2c_micros,
        date_diff('microsecond', c.t2, p.t3) AS c2p_micros
      FROM v LEFT JOIN c ON v.user_id = c.user_id
             LEFT JOIN p ON v.user_id = p.user_id
      ORDER BY v.user_id"""))

  /** Event-time idle horizon of the retiring funnels. */
  private[graft] val FunnelIdleHorizonUs = 60L * 60 * 1000000

  /** q115 with state retirement: single data batch at the sf scales,
    * so the oracle is q115's verbatim; StreamRetireSpec fires the
    * retirement and restart paths on multi-batch replays. */
  val q121 = Q(
    "q121_stream_funnel_retire",
    "streaming funnel with state retirement: completed funnels leave state, idle state times out",
    (s, dir) => {
      import s.implicits._
      val h = FunnelHandler("q121", Retire.Idle(FunnelIdleHorizonUs, onComplete = true),
        Erase.Never)
      funnelFinal(runStateful(s, queryRows[FunnelEventWm](s, dir, EventView.Funnel, h), h))
    },
    q115.oracle)

  /** In-stream user erasure at [[StreamEraseUs]] on q121's funnel — a
    * GDPR delete in a live stream cannot wait for a batch job. The
    * oracle recomputes the funnel over `events WHERE NOT erased OR
    * ts >= T`, so the hash gate re-proves forget-then-restart ==
    * filtered recompute cross-engine on every run; StreamEraseSpec pins
    * the tombstone, timer-erase and restart branches. */
  val q127 = Q(
    "q127_stream_funnel_user_erase",
    "streaming funnel with in-stream user erasure: request at T forgets state (tombstone), post-T events restart",
    (s, dir) => {
      import s.implicits._
      val h = FunnelHandler("q127", Retire.Idle(FunnelIdleHorizonUs, onComplete = true),
        Erase.AtInstant(StreamEraseUs))
      funnelCurrent(runStateful(s, queryRows[FunnelEventWm](s, dir, EventView.Funnel, h), h))
    },
    Some(s"""WITH ev AS (
        SELECT user_id, event_type, ts FROM events
        WHERE ${oH60("'erase:' || CAST(user_id AS VARCHAR)")} % 10 <> 0
           OR ts >= TIMESTAMP '2024-01-08 00:00:00'),
      v AS (
        SELECT user_id, min(ts) AS t1 FROM ev
        WHERE event_type = 'view' GROUP BY 1),
      c AS (
        SELECT e.user_id, min(e.ts) AS t2 FROM ev e
        JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
      p AS (
        SELECT e.user_id, min(e.ts) AS t3 FROM ev e
        JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
      SELECT v.user_id,
        CAST(CASE WHEN p.t3 IS NOT NULL THEN 3
                  WHEN c.t2 IS NOT NULL THEN 2 ELSE 1 END AS INTEGER) AS reached_step,
        date_diff('microsecond', v.t1, c.t2) AS v2c_micros,
        date_diff('microsecond', c.t2, p.t3) AS c2p_micros
      FROM v LEFT JOIN c ON v.user_id = c.user_id
             LEFT JOIN p ON v.user_id = p.user_id
      ORDER BY v.user_id"""))

  /** Erase requests as a CONTROL STREAM: (user_id, request_ts) rows
    * from the shared privacy feed union into the event stream, and the
    * handler holds each user's T in state. The oracle filters the
    * cascade by each user's own T, so the hash gate re-proves
    * control-stream erasure == per-user filtered recompute on every run;
    * StreamCtrlEraseSpec pins the before/between/after arrival shapes
    * and the mixed-era guard. */
  val q130 = Q(
    "q130_funnel_erase_requests",
    "funnel erasure from a control stream: (user, request_ts) rows union into the event stream, per-user T held in state",
    (s, dir) => {
      import s.implicits._
      val h = FunnelHandler("q130", Retire.Never, Erase.Control)
      funnelCurrent(runStateful(s, queryRows[CtrlEvent](s, dir, EventView.Funnel, h), h))
    },
    // The per-user-T filtered rebuild, shared through the package
    // object: q143/q139 cross-object references were a circular init
    // dependency.
    Some(oFunnelEraseBeforeTSql))

  /** q130 with retirement — the registered witness that control-stream
    * erasure composes with it. On the single-data-batch sf replay no
    * restart happens and timers only remove state silently, so the
    * oracle is q130's verbatim; StreamCtrlEraseSpec's retiring cases
    * and the volume RETIRE phase exercise the register. */
  val q138 = Q(
    "q138_funnel_erase_requests_retire",
    "control-stream funnel erasure with state retirement: idle unerased state retires, erase registers persist",
    (s, dir) => {
      import s.implicits._
      val h = FunnelHandler("q138", Retire.Idle(FunnelIdleHorizonUs, onComplete = false),
        Erase.Control)
      funnelCurrent(runStateful(s, queryRows[CtrlEventWm](s, dir, EventView.Funnel, h), h))
    },
    q130.oracle)

  // ---- Session family: q67, q122, q129, q134 -------------------------

  /** The open session, with the era flag [[Erase.AtInstant]] sets. */
  final case class OpenSessionE(n_events: Long, start_us: Long, end_us: Long,
      erased: Boolean)

  /** A closed or flushed session; the tombstone is (n_events 0, erased true). */
  final case class SessionOutE(user_id: Long, n_events: Long,
      start_us: Long, end_us: Long, erased: Boolean)

  /** The gap rule, fed in time order: `tsUs` opens a session, extends
    * `open`, or — more than [[SessGapUs]] past its end — closes it and
    * opens the next in the same era. Returns the open session and the
    * one closed, if any. */
  private[graft] def extend(open: OpenSessionE, tsUs: Long): (OpenSessionE, Option[OpenSessionE]) =
    if (open == null) (OpenSessionE(1, tsUs, tsUs, erased = false), None)
    else if (tsUs - open.end_us > SessGapUs) (OpenSessionE(1, tsUs, tsUs, open.erased), Some(open))
    else (open.copy(n_events = open.n_events + 1, end_us = math.max(open.end_us, tsUs)), None)

  private def sessionRow(user: Long, o: OpenSessionE) =
    SessionOutE(user, o.n_events, o.start_us, o.end_us, o.erased)

  private def sessionTombstone(user: Long) = SessionOutE(user, 0, 0, 0, erased = true)

  /** The session state machine: a closed session is emitted as soon as
    * a later event proves the gap; the open tail stays in state, emitted
    * only by [[Retire.Flush]]. The tombstone is UNCONDITIONAL on an
    * applied erasure: closed sessions left state when they were
    * emitted, so the handler cannot know whether earlier reports exist,
    * and a tombstone for a never-reported user is harmless. Policy
    * rules:
    *   - [[Erase.AtInstant]]: the first post-T event forgets the open
    *     session and the same call's closures (never visible), emits the
    *     tombstone and opens a fresh flagged session. A due user's open
    *     tail is never flushed: the T timer holds the slot, and the
    *     tombstone withdraws the pre-T sessions already emitted.
    *   - [[Erase.Control]]: a request forgets an open session entirely
    *     before T, keeps one entirely at/after T (a late request), and
    *     raises on one straddling T, whose post-T remainder cannot be
    *     rebuilt. The store keeps no per-user memory after the wipe —
    *     rows stay erased=false and the consumer separates eras by the
    *     request log ([[sessionsCurrentByRequests]]). A call carrying
    *     only requests keeps the session unchanged and, under
    *     [[Retire.Flush]], sets its flush timer again — Spark drops a
    *     group's timer on every call that sets none — at the gap's end,
    *     or just past the watermark once that has passed.
    *   - DELIVERY CONTRACT of Control, stricter than the funnel's
    *     because nothing is remembered: a request must arrive AT its
    *     event-time position. A late one is guarded; an early one is
    *     exact for every isolated pre-T session (the consumer's
    *     compaction drops what the handler could not wipe) EXCEPT when
    *     the user's first post-T event lands within the gap of
    *     later-arriving pre-T events and the two eras fuse into one
    *     session, whose post-T remainder the compaction over-drops. A
    *     feed that cannot place requests in stream order needs a
    *     persistent register (the funnel's); StreamCtrlEraseVolBench's
    *     SESS phase shows the in-order feed exact at 28.7M events. */
  final case class SessionHandler(label: String, retire: Retire, erase: Erase)
      extends Handler[OpenSessionE, SessionOutE] {
    require(!retire.isInstanceOf[Retire.Idle], "sessions retire by Retire.Flush")

    def apply(user: Long, rows: Iterator[StreamRow],
        state: GroupState[OpenSessionE]): Iterator[SessionOutE] = {
      val due = dueUs(user)
      if (state.hasTimedOut) {
        val o = state.get
        state.remove()
        Iterator.single(if (due >= 0 && !o.erased) sessionTombstone(user) else sessionRow(user, o))
      } else {
        var open = state.getOption.orNull
        var out = Vector.empty[SessionOutE]
        var touched = false
        inTimeOrder(rows).foreach { e =>
          if (e.kind == 1) {
            if (open != null && open.start_us < e.ts_us) {
              if (open.end_us >= e.ts_us)
                throw new IllegalStateException(
                  s"$label arrival-order violation: user $user has an open " +
                    s"session straddling the erase instant ${e.ts_us} " +
                    s"([${open.start_us}, ${open.end_us}]) — post-T events " +
                    "preceded the request row")
              open = null
            }
            out :+= sessionTombstone(user)
          } else {
            touched = true
            if (due >= 0 && (open == null || !open.erased) && e.ts_us >= due) {
              out = Vector(sessionTombstone(user))
              open = OpenSessionE(1, e.ts_us, e.ts_us, erased = true)
            } else {
              val (next, closed) = extend(open, e.ts_us)
              closed.foreach(c => out :+= sessionRow(user, c))
              open = next
            }
          }
        }
        if (open == null) { if (state.exists) state.remove() }
        else if (touched) {
          state.update(open)
          if (due >= 0 && !open.erased) armErase(state, due)
          else if (retire == Retire.Flush)
            state.setTimeoutTimestamp(open.end_us / 1000 + SessGapUs / 1000 + 1)
        } else if (retire == Retire.Flush)
          // A request-only call keeps the session as stored: set its
          // flush timer again, just past the watermark once the gap's
          // end has passed (Spark rejects a timer at or under it).
          state.setTimeoutTimestamp(math.max(open.end_us / 1000 + SessGapUs / 1000 + 1,
            state.getCurrentWatermarkMs() + 1))
        out.iterator
      }
    }
  }

  /** The session log's output columns, in key order. */
  private def sessionLog(rows: DataFrame): DataFrame =
    rows.select(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
      .orderBy(col("user_id"), col("start_us"))

  /** Current session log over an AtInstant-erasing emission log — the
    * deletion-aware consumer's view, the [[currentEra]]'s sessions: an
    * erased user's rows are their flagged (post-T) sessions only;
    * everyone else keeps their full log. Tombstones never surface. */
  private[graft] def sessionsCurrent(raw: DataFrame): DataFrame =
    sessionLog(currentEra(raw).where(col("n_events") > 0))

  /** The consumer's compaction for Control-erased sessions: tombstones
    * drop, and a requested user's sessions survive iff they start
    * at/after that user's OWN instant (the requests relation is
    * batch-bounded — broadcast). The consumer holds the request log
    * anyway (it received the deletions), so the join replaces an
    * in-row flag without any per-user state surviving in the store. */
  private[graft] def sessionsCurrentByRequests(raw: DataFrame,
      requests: DataFrame): DataFrame =
    sessionLog(raw.where(col("n_events") > 0)
      .join(broadcast(requests.select(col("user_id"), col("req_us"))),
        Seq("user_id"), "left")
      .where(col("req_us").isNull || col("start_us") >= col("req_us")))

  /** Per-user 30-minute-gap sessionization: the trailing open session
    * stays in state and is never emitted. Oracle = gap-split sessions
    * minus each user's last. */
  val q67 = Q(
    "q67_stream_sessions",
    "flatMapGroupsWithState 30-min-gap sessions; open tail kept in state",
    (s, dir) => {
      import s.implicits._
      val h = SessionHandler("q67", Retire.Never, Erase.Never)
      sessionLog(runStateful(s, queryRows[SessionEvent](s, dir, EventView.Untyped, h), h))
    },
    Some(s"""WITH x AS (
        SELECT user_id, epoch_us(ts) AS ts_us FROM events),
      b AS (
        SELECT user_id, ts_us,
          CASE WHEN lag(ts_us) OVER w IS NULL
                 OR ts_us - lag(ts_us) OVER w > $SessGapUs THEN 1 ELSE 0 END AS brk
        FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
      sess AS (
        SELECT user_id, ts_us,
          sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                         ROWS UNBOUNDED PRECEDING) AS sid
        FROM b),
      g AS (
        SELECT user_id, sid, count(*) AS n_events,
          min(ts_us) AS start_us, max(ts_us) AS end_us
        FROM sess GROUP BY 1, 2),
      m AS (SELECT user_id, max(sid) AS last_sid FROM g GROUP BY 1)
      SELECT g.user_id AS user_id, n_events, start_us, end_us
      FROM g JOIN m ON g.user_id = m.user_id AND g.sid < m.last_sid
      ORDER BY g.user_id, start_us"""))

  /** q67 with watermark flush: oracle = q67's split plus the strict
    * flush disjunct ([[Retire.Flush]]). The only sessions still in
    * state at termination — the only rows q67 emits that this variant
    * does not — are tails within one gap of the watermark. */
  val q122 = Q(
    "q122_stream_sessions_retire",
    "flatMapGroupsWithState sessions with watermark retirement: provably-closed tails flush from state",
    (s, dir) => {
      import s.implicits._
      val h = SessionHandler("q122", Retire.Flush, Erase.Never)
      sessionLog(runStateful(s, queryRows[SessionEventWm](s, dir, EventView.Untyped, h), h))
    },
    Some(s"""WITH x AS (
        SELECT user_id, epoch_us(ts) AS ts_us FROM events),
      b AS (
        SELECT user_id, ts_us,
          CASE WHEN lag(ts_us) OVER w IS NULL
                 OR ts_us - lag(ts_us) OVER w > $SessGapUs THEN 1 ELSE 0 END AS brk
        FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
      sess AS (
        SELECT user_id, ts_us,
          sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                         ROWS UNBOUNDED PRECEDING) AS sid
        FROM b),
      g AS (
        SELECT user_id, sid, count(*) AS n_events,
          min(ts_us) AS start_us, max(ts_us) AS end_us
        FROM sess GROUP BY 1, 2),
      m AS (SELECT user_id, max(sid) AS last_sid FROM g GROUP BY 1),
      wm AS (SELECT max(ts_us) // 1000 AS w FROM x)
      SELECT g.user_id AS user_id, n_events, start_us, end_us
      FROM g JOIN m ON g.user_id = m.user_id
      WHERE g.sid < m.last_sid
         OR (g.end_us // 1000) + ${SessGapUs / 1000} + 1 < (SELECT w FROM wm)
      ORDER BY g.user_id, start_us"""))

  /** In-stream erasure at [[StreamEraseUs]] for the session store. The
    * oracle runs q122's gap-split and strict flush rule over the
    * erasure-filtered events (the watermark comes from the FULL stream:
    * erased users' pre-T events advanced it too); StreamEraseSpec's
    * session cases pin tombstone, timer and restart. */
  val q129 = Q(
    "q129_stream_sessions_user_erase",
    "session-store user erasure: request at T tombstones the user's sessions, post-T events start fresh",
    (s, dir) => {
      import s.implicits._
      val h = SessionHandler("q129", Retire.Flush, Erase.AtInstant(StreamEraseUs))
      sessionsCurrent(runStateful(s, queryRows[SessionEventWm](s, dir, EventView.Untyped, h), h))
    },
    Some(s"""WITH x AS (
        SELECT user_id, epoch_us(ts) AS ts_us FROM events
        WHERE ${oH60("'erase:' || CAST(user_id AS VARCHAR)")} % 10 <> 0
           OR ts >= TIMESTAMP '2024-01-08 00:00:00'),
      b AS (
        SELECT user_id, ts_us,
          CASE WHEN lag(ts_us) OVER w IS NULL
                 OR ts_us - lag(ts_us) OVER w > $SessGapUs THEN 1 ELSE 0 END AS brk
        FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
      sess AS (
        SELECT user_id, ts_us,
          sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                         ROWS UNBOUNDED PRECEDING) AS sid
        FROM b),
      g AS (
        SELECT user_id, sid, count(*) AS n_events,
          min(ts_us) AS start_us, max(ts_us) AS end_us
        FROM sess GROUP BY 1, 2),
      m AS (SELECT user_id, max(sid) AS last_sid FROM g GROUP BY 1),
      wm AS (SELECT max(epoch_us(ts)) // 1000 AS w FROM events)
      SELECT g.user_id AS user_id, n_events, start_us, end_us
      FROM g JOIN m ON g.user_id = m.user_id
      WHERE g.sid < m.last_sid
         OR (g.end_us // 1000) + ${SessGapUs / 1000} + 1 < (SELECT w FROM wm)
      ORDER BY g.user_id, start_us"""))

  /** The control stream against the session store, sharing q130's
    * request feed (one privacy feed, two stores). Oracle = the
    * gap-split and strict flush rule over the per-user-T filtered
    * relation (watermark from the FULL stream); StreamCtrlEraseSpec's
    * session cases pin wipe, tombstone, guard and compaction. */
  val q134 = Q(
    "q134_session_erase_requests",
    "session-store erasure from the control stream: request row wipes the pre-T open session, consumer compacts by request log",
    (s, dir) => {
      import s.implicits._
      val h = SessionHandler("q134", Retire.Flush, Erase.Control)
      sessionsCurrentByRequests(
        runStateful(s, queryRows[CtrlSessEvent](s, dir, EventView.Untyped, h), h),
        s.read.schema(ReqSchema).parquet(eraseRequestsPath(s, dir)))
    },
    Some(s"""WITH req AS (
        SELECT user_id, ${oPrivacyInstantUs("user_id")} AS t_us
        FROM (SELECT DISTINCT user_id FROM events)
        WHERE ${oPrivacyRequested("user_id")}),
      x AS (
        SELECT e.user_id, epoch_us(e.ts) AS ts_us FROM events e
        LEFT JOIN req r ON e.user_id = r.user_id
        WHERE r.user_id IS NULL OR epoch_us(e.ts) >= r.t_us),
      b AS (
        SELECT user_id, ts_us,
          CASE WHEN lag(ts_us) OVER w IS NULL
                 OR ts_us - lag(ts_us) OVER w > $SessGapUs THEN 1 ELSE 0 END AS brk
        FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
      sess AS (
        SELECT user_id, ts_us,
          sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                         ROWS UNBOUNDED PRECEDING) AS sid
        FROM b),
      g AS (
        SELECT user_id, sid, count(*) AS n_events,
          min(ts_us) AS start_us, max(ts_us) AS end_us
        FROM sess GROUP BY 1, 2),
      m AS (SELECT user_id, max(sid) AS last_sid FROM g GROUP BY 1),
      wm AS (SELECT max(epoch_us(ts)) // 1000 AS w FROM events)
      SELECT g.user_id AS user_id, n_events, start_us, end_us
      FROM g JOIN m ON g.user_id = m.user_id
      WHERE g.sid < m.last_sid
         OR (g.end_us // 1000) + ${SessGapUs / 1000} + 1 < (SELECT w FROM wm)
      ORDER BY g.user_id, start_us"""))

  // ---- Retention family: q128, q132, q139 ----------------------------

  /** Retention state: the cohort day (first activity day, fixed once
    * set), the max day already emitted — which dedups (user, day) pairs
    * across micro-batches without storing the day set — and the erase
    * register: `lastUs` the latest processed event, `reqUs`/`applied`
    * as in [[FunnelStateC]]. Bounded by users regardless of events. */
  final case class RetStateC(cohortDay: Int, maxDay: Int, lastUs: Long,
      reqUs: Long, applied: Boolean)

  /** One row per NEWLY-SEEN (user, day), the unit the cells count, in
    * epoch days (UTC); the tombstone is day -1. */
  final case class RetOutE(user_id: Long, day: Int, cohort_day: Int,
      erased: Boolean)

  private val NoRetention = RetStateC(-1, -1, -1L, -1L, applied = false)

  /** The day step: the first event opens the cohort; a later day emits
    * once. Fed in time order, days reach each user in order, so
    * `day > maxDay` is exactly "first sighting" and the first day IS
    * the cohort. GUARDED like the q119/q120 batch merges: a day BEFORE
    * the cohort day is a detectable arrival-order violation (it would
    * have been the cohort) and raises. The one residual is documented:
    * a late NEW day inside (cohort, maxDay) is indistinguishable from a
    * repeat without the day set the state discards for its size; a
    * deployment needing that runs watermarked (q132), which drops the
    * straggler before the handler. */
  private[graft] def dayStep(st: RetStateC, tsUs: Long, user: Long,
      label: String): RetStateC = {
    val d = (tsUs / 86400000000L).toInt
    if (st.cohortDay < 0) st.copy(cohortDay = d, maxDay = d, lastUs = math.max(st.lastUs, tsUs))
    else if (d < st.cohortDay)
      throw new IllegalStateException(
        s"$label arrival-order violation: day $d for user $user predates " +
          s"the standing cohort day ${st.cohortDay}")
    else st.copy(maxDay = math.max(st.maxDay, d), lastUs = math.max(st.lastUs, tsUs))
  }

  /** The retention state machine. Retirement does NOT compose: the
    * cohort day is load-bearing for the user's lifetime — a retired
    * user who returns would re-cohort at their return day and corrupt
    * two cells — so only [[Retire.Never]] is accepted. Erasure works at
    * EVENT granularity: a day straddling T survives for the erased
    * user iff a post-T event exists on it, as the oracle's `ts >= T`
    * filter says. The tombstone withdraws the days reported by earlier
    * calls (state at entry had an unerased cohort); same-call emissions
    * before the wipe are discarded. Policy rules:
    *   - [[Erase.AtInstant]]: the T timer is set only while the
    *     erasure is due, so no other user pays timer state; a timer
    *     firing after an event already applied the erasure keeps the
    *     state — removing it would forget the era flag and a later
    *     event would re-report unflagged rows past the deletion.
    *   - [[Erase.Control]]: the register persists with the cohort state
    *     (which lives forever anyway), so early requests are exact.
    *     The guard is `lastUs >= T` at the request: a processed post-T
    *     event whose day the wipe would lose. In-batch ties are immune
    *     (the request sorts first), so only cross-batch disorder trips
    *     it. */
  final case class RetentionHandler(label: String, retire: Retire, erase: Erase)
      extends Handler[RetStateC, RetOutE] {
    require(retire == Retire.Never, "retirement does not compose with retention")

    def apply(user: Long, rows: Iterator[StreamRow],
        state: GroupState[RetStateC]): Iterator[RetOutE] = {
      val due = dueUs(user)
      if (state.hasTimedOut) {
        val st = state.get
        if (due >= 0 && !st.applied) {
          state.remove()
          Iterator.single(RetOutE(user, -1, -1, erased = true))
        } else { state.update(st); Iterator.empty }
      } else {
        val entry = state.getOption
        val reported = entry.exists(e => e.cohortDay >= 0 && !e.applied)
        val before = entry.getOrElse(NoRetention)
        var st = before
        var out = Vector.empty[RetOutE]
        def wipe(reqUs: Long): Unit = {
          out = if (reported) Vector(RetOutE(user, -1, -1, erased = true)) else Vector.empty
          st = RetStateC(-1, -1, st.lastUs, reqUs, applied = true)
        }
        inTimeOrder(rows).foreach { e =>
          if (e.kind == 1) {
            if (!st.applied) { // duplicate requests: first wins
              if (st.lastUs >= e.ts_us)
                throw new IllegalStateException(
                  s"$label arrival-order violation: user $user has processed an " +
                    s"event at ${st.lastUs}, at/after the erase instant " +
                    s"${e.ts_us} — post-T events preceded the request row")
              wipe(e.ts_us)
            }
          } else {
            if (due >= 0 && !st.applied && e.ts_us >= due) wipe(due)
            if (!(st.applied && e.ts_us < st.reqUs)) {
              val next = dayStep(st, e.ts_us, user, label)
              if (st.cohortDay < 0 || next.maxDay > st.maxDay)
                out :+= RetOutE(user, next.maxDay, next.cohortDay, next.applied)
              st = next
            }
          }
        }
        if (st != before) state.update(st)
        if (due >= 0 && !st.applied && st.cohortDay >= 0) armErase(state, due)
        out.iterator
      }
    }
  }

  /** The cohort matrix over (user, day, cohort_day) pairs: each pair was
    * emitted exactly once (the max-day dedup), so count(*) equals q114's
    * countDistinct. */
  private def retentionCells(pairs: DataFrame): DataFrame = {
    val cells = pairs.groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
    val sz = cells.where(col("day_offset") === 0)
      .select(col("cohort_day"), col("n_users").as("cohort_size"))
    cells.join(sz, "cohort_day")
      .select(date_from_unix_date(col("cohort_day")).as("cohort_day"),
        col("day_offset").cast("int").as("day_offset"), col("n_users"),
        round(col("n_users").cast("double") / col("cohort_size"), 4).as("retention"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** q128's rollup over an erasing emission log: per user keep the rows
    * of their [[currentEra]] and drop tombstones — each surviving pair
    * was emitted once in its era. */
  private[graft] def retentionCurrent(raw: DataFrame): DataFrame =
    retentionCells(currentEra(raw).where(col("day") >= 0))

  /** q114's stream twin: the per-(user, day) emission log rolls up into
    * the cohort matrix, so the oracle is q114's verbatim and the hash
    * gate re-proves stream == batch cross-engine on every run. */
  val q128 = Q(
    "q128_stream_retention",
    "streaming cohort retention via mapGroups state (first-seen + max-day dedup) == q114 batch matrix",
    (s, dir) => {
      import s.implicits._
      val h = RetentionHandler("q128", Retire.Never, Erase.Never)
      retentionCells(runStateful(s, queryRows[SessionEvent](s, dir, EventView.Untyped, h), h))
    },
    Some("""WITH d AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1),
      cells AS (
        SELECT f.cohort_day, date_diff('day', f.cohort_day, d.day) AS day_offset,
          CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users
        FROM d JOIN f ON d.user_id = f.user_id
        GROUP BY 1, 2),
      sz AS (SELECT cohort_day, n_users AS cohort_size FROM cells WHERE day_offset = 0)
      SELECT c.cohort_day, CAST(c.day_offset AS INTEGER) AS day_offset, c.n_users,
        round(CAST(c.n_users AS DOUBLE) / sz.cohort_size, 4) AS retention
      FROM cells c JOIN sz ON c.cohort_day = sz.cohort_day
      ORDER BY c.cohort_day, c.day_offset"""))

  /** WATERMARKED retention with in-stream erasure at [[StreamEraseUs]]:
    * the answer to q128's residual — a straggler older than the
    * watermark drops before the handler, and the cohort guard backstops
    * disorder inside the lateness bound. Oracle = q114's matrix over
    * the erasure-filtered events; StreamRetentionSpec and
    * StreamRetentionEraseSpec pin the watermark and erase cases. */
  val q132 = Q(
    "q132_stream_retention_erase",
    "watermarked streaming retention with in-stream user erasure: tombstone withdraws pre-T days, post-T re-cohorts",
    (s, dir) => {
      import s.implicits._
      val h = RetentionHandler("q132", Retire.Never, Erase.AtInstant(StreamEraseUs))
      retentionCurrent(runStateful(s, queryRows[SessionEventWm](s, dir, EventView.Untyped, h), h))
    },
    Some(s"""WITH d AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        WHERE ${oH60("'erase:' || CAST(user_id AS VARCHAR)")} % 10 <> 0
           OR ts >= TIMESTAMP '2024-01-08 00:00:00'),
      f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1),
      cells AS (
        SELECT f.cohort_day, date_diff('day', f.cohort_day, d.day) AS day_offset,
          CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users
        FROM d JOIN f ON d.user_id = f.user_id
        GROUP BY 1, 2),
      sz AS (SELECT cohort_day, n_users AS cohort_size FROM cells WHERE day_offset = 0)
      SELECT c.cohort_day, CAST(c.day_offset AS INTEGER) AS day_offset, c.n_users,
        round(CAST(c.n_users AS DOUBLE) / sz.cohort_size, 4) AS retention
      FROM cells c JOIN sz ON c.cohort_day = sz.cohort_day
      ORDER BY c.cohort_day, c.day_offset"""))

  /** The control stream against the retention store, completing
    * control-stream erasure across all three families with one privacy
    * feed. Oracle = q137's verbatim, so the hash gate re-proves stream
    * control-stream erasure == batch cohort move == filtered recompute,
    * three-way cross-engine, on every run. */
  val q139 = Q(
    "q139_retention_erase_requests",
    "retention erasure from the control stream: request row wipes pre-T days (tombstone), later activity re-cohorts",
    (s, dir) => {
      import s.implicits._
      val h = RetentionHandler("q139", Retire.Never, Erase.Control)
      retentionCurrent(runStateful(s, queryRows[CtrlEvent](s, dir, EventView.Activity, h), h))
    },
    // q137's VERBATIM rebuild, via the package object rather than
    // Analytic.q137.oracle: the cross-object reference was half of a
    // circular init dependency with Analytic.q143.
    Some(oRetentionEraseBeforeTSql))

  def all: Seq[Q] = Seq(q65, q66, q67, q68, q86)
}
