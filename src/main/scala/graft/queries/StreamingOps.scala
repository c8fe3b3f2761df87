package graft.queries

import graft.Q
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
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
  */
object StreamingOps {

  final case class SessionEvent(user_id: Long, ts_us: Long)
  final case class OpenSession(n_events: Long, start_us: Long, end_us: Long)
  final case class SessionOut(user_id: Long, n_events: Long, start_us: Long, end_us: Long)

  /** 30-minute session gap, in epoch micros. */
  private val GapUs = 30L * 60 * 1000000

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

  /** Stateful-stream shuffle width: every micro-batch commits one
    * state-store delta file PER partition PER stateful operator (a
    * stream-stream join keeps four stores per partition), so the batch
    * session's CPU-count default multiplies small-file I/O without
    * adding useful parallelism at this state volume. A live deployment
    * sizes the streaming shuffle independently of the batch one. */
  private val StreamPartitions = "8"

  /** Run `f` with the streaming shuffle width plus any per-query
    * streaming confs, restoring the session conf afterwards (all are
    * picked up when the streaming query STARTS). */
  private def withStreamPartitions[A](s: SparkSession,
      confs: Map[String, String] = Map.empty)(f: => A): A = {
    val all = Map("spark.sql.shuffle.partitions" -> StreamPartitions) ++ confs
    val olds = all.keys.map(k => k -> s.conf.getOption(k)).toMap
    all.foreach { case (k, v) => s.conf.set(k, v) }
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
    * reruns whole), so its many small WAL/state fsyncs are pure
    * fixed cost on a disk-backed tmpdir. A live deployment points
    * sink + checkpoint at durable shared storage instead (see the
    * object doc); the recovery tests manage their own durable
    * checkpoint dirs. */
  private def scratch(): (String, String) = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val useShm =
      java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)
    sweepStale(if (useShm) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    val root =
      if (useShm) java.nio.file.Files.createTempDirectory(shm, "graft_stream_")
      else java.nio.file.Files.createTempDirectory("graft_stream_")
    root.toFile.deleteOnExit()
    (s"$root/data", s"$root/chk")
  }

  /** Best-effort removal of stale STREAM scratch roots from PREVIOUS
    * JVMs: File.deleteOnExit cannot remove non-empty directories, so
    * each session would otherwise leak a few MB of tmpfs per streaming
    * query, unbounded across sessions. Scoped to the `graft_stream_`
    * prefix only — localScratch fixture dirs (queries/package.scala)
    * are created once per application and then lazily RE-READ for the
    * session's whole lifetime without their mtime advancing, so an
    * age gate alone would delete a live >2h session's fixtures out
    * from under it (those dirs carry their owner's pid and are swept
    * by localScratch itself on liveness, not age). Still age-gated
    * (≥ 2 h by mtime) so a concurrently-running session's stream
    * scratch is never touched; any I/O error is swallowed — this is
    * hygiene, not correctness. */
  private def sweepStale(base: java.nio.file.Path): Unit =
    try {
      val cutoff = System.currentTimeMillis() - 2L * 3600 * 1000
      val kids = base.toFile.listFiles()
      if (kids != null) kids.iterator
        .filter(f => f.getName.startsWith("graft_stream_") && f.lastModified() < cutoff)
        .foreach(deleteRecursively)
    } catch { case _: Throwable => () }

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(); ()
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

  /** Custom streaming state via `flatMapGroupsWithState`: per-user
    * 30-minute-gap sessionization. Closed sessions are emitted as soon
    * as a later event proves the gap; the trailing open session stays
    * in state (and is never emitted — on a live stream a timeout would
    * flush it). Oracle = gap-split sessions minus each user's last. */
  val q67 = Q(
    "q67_stream_sessions",
    "flatMapGroupsWithState 30-min-gap sessions; open tail kept in state",
    (s, dir) => {
      import s.implicits._
      val events = eventsStream(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
        .as[SessionEvent]
      val sessions = events
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(
          OutputMode.Update(), GroupStateTimeout.NoTimeout)(sessionize)
      runBatchesToParquet(s, sessions, OutputMode.Update(), "append")
        .orderBy(col("user_id"), col("start_us"))
    },
    Some(s"""WITH x AS (
        SELECT user_id, epoch_us(ts) AS ts_us FROM events),
      b AS (
        SELECT user_id, ts_us,
          CASE WHEN lag(ts_us) OVER w IS NULL
                 OR ts_us - lag(ts_us) OVER w > $GapUs THEN 1 ELSE 0 END AS brk
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

  /** Session state transition: merge sorted incoming events into the
    * open session; a gap > 30 min closes it (emit) and opens a new one.
    * The final open session is written back to state. */
  private[graft] def sessionize(user: Long, rows: Iterator[SessionEvent],
      state: GroupState[OpenSession]): Iterator[SessionOut] = {
    val incoming = rows.map(_.ts_us).toArray.sorted
    var open = state.getOption.orNull
    val out = Seq.newBuilder[SessionOut]
    incoming.foreach { ts =>
      open match {
        case null => open = OpenSession(1, ts, ts)
        case o if ts - o.end_us > GapUs =>
          out += SessionOut(user, o.n_events, o.start_us, o.end_us)
          open = OpenSession(1, ts, ts)
        case o =>
          open = OpenSession(o.n_events + 1, o.start_us, math.max(o.end_us, ts))
      }
    }
    if (open != null) state.update(open)
    out.result().iterator
  }

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
      // state width (4 partitions at this state volume) halves the
      // state-store commit count, the fixed cost that dominates a
      // single-batch job. q67's timeout semantics keep their no-data
      // batches — the conf is scoped to this query's start.
      runToParquet(s, joined, Map(
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "4"))
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
    val (ab, p, bands, rowsPerBand) = DedupOps.minhashParams
    val sigd = docs
      .where(h60(concat(lit("ingest:"), col("doc_id"))) % 10 === 0)
      .select(col("doc_id"), split(trim(col("text")), " +").as("tk"))
      .where(size(col("tk")) >= 3)
      .select(col("doc_id"), minhashSigUdf(3, ab, p)(col("tk")).as("sig"))
      .select(col("doc_id"), col("sig.hs").as("hs_a"), col("sig.mins").as("mins"))
    val banded = sigd.select(col("doc_id"), col("hs_a"),
      posexplode(array((0 until bands).map { bnd =>
        concat_ws(",", (0 until rowsPerBand).map(r =>
          element_at(col("mins"), bnd * rowsPerBand + r + 1)): _*)
      }: _*)))
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

  final case class FunnelEvent(user_id: Long, ts_us: Long, event_type: String)
  final case class FunnelState(t1: Long, t2: Long, t3: Long)
  final case class FunnelOut(user_id: Long, reached_step: Int,
      v2c_micros: java.lang.Long, c2p_micros: java.lang.Long)

  /** Funnel state transition (q115): events sorted within the group,
    * then a single in-order walk — t1 = first view, t2 = first click
    * STRICTLY after t1, t3 = first purchase strictly after t2. Under
    * time-ordered arrival (event time advances across micro-batches,
    * which is how the file replay and any watermarked deployment feed
    * it) this incremental walk equals q113's batch conditional-min
    * cascade exactly: t1 can only be discovered in time order, so the
    * pre-view events a batch recompute would exclude have already
    * streamed past, and t2/t3 are first-past-the-mark in both
    * formulations. Same-timestamp ties are order-independent because
    * the after-tests are STRICT (a click at exactly t1 is excluded
    * whichever side of the sort it lands on). Emits only on state
    * change, so the Update-mode output carries one row per
    * reached-step transition and the final row per user is the
    * max-reached one. */
  private[graft] def funnelStep(user: Long, rows: Iterator[FunnelEvent],
      state: GroupState[FunnelState]): Iterator[FunnelOut] = {
    val evs = rows.toArray.sortBy(_.ts_us)
    var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
    val before = st
    evs.foreach { e =>
      if (st.t1 < 0) {
        if (e.event_type == "view") st = st.copy(t1 = e.ts_us)
      } else if (st.t2 < 0) {
        if (e.event_type == "click" && e.ts_us > st.t1) st = st.copy(t2 = e.ts_us)
      } else if (st.t3 < 0) {
        if (e.event_type == "purchase" && e.ts_us > st.t2) st = st.copy(t3 = e.ts_us)
      }
    }
    if (st.t1 < 0) Iterator.empty
    else {
      state.update(st)
      if (st == before) Iterator.empty
      else Iterator.single(FunnelOut(user,
        if (st.t3 >= 0) 3 else if (st.t2 >= 0) 2 else 1,
        if (st.t2 >= 0) java.lang.Long.valueOf(st.t2 - st.t1) else null,
        if (st.t3 >= 0) java.lang.Long.valueOf(st.t3 - st.t2) else null))
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

  /** STREAMING funnel — q113's view→click→purchase analysis as
    * per-user `flatMapGroupsWithState` over the live event stream
    * (the q96/q98 pattern: the batch operator and its streaming twin
    * share one oracle, so the driver's hash gate re-proves
    * stream == batch cross-engine every round). State per user is
    * three longs — bounded by USERS, not events — and a live
    * deployment would add a state timeout to retire completed
    * funnels. StreamFunnelVolBench replays 28.7M events through 8
    * real micro-batches and matches q113's batch relation
    * row-for-row. */
  val q115 = Q(
    "q115_stream_funnel",
    "streaming view->click->purchase funnel via flatMapGroupsWithState (stream == q113 batch)",
    (s, dir) => {
      import s.implicits._
      val events = eventsStream(s, dir)
        .where(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_type"))
        .as[FunnelEvent]
      val out = events.groupByKey(_.user_id)
        .flatMapGroupsWithState(
          OutputMode.Update(), GroupStateTimeout.NoTimeout)(funnelStep)
      funnelFinal(runBatchesToParquet(s, out, OutputMode.Update(), "append"))
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

  /** [[FunnelEvent]]/[[SessionEvent]] with the raw `ts` column kept
    * alongside the micros: the EventTimeTimeout variants must carry
    * the WATERMARKED timestamp column into the typed fMGWS input —
    * projecting it away prunes the EventTimeWatermark node and the
    * analyzer rejects the timeout ("watermark must be specified"). */
  final case class FunnelEventWm(user_id: Long, ts: java.sql.Timestamp,
      ts_us: Long, event_type: String)
  final case class SessionEventWm(user_id: Long, ts: java.sql.Timestamp,
      ts_us: Long)

  // ---- q121/q122: STATE RETIREMENT — the carried production residual
  // (q115/q67 ran GroupStateTimeout.NoTimeout: unbounded user
  // cardinality = unbounded state). Both variants keep the emission
  // semantics of their twins and add an event-time retirement path.

  /** Event-time idle horizon for q121: a funnel state untouched for
    * this long (by the stream's watermark clock) retires. */
  private[graft] val FunnelIdleHorizonUs = 60L * 60 * 1000000

  /** q115's [[funnelStep]] with STATE RETIREMENT: a funnel reaching
    * step 3 emits its final row and leaves the state store immediately
    * (nothing later can change a completed funnel's three mins), and
    * an incomplete funnel idle past [[FunnelIdleHorizonUs]] of EVENT
    * time retires silently — its max-reached row was already emitted
    * at its last transition, so the Update-mode output is unchanged.
    * State is bounded by users ACTIVE within the horizon, not by
    * lifetime users.
    *
    * Documented deviation from q115: a retired user who RETURNS
    * (a view after completion or after the idle horizon) restarts the
    * cascade from scratch, where q115/q113 would ignore pre-existing
    * anchors — the same delete+insert residual every retirement scheme
    * carries. On a single-data-batch replay (the driver's sf capture)
    * no restart can happen: a completed user's later events arrive in
    * the same group call, and the timeout — which CAN fire in
    * AvailableNow's concluding no-data batch — only ever removes
    * state silently. The EMISSION log is therefore q115's exactly and
    * the registered oracle is q115's verbatim; StreamRetireSpec fires
    * the retirement/restart paths observably on crafted multi-batch
    * replays and StreamFunnelVolBench's retiring phase shows state
    * rows DECLINE at 28.7M events. */
  private[graft] def funnelStepRetiring(user: Long, rows: Iterator[FunnelEventWm],
      state: GroupState[FunnelState]): Iterator[FunnelOut] = {
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val evs = rows.toArray.sortBy(_.ts_us)
      var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
      val before = st
      evs.foreach { e =>
        if (st.t1 < 0) {
          if (e.event_type == "view") st = st.copy(t1 = e.ts_us)
        } else if (st.t2 < 0) {
          if (e.event_type == "click" && e.ts_us > st.t1) st = st.copy(t2 = e.ts_us)
        } else if (st.t3 < 0) {
          if (e.event_type == "purchase" && e.ts_us > st.t2) st = st.copy(t3 = e.ts_us)
        }
      }
      if (st.t1 < 0) Iterator.empty
      else {
        if (st.t3 >= 0) state.remove() // complete -> retire now
        else {
          state.update(st)
          state.setTimeoutTimestamp(evs.last.ts_us / 1000 + FunnelIdleHorizonUs / 1000)
        }
        if (st == before) Iterator.empty
        else Iterator.single(FunnelOut(user,
          if (st.t3 >= 0) 3 else if (st.t2 >= 0) 2 else 1,
          if (st.t2 >= 0) java.lang.Long.valueOf(st.t2 - st.t1) else null,
          if (st.t3 >= 0) java.lang.Long.valueOf(st.t3 - st.t2) else null))
      }
    }
  }

  /** The registered instance: q115's dataflow with the retiring state
    * handler and an event-time watermark (delay 0 — the file replay
    * is time-ordered). Single-batch at the sf scales, so the oracle
    * is q115's verbatim; the retirement machinery is exercised where
    * multi-batch replays exist (StreamRetireSpec, the volbench). */
  val q121 = Q(
    "q121_stream_funnel_retire",
    "streaming funnel with state retirement: completed funnels leave state, idle state times out",
    (s, dir) => {
      import s.implicits._
      val events = eventsStream(s, dir)
        .where(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), col("ts"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))
        .withWatermark("ts", "0 seconds")
        .as[FunnelEventWm]
      val out = events.groupByKey(_.user_id)
        .flatMapGroupsWithState(
          OutputMode.Update(), GroupStateTimeout.EventTimeTimeout)(funnelStepRetiring)
      funnelFinal(runBatchesToParquet(s, out, OutputMode.Update(), "append"))
    },
    q115.oracle)

  /** q67's [[sessionize]] with STATE RETIREMENT: the open session
    * FLUSHES when the watermark passes its end by more than the gap —
    * at that point no in-order event can extend it, so emitting it is
    * exactly what the batch gap-split decides — and its state leaves
    * the store. q67's open-tail-in-state-forever residual becomes
    * state bounded by sessions still extendable at the watermark.
    * Emission timing: expired timers process in micro-batches AFTER
    * the watermark advances past them — including the concluding
    * NO-DATA batch AvailableNow runs once the sources drain (observed
    * at sf0.01: 143 session tails flush there), so the finite replay
    * emits q67's successor-closed sessions PLUS every last session
    * whose end sits more than the gap before the final watermark.
    * The registered oracle encodes exactly that disjunction with
    * Spark's ms-precision watermark arithmetic: the timer is set to
    * end_ms + gap_ms + 1 and FlatMapGroupsWithStateExec fires a timer
    * only when timeoutTimestamp < watermark — STRICT, so a tail whose
    * timer lands exactly ON the final watermark ms stays in state
    * (ADVICE r14; StreamRetireSpec pins the exact-boundary case on a
    * crafted ms-aligned replay). The only sessions still in
    * state at termination — and the only rows q67 emits that this
    * variant doesn't — are tails within one gap of the watermark,
    * i.e. the genuinely still-extendable ones. */
  private[graft] def sessionizeFlushing(user: Long, rows: Iterator[SessionEventWm],
      state: GroupState[OpenSession]): Iterator[SessionOut] = {
    if (state.hasTimedOut) {
      val o = state.get
      state.remove()
      Iterator.single(SessionOut(user, o.n_events, o.start_us, o.end_us))
    } else {
      val incoming = rows.map(_.ts_us).toArray.sorted
      var open = state.getOption.orNull
      val out = Seq.newBuilder[SessionOut]
      incoming.foreach { ts =>
        open match {
          case null => open = OpenSession(1, ts, ts)
          case o if ts - o.end_us > GapUs =>
            out += SessionOut(user, o.n_events, o.start_us, o.end_us)
            open = OpenSession(1, ts, ts)
          case o =>
            open = OpenSession(o.n_events + 1, o.start_us, math.max(o.end_us, ts))
        }
      }
      if (open != null) {
        state.update(open)
        state.setTimeoutTimestamp(open.end_us / 1000 + GapUs / 1000 + 1)
      }
      out.result().iterator
    }
  }

  /** The registered instance: q67's dataflow with the flushing
    * handler; oracle = q67's session split with the watermark-flush
    * disjunct (see [[sessionizeFlushing]]'s emission-timing note). */
  val q122 = Q(
    "q122_stream_sessions_retire",
    "flatMapGroupsWithState sessions with watermark retirement: provably-closed tails flush from state",
    (s, dir) => {
      import s.implicits._
      val events = eventsStream(s, dir)
        .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
        .withWatermark("ts", "0 seconds")
        .as[SessionEventWm]
      val sessions = events
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(
          OutputMode.Update(), GroupStateTimeout.EventTimeTimeout)(sessionizeFlushing)
      runBatchesToParquet(s, sessions, OutputMode.Update(), "append")
        .orderBy(col("user_id"), col("start_us"))
    },
    Some(s"""WITH x AS (
        SELECT user_id, epoch_us(ts) AS ts_us FROM events),
      b AS (
        SELECT user_id, ts_us,
          CASE WHEN lag(ts_us) OVER w IS NULL
                 OR ts_us - lag(ts_us) OVER w > $GapUs THEN 1 ELSE 0 END AS brk
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
         OR (g.end_us // 1000) + ${GapUs / 1000} + 1 < (SELECT w FROM wm)
      ORDER BY g.user_id, start_us"""))

  // ---- q127: IN-STREAM user erasure — the streaming half of the
  // q125/q126 story, completing erasure for the last standing-state
  // family (the flatMapGroupsWithState stores). A GDPR-delete in a
  // live stream cannot wait for a batch job: the request lands at an
  // event-time instant T and the user's accumulated state must be
  // forgotten from that point on, while the Update-mode sink learns
  // of the deletion through an explicit TOMBSTONE row (a log-compacted
  // consumer keeps last-per-key, so the tombstone IS the deletion).

  /** Per-user funnel state with the erasure flag: once the T-request
    * has been applied, post-T events rebuild from scratch and further
    * requests are no-ops. */
  final case class FunnelStateE(t1: Long, t2: Long, t3: Long, erased: Boolean)

  /** [[FunnelOut]] plus the erased flag the current-state projection
    * keys on: rows emitted after the user's erasure carry true, the
    * tombstone itself is (reached_step 0, erased true). */
  final case class FunnelOutE(user_id: Long, reached_step: Int,
      v2c_micros: java.lang.Long, c2p_micros: java.lang.Long, erased: Boolean)

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

  /** q121's retiring funnel handler with IN-STREAM ERASURE at
    * event-time `eraseUs` for the users [[streamErased]] names:
    *
    *   - the first post-T event for a pending user applies the
    *     request BEFORE the event is processed (state forgotten,
    *     `erased` set), then the cascade rebuilds from that event on
    *     — so an erased user's report reflects ONLY post-T behavior;
    *   - a pending user with state but no post-T event erases by
    *     EVENT-TIME TIMER at T: the timeout branch removes the state
    *     and emits the tombstone — the deletion does not wait for the
    *     user to return;
    *   - the tombstone (step 0, erased true) is emitted exactly when
    *     previously-REPORTED progress is being forgotten (state
    *     existed at call entry, or the timer found one); an erasure
    *     that only discards same-call accumulation emits none,
    *     because nothing was ever reported;
    *   - non-erased users run q121's handler verbatim (complete →
    *     retire now, idle → horizon timeout, silent).
    *
    * SAFETY of forgetting the flag when the rebuilt state is empty:
    * with a 0-delay watermark, by the time an erasure has applied the
    * watermark has passed T (the trigger was a ≥T event or the T
    * timer), so every future event is post-T and a fresh state
    * processes it identically — the flag only needs to live as long
    * as the state row. Restart deviation is q121's, inherited and
    * documented there — BOTH its mechanisms: idle timeout AND
    * complete-retire-now (a returning completer restarts, q121's
    * funnelFinal masks it by taking max-reached). `idleHorizonUs` and
    * `retireOnComplete` are parameters so the volume run can prove
    * the clean identity with retirement off — state removed by
    * ERASURE ALONE, the stream equals the erasure-filtered batch
    * recompute EXACTLY (steps and latencies, all 240k users at 28.7M
    * events) — and separately census the production configuration's
    * known deviation class (StreamEraseVolBench, both phases). */
  private[graft] def funnelStepErasing(eraseUs: Long,
      idleHorizonUs: Long = FunnelIdleHorizonUs,
      retireOnComplete: Boolean = true)(
      user: Long, rows: Iterator[FunnelEventWm],
      state: GroupState[FunnelStateE]): Iterator[FunnelOutE] = {
    val pending = streamErased(user)
    if (state.hasTimedOut) {
      val st = state.get
      state.remove()
      if (pending && !st.erased && st.t1 >= 0)
        Iterator.single(FunnelOutE(user, 0, null, null, erased = true))
      else Iterator.empty // idle/already-erased retirement, silent (q121)
    } else {
      val evs = rows.toArray.sortBy(_.ts_us)
      var st = state.getOption.getOrElse(FunnelStateE(-1L, -1L, -1L, erased = false))
      val before = st
      var tomb = false
      evs.foreach { e =>
        if (pending && !st.erased && e.ts_us >= eraseUs) {
          if (before.t1 >= 0) tomb = true
          st = FunnelStateE(-1L, -1L, -1L, erased = true)
        }
        if (st.t1 < 0) {
          if (e.event_type == "view") st = st.copy(t1 = e.ts_us)
        } else if (st.t2 < 0) {
          if (e.event_type == "click" && e.ts_us > st.t1) st = st.copy(t2 = e.ts_us)
        } else if (st.t3 < 0) {
          if (e.event_type == "purchase" && e.ts_us > st.t2) st = st.copy(t3 = e.ts_us)
        }
      }
      val out = Seq.newBuilder[FunnelOutE]
      if (tomb) out += FunnelOutE(user, 0, null, null, erased = true)
      if (st.t1 < 0) {
        // No reportable progress: drop any state (see the flag-safety
        // note) — covers the erased-with-no-rebuild case.
        if (state.exists) state.remove()
      } else {
        // Complete -> retire now (q121) — UNLESS the erasure is still
        // pending: a pre-T-completed funnel must stay addressable so
        // the T timer can forget it (silent retire would leak the
        // pre-T report past the user's deletion).
        if (st.t3 >= 0 && retireOnComplete && !(pending && !st.erased))
          state.remove()
        else {
          state.update(st)
          val wmMs = state.getCurrentWatermarkMs()
          state.setTimeoutTimestamp(
            if (pending && !st.erased) math.max(eraseUs / 1000, wmMs + 1)
            else evs.last.ts_us / 1000 + idleHorizonUs / 1000)
        }
        if (st != before) out += FunnelOutE(user,
          if (st.t3 >= 0) 3 else if (st.t2 >= 0) 2 else 1,
          if (st.t2 >= 0) java.lang.Long.valueOf(st.t2 - st.t1) else null,
          if (st.t3 >= 0) java.lang.Long.valueOf(st.t3 - st.t2) else null,
          erased = st.erased)
      }
      out.result().iterator
    }
  }

  /** CURRENT-state projection over the q127 emission log — the
    * log-compaction rule a deletion-aware consumer applies, order-free
    * because the flag disambiguates eras: if any row for a user
    * carries erased=true, the erasure happened and only flagged
    * progress rows (the post-T restart, whose reached_step grows
    * monotonically like q115's) are current — none means the user is
    * fully forgotten; otherwise q115's max-reached rule applies. */
  private[graft] def funnelCurrent(raw: DataFrame): DataFrame = {
    val he = raw.groupBy(col("user_id"))
      .agg(max(col("erased").cast("int")).as("he"))
    // Deterministic tiebreak (r15 ADVICE): two same-era rows can share
    // the max reached_step only after a retire-on-complete restart
    // across micro-batches (the inherited q121 deviation); ordering
    // the latencies makes which row survives stable across runs.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("reached_step").desc,
        col("v2c_micros").asc_nulls_last, col("c2p_micros").asc_nulls_last)
    raw.join(he, "user_id")
      .where(col("erased").cast("int") === col("he") && col("reached_step") > 0)
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("user_id"), col("reached_step"),
        col("v2c_micros"), col("c2p_micros"))
      .orderBy(col("user_id"))
  }

  /** The erase-request instant for the registered q127 instance —
    * the q119/q120 cutoff date, mid-corpus for every sf window. */
  private[graft] val StreamEraseUs: Long =
    java.time.Instant.parse("2024-01-08T00:00:00Z").toEpochMilli * 1000

  /** The registered instance: the q121 dataflow through the erasing
    * handler. The oracle recomputes the funnel over
    * `events WHERE NOT erased OR ts >= T` — an erased user's current
    * report is exactly the cascade over their post-T events (absent
    * when no post-T view exists), a surviving user's is q113's —
    * so the driver's hash gate re-proves forget-then-restart ==
    * filtered recompute cross-engine every round. StreamEraseSpec
    * pins the tombstone/timer-erase/restart branches on multi-batch
    * replays where they are observable. */
  val q127 = Q(
    "q127_stream_funnel_user_erase",
    "streaming funnel with in-stream user erasure: request at T forgets state (tombstone), post-T events restart",
    (s, dir) => {
      import s.implicits._
      val events = eventsStream(s, dir)
        .where(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), col("ts"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))
        .withWatermark("ts", "0 seconds")
        .as[FunnelEventWm]
      val out = events.groupByKey(_.user_id)
        .flatMapGroupsWithState(
          OutputMode.Update(), GroupStateTimeout.EventTimeTimeout)(
          funnelStepErasing(StreamEraseUs))
      funnelCurrent(runBatchesToParquet(s, out, OutputMode.Update(), "append"))
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

  // ---- q128: STREAMING retention — q114's stream twin, completing
  // the behavioral matrix's last cell (batch q114, incremental q120,
  // erasure q125, and now the live half): cohorts and cells
  // maintained from the event stream itself.

  /** Per-user retention state: the cohort day (first activity day,
    * fixed once set) and the max day already emitted — two ints, so
    * state is bounded by USERS regardless of event volume, and the
    * max-day watermark dedups (user, day) pairs across micro-batches
    * without storing the day set. Exact under time-ordered arrival
    * (the funnelStep contract): days reach each user in order, so
    * `day > maxDay` is exactly "first sighting of this day" and the
    * first day IS the cohort. */
  final case class RetState(cohortDay: Int, maxDay: Int)

  /** One row per NEWLY-SEEN (user, day): the unit the retention cells
    * count. Days are epoch days (UTC), converted back to dates in the
    * batch rollup. */
  final case class RetOut(user_id: Long, day: Int, cohort_day: Int)

  /** GUARDED like the q119/q120 batch merges (silent wrong-answer
    * modes must not exist): q128 runs without a watermark, so a
    * straggler can reach the handler — a day BEFORE the cohort day is
    * a detectable arrival-order violation (it would have been the
    * cohort) and fails loudly. The one residual is documented, not
    * silent-by-accident: a late NEW day inside (cohort, maxDay) is
    * indistinguishable from a benign repeat without storing the day
    * set — exactly the information the two-int state discards for
    * its user-bounded size (the q101 tombstone trade-off, retention
    * edition); a deployment needing that detection runs the
    * WATERMARKED variant — registered as [[q132]] — which drops the
    * straggler before the handler instead. */
  private[graft] def retentionStep(user: Long, rows: Iterator[SessionEvent],
      state: GroupState[RetState]): Iterator[RetOut] = {
    val days = rows.map(e => (e.ts_us / 86400000000L).toInt)
      .toArray.distinct.sorted
    var st = state.getOption.orNull
    val out = Seq.newBuilder[RetOut]
    days.foreach { d =>
      if (st == null) { st = RetState(d, d); out += RetOut(user, d, d) }
      else if (d < st.cohortDay)
        throw new IllegalStateException(
          s"q128 arrival-order violation: day $d for user $user predates " +
            s"the standing cohort day ${st.cohortDay}")
      else if (d > st.maxDay) {
        st = RetState(st.cohortDay, d)
        out += RetOut(user, d, st.cohortDay)
      }
    }
    if (st != null) state.update(st)
    out.result().iterator
  }

  /** The registered instance: the per-(user, day) emission log rolls
    * up batch-side into the cohort matrix — each pair is emitted
    * exactly once (the max-day dedup), so count(*) over emissions
    * equals q114's countDistinct and the oracle is q114's verbatim
    * recompute, re-proving stream == batch cross-engine every round.
    * State here is NoTimeout (two ints per user, the q115 stance) —
    * and that is not a gap to close with q121's retirement device:
    * retirement does NOT compose with retention, because the cohort
    * day is load-bearing for the user's whole lifetime (a retired
    * user who returns would re-cohort at their return day, corrupting
    * both their old cohort's cell and a fresh one). What DOES compose
    * is the watermark (straggler-drop answers the residual below) and
    * q127-style erasure — both REGISTERED as [[q132]]. */
  val q128 = Q(
    "q128_stream_retention",
    "streaming cohort retention via mapGroups state (first-seen + max-day dedup) == q114 batch matrix",
    (s, dir) => {
      import s.implicits._
      val events = eventsStream(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
        .as[SessionEvent]
      val out = events.groupByKey(_.user_id)
        .flatMapGroupsWithState(
          OutputMode.Update(), GroupStateTimeout.NoTimeout)(retentionStep)
      val raw = runBatchesToParquet(s, out, OutputMode.Update(), "append")
      val cells = raw.groupBy(col("cohort_day"),
          (col("day") - col("cohort_day")).as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
      val sz = cells.where(col("day_offset") === 0)
        .select(col("cohort_day"), col("n_users").as("cohort_size"))
      cells.join(sz, "cohort_day")
        .select(date_from_unix_date(col("cohort_day")).as("cohort_day"),
          col("day_offset").cast("int").as("day_offset"), col("n_users"),
          round(col("n_users").cast("double") / col("cohort_size"), 4).as("retention"))
        .orderBy(col("cohort_day"), col("day_offset"))
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

  // ---- q129: IN-STREAM user erasure for the SESSION store — q127's
  // pattern applied to the other stream-state family, so BOTH
  // flatMapGroupsWithState stores have their erase half.

  /** [[OpenSession]] with the erasure flag. */
  final case class OpenSessionE(n_events: Long, start_us: Long, end_us: Long,
      erased: Boolean)

  /** [[SessionOut]] plus the erased flag; the tombstone is
    * (n_events 0, erased true). */
  final case class SessionOutE(user_id: Long, n_events: Long,
      start_us: Long, end_us: Long, erased: Boolean)

  /** [[sessionizeFlushing]] with IN-STREAM ERASURE at event-time
    * `eraseUs` for the [[streamErased]] users:
    *
    *   - the first post-T event applies the request BEFORE being
    *     processed: the open session (and any same-call pre-T closed
    *     sessions, not yet visible to anyone) is forgotten, the
    *     tombstone is emitted, and a fresh session opens at that
    *     event — an erased user's session log reflects ONLY post-T
    *     behavior;
    *   - a pending user who never returns erases by event-time timer
    *     at T (tombstone + state removal) — the deletion does not
    *     wait for them, and their open tail is never flush-emitted
    *     (a pending user's timer slot holds the T timer, not the
    *     flush timer; their pre-T closed sessions already emitted in
    *     earlier batches are exactly what the tombstone withdraws);
    *   - after the erasure the user is a plain q122 citizen again:
    *     post-T sessions close by successor or flush by watermark
    *     timer, rows carrying the erased flag so the current-view
    *     projection can separate eras order-free.
    *
    * The tombstone is UNCONDITIONAL on erasure application (closed
    * sessions left state when they were emitted, so the handler
    * cannot know whether prior reports exist — a tombstone for a
    * never-reported user is harmless, the q125 ghost-user argument). */
  private[graft] def sessionizeErasing(eraseUs: Long)(
      user: Long, rows: Iterator[SessionEventWm],
      state: GroupState[OpenSessionE]): Iterator[SessionOutE] = {
    val pending = streamErased(user)
    if (state.hasTimedOut) {
      val o = state.get
      state.remove()
      if (pending && !o.erased)
        Iterator.single(SessionOutE(user, 0, 0, 0, erased = true)) // T-timer erase
      else
        Iterator.single(SessionOutE(user, o.n_events, o.start_us, o.end_us,
          o.erased)) // watermark flush (q122)
    } else {
      val incoming = rows.map(_.ts_us).toArray.sorted
      var open = state.getOption.orNull
      var out = Vector.empty[SessionOutE]
      incoming.foreach { ts =>
        if (pending && (open == null || !open.erased) && ts >= eraseUs) {
          // Apply the request: forget the open session AND the
          // same-call pre-T closures (never visible), signal the
          // deletion, open the fresh post-T session at this event.
          out = Vector(SessionOutE(user, 0, 0, 0, erased = true))
          open = OpenSessionE(1, ts, ts, erased = true)
        } else open match {
          case null => open = OpenSessionE(1, ts, ts, erased = false)
          case o if ts - o.end_us > GapUs =>
            out = out :+ SessionOutE(user, o.n_events, o.start_us, o.end_us, o.erased)
            open = OpenSessionE(1, ts, ts, o.erased)
          case o =>
            open = OpenSessionE(o.n_events + 1, o.start_us,
              math.max(o.end_us, ts), o.erased)
        }
      }
      if (open != null) {
        state.update(open)
        val wmMs = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(
          if (pending && !open.erased) math.max(eraseUs / 1000, wmMs + 1)
          else open.end_us / 1000 + GapUs / 1000 + 1)
      }
      out.iterator
    }
  }

  /** Current session log over the q129 emission log — the deletion-
    * aware consumer's view, order-free via the flag: an erased user's
    * rows are their flagged (post-T) sessions only; everyone else
    * keeps their full log. Tombstones (n_events 0) never surface. */
  private[graft] def sessionsCurrent(raw: DataFrame): DataFrame = {
    val he = raw.groupBy(col("user_id"))
      .agg(max(col("erased").cast("int")).as("he"))
    raw.join(he, "user_id")
      .where(col("erased").cast("int") === col("he") && col("n_events") > 0)
      .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
      .orderBy(col("user_id"), col("start_us"))
  }

  /** The registered instance: q122's dataflow through the erasing
    * handler, erase request at [[StreamEraseUs]]. The oracle runs
    * q122's gap-split + strict watermark-flush disjunct over the
    * erasure-filtered event relation (the watermark itself comes from
    * the FULL stream — erased users' pre-T events advanced it too),
    * so the driver re-proves forget-then-restart == filtered
    * recompute for the session store every round. StreamEraseSpec's
    * session cases pin tombstone/timer/restart on multi-batch
    * replays. */
  val q129 = Q(
    "q129_stream_sessions_user_erase",
    "session-store user erasure: request at T tombstones the user's sessions, post-T events start fresh",
    (s, dir) => {
      import s.implicits._
      val events = eventsStream(s, dir)
        .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
        .withWatermark("ts", "0 seconds")
        .as[SessionEventWm]
      val out = events.groupByKey(_.user_id)
        .flatMapGroupsWithState(
          OutputMode.Update(), GroupStateTimeout.EventTimeTimeout)(
          sessionizeErasing(StreamEraseUs))
      sessionsCurrent(runBatchesToParquet(s, out, OutputMode.Update(), "append"))
    },
    Some(s"""WITH x AS (
        SELECT user_id, epoch_us(ts) AS ts_us FROM events
        WHERE ${oH60("'erase:' || CAST(user_id AS VARCHAR)")} % 10 <> 0
           OR ts >= TIMESTAMP '2024-01-08 00:00:00'),
      b AS (
        SELECT user_id, ts_us,
          CASE WHEN lag(ts_us) OVER w IS NULL
                 OR ts_us - lag(ts_us) OVER w > $GapUs THEN 1 ELSE 0 END AS brk
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
         OR (g.end_us // 1000) + ${GapUs / 1000} + 1 < (SELECT w FROM wm)
      ORDER BY g.user_id, start_us"""))

  // ---- q130: erase requests as a CONTROL STREAM — the production
  // generalization of q127/q129 (r15 VERDICT task 1). There the erased
  // set and the single instant T were baked into the handler at
  // compile time ([[streamErased]]/[[StreamEraseUs]]); in a deployment
  // GDPR requests arrive as DATA: a second stream of
  // (user_id, request_ts) rows that unions — typed, tagged — into the
  // event stream, and the handler stores each user's erase instant in
  // STATE. The operator surface this exercises is new: a heterogeneous
  // typed union feeding one flatMapGroupsWithState store whose
  // transition function dispatches on the row kind.

  /** One row of the unioned control+event stream: kind 0 = behavioral
    * event (`event_type` view/click/purchase), kind 1 = erase request
    * (`ts_us` IS the erase instant; `event_type` is a tag). */
  final case class CtrlEvent(user_id: Long, ts_us: Long, event_type: String,
      kind: Int)

  /** Funnel state carrying the per-user erase instant learned from the
    * control stream: `reqUs` = the stored request instant (-1 until a
    * request arrives), `applied` = the request has been applied (state
    * before it forgotten; later duplicates are no-ops). */
  final case class FunnelStateC(t1: Long, t2: Long, t3: Long,
      reqUs: Long, applied: Boolean)

  /** q115's funnel cascade driven by the UNIONED stream, with the
    * erase instant held in state instead of closed over:
    *
    *   - a kind-1 row stores the user's erase instant and applies it:
    *     standing pre-T progress is forgotten (tombstone emitted iff
    *     that progress had been reported), and the cascade restarts
    *     from the next qualifying row;
    *   - ties at exactly T process the request FIRST (the sort's
    *     kind-desc tiebreak), so an event at ts == T lands in the
    *     post-T era — matching the oracle's `ts >= T` filter;
    *   - once the request is known, a pre-T STRAGGLER event is skipped
    *     outright (it is erased by definition), which also makes the
    *     handler exact when the request file is replayed EARLY (all
    *     requests in batch 0): pre-T events that arrive after the
    *     request was stored are simply never accumulated;
    *   - a request arriving LATE over state that is entirely post-T
    *     (t1 >= T) is exact too: nothing pre-T was ever recorded, so
    *     the state is kept, marked applied, and re-emitted FLAGGED so
    *     the era projection ([[funnelCurrent]]) keeps it — no
    *     tombstone, because no pre-T report exists to withdraw;
    *   - the one irrecoverable arrival shape — state MIXING eras
    *     (t1 < T but a later anchor >= T), possible only when post-T
    *     events outran the request across batches — raises in-handler
    *     (the q119/q120 stance: the rows that would silently change
    *     the answer must fail loudly, benign shapes must pass).
    *
    * No timers and no watermark: the erasure needs neither, because
    * the request itself reaches the handler as a data row — the
    * never-returning user q127 had to erase by event-time timer is
    * erased HERE the moment their request row is processed. State is
    * NoTimeout/user-bounded like q115; the retirement composition is
    * REGISTERED as [[q138]], whose design keeps the erase register
    * retirement-proof (idle timers arm only for unapplied state), so
    * erased users stay exact and only non-erased users carry q121's
    * documented restart deviation. */
  private[graft] def funnelStepCtrl(user: Long, rows: Iterator[CtrlEvent],
      state: GroupState[FunnelStateC]): Iterator[FunnelOutE] = {
    // Requests sort BEFORE events at the same instant (kind desc).
    val evs = rows.toArray.sortBy(e => (e.ts_us, -e.kind))
    var st = state.getOption.getOrElse(
      FunnelStateC(-1L, -1L, -1L, -1L, applied = false))
    val before = st
    var tomb = false
    evs.foreach { e =>
      if (e.kind == 1) {
        if (!st.applied) {
          if (st.t1 >= e.ts_us) {
            // Entirely post-T state: keep it, mark applied. The
            // emission below re-reports it flagged (st != before).
            st = st.copy(reqUs = e.ts_us, applied = true)
          } else if (math.max(st.t2, st.t3) >= e.ts_us) {
            throw new IllegalStateException(
              s"q130 arrival-order violation: user $user has funnel anchors " +
                s"straddling the erase instant ${e.ts_us} " +
                s"(t1=${st.t1}, t2=${st.t2}, t3=${st.t3}) — post-T events " +
                "reached the store before the request row")
          } else {
            if (st.t1 >= 0) tomb = true // reported pre-T progress withdrawn
            st = FunnelStateC(-1L, -1L, -1L, e.ts_us, applied = true)
          }
        } // duplicate requests: first-wins (the fixture is one per user)
      } else if (st.applied && e.ts_us < st.reqUs) {
        () // pre-T straggler after the request is known: erased by definition
      } else {
        if (st.t1 < 0) {
          if (e.event_type == "view") st = st.copy(t1 = e.ts_us)
        } else if (st.t2 < 0) {
          if (e.event_type == "click" && e.ts_us > st.t1) st = st.copy(t2 = e.ts_us)
        } else if (st.t3 < 0) {
          if (e.event_type == "purchase" && e.ts_us > st.t2) st = st.copy(t3 = e.ts_us)
        }
      }
    }
    val out = Seq.newBuilder[FunnelOutE]
    if (tomb) out += FunnelOutE(user, 0, null, null, erased = true)
    if (st != before) {
      state.update(st)
      if (st.t1 >= 0) out += FunnelOutE(user,
        if (st.t3 >= 0) 3 else if (st.t2 >= 0) 2 else 1,
        if (st.t2 >= 0) java.lang.Long.valueOf(st.t2 - st.t1) else null,
        if (st.t3 >= 0) java.lang.Long.valueOf(st.t3 - st.t2) else null,
        erased = st.applied)
    }
    out.result().iterator
  }

  /** The registered q130 request population/instants: the q127 erased
    * cohort ([[streamErased]], ~10 % of users), each with their OWN
    * request instant spread over [base, base + rangeDays) by a second
    * hash — so requests land before, inside, and after each user's
    * activity window. Cross-engine deterministic (h60 on both sides). */
  private[graft] val Q130BaseUs: Long = PrivacyBaseUs
  private[graft] val Q130RangeDays: Int = PrivacyRangeDays

  /** Build (once per session+dir) the erase-request fixture the
    * control stream replays: one (user_id, req_us) row per erased
    * user present in the events table. A deployment receives this
    * relation from its privacy system; the fixture DERIVES it
    * deterministically so the DuckDB oracle can recompute it inline.
    * The distinct-users scan is a one-time fixture cost, not part of
    * the operator. */
  private[graft] def eraseRequestsPath(s: SparkSession, dir: String,
      baseUs: Long = Q130BaseUs, rangeDays: Int = Q130RangeDays): String = {
    val path = localScratch(s, "q130req", dir)
    if (!new java.io.File(path, "_SUCCESS").exists()) {
      t(s, dir, "events")
        .where(h60(concat(lit("erase:"), col("user_id"))) % 10 === 0)
        .select(col("user_id")).distinct()
        .select(col("user_id"),
          (lit(baseUs) + (h60(concat(lit("reqday:"), col("user_id"))) % rangeDays)
            * lit(86400000000L)).as("req_us"))
        .coalesce(1).write.mode("overwrite").parquet(path)
    }
    path
  }

  private val ReqSchema = new org.apache.spark.sql.types.StructType()
    .add("user_id", LongType).add("req_us", LongType)

  /** The unioned control+event stream feeding [[funnelStepCtrl]] —
    * factored so the volume bench replays the identical relation
    * through real micro-batches from its own fixture paths. */
  private[graft] def ctrlUnion(s: SparkSession, events: DataFrame,
      requests: DataFrame): Dataset[CtrlEvent] = {
    import s.implicits._
    events
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), lit(0).as("kind"))
      .unionByName(requests.select(col("user_id"), col("req_us").as("ts_us"),
        lit("erase_request").as("event_type"), lit(1).as("kind")))
      .as[CtrlEvent]
  }

  /** The registered instance: events union the request stream, the
    * handler learns each user's T from their request row, and the
    * current-view projection is q127's [[funnelCurrent]] verbatim.
    * The oracle recomputes each user's T inline and filters the
    * cascade by it — the per-user-T generalization of q127's oracle —
    * so the driver's hash gate re-proves control-stream erasure ==
    * per-user filtered recompute cross-engine every round.
    * StreamCtrlEraseSpec pins the before/between/after arrival shapes
    * (request before the user's events, between them across
    * micro-batches, after them over pure post-T state) and the
    * mixed-era guard. */
  val q130 = Q(
    "q130_funnel_erase_requests",
    "funnel erasure from a control stream: (user, request_ts) rows union into the event stream, per-user T held in state",
    (s, dir) => {
      import s.implicits._
      val reqPath = eraseRequestsPath(s, dir)
      val requests = s.readStream.schema(ReqSchema).parquet(reqPath)
      val unioned = ctrlUnion(s, eventsStream(s, dir), requests)
      val out = unioned.groupByKey(_.user_id)
        .flatMapGroupsWithState(
          OutputMode.Update(), GroupStateTimeout.NoTimeout)(funnelStepCtrl _)
      funnelCurrent(runBatchesToParquet(s, out, OutputMode.Update(), "append"))
    },
    // The per-user-T filtered rebuild, hoisted to the package object
    // (r17 ADVICE: q143/q139 cross-object references were a circular
    // init dependency).
    Some(oFunnelEraseBeforeTSql))

  /** [[CtrlEvent]] with the raw `ts` kept for the watermark (the
    * [[FunnelEventWm]] device, control-stream edition). */
  final case class CtrlEventWm(user_id: Long, ts: java.sql.Timestamp,
      ts_us: Long, event_type: String, kind: Int)

  // ---- q138: q130 WITH STATE RETIREMENT — the registered witness
  // for q130's composition claim (the r15 q128 lesson: a scaladoc
  // "composes" without a registered twin is a gap). The design point:
  // the ERASE REGISTER IS RETIREMENT-PROOF. Idle timers arm only for
  // UNAPPLIED state; once a user's erasure has applied, their state
  // row (the register + any post-T progress) never times out — a
  // privacy register is exactly the thing a deployment keeps, and it
  // is bounded by the REQUEST log, not by lifetime users. So state =
  // users active inside the horizon + the erased registers, q121's
  // boundedness with q130's erasure exactness intact: erased users
  // are EXACT unconditionally (their state never retires), and
  // non-erased users carry exactly q121's documented restart
  // deviation — nothing new, nothing silent.

  /** q130's [[funnelStepCtrl]] with idle retirement for UNAPPLIED
    * state: a state untouched by events for `idleHorizonUs` of event
    * time retires silently (its max-reached row was already emitted —
    * q121's argument); a stale timer firing on an applied-erasure
    * state re-updates it untouched (the register must survive, and
    * with it any post-T funnel progress). Timers are armed from the
    * last EVENT's time — a request-only call arms nothing and
    * disturbs nothing. */
  private[graft] def funnelStepCtrlRetiring(
      idleHorizonUs: Long = FunnelIdleHorizonUs)(
      user: Long, rows: Iterator[CtrlEventWm],
      state: GroupState[FunnelStateC]): Iterator[FunnelOutE] = {
    if (state.hasTimedOut) {
      val st = state.get
      if (st.applied) { state.update(st); Iterator.empty } // register survives
      else { state.remove(); Iterator.empty } // q121 idle retirement, silent
    } else {
      val evs = rows.toArray.sortBy(e => (e.ts_us, -e.kind))
      var st = state.getOption.getOrElse(
        FunnelStateC(-1L, -1L, -1L, -1L, applied = false))
      val before = st
      var tomb = false
      evs.foreach { e =>
        if (e.kind == 1) {
          if (!st.applied) {
            if (st.t1 >= e.ts_us) {
              st = st.copy(reqUs = e.ts_us, applied = true)
            } else if (math.max(st.t2, st.t3) >= e.ts_us) {
              throw new IllegalStateException(
                s"q138 arrival-order violation: user $user has funnel anchors " +
                  s"straddling the erase instant ${e.ts_us} " +
                  s"(t1=${st.t1}, t2=${st.t2}, t3=${st.t3})")
            } else {
              // Tombstone UNCONDITIONALLY (r16 ADVICE, high): with
              // retirement in play, absent state does NOT mean no
              // prior report — the user's pre-T progress may have
              // idle-retired before the request arrived (request
              // lagging last activity by more than the horizon, the
              // common multi-batch shape). q129's own argument: after
              // retirement the handler cannot know whether prior
              // reports exist, and a spurious tombstone is harmless —
              // step-0 rows are filtered by [[funnelCurrent]] and
              // post-T emissions already carry erased=true.
              tomb = true
              st = FunnelStateC(-1L, -1L, -1L, e.ts_us, applied = true)
            }
          }
        } else if (st.applied && e.ts_us < st.reqUs) {
          () // pre-T straggler: the PERSISTENT register still knows
        } else {
          if (st.t1 < 0) {
            if (e.event_type == "view") st = st.copy(t1 = e.ts_us)
          } else if (st.t2 < 0) {
            if (e.event_type == "click" && e.ts_us > st.t1) st = st.copy(t2 = e.ts_us)
          } else if (st.t3 < 0) {
            if (e.event_type == "purchase" && e.ts_us > st.t2) st = st.copy(t3 = e.ts_us)
          }
        }
      }
      val out = Seq.newBuilder[FunnelOutE]
      if (tomb) out += FunnelOutE(user, 0, null, null, erased = true)
      if (st != before) {
        state.update(st)
        if (st.t1 >= 0) out += FunnelOutE(user,
          if (st.t3 >= 0) 3 else if (st.t2 >= 0) 2 else 1,
          if (st.t2 >= 0) java.lang.Long.valueOf(st.t2 - st.t1) else null,
          if (st.t3 >= 0) java.lang.Long.valueOf(st.t3 - st.t2) else null,
          erased = st.applied)
      }
      // Arm the idle timer only when a state row actually exists
      // (t1 set => created now or in a prior batch): Spark rejects a
      // timeout on an undefined state, and a no-progress group has
      // nothing to retire anyway.
      if (!st.applied && st.t1 >= 0) {
        val lastEv = evs.reverseIterator.find(_.kind == 0)
        lastEv.foreach(e => state.setTimeoutTimestamp(
          e.ts_us / 1000 + idleHorizonUs / 1000))
      }
      out.result().iterator
    }
  }

  /** [[ctrlUnion]] with the event branch watermarked (the q134
    * lesson applied back: requests must neither advance nor be
    * dropped by the watermark the timers run on). */
  private[graft] def ctrlUnionWm(s: SparkSession, events: DataFrame,
      requests: DataFrame): Dataset[CtrlEventWm] = {
    import s.implicits._
    events
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), lit(0).as("kind"))
      .withWatermark("ts", "0 seconds")
      .unionByName(requests.select(col("user_id"),
        timestamp_micros(col("req_us")).as("ts"), col("req_us").as("ts_us"),
        lit("erase_request").as("event_type"), lit(1).as("kind")))
      .as[CtrlEventWm]
  }

  /** The registered instance: q130's dataflow through the retiring
    * handler (EventTimeTimeout + 0-delay watermark on the event
    * branch). On the single-data-batch sf replay no restart can
    * happen and timers only ever remove state silently, so the
    * oracle is q130's VERBATIM — the same device q121 uses against
    * q115's oracle. The retirement/register branches are exercised
    * where multi-batch replays exist (StreamCtrlEraseSpec's retiring
    * cases; the volume RETIRE phase censuses q121's deviation class
    * for non-erased users and proves the erased cohort stays EXACT,
    * because applied registers never time out). */
  val q138 = Q(
    "q138_funnel_erase_requests_retire",
    "control-stream funnel erasure with state retirement: idle unerased state retires, erase registers persist",
    (s, dir) => {
      import s.implicits._
      val reqPath = eraseRequestsPath(s, dir)
      val requests = s.readStream.schema(ReqSchema).parquet(reqPath)
      val unioned = ctrlUnionWm(s, eventsStream(s, dir), requests)
      val out = unioned.groupByKey(_.user_id)
        .flatMapGroupsWithState(
          OutputMode.Update(), GroupStateTimeout.EventTimeTimeout)(
          funnelStepCtrlRetiring())
      funnelCurrent(runBatchesToParquet(s, out, OutputMode.Update(), "append"))
    },
    q130.oracle)

  // ---- q134: the control stream against the SESSION store — q129's
  // generalization, sharing q130's request fixture (ONE privacy feed,
  // two stores, which is how a deployment wires it). Unlike the
  // funnel, the session state needs NO era flag and NO stored erase
  // instant: session state is transient (flush removes it), so the
  // handler's whole job is to wipe the pre-T open session when the
  // request row arrives and emit the tombstone; era separation
  // happens at the CONSUMER, which compacts the emission log against
  // the requests relation it already holds (a session of a requested
  // user survives iff it starts at/after that user's T). A pre-T
  // straggler that slips past the watermark can only open a session
  // the compaction drops — the handler stays exact without
  // remembering anything about the erasure.

  /** One row of the unioned session control+event stream (`ts` kept
    * for the watermark; kind 1 = erase request at `ts_us`). */
  final case class CtrlSessEvent(user_id: Long, ts: java.sql.Timestamp,
      ts_us: Long, kind: Int)

  /** [[sessionizeFlushing]] driven by the unioned stream: a kind-1
    * row forgets the user's open session — entirely pre-T by the
    * time-order contract; an open session REACHING the instant means
    * post-T events outran the request and raises in-handler (the
    * q130 guard, session edition) — and emits the unconditional
    * tombstone (q129's argument: closed sessions left state when they
    * were emitted, so the handler cannot know whether prior reports
    * exist). Ties at exactly T need no special case: the sort puts
    * the request first, and a same-call pre-T event sorts before it
    * by timestamp regardless of file order. Flush timers are q122's
    * verbatim — with the request in-band there is no T timer to
    * interleave, which is what dissolves q129's timer-slot dance.
    *
    * DELIVERY CONTRACT — stricter than q130's, because this handler
    * deliberately keeps NO per-user memory after the wipe (that is
    * what lets erased users' state drain completely): the request
    * must arrive AT its event-time position, not early. A LATE
    * request is guarded (the straddling-open-session raise below); an
    * EARLY one is exact for every isolated pre-T session (the
    * consumer's request-log compaction drops what the handler could
    * not know to wipe — pinned in spec) EXCEPT when the user's first
    * post-T event lands within the gap of later-arriving pre-T events
    * and the two eras fuse into one session, whose post-T remainder
    * the compaction then over-drops (measured: exactly the fused
    * boundary sessions on an early-by-a-day volume feed). A feed that
    * cannot place requests in stream order needs the q130 pattern — a
    * persistent per-user erase register — instead; StreamCtrlErase-
    * VolBench's SESS phase shows the in-order feed (requests aligned
    * to their trigger window) is exact at 28.7M events. */
  private[graft] def sessionizeCtrl(user: Long, rows: Iterator[CtrlSessEvent],
      state: GroupState[OpenSession]): Iterator[SessionOutE] = {
    if (state.hasTimedOut) {
      val o = state.get
      state.remove()
      Iterator.single(SessionOutE(user, o.n_events, o.start_us, o.end_us,
        erased = false)) // watermark flush (q122)
    } else {
      val evs = rows.toArray.sortBy(e => (e.ts_us, -e.kind))
      var open = state.getOption.orNull
      var out = Vector.empty[SessionOutE]
      var touched = false // did any EVENT mutate the open session?
      evs.foreach { e =>
        if (e.kind == 1) {
          if (open != null && open.start_us < e.ts_us) {
            // An open session STRADDLING the instant is the one
            // irrecoverable arrival shape (its per-event history is
            // gone, so the post-T remainder cannot be reconstructed);
            // an entirely pre-T one is simply forgotten, and an
            // entirely post-T one (a late request) survives untouched
            // — the consumer's start >= T rule keeps it.
            if (open.end_us >= e.ts_us)
              throw new IllegalStateException(
                s"q134 arrival-order violation: user $user has an open " +
                  s"session straddling the erase instant ${e.ts_us} " +
                  s"([${open.start_us}, ${open.end_us}]) — post-T events " +
                  "preceded the request row")
            open = null // the pre-T open session is forgotten, unreported
          }
          out = out :+ SessionOutE(user, 0, 0, 0, erased = true)
        } else {
          touched = true
          open match {
            case null => open = OpenSession(1, e.ts_us, e.ts_us)
            case o if e.ts_us - o.end_us > GapUs =>
              out = out :+ SessionOutE(user, o.n_events, o.start_us, o.end_us,
                erased = false)
              open = OpenSession(1, e.ts_us, e.ts_us)
            case o =>
              open = OpenSession(o.n_events + 1, o.start_us,
                math.max(o.end_us, e.ts_us))
          }
        }
      }
      if (open != null) {
        // Re-arm the flush timer only when an EVENT advanced the
        // session: a request-only call that KEEPS a post-T open
        // session must leave its standing flush timer intact — the
        // session's flush instant did not move, and re-setting it
        // would race the watermark when the timer matures in this
        // very batch (setTimeoutTimestamp rejects values at/under
        // the current watermark).
        if (touched) {
          state.update(open)
          state.setTimeoutTimestamp(open.end_us / 1000 + GapUs / 1000 + 1)
        }
      } else if (state.exists) state.remove()
      out.iterator
    }
  }

  /** The deletion-aware consumer's compaction for q134: tombstones
    * drop, and a requested user's sessions survive iff they start
    * at/after that user's OWN instant (the requests relation is
    * batch-bounded — broadcast). This is where era separation lives
    * when the store keeps no flag: the consumer holds the request log
    * anyway (it received the deletions), so the join replaces q129's
    * in-row flag without any per-user state surviving in the store. */
  private[graft] def sessionsCurrentByRequests(raw: DataFrame,
      requests: DataFrame): DataFrame =
    raw.where(col("n_events") > 0)
      .join(broadcast(requests.select(col("user_id"), col("req_us"))),
        Seq("user_id"), "left")
      .where(col("req_us").isNull || col("start_us") >= col("req_us"))
      .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
      .orderBy(col("user_id"), col("start_us"))

  /** The unioned session control+event stream (volume bench reuses it
    * with its own fixture paths, like [[ctrlUnion]]). The watermark is
    * applied to the EVENT branch BEFORE the union — deliberately:
    * request rows carry their erase instant as event time, and a
    * privacy feed delivers requests EARLY relative to the event
    * replay position (the volume feed does), so letting them advance
    * the stream watermark would mass-drop perfectly-on-time events as
    * late. Union keeps the left branch's watermark tag, so requests
    * neither advance the watermark nor get dropped by it while it
    * trails their instant. */
  private[graft] def ctrlSessUnion(s: SparkSession, events: DataFrame,
      requests: DataFrame): Dataset[CtrlSessEvent] = {
    import s.implicits._
    events
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        lit(0).as("kind"))
      .withWatermark("ts", "0 seconds")
      .unionByName(requests.select(col("user_id"),
        timestamp_micros(col("req_us")).as("ts"), col("req_us").as("ts_us"),
        lit(1).as("kind")))
      .as[CtrlSessEvent]
  }

  /** The registered instance: q122's dataflow through the
    * control-stream handler, requests from q130's SHARED fixture
    * (per-user instants, one feed for both stores). Oracle = the
    * gap-split + strict flush rule over the per-user-T filtered
    * relation (wm from the FULL stream), the per-user-T
    * generalization of q129's oracle. StreamCtrlEraseSpec's session
    * cases pin wipe/tombstone/guard/straggler-compaction on
    * multi-batch replays. */
  val q134 = Q(
    "q134_session_erase_requests",
    "session-store erasure from the control stream: request row wipes the pre-T open session, consumer compacts by request log",
    (s, dir) => {
      import s.implicits._
      val reqPath = eraseRequestsPath(s, dir)
      val requests = s.readStream.schema(ReqSchema).parquet(reqPath)
      val unioned = ctrlSessUnion(s, eventsStream(s, dir), requests)
      val out = unioned.groupByKey(_.user_id)
        .flatMapGroupsWithState(
          OutputMode.Update(), GroupStateTimeout.EventTimeTimeout)(
          sessionizeCtrl _)
      sessionsCurrentByRequests(
        runBatchesToParquet(s, out, OutputMode.Update(), "append"),
        s.read.schema(ReqSchema).parquet(reqPath))
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
                 OR ts_us - lag(ts_us) OVER w > $GapUs THEN 1 ELSE 0 END AS brk
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
         OR (g.end_us // 1000) + ${GapUs / 1000} + 1 < (SELECT w FROM wm)
      ORDER BY g.user_id, start_us"""))

  // ---- q132: WATERMARKED streaming retention with in-stream erasure
  // — the registered answer to q128's two documented composition
  // claims (r15 VERDICT task 4). The watermark is the deployment
  // device q128's residual note points at: a straggler older than the
  // watermark is dropped BEFORE the handler (stateful operators filter
  // late input), so the late-new-day blind spot becomes explicit
  // straggler-drop semantics instead of a silent undercount; the
  // in-handler guard stays as the backstop for disorder inside the
  // allowed lateness. Erasure composes exactly as q127's tombstone
  // does. Retirement does NOT compose with retention and is
  // deliberately absent: the cohort day is load-bearing forever — a
  // retired-then-returning user would re-cohort at their return day
  // and corrupt two cells — so state here is user-bounded by design,
  // with timers used ONLY for the erase-by-T path (see q128's
  // scaladoc, corrected this round).

  /** [[RetState]] plus the erasure flag. */
  final case class RetStateE(cohortDay: Int, maxDay: Int, erased: Boolean)

  /** [[RetOut]] plus the erased flag; the tombstone is day = -1. */
  final case class RetOutE(user_id: Long, day: Int, cohort_day: Int,
      erased: Boolean)

  /** [[retentionStep]] with IN-STREAM ERASURE at event-time `eraseUs`
    * for the [[streamErased]] users (q127's pattern, retention store):
    *
    *   - the first post-T event applies the request BEFORE being
    *     processed: the (cohort, max-day) state is forgotten, the
    *     tombstone withdraws the user's previously-reported
    *     (user, day) rows, and the user re-cohorts at that event's
    *     day — an erased user's matrix contribution reflects ONLY
    *     post-T activity (their new cohort is their first post-T day,
    *     exactly the filtered recompute's);
    *   - a pending user who never returns erases by event-time timer
    *     at T (tombstone + state removal); timers are set ONLY while
    *     an erasure is pending, so no other user pays timer state;
    *   - a stale T timer that fires AFTER the user already erased by
    *     event re-updates the state untouched (removing it would
    *     forget the era flag and a later event would re-report
    *     unflagged rows past the deletion);
    *   - erasure works at EVENT granularity, not day granularity: a
    *     day straddling T survives for the erased user iff a post-T
    *     event exists on it, matching the oracle's `ts >= T` filter;
    *   - pre-T stragglers arriving after the erasure applied are
    *     skipped (erased by definition); for everyone else the
    *     watermark drops stragglers pre-handler and the q128 cohort
    *     guard backstops what the lateness bound admits. */
  private[graft] def retentionStepErasing(eraseUs: Long)(
      user: Long, rows: Iterator[SessionEventWm],
      state: GroupState[RetStateE]): Iterator[RetOutE] = {
    val pending = streamErased(user)
    if (state.hasTimedOut) {
      val st = state.get
      if (pending && !st.erased) {
        state.remove()
        Iterator.single(RetOutE(user, -1, -1, erased = true)) // T-timer erase
      } else {
        state.update(st) // stale T timer after an event-applied erasure
        Iterator.empty
      }
    } else {
      val entry = state.getOption
      var st = entry.orNull
      val evs = rows.map(_.ts_us).toArray.sorted
      var out = Vector.empty[RetOutE]
      evs.foreach { ts =>
        val d = (ts / 86400000000L).toInt
        if (pending && (st == null || !st.erased) && ts >= eraseUs) {
          // Apply the request: discard same-call pre-T emissions
          // (never visible), withdraw prior-batch reports iff any
          // exist (state at call entry), re-cohort at this event.
          out = if (entry.exists(!_.erased))
            Vector(RetOutE(user, -1, -1, erased = true))
          else Vector.empty
          st = RetStateE(d, d, erased = true)
          out :+= RetOutE(user, d, d, erased = true)
        } else if (st != null && st.erased && ts < eraseUs) {
          () // pre-T straggler after erasure: erased by definition
        } else if (st == null) {
          st = RetStateE(d, d, erased = false)
          out :+= RetOutE(user, d, d, erased = false)
        } else if (d < st.cohortDay) {
          throw new IllegalStateException(
            s"q132 arrival-order violation: day $d for user $user predates " +
              s"the standing cohort day ${st.cohortDay} inside the lateness bound")
        } else if (d > st.maxDay) {
          st = st.copy(maxDay = d)
          out :+= RetOutE(user, d, st.cohortDay, st.erased)
        }
      }
      if (st != null) {
        state.update(st)
        if (pending && !st.erased)
          state.setTimeoutTimestamp(
            math.max(eraseUs / 1000, state.getCurrentWatermarkMs() + 1))
      }
      out.iterator
    }
  }

  /** q128's rollup over the era-compacted q132 emission log: per user
    * keep the rows of their LATEST era (the flag disambiguates,
    * order-free), drop tombstones, then count cells and normalize —
    * each surviving (user, day) was emitted exactly once in its era,
    * so count(*) equals the filtered recompute's countDistinct. */
  private[graft] def retentionCurrent(raw: DataFrame): DataFrame = {
    val he = raw.groupBy(col("user_id"))
      .agg(max(col("erased").cast("int")).as("he"))
    val pairs = raw.join(he, "user_id")
      .where(col("erased").cast("int") === col("he") && col("day") >= 0)
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

  /** The registered instance: q128's dataflow with a 0-delay watermark
    * (the replay is time-ordered, so nothing drops at the sf scales
    * and the machinery is exercised where multi-batch straggler
    * replays exist — StreamRetentionSpec's watermark cases) and the
    * erasing handler at [[StreamEraseUs]]. Oracle = q114's matrix over
    * the erasure-filtered event relation, so the driver re-proves
    * tombstone-then-recohort == filtered recompute cross-engine every
    * round. */
  val q132 = Q(
    "q132_stream_retention_erase",
    "watermarked streaming retention with in-stream user erasure: tombstone withdraws pre-T days, post-T re-cohorts",
    (s, dir) => {
      import s.implicits._
      val events = eventsStream(s, dir)
        .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
        .withWatermark("ts", "0 seconds")
        .as[SessionEventWm]
      val out = events.groupByKey(_.user_id)
        .flatMapGroupsWithState(
          OutputMode.Update(), GroupStateTimeout.EventTimeTimeout)(
          retentionStepErasing(StreamEraseUs))
      retentionCurrent(runBatchesToParquet(s, out, OutputMode.Update(), "append"))
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

  // ---- q139: the control stream against the RETENTION store —
  // completing control-stream erasure across ALL THREE stateful
  // store families (funnel q130/q138, sessions q134, retention here),
  // one privacy feed throughout. Like the funnel, the retention state
  // is a register-carrying store: the cohort day must survive
  // forever anyway (q128's boundedness argument), so storing the
  // user's erase instant beside it costs nothing and makes the
  // handler exact under ANY request arrival except the one guarded
  // shape. No timers and no watermark: the request row itself erases
  // (q130's argument), and q132's T-timer existed only because its T
  // was out-of-band.

  /** [[RetState]] plus the register: `lastUs` is the latest PROCESSED
    * event's micros — the witness that makes the mixed-era guard
    * exact at EVENT granularity (day granularity cannot distinguish
    * pre-T from post-T activity on the instant's own day; the
    * timestamp can). */
  final case class RetStateC(cohortDay: Int, maxDay: Int, lastUs: Long,
      reqUs: Long, applied: Boolean)

  /** [[retentionStep]] driven by the unioned control+event stream:
    *
    *   - a kind-1 row stores the user's instant and applies it —
    *     same-call pre-T emissions are discarded (never visible), the
    *     tombstone withdraws prior-batch reports iff entry state had
    *     any, and later events re-cohort at their first post-T day;
    *   - once the register is set, a pre-T straggler event is skipped
    *     outright (erased by definition) — the register PERSISTS with
    *     the cohort state, so early request feeds are exact;
    *   - the guard: a processed event at/after the instant BEFORE the
    *     request row arrives (st.lastUs >= T) is the irrecoverable
    *     arrival shape — the wiped state would lose post-T days the
    *     re-cohort cannot recover — and raises in-handler; in-batch
    *     ties are immune (the sort puts the request before same-ts
    *     events), so only genuine cross-batch disorder trips it;
    *   - non-requested users run q128's handler verbatim, including
    *     its pre-cohort-day guard. */
  private[graft] def retentionStepCtrl(user: Long, rows: Iterator[CtrlEvent],
      state: GroupState[RetStateC]): Iterator[RetOutE] = {
    val evs = rows.toArray.sortBy(e => (e.ts_us, -e.kind))
    val entry = state.getOption
    var st = entry.getOrElse(RetStateC(-1, -1, -1L, -1L, applied = false))
    val before = st
    var out = Vector.empty[RetOutE]
    evs.foreach { e =>
      if (e.kind == 1) {
        if (!st.applied) {
          if (st.lastUs >= e.ts_us)
            throw new IllegalStateException(
              s"q139 arrival-order violation: user $user has processed an " +
                s"event at ${st.lastUs}, at/after the erase instant " +
                s"${e.ts_us} — post-T events preceded the request row")
          out = if (entry.exists(s => s.cohortDay >= 0 && !s.applied))
            Vector(RetOutE(user, -1, -1, erased = true))
          else Vector.empty
          st = RetStateC(-1, -1, st.lastUs, e.ts_us, applied = true)
        } // duplicate requests: first-wins (one per user in the fixture)
      } else if (st.applied && e.ts_us < st.reqUs) {
        () // pre-T straggler: the register remembers
      } else {
        val d = (e.ts_us / 86400000000L).toInt
        if (st.cohortDay < 0) {
          st = st.copy(cohortDay = d, maxDay = d,
            lastUs = math.max(st.lastUs, e.ts_us))
          out :+= RetOutE(user, d, d, st.applied)
        } else if (d < st.cohortDay) {
          throw new IllegalStateException(
            s"q139 arrival-order violation: day $d for user $user predates " +
              s"the standing cohort day ${st.cohortDay}")
        } else {
          if (d > st.maxDay) {
            st = st.copy(maxDay = d)
            out :+= RetOutE(user, d, st.cohortDay, st.applied)
          }
          st = st.copy(lastUs = math.max(st.lastUs, e.ts_us))
        }
      }
    }
    if (st != before) state.update(st)
    out.iterator
  }

  /** The unioned retention control+event stream: ALL event types
    * count as activity (q114's rule), kind-tagged like [[ctrlUnion]].
    * No watermark — NoTimeout state, requests in-band. */
  private[graft] def ctrlRetUnion(s: SparkSession, events: DataFrame,
      requests: DataFrame): Dataset[CtrlEvent] = {
    import s.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        lit("activity").as("event_type"), lit(0).as("kind"))
      .unionByName(requests.select(col("user_id"), col("req_us").as("ts_us"),
        lit("erase_request").as("event_type"), lit(1).as("kind")))
      .as[CtrlEvent]
  }

  /** The registered instance: q128's dataflow through the
    * control-stream handler, requests from the SHARED fixture
    * ([[eraseRequestsPath]] — the same privacy feed q130/q134/q138
    * consume), rolled up by [[retentionCurrent]]. Oracle = the
    * retention matrix over the per-user-T filtered relation — q137's
    * VERBATIM, so the driver re-proves the stream control-stream
    * erasure == the batch cohort-move == the filtered recompute,
    * three-way cross-engine, every round. */
  val q139 = Q(
    "q139_retention_erase_requests",
    "retention erasure from the control stream: request row wipes pre-T days (tombstone), later activity re-cohorts",
    (s, dir) => {
      import s.implicits._
      val reqPath = eraseRequestsPath(s, dir)
      val requests = s.readStream.schema(ReqSchema).parquet(reqPath)
      val unioned = ctrlRetUnion(s, eventsStream(s, dir), requests)
      val out = unioned.groupByKey(_.user_id)
        .flatMapGroupsWithState(
          OutputMode.Update(), GroupStateTimeout.NoTimeout)(retentionStepCtrl _)
      retentionCurrent(runBatchesToParquet(s, out, OutputMode.Update(), "append"))
    },
    // q137's VERBATIM rebuild, via the package object rather than
    // Analytic.q137.oracle (r17 ADVICE: the cross-object reference was
    // half of a circular init dependency with Analytic.q143).
    Some(oRetentionEraseBeforeTSql))

  def all: Seq[Q] = Seq(q65, q66, q67, q68, q86)
}
