package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared oracle-parity helpers.
  *
  * Cross-engine determinism rules (Spark vs DuckDB, BASELINE.md):
  *   - money/quantity doubles are cast to DECIMAL(18,2) *before*
  *     aggregation → exact arithmetic in both engines; the final value is
  *     cast back to double and rounded, so output schema is DOUBLE in both.
  *   - counts/sums of ints are cast to BIGINT in the oracle (DuckDB
  *     promotes integer sums to HUGEINT, Spark to LONG).
  *   - every query output is totally ordered.
  */
/** Struct returned by [[queries.minhashSigUdf]]: the per-doc sorted
  * distinct shingle-hash set (the exact-verify side) and the minhash
  * minima (the banding side), computed in one kernel pass. Top-level
  * (not inside the package object) so Spark's Product encoder derives
  * its schema without a package-object owner in the TypeTag path. */
final case class MinhashSig(hs: Seq[Long], mins: Seq[Long])

package object queries {
  /** Stable unique per-session memo key (JVM-lifetime unique), unlike
    * System.identityHashCode which can be reused by a new session after
    * a stopped one is GC'd — a reused hash would hand the new session a
    * Dataset bound to the dead one. Weak keys: the map itself never
    * pins a stopped session. */
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  /** A family of [[sessionMemo]] entries: its name, and its lifetime.
    * A `standing` entry survives [[evictMemos]] and is dropped only
    * when its session's context ends; any other entry is dropped by
    * [[evictMemos]] too, so each bench pass re-pays it. */
  final case class Memo(name: String, standing: Boolean = false)

  private final case class MemoKey(session: String, memo: Memo, key: String)

  /** One memo value, built at most once. The build runs outside the
    * memo map's lock, so a build may itself read other memos, and
    * concurrent callers of one key wait for the one build. A build
    * that throws stores nothing; the next call builds again. */
  private final class Cell(build: () => Any) { lazy val value: Any = build() }

  /** Every session's memo entries. The listener installed by
    * [[sessionKey]] drops a session's entries when its SparkContext
    * ends, so a memoized Dataset never pins its blocks (and the dead
    * session) for the JVM lifetime. */
  private val memos =
    new java.util.concurrent.ConcurrentHashMap[MemoKey, Cell]()

  /** The value of `memo` for (`s`, `key`): `build` runs once, on the
    * first call, and later calls return its value until the entry is
    * dropped (see [[Memo]] for when). */
  def sessionMemo[A](s: SparkSession, memo: Memo, key: String)(build: => A): A =
    memos.computeIfAbsent(MemoKey(sessionKey(s), memo, key), _ => new Cell(() => build))
      .value.asInstanceOf[A]

  /** Drop every non-standing memo entry of `s`. Bench uses this
    * between its two timed passes so the second pass re-pays exactly
    * the costs the first one did (a memo-warm second pass would report
    * a near-zero min for the stage query that funds the shared
    * dedupe+merge). Evicted cache blocks are cleaner-released when GC
    * drops the Dataset references. */
  def evictMemos(s: SparkSession): Unit = {
    val id = sessionKey(s)
    memos.keySet.removeIf(k => k.session == id && !k.memo.standing)
  }

  def sessionKey(s: SparkSession): String =
    sessionIds.computeIfAbsent(s, _ => {
      val id = java.util.UUID.randomUUID().toString
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          memos.keySet.removeIf(_.session == id)
      })
      id
    })

  /** Write-once BUCKETED standing-artifact store (r16 VERDICT task 4:
    * the q124SigStore move applied to the behavioral artifacts). The
    * relation is persisted ONCE per (application, dir, tag) as a
    * bucketBy(`key`)-sorted parquet table at a localScratch path and
    * read back through the catalog, so every downstream join/group on
    * `key` sees the scan's hash distribution and elides the
    * standing-side exchange (the BucketedFunnelBench layout, now the
    * registered prepare artifact's). Subsequent calls are a catalog
    * hit — the store outlives any one query, like the deployment
    * artifact it models. 32 buckets matches the session's
    * shuffle-partition count, so co-partitioned joins align 1:1. */
  /** Collision-resistant dir discriminator (r17 ADVICE): the
    * sanitized dir alone maps distinct raw dirs that differ only in
    * punctuation (/data/sf0.1 vs /data/sf0_1) to one name, which
    * would silently serve one corpus's standing artifact to the
    * other. 12 hex chars of md5 over the RAW dir break the tie;
    * hex survives the catalog's lowercasing. */
  private def dirDiscriminator(dir: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(6).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Per-store monitors serializing the check-then-create of ONE
    * store (r17 ADVICE: two threads racing the existence check would
    * both write it), STRIPED by store identity (r18 VERDICT flag +
    * ADVICE: the r17 fix was one JVM-global monitor held across the
    * entire store BUILD — a potentially minutes-long Spark job —
    * which would serialize UNRELATED store builds and block read-only
    * existence probes of already-built stores under any concurrent
    * prepare; and [[plainStore]] kept the identical unsynchronized
    * race). Monitors are interned per key and never removed: the map
    * is bounded by the distinct (tag, dir) store population of the
    * JVM lifetime — dozens, not data-sized. EpochSpec pins both
    * halves: distinct tags build CONCURRENTLY, same tag builds once. */
  private val storeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def storeLock(key: String): Object =
    storeLocks.computeIfAbsent(key, _ => new Object)

  /** ONE canonical lock identity per (tag, dir) store, shared by BOTH
    * store helpers (r19 review): plainStore's first cut keyed its
    * monitor on the localScratch PATH, which is not stable across
    * calls — the /dev/shm-vs-/tmp base is re-decided per call from
    * live usable space, so two threads preparing the same store while
    * the headroom probe flips could hold different monitors and both
    * run the build — and the two helpers used disjoint namespaces
    * while writing the same scratch directory, a latent same-tag
    * cross-helper race. The discriminated (tag, dir) string (also the
    * bucketed store's catalog table name) is stable and identifies
    * the store, not its current physical location. Injective over
    * (tag, dir) — r19 ADVICE: the sanitized form collapses
    * punctuation, so two tags differing only in punctuation ('a_b'
    * vs 'a-b') in one dir would otherwise share one lock, one
    * catalog table name, and thereby one store; the RAW tag's digest
    * (mirroring [[dirDiscriminator]]'s device for dirs) breaks the
    * tie. */
  private def storeIdent(tag: String, dir: String): String =
    (tag + "_" + dir).replaceAll("[^a-zA-Z0-9]+", "_") +
      "_" + dirDiscriminator(dir) + "_" + dirDiscriminator(tag)

  def bucketedStore(s: SparkSession, dir: String, tag: String,
      key: String)(build: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val table = storeIdent(tag, dir)
    storeLock(table).synchronized {
      if (!s.catalog.tableExists(table)) {
        val path = localScratch(s, tag, dir)
        build.write.bucketBy(32, key).sortBy(key)
          .option("path", path).format("parquet")
          .mode("overwrite").saveAsTable(table)
      }
    }
    s.table(table)
  }

  /** Write-once UNBUCKETED store for small standing artifacts
    * (retention cells: days²-bounded) — same lifecycle as
    * [[bucketedStore]], no distribution claim, same per-store create
    * lock (the canonical [[storeIdent]], NOT the scratch path — see
    * its scaladoc). */
  def plainStore(s: SparkSession, dir: String, tag: String)(
      build: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    storeLock(storeIdent(tag, dir)).synchronized {
      val path = localScratch(s, tag, dir)
      if (!new java.io.File(path, "_SUCCESS").exists())
        build.write.mode("overwrite").parquet(path)
      graft.Tables.parquet(s, path)
    }
  }

  /** Exact 2-dp decimal view of a stored-as-double money/qty column. */
  def money(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact decimal sum rendered as a rounded double (schema parity). */
  def dsum(c: Column, scale: Int = 2): Column =
    round(sum(money(c)).cast("double"), scale)

  /** Deterministic mean: exact decimal sum / exact count, in doubles. */
  def davg(c: Column, scale: Int = 4): Column =
    round(sum(money(c)).cast("double") / count(c).cast("double"), scale)

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Oracle-side equivalents as SQL text builders. */
  def oSum(col: String, as: String, scale: Int = 2): String =
    s"round(CAST(sum(CAST($col AS DECIMAL(18,2))) AS DOUBLE), $scale) AS $as"

  /** Cross-engine deterministic 60-bit hash: both Spark and DuckDB md5 a
    * UTF-8 string to the same hex; the first 15 hex digits parse into a
    * non-negative BIGINT identically in both. This is the shared hash
    * under the MinHash / SimHash / LSH operators — Spark's murmur3
    * `hash()` and DuckDB's `hash()` are engine-private, so any
    * oracle-checked sketch must hash this way. */
  def h60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** DuckDB text of [[h60]]. */
  def oH60(e: String): String =
    s"CAST(('0x' || substring(md5($e), 1, 15)) AS BIGINT)"

  // ---- The ONE privacy feed (r16 ADVICE: hoisted so the stream
  // fixture, the batch derivations, and every oracle interpolation
  // share literally the same constants — changing them cannot
  // desynchronize the halves). Requested users are ~10 % of the
  // event population; each gets an OWN erase instant spread over
  // [base, base + rangeDays) days by a second hash.
  /** Base instant of the shared erase-request feed
    * (2024-01-04T00:00:00Z), q130's fixture epoch. */
  val PrivacyBaseUs: Long =
    java.time.Instant.parse("2024-01-04T00:00:00Z").toEpochMilli * 1000
  /** Width in days of the per-user request-instant spread. */
  val PrivacyRangeDays = 8

  /** The 30-minute session gap in epoch micros, shared by the stream
    * and batch session operators and their oracles. */
  val SessGapUs: Long = 30L * 60 * 1000000

  /** Spark column: the requested user's erase instant T (µs), as a
    * function of `user_id` — the batch-side twin of the streamed
    * fixture relation. */
  def privacyInstantUs: Column =
    lit(PrivacyBaseUs) +
      (h60(concat(lit("reqday:"), col("user_id"))) % PrivacyRangeDays) *
        lit(86400000000L)

  /** DuckDB text of [[privacyInstantUs]] over a user-id expression. */
  def oPrivacyInstantUs(userExpr: String): String =
    s"$PrivacyBaseUs + (${oH60(s"'reqday:' || CAST($userExpr AS VARCHAR)")} " +
      s"% $PrivacyRangeDays) * 86400000000"

  /** DuckDB predicate: is this user in the requested (~10 %) cohort. */
  def oPrivacyRequested(userExpr: String): String =
    s"${oH60(s"'erase:' || CAST($userExpr AS VARCHAR)")} % 10 = 0"

  // ---- The two rebuild oracles SHARED ACROSS OBJECTS (r17 ADVICE:
  // Analytic.q143 embedded StreamingOps.q130's oracle while
  // StreamingOps.q139 embedded Analytic.q137's — a circular
  // object-initialization dependency that only worked because the
  // referenced vals were declared lexically earlier, and concurrent
  // first-touch of the two objects could deadlock). Hoisted here, the
  // package object both depend on, so each query object references
  // only downward. Every term is package-level (oPrivacyInstantUs /
  // oPrivacyRequested / the 30-min session constants live here or are
  // inlined literals).

  /** The per-user-T filtered FUNNEL rebuild (q113's cascade over the
    * relation with each requested user's pre-T rows dropped) — the
    * shared oracle of q130 (stream control-stream erasure), q143
    * (batch partial erasure), and the epoch compositions' funnel
    * slices: the stream and batch halves of the same erasure prove
    * against ONE rebuild. */
  val oFunnelEraseBeforeTSql: String = s"""WITH req AS (
        SELECT user_id, ${oPrivacyInstantUs("user_id")} AS t_us
        FROM (SELECT DISTINCT user_id FROM events)
        WHERE ${oPrivacyRequested("user_id")}),
      ev AS (
        SELECT e.user_id, e.event_type, e.ts FROM events e
        LEFT JOIN req r ON e.user_id = r.user_id
        WHERE r.user_id IS NULL OR epoch_us(e.ts) >= r.t_us),
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
      ORDER BY v.user_id"""

  /** The per-user-T filtered RETENTION rebuild (q114's matrix over the
    * filtered relation) — the shared oracle of q137 (batch cohort
    * move), q139 (stream control-stream erasure), and the epoch
    * compositions' retention slices. */
  val oRetentionEraseBeforeTSql: String = s"""WITH req AS (
        SELECT user_id, ${oPrivacyInstantUs("user_id")} AS t_us
        FROM (SELECT DISTINCT user_id FROM events)
        WHERE ${oPrivacyRequested("user_id")}),
      d AS (
        SELECT DISTINCT e.user_id, CAST(e.ts AS DATE) AS day FROM events e
        LEFT JOIN req r ON e.user_id = r.user_id
        WHERE r.user_id IS NULL OR epoch_us(e.ts) >= r.t_us),
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
      ORDER BY c.cohort_day, c.day_offset"""

  /** JIT-compiled distinct word n-gram [[h60]] hashes over a token
    * array — bit-identical to
    * `h60(concat_ws(" ", tok_i, …, tok_{i+n-1}))` per position (md5 →
    * first 15 hex digits → unsigned 60-bit long), distinct in
    * first-occurrence order like `array_distinct`. Oracles built on
    * [[oH60]] are untouched by the swap. Exists because the
    * equivalent Catalyst form (`transform` lambda + `element_at` +
    * md5 per shingle) is interpreted per element — measured 2× the
    * whole-query cost on the shingle-heavy operators (q51/q73/q77). */
  def shingleH60Udf(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (toks: Seq[String]) => firstSeen(shingleH60s(toks, n)).toSeq }

  /** md5 of `bytes` folded as [[h60]] folds it: the first 15 hex digits
    * (60 bits) as a non-negative long. */
  private def h60Fold(md: java.security.MessageDigest, bytes: Array[Byte]): Long = {
    md.reset()
    val d = md.digest(bytes)
    var h = 0L
    var b = 0
    while (b < 7) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
    (h << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** The [[h60]] hash of every word n-gram of `toks` (tokens joined by
    * one space), in position order, with multiplicity. */
  private def shingleH60s(toks: Seq[String], n: Int): Array[Long] = {
    val arr = toks.toArray // LinearSeq guard: indexed access below
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Long](math.max(0, arr.length - n + 1))
    var i = 0
    while (i < out.length) {
      val sb = new java.lang.StringBuilder(arr(i))
      var k = 1
      while (k < n) { sb.append(' ').append(arr(i + k)); k += 1 }
      out(i) = h60Fold(md, sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      i += 1
    }
    out
  }

  /** The distinct values of `hs` in first-occurrence order. */
  private def firstSeen(hs: Array[Long]): scala.collection.mutable.LinkedHashSet[Long] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
    var i = 0
    while (i < hs.length) { seen.add(hs(i)); i += 1 }
    seen
  }

  /** [[shingleH60Udf]] WITHOUT the distinct: every position's n-gram
    * [[h60]] hash, in order, WITH multiplicity — the occurrence bag a
    * bag-of-ngrams model (q108's DSIR feature counts) needs, where the
    * distinct set would undercount repeated n-grams. Bit-identical per
    * position to `h60(concat_ws(" ", tok_i, …, tok_{i+n-1}))` (same
    * md5 → 60-bit fold), so [[oH60]]-built oracles mirror it exactly. */
  def shingleH60AllUdf(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (toks: Seq[String]) =>
      scala.collection.immutable.ArraySeq.unsafeWrapArray(shingleH60s(toks, n))
    }

  /** Fused PER-ROW MinHash signature kernel for the stream-side
    * ingest gate (q98): one pass over a token array computes the
    * distinct shingle-hash set AND every minhash minimum —
    * bit-identical to the chained Catalyst form it replaces
    *   grams = transform(shingleH60Udf(n)(tk), h -> h % p)
    *   hs    = sort_array(array_distinct(grams))
    *   m_i   = array_min(transform(grams, h -> (h * a_i + b_i) % p))
    * (same md5 → 60-bit fold as [[shingleH60Udf]]; Long overflow and
    * `%` follow identical Java semantics in the kernel and in
    * Catalyst's Multiply/Add/Remainder, so every m_i agrees even
    * past 63-bit products). Exists for the regex-wall reason
    * (r9 VERDICT task 3): the interpreted `transform` folds ran
    * |AB| + 2 lambda passes per row on the stream side, where this
    * is one JIT pass — and unlike the batch path's explode → groupBy
    * aggregation it keeps the stream side SHUFFLE-FREE. */
  def minhashSigUdf(n: Int, ab: Seq[(Long, Long)], p: Long):
      org.apache.spark.sql.expressions.UserDefinedFunction = {
    val as = ab.map(_._1).toArray
    val bs = ab.map(_._2).toArray
    udf { (toks: Seq[String]) =>
      val seen = firstSeen(shingleH60s(toks, n))
      val mins = Array.fill(as.length)(Long.MaxValue)
      val gs = new java.util.TreeSet[java.lang.Long]()
      seen.foreach { h0 =>
        val g = h0 % p // h0 >= 0, so g >= 0
        gs.add(g)
        var k = 0
        while (k < as.length) {
          val v = (g * as(k) + bs(k)) % p // may overflow+wrap: same as Catalyst
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      val hs = new Array[Long](gs.size)
      val it = gs.iterator()
      var j = 0
      while (it.hasNext) { hs(j) = it.next().longValue(); j += 1 }
      MinhashSig(hs.toSeq, mins.toSeq)
    }
  }

  /** JIT distinct char-4-gram [[h60]] hashes over a (pre-normalized)
    * string — bit-identical per position to
    * `h60(substring(t, i, 4))` over `i = 1 .. len-3` (md5 of the
    * UTF-8 gram → first 15 hex digits → unsigned 60-bit long),
    * distinct in first-occurrence order like `array_distinct`.
    * Same existence rationale as [[shingleH60Udf]]: the Catalyst
    * `transform` + substr + md5-per-element form is interpreted per
    * gram, and a ~950-char doc has ~950 grams. Pinned char-identical
    * to the expression form by FunctionProps. */
  def gram4H60(t: String): Seq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
    var i = 0
    while (i + 4 <= t.length) {
      seen.add(h60Fold(md, t.substring(i, i + 4)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      i += 1
    }
    seen.toSeq
  }

  val gram4H60Udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (t: String) => if (t == null) null else gram4H60(t) }

  /** JIT char-filter kernel, char-identical to
    * `lower(regexp_replace(s, "[^a-zA-Z0-9]", ""))`: keep ASCII
    * alphanumerics, lowercasing A-Z; drop every other UTF-16 unit
    * (surrogate halves match the negated class individually in
    * java.util.regex, so dropping them unit-wise is identical, and
    * lower() on the surviving ASCII-only string is plain +32).
    * Exists because java.util.regex inside many-way codegen hits a
    * scalability WALL, not just a constant: ~137 us/doc wall on
    * ~950-char docs whether 4 or 32 threads run (CPU/doc grows
    * 0.5→4.4 ms with thread count — see THROUGHPUT.md; the ProfRegex2
    * tool that measured it is deleted),
    * while this kernel is ~1-2 us/doc and scales. Pinned against the
    * regex form by FunctionProps. */
  def alnumLower(s: String, keepSpace: Boolean = false): String = {
    val n = s.length
    val b = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= '0' && c <= '9') || (c >= 'a' && c <= 'z') ||
          (keepSpace && c == ' ')) b.append(c)
      else if (c >= 'A' && c <= 'Z') b.append((c + 32).toChar)
      i += 1
    }
    b.toString
  }

  val alnumLowerUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) => if (s == null) null else alnumLower(s) }

  /** [[alnumLower]] with the space-preserving class — char-identical
    * to `lower(regexp_replace(s, "[^a-zA-Z0-9 ]", ""))` (q38's
    * winnowing normalization). */
  val alnumSpaceLowerUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) => if (s == null) null else alnumLower(s, keepSpace = true) }

  /** JIT word n-gram shingle STRINGS over an already-split token
    * array — all positions, no dedupe: identical to
    * `transform(sequence(1, size-2), i -> concat_ws(" ", tok_i …))`
    * but compiled, where the Catalyst higher-order lambda is
    * interpreted per element (the q34 volume cost). */
  def shingleStrings(toks: Seq[String], n: Int): Seq[String] = {
    val arr = toks.toArray
    val m = math.max(0, arr.length - n + 1)
    val out = new Array[String](m)
    var i = 0
    while (i < m) {
      val sb = new java.lang.StringBuilder(arr(i))
      var k = 1
      while (k < n) { sb.append(' ').append(arr(i + k)); k += 1 }
      out(i) = sb.toString
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  def shingleStringsUdf(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (toks: Seq[String]) => if (toks == null) null else shingleStrings(toks, n) }

  /** Driver-local scratch dir for queries that must synthesize file
    * fixtures (q49) or bucketed tables (q28). Keyed by the FULL
    * sanitized input dir (no hashCode collisions between sfDirs) plus
    * the Spark application id, so concurrent sessions never
    * cross-contaminate. NOTE: the path lives on the DRIVER's local
    * disk and is read back via the local filesystem — valid only under
    * a local[] master; a cluster deployment would point this at a
    * shared filesystem instead. */
  def localScratch(spark: SparkSession, tag: String, dir: String,
      expectedBytes: Long = 0L): String = {
    require(spark.sparkContext.isLocal,
      s"$tag synthesizes driver-local fixtures; requires a local[] master")
    // Discriminated like bucketedStore's table name (r17 ADVICE): the
    // sanitized form alone is not injective over raw dirs.
    val safeDir = dir.replaceAll("[^a-zA-Z0-9]+", "_") +
      "_" + dirDiscriminator(dir)
    val safeApp = spark.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]+", "_")
    // tmpfs when present AND comfortably sized: tmpfs is RAM-backed
    // (typically capped near 50% of RAM), so a volume fixture that
    // fit on disk-backed /tmp could ENOSPC here or add memory
    // pressure that competes with executor heap. Require headroom of
    // 4x the caller's expected size (min 1 GiB) and honor the
    // GRAFT_SCRATCH_NO_SHM override for volume runs.
    val shm = new java.io.File("/dev/shm")
    val useShm = shm.canWrite &&
      !sys.env.contains("GRAFT_SCRATCH_NO_SHM") &&
      shm.getUsableSpace > math.max(4L * expectedBytes, 1L << 30)
    val base = if (useShm) "/dev/shm" else "/tmp"
    // Fixture dirs are created once per application, then lazily
    // RE-READ for the whole session (mtime never advances), so an
    // age-gated sweep could delete a live long session's fixtures.
    // Instead the dir name carries the owning pid and each call
    // sweeps siblings whose owner is dead — correctness-safe hygiene.
    sweepDeadFixtures(new java.io.File(base))
    s"$base/graft_fix_p${pidSelf}_${tag}_${safeDir}_$safeApp"
  }

  private[queries] val pidSelf: Long = ProcessHandle.current().pid()
  private val FixturePat = "graft_fix_p(\\d+)_.*".r

  private[queries] def sweepDeadFixtures(base: java.io.File): Unit =
    try {
      val kids = base.listFiles()
      if (kids != null) kids.foreach { f =>
        f.getName match {
          case FixturePat(pid) if pid.toLong != pidSelf && {
                val o = ProcessHandle.of(pid.toLong)
                !(o.isPresent && o.get.isAlive)
              } =>
            deleteRecursively(f)
          case _ => ()
        }
      }
    } catch { case _: Throwable => () }

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(); ()
  }
}
