package graft

import org.apache.spark.sql.Dataset

/** Session-scoped registry for per-query cached intermediates.
  *
  * Several queries materialize mid-plan results (MinHash signatures,
  * n-gram token tables, merged-contact outputs) that must live for the
  * duration of ONE query's action(s) but would otherwise stay pinned in
  * the block manager for the rest of the session — a 60-query
  * Verify/Bench session would accumulate gigabytes of dead cache and
  * push the driver into full GCs (ADVICE r01). Queries wrap such
  * intermediates in [[scoped]]; the harness (Bench/Verify, tests) calls
  * [[releaseAll]] after each query's terminal action.
  */
object Scratch {
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  /** Persist `ds` (compressed columnar cache) and register it for
    * release after the current query completes. */
  def scoped[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist()
    live.add(p)
    p
  }

  /** [[scoped]] with SIZE-ADAPTIVE partitioning (r21 optimization,
    * guide §2.2 "fewer, larger partitions" / §5): the cached plan is
    * compiled WITH AQE (Spark caches plans without AQE by default —
    * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`), so
    * its internal exchanges AND its stored partitioning coalesce by
    * measured BYTES instead of inheriting the session's CPU-count
    * shuffle width. A batch-bounded relation (removal set, cohort
    * slice, retention cells) stops fanning every downstream stage out
    * to 32 near-empty tasks, while a relation that is actually large
    * keeps its parallelism — the decision is data-driven at run time,
    * so it scales from sf0.001 to a 100 TB corpus unchanged.
    *
    * Deliberately OPT-IN per call site rather than session-wide: for
    * caches whose bytes are small but whose downstream work is
    * CPU-dense (q53's gram tables, q64/q72's pair stages), byte-based
    * coalescing serializes real compute (measured: q53 1.9 → 4.4 s
    * with the conf session-wide, the round-6 regression shape), so
    * those keep the plain [[scoped]]/[[fenced]] forms. The shared
    * minhash and simhash signature caches (`sigBanded`,
    * `ngramMinhashPairs`, `simhash64Pairs`) do use this form: sized,
    * q51/q73/q88/q94 ran 5× fewer tasks at flat-to-better walls.
    * The conf is captured at persist() time (CacheManager snapshots
    * the session config when the cache entry is created), so the
    * temporary set-and-restore binds only this relation. */
  def sized[T](ds: Dataset[T]): Dataset[T] = {
    val s = ds.sparkSession
    val k = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val old = s.conf.getOption(k)
    s.conf.set(k, "true")
    try scoped(ds) finally old match {
      case Some(v) => s.conf.set(k, v)
      case None => s.conf.unset(k)
    }
  }

  /** [[fenced]] over a [[sized]] cache — the plan fence (single RDD
    * leaf, see [[fenced]]) with the size-adaptive partition count. */
  def sizedFenced(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cached = sized(df)
    cached.sparkSession.createDataFrame(cached.rdd, cached.schema)
  }

  /** [[scoped]] plus a PLAN FENCE: returns a fresh DataFrame whose
    * logical plan is a single RDD leaf over the cached result.
    * Caching truncates EXECUTION but not ANALYSIS — an operator that
    * issues many actions over a deep pipeline (the iterative
    * connected-components machinery, multi-pass merges) re-analyzes
    * the full upstream plan on every action, pure driver-side cost
    * that grows with pipeline depth. Measured on q124's merge stage:
    * ~12 s of planning over EMPTY cached relations at sf0.1, ~3 s
    * fenced. The RDD executes the cached query, so each downstream
    * action pays one cache read and a leaf-sized plan. Row-encoder
    * round-trip applies — use only where the relation is modest
    * (assignments, pair lists, bucket tables), not on corpus-wide hot
    * paths. */
  def fenced(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cached = scoped(df)
    cached.sparkSession.createDataFrame(cached.rdd, cached.schema)
  }

  /** Unpersist every scoped intermediate registered since the last
    * call. Non-blocking: block eviction proceeds asynchronously. */
  def releaseAll(): Unit = {
    var d = live.poll()
    while (d != null) {
      try d.unpersist(blocking = false) catch { case _: Throwable => () }
      d = live.poll()
    }
  }
}
