package graft

import org.apache.spark.sql.{Dataset, GraftCache}

/** The one way a query materializes an intermediate it reads more than
  * once: [[scoped]], freed by [[release]] or [[releaseAll]].
  *
  * - **What is materialized.** `scoped(ds)` persists `ds`'s plan in the
  *   session's shared cache and returns a Dataset whose plan is a single
  *   leaf over that cache entry. The entry's own rows are not computed
  *   at the call: the tasks of the first action that reads the leaf
  *   store them as they read them, and every later read, from any
  *   thread, reads the stored rows.
  *   Places of one plan that read the same leaf share that fill, and no
  *   job runs for it alone. [[fill]] stores the rows at once, for a
  *   caller whose next step needs them stored (an accumulator it reads,
  *   a handoff to a timed body, an input it releases) or whose next
  *   plan should be chosen from the stored size. Analysis stops at the
  *   leaf, so an operator that issues many actions over a deep pipeline
  *   plans a leaf each time instead of re-analyzing the pipeline; rows
  *   are read as Spark's internal rows (no encoder round trip), only the
  *   columns a consumer uses. The parent session's plans that contain
  *   `ds`'s plan read the entry too.
  * - **What consumers see.** The leaf reports the stored plan's output
  *   partitioning: a `repartition(col)` or an aggregate inside `ds`
  *   hash-partitions the stored rows, and a consumer that groups or
  *   joins on that key plans no exchange of its own. For an adaptive
  *   entry that partitioning is only known once the stored plan's own
  *   shuffles ran, so they run when a plan that reads the leaf is
  *   planned: a consumer's action, its `explain` or `executedPlan`, or
  *   the `scoped` of a Dataset built on the leaf. Those are Spark jobs,
  *   run on the planning thread. The planner sees the stored size once
  *   the entry is filled, Spark's estimate before.
  * - **How the partition count is chosen.** With `adaptive = true` the
  *   entry's plan compiles with adaptive execution, so its shuffles
  *   coalesce by the bytes they measure when they run: a batch-bounded
  *   relation (a removal set, a cohort slice, retention cells) stops
  *   fanning every later stage out to one near-empty task per core,
  *   while a large relation keeps its width. With the default `false`
  *   the entry keeps the session's fixed shuffle width; that is for
  *   relations that are small in bytes but feed compute-dense stages
  *   (n-gram and pair-scoring caches), which byte coalescing would
  *   squeeze onto one task. Bytes alone cannot tell the two apart, and
  *   a coalescing floor at the default parallelism (the one rule tried
  *   that could) forbids the coalescing wherever the shuffle width
  *   equals the parallelism, so the caller chooses. The setting goes on
  *   a clone of the session that builds only this entry, so the
  *   caller's session conf is never written, however many threads
  *   cache at once.
  * - **When blocks are freed.** The harness (Bench, Verify, the specs,
  *   the stage mains) calls [[releaseAll]] after each query's terminal
  *   action; [[release]] frees one entry early (a round of an iterative
  *   operator). Freeing is non-blocking. A released leaf is still a
  *   valid Dataset: a later read recomputes its plan once and keeps the
  *   recomputed blocks until the leaf itself is garbage-collected.
  *
  * Scoping a Dataset that already is a leaf returns it unchanged. The
  * first `scoped` on a session adds the leaf's planning strategy to that
  * session (once); it writes no conf.
  */
object Scratch {
  /** Live leaves and the persisted Dataset behind each. */
  private val live = new java.util.concurrent.ConcurrentHashMap[Dataset[_], Dataset[_]]()

  /** `ds` materialized once on first read, as a leaf over its cache
    * entry; see the object scaladoc for the rule. */
  def scoped[T](ds: Dataset[T], adaptive: Boolean = false): Dataset[T] =
    GraftCache.persist(ds, adaptive) match {
      case Some((leaf, held)) => live.put(leaf, held); leaf
      case None => ds
    }

  /** Store now the rows of the leaves `ds` reads (`ds` itself, or a
    * projection of leaves), in one job per leaf that reads no row back;
    * a leaf already stored costs nothing. */
  def fill(ds: Dataset[_]): Unit = GraftCache.fill(ds)

  /** Free the entry behind a leaf [[scoped]] returned, before the
    * query ends. Unknown or already released leaves are ignored. */
  def release(ds: Dataset[_]): Unit =
    Option(live.remove(ds)).foreach(held =>
      try held.unpersist(blocking = false) catch { case _: Throwable => () })

  /** Free every entry scoped since the last call. */
  def releaseAll(): Unit = live.keySet.forEach(release(_))
}
