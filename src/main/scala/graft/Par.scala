package graft

import java.util.concurrent.{ExecutionException, FutureTask, SynchronousQueue, ThreadFactory,
  ThreadPoolExecutor, TimeUnit}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Fork-join for the two independent halves of a query body.
  *
  * A body whose halves each issue driver-side actions one after another
  * (connected-components rounds, collects) overlaps them by running one
  * half on another thread (optimization guide §2.6). [[both]] is the one
  * way a body does that.
  */
object Par {
  /** The Spark thread-local properties a side runs under: the caller's
    * job description and job group (the keys `setJobGroup` sets), so every
    * job a side submits is labelled as the caller's. A pool thread would
    * otherwise keep the properties of the thread that created it. */
  private val Inherited = Seq("spark.job.description", "spark.jobGroup.id",
    "spark.job.interruptOnCancel")

  /** Daemon threads, at most four: q146 nests three sides (its events
    * half, whose epoch and takedown each fork one). A side that finds
    * no free thread runs on the caller before the caller's own half, so
    * nesting never waits on the pool. */
  private val pool = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val daemons: ThreadFactory = r => {
      val t = new Thread(r, s"graft-par-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
    new ThreadPoolExecutor(0, 4, 30, TimeUnit.SECONDS, new SynchronousQueue[Runnable](),
      daemons, new ThreadPoolExecutor.CallerRunsPolicy())
  }

  /** Runs `a` on a pool thread and `b` on the caller, and returns both
    * results once both are done. `a` runs under the caller's Spark
    * properties (see [[Inherited]]); the pool thread's own are restored
    * when it ends. First the entries of `shared` that are not stored yet
    * are stored ([[Scratch.fill]]): two threads reading one unfilled
    * entry would each compute its partitions. If either half throws,
    * both are still awaited, and `a`'s failure wins. */
  def both[A, B](s: SparkSession, shared: Dataset[_]*)(a: => A)(b: => B): (A, B) = {
    shared.foreach(Scratch.fill)
    val sc = s.sparkContext
    def props() = Inherited.map(k => k -> sc.getLocalProperty(k))
    def set(ps: Seq[(String, String)]): Unit = ps.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    val caller = props()
    val side = new FutureTask[A](() => {
      val own = props()
      set(caller)
      try a finally set(own)
    })
    pool.execute(side)
    val rb = scala.util.Try(b)
    val ra = try side.get() catch {
      case e: ExecutionException =>
        rb.failed.foreach(e.getCause.addSuppressed)
        throw e.getCause
    }
    (ra, rb.get)
  }
}
