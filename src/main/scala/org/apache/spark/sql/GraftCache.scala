package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{LeafExecNode, SQLExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Bridge to Spark's `private[sql]` cache internals for [[graft.Scratch]]:
  * a cache entry built through a session clone, a Dataset whose logical
  * plan is that entry's `InMemoryRelation` (a leaf), and the planning of
  * that leaf.
  *
  * The clone carries the cache's build settings, so the caller's
  * session conf is never written: another thread planning in the
  * parent session at the same moment sees its own conf. The
  * `CacheManager` is shared by every session of the context, so the
  * parent's plans that contain the cached plan still read the entry.
  */
object GraftCache {
  /** The table name of every entry [[persist]] builds: it marks the
    * entries [[ScratchScans]] plans, and names their blocks. */
  private val Table = "graft scratch"

  /** `ds` persisted (the session's default storage level), returned
    * as a leaf over the cache entry, and the entry's own Dataset (whose
    * `unpersist` drops the entry). With `adaptive` the entry's plan is
    * compiled with adaptive execution (`canChangeCachedPlanOutputPartitioning`
    * on the clone), so its shuffles coalesce by measured bytes; without
    * it Spark compiles the entry at the session's fixed width. A `ds`
    * that already is such a leaf is returned as it is, with no entry. */
  def persist[T](ds: Dataset[T], adaptive: Boolean): Option[(Dataset[T], Dataset[_])] = {
    val d = ds.asInstanceOf[classic.Dataset[T]]
    d.logicalPlan match {
      case _: InMemoryRelation => None
      case plan =>
        val parent = d.sparkSession
        ScratchScans.register(parent)
        val session =
          if (!adaptive) parent
          else {
            val c = parent.cloneSession()
            c.conf.set(SQLConf.CAN_CHANGE_CACHED_PLAN_OUTPUT_PARTITIONING.key, "true")
            c
          }
        val held = classic.Dataset.ofRows(session, plan)
        val cm = parent.sharedState.cacheManager
        cm.cacheQuery(held, Some(Table), parent.sessionState.conf.defaultCacheStorageLevel)
        val entry = cm.lookupCachedData(held)
          .getOrElse(throw new IllegalStateException("persisted plan has no cache entry"))
        // The leaf states no logical ordering: a self-join gives one
        // side a new instance of the relation, and `newInstance` keeps
        // the ordering's old attributes, which breaks canonicalizing it.
        // The scan still reports the stored plan's physical ordering.
        val stored = entry.cachedRepresentation
        val leaf = classic.Dataset[T](parent, InMemoryRelation(plan.output,
          stored.cacheBuilder, Nil, stored.statsOfPlanToCache))(d.encoder)
        Some((leaf, held))
    }
  }

  /** Store the rows of every entry `ds` reads that are not stored yet,
    * as one SQL execution named `fill`: per entry, one job that runs the
    * entry's plan and reads nothing back. */
  def fill(ds: Dataset[_]): Unit = {
    val d = ds.asInstanceOf[classic.Dataset[_]]
    val todo = d.logicalPlan.collect {
      case r: InMemoryRelation if owns(r) && !r.cacheBuilder.isCachedColumnBuffersLoaded =>
        r.cacheBuilder
    }
    if (todo.nonEmpty) SQLExecution.withNewExecutionId(d.queryExecution, Some("fill")) {
      todo.foreach { b =>
        val rdd = b.cachedColumnBuffers
        rdd.sparkContext.runJob(rdd, (_: Iterator[_]) => ())
      }
    }
  }

  private[sql] def owns(r: InMemoryRelation): Boolean =
    r.cacheBuilder.tableName.contains(Table)
}

/** Plans a read of a [[GraftCache]] entry as Spark plans any cached
  * relation (column pruning and batch-statistics filters included),
  * then puts the scan behind [[ScratchScanExec]]. Registered once per
  * session, ahead of Spark's own strategies; session clones inherit it. */
private[sql] final class ScratchScans(session: classic.SparkSession) extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(_, _, r: InMemoryRelation) if GraftCache.owns(r) =>
      session.sessionState.planner.InMemoryScans(plan).map(_.transformUp {
        case s: InMemoryTableScanExec if s.relation eq r => ScratchScanExec(s)
      })
    case _ => Nil
  }
}

private[sql] object ScratchScans {
  def register(s: classic.SparkSession): Unit = s.experimental.synchronized {
    if (!s.experimental.extraStrategies.exists(_.isInstanceOf[ScratchScans]))
      s.experimental.extraStrategies = new ScratchScans(s) +: s.experimental.extraStrategies
  }
}

/** The scan of a cached relation as a plain leaf. Adaptive execution
  * gives a bare `InMemoryTableScanExec` a query stage of its own, which
  * runs one job to fill the cache for every place a plan reads it;
  * behind this node the reading tasks fill the blocks themselves, and
  * places that read the same entry share them.
  *
  * The stored plan is finalized before the partitioning is reported,
  * so consumers see the stored partitioning, not an unknown one. For an
  * adaptive entry that means running its shuffle stages: they run while
  * a plan that reads the entry is planned (`explain`, `executedPlan`, or
  * the `scoped` of a Dataset built on the leaf run them too), on the
  * planning thread. The partition count such an entry reports before
  * they ran could differ from the count it stores, so it is not used. */
case class ScratchScanExec(scan: InMemoryTableScanExec) extends LeafExecNode {
  @transient private lazy val finalized: InMemoryTableScanExec = {
    scan.relation.cacheBuilder.cachedColumnBuffers
    scan
  }
  override def output: Seq[Attribute] = scan.output
  override def outputPartitioning: Partitioning = finalized.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = finalized.outputOrdering
  override def supportsColumnar: Boolean = scan.supportsColumnar
  override def vectorTypes: Option[Seq[String]] = scan.vectorTypes
  override lazy val metrics: Map[String, SQLMetric] = scan.metrics
  override protected def doExecute(): RDD[InternalRow] = scan.execute()
  override protected def doExecuteColumnar(): RDD[ColumnarBatch] = scan.executeColumnar()
  override def simpleString(maxFields: Int): String = "Scratch" + scan.simpleString(maxFields)
  // Two reads of one entry canonicalize alike, so an exchange over
  // either is reused for the other.
  override protected def doCanonicalize(): SparkPlan =
    ScratchScanExec(scan.canonicalized.asInstanceOf[InMemoryTableScanExec])
}
