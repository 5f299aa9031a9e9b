package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.storage.StorageLevel

/** DataFrame materialization guards.
  *
  * Spark's `Dataset.localCheckpoint` copies the physical plan's
  * outputPartitioning/outputOrdering into the resulting `LogicalRDD` — but
  * when an upstream alias renamed the attribute the partitioning refers to
  * (e.g. `spark.range` emits RangePartitioning(id#0) and a later
  * `col("id").cast("long").as("id")` rebinds the name to a NEW exprId),
  * the stored metadata keeps the OLD attribute, which is no longer in the
  * frame's output. That stale reference is harmless to execution — until
  * the frame (or a projection of it) is `persist()`ed: on cache reuse,
  * `InMemoryRelation.withOutput` remaps every attribute through an
  * output-keyed map and throws `NoSuchElementException: key not found:
  * id#0L` (seen first in ScaleSmoke's extend phase; minimal repro in
  * CagraExtendSuite). Parquet-sourced frames are immune — their scans
  * report UnknownPartitioning.
  */
object Frames {

  private def partitioningRefs(p: Partitioning): AttributeSet = p match {
    case e: Expression => e.references
    case c: PartitioningCollection =>
      c.partitionings.map(partitioningRefs).foldLeft(AttributeSet.empty)(_ ++ _)
    case _ => AttributeSet.empty
  }

  /** True when the frame's physical partitioning/ordering metadata refers
    * to attributes outside its own output — the poisoned shape above. */
  def staleMetadata(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan
    val refs = partitioningRefs(plan.outputPartitioning) ++
      AttributeSet(plan.outputOrdering.flatMap(_.references))
    !refs.subsetOf(AttributeSet(plan.output))
  }

  /** True when the optimized plan is a driver-held `LocalRelation` (a
    * `Seq(...).toDF` frame, and any projection or filter of one): its rows
    * already sit on the driver, and reading them runs no job. */
  def isLocal(df: DataFrame): Boolean = localRows(df).isDefined

  /** The rows of a driver-held frame (`isLocal`); None for any other. */
  def localRows(df: DataFrame): Option[Seq[InternalRow]] =
    df.queryExecution.optimizedPlan match {
      case r: LocalRelation => Some(r.data)
      case _ => None
    }

  /** Materialize for repeated reads. A local-relation frame is returned
    * unchanged: re-reading it is free, so a persist would only add a job
    * to fill the cache. The healthy path is a plain `persist` (lazy,
    * lineage kept — the right at-scale posture: a lost executor
    * recomputes from lineage). When the plan carries stale partitioning
    * metadata the cache manager would crash on reuse, so the frame is
    * materialized as a `localCheckpoint` instead — a LogicalRDD is
    * referenced verbatim downstream and never goes through cache-plan
    * substitution. */
  def materialize(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    if (isLocal(df)) df
    else if (staleMetadata(df)) df.localCheckpoint()
    else df.persist(level)

  /** Release a frame obtained from `materialize` (no-op for the
    * checkpointed route — its blocks are freed by the ContextCleaner). */
  def release(df: DataFrame): Unit = df.unpersist()

  /** Row count past which the curve's held-out sample widens
    * (IvfFlatIndex.curveSampleQueries) and the DepthHint code ranking
    * switches to query-chunked fan-out — one constant so the call sites
    * cannot drift apart. */
  private[graft] val CurveScaleRows = 1000000L

  /** Run `job` over a small (qid, ...) query frame in deterministic
    * qid-sorted chunks and fold the results — the shape of the save-time
    * measurement fan-out: per-query results are independent,
    * so the combined result is identical to one job over the whole frame
    * while no single stage holds the full q×n scan. */
  private[graft] def chunkedByQid[A](q: DataFrame, chunk: Int)(
      job: DataFrame => A)(combine: (A, A) => A): A = {
    import org.apache.spark.sql.functions.col
    val qids = q.select(col("qid").cast("long")).collect()
      .map(_.getLong(0)).sorted
    if (qids.length <= chunk) job(q)
    else qids.grouped(chunk)
      .map(ids => job(q.filter(col("qid").isin(ids.map(Long.box).toSeq: _*))))
      .reduce(combine)
  }

  /** Release a frame's storage INCLUDING localCheckpoint blocks.
    * `Dataset.unpersist` only removes CacheManager entries; a
    * localCheckpoint's blocks belong to the underlying RDD (behind a
    * LogicalRDD leaf), which unpersist never sees — without this, the
    * blocks stay pinned until the Dataset is GC'd and the ContextCleaner
    * runs. Only call when the frame — and everything derived from it that
    * is not yet materialized — is truly done: a released checkpoint has no
    * lineage to recompute from. */
  def releaseCheckpoint(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
  }
}
