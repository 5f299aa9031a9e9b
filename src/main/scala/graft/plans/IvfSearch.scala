package graft.plans

import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import graft.core.{Metric, TopKBuf}
import graft.index.{ListScan, ScanBatch}

/** How an index-routed search turns the scan's per-query top-`depth`
  * candidates into the node's top-k. */
private[graft] sealed trait Finish
/** Exact raw-vector candidates answer directly: their distances map to the
  * node metric (identity, or sqrt of the same accumulated L2 sum) and the
  * top-k is re-selected in the node's order. */
private[graft] final case class DirectFinish(sqrt: Boolean, minClose: Boolean) extends Finish
/** Exact re-rank of the candidates against the data child under the node
  * metric — refine.hpp:26-68, the Refine.refine join done as one scan. */
private[graft] final case class RefineFinish(metric: Metric) extends Finish

/** What ResolveKnnJoin decided for one index-routed kNN node: the layout
  * and its live path, the list scan, the probed batch (each query
  * position's probed lists, computed once on the driver), the probe count,
  * the reorder depth, the finish, why, and how many copies of one id the
  * lists may hold (ScaNN's SOAR spill: 2). A tiered layout also records
  * its delta tier's row count — a non-empty delta is scanned as list
  * `nLists`, which the batch has every query probe — and its base tier's
  * shape: the list-store directories it reads and the population its
  * recall curve was measured at. */
private[graft] final case class IvfSearch(layout: String, indexPath: String,
    scan: ListScan, batch: ScanBatch, nLists: Int, probes: Int, depth: Int, k: Int,
    finish: Finish, reason: String, copies: Int = 1, deltaRows: Option[Long] = None,
    baseShape: Option[graft.stream.TieredIndex.BaseShape] = None) {
  def describe: String = {
    val fin = finish match {
      case DirectFinish(sqrt, _) => if (sqrt) "direct(sqrt)" else "direct"
      case RefineFinish(m) => s"refine(${m.name})"
    }
    s"$layout $indexPath, probes=$probes/$nLists, depth=$depth, k=$k, $fin, " +
      (if (copies > 1) s"copies=$copies, " else "") +
      s"queries=${batch.size}${deltaRows.fold("")(n => s", delta=$n rows")}" +
      s"${baseShape.fold("")(b => s", dirs=${b.dirs.size}, curve@${b.curveRows}")} [$reason]"
  }
}

/** The resolved form of an index-routed KnnJoinPlan: the decision plus the
  * three inputs the search reads — the layout's list relation under a
  * `list_id IN (probed)` filter, projected to (list_id, id, the columns
  * its ListScan scores), and for a tiered layout with a non-empty delta,
  * unioned with the delta projected to the same columns under list id
  * `nLists`; the data child as (id, vec), present only for the refine
  * finish; and the driver-held (qid, qvec) query relation. Its output is
  * the node's declared attributes. GraftStrategy plans it as one
  * IvfSearchExec. */
case class IndexedKnnJoin(search: IvfSearch, lists: LogicalPlan,
    data: Option[LogicalPlan], queries: LogicalPlan,
    output: Seq[Attribute]) extends LogicalPlan {

  override def children: Seq[LogicalPlan] = lists +: data.toSeq :+ queries

  /** Every child column is consumed, so column pruning leaves the
    * children as the rule built them. */
  override def references: AttributeSet = AttributeSet(children.flatMap(_.output))
  override def producedAttributes: AttributeSet = outputSet

  override def stats: Statistics =
    Statistics(sizeInBytes = BigInt(math.max(1L, search.batch.size.toLong * search.k * 32)))

  override def simpleString(maxFields: Int): String = s"IndexedKnnJoin ${search.describe}"

  override protected def withNewChildrenInternal(
      c: IndexedSeq[LogicalPlan]): IndexedKnnJoin =
    copy(lists = c.head, data = data.map(_ => c(1)), queries = c.last)
}

/** The exact brute-force lowering of a kNN node that a registered layout
  * could not serve, with the reason (a layout in an older format) for
  * `explain` to show. Runs as its child. */
case class ExactKnnJoin(reason: String, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def simpleString(maxFields: Int): String = s"ExactKnnJoin [$reason]"
  override protected def withNewChildInternal(c: LogicalPlan): ExactKnnJoin = copy(child = c)
}

case class ExactKnnJoinExec(reason: String, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def simpleString(maxFields: Int): String = s"ExactKnnJoin [$reason]"
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(c: SparkPlan): ExactKnnJoinExec = copy(child = c)
}

/** Plans IndexedKnnJoin and ExactKnnJoin — injected by GraftExtensions
  * and installed by ResolveKnnJoin.ensureInstalled next to the rule. */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: IndexedKnnJoin =>
      IvfSearchExec(j.search, planLater(j.lists), j.data.map(planLater),
        planLater(j.queries), j.output) :: Nil
    case j: ExactKnnJoin => ExactKnnJoinExec(j.reason, planLater(j.child)) :: Nil
    case _ => Nil
  }
}

/** One IVF search as a physical operator, after cuVS's fused pass
  * (ivf_flat_search.cuh:180-283: scan each probed list with a per-query
  * top-k, select_k across lists; then refine.hpp:26-68):
  *
  *  - job 1 scans the pruned lists with the layout's ListScan, the same
  *    per-task kernel as the library search;
  *  - job 2 (refine finish only) scans the data child and scores only the
  *    candidate ids, with Distance.fn — the function vector_distance
  *    evaluates;
  *  - each task returns one buffer per qid, sized to what it holds, and
  *    the buffers merge per qid, not per query position: duplicate qids
  *    get the rows the join route gave them. While the tasks' buffers fit
  *    `spark.graft.localKernel.maxEdges` entries in all, each task's merge
  *    into the driver's as it finishes (the RDD.reduce pattern); past that
  *    they merge by qid through a shuffle inside the same job, so the
  *    driver receives each qid's buffer once. Either way the driver holds
  *    O(queries·depth) entries, which ResolveKnnJoin keeps within the same
  *    budget.
  *
  * `collect()` therefore runs one job per scan; `execute()` adds one to
  * ship the rows. */
case class IvfSearchExec(search: IvfSearch, lists: SparkPlan, data: Option[SparkPlan],
    queries: SparkPlan, output: Seq[Attribute]) extends SparkPlan {

  override def children: Seq[SparkPlan] = lists +: data.toSeq :+ queries

  override def simpleString(maxFields: Int): String = s"IvfSearchExec ${search.describe}"

  override def executeCollect(): Array[InternalRow] =
    IvfSearchExec.run(sparkContext, search, lists, data, queries.executeCollect(), output,
      graft.graphops.LocalKernel.maxEdges(session))

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toIndexedSeq, 1)

  override protected def withNewChildrenInternal(
      c: IndexedSeq[SparkPlan]): IvfSearchExec =
    copy(lists = c.head, data = data.map(_ => c(1)), queries = c.last)
}

private[graft] object IvfSearchExec {

  private def newBuf(k: Int, minClose: Boolean): TopKBuf =
    TopKBuf(k, minClose, new Array[Double](k), new Array[Long](k), 0)

  /** `b` with arrays of its size: what a task ships. */
  private def trimmed(b: TopKBuf): TopKBuf =
    if (b == null || b.size == b.dists.length) b
    else TopKBuf(b.size, b.minClose, java.util.Arrays.copyOf(b.dists, b.size),
      java.util.Arrays.copyOf(b.ids, b.size), b.size)

  /** Task side: per-position buffers (capacity `k`) into one trimmed
    * buffer per qid slot. */
  private def bySlot(bufs: Array[TopKBuf], slot: Array[Int], nSlots: Int): Array[TopKBuf] = {
    val out = new Array[TopKBuf](nSlots)
    var i = 0
    while (i < bufs.length) {
      if (bufs(i) != null) {
        val s = slot(i)
        if (out(s) == null) out(s) = bufs(i) else out(s).mergeFrom(bufs(i))
      }
      i += 1
    }
    out.map(trimmed)
  }

  /** One job over `tasks` — each task's trimmed per-slot buffers — merged
    * per slot into top-`k` buffers on the driver. Merged as each task
    * finishes while all tasks' buffers together fit `maxEntries`; past
    * that, by slot through a shuffle, so the driver receives each slot's
    * buffer once. */
  private def mergeJob(sc: SparkContext, tasks: RDD[Array[TopKBuf]], nSlots: Int, k: Int,
      minClose: Boolean, maxEntries: Long): Array[TopKBuf] = {
    val top = new Array[TopKBuf](nSlots)
    val parts = tasks.getNumPartitions
    if (parts.toLong * nSlots * k <= maxEntries)
      sc.runJob(tasks, (it: Iterator[Array[TopKBuf]]) => it.next(),
        (_: Int, bufs: Array[TopKBuf]) => {
          var s = 0
          while (s < nSlots) {
            if (bufs(s) != null) {
              if (top(s) == null) top(s) = newBuf(k, minClose)
              top(s).mergeFrom(bufs(s))
            }
            s += 1
          }
        })
    else {
      val merged = tasks
        .flatMap(bufs => bufs.indices.iterator.filter(bufs(_) != null).map(s => (s, bufs(s))))
        .combineByKey((b: TopKBuf) => newBuf(k, minClose).mergeFrom(b),
          (c: TopKBuf, b: TopKBuf) => c.mergeFrom(b),
          (a: TopKBuf, b: TopKBuf) => a.mergeFrom(b),
          new HashPartitioner(math.max(1, parts)), mapSideCombine = false)
        .mapValues(trimmed)
      sc.runJob(merged, (it: Iterator[(Int, TopKBuf)]) => it.toArray,
        (_: Int, got: Array[(Int, TopKBuf)]) => got.foreach { case (s, b) => top(s) = b })
    }
    top
  }

  /** The search over `qrows` — (qid long, qvec array<float>), aligned with
    * the decision's probed batch — as (qid, nbr_id, rank, dist) rows,
    * qid-ascending then best-first. */
  def run(sc: SparkContext, s: IvfSearch, lists: SparkPlan, data: Option[SparkPlan],
      qrows: Array[InternalRow], output: Seq[Attribute], maxEntries: Long): Array[InternalRow] = {
    require(qrows.length == s.batch.size,
      s"query relation holds ${qrows.length} rows, the probed batch ${s.batch.size}")
    if (qrows.isEmpty) return Array.empty
    val qid = qrows.map(_.getLong(0))
    val qids = qid.distinct.sorted
    val slotOfQid = qids.zipWithIndex.toMap
    val slot = qid.map(slotOfQid)

    // job 1: the probed lists, top-`depth` per qid. Lists that hold up to
    // `copies` copies of an id buffer copies·depth entries per query
    // position, times the positions a qid has, so the buffer still holds
    // the better copy of every id of the deduplicated top-depth.
    val (scan, nSlots) = (s.scan, qids.length)
    val width =
      if (s.copies == 1) s.depth
      else s.depth * s.copies * slot.groupBy(identity).valuesIterator.map(_.length).max
    val bcBatch = sc.broadcast(s.batch)
    val merged =
      try mergeJob(sc, lists.execute().mapPartitions(rows =>
          Iterator(bySlot(scan.scan(rows, bcBatch.value, width), slot, nSlots))),
        nSlots, width, scan.minClose, maxEntries)
      finally bcBatch.destroy()
    val cand = if (s.copies == 1) merged else merged.map(bestCopies(_, s.depth))

    val top: Array[TopKBuf] = s.finish match {
      case DirectFinish(sqrt, minClose) => cand.map { c =>
        if (c == null) null
        else {
          val b = newBuf(s.k, minClose)
          var j = 0
          while (j < c.size) {
            b.insert(if (sqrt) math.sqrt(c.dists(j)) else c.dists(j), c.ids(j))
            j += 1
          }
          b
        }
      }
      case RefineFinish(metric) =>
        refine(sc, data.getOrElse(throw new IllegalStateException(
          "refine finish without a data child")), cand, qrows, slot, s.k, metric, maxEntries)
    }

    val toUnsafe = UnsafeProjection.create(output.map(_.dataType).toArray)
    val out = Array.newBuilder[InternalRow]
    qids.indices.foreach { q =>
      if (top(q) != null)
        top(q).result().zipWithIndex.foreach { case (n, r) =>
          out += toUnsafe(InternalRow(qids(q), n.id, r + 1, n.dist)).copy()
        }
    }
    out.result()
  }

  /** The top-`k` distinct ids of `b`, each at its better copy's score. */
  private def bestCopies(b: TopKBuf, k: Int): TopKBuf =
    if (b == null) null
    else {
      val out = newBuf(k, b.minClose)
      val seen = new java.util.HashSet[Long]()
      b.result().foreach(n => if (out.size < k && seen.add(n.id)) out.insert(n.dist, n.id))
      out
    }

  /** Job 2: exact `metric` distances of every (qid, candidate id) pair —
    * one per candidate entry, data row with that id, and query row with
    * that qid, as the join of Refine.refine pairs them — top-k per qid. */
  private def refine(sc: SparkContext, data: SparkPlan, cand: Array[TopKBuf],
      qrows: Array[InternalRow], slot: Array[Int], k: Int,
      metric: Metric, maxEntries: Long): Array[TopKBuf] = {
    val wanted = new java.util.HashMap[Long, Array[Int]]()
    cand.indices.foreach { q =>
      val c = cand(q)
      if (c != null) (0 until c.size).foreach { j =>
        val prev = wanted.get(c.ids(j))
        wanted.put(c.ids(j), if (prev == null) Array(q) else prev :+ q)
      }
    }
    val vecs: Array[Array[Array[Float]]] = {
      val by = Array.fill(cand.length)(Array.newBuilder[Array[Float]])
      qrows.indices.foreach(i => by(slot(i)) += qrows(i).getArray(1).toFloatArray())
      by.map(_.result())
    }
    val minClose = Metric.isMinClose(metric)
    val bc = sc.broadcast((wanted, vecs))
    try mergeJob(sc, data.execute().mapPartitions { rows =>
      val (w, qv) = bc.value
      val fn = graft.core.Distance.fn(metric)
      val bufs = new Array[TopKBuf](qv.length)
      rows.foreach { row =>
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val id = row.getLong(0)
          val slots = w.get(id)
          if (slots != null) {
            val nvec = row.getArray(1).toFloatArray()
            slots.foreach { q =>
              if (bufs(q) == null) bufs(q) = newBuf(k, minClose)
              qv(q).foreach(v => bufs(q).insert(fn(v, nvec), id))
            }
          }
        }
      }
      Iterator(bufs.map(trimmed))
    }, cand.length, k, minClose, maxEntries)
    finally bc.destroy()
  }
}
