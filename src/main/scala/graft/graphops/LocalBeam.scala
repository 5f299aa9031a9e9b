package graft.graphops

import java.util.{HashMap => JHashMap}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import graft.core.{Distance, GraftConf, Metric}

/** Size gate for the single-pass in-memory kernel routes.
  *
  * The iterative DataFrame loops (GraphSearch, HNSW descent) are the
  * at-scale plans: per-query state broadcasts, the graph never leaves the
  * executors, and nothing is collected — correct at any data size. But each
  * round is a full Spark job, so on a graph that would comfortably fit in a
  * broadcast the loop pays orders of magnitude more in job scheduling than
  * in compute. This is the same economics as Spark's broadcast-hash vs
  * sort-merge join choice, and we resolve it the same way: a size
  * threshold, checked at plan time, that swaps in a kernel which broadcasts
  * the graph + vectors once and runs the whole traversal in a single
  * mapPartitions pass over the (arbitrarily large, never collected) query
  * side. Above the threshold — the 100 TB regime — the distributed loop
  * runs unchanged.
  */
object LocalKernel {
  def enabled(spark: SparkSession): Boolean = GraftConf.LocalKernelEnabled.get(spark)
  /** Max edges the broadcast route may collect (~16 B/edge → 64 MB). */
  def maxEdges(spark: SparkSession): Long = GraftConf.LocalKernelMaxEdges.get(spark)
  /** Max vectors the broadcast route may collect (~4·dim B/vec). */
  def maxVectors(spark: SparkSession): Long = GraftConf.LocalKernelMaxVectors.get(spark)

  /** True iff `df` holds at most `cap` rows. The gate only ever needs
    * "within the cap?", never an exact size.
    *
    * A static row bound answers first, with no job: when the optimized
    * plan bounds its row count (`maxRows` — a `LocalRelation`, a `Limit`,
    * a one-row aggregate, and projections or filters of those) and that
    * bound is within the cap, so is the frame. A `LocalRelation` — a
    * query frame built on the driver (`Seq(...).toDF`) — is answered
    * without a job either way: `countUpTo` returns its exact size.
    *
    * Otherwise `countUpTo` probes partitions incrementally (executeTake's
    * 8-then-4x scan pattern, but shipping per-partition COUNTS — never
    * rows — to the driver) and stops as soon as cap+1 rows are seen. On
    * the at-scale branch the probe ends after the first few partitions
    * instead of paying a full pass over a huge operand just to decide the
    * route (the r6 verdict's CagraExtend finding, applied engine-wide).
    * Each task also stops iterating at cap+1 rows, so a single giant
    * partition can't make one task scan past the answer. NOTE: a plain
    * `limit(cap+1).count()` would NOT do — its GlobalLimit plans a
    * single-partition shuffle of every local-limited partition, a
    * full-data funnel at scale. AQE caveat: on a shuffle-bearing
    * uncheckpointed plan, `queryExecution.toRdd` (AdaptiveSparkPlanExec)
    * materializes the upstream shuffle stages before the first probe
    * job, so the early exit only short-circuits the FINAL scan there —
    * never worse than a full count(), but the full win needs a
    * shuffle-free (scanned/checkpointed) input, which is what the gated
    * call sites pass. */
  def within(df: org.apache.spark.sql.DataFrame, cap: Long): Boolean =
    within(df.queryExecution, cap)

  /** `within` for a plan's QueryExecution (a caller inside the optimizer
    * holds a plan, not a DataFrame). */
  def within(qe: org.apache.spark.sql.execution.QueryExecution, cap: Long): Boolean = {
    // a huge configured cap must still be honored (the arithmetic below is
    // Long throughout); only a negative cap is an automatic "over"
    if (cap < 0) return false
    qe.optimizedPlan.maxRows.exists(_ <= cap) || countUpTo(qe, cap) <= cap
  }

  /** min-work row count: the incremental partition probe behind `within`,
    * exposed for callers that need the bounded count itself. Returns the
    * exact row count when it is <= cap, and some value > cap (not the
    * exact count) as soon as cap is exceeded — work is bounded by the cap,
    * never by the operand's size. */
  def countUpTo(df: org.apache.spark.sql.DataFrame, cap: Long): Long =
    countUpTo(df.queryExecution, cap)

  private def countUpTo(qe: org.apache.spark.sql.execution.QueryExecution, cap: Long): Long = {
    // a driver-held frame knows its exact size: no job
    qe.optimizedPlan match {
      case l: LocalRelation => return l.data.length.toLong
      case _ => ()
    }
    val rdd = qe.toRdd
    val sc = qe.sparkSession.sparkContext
    val nParts = rdd.partitions.length
    var seen = 0L
    var scanned = 0
    var batch = 8
    while (scanned < nParts && seen <= cap) {
      val upTo = math.min(nParts, scanned + batch)
      val need = cap + 1 - seen
      val counts = sc.runJob(rdd,
        (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
          var c = 0L
          while (it.hasNext && c < need) { it.next(); c += 1 }
          c
        }, scanned until upTo)
      seen += counts.sum
      scanned = upTo
      batch *= 4
    }
    seen
  }
}

/** Per-query greedy beam traversal — the in-memory twin of
  * [[GraphSearch]]'s per-round DataFrame loop, kept round-for-round
  * identical so the two routes return the SAME rows:
  * same (dist asc, id asc) frontier/beam ordering (ascending regardless of
  * metric, mirroring the loop's windows), same anti-join-before-score
  * candidate dedup, same fixed round count, same double-accumulation
  * distance kernels ([[graft.core.Distance]] == the codegen expression),
  * same final (dist, id) top-k direction per metric.
  */
object LocalBeam {

  final class Entry(val id: Long, val dist: Double, var expanded: Boolean)

  /** src -> dst adjacency from a collected edge list. */
  def buildAdj(pairs: Array[(Long, Long)]): JHashMap[Long, Array[Long]] = {
    val tmp = new JHashMap[Long, ArrayBuffer[Long]]()
    var i = 0
    while (i < pairs.length) {
      val (s, d) = pairs(i)
      var buf = tmp.get(s)
      if (buf == null) { buf = new ArrayBuffer[Long](); tmp.put(s, buf) }
      buf += d
      i += 1
    }
    val out = new JHashMap[Long, Array[Long]](tmp.size * 2)
    tmp.forEach((k, v) => out.put(k, v.toArray))
    out
  }

  /** One full traversal; returns the final beam (unsorted). */
  def run(qvec: Array[Float], seeds: Array[Long],
      adj: JHashMap[Long, Array[Long]], vecs: JHashMap[Long, Array[Float]],
      distFn: (Array[Float], Array[Float]) => Double,
      itopk: Int, searchWidth: Int, maxIterations: Int): ArrayBuffer[Entry] = {

    // seed beam: distinct seed ids present in the dataset (the DataFrame
    // route's seeds.distinct() + inner join with data)
    var beam = new ArrayBuffer[Entry]()
    val seen = new java.util.HashSet[Long]()
    var si = 0
    while (si < seeds.length) {
      val s = seeds(si)
      if (seen.add(s)) {
        val v = vecs.get(s)
        if (v != null) beam += new Entry(s, distFn(qvec, v), false)
      }
      si += 1
    }

    val byDistId: Ordering[Entry] = Ordering.by(e => (e.dist, e.id))
    var it = 0
    while (it < maxIterations) {
      // frontier: best searchWidth unexpanded by (dist asc, id asc)
      val frontier = beam.filter(!_.expanded).sorted(byDistId).take(searchWidth)
      if (frontier.nonEmpty) {
        // candidates: frontier out-edges, distinct, not already in the beam
        val inBeam = new java.util.HashSet[Long](beam.length * 2)
        beam.foreach(e => inBeam.add(e.id))
        val cand = new ArrayBuffer[Entry]()
        val candSeen = new java.util.HashSet[Long]()
        frontier.foreach { f =>
          val dsts = adj.get(f.id)
          if (dsts != null) {
            var i = 0
            while (i < dsts.length) {
              val d = dsts(i)
              if (!inBeam.contains(d) && candSeen.add(d)) {
                val v = vecs.get(d)
                if (v != null) cand += new Entry(d, distFn(qvec, v), false)
              }
              i += 1
            }
          }
        }
        frontier.foreach(_.expanded = true)
        beam ++= cand
        // re-top-k to itopk by (dist asc, id asc)
        if (beam.length > itopk) beam = beam.sorted(byDistId).take(itopk)
      } else {
        // converged: every beam entry expanded — further rounds are no-ops
        // (the DataFrame loop keeps its fixed round count; its rows are
        // identical because empty frontiers propose nothing there either)
        it = maxIterations
      }
      it += 1
    }
    beam
  }

  /** Final select_k epilogue: (id, rank, dist) best-first under the
    * metric's direction, id-ascending tie-break — TopKBuf semantics. */
  def topK(beam: ArrayBuffer[Entry], k: Int, minClose: Boolean): Seq[(Long, Int, Double)] = {
    val ord: Ordering[Entry] =
      if (minClose) Ordering.by(e => (e.dist, e.id))
      else Ordering.by((e: Entry) => (-e.dist, e.id))
    beam.sorted(ord).take(k).zipWithIndex
      .map { case (e, i) => (e.id, i + 1, e.dist) }.toSeq
  }
}
