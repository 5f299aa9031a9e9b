package graft.core

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** One neighbor in a top-k result list. */
case class Neighbor(id: Long, dist: Double)

/** Bounded binary-heap buffer for top-k selection. Root holds the WORST
  * element so a better candidate replaces it in O(log k).
  *
  * Ordering is (dist, id) lexicographic — ascending dist for min-close
  * metrics, descending for InnerProduct — with the id tiebreak pinned
  * ascending for hash-stable output (SURVEY.md §7.4 determinism note).
  */
case class TopKBuf(var k: Int, var minClose: Boolean,
    var dists: Array[Double], var ids: Array[Long], var size: Int) {

  /** true if (d1,i1) is WORSE than (d2,i2) in result order. */
  @inline private def worse(d1: Double, i1: Long, d2: Double, i2: Long): Boolean =
    if (d1 != d2) { if (minClose) d1 > d2 else d1 < d2 } else i1 > i2

  /** Offer a candidate; true when it entered the buffer. */
  def insert(dist: Double, id: Long): Boolean = {
    if (size < k) {
      var i = size
      dists(i) = dist; ids(i) = id; size += 1
      // sift up
      while (i > 0 && worse(dists(i), ids(i), dists((i - 1) / 2), ids((i - 1) / 2))) {
        val p = (i - 1) / 2
        swap(i, p); i = p
      }
      true
    } else if (worse(dists(0), ids(0), dist, id)) {
      dists(0) = dist; ids(0) = id
      siftDown(0)
      true
    } else false
  }

  @inline private def swap(i: Int, j: Int): Unit = {
    val d = dists(i); dists(i) = dists(j); dists(j) = d
    val x = ids(i); ids(i) = ids(j); ids(j) = x
  }

  private def siftDown(start: Int): Unit = {
    var i = start
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = l + 1
      var m = i
      if (l < size && worse(dists(l), ids(l), dists(m), ids(m))) m = l
      if (r < size && worse(dists(r), ids(r), dists(m), ids(m))) m = r
      if (m == i) done = true else { swap(i, m); i = m }
    }
  }

  /** Current acceptance bound: once full, a candidate strictly worse in
    * dist than the root cannot enter (ties still can, via the id break) —
    * callers may skip exact-distance work for candidates provably past
    * this. +/-inf while filling. */
  def bound: Double =
    if (size < k) { if (minClose) Double.PositiveInfinity else Double.NegativeInfinity }
    else dists(0)

  def mergeFrom(other: TopKBuf): TopKBuf = {
    var i = 0
    while (i < other.size) { insert(other.dists(i), other.ids(i)); i += 1 }
    this
  }

  /** Sorted best-first (dist asc — or desc for IP — then id asc). */
  def result(): Seq[Neighbor] = {
    val idx = Array.range(0, size).sortWith { (i, j) => worse(dists(j), ids(j), dists(i), ids(i)) }
    idx.toSeq.map(i => Neighbor(ids(i), dists(i)))
  }
}

/** Per-group top-k as a typed Aggregator: Spark plans it as a
  * TypedImperativeAggregate with partial aggregation — each partition emits
  * at most k candidates per group before the shuffle, then buffers k-way
  * merge. This is the Spark-native twin of the reference's per-tile
  * `select_k` + `knn_merge_parts` (knn_brute_force.cuh:148-181,
  * knn_merge_parts.hpp:16-40): partial = per-tile select, merge = cross-tile
  * merge, with NO shuffle of the underlying cross product.
  */
class TopKAgg(k: Int, minClose: Boolean = true)
    extends Aggregator[(Double, Long), TopKBuf, Seq[Neighbor]] {

  override def zero: TopKBuf =
    TopKBuf(k, minClose, new Array[Double](k), new Array[Long](k), 0)

  override def reduce(b: TopKBuf, in: (Double, Long)): TopKBuf = {
    b.insert(in._1, in._2); b
  }

  override def merge(a: TopKBuf, b: TopKBuf): TopKBuf =
    if (a.size >= b.size) a.mergeFrom(b) else b.mergeFrom(a)

  override def finish(b: TopKBuf): Seq[Neighbor] = b.result()

  override def bufferEncoder: Encoder[TopKBuf] = ExpressionEncoder[TopKBuf]()
  override def outputEncoder: Encoder[Seq[Neighbor]] = ExpressionEncoder[Seq[Neighbor]]()
}

object TopK {
  /** Column aggregate: `groupBy(qid).agg(TopK.topk(k, minClose)(distCol, idCol))`
    * → array<struct<id,dist>> sorted best-first. */
  def topk(k: Int, minClose: Boolean = true)(dist: Column, id: Column): Column =
    udaf(new TopKAgg(k, minClose),
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)).apply(dist, id)
}
