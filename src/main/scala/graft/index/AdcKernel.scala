package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import graft.expr.{CentroidOps, CentroidSet, PqCodebooks, PqOps}

/** Fused probe+LUT+ADC select_k kernel shared by the PQ-coded indexes
  * (IVF-PQ, ScaNN) — the broadcast twin of their probe-join route, gated by
  * graft.graphops.LocalKernel at the call sites.
  *
  * Probe selection and the per-(query, probed-list) lookup tables are
  * computed with the SAME JVM functions the codegen expressions call
  * (CentroidOps.nearest / CentroidOps.residualRaw / PqOps.lutRaw), and the
  * ADC sum runs in the same subspace order as PqOps.adc — so the kernel is
  * bit-identical to the join route. Lists stream (never collected); the
  * probed list set is known at plan time, so unprobed partitions of a
  * saved index are pruned statically.
  *
  * `probesOf`: each query's probe count, by qid — one count for a plain
  * search; the save-time curve sweep searches its sample once per probe
  * point in a single pass (CurveTruth.candidateCoverage).
  *
  * `bufK`: per-partition buffer size. k suffices when every id appears in
  * at most one probed list (IVF-PQ); spilled layouts (ScaNN SOAR: ≤ 2
  * copies per id) pass 2k — a partition's top-2k WITH duplicates always
  * contains the best copy of every id in its dedup-min top-k.
  */
private[index] object AdcKernel {

  /** Up to `Rows` coded rows of one list, codes flattened row-major. */
  private final class Block(val width: Int) {
    val codes = new Array[Int](Rows * width)
    val ids = new Array[Long](Rows)
    var n = 0
    /** Append a row; true when the block is full. */
    def add(id: Long, c: Array[Int]): Boolean = {
      require(c.length == width, s"mixed code widths in one list: ${c.length} vs $width")
      System.arraycopy(c, 0, codes, n * width, width)
      ids(n) = id
      n += 1
      n == Rows
    }
  }
  private val Rows = 256

  /** (qid, _nid, dist) ADC candidates: parts·|Q|·bufK rows into the
    * caller's dedup/top-k epilogue. */
  def pairs(lists: DataFrame, q: DataFrame, cs: CentroidSet, cb: PqCodebooks,
      probesOf: Long => Int, bufK: Int, codesCol: String): DataFrame =
    pairsWith(lists, q, cs, probesOf, bufK, codesCol, cb.nCenters)(
      (lid, qv) => PqOps.lutRaw(cb, CentroidOps.residualRaw(cs, qv, lid)))

  /** Same kernel with a caller-supplied per-(list, RAW query vector) LUT —
    * the PER_CLUSTER codebook_gen variant plugs PqClusterOps.lutRaw (over
    * the residual it computes itself) in here; the inner-product estimator
    * plugs PqOps.lutIpRaw (which needs the raw query, not a residual).
    *
    * Tables are built where they are used, as the reference builds them
    * inside its similarity kernel per probed list: the driver broadcasts
    * only the query ids, the distinct query vectors and the list -> probing
    * query map, and each task builds the tables of a list when it first
    * scores rows of that list — one table per (list, distinct query
    * vector), so the curve sweep's per-probe-point copies of a query share
    * one. A task therefore holds only the tables of the lists it reads, and
    * the driver none. Rows are scored in blocks per list, one probing query
    * at a time over the whole block, so that query's table stays in cache;
    * each query's buffer sees the same candidates as in row order, so the
    * (dist, id) top-k is the same. `minClose` orders the per-query buffers
    * (false for InnerProduct: larger dot = closer, is_min_close
    * distance.hpp:72-85). */
  def pairsWith(lists: DataFrame, q: DataFrame, cs: CentroidSet,
      probesOf: Long => Int, bufK: Int, codesCol: String, nCenters: Int,
      minClose: Boolean = true)(
      lutFor: (Int, Array[Float]) => Array[Double]): DataFrame = {
    val spark = lists.sparkSession
    import spark.implicits._
    val qArr = q.as[(Long, Array[Float])].collect()
    // query position -> distinct-vector slot
    val slotOf = new java.util.HashMap[Seq[Float], Int]()
    val vecs = scala.collection.mutable.ArrayBuffer[Array[Float]]()
    val vecOf = new Array[Int](qArr.length)
    // per-query probes via the same coarse select_k as the expression route
    val byList = new java.util.HashMap[Int, scala.collection.mutable.ArrayBuffer[Int]]()
    qArr.zipWithIndex.foreach { case ((qid, qvec), qi) =>
      vecOf(qi) = slotOf.computeIfAbsent(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(qvec),
        _ => { vecs += qvec; vecs.length - 1 })
      val probed = CentroidOps.nearest(cs, new GenericArrayData(qvec), probesOf(qid))
      var p = 0
      while (p < probed.numElements()) {
        val lid = probed.getStruct(p, 2).getInt(0)
        var b = byList.get(lid)
        if (b == null) {
          b = new scala.collection.mutable.ArrayBuffer[Int]()
          byList.put(lid, b)
        }
        b += qi
        p += 1
      }
    }
    val probeIdx = new java.util.HashMap[Int, Array[Int]](byList.size * 2)
    byList.forEach((l, b) => probeIdx.put(l, b.toArray))
    val probedLids = {
      val b = scala.collection.mutable.ArrayBuffer[Int]()
      probeIdx.forEach((l, _) => b += l)
      b.toSeq
    }
    val bcQ = spark.sparkContext.broadcast((qArr.map(_._1), vecs.toArray, vecOf))
    val bcProbes = spark.sparkContext.broadcast(probeIdx)
    val nC = nCenters
    val kk = bufK
    val mc = minClose
    lists
      .filter(col("list_id").isInCollection(probedLids))
      .select(col("list_id").cast("int"), col("id").cast("long"),
        col(codesCol).cast("array<int>"))
      .as[(Int, Long, Array[Int])]
      .mapPartitions { rows =>
        val (qids, qvecs, slot) = bcQ.value
        val pi = bcProbes.value
        val bufs = new Array[graft.core.TopKBuf](qids.length)
        // list -> the tables of its probing queries, aligned with pi(list)
        val tables = new java.util.HashMap[Int, Array[Array[Double]]]()
        // list -> its rows not yet scored (block order: see the doc above)
        val pending = new java.util.HashMap[Int, AdcKernel.Block]()
        def score(lid: Int, b: AdcKernel.Block): Unit = {
          val probing = pi.get(lid)
          var luts = tables.get(lid)
          if (luts == null) {
            val bySlot = new java.util.HashMap[Int, Array[Double]]()
            luts = probing.map(qi =>
              bySlot.computeIfAbsent(slot(qi), v => lutFor(lid, qvecs(v))))
            tables.put(lid, luts)
          }
          val w = b.width
          var t = 0
          while (t < probing.length) {
            val lut = luts(t)
            val qi = probing(t)
            var buf = bufs(qi)
            if (buf == null) {
              buf = graft.core.TopKBuf(kk, mc, new Array[Double](kk), new Array[Long](kk), 0)
              bufs(qi) = buf
            }
            var r = 0
            while (r < b.n) {
              // same subspace-order sum as PqOps.adc
              val off = r * w
              var d = 0.0
              var s = 0
              while (s < w) { d += lut(s * nC + b.codes(off + s)); s += 1 }
              buf.insert(d, b.ids(r))
              r += 1
            }
            t += 1
          }
          b.n = 0
        }
        rows.foreach { case (lid, nid, codes) =>
          if (pi.containsKey(lid)) {
            var b = pending.get(lid)
            if (b == null) { b = new AdcKernel.Block(codes.length); pending.put(lid, b) }
            if (b.add(nid, codes)) score(lid, b)
          }
        }
        pending.forEach((lid, b) => if (b.n > 0) score(lid, b))
        bufs.iterator.zipWithIndex.filter(_._1 != null).flatMap { case (buf, qi) =>
          (0 until buf.size).iterator.map(j => (qids(qi), buf.ids(j), buf.dists(j)))
        }
      }
      .toDF("qid", "_nid", "dist")
  }
}
