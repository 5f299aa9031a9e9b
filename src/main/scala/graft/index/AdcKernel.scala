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
  * (CentroidOps.nearest / CentroidOps.residual / PqOps.lut), and the ADC
  * sum runs in the same subspace order as PqOps.adc — so the kernel is
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

  /** (qid, _nid, dist) ADC candidates: parts·|Q|·bufK rows into the
    * caller's dedup/top-k epilogue. */
  def pairs(lists: DataFrame, q: DataFrame, cs: CentroidSet, cb: PqCodebooks,
      probesOf: Long => Int, bufK: Int, codesCol: String): DataFrame =
    pairsWith(lists, q, cs, probesOf, bufK, codesCol, cb.nCenters)(
      (lid, qv) => PqOps.lut(cb, CentroidOps.residual(cs, qv, lid)).toDoubleArray())

  /** Same kernel with a caller-supplied per-(list, RAW query vector) LUT —
    * the PER_CLUSTER codebook_gen variant plugs PqClusterOps.lut (over the
    * residual it computes itself) in here; the inner-product estimator
    * plugs PqOps.lutIp (which needs the raw query, not a residual). The
    * LUT function runs driver-side only (tables are built before the
    * broadcast); the streaming ADC loop is unchanged. `minClose` orders
    * the per-partition buffers (false for InnerProduct: larger dot =
    * closer, is_min_close distance.hpp:72-85). */
  def pairsWith(lists: DataFrame, q: DataFrame, cs: CentroidSet,
      probesOf: Long => Int, bufK: Int, codesCol: String, nCenters: Int,
      minClose: Boolean = true)(
      lutFor: (Int, org.apache.spark.sql.catalyst.util.ArrayData) => Array[Double]): DataFrame = {
    val spark = lists.sparkSession
    import spark.implicits._
    val qArr = q.as[(Long, Array[Float])].collect()
    // per-query probes via the same coarse select_k as the expression route
    val byList = new java.util.HashMap[Int,
      scala.collection.mutable.ArrayBuffer[(Int, Array[Double])]]()
    // one table per distinct (list, query vector): the curve sweep submits
    // each sample query once per probe point, and the copies share tables
    val luts = new java.util.HashMap[(Int, Seq[Float]), Array[Double]]()
    qArr.zipWithIndex.foreach { case ((qid, qvec), qi) =>
      val qad = new GenericArrayData(qvec)
      val probed = CentroidOps.nearest(cs, qad, probesOf(qid))
      var p = 0
      while (p < probed.numElements()) {
        val lid = probed.getStruct(p, 2).getInt(0)
        val lut = luts.computeIfAbsent(
          (lid, scala.collection.immutable.ArraySeq.unsafeWrapArray(qvec)), _ => lutFor(lid, qad))
        var b = byList.get(lid)
        if (b == null) {
          b = new scala.collection.mutable.ArrayBuffer[(Int, Array[Double])]()
          byList.put(lid, b)
        }
        b += ((qi, lut))
        p += 1
      }
    }
    val probeIdx = new java.util.HashMap[Int, Array[(Int, Array[Double])]](byList.size * 2)
    byList.forEach((l, b) => probeIdx.put(l, b.toArray))
    val probedLids = {
      val b = scala.collection.mutable.ArrayBuffer[Int]()
      probeIdx.forEach((l, _) => b += l)
      b.toSeq
    }
    val bcQ = spark.sparkContext.broadcast(qArr.map(_._1))
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
        val qids = bcQ.value; val pi = bcProbes.value
        val bufs = new java.util.HashMap[Int, graft.core.TopKBuf]()
        rows.foreach { case (lid, nid, codes) =>
          val probing = pi.get(lid)
          if (probing != null) {
            var t = 0
            while (t < probing.length) {
              val (qi, lut) = probing(t)
              // same subspace-order sum as PqOps.adc
              var d = 0.0
              var s = 0
              while (s < codes.length) { d += lut(s * nC + codes(s)); s += 1 }
              var buf = bufs.get(qi)
              if (buf == null) {
                buf = graft.core.TopKBuf(kk, mc,
                  new Array[Double](kk), new Array[Long](kk), 0)
                bufs.put(qi, buf)
              }
              buf.insert(d, nid)
              t += 1
            }
          }
        }
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
        bufs.forEach { (qi, buf) =>
          (0 until buf.size).foreach(j => out += ((qids(qi), buf.ids(j), buf.dists(j))))
        }
        out.iterator
      }
      .toDF("qid", "_nid", "dist")
  }
}
