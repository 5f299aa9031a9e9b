package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import graft.core.Metric

/** A trained centroid set (k x dim, row-major flat) carried into tasks as a
  * codegen reference object — the broadcast-centroids side of the
  * reference's coarse search (ivf_flat_search.cuh:41-188: query x centroid
  * GEMM + select_k of n_probes cells; here: one fused scan per row).
  */
case class CentroidSet(flat: Array[Float], k: Int, dim: Int, metricName: String)
    extends Serializable {
  @transient lazy val metricId: Int = VectorDistanceOps.id(Metric.fromName(metricName))
  @transient lazy val minClose: Boolean = Metric.isMinClose(Metric.fromName(metricName))

  def centroid(c: Int): Array[Float] = {
    val out = new Array[Float](dim)
    System.arraycopy(flat, c * dim, out, 0, dim)
    out
  }
  def centroids: Array[Array[Float]] = Array.tabulate(k)(centroid)

  /** Two-level pruning index over the centroids (null when k is small or
    * the metric has no usable triangle inequality). Non-transient lazy:
    * forced on the driver at expression construction so the built index
    * ships inside the task binary instead of being rebuilt per executor. */
  lazy val mesoIndex: MesoIndex = MesoIndex.buildOrNull(this)
}

/** Mesocluster prune structure for exact nearest-centroid scans at large k —
  * the same two-level scheme the reference's balanced k-means uses to avoid
  * the full n·k argmin (kmeans_balanced.cuh mesocluster assignment), except
  * ours is EXACT: mesos are visited in lower-bound order
  * (d(v, mesocenter) − radius, valid by the triangle inequality in the
  * prune space) and the scan stops once the bound cannot beat the current
  * p-th best, with an epsilon slack so float rounding can never change the
  * selected set. Candidate distances are still computed by the same
  * `distTo` as the flat scan, so results are bit-identical.
  *
  * Prune spaces: L2SQRT/L1 prune in the metric itself; L2 prunes in sqrt
  * space (monotone); COSINE prunes in plain L2 over unit-normalized
  * centroids (cosDist = ||â−b̂||²/2; zero-norm rows only make the bound
  * conservative, never invalid). Other metrics get no index. */
case class MesoIndex(mesoFlat: Array[Float], m: Int, dim: Int,
    members: Array[Array[Int]], radius: Array[Double], space: Int)
    extends Serializable

object MesoIndex {
  val SpaceIdentity = 0 // metric is itself the prune metric (L2SQRT, L1)
  val SpaceSqrtL2 = 1   // output = prune², prune = L2SQRT over raw vectors
  val SpaceCosine = 2   // prune = L2SQRT over unit-normalized vectors

  /** Engage only where the flat scan is actually expensive. */
  val minK = 512

  /** Prune-space distance between `a` and the dim-vector at
    * `flat[o..o+dim)`. Shared by the index build (radii) and the query
    * scan so both sides of the lower-bound argument use the SAME
    * arithmetic — two drifting copies would silently invalidate the
    * prune. */
  def pruneDist(l1: Boolean, a: Array[Float], flat: Array[Float], o: Int,
      dim: Int): Double =
    if (l1) {
      var s = 0.0; var i = 0
      while (i < dim) { s += math.abs(a(i).toDouble - flat(o + i)); i += 1 }
      s
    } else {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i).toDouble - flat(o + i); s += d * d; i += 1 }
      math.sqrt(s)
    }

  def buildOrNull(cs: CentroidSet): MesoIndex = {
    if (cs.k < minK) return null
    val space = cs.metricId match {
      case VectorDistanceOps.L2 => SpaceSqrtL2
      case VectorDistanceOps.L2SQRT => SpaceIdentity
      case VectorDistanceOps.L1 => SpaceIdentity
      case VectorDistanceOps.COSINE => SpaceCosine
      case _ => return null
    }
    val dim = cs.dim
    // centroids mapped into the prune space
    val pts = Array.tabulate(cs.k) { c =>
      val v = cs.centroid(c)
      if (space == SpaceCosine) {
        var s = 0.0; var i = 0
        while (i < dim) { s += v(i).toDouble * v(i); i += 1 }
        val n = math.sqrt(s)
        if (n > 0) { i = 0; while (i < dim) { v(i) = (v(i) / n).toFloat; i += 1 } }
      }
      v
    }
    val l1 = space == SpaceIdentity && cs.metricId == VectorDistanceOps.L1
    def pruneDist(a: Array[Float], off: Array[Float], o: Int): Double =
      MesoIndex.pruneDist(l1, a, off, o, dim)
    // deterministic small Lloyd over the k centroid points: m = ceil(sqrt(k))
    val m = math.ceil(math.sqrt(cs.k.toDouble)).toInt
    var centers = Array.tabulate(m)(j => pts(((j.toLong * cs.k) / m).toInt).clone())
    val assign = new Array[Int](cs.k)
    var it = 0
    while (it < 5) {
      val flatC = new Array[Float](m * dim)
      var j = 0
      while (j < m) { System.arraycopy(centers(j), 0, flatC, j * dim, dim); j += 1 }
      var c = 0
      while (c < cs.k) {
        var best = 0; var bestD = Double.MaxValue
        j = 0
        while (j < m) {
          val d = pruneDist(pts(c), flatC, j * dim)
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        assign(c) = best
        c += 1
      }
      val sums = Array.fill(m)(new Array[Double](dim))
      val cnt = new Array[Int](m)
      c = 0
      while (c < cs.k) {
        val s = sums(assign(c)); val v = pts(c)
        var i = 0
        while (i < dim) { s(i) += v(i); i += 1 }
        cnt(assign(c)) += 1
        c += 1
      }
      centers = Array.tabulate(m) { jj =>
        if (cnt(jj) == 0) centers(jj)
        else { val o = new Array[Float](dim)
          var i = 0
          while (i < dim) { o(i) = (sums(jj)(i) / cnt(jj)).toFloat; i += 1 }
          o }
      }
      it += 1
    }
    val mesoFlat = new Array[Float](m * dim)
    var j = 0
    while (j < m) { System.arraycopy(centers(j), 0, mesoFlat, j * dim, dim); j += 1 }
    val memB = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
    var c = 0
    while (c < cs.k) { memB(assign(c)) += c; c += 1 } // ascending ids per meso
    val radius = new Array[Double](m)
    c = 0
    while (c < cs.k) {
      val d = pruneDist(pts(c), mesoFlat, assign(c) * dim)
      if (d > radius(assign(c))) radius(assign(c)) = d
      c += 1
    }
    MesoIndex(mesoFlat, m, dim, memB.map(_.toArray), radius, space)
  }
}

object CentroidOps {
  /** Top-p nearest centroids of `vec`, best first, (list_id, dist) pairs —
    * full scan over k centroids, insertion-select into a size-p buffer.
    * p is tiny (1..~32) so insertion sort beats a heap. */
  def nearest(cs: CentroidSet, vec: ArrayData, p: Int): ArrayData = {
    val dim = cs.dim
    val v = new Array[Float](dim)
    var i = 0
    while (i < dim) { v(i) = vec.getFloat(i); i += 1 }
    val mi = cs.mesoIndex
    if (mi != null) {
      val out = nearestPruned(cs, mi, v, p)
      if (out != null) return out
    }
    nearestFlat(cs, v, p)
  }

  /** The reference flat scan (also the fallback when no meso index
    * applies); package-visible so tests can pin pruned == flat. */
  private[graft] def nearestFlat(cs: CentroidSet, v: Array[Float], p: Int): ArrayData = {
    val n = math.min(p, cs.k)
    val bestId = new Array[Int](n)
    val bestD = new Array[Double](n)
    var size = 0
    val sign = if (cs.minClose) 1.0 else -1.0
    var c = 0
    while (c < cs.k) {
      val d = sign * distTo(cs, v, c)
      if (size < n || d < bestD(size - 1)) {
        var pos = if (size < n) size else n - 1
        while (pos > 0 && bestD(pos - 1) > d) {
          bestD(pos) = bestD(pos - 1); bestId(pos) = bestId(pos - 1); pos -= 1
        }
        bestD(pos) = d; bestId(pos) = c
        if (size < n) size += 1
      }
      c += 1
    }
    val rows = new Array[Any](size)
    var i = 0
    while (i < size) {
      rows(i) = new GenericInternalRow(Array[Any](bestId(i), sign * bestD(i)))
      i += 1
    }
    new GenericArrayData(rows)
  }

  /** Meso-pruned exact top-p: same result set and order as the flat scan
    * (the flat scan's insertion keeps first-seen on ties, i.e. it selects
    * top-p by (dist, list_id) lexicographic — replicated here explicitly).
    * Returns null to signal "fall back to the flat scan" (zero-norm query
    * under cosine). */
  private def nearestPruned(cs: CentroidSet, mi: MesoIndex, v0: Array[Float],
      p: Int): ArrayData = {
    val dim = cs.dim
    // query mapped into the prune space
    val v = if (mi.space == MesoIndex.SpaceCosine) {
      var s = 0.0; var i = 0
      while (i < dim) { s += v0(i).toDouble * v0(i); i += 1 }
      if (s == 0.0) return null
      val nrm = math.sqrt(s)
      val o = new Array[Float](dim)
      i = 0
      while (i < dim) { o(i) = (v0(i) / nrm).toFloat; i += 1 }
      o
    } else v0
    val l1 = mi.space == MesoIndex.SpaceIdentity && cs.metricId == VectorDistanceOps.L1
    // mesos in ascending lower-bound order — primitive-packed sort, no
    // boxing on the per-row hot path: the top 48 bits of the key are the
    // sign-rectified double bits of lb (monotone), the low 16 the meso id
    // (m = ceil(sqrt(k)) <= 46341 < 2^16). Truncating 16 mantissa bits can
    // only reorder lbs closer than ~2^-37 relative — absorbed by the
    // stop-check's epsilon slack, and the stop check reads the TRUE lb.
    val lb = new Array[Double](mi.m)
    val packed = new Array[Long](mi.m)
    var j = 0
    while (j < mi.m) {
      val d = MesoIndex.pruneDist(l1, v, mi.mesoFlat, j * dim, dim) - mi.radius(j)
      lb(j) = d
      val bits = java.lang.Double.doubleToRawLongBits(d)
      val key = bits ^ ((bits >> 63) >>> 1) // ascending-double = ascending-signed-long
      packed(j) = (key & 0xFFFFFFFFFFFF0000L) | j.toLong
      j += 1
    }
    java.util.Arrays.sort(packed)
    val n = math.min(p, cs.k)
    val bestId = new Array[Int](n)
    val bestD = new Array[Double](n)
    var size = 0
    // current worst, converted into the prune space (monotone per space)
    def worstPrune: Double = {
      val w = bestD(size - 1)
      mi.space match {
        case MesoIndex.SpaceSqrtL2 => math.sqrt(math.max(w, 0.0))
        case MesoIndex.SpaceCosine => math.sqrt(math.max(2.0 * w, 0.0))
        case _ => w
      }
    }
    // slack so float rounding can never flip the skip decision: cosine's
    // prune points are float-rounded unit vectors (~1e-6 per-component
    // absolute error); the dot product accumulates ~sqrt(dim) of that for
    // independent roundings, so the slack scales with sqrt(dim) from its
    // empirically-pinned dim=24 base (MesoIndexSuite pins dim=24 and a
    // 1536-dim case). Larger slack is exactness-safe — it only visits more
    // mesos. The other spaces share distTo's own arithmetic (1ulp-level).
    val eps =
      if (mi.space == MesoIndex.SpaceCosine) 1e-4 * math.max(1.0, math.sqrt(dim / 24.0))
      else 1e-9
    var oi = 0
    var done = false
    while (oi < mi.m && !done) {
      val jj = (packed(oi) & 0xFFFFL).toInt
      if (size == n && lb(jj) > worstPrune * (1.0 + eps) + eps) done = true
      else {
        val mem = mi.members(jj)
        var t = 0
        while (t < mem.length) {
          val c = mem(t)
          val d = distTo(cs, v0, c)
          // strict (dist, list_id) lexicographic top-p
          if (size < n || d < bestD(size - 1) ||
              (d == bestD(size - 1) && c < bestId(size - 1))) {
            var pos = if (size < n) size else n - 1
            while (pos > 0 && (bestD(pos - 1) > d ||
                (bestD(pos - 1) == d && bestId(pos - 1) > c))) {
              bestD(pos) = bestD(pos - 1); bestId(pos) = bestId(pos - 1); pos -= 1
            }
            bestD(pos) = d; bestId(pos) = c
            if (size < n) size += 1
          }
          t += 1
        }
      }
      oi += 1
    }
    val rows = new Array[Any](size)
    var i = 0
    while (i < size) {
      rows(i) = new GenericInternalRow(Array[Any](bestId(i), bestD(i)))
      i += 1
    }
    new GenericArrayData(rows)
  }

  def residual(cs: CentroidSet, vec: ArrayData, listId: Int): ArrayData =
    new GenericArrayData(residualRaw(cs, vec.toFloatArray(), listId))

  /** [[residual]] over a primitive vector — the fused kernels' form. */
  def residualRaw(cs: CentroidSet, v: Array[Float], listId: Int): Array[Float] = {
    val off = listId * cs.dim
    val out = new Array[Float](cs.dim)
    var i = 0
    while (i < cs.dim) { out(i) = v(i) - cs.flat(off + i); i += 1 }
    out
  }

  private def distTo(cs: CentroidSet, v: Array[Float], c: Int): Double = {
    val off = c * cs.dim
    cs.metricId match {
      case VectorDistanceOps.L2 | VectorDistanceOps.L2SQRT =>
        var s = 0.0; var i = 0
        while (i < cs.dim) { val d = v(i).toDouble - cs.flat(off + i); s += d * d; i += 1 }
        if (cs.metricId == VectorDistanceOps.L2SQRT) math.sqrt(s) else s
      case VectorDistanceOps.IP =>
        var s = 0.0; var i = 0
        while (i < cs.dim) { s += v(i).toDouble * cs.flat(off + i); i += 1 }
        s
      case VectorDistanceOps.COSINE =>
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < cs.dim) {
          val x = v(i).toDouble; val y = cs.flat(off + i).toDouble
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        if (na == 0.0 || nb == 0.0) 1.0 else 1.0 - dot / math.sqrt(na * nb)
      case mid =>
        graft.core.Distance.fn(graft.core.Metric.all.find(m =>
          VectorDistanceOps.id(m) == mid).get)(v, cs.centroid(c))
    }
  }
}

/** `vec - centroid[list_id]` — the residual an IVF-PQ list entry encodes
  * (ivf_pq build encodes residuals against the cell center). */
case class CentroidResidual(left: Expression, right: Expression, centroids: CentroidSet)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def nullSafeEval(v: Any, listId: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val off = listId.asInstanceOf[Int] * centroids.dim
    val out = new Array[Float](centroids.dim)
    var i = 0
    while (i < centroids.dim) { out(i) = vec.getFloat(i) - centroids.flat(off + i); i += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidSet", centroids, classOf[CentroidSet].getName)
    nullSafeCodeGen(ctx, ev, (v, l) =>
      s"${ev.value} = graft.expr.CentroidOps.residual($ref, $v, $l);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `centroid[list_id]` — the center lookup itself (the inverse of
  * CentroidResidual; used by reconstruction paths like VQ+PQ inverse). */
case class CentroidVector(child: Expression, centroids: CentroidSet)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def nullSafeEval(listId: Any): Any = {
    val off = listId.asInstanceOf[Int] * centroids.dim
    val out = new Array[Float](centroids.dim)
    System.arraycopy(centroids.flat, off, out, 0, centroids.dim)
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidSet", centroids, classOf[CentroidSet].getName)
    val tmp = ctx.freshName("cv")
    nullSafeCodeGen(ctx, ev, l =>
      s"""float[] $tmp = new float[$ref.dim()];
         |System.arraycopy($ref.flat(), $l * $ref.dim(), $tmp, 0, $ref.dim());
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($tmp);
         |""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `nearest_centroids(vec)` -> array<struct<list_id int, dist double>> of the
  * top-p closest centroids, best first. Pure map-side: no join, no shuffle —
  * the assignment step of k-means (kmeans.hpp predict) and the probe
  * selection of IVF search (ivf_flat_search.cuh:180-188) in one expression.
  */
case class NearestCentroids(child: Expression, centroids: CentroidSet, p: Int)
    extends UnaryExpression {

  // force the meso build on the driver (expressions are constructed there)
  // so the index serializes into the task binary instead of being rebuilt
  // by every executor
  centroids.mesoIndex

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("list_id", IntegerType, nullable = false),
      StructField("dist", DoubleType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expected array<float>, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    CentroidOps.nearest(centroids, v.asInstanceOf[ArrayData], p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidSet", centroids, classOf[CentroidSet].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.expr.CentroidOps.nearest($ref, $v, $p);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
