package graft.expr

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression,
  UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

/** Trained product-quantizer codebooks: `pqDim` subspaces of `subLen` dims,
  * each with `nCenters` (= 2^pq_bits) centroids, flattened row-major
  * (quantize/pq.hpp:34-140; codebook_gen PER_SUBSPACE, ivf_pq.hpp:34).
  * books(s * nCenters * subLen + c * subLen + j) = center c of subspace s. */
case class PqCodebooks(books: Array[Float], pqDim: Int, nCenters: Int, subLen: Int)
    extends Serializable {
  def dim: Int = pqDim * subLen
  def center(s: Int, c: Int): Array[Float] = {
    val out = new Array[Float](subLen)
    System.arraycopy(books, (s * nCenters + c) * subLen, out, 0, subLen)
    out
  }
}

object PqOps {
  // The encode/LUT loops below all copy their ArrayData inputs to
  // primitive float arrays up front (toFloatArray): ArrayData.getFloat is
  // a virtual call — and on GenericArrayData a per-element UNBOX — inside
  // loops that run pqDim·nCenters·subLen times PER ROW; measured on the
  // 1M×256d build it was a ~30x tax on the anisotropic encode (the
  // dominant stage of a compressed save-with-curve).

  /** Encode: per subspace, the L2-nearest center id (pq.hpp:205 transform). */
  def encode(cb: PqCodebooks, vec: ArrayData): ArrayData =
    new GenericArrayData(encodeRaw(cb, vec.toFloatArray()))

  private def encodeRaw(cb: PqCodebooks, v: Array[Float]): Array[Int] = {
    val codes = new Array[Int](cb.pqDim)
    val books = cb.books
    var s = 0
    while (s < cb.pqDim) {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cb.nCenters) {
        val off = (s * cb.nCenters + c) * cb.subLen
        val vOff = s * cb.subLen
        var d = 0.0; var j = 0
        while (j < cb.subLen) {
          val t = v(vOff + j).toDouble - books(off + j)
          d += t * t; j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    codes
  }

  /** Decode codes back to a reconstructed vector (pq.hpp:239 inverse). */
  def decode(cb: PqCodebooks, codes: ArrayData): ArrayData = {
    val out = new Array[Float](cb.dim)
    var s = 0
    while (s < cb.pqDim) {
      val off = (s * cb.nCenters + codes.getInt(s)) * cb.subLen
      System.arraycopy(cb.books, off, out, s * cb.subLen, cb.subLen)
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Per-query ADC lookup table: squared-L2 from each query subvector to
    * each center — flat array of pqDim*nCenters doubles
    * (ivf_pq_compute_similarity.cuh LUT precompute). */
  def lut(cb: PqCodebooks, qvec: ArrayData): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(lutRaw(cb, qvec.toFloatArray()))

  /** [[lut]] over a primitive query — what the fused kernels call; the
    * expression form wraps this result once (GenericArrayData's double[]
    * constructor would box every entry). */
  def lutRaw(cb: PqCodebooks, q: Array[Float]): Array[Double] = {
    val books = cb.books
    val out = new Array[Double](cb.pqDim * cb.nCenters)
    var s = 0
    while (s < cb.pqDim) {
      var c = 0
      while (c < cb.nCenters) {
        val off = (s * cb.nCenters + c) * cb.subLen
        val qOff = s * cb.subLen
        var d = 0.0; var j = 0
        while (j < cb.subLen) {
          val t = q(qOff + j).toDouble - books(off + j)
          d += t * t; j += 1
        }
        out(s * cb.nCenters + c) = d
        c += 1
      }
      s += 1
    }
    out
  }

  /** Inner-product ADC lookup table (ivf_pq.hpp:47-205 builds over the
    * generic metric enum; the IP branch of ivf_pq_compute_similarity.cuh):
    * with residual codes, q·x̂ = q·c_list + Σ_s q_s·cb[s][code_s]. The
    * per-(query, list) constant q·c_list is folded into every entry as
    * an equal share (+q·c/pqDim), so the SAME code-indexed sum (PqAdc /
    * the fused kernel loop) yields the full estimated dot product —
    * larger is closer (is_min_close(InnerProduct) = false). */
  def lutIp(cb: PqCodebooks, cs: CentroidSet, qvec: ArrayData, listId: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(lutIpRaw(cb, cs, qvec.toFloatArray(), listId))

  /** [[lutIp]] over a primitive query (see [[lutRaw]]). */
  def lutIpRaw(cb: PqCodebooks, cs: CentroidSet, q: Array[Float], listId: Int): Array[Double] = {
    val books = cb.books
    val cBase = listId * cs.dim
    var qc = 0.0
    var j0 = 0
    while (j0 < cs.dim) { qc += q(j0).toDouble * cs.flat(cBase + j0); j0 += 1 }
    val share = qc / cb.pqDim
    val out = new Array[Double](cb.pqDim * cb.nCenters)
    var s = 0
    while (s < cb.pqDim) {
      var c = 0
      while (c < cb.nCenters) {
        val off = (s * cb.nCenters + c) * cb.subLen
        val qOff = s * cb.subLen
        var d = 0.0; var j = 0
        while (j < cb.subLen) {
          d += q(qOff + j).toDouble * books(off + j)
          j += 1
        }
        out(s * cb.nCenters + c) = d + share
        c += 1
      }
      s += 1
    }
    out
  }

  /** Score-aware (anisotropic) residual encoding for MIPS builds — the
    * ScaNN discipline (scann.hpp:40-98 ties the build to inner-product
    * search; Guo et al. 2020, "Accelerating Large-Scale Inference with
    * Anisotropic Vector Quantization"): quantization error PARALLEL to
    * the datapoint direction perturbs exactly the high dot products the
    * search ranks by, so the encode minimizes
    *   ||e||² + (η−1)·(e·u)²,  e = residual − codes,  u = x/||x||,
    * instead of plain L2. The parallel term couples subspaces through
    * the scalar Σ_s e_s·u_s, so codes come from coordinate descent over
    * subspaces, seeded by the plain L2 encode — per round the same
    * pqDim·nCenters·subLen work as one plain encode. η ≤ 1 degenerates
    * to the seed. `vec` is the residual being coded; `unit` the UNIT
    * direction of the ORIGINAL row (before residualization — the loss
    * weights error against the datapoint the query will dot with). */
  def encodeAniso(cb: PqCodebooks, vec: ArrayData, unit: ArrayData,
      eta: Double, rounds: Int = 2): ArrayData = {
    val v = vec.toFloatArray()
    if (eta <= 1.0) return new GenericArrayData(encodeRaw(cb, v))
    new GenericArrayData(anisoDescent(cb.books,
      (s, c) => (s * cb.nCenters + c) * cb.subLen,
      cb.pqDim, cb.nCenters, cb.subLen, v, unit.toFloatArray(),
      eta - 1.0, rounds))
  }

  /** Shared anisotropic coordinate-descent core (PER_SUBSPACE and
    * PER_CLUSTER codebooks differ only in `offsetFor`, the codebook
    * layout). Both per-(subspace, center) terms of the loss are
    * ROUND-INVARIANT: l2(s,c) = ||v_s - c||² and pu(s,c) = (v_s - c)·u_s
    * depend only on the row, never on the other subspaces' codes — only
    * the coupling scalar t = Σ par(s) moves during descent. Tabulate
    * both in ONE pass (this pass IS the plain-encode scan, so the L2
    * seed falls out of the same table) and the descent rounds become
    * table lookups — pqDim·nCenters flops per round instead of
    * pqDim·nCenters·subLen. */
  private[expr] def anisoDescent(books: Array[Float],
      offsetFor: (Int, Int) => Int, pqDim: Int, nCenters: Int, subLen: Int,
      v: Array[Float], u: Array[Float], w: Double, rounds: Int): Array[Int] = {
    val nSC = pqDim * nCenters
    val l2T = new Array[Double](nSC)
    val puT = new Array[Double](nSC)
    val codes = new Array[Int](pqDim)
    var s0 = 0
    while (s0 < pqDim) {
      val vOff = s0 * subLen
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < nCenters) {
        val off = offsetFor(s0, c)
        var l2 = 0.0; var pu = 0.0; var j = 0
        while (j < subLen) {
          val e = v(vOff + j).toDouble - books(off + j)
          l2 += e * e
          pu += e * u(vOff + j)
          j += 1
        }
        l2T(s0 * nCenters + c) = l2
        puT(s0 * nCenters + c) = pu
        if (l2 < bestD) { bestD = l2; best = c }
        c += 1
      }
      codes(s0) = best
      s0 += 1
    }
    // per-subspace e_s·u_s under the current codes, and their sum t
    val par = new Array[Double](pqDim)
    var t = 0.0
    var s1 = 0
    while (s1 < pqDim) {
      par(s1) = puT(s1 * nCenters + codes(s1)); t += par(s1)
      s1 += 1
    }
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      var changed = false
      var s = 0
      while (s < pqDim) {
        val tMinus = t - par(s)
        var best = codes(s); var bestLoss = Double.MaxValue; var bestPar = par(s)
        val base = s * nCenters
        var c = 0
        while (c < nCenters) {
          val pu = puT(base + c)
          val tot = tMinus + pu
          val loss = l2T(base + c) + w * tot * tot
          if (loss < bestLoss) { bestLoss = loss; best = c; bestPar = pu }
          c += 1
        }
        if (best != codes(s)) changed = true
        codes(s) = best
        par(s) = bestPar
        t = tMinus + bestPar
        s += 1
      }
      // a round that moved no code cannot move one next round either
      // (the loss landscape it saw is unchanged) — stop early
      converged = !changed
      r += 1
    }
    codes
  }

  /** ADC score = sum of LUT entries selected by the code bytes — the
    * asymmetric distance of IVF-PQ search. */
  def adc(nCenters: Int, lut: ArrayData, codes: ArrayData): Double = {
    var s = 0.0; var i = 0
    val n = codes.numElements()
    while (i < n) { s += lut.getDouble(i * nCenters + codes.getInt(i)); i += 1 }
    s
  }
}

case class PqEncode(child: Expression, cb: PqCodebooks) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case o => TypeCheckResult.TypeCheckFailure(s"expected array<float>, got $o")
  }
  override def nullSafeEval(v: Any): Any = PqOps.encode(cb, v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodebooks", cb, classOf[PqCodebooks].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = graft.expr.PqOps.encode($ref, $v);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Anisotropic residual encode over (residual, unit direction of the raw
  * row) — see PqOps.encodeAniso. */
case class PqEncodeAniso(left: Expression, right: Expression, cb: PqCodebooks,
    eta: Double) extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case o => TypeCheckResult.TypeCheckFailure(s"expected (array<float>, array<float>), got $o")
  }
  override def nullSafeEval(v: Any, u: Any): Any =
    PqOps.encodeAniso(cb, v.asInstanceOf[ArrayData], u.asInstanceOf[ArrayData], eta)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodebooks", cb, classOf[PqCodebooks].getName)
    nullSafeCodeGen(ctx, ev, (v, u) =>
      s"${ev.value} = graft.expr.PqOps.encodeAniso($ref, $v, $u, $eta, 2);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class PqDecode(child: Expression, cb: PqCodebooks) extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullSafeEval(v: Any): Any = PqOps.decode(cb, v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodebooks", cb, classOf[PqCodebooks].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = graft.expr.PqOps.decode($ref, $v);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class PqLut(child: Expression, cb: PqCodebooks) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any = PqOps.lut(cb, v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodebooks", cb, classOf[PqCodebooks].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = graft.expr.PqOps.lut($ref, $v);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Inner-product ADC LUT over (query vector, probed list id) — see
  * PqOps.lutIp. Takes the RAW query (no residual: q·x̂ decomposes as
  * q·c + q·r̂, no query residual appears) plus the list id for the
  * folded q·c_list constant. */
case class PqLutIp(left: Expression, right: Expression, cb: PqCodebooks,
    cs: CentroidSet) extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
    case o => TypeCheckResult.TypeCheckFailure(s"expected (array<float>, int), got $o")
  }
  override def nullSafeEval(q: Any, lid: Any): Any =
    PqOps.lutIp(cb, cs, q.asInstanceOf[ArrayData], lid.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebooks", cb, classOf[PqCodebooks].getName)
    val csRef = ctx.addReferenceObj("centroidSet", cs, classOf[CentroidSet].getName)
    nullSafeCodeGen(ctx, ev, (q, lid) =>
      s"${ev.value} = graft.expr.PqOps.lutIp($cbRef, $csRef, $q, $lid);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** PER_CLUSTER codebooks (`codebook_gen::PER_CLUSTER`, ivf_pq.hpp:34-45):
  * one codebook per IVF list, shared across the pqDim subspaces — the dual
  * of PqCodebooks' per-subspace layout.
  * flat((l * nCenters + c) * subLen + j) = dim j of center c of list l. */
case class ClusterCodebooks(flat: Array[Float], nLists: Int, nCenters: Int,
    subLen: Int, pqDim: Int) extends Serializable {
  def dim: Int = pqDim * subLen
  def center(l: Int, c: Int): Array[Float] = {
    val out = new Array[Float](subLen)
    System.arraycopy(flat, (l * nCenters + c) * subLen, out, 0, subLen)
    out
  }
}

object PqClusterOps {
  // Same primitive-array discipline as PqOps (see the note there): these
  // loops run nCenters·subLen times per row per subspace — ArrayData
  // access stays outside them.

  /** Encode: per subspace, the L2-nearest center of the ROW'S OWN list. */
  def encode(ccb: ClusterCodebooks, listId: Int, vec: ArrayData): ArrayData =
    new GenericArrayData(encodeRaw(ccb, listId, vec.toFloatArray()))

  private def encodeRaw(ccb: ClusterCodebooks, listId: Int,
      v: Array[Float]): Array[Int] = {
    val codes = new Array[Int](ccb.pqDim)
    val flat = ccb.flat
    val base = listId * ccb.nCenters * ccb.subLen
    var s = 0
    while (s < ccb.pqDim) {
      var best = 0; var bestD = Double.MaxValue
      val vOff = s * ccb.subLen
      var c = 0
      while (c < ccb.nCenters) {
        val off = base + c * ccb.subLen
        var d = 0.0; var j = 0
        while (j < ccb.subLen) {
          val t = v(vOff + j).toDouble - flat(off + j)
          d += t * t; j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    codes
  }

  /** Reconstruct from codes + the list's codebook. */
  def decode(ccb: ClusterCodebooks, listId: Int, codes: ArrayData): ArrayData = {
    val out = new Array[Float](ccb.dim)
    val base = listId * ccb.nCenters * ccb.subLen
    var s = 0
    while (s < ccb.pqDim) {
      System.arraycopy(ccb.flat, base + codes.getInt(s) * ccb.subLen,
        out, s * ccb.subLen, ccb.subLen)
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Per-(query, probed list) ADC LUT: same pqDim x nCenters layout as
    * PqOps.lut, every subspace row computed against the list's one
    * codebook — PqAdc consumes it unchanged. */
  def lut(ccb: ClusterCodebooks, listId: Int, qvec: ArrayData): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(lutRaw(ccb, listId, qvec.toFloatArray()))

  /** [[lut]] over a primitive query (see PqOps.lutRaw). */
  def lutRaw(ccb: ClusterCodebooks, listId: Int, q: Array[Float]): Array[Double] = {
    val flat = ccb.flat
    val out = new Array[Double](ccb.pqDim * ccb.nCenters)
    val base = listId * ccb.nCenters * ccb.subLen
    var s = 0
    while (s < ccb.pqDim) {
      val qOff = s * ccb.subLen
      var c = 0
      while (c < ccb.nCenters) {
        val off = base + c * ccb.subLen
        var d = 0.0; var j = 0
        while (j < ccb.subLen) {
          val t = q(qOff + j).toDouble - flat(off + j)
          d += t * t; j += 1
        }
        out(s * ccb.nCenters + c) = d
        c += 1
      }
      s += 1
    }
    out
  }

  /** PER_CLUSTER twin of PqOps.encodeAniso: the same score-aware
    * coordinate descent (loss ||e||² + (η−1)(e·u)², seeded by the plain
    * per-list encode) over the list's own codebook — every subspace
    * scores against the one shared table at the list's offset. */
  def encodeAniso(ccb: ClusterCodebooks, listId: Int, vec: ArrayData,
      unit: ArrayData, eta: Double, rounds: Int = 2): ArrayData = {
    val v = vec.toFloatArray()
    if (eta <= 1.0) return new GenericArrayData(encodeRaw(ccb, listId, v))
    // same descent as PqOps.encodeAniso; only the codebook layout differs
    // (one table per list, shared across subspaces)
    val base = listId * ccb.nCenters * ccb.subLen
    new GenericArrayData(PqOps.anisoDescent(ccb.flat,
      (_, c) => base + c * ccb.subLen,
      ccb.pqDim, ccb.nCenters, ccb.subLen, v, unit.toFloatArray(),
      eta - 1.0, rounds))
  }

  /** Inner-product LUT over the list's OWN codebook — the PER_CLUSTER
    * twin of PqOps.lutIp: entries = q_s·cb_list[c] plus an equal share of
    * the per-(query, list) constant q·c_list, so the shared code-indexed
    * ADC sum yields the full estimated dot product (larger is closer). */
  def lutIp(ccb: ClusterCodebooks, cs: CentroidSet, listId: Int,
      qvec: ArrayData): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(lutIpRaw(ccb, cs, listId, qvec.toFloatArray()))

  /** [[lutIp]] over a primitive query (see PqOps.lutRaw). */
  def lutIpRaw(ccb: ClusterCodebooks, cs: CentroidSet, listId: Int,
      q: Array[Float]): Array[Double] = {
    val cBase = listId * cs.dim
    var qc = 0.0
    var j0 = 0
    while (j0 < cs.dim) { qc += q(j0).toDouble * cs.flat(cBase + j0); j0 += 1 }
    val share = qc / ccb.pqDim
    val base = listId * ccb.nCenters * ccb.subLen
    val out = new Array[Double](ccb.pqDim * ccb.nCenters)
    var s = 0
    while (s < ccb.pqDim) {
      var c = 0
      while (c < ccb.nCenters) {
        val off = base + c * ccb.subLen
        var d = 0.0; var j = 0
        while (j < ccb.subLen) {
          d += q(s * ccb.subLen + j).toDouble * ccb.flat(off + j)
          j += 1
        }
        out(s * ccb.nCenters + c) = d + share
        c += 1
      }
      s += 1
    }
    out
  }
}

case class PqEncodeByList(left: Expression, right: Expression, ccb: ClusterCodebooks)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(v: Any, l: Any): Any =
    PqClusterOps.encode(ccb, l.asInstanceOf[Int], v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("clusterCodebooks", ccb, classOf[ClusterCodebooks].getName)
    nullSafeCodeGen(ctx, ev, (v, l) =>
      s"${ev.value} = graft.expr.PqClusterOps.encode($ref, $l, $v);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** PER_CLUSTER anisotropic encode over (residual, list id, unit row
  * direction) — see PqClusterOps.encodeAniso. */
case class PqEncodeAnisoByList(first: Expression, second: Expression,
    third: Expression, ccb: ClusterCodebooks, eta: Double) extends TernaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), IntegerType, ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case o => TypeCheckResult.TypeCheckFailure(
        s"expected (array<float>, int, array<float>), got $o")
    }
  override def nullSafeEval(v: Any, l: Any, u: Any): Any =
    PqClusterOps.encodeAniso(ccb, l.asInstanceOf[Int], v.asInstanceOf[ArrayData],
      u.asInstanceOf[ArrayData], eta)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("clusterCodebooks", ccb, classOf[ClusterCodebooks].getName)
    nullSafeCodeGen(ctx, ev, (v, l, u) =>
      s"${ev.value} = graft.expr.PqClusterOps.encodeAniso($ref, $l, $v, $u, $eta, 2);")
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(first = f, second = s, third = t)
}

case class PqDecodeByList(left: Expression, right: Expression, ccb: ClusterCodebooks)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullSafeEval(c: Any, l: Any): Any =
    PqClusterOps.decode(ccb, l.asInstanceOf[Int], c.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("clusterCodebooks", ccb, classOf[ClusterCodebooks].getName)
    nullSafeCodeGen(ctx, ev, (c, l) =>
      s"${ev.value} = graft.expr.PqClusterOps.decode($ref, $l, $c);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)

}

case class PqLutByList(left: Expression, right: Expression, ccb: ClusterCodebooks)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any, l: Any): Any =
    PqClusterOps.lut(ccb, l.asInstanceOf[Int], v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("clusterCodebooks", ccb, classOf[ClusterCodebooks].getName)
    nullSafeCodeGen(ctx, ev, (v, l) =>
      s"${ev.value} = graft.expr.PqClusterOps.lut($ref, $l, $v);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Inner-product per-list ADC LUT over (RAW query, probed list id) — see
  * PqClusterOps.lutIp. */
case class PqLutIpByList(left: Expression, right: Expression,
    ccb: ClusterCodebooks, cs: CentroidSet) extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
    case o => TypeCheckResult.TypeCheckFailure(s"expected (array<float>, int), got $o")
  }
  override def nullSafeEval(q: Any, lid: Any): Any =
    PqClusterOps.lutIp(ccb, cs, lid.asInstanceOf[Int], q.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ccbRef = ctx.addReferenceObj("clusterCodebooks", ccb, classOf[ClusterCodebooks].getName)
    val csRef = ctx.addReferenceObj("centroidSet", cs, classOf[CentroidSet].getName)
    nullSafeCodeGen(ctx, ev, (q, lid) =>
      s"${ev.value} = graft.expr.PqClusterOps.lutIp($ccbRef, $csRef, $lid, $q);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class PqAdc(left: Expression, right: Expression, nCenters: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, c: Any): Any =
    PqOps.adc(nCenters, l.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, c) =>
      s"${ev.value} = graft.expr.PqOps.adc($nCenters, $l, $c);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
