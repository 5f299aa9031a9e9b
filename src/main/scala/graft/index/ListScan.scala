package graft.index

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{broadcast, col, explode, max, min}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType,
  IntegerType, LongType}
import graft.core.{Metric, TopKBuf}
import graft.expr.{AffineOps, CentroidOps, CentroidSet, ProjectionMatrix, RabitqOps}

/** A query batch of a probe-pruned IVF scan: each query position's vector,
  * stored once per distinct vector (the save-time curve sweep replicates
  * every sample query once per probe point), and the positions that probe
  * each list — the inverted probe index the tasks score by. */
private[graft] final class ScanBatch(
    val vecs: Array[Array[Float]],
    val slot: Array[Int],
    val probing: java.util.HashMap[Int, Array[Int]]) extends Serializable {
  def size: Int = slot.length
  def probedLists: Seq[Int] = {
    val b = scala.collection.mutable.ArrayBuffer[Int]()
    probing.forEach((l, _) => b += l)
    b.toSeq
  }

  /** This batch with list `lid` also probed by every position — the
    * tiered route's delta tier, scanned exactly for every query. */
  def probingAll(lid: Int): ScanBatch = {
    val all = new java.util.HashMap[Int, Array[Int]](probing)
    all.put(lid, Array.range(0, size))
    new ScanBatch(vecs, slot, all)
  }

  /** Per list, one value per probing position, built by `make(list,
    * vector)` once per (list, distinct query vector) — the per-list query
    * state a task builds for the lists it reads (ADC tables, rotated
    * residuals). */
  private[index] def perList[T <: AnyRef: scala.reflect.ClassTag](
      make: (Int, Array[Float]) => T): Int => Array[T] = {
    val built = new java.util.HashMap[Int, Array[T]]()
    lid => {
      var got = built.get(lid)
      if (got == null) {
        val bySlot = new java.util.HashMap[Int, T]()
        got = probing.get(lid).map(qi => bySlot.computeIfAbsent(slot(qi), v => make(lid, vecs(v))))
        built.put(lid, got)
      }
      got
    }
  }
}

/** The per-task kernel of the probe-pruned IVF searches (ivfflat_interleaved_scan
  * / the IVF-PQ similarity kernel): one pass over the rows of the probed
  * lists, each row scored against only the queries that probed its list,
  * into a top-`bufK` buffer per query position. Rows arrive as
  * (list_id int, id long, columns…) InternalRows — from the typed list
  * Dataset of the library searches (`pairs`), from the list child of
  * `graft.plans.IvfSearchExec` on the planner's route — so both share this
  * one loop. Buffers order by (dist, id), so the per-qid merge of any
  * partitioning of the rows gives the same top-k. Every IVF layout has one
  * (FlatScan, SqScan, AdcScan, RabitqScan). */
private[graft] sealed trait ListScan extends Serializable {
  /** The list-table columns scored, with the types the rows carry them in
    * (row fields 2, 3, …). */
  def columns: Seq[(String, DataType)]
  /** Buffer order: false when larger scores are closer. */
  def minClose: Boolean
  /** Task side: one partition's rows into per-position buffers (null for
    * a position none of the rows' lists was probed by). */
  def scan(rows: Iterator[InternalRow], batch: ScanBatch, bufK: Int): Array[TopKBuf]

  /** Driver side: the `n` lists `vec` probes — the coarse select_k of the
    * expression route (CentroidOps.nearest). */
  def probe(cs: CentroidSet, vec: Array[Float], n: Int): Array[Int] = {
    val probed = CentroidOps.nearest(cs, new GenericArrayData(vec), n)
    Array.tabulate(probed.numElements())(p => probed.getStruct(p, 2).getInt(0))
  }

  protected def newBuf(k: Int): TopKBuf =
    TopKBuf(k, minClose, new Array[Double](k), new Array[Long](k), 0)

  /** Probe every position (`probesOf(position)` lists each) and invert. */
  def batch(cs: CentroidSet, vectors: Array[Array[Float]], probesOf: Int => Int): ScanBatch = {
    val slotOf = new java.util.HashMap[Seq[Float], Int]()
    val vecs = scala.collection.mutable.ArrayBuffer[Array[Float]]()
    val byList = new java.util.HashMap[Int, scala.collection.mutable.ArrayBuffer[Int]]()
    val slot = vectors.indices.map { qi =>
      probe(cs, vectors(qi), probesOf(qi)).foreach { lid =>
        var b = byList.get(lid)
        if (b == null) {
          b = new scala.collection.mutable.ArrayBuffer[Int]()
          byList.put(lid, b)
        }
        b += qi
      }
      slotOf.computeIfAbsent(scala.collection.immutable.ArraySeq.unsafeWrapArray(vectors(qi)),
        _ => { vecs += vectors(qi); vecs.length - 1 })
    }.toArray
    val probing = new java.util.HashMap[Int, Array[Int]](byList.size * 2)
    byList.forEach((l, b) => probing.put(l, b.toArray))
    new ScanBatch(vecs.toArray, slot, probing)
  }

  /** The probed lists' rows of `lists` as (list_id int, id long, columns…):
    * the filter on the partition column prunes the unprobed lists of a
    * saved layout statically. */
  private def prunedRows(lists: DataFrame, probed: Seq[Int]): DataFrame =
    lists.filter(col("list_id").isInCollection(probed))
      .select(col("list_id").cast(IntegerType) +: col("id").cast("long") +:
        columns.map { case (c, t) => col(c).cast(t) }: _*)

  /** (qid, _nid, dist) candidates of (qid, qvec) queries for the caller's
    * per-qid top-k epilogue: parts·|Q|·bufK rows. `probesOf` is each
    * query's probe count by qid — one count for a plain search; the
    * save-time curve sweep searches its sample once per probe point in a
    * single pass (CurveTruth.candidateCoverage). */
  def pairs(lists: DataFrame, cs: CentroidSet, q: DataFrame, probesOf: Long => Int,
      bufK: Int): DataFrame = {
    val spark = lists.sparkSession
    import spark.implicits._
    val qArr = q.as[(Long, Array[Float])].collect()
    val b = batch(cs, qArr.map(_._2), i => probesOf(qArr(i)._1))
    val bc = spark.sparkContext.broadcast((qArr.map(_._1), b))
    val self = this
    mapRows(prunedRows(lists, b.probedLists)) { rows =>
      val (qids, qb) = bc.value
      self.scan(rows, qb, bufK).iterator.zipWithIndex.filter(_._1 != null)
        .flatMap { case (buf, qi) =>
          (0 until buf.size).iterator.map(j => (qids(qi), buf.ids(j), buf.dists(j)))
        }
    }.toDF("qid", "_nid", "dist")
  }

  /** `f` over each partition of `prunedRows` as InternalRows, through a
    * typed Dataset: the library searches keep the list scan, with its
    * partition filter, in their plans. */
  protected def mapRows(rows: DataFrame)(
      f: Iterator[InternalRow] => Iterator[(Long, Long, Double)]): Dataset[(Long, Long, Double)]
}

private[graft] object ListScan {
  /** `mapRows` over (list_id, id, array<int>) rows — the coded layouts. */
  private[index] def intArrayRows(rows: DataFrame)(
      f: Iterator[InternalRow] => Iterator[(Long, Long, Double)]): Dataset[(Long, Long, Double)] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.as[(Int, Long, Array[Int])].mapPartitions(it => f(it.map { case (l, id, c) =>
      InternalRow(l, id, UnsafeArrayData.fromPrimitiveArray(c))
    }))
  }
}

/** Lists whose rows are scored as float vectors by exact `metric`
  * distances (Distance.fn, the function vector_distance evaluates): the
  * raw vectors of IVF-Flat (FlatScan) or the decoded int8 codes of IVF-SQ
  * (SqScan). */
private[graft] sealed abstract class VectorScan extends ListScan {
  def metric: Metric
  def minClose: Boolean = Metric.isMinClose(metric)
  /** Row field 2 as the vector scored. */
  protected def vector(a: ArrayData): Array[Float]

  /** A row with a null vector scores nothing, as the refine scan skips
    * it; a row whose dimension is not its query's fails the scan. */
  def scan(rows: Iterator[InternalRow], batch: ScanBatch, bufK: Int): Array[TopKBuf] =
    scan(rows, batch, bufK, null)

  /** `scan` that also records in `listOf` the list of every row that
    * entered a buffer, so each candidate the buffers end with has its
    * list there (the held-out truth of the save-time curves, CurveTruth);
    * null records nothing. */
  def scan(rows: Iterator[InternalRow], batch: ScanBatch, bufK: Int,
      listOf: java.util.HashMap[Long, Int]): Array[TopKBuf] = {
    val fn = graft.core.Distance.fn(metric)
    val bufs = new Array[TopKBuf](batch.size)
    rows.foreach { row =>
      val probing = batch.probing.get(row.getInt(0))
      if (probing != null && !row.isNullAt(2)) {
        val nid = row.getLong(1)
        val nvec = vector(row.getArray(2))
        var t = 0
        while (t < probing.length) {
          val qi = probing(t)
          val q = batch.vecs(batch.slot(qi))
          if (q.length != nvec.length) throw new IllegalArgumentException(
            s"list row $nid has dimension ${nvec.length}, the query ${q.length}")
          if (bufs(qi) == null) bufs(qi) = newBuf(bufK)
          if (bufs(qi).insert(fn(q, nvec), nid) && listOf != null) listOf.put(nid, row.getInt(0))
          t += 1
        }
      }
    }
    bufs
  }
}

/** Raw-vector lists (IVF-Flat): exact `metric` distances. */
private[graft] final case class FlatScan(metric: Metric) extends VectorScan {
  def columns: Seq[(String, DataType)] = Seq("vec" -> ArrayType(FloatType))
  protected def vector(a: ArrayData): Array[Float] = a.toFloatArray()

  /** The (dist, list_id) coarse select_k of the expression route. */
  override def probe(cs: CentroidSet, vec: Array[Float], n: Int): Array[Int] = {
    val fn = graft.core.Distance.fn(metric)
    val buf = newBuf(n)
    var l = 0
    while (l < cs.k) {
      buf.insert(fn(vec, cs.centroid(l)), l.toLong)
      l += 1
    }
    Array.tabulate(buf.size)(j => buf.ids(j).toInt)
  }

  protected def mapRows(rows: DataFrame)(
      f: Iterator[InternalRow] => Iterator[(Long, Long, Double)]): Dataset[(Long, Long, Double)] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.as[(Int, Long, Array[Float])].mapPartitions(it => f(it.map { case (l, id, v) =>
      InternalRow(l, id, UnsafeArrayData.fromPrimitiveArray(v))
    }))
  }
}

/** int8-coded lists (IVF-SQ): each code decoded as
  * ScalarQuantizer.inverseCol decodes it — (q + 128) / 255 · (hi − lo) + lo,
  * in double, rounded to float — then scored with exact `metric`
  * distances, so decoded floats exist only per row in the task. */
private[graft] final case class SqScan(metric: Metric, lo: Double, hi: Double)
    extends VectorScan {
  def columns: Seq[(String, DataType)] = Seq("codes" -> ArrayType(IntegerType))
  protected def vector(a: ArrayData): Array[Float] = {
    val dec = new Array[Float](a.numElements())
    var i = 0
    while (i < dec.length) {
      dec(i) = ((a.getInt(i).toDouble + 128) / 255.0 * (hi - lo) + lo).toFloat
      i += 1
    }
    dec
  }
  protected def mapRows(rows: DataFrame)(
      f: Iterator[InternalRow] => Iterator[(Long, Long, Double)]): Dataset[(Long, Long, Double)] =
    ListScan.intArrayRows(rows)(f)
}

/** PQ-coded lists (IVF-PQ in both codebook modes, ScaNN): the ADC sum over
  * a per-(list, query vector) lookup table from `lutFor`, in the subspace
  * order of PqOps.adc. Probe selection and the tables use the same JVM
  * functions the codegen expressions call (CentroidOps.nearest,
  * CentroidOps.residualRaw, PqOps.lutRaw / lutIpRaw, PqClusterOps), so the
  * scan is bit-identical to the layouts' probe-join route.
  *
  * Tables are built where they are used, as the reference builds them
  * inside its similarity kernel per probed list: a task builds the tables
  * of a list when it first scores rows of that list — one table per
  * (list, distinct query vector) — so a task holds only the tables of the
  * lists it reads, and the driver none. Rows are scored in blocks of 256
  * per list, one probing query at a time over the whole block, so that
  * query's table stays in cache; each query's buffer sees the same
  * candidates as in row order, so the (dist, id) top-k is the same. */
private[graft] final case class AdcScan(nCenters: Int, minClose: Boolean,
    lutFor: (Int, Array[Float]) => Array[Double]) extends ListScan {
  def columns: Seq[(String, DataType)] = Seq("pq_codes" -> ArrayType(IntegerType))

  protected def mapRows(rows: DataFrame)(
      f: Iterator[InternalRow] => Iterator[(Long, Long, Double)]): Dataset[(Long, Long, Double)] =
    ListScan.intArrayRows(rows)(f)

  def scan(rows: Iterator[InternalRow], batch: ScanBatch, bufK: Int): Array[TopKBuf] = {
    val pi = batch.probing
    val bufs = new Array[TopKBuf](batch.size)
    // list -> the tables of its probing queries, aligned with pi(list)
    val tables = batch.perList(lutFor)
    // list -> its rows not yet scored
    val pending = new java.util.HashMap[Int, AdcScan.Block]()
    def score(lid: Int, b: AdcScan.Block): Unit = {
      val probing = pi.get(lid)
      val luts = tables(lid)
      val w = b.width
      var t = 0
      while (t < probing.length) {
        val lut = luts(t)
        val qi = probing(t)
        if (bufs(qi) == null) bufs(qi) = newBuf(bufK)
        val buf = bufs(qi)
        var r = 0
        while (r < b.n) {
          // same subspace-order sum as PqOps.adc
          val off = r * w
          var d = 0.0
          var s = 0
          while (s < w) { d += lut(s * nCenters + b.codes(off + s)); s += 1 }
          buf.insert(d, b.ids(r))
          r += 1
        }
        t += 1
      }
      b.n = 0
    }
    rows.foreach { row =>
      val lid = row.getInt(0)
      if (pi.containsKey(lid)) {
        val codes = row.getArray(2)
        var b = pending.get(lid)
        if (b == null) { b = new AdcScan.Block(codes.numElements()); pending.put(lid, b) }
        if (b.add(row.getLong(1), codes)) score(lid, b)
      }
    }
    pending.forEach((lid, b) => if (b.n > 0) score(lid, b))
    bufs
  }
}

private[graft] object AdcScan {
  private val Rows = 256

  /** Per-subspace codebooks (IVF-PQ, ScaNN): residual-L2 tables, or the
    * inner-product tables of an IP/cosine build, ranked larger-is-closer
    * (is_min_close, distance.hpp:72-85). */
  def perSubspace(cs: CentroidSet, cb: graft.expr.PqCodebooks, ipLike: Boolean): AdcScan =
    if (ipLike) AdcScan(cb.nCenters, minClose = false,
      (lid, qv) => graft.expr.PqOps.lutIpRaw(cb, cs, qv, lid))
    else AdcScan(cb.nCenters, minClose = true,
      (lid, qv) => graft.expr.PqOps.lutRaw(cb, CentroidOps.residualRaw(cs, qv, lid)))

  /** Per-list codebooks (IVF-PQ PER_CLUSTER): each list's own residual-L2
    * or inner-product tables (PqClusterOps). */
  def perCluster(cs: CentroidSet, cb: graft.expr.ClusterCodebooks, ipLike: Boolean): AdcScan =
    if (ipLike) AdcScan(cb.nCenters, minClose = false,
      (lid, qv) => graft.expr.PqClusterOps.lutIpRaw(cb, cs, lid, qv))
    else AdcScan(cb.nCenters, minClose = true,
      (lid, qv) => graft.expr.PqClusterOps.lutRaw(cb, lid, CentroidOps.residualRaw(cs, qv, lid)))

  /** Up to `Rows` coded rows of one list, codes flattened row-major. */
  private final class Block(val width: Int) {
    val codes = new Array[Int](Rows * width)
    val ids = new Array[Long](Rows)
    var n = 0
    /** Append a row; true when the block is full. */
    def add(id: Long, c: ArrayData): Boolean = {
      require(c.numElements() == width,
        s"mixed code widths in one list: ${c.numElements()} vs $width")
      var s = 0
      val off = n * width
      while (s < width) { codes(off + s) = c.getInt(s); s += 1 }
      ids(n) = id
      n += 1
      n == Rows
    }
  }
}

/** RaBitQ-coded lists (IVF-RaBitQ): the estimated squared L2
  * ‖qr‖² + ‖u‖² − 2·⟨û, qr⟩ of each row against the query's rotated
  * residual qr to the list's centroid. At 1 bit per dimension the dot is
  * ‖u‖²(2·S1 − Σqr)/Σ|u| over the sign code (0 for a zero residual); past
  * it, the extended code's decoded magnitudes (RabitqOps). The residual and
  * its sums are built per (list, distinct query vector) in the task that
  * first scores the list, as AdcScan builds its tables, with the JVM
  * functions the probe-join route's codegen expressions call (AffineOps,
  * CentroidOps.residual, RabitqOps), so both routes give the same rows. */
private[graft] final case class RabitqScan(cs: CentroidSet, rotation: ProjectionMatrix,
    bitsPerDim: Int) extends ListScan {
  private def extended = bitsPerDim > 1
  def minClose: Boolean = true
  def columns: Seq[(String, DataType)] =
    Seq("code" -> ArrayType(LongType), "norm2" -> DoubleType) ++
      (if (extended) Seq("mags" -> ArrayType(ByteType), "mscale" -> DoubleType)
       else Seq("sum_abs" -> DoubleType))

  protected def mapRows(rows: DataFrame)(
      f: Iterator[InternalRow] => Iterator[(Long, Long, Double)]): Dataset[(Long, Long, Double)] = {
    val spark = rows.sparkSession
    import spark.implicits._
    def arr(a: Array[Long]) = UnsafeArrayData.fromPrimitiveArray(a)
    if (extended)
      rows.withColumn("mags", col("mags").cast("array<int>"))
        .as[(Int, Long, Array[Long], Double, Array[Int], Double)]
        .mapPartitions(it => f(it.map { case (l, id, c, n2, m, s) =>
          InternalRow(l, id, arr(c), n2, UnsafeArrayData.fromPrimitiveArray(m.map(_.toByte)), s)
        }))
    else
      rows.as[(Int, Long, Array[Long], Double, Double)]
        .mapPartitions(it => f(it.map { case (l, id, c, n2, sa) =>
          InternalRow(l, id, arr(c), n2, sa)
        }))
  }

  def scan(rows: Iterator[InternalRow], batch: ScanBatch, bufK: Int): Array[TopKBuf] = {
    val bufs = new Array[TopKBuf](batch.size)
    val queries = batch.perList(RabitqScan.query(cs, rotation))
    rows.foreach { row =>
      val lid = row.getInt(0)
      val probing = batch.probing.get(lid)
      if (probing != null) {
        val qs = queries(lid)
        val nid = row.getLong(1)
        val code = row.getArray(2)
        val norm2 = row.getDouble(3)
        val (mags, mscale, sumAbs) =
          if (extended) (row.getArray(4), row.getDouble(5), 0.0) else (null, 0.0, row.getDouble(4))
        var t = 0
        while (t < probing.length) {
          val q = qs(t)
          val estIp =
            if (extended) RabitqOps.dotExtended(code, mags, mscale, q.qr)
            else if (sumAbs > 0.0) norm2 * (2.0 * RabitqOps.dotSelected(code, q.qr) - q.sum) / sumAbs
            else 0.0
          val qi = probing(t)
          if (bufs(qi) == null) bufs(qi) = newBuf(bufK)
          bufs(qi).insert(q.norm2 + norm2 - 2.0 * estIp, nid)
          t += 1
        }
      }
    }
    bufs
  }
}

private[graft] object RabitqScan {
  /** A query against one list: its rotated residual, Σqr and Σqr². */
  final class Query(val qr: ArrayData, val sum: Double, val norm2: Double)

  def query(cs: CentroidSet, rotation: ProjectionMatrix)(lid: Int, vec: Array[Float]): Query = {
    val qr = AffineOps(rotation, CentroidOps.residual(cs, new GenericArrayData(vec), lid))
    var s = 0.0
    var n2 = 0.0
    var i = 0
    while (i < qr.numElements()) {
      val x = qr.getFloat(i).toDouble
      s += x
      n2 += x * x
      i += 1
    }
    new Query(qr, s, n2)
  }
}

/** One IVF layout as every search of it reads it: the list table, the
  * centroids probed, the layout's ListScan, whether queries are
  * unit-normalized first (a cosine-built PQ-coded layout stored
  * unit-normalized rows), and how many copies of one id the lists may hold
  * (ScaNN's SOAR spill stores two). Each IVF layout's `search` runs through
  * `search`, its save-time curve sweep through `scanSearch`, and the
  * planner's IvfSearchExec scans the same lists with the same kernel. */
private[graft] final case class IvfLists(lists: DataFrame, cs: CentroidSet, scan: ListScan,
    normalize: Boolean = false, copies: Int = 1) {

  /** (qid long, qvec) of `queries`, rows with a null qid dropped — no
    * result row could name their query — and, for a `normalize` layout,
    * vectors unit-normalized. */
  def shape(queries: DataFrame, qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val q = queries.select(col(qidCol).cast("long").as("qid"), col(qvecCol).as("qvec"))
      .filter(col("qid").isNotNull)
    if (normalize) q.withColumn("qvec", IvfFlatIndex.unitNormCol(col("qvec"))) else q
  }

  /** (qid, nbr_id, rank, dist): each query's top-k over its `nProbes`
    * nearest lists — the one route gate of the IVF searches. While the
    * query side fits `spark.graft.localKernel.maxVectors`, one pass of
    * `scan` over the probed lists (graft.graphops.LocalKernel). Otherwise
    * the partition-pruned probe join: the (qid, _qvec, list_id) probe rows,
    * after the layout's `perProbe` step (its per-(query, list) state, e.g.
    * an ADC table), broadcast into an equi-join on `list_id` whose `dist`
    * the layout computes per (probe row, list row). On a saved layout the
    * broadcast join triggers dynamic partition pruning, so unprobed lists
    * are never read. Both routes feed one epilogue: the better copy per
    * (qid, id) when the lists hold several, then the per-qid top-k. */
  def search(queries: DataFrame, k: Int, nProbes: Int, qidCol: String = "qid",
      qvecCol: String = "qvec")(dist: Column,
      perProbe: DataFrame => DataFrame = identity): DataFrame = {
    val spark = queries.sparkSession
    val shaped = shape(queries, qidCol, qvecCol)
    val q = shaped.transform(graft.core.Frames.materialize(_))
    import graft.graphops.LocalKernel
    val pairs =
      if (LocalKernel.enabled(spark) && LocalKernel.within(q, LocalKernel.maxVectors(spark)))
        try kernelPairs(q, k, _ => nProbes)
        finally q.unpersist()
      else {
        q.unpersist()
        val probes = shaped
          .select(col("qid"), col("qvec").as("_qvec"),
            graft.cluster.KMeans.nearestCol(cs, col("qvec"), nProbes).as("_probes"))
          .select(col("qid"), col("_qvec"),
            explode(col("_probes").getField("list_id")).as("list_id"))
        lists.join(broadcast(perProbe(probes)), "list_id")
          .select(col("qid"), col("id").as("_nid"), dist.as("dist"))
      }
    topK(pairs, k)
  }

  /** `search`'s kernel route with no gate, each query probing
    * `probesOf(qid)` lists: the save-time curve sweep searches its sample
    * once per probe point in one pass (IvfFlatIndex.saveCompressedCurve). */
  def scanSearch(queries: DataFrame, k: Int, probesOf: Long => Int): DataFrame =
    topK(kernelPairs(shape(queries), k, probesOf), k)

  /** A top-`copies·k` buffer per query: each id sits in at most `copies`
    * lists, so a buffer's top-copies·k WITH duplicates holds the better
    * copy of every id of its top-k without them. */
  private def kernelPairs(q: DataFrame, k: Int, probesOf: Long => Int): DataFrame =
    scan.pairs(lists, cs, q, probesOf, copies * k)

  private def topK(pairs: DataFrame, k: Int): DataFrame = {
    val best =
      if (copies == 1) pairs
      else pairs.groupBy(col("qid"), col("_nid"))
        .agg((if (scan.minClose) min(col("dist")) else max(col("dist"))).as("dist"))
    graft.ops.BruteForceKnn.topKPerQuery(best, k,
      if (scan.minClose) Metric.L2 else Metric.InnerProduct)
  }
}
