package graft.index

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}
import graft.core.{Metric, TopKBuf}
import graft.expr.{CentroidOps, CentroidSet}

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
}

/** The per-task kernel of the probe-pruned IVF searches (ivfflat_interleaved_scan
  * / the IVF-PQ similarity kernel): one pass over the rows of the probed
  * lists, each row scored against only the queries that probed its list,
  * into a top-`bufK` buffer per query position. Rows arrive as
  * (list_id int, id long, payload) InternalRows — from the typed list
  * Dataset of the library searches (`pairs`), from the list child of
  * `graft.plans.IvfSearchExec` on the planner's route — so both share this
  * one loop. Buffers order by (dist, id), so the per-qid merge of any
  * partitioning of the rows gives the same top-k. */
private[graft] sealed trait ListScan extends Serializable {
  /** The list-table column scored, and the type the rows carry it in. */
  def payload: String
  def payloadType: DataType
  /** Buffer order: false when larger scores are closer. */
  def minClose: Boolean
  /** Driver side: the `n` lists `vec` probes. */
  def probe(cs: CentroidSet, vec: Array[Float], n: Int): Array[Int]
  /** Task side: one partition's rows into per-position buffers (null for
    * a position none of the rows' lists was probed by). */
  def scan(rows: Iterator[InternalRow], batch: ScanBatch, bufK: Int): Array[TopKBuf]

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

  /** The probed lists' rows of `lists` as (list_id int, id long, payload):
    * the filter on the partition column prunes the unprobed lists of a
    * saved layout statically. */
  private def prunedRows(lists: DataFrame, probed: Seq[Int]): DataFrame =
    lists.filter(col("list_id").isInCollection(probed))
      .select(col("list_id").cast(IntegerType), col("id").cast("long"),
        col(payload).cast(payloadType))

  /** (qid, _nid, dist) candidates of (qid, qvec) queries for the caller's
    * per-qid top-k epilogue: parts·|Q|·bufK rows. `probesOf` is each
    * query's probe count by qid — one count for a plain search; the
    * save-time curve sweep searches its sample once per probe point in a
    * single pass (CurveTruth.candidateCoverage). */
  def pairs(lists: DataFrame, cs: CentroidSet, q: DataFrame, probesOf: Long => Int,
      bufK: Int): DataFrame = {
    val spark = lists.sparkSession
    import spark.implicits._
    // a null qid matches nothing in the probe-join route's join on qid
    val qArr = q.filter(col("qid").isNotNull).as[(Long, Array[Float])].collect()
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

/** Raw-vector lists (IVF-Flat): exact `metric` distances. */
private[graft] final case class FlatScan(metric: Metric) extends ListScan {
  def payload: String = "vec"
  def payloadType: DataType = ArrayType(FloatType)
  def minClose: Boolean = Metric.isMinClose(metric)

  /** The (dist, list_id) coarse select_k of the expression route. */
  def probe(cs: CentroidSet, vec: Array[Float], n: Int): Array[Int] = {
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
        val nvec = row.getArray(2).toFloatArray()
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
  def payload: String = "pq_codes"
  def payloadType: DataType = ArrayType(IntegerType)

  /** The coarse select_k of the expression route (CentroidOps.nearest). */
  def probe(cs: CentroidSet, vec: Array[Float], n: Int): Array[Int] = {
    val probed = CentroidOps.nearest(cs, new GenericArrayData(vec), n)
    Array.tabulate(probed.numElements())(p => probed.getStruct(p, 2).getInt(0))
  }

  protected def mapRows(rows: DataFrame)(
      f: Iterator[InternalRow] => Iterator[(Long, Long, Double)]): Dataset[(Long, Long, Double)] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.as[(Int, Long, Array[Int])].mapPartitions(it => f(it.map { case (l, id, c) =>
      InternalRow(l, id, UnsafeArrayData.fromPrimitiveArray(c))
    }))
  }

  def scan(rows: Iterator[InternalRow], batch: ScanBatch, bufK: Int): Array[TopKBuf] = {
    val pi = batch.probing
    val bufs = new Array[TopKBuf](batch.size)
    // list -> the tables of its probing queries, aligned with pi(list)
    val tables = new java.util.HashMap[Int, Array[Array[Double]]]()
    // list -> its rows not yet scored
    val pending = new java.util.HashMap[Int, AdcScan.Block]()
    def score(lid: Int, b: AdcScan.Block): Unit = {
      val probing = pi.get(lid)
      var luts = tables.get(lid)
      if (luts == null) {
        val bySlot = new java.util.HashMap[Int, Array[Double]]()
        luts = probing.map(qi =>
          bySlot.computeIfAbsent(batch.slot(qi), v => lutFor(lid, batch.vecs(v))))
        tables.put(lid, luts)
      }
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

  /** Up to `Rows` coded rows of one list, codes flattened row-major. */
  private final class Block(val width: Int) {
    val codes = new Array[Int](Rows * width)
    val ids = new Array[Long](Rows)
    var n = 0
    /** Append a row; true when the block is full. */
    def add(id: Long, c: org.apache.spark.sql.catalyst.util.ArrayData): Boolean = {
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
