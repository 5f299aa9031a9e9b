package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Metric
import graft.expr.{BinaryQuantize, BitThresholds, CentroidSet, CentroidResidual,
  AffineProject, ProjectionMatrix, RabitqDot, RabitqDotEx}
import org.apache.spark.sql.graft.{bridge => B}
import graft.ops.{BruteForceKnn, Refine}

/** IVF-RaBitQ — IVF lists carrying RaBitQ-coded residuals
  * (`cuvs::neighbors::ivf_rabitq`, ivf_rabitq.hpp:37-110: n_lists,
  * bits_per_dim = 1 sign bit + extended magnitude bits). This impl
  * supports bits_per_dim ∈ [1,8]: magnitudes are stored as signed bytes
  * (tinyint), which hold at most 2⁷ = 128 levels; the reference's 9-bit
  * top end would need 256 levels (smallint storage).
  *
  * Spark shape: identical probe-broadcast / list-equi-join skeleton as
  * IVF-Flat; the list rows store only the packed sign code (+ optional
  * magnitude bytes) and two floats, ~32-64x smaller than raw vectors at
  * bits=1. The distance estimator is a single custom codegen expression
  * over the packed code plus plain column arithmetic — no decoded vector
  * ever materializes. `searchWithRefine` re-ranks coarse candidates
  * against the raw table, the reference's refine discipline.
  *
  * 100 TB posture: the coded lists table is the only big state (and is
  * bits/8 + 8 bytes per dim·row); queries ship one rotated residual per
  * probe (queries × nProbes × dim floats, broadcast). The rotation P is a
  * seeded orthogonal d×d sidecar, O(d²) driver state like centroids.
  */
class IvfRabitqIndex(
    val centroids: CentroidSet,
    val rotation: ProjectionMatrix,
    val lists: DataFrame, // (list_id, id, code arr<bigint>, norm2 dbl, sum_abs dbl [, mags arr<tinyint>, mscale dbl])
    val bitsPerDim: Int,
    // save-time curve measurement source (IvfPqIndex doc)
    val measureSource: Option[CurveSource] = None) extends Serializable {

  import IvfRabitqIndex._

  /** Top-kCoarse per query by estimated L2 — the in-list ADC pass. */
  def search(queries: DataFrame, kCoarse: Int, nProbes: Int,
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    // Fused estimator kernel (AdcKernel pattern): rotated residual queries
    // + their scalar stats precomputed with the same JVM ops the codegen
    // expressions call; the coded lists stream once. Identical rows.
    val sparkS = queries.sparkSession
    val q = queries.select(col(qidCol).cast("long").as("qid"), col(qvecCol).as("qvec"))
      .transform(graft.core.Frames.materialize(_))
    if (graft.graphops.LocalKernel.enabled(sparkS) &&
        graft.graphops.LocalKernel.within(q,
          graft.graphops.LocalKernel.maxVectors(sparkS))) {
      try return searchLocal(q, kCoarse, _ => nProbes)
      finally q.unpersist()
    }
    q.unpersist()
    val probes = queries
      .select(col(qidCol).cast("long").as("qid"),
        graft.cluster.KMeans.nearestCol(centroids, col(qvecCol), nProbes).as("_p"),
        col(qvecCol).as("_qv"))
      .select(col("qid"), explode(col("_p").getField("list_id")).as("list_id"), col("_qv"))
      .withColumn("_qr", rotate(residual(col("_qv"), col("list_id"), centroids), rotation))
      .withColumn("_qs", aggregate(col("_qr"), lit(0.0), (s, x) => s + x.cast("double")))
      .withColumn("_qn2", aggregate(col("_qr"), lit(0.0),
        (s, x) => s + x.cast("double") * x.cast("double")))
      .select(col("qid"), col("list_id"), col("_qr"), col("_qs"), col("_qn2"))
      // once-per-(query, list) barrier for the rotated residual (dim²
      // flops) and its interpreted aggregate sums — see IvfPqIndex.search
      .localCheckpoint()

    val estIp =
      if (bitsPerDim <= 1) {
        // <r, q-c> ≈ ‖u‖²(2·S1 − S)/Σ|u| (see RabitqOps); Σ|u|=0 ⇒ r=0 ⇒ 0.
        val s1 = B.column(RabitqDot(B.expression(col("code")), B.expression(col("_qr"))))
        when(col("sum_abs") > 0.0,
          col("norm2") * (lit(2.0) * s1 - col("_qs")) / col("sum_abs")).otherwise(lit(0.0))
      } else
        B.column(RabitqDotEx(Seq(B.expression(col("code")), B.expression(col("mags")),
          B.expression(col("mscale")), B.expression(col("_qr")))))

    val pairs = lists
      .join(broadcast(probes), "list_id")
      .select(col("qid"), col("id").as("_nid"),
        (col("_qn2") + col("norm2") - lit(2.0) * estIp).as("dist"))
    BruteForceKnn.topKPerQuery(pairs, kCoarse, Metric.L2)
  }

  /** The fused kernel over (qid, qvec) queries, each probing
    * `probesOf(qid)` lists. */
  private def searchLocal(q: DataFrame, kCoarse: Int, probesOf: Long => Int): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.expr.{AffineOps, CentroidOps, RabitqOps}
    val qArr = q.as[(Long, Array[Float])].collect()
    val cs = centroids
    // per probed list: (query slot, rotated residual, Σqr, Σqr²)
    val byList = new java.util.HashMap[Int,
      scala.collection.mutable.ArrayBuffer[(Int, GenericArrayData, Double, Double)]]()
    qArr.zipWithIndex.foreach { case ((qid, qvec), qi) =>
      val qad = new GenericArrayData(qvec)
      val probed = CentroidOps.nearest(cs, qad, probesOf(qid))
      var p = 0
      while (p < probed.numElements()) {
        val lid = probed.getStruct(p, 2).getInt(0)
        val qr = AffineOps(rotation, CentroidOps.residual(cs, qad, lid))
          .asInstanceOf[GenericArrayData]
        var qs = 0.0; var qn2 = 0.0
        var i = 0
        val n = qr.numElements()
        while (i < n) {
          val x = qr.getFloat(i).toDouble
          qs += x; qn2 += x * x
          i += 1
        }
        var b = byList.get(lid)
        if (b == null) {
          b = new scala.collection.mutable.ArrayBuffer[(Int, GenericArrayData, Double, Double)]()
          byList.put(lid, b)
        }
        b += ((qi, qr, qs, qn2))
        p += 1
      }
    }
    val probeIdx = new java.util.HashMap[Int, Array[(Int, GenericArrayData, Double, Double)]](
      byList.size * 2)
    byList.forEach((l, b) => probeIdx.put(l, b.toArray))
    val probedLids = {
      val b = scala.collection.mutable.ArrayBuffer[Int]()
      probeIdx.forEach((l, _) => b += l)
      b.toSeq
    }
    val bcQids = spark.sparkContext.broadcast(qArr.map(_._1))
    val bcProbes = spark.sparkContext.broadcast(probeIdx)
    val kk = kCoarse
    val extended = bitsPerDim > 1

    def emit(bufs: java.util.HashMap[Int, graft.core.TopKBuf],
        qids: Array[Long]): Iterator[(Long, Long, Double)] = {
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
      bufs.forEach { (qi, buf) =>
        (0 until buf.size).foreach(j => out += ((qids(qi), buf.ids(j), buf.dists(j))))
      }
      out.iterator
    }
    def bufFor(bufs: java.util.HashMap[Int, graft.core.TopKBuf], qi: Int): graft.core.TopKBuf = {
      var buf = bufs.get(qi)
      if (buf == null) {
        buf = graft.core.TopKBuf(kk, minClose = true,
          new Array[Double](kk), new Array[Long](kk), 0)
        bufs.put(qi, buf)
      }
      buf
    }

    val pruned = lists.filter(col("list_id").isInCollection(probedLids))
    val pairs =
      if (!extended) {
        pruned
          .select(col("list_id").cast("int"), col("id").cast("long"),
            col("code"), col("norm2").cast("double"), col("sum_abs").cast("double"))
          .as[(Int, Long, Array[Long], Double, Double)]
          .mapPartitions { rows =>
            val qids = bcQids.value; val pi = bcProbes.value
            val bufs = new java.util.HashMap[Int, graft.core.TopKBuf]()
            rows.foreach { case (lid, nid, code, norm2, sumAbs) =>
              val probing = pi.get(lid)
              if (probing != null) {
                val codeAD = new GenericArrayData(code)
                var t = 0
                while (t < probing.length) {
                  val (qi, qr, qs, qn2) = probing(t)
                  val estIp =
                    if (sumAbs > 0.0) {
                      val s1 = RabitqOps.dotSelected(codeAD, qr)
                      norm2 * (2.0 * s1 - qs) / sumAbs
                    } else 0.0
                  bufFor(bufs, qi).insert(qn2 + norm2 - 2.0 * estIp, nid)
                  t += 1
                }
              }
            }
            emit(bufs, qids)
          }
      } else {
        pruned
          .select(col("list_id").cast("int"), col("id").cast("long"),
            col("code"), col("norm2").cast("double"),
            col("mags").cast("array<int>"), col("mscale").cast("double"))
          .as[(Int, Long, Array[Long], Double, Array[Int], Double)]
          .mapPartitions { rows =>
            val qids = bcQids.value; val pi = bcProbes.value
            val bufs = new java.util.HashMap[Int, graft.core.TopKBuf]()
            rows.foreach { case (lid, nid, code, norm2, magsI, mscale) =>
              val probing = pi.get(lid)
              if (probing != null) {
                val codeAD = new GenericArrayData(code)
                val magsAD = new GenericArrayData(magsI.map(_.toByte))
                var t = 0
                while (t < probing.length) {
                  val (qi, qr, _, qn2) = probing(t)
                  val estIp = RabitqOps.dotExtended(codeAD, magsAD, mscale, qr)
                  bufFor(bufs, qi).insert(qn2 + norm2 - 2.0 * estIp, nid)
                  t += 1
                }
              }
            }
            emit(bufs, qids)
          }
      }
    BruteForceKnn.topKPerQuery(pairs.toDF("qid", "_nid", "dist"), kCoarse, Metric.L2)
  }

  /** Coarse RaBitQ estimate -> exact re-rank against the raw vectors. */
  def searchWithRefine(queries: DataFrame, dataset: DataFrame, k: Int, nProbes: Int,
      kCoarse: Int, idCol: String = "id", vecCol: String = "vec",
      qidCol: String = "qid", qvecCol: String = "qvec",
      broadcastCandidates: Boolean = false): DataFrame = {
    val cand = search(queries, kCoarse, nProbes, qidCol, qvecCol)
      .select(col("qid"), col("nbr_id").as("id"))
    Refine.refine(cand, dataset, queries, k, Metric.L2, idCol, vecCol, qidCol, qvecCol,
      broadcastCandidates = broadcastCandidates)
  }

  /** Persist: coded lists (partitioned for DPP), centroid sidecar, and the
    * rotation matrix — the ivf_rabitq serialize surface as Parquet. */
  def save(path: String): Unit = {
    lists.write.mode("overwrite").partitionBy("list_id").parquet(s"$path/rabitq_lists")
    val spark = lists.sparkSession
    IvfFlatIndex.saveCentroids(spark, path, centroids, Metric.L2)
    import spark.implicits._
    rotation.flat.grouped(rotation.cols).zipWithIndex.toSeq
      .map { case (row, i) => (i, row.toSeq, bitsPerDim) }
      .toDF("r", "row", "bits_per_dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/rotation")
    val nRows = lists.count()
    IvfFlatIndex.saveMeta(spark, path, nRows)
    // measured probe/recall curve of the planner-served composition
    // (sign-code estimates at the heuristic depth + exact refine)
    if (IvfFlatIndex.recallCurveEnabled(spark))
      measureSource.foreach(IvfFlatIndex.saveCompressedCurve(spark, path, _, Metric.L2,
        centroids.k, nRows, graft.plans.ResolveKnnJoin.compressedDepth(10, None))(searchLocal))
  }
}

object IvfRabitqIndex {

  /** `balanced` selects the reseeding balanced coarse trainer — see
    * [[IvfFlatIndex.Params]]. */
  case class Params(nLists: Int = 1024, nIters: Int = 20, bitsPerDim: Int = 1,
      trainFraction: Double = 0.5, seed: Long = 42, balanced: Boolean = false)

  private[index] def residual(vec: Column, listId: Column, cs: CentroidSet): Column =
    B.column(CentroidResidual(B.expression(vec), B.expression(listId), cs))

  private[index] def rotate(vec: Column, p: ProjectionMatrix): Column =
    B.column(AffineProject(B.expression(vec), p))

  /** Seeded random orthogonal d×d rotation: Gaussian entries + modified
    * Gram-Schmidt. Driver-side O(d³), broadcast as a codegen reference. */
  def randomRotation(dim: Int, seed: Long): ProjectionMatrix = {
    val rnd = new java.util.Random(seed)
    val rows = Array.fill(dim)(Array.fill(dim)(rnd.nextGaussian()))
    var i = 0
    while (i < dim) {
      var j = 0
      while (j < i) {
        val d = {
          var s = 0.0; var t = 0; while (t < dim) { s += rows(i)(t) * rows(j)(t); t += 1 }; s
        }
        var t = 0
        while (t < dim) { rows(i)(t) -= d * rows(j)(t); t += 1 }
        j += 1
      }
      val n = math.sqrt(rows(i).map(x => x * x).sum)
      var t = 0
      while (t < dim) { rows(i)(t) /= n; t += 1 }
      i += 1
    }
    ProjectionMatrix(rows.flatten, dim, dim, Array.emptyDoubleArray)
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): IvfRabitqIndex = {
    val (centroids, _) = IvfFlatIndex.loadCentroids(spark, path)
    // driver-side rotation read (r17): collected to the driver anyway —
    // the Spark job bought nothing (SidecarIO doc); the `r` column carries
    // row positions, so file order is irrelevant
    import graft.sources.SidecarIO
    val rot = SidecarIO.readRows(spark, s"$path/rotation")
      .getOrElse(throw new IllegalStateException(s"no rotation at $path"))
    val dim = rot.length
    val flat = new Array[Double](dim * dim)
    rot.foreach { r =>
      val v = SidecarIO.asDoubles(r("row"))
      System.arraycopy(v, 0, flat, SidecarIO.asInt(r("r")) * dim, dim)
    }
    new IvfRabitqIndex(centroids, ProjectionMatrix(flat, dim, dim, Array.emptyDoubleArray),
      spark.read.parquet(s"$path/rabitq_lists"),
      SidecarIO.asInt(rot.head("bits_per_dim")))
  }

  def build(dataset: DataFrame, params: Params,
      idCol: String = "id", vecCol: String = "vec",
      base: Option[IvfFlatIndex] = None): IvfRabitqIndex = {
    require(params.bitsPerDim >= 1 && params.bitsPerDim <= 8,
      s"bits_per_dim in [1,8], got ${params.bitsPerDim}")
    val ivf = base.getOrElse(IvfFlatIndex.build(dataset,
      IvfFlatIndex.Params(params.nLists, params.nIters, params.trainFraction, params.seed,
        balanced = params.balanced), idCol, vecCol))
    val dim = ivf.centroids.dim
    val p = randomRotation(dim, params.seed)
    val zeroThresh = BitThresholds(Array.fill(dim)(0.0))

    val rotated = ivf.lists
      .withColumn("_u", rotate(residual(col("vec"), col("list_id"), ivf.centroids), p))
    val signCols = rotated.select(
      col("list_id"), col("id"),
      B.column(BinaryQuantize(B.expression(col("_u")), zeroThresh)).as("code"),
      aggregate(col("_u"), lit(0.0),
        (s, x) => s + x.cast("double") * x.cast("double")).as("norm2"),
      aggregate(col("_u"), lit(0.0), (s, x) => s + abs(x.cast("double"))).as("sum_abs"),
      col("_u"))
    val coded =
      if (params.bitsPerDim <= 1) signCols.drop("_u")
      else {
        val levels = 1 << (params.bitsPerDim - 1)
        // per-vector magnitude scale: û_i = sign·(mag+0.5)·mscale. A zero
        // residual (vector exactly at its centroid) gets mscale=0 so the
        // decode yields exactly 0 — not ±0.5 — keeping the estimate unbiased.
        signCols
          .withColumn("_m", array_max(transform(col("_u"), x => abs(x.cast("double")))))
          .withColumn("mscale", when(col("_m") > 0.0, col("_m") / levels).otherwise(lit(0.0)))
          .withColumn("mags", transform(col("_u"), x =>
            when(col("mscale") > 0.0,
              least(lit(levels - 1), floor(abs(x.cast("double")) / col("mscale")).cast("int")))
              .otherwise(lit(0)).cast("tinyint")))
          .drop("_u", "_m")
      }
    new IvfRabitqIndex(ivf.centroids, p,
      coded.persist(StorageLevel.MEMORY_AND_DISK), params.bitsPerDim,
      Some(new CurveSource(ivf,
        dataset.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec")))))
  }
}
