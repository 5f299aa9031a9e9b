package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Metric
import graft.expr.CentroidSet
import graft.ops.{BruteForceKnn, Refine}
import graft.prep.ScalarQuantizer

/** IVF-SQ — IVF over int8 scalar-quantized lists (`cuvs::neighbors::
  * ivf_sq`, ivf_sq.hpp:31-62): the IVF-Flat skeleton with 4x-smaller list
  * rows; the code decoder (the ScalarQuantizer inverse, a codegen'd
  * transform lambda) runs inline in the distance computation, so decoded
  * floats never materialize at rest. Same probe structure, same
  * partition-pruned join; `refine` against the raw table recovers the
  * quantization loss (bounded by half a bucket per dimension).
  */
class IvfSqIndex(
    val centroids: CentroidSet,
    val sq: ScalarQuantizer.Model,
    val lists: DataFrame, // (list_id int, id long, codes array<tinyint>)
    val metric: Metric,
    // save-time curve measurement source (IvfPqIndex doc)
    val measureSource: Option[CurveSource] = None) extends Serializable {

  def search(queries: DataFrame, k: Int, nProbes: Int,
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    // Fused decode+select_k kernel (IvfFlatIndex.searchLocal twin): decode
    // each int8 row once, score every query probing its list. Identical
    // rows to the join route (same linear decode, same distance kernel).
    val sparkS = queries.sparkSession
    val q = queries.select(col(qidCol).cast("long").as("qid"), col(qvecCol).as("qvec"))
      .transform(graft.core.Frames.materialize(_))
    if (graft.graphops.LocalKernel.enabled(sparkS) &&
        graft.graphops.LocalKernel.within(q,
          graft.graphops.LocalKernel.maxVectors(sparkS))) {
      try return searchLocal(q, k, _ => nProbes)
      finally q.unpersist()
    }
    q.unpersist()
    val probes = queries
      .select(col(qidCol).cast("long").as("qid"), col(qvecCol).as("_qvec"),
        graft.cluster.KMeans.nearestCol(centroids, col(qvecCol), nProbes).as("_probes"))
      .select(col("qid"), col("_qvec"),
        explode(col("_probes").getField("list_id")).as("list_id"))
    val pairs = lists
      .join(broadcast(probes), "list_id")
      .select(col("qid"), col("id").as("_nid"),
        graft.functions.vector_distance(metric, col("_qvec"),
          ScalarQuantizer.inverseCol(col("codes"), sq)).as("dist"))
    BruteForceKnn.topKPerQuery(pairs, k, metric)
  }

  /** The fused kernel over (qid, qvec) queries, each probing
    * `probesOf(qid)` lists. */
  private def searchLocal(q: DataFrame, k: Int, probesOf: Long => Int): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val qArr = q.as[(Long, Array[Float])].collect()
    val cs = centroids
    val byList = new java.util.HashMap[Int, scala.collection.mutable.ArrayBuffer[Int]]()
    qArr.zipWithIndex.foreach { case ((qid, qvec), qi) =>
      val probed = graft.expr.CentroidOps.nearest(cs, new GenericArrayData(qvec), probesOf(qid))
      var p = 0
      while (p < probed.numElements()) {
        val lid = probed.getStruct(p, 2).getInt(0)
        var b = byList.get(lid)
        if (b == null) { b = new scala.collection.mutable.ArrayBuffer[Int](); byList.put(lid, b) }
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
    val bcQ = spark.sparkContext.broadcast(qArr)
    val bcProbes = spark.sparkContext.broadcast(probeIdx)
    val (lo, hi) = (sq.lo, sq.hi)
    val met = metric
    val kk = k
    val pairs = lists
      .filter(col("list_id").isInCollection(probedLids))
      .select(col("list_id").cast("int"), col("id").cast("long"),
        col("codes").cast("array<int>"))
      .as[(Int, Long, Array[Int])]
      .mapPartitions { rows =>
        val qs = bcQ.value; val pi = bcProbes.value
        val fn = graft.core.Distance.fn(met)
        val mc = graft.core.Metric.isMinClose(met)
        val bufs = new java.util.HashMap[Int, graft.core.TopKBuf]()
        rows.foreach { case (lid, nid, codes) =>
          val probing = pi.get(lid)
          if (probing != null) {
            // same linear decode as ScalarQuantizer.inverseCol
            val dec = new Array[Float](codes.length)
            var i = 0
            while (i < codes.length) {
              dec(i) = ((codes(i).toDouble + 128) / 255.0 * (hi - lo) + lo).toFloat
              i += 1
            }
            var t = 0
            while (t < probing.length) {
              val qi = probing(t)
              var buf = bufs.get(qi)
              if (buf == null) {
                buf = graft.core.TopKBuf(kk, mc, new Array[Double](kk), new Array[Long](kk), 0)
                bufs.put(qi, buf)
              }
              buf.insert(fn(qs(qi)._2, dec), nid)
              t += 1
            }
          }
        }
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
        bufs.forEach { (qi, buf) =>
          (0 until buf.size).foreach(j => out += ((qs(qi)._1, buf.ids(j), buf.dists(j))))
        }
        out.iterator
      }
      .toDF("qid", "_nid", "dist")
    BruteForceKnn.topKPerQuery(pairs, k, metric)
  }

  def searchWithRefine(queries: DataFrame, dataset: DataFrame, k: Int, nProbes: Int,
      kCoarse: Int, idCol: String = "id", vecCol: String = "vec",
      qidCol: String = "qid", qvecCol: String = "qvec",
      broadcastCandidates: Boolean = false): DataFrame = {
    val cand = search(queries, kCoarse, nProbes, qidCol, qvecCol)
      .select(col("qid"), col("nbr_id").as("id"))
    Refine.refine(cand, dataset, queries, k, metric, idCol, vecCol, qidCol, qvecCol,
      broadcastCandidates = broadcastCandidates)
  }

  /** Persist: int8 lists (partitioned for DPP), centroid sidecar, and the
    * (lo, hi) quantizer model — the ivf_sq serialize surface as Parquet. */
  def save(path: String): Unit = {
    val nRows = IvfFlatIndex.writeLists(lists, s"$path/sq_lists")
    val spark = lists.sparkSession
    IvfFlatIndex.saveCentroids(spark, path, centroids, metric)
    import spark.implicits._
    graft.sources.SidecarIO.write(spark, s"$path/sq_model",
      graft.sources.SidecarIO.rows(Seq((sq.lo, sq.hi)), "lo", "hi"))
    IvfFlatIndex.saveMeta(spark, path, nRows)
    // measured probe/recall curve of the planner-served composition
    // (decoded-int8 candidates at the heuristic depth + exact refine)
    if (IvfFlatIndex.recallCurveEnabled(spark))
      measureSource.foreach(IvfFlatIndex.saveCompressedCurve(spark, path, _, metric,
        centroids.k, nRows, graft.plans.ResolveKnnJoin.compressedDepth(10, None))(searchLocal))
  }
}

object IvfSqIndex {
  def load(spark: SparkSession, path: String): IvfSqIndex = {
    val (centroids, metric) = IvfFlatIndex.loadCentroids(spark, path)
    // driver-side one-row model read (r17, SidecarIO doc)
    val m = graft.sources.SidecarIO.readHead(spark, s"$path/sq_model")
      .getOrElse(throw new IllegalStateException(s"no sq_model at $path"))
    new IvfSqIndex(centroids,
      ScalarQuantizer.Model(graft.sources.SidecarIO.asDouble(m("lo")),
        graft.sources.SidecarIO.asDouble(m("hi"))),
      IvfFlatIndex.readListTable(spark, s"$path/sq_lists"), metric)
  }

  def build(dataset: DataFrame, params: IvfFlatIndex.Params, quantile: Double = 0.99,
      idCol: String = "id", vecCol: String = "vec",
      base: Option[IvfFlatIndex] = None): IvfSqIndex = {
    val sq = ScalarQuantizer.train(dataset, vecCol, quantile)
    val ivf = base.getOrElse(IvfFlatIndex.build(dataset, params, idCol, vecCol))
    val lists = ivf.lists
      .select(col("list_id"), col("id"),
        ScalarQuantizer.transformCol(col("vec"), sq).as("codes"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    new IvfSqIndex(ivf.centroids, sq, lists, params.metric, Some(new CurveSource(ivf,
      dataset.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec")))))
  }
}
