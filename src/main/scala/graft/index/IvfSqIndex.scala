package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Metric
import graft.expr.CentroidSet
import graft.ops.Refine
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

  /** Each query's top-k over its nProbes lists by decoded-int8 distance:
    * the fused decode kernel (SqScan) when the query side fits in memory,
    * else the partition-pruned join with the codegen'd decode inline
    * (IvfLists.search). */
  def search(queries: DataFrame, k: Int, nProbes: Int,
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame =
    ivfLists.search(queries, k, nProbes, qidCol, qvecCol)(
      graft.functions.vector_distance(metric, col("_qvec"),
        ScalarQuantizer.inverseCol(col("codes"), sq)))

  /** The lists as every search reads them, with the SqScan kernel. */
  private[graft] def ivfLists: IvfLists =
    IvfLists(lists, centroids, SqScan(metric, sq.lo, sq.hi))

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
    LayoutFormat.replace(path, lists)
    val nRows = IvfFlatIndex.writeLists(lists, s"$path/sq_lists")
    val spark = lists.sparkSession
    IvfFlatIndex.saveCentroids(spark, path, centroids, metric)
    import spark.implicits._
    graft.sources.SidecarIO.write(spark, s"$path/sq_model",
      graft.sources.SidecarIO.rows(Seq((sq.lo, sq.hi)), "lo", "hi"))
    LayoutFormat.write(spark, path, nRows, "ivf_sq")
    // measured probe/recall curve of the planner-served composition
    // (decoded-int8 candidates at the heuristic depth + exact refine)
    if (IvfFlatIndex.recallCurveEnabled(spark))
      measureSource.foreach(IvfFlatIndex.saveCompressedCurve(spark, path, _, ivfLists, metric,
        nRows, graft.plans.ResolveKnnJoin.compressedDepth(10, None)))
  }
}

object IvfSqIndex {
  def load(spark: SparkSession, path: String): IvfSqIndex = {
    LayoutFormat.require(spark, path, "ivf_sq")
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
