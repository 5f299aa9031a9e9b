package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.GenericArrayData
import graft.core.{Metric, TopKBuf}
import graft.expr.{CentroidOps, CentroidSet}

/** The held-out exact ground truth every build-time calibration of an
  * index lineage shares: the recall-curve sidecars (IVF-Flat, tiered, and
  * each compressed layout) and the PQ/ScaNN reorder-depth hint
  * (DepthHint). The sample is the first `nQueries` corpus rows in
  * (xxhash64(long id, seed), id) order — so a 32-query prefix of a
  * 128-query sample IS the 32-query sample — and each query's truth is its
  * exact top-(k+1) under the metric, (dist, id) order, minus its own row
  * (a self-match is a guaranteed hit at any probe count and would inflate
  * every recall point by up to 1/k).
  *
  * The lists each true neighbour lives in, recorded by the truth pass
  * itself, are what let the IVF-Flat curve skip the per-point searches
  * altogether (`listCoverage`).
  *
  * Built once per (metric, sample size, k) by `IvfFlatIndex.heldOutTruth`
  * and memoized on that index object only — a loaded, extended or
  * compacted index is a new object and measures afresh, so no cached truth
  * can outlive the rows it was computed over. */
private[graft] final class CurveTruth(
    val qids: Array[Long],
    val qvecs: Array[Array[Float]],
    val k: Int,
    val nbrs: Array[Array[Long]], // per query, best-first, self excluded
    nbrLists: Array[Array[Int]]) { // the list of each of nbrs

  def nQueries: Int = qids.length

  /** Number of (query, true neighbour) pairs — the recall denominator. */
  def pairs: Long = nbrs.iterator.map(_.length.toLong).sum

  /** The first `n` queries of the sample (DepthHint's 32-query sample). */
  def take(n: Int): CurveTruth =
    new CurveTruth(qids.take(n), qvecs.take(n), k, nbrs.take(n), nbrLists.take(n))

  /** (qid, qvec) driver-local frame of the sample. */
  def queryFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    qids.toSeq.zip(qvecs.toSeq).toDF("qid", "qvec")
  }

  /** (qid, nbr_id) driver-local frame of the truth pairs. */
  def truthFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (for (j <- qids.indices; n <- nbrs(j)) yield (qids(j), n)).toDF("qid", "nbr_id")
  }

  /** IVF-Flat recall at each probe count, without searching: under the
    * (dist, id) order a true neighbour whose list is among the query's
    * first p probes always makes the p-probe top-(k+1) (everything ranked
    * ahead of it there is ranked ahead of it in the full corpus too), and
    * one outside them never can. So the p-probe hit count is the number of
    * true neighbours whose list ranks < p in the query's centroid order —
    * the same (dist, list_id) ranking the search's probe selection uses. */
  def listCoverage(cs: CentroidSet, points: Seq[Int]): Seq[Long] = {
    // per pair: the probe count that first reaches the neighbour's list
    val need = qids.indices.flatMap { j =>
      val ranked = CentroidOps.nearest(cs, new GenericArrayData(qvecs(j)), cs.k)
      val rank = new Array[Int](cs.k)
      var r = 0
      while (r < ranked.numElements()) {
        rank(ranked.getStruct(r, 2).getInt(0)) = r
        r += 1
      }
      nbrLists(j).map(l => rank(l) + 1)
    }
    points.map(p => need.count(_ <= p).toLong)
  }

  /** Compressed-layout hit counts at every probe count from ONE search
    * pass: the sample is replicated once per point (query slot
    * i·nQueries + j searches `points(i)` lists), `search` returns each
    * slot's top-(k+1) as (qid, nbr_id), and the true neighbours among them
    * are counted per point. The truth holds each query's own row out, so
    * the count equals that of the top-k left after dropping the self
    * match. */
  def candidateCoverage(spark: SparkSession, points: Seq[Int])(
      search: (DataFrame, Int, Long => Int) => DataFrame): Seq[Long] = {
    import spark.implicits._
    val nQ = nQueries.toLong
    val slots = for (i <- points.indices; j <- qids.indices)
      yield (i * nQ + j, qvecs(j))
    val truth = for (i <- points.indices; j <- qids.indices; n <- nbrs(j))
      yield (i * nQ + j, n)
    val hits = search(slots.toDF("qid", "qvec"), k + 1, slot => points((slot / nQ).toInt))
      .select(col("qid"), col("nbr_id"))
      .join(broadcast(truth.toDF("qid", "nbr_id")), Seq("qid", "nbr_id"))
      .groupBy((col("qid") / nQ).cast("int").as("point")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    points.indices.map(hits.getOrElse(_, 0L))
  }
}

/** What a compressed layout's save measures from: the build's coarse
  * IVF-Flat index, whose memoized held-out truth the layout shares, and
  * the raw (id, vec) corpus the planner refines candidates against. Set by
  * the builds; loaded layouts have none and skip the measurement. */
private[graft] final class CurveSource(val coarse: IvfFlatIndex, val corpus: DataFrame)
    extends Serializable

private[graft] object CurveTruth {

  val Seed = 42L

  /** Sample `nQueries` rows of the index's corpus and take their exact
    * top-(k+1) under `metric`, with the list of each neighbour, from one
    * scan of every list. One sample job plus one scan job. */
  def scan(index: IvfFlatIndex, metric: Metric, nQueries: Int, k: Int): CurveTruth = {
    val spark = index.lists.sparkSession
    import spark.implicits._
    // hash the LONG-cast id: xxhash64 of an int column differs from that
    // of the same value as a long, and every consumer must draw one sample
    val sample = index.lists
      .select(col("id").cast("long").as("id"), col("vec").cast("array<float>").as("vec"))
      .orderBy(xxhash64(col("id"), lit(Seed)), col("id")).limit(nQueries)
      .as[(Long, Array[Float])].collect()
    val qids = sample.map(_._1)
    val qvecs = sample.map(_._2)
    val truth =
      if (k < 1 || sample.isEmpty) qids.map(_ => (Array.emptyLongArray, Array.emptyIntArray))
      else exactTruth(index, qids, qvecs, metric, k)
    new CurveTruth(qids, qvecs, k, truth.map(_._1), truth.map(_._2))
  }

  /** Per sample query: its exact top-(k+1) under `metric` (the (dist, id)
    * order of the searches), own row dropped, k kept, each with its list.
    * Every partition scans all its lists into a top-(k+1) per query with
    * the IVF-Flat list kernel, recording the list of each row that enters
    * a buffer; the driver merges the collected buffers. */
  private def exactTruth(index: IvfFlatIndex, qids: Array[Long], qvecs: Array[Array[Float]],
      metric: Metric, k: Int): Array[(Array[Long], Array[Int])] = {
    val spark = index.lists.sparkSession
    import spark.implicits._
    val kernel = FlatScan(metric)
    val cs = index.centroids
    val batch = spark.sparkContext.broadcast(kernel.batch(cs, qvecs, _ => cs.k))
    val found = index.lists.filter(col("list_id").isNotNull)
      .select(col("list_id").cast("int"), col("id").cast("long"),
        col("vec").cast("array<float>"))
      .as[(Int, Long, Array[Float])].mapPartitions { it =>
        val listOf = new java.util.HashMap[Long, Int]()
        val bufs = kernel.scan(it.map { case (l, id, v) =>
          InternalRow(l, id, UnsafeArrayData.fromPrimitiveArray(v))
        }, batch.value, k + 1, listOf)
        bufs.iterator.zipWithIndex.filter(_._1 != null).flatMap { case (buf, qi) =>
          (0 until buf.size).iterator.map(j => (qi, buf.ids(j), buf.dists(j), listOf.get(buf.ids(j))))
        }
      }.collect().groupBy(_._1)
    qids.indices.map { qi =>
      val cands = found.getOrElse(qi, Array.empty[(Int, Long, Double, Int)])
      val top = TopKBuf(k + 1, Metric.isMinClose(metric), new Array[Double](k + 1),
        new Array[Long](k + 1), 0)
      cands.foreach(c => top.insert(c._3, c._2))
      val listOf = cands.map(c => c._2 -> c._4).toMap
      val ids = top.result().map(_.id).filter(_ != qids(qi)).take(k).toArray
      (ids, ids.map(listOf))
    }.toArray
  }
}
