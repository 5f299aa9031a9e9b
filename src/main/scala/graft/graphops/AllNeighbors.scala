package graft.graphops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.cluster.KMeans
import graft.core.Metric
import graft.ops.BruteForceKnn

/** Partitioned kNN-graph build — `cuvs::neighbors::all_neighbors`
  * (all_neighbors.hpp:29-95): cluster rows into `nClusters` cells, assign
  * each row to its `overlapFactor` nearest cells, build a local exact kNN
  * graph inside every cell, merge per-node top-k globally.
  *
  * This is THE scalable kNN-graph primitive (and the dedup workhorse,
  * SURVEY.md §2.6): the quadratic join happens only within cells
  * (n^2/c per cell), cells are Spark partitions (groupBy cell), and the
  * merge is the same top-k aggregator as everything else. overlap_factor=2
  * default mirrors the reference.
  */
object AllNeighbors {

  /** `balanced` trains the cells with the reseeding balanced Lloyd
    * (KMeans.fitBalanced) instead of plain Lloyd — the coarse trainer the
    * reference's ACE build mode uses (cagra_build.cuh:116-118,
    * kmeans::balanced_params). */
  /** `trainsetCap` (0 = off) bounds the rows the cell-trainer's Lloyd
    * iterations see (KMeans.Params.trainsetCap): with nClusters ~ n/cell
    * the training term is otherwise n²/cell — the one superlinear stage
    * in an otherwise linear build. */
  case class Params(k: Int = 10, nClusters: Int = 16, overlapFactor: Int = 2,
      kmeansIters: Int = 10, seed: Long = 42, metric: Metric = Metric.L2,
      balanced: Boolean = false, trainsetCap: Long = 0)

  /** Edge list (src, dst, dist, rank), rank 1..k best-first, self excluded. */
  def build(df: DataFrame, params: Params,
      idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    val data = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .transform(graft.core.Frames.materialize(_))
    val kp = KMeans.Params(params.nClusters, params.kmeansIters,
      seed = params.seed, metric = params.metric, trainsetCap = params.trainsetCap)
    val model =
      if (params.balanced) KMeans.fitBalanced(data, kp, idCol = "id", vecCol = "vec")
      else KMeans.fit(data, kp, "id", "vec")
    val assigned = data
      .select(col("id"), col("vec"),
        KMeans.nearestCol(model.centroids, col("vec"), params.overlapFactor)
          .getField("list_id").as("cells"))
      .select(col("id"), col("vec"), col("cells"), explode(col("cells")).as("cell"))
      .transform(graft.core.Frames.materialize(_))
    // Local exact kNN per cell (the reference's per-batch local graph,
    // all_neighbors.hpp:29-95): a fused select_k kernel emits only k
    // candidates per (node, cell) into the global merge. The alternative
    // (self-join on cell + distinct + aggregate) shuffles the full
    // within-cell cross product; this shuffles |rows|·overlap·k.
    //
    // Skew guard: k-means cells are NOT uniform (a 200k-row smoke showed a
    // 6x-over-average hot cell whose single-task m^2/2 loop dominated the
    // whole build). Cells larger than `blockRows` are tiled into
    // ceil(m/blockRows) hash blocks and every block PAIR becomes its own
    // task of at most blockRows^2 work — the within-cell result is the
    // top-k of the union of per-pair top-ks, identical to the single-task
    // loop because TopKBuf orders totally on (dist, id). This is the same
    // tiling the reference's batched GEMM applies inside a cluster.
    val spark = df.sparkSession
    import spark.implicits._
    val blockRows = graft.core.GraftConf.AllNeighborsBlockRows.get(spark)
    // the histogram job doubles as assigned's cache materialization
    val nBlocksOf: Map[Int, Int] = assigned.groupBy("cell").count().collect()
      .map(r => r.getInt(0) ->
        math.max(1, ((r.getLong(1) + blockRows - 1) / blockRows).toInt)).toMap
    data.unpersist() // assigned's cache supersedes it
    val nBlocksB = spark.sparkContext.broadcast(nBlocksOf)
    val distFn = graft.core.Distance.fn(params.metric)
    val minClose = Metric.isMinClose(params.metric)
    val symmetric = params.metric != Metric.KLDivergence
    val k = params.k
    // L2 family admits a monotone partial sum, so a pair provably worse
    // than BOTH rows' current k-th bounds aborts mid-accumulation — the
    // same bound propagation the reference's fused select_k applies
    // (knn_brute_force.cuh:148-181). Other metrics take the generic path.
    val l2Fast = params.metric == Metric.L2 || params.metric == Metric.L2Sqrt
    val sqrtOut = params.metric == Metric.L2Sqrt
    val localKnn = assigned
      .select(col("cell"), col("id"), col("vec"), col("cells"))
      .as[(Int, Long, Array[Float], Array[Int])]
      .flatMap { case (cell, id, vec, cells) =>
        val nb = nBlocksB.value.getOrElse(cell, 1)
        if (nb == 1) Iterator(((cell, 0, 0), id, vec, cells))
        else {
          // deterministic block of this row; replicate to its nb block pairs
          val b = (java.lang.Long.hashCode(id * 0x9E3779B97F4A7C15L + cell)
            & Int.MaxValue) % nb
          (0 until nb).iterator.map { o =>
            ((cell, math.min(b, o), math.max(b, o)), id, vec, cells)
          }
        }
      }
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val (cell, pa, pb) = key
        val nb = nBlocksB.value.getOrElse(cell, 1)
        val all = it.toArray
        def blockOf(id: Long): Int =
          if (nb == 1) 0
          else (java.lang.Long.hashCode(id * 0x9E3779B97F4A7C15L + cell)
            & Int.MaxValue) % nb
        def newBufs(m: Int) = Array.fill(m)(graft.core.TopKBuf(k, minClose,
          new Array[Double](k), new Array[Long](k), 0))
        def l2UpTo(a: Array[Float], b: Array[Float], bnd: Double): Double =
          graft.core.Distance.l2UpTo(a, b, bnd)
        // A pair sharing several cells is processed ONLY in the smallest
        // shared cell: skipping it elsewhere drops duplicate compute AND
        // duplicate emission (no distinct stage downstream). The final
        // top-k is unchanged — a candidate pushed out of any tile buf is
        // dominated by the k emitted ones, so it never ranks.
        def dupElsewhere(ca: Array[Int], cb: Array[Int]): Boolean = {
          var x = 0
          while (x < ca.length) {
            val v = ca(x)
            if (v < cell) {
              var y = 0
              while (y < cb.length) { if (cb(y) == v) return true; y += 1 }
            }
            x += 1
          }
          false
        }
        if (pa == pb) {
          // diagonal tile: triangular loop over the block's rows
          val rows = all
          val m = rows.length
          val bufs = newBufs(m)
          var i = 0
          while (i < m) {
            val vi = rows(i)._3
            var j = i + 1
            while (j < m) {
              if (!dupElsewhere(rows(i)._4, rows(j)._4)) {
                if (l2Fast) {
                  val raw = math.max(bufs(i).bound, bufs(j).bound)
                  val bnd = if (sqrtOut && !raw.isInfinity) Math.nextUp(Math.nextUp(raw * raw)) else raw
                  val s = l2UpTo(vi, rows(j)._3, bnd)
                  if (s <= bnd) {
                    val d = if (sqrtOut) math.sqrt(s) else s
                    bufs(i).insert(d, rows(j)._2)
                    bufs(j).insert(d, rows(i)._2)
                  }
                } else {
                  val d = distFn(vi, rows(j)._3)
                  bufs(i).insert(d, rows(j)._2)
                  bufs(j).insert(if (symmetric) d else distFn(rows(j)._3, vi), rows(i)._2)
                }
              }
              j += 1
            }
            i += 1
          }
          bufs.iterator.zipWithIndex.flatMap { case (buf, i) =>
            (0 until buf.size).iterator.map(j => (rows(i)._2, buf.ids(j), buf.dists(j)))
          }
        } else {
          // off-diagonal tile: full bipartite between the two blocks
          val left = all.filter(r => blockOf(r._2) == pa)
          val right = all.filter(r => blockOf(r._2) == pb)
          val lb = newBufs(left.length)
          val rb = newBufs(right.length)
          var i = 0
          while (i < left.length) {
            val vi = left(i)._3
            var j = 0
            while (j < right.length) {
              if (!dupElsewhere(left(i)._4, right(j)._4)) {
                if (l2Fast) {
                  val raw = math.max(lb(i).bound, rb(j).bound)
                  val bnd = if (sqrtOut && !raw.isInfinity) Math.nextUp(Math.nextUp(raw * raw)) else raw
                  val s = l2UpTo(vi, right(j)._3, bnd)
                  if (s <= bnd) {
                    val d = if (sqrtOut) math.sqrt(s) else s
                    lb(i).insert(d, right(j)._2)
                    rb(j).insert(d, left(i)._2)
                  }
                } else {
                  val d = distFn(vi, right(j)._3)
                  lb(i).insert(d, right(j)._2)
                  rb(j).insert(if (symmetric) d else distFn(right(j)._3, vi), left(i)._2)
                }
              }
              j += 1
            }
            i += 1
          }
          (lb.iterator.zipWithIndex.flatMap { case (buf, i) =>
            (0 until buf.size).iterator.map(j => (left(i)._2, buf.ids(j), buf.dists(j)))
          }) ++ (rb.iterator.zipWithIndex.flatMap { case (buf, j) =>
            (0 until buf.size).iterator.map(i => (right(j)._2, buf.ids(i), buf.dists(i)))
          })
        }
      }
      .toDF("qid", "_nid", "dist")
    // no distinct stage: the min-shared-cell rule above already guarantees
    // each (qid, nid) candidate is emitted by at most one cell's tiles
    // Global merge as a window sort, not the TopK object aggregate: the
    // input here is already reduced to <= k candidates per (node, tile) by
    // the fused kernels above, so map-side combine has nothing left to
    // save, and at 10M+ candidate rows the Tungsten radix sort behind
    // row_number is both faster and flatter than ObjectHashAggregate
    // (which falls back to sort-based aggregation past 128 keys anyway).
    // Ordering (dist, id) matches TopKBuf's total order exactly.
    val ord =
      if (Metric.isMinClose(params.metric)) Seq(col("dist").asc, col("_nid").asc)
      else Seq(col("dist").desc, col("_nid").asc)
    // Eager materialization (localCheckpoint): the graph IS the product —
    // the reference's build is eager too — and it lets assigned's cache be
    // released here instead of leaking past return. The edge list is
    // |rows|·k small relative to the input.
    val res = localKnn
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(ord: _*)))
      .filter(col("rank") <= params.k)
      .select(col("qid").as("src"), col("_nid").as("dst"), col("dist"), col("rank"))
      .localCheckpoint()
    assigned.unpersist()
    nBlocksB.destroy() // checkpoint cut the lineage; nothing re-reads it
    res
  }

  /** Exact kNN graph (the oracle / small-scale path): brute-force self-join. */
  def exact(df: DataFrame, k: Int, metric: Metric = Metric.L2,
      idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    val q = df.select(col(idCol).cast("long").as("qid"), col(vecCol).as("qvec"))
    BruteForceKnn.knnJoin(df, q, k + 1, metric, idCol, vecCol)
      .filter(col("qid") =!= col("nbr_id"))
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("rank"))))
      .filter(col("rank") <= k)
      .select(col("qid").as("src"), col("nbr_id").as("dst"), col("dist"), col("rank"))
  }

  /** Recall of an approximate kNN graph vs the exact one. */
  def graphRecall(approx: DataFrame, exact: DataFrame): Double =
    graft.core.Recall.vsExact(
      approx.select(col("src"), col("dst")), exact.select(col("src"), col("dst")))
}
