package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Metric
import graft.functions.vector_distance

/** Silhouette score — `cuvs::stats::silhouette_score`
  * (silhouette_score.hpp:32,78): s(i) = (b_i - a_i) / max(a_i, b_i) with
  * a_i = mean intra-cluster distance, b_i = min over other clusters of the
  * mean distance to that cluster.
  *
  * Relational shape: one pairwise join (i != j) -> per (point, other-label)
  * mean -> split into a (own label) and b (min other). The exact form is
  * O(n^2) pairs, so past `spark.graft.silhouette.exactMaxRows` the route
  * swaps to the reference's batched/sampled compromise
  * (silhouette_score.hpp:78): every point is still scored, but its means
  * are estimated against a deterministic per-cluster sample
  * (`spark.graft.silhouette.samplePerCluster` ids with the smallest
  * (xxhash64(id), id) per label, chosen by the partial top-k aggregator —
  * no per-cluster sort, no full shuffle), making the join
  * O(n * clusters * cap) with a broadcast sample side.
  */
object Silhouette {

  /** Per-point silhouettes: (id, label, a, b, s). Cost-routed (see class
    * doc); below the gate the result is exact. */
  def perPoint(df: DataFrame, metric: Metric = Metric.L2Sqrt,
      idCol: String = "id", vecCol: String = "vec", labelCol: String = "label"): DataFrame = {
    // persisted across the gate count and the pairwise pass, so an
    // expensive upstream plan (e.g. a clustering output) evaluates once
    val x = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
      col(labelCol).cast("int").as("label"))
      .transform(graft.core.Frames.materialize(_))
    try {
      val spark = df.sparkSession
      val exactMax = graft.core.GraftConf.SilhouetteExactMaxRows.get(spark)
      val n = x.count()
      val res =
        if (n <= exactMax) {
          // Cost-based route (graft.graphops.LocalKernel): the exact form
          // is a broadcast nested-loop join + a 50k-group aggregate + two
          // derived joins — ~13 jobs whose scheduling dwarfs the O(n²·dim)
          // compute at collectable sizes (r18: 2.4 s median, 1.4 CPU-s of
          // task time). The kernel broadcasts (vec, label) once and scores
          // each point's per-cluster means in one parallel pass over point
          // ranges: same pairwise distance arithmetic (VectorDistanceOps ≡
          // Distance.fn, double-accumulated), means summed in ascending-id
          // order (a canonical order; the join route sums in partition
          // order — same values up to fp associativity, and the declared
          // outputs round to 4dp). The join route stays for exactMaxRows
          // past the broadcast gate and is pinned row-equal by
          // SilhouetteSuite.
          if (graft.graphops.LocalKernel.enabled(spark) &&
              n <= graft.graphops.LocalKernel.maxVectors(spark))
            perPointLocal(x, metric)
          else scores(pairMeans(x, x.as("j"), metric))
        } else {
          val cap = graft.core.GraftConf.SilhouetteSamplePerCluster.get(spark)
          perPointSampled(x, metric, cap)
        }
      res.localCheckpoint()
    } finally x.unpersist()
  }

  /** Single-pass broadcast kernel for the exact route (see perPoint doc);
    * identical output schema, row-equal to the join route up to fp
    * associativity of the per-cluster mean. */
  private[graft] def perPointLocal(x: DataFrame, metric: Metric): DataFrame = {
    val spark = x.sparkSession
    import spark.implicits._
    val rows: Array[(Long, Array[Float], Int)] =
      x.select(col("id"), col("vec"), col("label"))
        .as[(Long, Array[Float], Int)].collect().sortBy(_._1)
    val labels = rows.map(_._3).distinct.sorted
    val labelIdx = labels.zipWithIndex.toMap
    val distFn = graft.core.Distance.fn(metric)
    val bc = spark.sparkContext.broadcast(rows)
    val nLab = labels.length
    val labelIdxB = spark.sparkContext.broadcast(labelIdx)
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism, rows.length))
    val res = spark.range(0, rows.length, 1, parts).as[Long].mapPartitions { it =>
      val all = bc.value
      val lIdx = labelIdxB.value
      it.flatMap { iL =>
        val i = iL.toInt
        val (id, vec, label) = all(i)
        val sums = new Array[Double](nLab)
        val counts = new Array[Long](nLab)
        var j = 0
        while (j < all.length) {
          if (j != i) {
            val li = lIdx(all(j)._3)
            sums(li) += distFn(vec, all(j)._2)
            counts(li) += 1
          }
          j += 1
        }
        val own = lIdx(label)
        // the join route emits a only when the point has an intra-cluster
        // pair, and b only when some other cluster is non-empty — an inner
        // join on both, so a singleton-cluster point or a one-cluster
        // dataset drops out of the result exactly as it does here
        if (counts(own) == 0) Iterator.empty
        else {
          val a = sums(own) / counts(own)
          var b = Double.MaxValue
          var hasB = false
          var li = 0
          while (li < nLab) {
            if (li != own && counts(li) > 0) {
              val m = sums(li) / counts(li)
              if (!hasB || m < b) { b = m; hasB = true }
            }
            li += 1
          }
          if (!hasB) Iterator.empty
          else Iterator.single((id, label, a, b, (b - a) / math.max(a, b)))
        }
      }
    }.toDF("id", "label", "a", "b", "s")
    res
  }

  /** Sampled route, exposed for tests; identical output schema. */
  private[graft] def perPointSampled(x: DataFrame, metric: Metric, cap: Int): DataFrame = {
    val sampleIds = x.groupBy(col("label"))
      .agg(graft.core.TopK.topk(cap, minClose = true)(
        xxhash64(col("id")).cast("double"), col("id")).as("nn"))
      .select(explode(col("nn")).as("n"))
      .select(col("n").getField("id").as("id"))
    val sample = x.join(sampleIds, "id")
    scores(pairMeans(x, broadcast(sample).as("j"), metric))
  }

  /** Mean distance from every i to each cluster's representatives. */
  private def pairMeans(x: DataFrame, jSide: DataFrame, metric: Metric): DataFrame =
    x.as("i")
      .crossJoin(jSide)
      .filter(col("i.id") =!= col("j.id"))
      .select(col("i.id").as("id"), col("i.label").as("label"), col("j.label").as("olabel"),
        vector_distance(metric, col("i.vec"), col("j.vec")).as("d"))
      .groupBy(col("id"), col("label"), col("olabel"))
      .agg(avg(col("d")).as("mean_d"))

  private def scores(pairMeans: DataFrame): DataFrame = {
    val a = pairMeans.filter(col("label") === col("olabel"))
      .select(col("id"), col("label"), col("mean_d").as("a"))
    val b = pairMeans.filter(col("label") =!= col("olabel"))
      .groupBy(col("id")).agg(min(col("mean_d")).as("b"))
    a.join(b, "id")
      .select(col("id"), col("label"), col("a"), col("b"),
        ((col("b") - col("a")) / greatest(col("a"), col("b"))).as("s"))
  }

  /** Mean silhouette over all points. */
  def score(df: DataFrame, metric: Metric = Metric.L2Sqrt,
      idCol: String = "id", vecCol: String = "vec", labelCol: String = "label"): Double =
    perPoint(df, metric, idCol, vecCol, labelCol)
      .agg(avg(col("s"))).head().getDouble(0)
}
