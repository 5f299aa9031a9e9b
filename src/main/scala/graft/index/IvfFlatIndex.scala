package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.cluster.KMeans
import graft.core.Metric
import graft.expr.CentroidSet
import graft.ops.BruteForceKnn

/** IVF-Flat index as a *table layout*, not an opaque blob (SURVEY.md §1.1):
  * a vectors table keyed by `list_id` (one inverted list per k-means cell,
  * ivf_flat.hpp:26-81) plus a small centroid set.
  *
  * Search is the flagship partition-pruned join (ivf_flat_search.cuh:41-303
  * mapped in SURVEY.md §2.3): per query, pick the `nProbes` nearest
  * centroids map-side (coarse select_k), then equi-join ONLY those lists and
  * top-k the scanned candidates. Cell pruning ≅ partition pruning: on a
  * saved index (partitionBy(list_id) parquet) the broadcast-hash join on
  * `list_id` triggers dynamic partition pruning, so untouched lists are
  * never read — the Spark twin of `ivfflat_interleaved_scan` touching only
  * probed lists.
  *
  * 100 TB posture: the index table is the big side and never shuffles at
  * search time (probes broadcast); build shuffles once (repartition by
  * list_id ≅ the reference's list construction). `extend` appends new rows
  * assigned to existing cells without retraining (ivf_flat.hpp:60-67
  * add_data_on_build/adaptive_centers analog, centers held fixed).
  */
class IvfFlatIndex(
    val centroids: CentroidSet,
    val lists: DataFrame, // (list_id int, id long, vec array<float>)
    val metric: Metric) extends Serializable {

  /** (qid, nbr_id, rank, dist) for the top-k of each query, scanning only
    * nProbes lists per query. */
  def search(queries: DataFrame, k: Int, nProbes: Int,
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val q = queries.select(col(qidCol).cast("long").as("qid"), col(qvecCol).as("qvec"))
      .transform(graft.core.Frames.materialize(_))

    // Fused probe+select_k kernel (graft.graphops.LocalKernel): the probe
    // set is per-query state — always the broadcast side — so when the
    // QUERY table fits in memory the whole search is one pass over the
    // (streaming, never collected) lists: each list row scores only the
    // queries that probed its list (an inverted probe index), into
    // per-query TopKBufs. Identical rows to the join plan below — same
    // distance kernel, same (dist, id) merge order. At scale the
    // partition-pruned join runs unchanged.
    val spark = queries.sparkSession
    if (graft.graphops.LocalKernel.enabled(spark) &&
        graft.graphops.LocalKernel.within(q,
          graft.graphops.LocalKernel.maxVectors(spark))) {
      try return searchLocal(q, k, nProbes)
      finally q.unpersist()
    }
    q.unpersist()

    val probes = q
      .select(col("qid"), col("qvec").as("_qvec"),
        KMeans.nearestCol(centroids, col("qvec"), nProbes).as("_probes"))
      .select(col("qid"), col("_qvec"), explode(col("_probes").getField("list_id")).as("list_id"))
    val pairs = lists
      .join(broadcast(probes), "list_id")
      .select(col("qid"), col("id").as("_nid"),
        graft.functions.vector_distance(metric, col("_qvec"), col("vec")).as("dist"))
    BruteForceKnn.topKPerQuery(pairs, k, metric)
  }

  /** Exact top-k of (qid, qvec) queries: the fused kernel probing every
    * list. */
  private[index] def fullProbeSearch(q: DataFrame, k: Int): DataFrame =
    searchLocal(q, k, centroids.k)

  /** Broadcast-queries kernel: probe selection runs driver-side over the
    * (always in-memory) centroid set, then one mapPartitions over the list
    * rows with an inverted (list_id -> probing queries) index. */
  private def searchLocal(q: DataFrame, k: Int, nProbes: Int): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    val qArr = q.as[(Long, Array[Float])].collect()
    val cs = centroids
    val distFn = graft.core.Distance.fn(metric)
    val minClose = graft.core.Metric.isMinClose(metric)
    // per-query probe set via the same (dist, list_id) coarse select_k the
    // expression route uses
    val byList = new java.util.HashMap[Int, scala.collection.mutable.ArrayBuffer[Int]]()
    qArr.zipWithIndex.foreach { case ((_, qvec), qi) =>
      val buf = graft.core.TopKBuf(nProbes, minClose,
        new Array[Double](nProbes), new Array[Long](nProbes), 0)
      var l = 0
      while (l < cs.k) {
        buf.insert(distFn(qvec, cs.centroid(l)), l.toLong)
        l += 1
      }
      (0 until buf.size).foreach { j =>
        val lid = buf.ids(j).toInt
        var b = byList.get(lid)
        if (b == null) { b = new scala.collection.mutable.ArrayBuffer[Int](); byList.put(lid, b) }
        b += qi
      }
    }
    val probeIdx = new java.util.HashMap[Int, Array[Int]](byList.size * 2)
    byList.forEach((l, b) => probeIdx.put(l, b.toArray))
    val bcQ = spark.sparkContext.broadcast(qArr)
    val bcProbes = spark.sparkContext.broadcast(probeIdx)
    val kk = k
    val met = metric
    // static partition pruning: the probed list set is known at plan time,
    // so unprobed list partitions of a saved index are never READ (the
    // kernel twin of the join route's dynamic partition pruning)
    val probedLids = {
      val b = scala.collection.mutable.ArrayBuffer[Int]()
      probeIdx.forEach((l, _) => b += l)
      b.toSeq
    }
    val pairs = lists
      .filter(col("list_id").isInCollection(probedLids))
      .select(col("list_id").cast("int"), col("id").cast("long"), col("vec"))
      .as[(Int, Long, Array[Float])]
      .mapPartitions { rows =>
        val qs = bcQ.value; val pi = bcProbes.value
        val fn = graft.core.Distance.fn(met)
        val mc = graft.core.Metric.isMinClose(met)
        val bufs = new java.util.HashMap[Int, graft.core.TopKBuf]()
        rows.foreach { case (lid, nid, nvec) =>
          val probing = pi.get(lid)
          if (probing != null) {
            var t = 0
            while (t < probing.length) {
              val qi = probing(t)
              var buf = bufs.get(qi)
              if (buf == null) {
                buf = graft.core.TopKBuf(kk, mc, new Array[Double](kk), new Array[Long](kk), 0)
                bufs.put(qi, buf)
              }
              buf.insert(fn(qs(qi)._2, nvec), nid)
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

  /** Pre-filtered view of the index (`cuvs::neighbors::filtering` on the
    * IVF path): the predicate applies to the list rows (id/vec), so it
    * pushes into the list scan — deny-listed rows are never scored. The
    * cell layout and centroids are untouched; at full probes the filtered
    * search equals exact kNN over the allowed subset. */
  def filtered(predicate: Column): IvfFlatIndex =
    new IvfFlatIndex(centroids, lists.filter(predicate), metric)

  /** Append new vectors to existing cells (centers fixed) — ivf extend. */
  def extend(newData: DataFrame, idCol: String = "id", vecCol: String = "vec"): IvfFlatIndex = {
    val assigned = IvfFlatIndex.assign(newData, centroids, idCol, vecCol)
    new IvfFlatIndex(centroids, lists.unionByName(assigned), metric)
  }

  /** `adaptive_centers` extend (ivf_flat.hpp:34-46): append the new rows
    * under the CURRENT centers, then drift each receiving list's center to
    * the mean of its now-extended list — "the centers drift to adapt to
    * the changed data distribution" — one groupBy(list_id) pass over the
    * touched lists. Lists that received no rows keep their trained center;
    * list membership is NOT re-assigned (the reference's semantics:
    * centers move, rows stay). */
  def extendAdaptive(newData: DataFrame, idCol: String = "id",
      vecCol: String = "vec"): IvfFlatIndex = {
    val assigned = IvfFlatIndex.assign(newData, centroids, idCol, vecCol)
      .transform(graft.core.Frames.materialize(_))
    val grown = lists.unionByName(assigned)
    // only lists that actually received rows drift; untouched lists keep
    // their trained center (their row mean differs from the Lloyd center)
    val touched = assigned.select(col("list_id")).distinct()
    val means = grown.join(touched, "list_id")
      .groupBy(col("list_id"))
      .agg(graft.core.VectorAgg.vectorAvg(col("vec")).as("mean"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
    assigned.unpersist()
    val flat = centroids.flat.clone()
    means.foreach { case (l, m) =>
      if (m.nonEmpty) System.arraycopy(m, 0, flat, l * centroids.dim, centroids.dim)
    }
    new IvfFlatIndex(
      graft.expr.CentroidSet(flat, centroids.k, centroids.dim, centroids.metricName),
      grown, metric)
  }

  /** Persist as a partitioned table — serialize (brute_force.hpp:728-925
    * analog; Parquet instead of a versioned binary stream). Also writes
    * the two planner sidecars: the index POPULATION (`meta`) so the
    * kNN-join resolver never has to run a plan-time count job over the
    * registered relation (the build already knows n), and the MEASURED
    * probe/recall curve (`recall_curve`) so auto-probe selection inverts
    * THIS index's geometry instead of a fixture constant — the
    * per-config floor discipline of ann_ivf_flat.cuh:102. */
  def save(path: String): Unit = {
    lists.write.mode("overwrite").partitionBy("list_id").parquet(s"$path/lists")
    val spark = lists.sparkSession
    IvfFlatIndex.saveCentroids(spark, path, centroids, metric)
    val nRows = lists.count()
    IvfFlatIndex.saveMeta(spark, path, nRows)
    if (IvfFlatIndex.recallCurveEnabled(spark))
      IvfFlatIndex.saveRecallCurve(spark, path, this, nRows)
  }

  // held-out ground truths measured over THESE lists, per (metric, sample
  // size, k) — see CurveTruth; lives and dies with this object
  @transient private[this] lazy val truths =
    scala.collection.concurrent.TrieMap.empty[(Metric, Int, Int), CurveTruth]

  /** The held-out exact ground truth of this index's corpus under `m`,
    * sized for an `nRows`-row corpus (IvfFlatIndex.curveSampleQueries
    * queries, k = min(10, nRows − 1)): computed on first use, then shared
    * by every calibration that asks for the same metric — this layout's
    * curve, the DepthHint and curve of a compressed layout built over it
    * (its `base`), and any sibling built over the same base. */
  private[graft] def heldOutTruth(m: Metric, nRows: Long): CurveTruth = {
    val nQ = IvfFlatIndex.curveSampleQueries(nRows)
    val k = math.min(10L, nRows - 1).toInt
    truths.getOrElseUpdate((m, nQ, k), CurveTruth.scan(this, m, nQ, k))
  }
}

object IvfFlatIndex {

  /** `balanced` trains the cells with the reseeding balanced Lloyd
    * (KMeans.fitBalanced — the reference's kmeans_balanced coarse
    * trainer), enforcing a size floor so boilerplate-dense regions don't
    * produce hot lists at scale. Default false keeps the historical
    * plain-Lloyd centers the existing oracles replay. */
  /** `trainsetCap` (0 = off) additionally bounds the rows the Lloyd
    * iterations see to an absolute count (KMeans.Params.trainsetCap) —
    * at 10M+ rows a FRACTION still scales the coarse training as n·k,
    * an absolute cap keeps it flat in n. */
  case class Params(nLists: Int = 1024, nIters: Int = 20,
      trainFraction: Double = 0.5, seed: Long = 42, metric: Metric = Metric.L2,
      balanced: Boolean = false, trainsetCap: Long = 0)

  private[index] def assign(df: DataFrame, centroids: CentroidSet,
      idCol: String, vecCol: String): DataFrame = {
    val (cl, _) = KMeans.assignCols(centroids, col(vecCol))
    df.select(cl.as("list_id"), col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
  }

  /** Train cells on a seeded sample (kmeans_trainset_fraction=0.5,
    * ivf_flat.hpp:31-33), assign every row, co-locate lists. */
  def build(dataset: DataFrame, params: Params,
      idCol: String = "id", vecCol: String = "vec"): IvfFlatIndex = {
    val trainset =
      if (params.trainFraction >= 1.0) dataset
      else dataset.filter(
        pmod(xxhash64(col(idCol), lit(params.seed)), lit(1000)) < (params.trainFraction * 1000).toInt)
    val kp = KMeans.Params(params.nLists, params.nIters, seed = params.seed,
      metric = params.metric, trainsetCap = params.trainsetCap)
    val model =
      if (params.balanced) KMeans.fitBalanced(trainset, kp, idCol = idCol, vecCol = vecCol)
      else KMeans.fit(trainset, kp, idCol, vecCol)
    val lists = assign(dataset, model.centroids, idCol, vecCol)
      .repartition(col("list_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    new IvfFlatIndex(model.centroids, lists, params.metric)
  }

  private[index] def loadCentroids(spark: SparkSession, path: String): (CentroidSet, Metric) = {
    // driver-side read (r17): the centroid set was always collected to the
    // driver anyway — reading it through a Spark job bought nothing but a
    // plan/schedule round per index load (SidecarIO doc)
    import graft.sources.SidecarIO
    val rows = SidecarIO.readRows(spark, s"$path/centroids")
      .getOrElse(throw new IllegalStateException(s"no centroids at $path"))
    require(rows.nonEmpty, s"corrupt index: no centroid rows at $path/centroids")
    val dim = SidecarIO.asInt(rows.head("dim"))
    val metric = Metric.fromName(rows.head("metric").asInstanceOf[String])
    val flat = new Array[Float](rows.length * dim)
    rows.foreach { r =>
      val v = SidecarIO.asFloats(r("centroid"))
      System.arraycopy(v, 0, flat, SidecarIO.asInt(r("list_id")) * dim, dim)
    }
    (CentroidSet(flat, rows.length, dim, metric.name), metric)
  }

  private[index] def saveCentroids(spark: SparkSession, path: String,
      centroids: CentroidSet, metric: Metric): Unit = {
    import spark.implicits._
    centroids.centroids.zipWithIndex.toSeq
      .map { case (v, i) => (i, v.toSeq, metric.name, centroids.dim) }
      .toDF("list_id", "centroid", "metric", "dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  def load(spark: SparkSession, path: String): IvfFlatIndex = {
    val (centroids, metric) = loadCentroids(spark, path)
    new IvfFlatIndex(centroids, spark.read.parquet(s"$path/lists"), metric)
  }

  /** Unit-L2-normalized copy of a float-vector column (zero vectors pass
    * through unchanged). The cosine PQ builds store NORMALIZED vectors so
    * the shared IP-LUT ADC estimator ranks by cosine similarity —
    * cos(q, x) = q̂·x̂ — instead of needing a third estimator; queries are
    * normalized symmetrically at search time. */
  /** Unit-normalize, as the native codegen'd expression — the previous
    * higher-order-function column form ran interpreted AND re-evaluated
    * its embedded norm aggregate per element (O(dim²) per row); see
    * graft.expr.UnitNorm. Same arithmetic, same zero/NaN/null-element
    * guards. The float cast keeps the old form's acceptance of any
    * numeric vector (a no-op the analyzer erases on the array<float> hot
    * path) — with one deliberate change: a non-float vector is cast to
    * float BEFORE the norm, where the old form normalized in the input's
    * own width. Every engine entry point already stores/compares vectors
    * as array<float>, so the cast only rounds inputs that were about to
    * be rounded anyway. */
  private[graft] def unitNormCol(vec: Column): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.expr.UnitNorm(org.apache.spark.sql.graft.bridge.expression(
        vec.cast("array<float>"))))

  /** Population sidecar: one row `(n_rows)` — the planner reads it
    * instead of counting the registered relation at rewrite time. Shared
    * by every layout whose save has the lists at hand. */
  private[graft] def saveMeta(spark: SparkSession, path: String, nRows: Long): Unit = {
    import spark.implicits._
    Seq(nRows).toDF("n_rows")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** None when the layout predates the sidecar (legacy saves). */
  private[graft] def loadMeta(spark: SparkSession, path: String): Option[Long] =
    // driver-side read (r17): the planner consults this on every rewrite;
    // a one-row sidecar must not cost a Spark job (SidecarIO doc)
    graft.sources.SidecarIO.readHead(spark, s"$path/meta")
      .flatMap(_.get("n_rows")).map(graft.sources.SidecarIO.asLong)

  /** Held-out sample size for the measured curve sidecars, scaled with
    * the corpus: 32 queries (±0.02-grade noise at k=10) are enough only
    * while the 0.95 decision point is cheap to be wrong about; past 1M
    * rows the build already pays minutes, so the marginal queries are
    * noise insurance at ~zero relative cost. The planner additionally
    * inverts a Wilson lower bound over whatever size was measured
    * (ResolveKnnJoin.autoProbes), so a small sample widens probes rather
    * than silently missing the floor. */
  private[graft] def curveSampleQueries(nRows: Long): Int =
    if (nRows >= graft.core.Frames.CurveScaleRows) 128 else 32

  /** The one reader of `spark.graft.index.recallCurve.enabled` (default
    * true) — every layout's save-time curve measurement consults it. */
  private[graft] def recallCurveEnabled(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.index.recallCurve.enabled", "true").toBoolean

  /** IVF-Flat (and tiered-base) curve: no search at all — the hit count at
    * each probe point follows from where the true neighbours' lists rank
    * in each query's centroid order (CurveTruth.listCoverage). */
  private[graft] def saveRecallCurve(spark: SparkSession, path: String,
      idx: IvfFlatIndex, nRows: Long): Unit =
    saveMeasuredCurve(spark, path, idx.heldOutTruth(idx.metric, nRows), idx.centroids.k)(
      (truth, points) => truth.listCoverage(idx.centroids, points))

  /** Compressed-layout curve: the refine-composed search the planner
    * serves — `kernel` candidates at `depth`, exact re-rank against the
    * raw corpus — run once over the sample replicated per probe point
    * (CurveTruth.candidateCoverage). */
  private[index] def saveCompressedCurve(spark: SparkSession, path: String,
      src: CurveSource, metric: Metric, nLists: Int, nRows: Long, depth: Int)(
      kernel: (DataFrame, Int, Long => Int) => DataFrame): Unit =
    saveMeasuredCurve(spark, path, src.coarse.heldOutTruth(metric, nRows), nLists)(
      _.candidateCoverage(spark, _) { (q, k, probesOf) =>
        graft.ops.Refine.refine(
          kernel(q, depth, probesOf).select(col("qid"), col("nbr_id").as("id")),
          src.corpus, q, k, metric, broadcastCandidates = true)
      })

  /** Measure and persist a layout's probe/recall relation — the
    * per-config recall floors of the reference (ann_ivf_flat.cuh:102),
    * against never shipping a recall target calibrated on someone else's
    * dataset. The sample queries are rows OF the corpus with their own row
    * held out of the truth (CurveTruth). Probe points double up to
    * `nLists`; the sidecar keeps them up to the first one that reaches
    * recall 1.0 (scanning more lists only grows the candidate set, so
    * recall is monotone in the probe count). `hits` returns the matched
    * (query, true neighbour) count at every point at once: IVF-Flat counts
    * them from list ranks, a compressed layout from one pass of its
    * refine-composed search (saveCompressedCurve) — so the curve still
    * measures what the PLANNER serves at each probe count.
    *
    * Cost: the ground truth — one exact pass per corpus and metric, shared
    * through `IvfFlatIndex.heldOutTruth` by every layout and DepthHint of
    * the lineage — plus at most one search pass per compressed layout. The
    * counts equal those of searching the sample at each probe count
    * (CurveMeasureSuite pins it), so the sidecar rows (probes, recall, k,
    * n_queries) hold the same values. Disable with
    * `spark.graft.index.recallCurve.enabled=false`. */
  private[graft] def saveMeasuredCurve(spark: SparkSession, path: String,
      truth: => CurveTruth, nLists: Int)(
      hits: (CurveTruth, Seq[Int]) => Seq[Long]): Unit = {
    val t = truth
    if (t.k < 1) return // a 1-row corpus has no non-self neighbors to measure
    val points = Iterator.iterate(1)(_ * 2).takeWhile(_ < nLists).toSeq :+ nLists
    val denom = math.max(1L, t.pairs)
    val recalls = hits(t, points).map(_.toDouble / denom)
    val saturated = recalls.indexWhere(_ >= 1.0)
    val curve = points.zip(recalls)
      .take(if (saturated < 0) points.size else saturated + 1)
    import spark.implicits._
    curve.toDF("probes", "recall")
      .withColumn("k", lit(t.k)).withColumn("n_queries", lit(t.nQueries.toLong))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/recall_curve")
  }

  /** The measured curve, sanitized for inversion: probe-sorted with a
    * running-max recall (measurement noise must not make the inverse
    * non-monotone). None for legacy layouts without the sidecar. */
  private[graft] def loadRecallCurve(spark: SparkSession,
      path: String): Option[Seq[(Int, Double)]] =
    loadCurve(spark, path, "recall_curve")

  /** Generic (knob, recall) curve sidecar reader — `recall_curve` stores
    * probes, `ef_curve` (HNSW layouts) stores the beam width; both share
    * the schema and the running-max sanitation. */
  private[graft] def loadCurve(spark: SparkSession, path: String,
      child: String): Option[Seq[(Int, Double)]] =
    loadCurveWithN(spark, path, child).map(_._1)

  /** Curve plus its MEASUREMENT SAMPLE SIZE (n_queries·k (query, true
    * neighbor) pairs) when the sidecar recorded it — the inversion's
    * Wilson lower bound needs n; None (legacy sidecars without the
    * columns) keeps the point-estimate inversion. */
  private[graft] def loadCurveWithN(spark: SparkSession, path: String,
      child: String): Option[(Seq[(Int, Double)], Option[Long])] =
    loadCurveKN(spark, path, child).map { case (curve, kn) =>
      (curve, kn.map { case (k, nQ) => k.toLong * nQ }.filter(_ > 0))
    }

  /** Curve plus the RAW (k, n_queries) sidecar columns — consumers that
    * RE-PERSIST the sidecar (Hnsw re-save, TieredIndex.save) need the
    * separate columns, not the n·k product, or a load→save round trip
    * would silently downgrade the layout from Wilson-bound inversion back
    * to point-estimate. */
  private[graft] def loadCurveKN(spark: SparkSession, path: String,
      child: String): Option[(Seq[(Int, Double)], Option[(Int, Long)])] = {
    // driver-side read (r17): curve sidecars are a handful of rows and
    // the resolver reads them on every planning pass — no Spark job
    import graft.sources.SidecarIO
    SidecarIO.readRows(spark, s"$path/$child").flatMap { raw =>
      val rows = raw.flatMap { r =>
        for (p <- r.get("probes"); rc <- r.get("recall"))
          yield (SidecarIO.asInt(p), SidecarIO.asDouble(rc))
      }.sortBy(_._1)
      if (rows.isEmpty) None
      else {
        val kn = raw.headOption.flatMap { r =>
          for (k <- r.get("k"); nQ <- r.get("n_queries"))
            yield (SidecarIO.asInt(k), SidecarIO.asLong(nQ))
        }.filter { case (k, nQ) => k > 0 && nQ > 0 }
        val curve = rows.foldLeft(Vector.empty[(Int, Double)]) { case (acc, (pr, rc)) =>
          acc :+ (pr -> math.max(math.min(rc, 1.0), acc.lastOption.map(_._2).getOrElse(0.0)))
        }
        Some((curve, kn))
      }
    }
  }
}
