package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.cluster.KMeans
import graft.core.Metric
import graft.expr.{CentroidResidual, CentroidSet, PqCodebooks}
import graft.ops.Refine
import graft.prep.ProductQuantizer
import org.apache.spark.sql.graft.{bridge => B}

/** ScaNN-style index — `cuvs::neighbors::scann` (scann.hpp:40-76):
  * k-means tree partitioning with SOAR spilling (soar_lambda), residual PQ
  * (pq_bits 4 or 8), and exact reordering.
  *
  * SOAR (spilling with orthogonality-amplified residuals): every vector is
  * stored in its primary leaf AND one secondary leaf chosen to minimize
  *   d²(x,c) + λ·⟨r₁, x−c⟩²/‖r₁‖²   (r₁ = primary residual),
  * i.e. the secondary center whose residual is most orthogonal to the
  * primary one — if a query misses the primary leaf *along r₁*, the spill
  * leaf covers it. Doubles list storage, halves probe misses.
  *
  * Spark shape: identical probe-broadcast ADC join as IVF-PQ; the spill
  * only changes the build (a 2-candidate argmin, map-side) and adds a
  * (qid,id) min-dist dedup before top-k. Reordering = the shared `refine`.
  */
class ScannIndex(
    val centroids: CentroidSet,
    val codebooks: PqCodebooks,
    val lists: DataFrame, // (list_id int, id long, pq_codes array<int>)
    val metric: Metric,
    // build-time reorder-depth calibration — see DepthHint
    val depthHint: Option[(Int, Int)] = None,
    // save-time curve measurement source (IvfPqIndex doc)
    val measureSource: Option[CurveSource] = None) extends Serializable {

  // IP and cosine builds share the larger-is-closer IP estimator
  private def ipLike = metric == Metric.InnerProduct || metric == Metric.Cosine

  /** ADC search over primary+spill lists, deduped per (query, id). An
    * InnerProduct build (ScaNN's native regime — anisotropic quantization
    * targets MIPS) scores the estimated dot product via the IP LUT
    * (PqOps.lutIp) and keeps the LARGER of a SOAR pair's two estimates; a
    * Cosine build stored normalized vectors and runs the same max-close
    * IP estimator over the normalized query. */
  def search(queries: DataFrame, k: Int, nProbes: Int,
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val (dist, perProbe) = IvfPqIndex.adcJoin(centroids, codebooks, ipLike)
    ivfLists.search(queries, k, nProbes, qidCol, qvecCol)(dist, perProbe)
  }

  /** The lists as every search reads them: the per-subspace AdcScan, and
    * SOAR stores every id twice (the searches keep each id's better copy). */
  private[graft] def ivfLists: IvfLists =
    IvfLists(lists, centroids, AdcScan.perSubspace(centroids, codebooks, ipLike),
      normalize = metric == Metric.Cosine, copies = 2)

  /** ScaNN reordering: exact re-rank of the ADC top-kCoarse. */
  def searchWithRefine(queries: DataFrame, dataset: DataFrame, k: Int, nProbes: Int,
      kCoarse: Int, idCol: String = "id", vecCol: String = "vec",
      qidCol: String = "qid", qvecCol: String = "qvec",
      broadcastCandidates: Boolean = false): DataFrame = {
    val cand = search(queries, kCoarse, nProbes, qidCol, qvecCol)
      .select(col("qid"), col("nbr_id").as("id"))
    Refine.refine(cand, dataset, queries, k, metric, idCol, vecCol, qidCol, qvecCol,
      broadcastCandidates = broadcastCandidates)
  }

  /** Persist: SOAR-spilled coded lists (partitioned for DPP), centroid
    * sidecar, and the residual-PQ codebooks — the scann serialize surface
    * as Parquet (same codebook table shape as IvfPqIndex). */
  def save(path: String): Unit = {
    // SOAR stores every id twice
    LayoutFormat.replace(path, lists)
    val nRows = IvfFlatIndex.writeLists(lists, s"$path/scann_lists") / 2
    val spark = lists.sparkSession
    IvfFlatIndex.saveCentroids(spark, path, centroids, metric)
    import spark.implicits._
    graft.sources.SidecarIO.write(spark, s"$path/codebooks", graft.sources.SidecarIO.rows(
      for (s <- 0 until codebooks.pqDim; c <- 0 until codebooks.nCenters)
        yield (s, c, codebooks.center(s, c).toSeq,
          codebooks.pqDim, codebooks.nCenters, codebooks.subLen),
      "s", "c", "center", "pq_dim", "n_centers", "sub_len"))
    LayoutFormat.write(spark, path, nRows, "scann")
    depthHint.foreach(DepthHint.save(spark, path, _))
    // measured probe/recall curve of the planner-served composition
    // (IvfPqIndex.save doc)
    if (IvfFlatIndex.recallCurveEnabled(spark))
      measureSource.foreach(IvfFlatIndex.saveCompressedCurve(spark, path, _, ivfLists, metric,
        nRows, graft.plans.ResolveKnnJoin.compressedDepth(10, depthHint)))
  }
}

object ScannIndex {
  def load(spark: org.apache.spark.sql.SparkSession, path: String): ScannIndex = {
    LayoutFormat.require(spark, path, "scann")
    val (centroids, metric) = IvfFlatIndex.loadCentroids(spark, path)
    // driver-side codebook read (r17): collected to the driver anyway —
    // the Spark job bought nothing (SidecarIO doc); (s, c) columns carry
    // the positions, so file order is irrelevant
    import graft.sources.SidecarIO
    val cb = SidecarIO.readState(spark, s"$path/codebooks")
      .getOrElse(throw new IllegalStateException(s"no codebooks at $path"))
    require(cb.nonEmpty, s"corrupt index: no codebook rows at $path/codebooks")
    val head = cb.head
    val (pqDim, nCenters, subLen) = (SidecarIO.asInt(head("pq_dim")),
      SidecarIO.asInt(head("n_centers")), SidecarIO.asInt(head("sub_len")))
    val books = new Array[Float](pqDim * nCenters * subLen)
    cb.foreach { r =>
      val v = SidecarIO.asFloats(r("center"))
      System.arraycopy(v, 0,
        books, (SidecarIO.asInt(r("s")) * nCenters + SidecarIO.asInt(r("c"))) * subLen,
        subLen)
    }
    new ScannIndex(centroids, PqCodebooks(books, pqDim, nCenters, subLen),
      IvfFlatIndex.readListTable(spark, s"$path/scann_lists"), metric, DepthHint.load(spark, path))
  }


  /** `balanced` selects the reseeding balanced coarse trainer — see
    * [[IvfFlatIndex.Params]]. Defaults mirror scann.hpp:43-62 (n_leaves
    * 1000, pq_dim 8 subspaces, pq_bits 8 — "must be 4 or 8"); the 4-bit
    * code path is the half-budget option, not the default: at 4 bits the
    * 16-center ADC noise, doubled by the SOAR min-dedup over two copies
    * per id, caps recall well below the 8-bit estimator at any probe
    * count (measured 0.863 vs 0.93+ at full probes, kCoarse=n/10). */
  /** `metric` extends the generic-enum build surface to InnerProduct —
    * ScaNN's native regime (anisotropic quantization targets MIPS):
    * cells clustered under L2 (coarse_clustering_metric), probed by max
    * dot, searched via the IP LUT. */
  /** `anisoT`: the anisotropic-quantization threshold for IP/cosine
    * builds (IvfPqIndex.Params doc — ScaNN's native loss, scann.hpp:40-98
    * "anisotropic quantization targets MIPS"); inert on L2 builds. */
  case class Params(nLeaves: Int = 1000, nIters: Int = 20, trainFraction: Double = 0.5,
      soarLambda: Double = 1.0, soarCandidates: Int = 4,
      pqDim: Int = 8, pqBits: Int = 8, seed: Long = 42, balanced: Boolean = false,
      metric: Metric = Metric.L2, anisoT: Double = 0.2)

  def build(dataset: DataFrame, params: Params,
      idCol: String = "id", vecCol: String = "vec",
      base: Option[IvfFlatIndex] = None): ScannIndex = {
    // cosine build = IP machinery over unit-normalized vectors
    // (IvfPqIndex.normalizedFor doc); the SOAR spill and residual PQ act
    // on the normalized copies
    val ds = IvfPqIndex.normalizedFor(dataset, params.metric, vecCol)
    // InnerProduct CLUSTERS under L2 and only probes by dot — the
    // reference's coarse_clustering_metric rule (ivf_pq_build.cuh:70-76);
    // max-dot Lloyd leaves residuals the size of the data spread. A
    // caller-shared base must match (IvfPqIndex.requireCoarseBase).
    val ivf = base.map(IvfPqIndex.requireCoarseBase(_, params.metric))
      .getOrElse(IvfFlatIndex.build(ds,
        IvfFlatIndex.Params(params.nLeaves, params.nIters, params.trainFraction, params.seed,
          metric = IvfPqIndex.coarseMetric(params.metric), balanced = params.balanced),
        idCol, vecCol))
    // two views over the SAME centers: ASSIGNMENT (primary + SOAR spill
    // candidates) ranks under the coarse metric — the cells are
    // L2-compact for an IP build — while the index PROBES under the
    // build metric at search time (probeView)
    val assignCs = ivf.centroids
    val cs = IvfPqIndex.probeView(ivf.centroids, params.metric)

    def res(vec: Column, listId: Column): Column =
      B.column(CentroidResidual(B.expression(vec), B.expression(listId), cs))

    // SOAR spill: among the next-nearest candidate leaves, pick the argmin
    // of d² + λ·⟨r1, r_c⟩²/‖r1‖². Entirely map-side: the per-candidate loss
    // is an array transform over the (few) candidate leaves and the argmin
    // is the head of a lexicographic (loss, cand) sort — no explode, no
    // per-id window shuffle.
    // `d` feeds three consumers (spill pick, primary assignment, codebook
    // training) — materialize so the dataset scan + 5-candidate
    // nearest-centroid argmin runs once, not per consumer
    val d = ds.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
        KMeans.nearestCol(assignCs, col(vecCol), params.soarCandidates + 1)
          .getField("list_id").as("_cands"))
      .withColumn("list_id", col("_cands").getItem(0))
      .withColumn("_r1", res(col("vec"), col("list_id")))
      .withColumn("_r1n2", aggregate(col("_r1"), lit(0.0),
        (s, x) => s + x.cast("double") * x.cast("double")))
      .transform(graft.core.Frames.materialize(_))
    val spillPick = sort_array(
      transform(slice(col("_cands"), 2, params.soarCandidates), c => {
        val rc = res(col("vec"), c)
        val d2 = aggregate(rc, lit(0.0), (s, x) => s + x.cast("double") * x.cast("double"))
        val dot = aggregate(
          zip_with(col("_r1"), rc, (a, b) => a.cast("double") * b.cast("double")),
          lit(0.0), (s, x) => s + x)
        val loss = d2 + when(col("_r1n2") > 0.0,
          lit(params.soarLambda) * dot * dot / col("_r1n2")).otherwise(lit(0.0))
        struct(loss.as("loss"), c.as("cand"))
      })).getItem(0).getField("cand")
    val spill = d
      .select(spillPick.as("list_id"), col("id"), col("vec"))
    val assigned = d.select(col("list_id"), col("id"), col("vec"))
      .unionByName(spill)

    // Residual PQ codebooks are trained on PRIMARY residuals only — the
    // reference samples the training residuals from the primary k-means
    // labels before SOAR labels even exist (scann_build.cuh:148-177), and
    // only then quantizes both copies with the shared quantizer
    // (scann_build.cuh:182-223). Training on the union would fold in the
    // spill copies' systematically larger second-nearest-centroid
    // residuals, inflating codebook spread and costing primary-copy ADC
    // accuracy (measured: the 4-bit sweep plateaued at 0.859 vs 0.93+ with
    // primary-only training).
    val cb = ProductQuantizer.train(
      d.select(col("id"), res(col("vec"), col("list_id")).as("_res")),
      ProductQuantizer.Params(params.pqDim, params.pqBits, seed = params.seed),
      "id", "_res")
    val withRes = assigned.withColumn("_res", res(col("vec"), col("list_id")))
    // IP/cosine builds use the anisotropic encode — the loss ScaNN is
    // named for (both SOAR copies coded score-aware, shared quantizer)
    val eta = IvfPqIndex.anisoEta(params.anisoT, cs.dim, params.metric)
    val encoded =
      if (eta > 1.0)
        ProductQuantizer.encodeAnisoCol(col("_res"),
          IvfFlatIndex.unitNormCol(col("vec")), cb, eta)
      else ProductQuantizer.encodeCol(col("_res"), cb)
    val lists = withRes
      .select(col("list_id"), col("id"), encoded.as("pq_codes"))
      .repartition(col("list_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // SOAR stores every id twice: the population is half the list rows
    val nRows = lists.count() / 2 // materialize before releasing the shared frame
    graft.core.Frames.release(d)
    // the held-out truth's source: a shared base as is (its memo may hold
    // the truth already); otherwise an uncached view of the same cells
    // over `ds` — the build never reads its own coarse lists, so caching
    // them only for the measurement would pin a copy of the corpus
    val truthSource = base.getOrElse {
      ivf.lists.unpersist()
      new IvfFlatIndex(ivf.centroids, IvfFlatIndex.assign(ds, ivf.centroids, idCol, vecCol),
        ivf.metric)
    }
    val src = Some(new CurveSource(truthSource,
      ds.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))))
    val idx = new ScannIndex(cs, cb, lists, params.metric, measureSource = src)
    if (DepthHint.enabled(dataset.sparkSession) && DepthHint.routableMetric(params.metric))
      new ScannIndex(cs, cb, lists, params.metric,
        DepthHint.measure(idx.search(_, _, _), cs.k,
          truthSource.heldOutTruth(params.metric, nRows), nRows), measureSource = src)
    else idx
  }
}
