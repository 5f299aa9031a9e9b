package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Metric
import graft.expr.{CentroidResidual, CentroidSet, ClusterCodebooks, PqCodebooks,
  PqEncodeByList, PqLutByList}
import graft.ops.Refine
import graft.prep.ProductQuantizer
import org.apache.spark.sql.graft.{bridge => B}

/** IVF-PQ index — same probe structure as IVF-Flat over PQ-compressed lists
  * (ivf_pq.hpp:47-205: pq_bits=8, pq_dim, PER_SUBSPACE codebooks; search
  * engine ivf_pq_search.cuh + ivf_pq_compute_similarity.cuh).
  *
  * Lists store residual PQ codes (vec - cell center). Search:
  *   1. probe selection map-side (NearestCentroids, as IVF-Flat);
  *   2. per (query, probed list): residual query -> ADC lookup table
  *      (PqLut expression — the LUT precompute of
  *      ivf_pq_compute_similarity.cuh), carried on the broadcast probe row;
  *   3. equi-join lists on list_id; score = sum of LUT entries selected by
  *      each row's code bytes (PqAdc) — no float vectors are read at all;
  *   4. per-query top-k, then optional exact `refine` against the raw
  *      dataset to recover recall (refine.hpp:26-68).
  *
  * 100 TB posture: the big side is pq_dim ints per row instead of dim
  * floats (8x smaller at defaults) and never shuffles; probes + LUTs
  * broadcast. Approximation error comes from PQ only; refine bounds it.
  */
class IvfPqIndex(
    val centroids: CentroidSet,
    val codebooks: PqCodebooks,
    val lists: DataFrame, // (list_id int, id long, pq_codes array<int>)
    val metric: Metric,
    // (measured k, worst ADC displacement of a true top-k neighbor) —
    // build-time calibration of the reorder depth (see DepthHint)
    val depthHint: Option[(Int, Int)] = None,
    // what save() measures THIS layout's probe/recall curve from (the
    // saved layout stores only codes; refine needs the raw vectors) — the
    // coarse index memoizes the held-out truth DepthHint already used;
    // None on loaded layouts
    val measureSource: Option[CurveSource] = None) extends Serializable {

  // IP and cosine builds share the larger-is-closer IP estimator
  private def ipLike = metric == Metric.InnerProduct || metric == Metric.Cosine

  /** ADC search: (qid, nbr_id, rank, dist). For L2-family builds dist is
    * the ADC-approximated squared L2 over residual codes; for an
    * InnerProduct build (ivf_pq.hpp:47-205 — the metric enum includes IP;
    * coarse assignment and the similarity kernel are both
    * metric-parameterized) dist is the estimated dot product
    * q·c + Σ q_s·cb[code_s], ranked larger-is-closer. A Cosine build
    * (same metric enum) stored UNIT-NORMALIZED vectors, so the identical
    * IP estimator over the normalized query ranks by cosine similarity —
    * dist is the estimated q̂·x̂, larger-is-closer. */
  def search(queries: DataFrame, k: Int, nProbes: Int,
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val (dist, perProbe) = IvfPqIndex.adcJoin(centroids, codebooks, ipLike)
    ivfLists.search(queries, k, nProbes, qidCol, qvecCol)(dist, perProbe)
  }

  /** The lists as every search reads them, with the per-subspace AdcScan
    * (each id lives in exactly one list) — also the planner's
    * IvfSearchExec kernel. */
  private[graft] def ivfLists: IvfLists =
    IvfLists(lists, centroids, AdcScan.perSubspace(centroids, codebooks, ipLike),
      normalize = metric == Metric.Cosine)

  /** ADC search over `kCoarse` candidates + exact re-rank to top-k against
    * the raw dataset — the recall-recovery composition. */
  def searchWithRefine(queries: DataFrame, dataset: DataFrame, k: Int, nProbes: Int,
      kCoarse: Int, idCol: String = "id", vecCol: String = "vec",
      qidCol: String = "qid", qvecCol: String = "qvec",
      broadcastCandidates: Boolean = false): DataFrame = {
    val cand = search(queries, kCoarse, nProbes, qidCol, qvecCol)
      .select(col("qid"), col("nbr_id").as("id"))
    Refine.refine(cand, dataset, queries, k, metric, idCol, vecCol, qidCol, qvecCol,
      broadcastCandidates = broadcastCandidates)
  }

  /** Persist: pq-coded lists (partitioned for DPP), centroid sidecar, and
    * the codebooks — the ivf_pq serialize surface (ivf_pq_serialize.cu
    * analog as Parquet tables). */
  def save(path: String): Unit = {
    LayoutFormat.replace(path, lists)
    val nRows = IvfFlatIndex.writeLists(lists, s"$path/pq_lists")
    val spark = lists.sparkSession
    IvfFlatIndex.saveCentroids(spark, path, centroids, metric)
    import spark.implicits._
    graft.sources.SidecarIO.write(spark, s"$path/codebooks", graft.sources.SidecarIO.rows(
      for (s <- 0 until codebooks.pqDim; c <- 0 until codebooks.nCenters)
        yield (s, c, codebooks.center(s, c).toSeq,
          codebooks.pqDim, codebooks.nCenters, codebooks.subLen),
      "s", "c", "center", "pq_dim", "n_centers", "sub_len"))
    LayoutFormat.write(spark, path, nRows, "ivf_pq")
    depthHint.foreach(DepthHint.save(spark, path, _))
    // measured probe/recall curve of the PLANNER-SERVED composition (ADC
    // candidates at the calibrated depth + exact refine) — without it,
    // auto-probe mode over a saved PQ layout inverts the fixture curve
    if (IvfFlatIndex.recallCurveEnabled(spark))
      measureSource.foreach(IvfFlatIndex.saveCompressedCurve(spark, path, _, ivfLists, metric,
        nRows, graft.plans.ResolveKnnJoin.compressedDepth(10, depthHint)))
  }
}

/** IVF-PQ with `codebook_gen::PER_CLUSTER` (ivf_pq.hpp:34-45,82): one
  * codebook per IVF list — trained on that list's residuals, shared across
  * the pqDim subspaces — instead of one codebook per subspace shared
  * across lists. Same probe/equi-join/ADC skeleton as IvfPqIndex; the LUT
  * is computed per (query, probed list) from the list's own codebook
  * (PqLutByList) and PqAdc consumes it unchanged.
  *
  * 100 TB posture: identical to IvfPqIndex — the coded lists are the only
  * big state; the codebook block is nLists·2^bits·subLen floats of
  * broadcast state (same O(nLists·dim) family as the centroids). */
class IvfPqClusterIndex(
    val centroids: CentroidSet,
    val codebooks: ClusterCodebooks,
    val lists: DataFrame, // (list_id int, id long, pq_codes array<int>)
    val metric: Metric,
    // build-time reorder-depth calibration — see DepthHint
    val depthHint: Option[(Int, Int)] = None,
    // save-time curve measurement source (IvfPqIndex doc)
    val measureSource: Option[CurveSource] = None) extends Serializable {

  private def residualCol(vec: Column, listId: Column): Column =
    B.column(CentroidResidual(B.expression(vec), B.expression(listId), centroids))

  // IP and cosine builds share the larger-is-closer IP estimator
  private def ipLike = metric == Metric.InnerProduct || metric == Metric.Cosine

  /** Same metric contract as IvfPqIndex.search: L2-family builds rank by
    * per-list residual-L2 ADC; InnerProduct builds by the per-list IP LUT
    * (PqClusterOps.lutIp), larger-is-closer; Cosine builds stored
    * normalized vectors and rank by the same IP LUT over the normalized
    * query. */
  def search(queries: DataFrame, k: Int, nProbes: Int,
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame =
    ivfLists.search(queries, k, nProbes, qidCol, qvecCol)(
      ProductQuantizer.adcCol(col("_lut"), col("pq_codes"), codebooks.nCenters),
      _.withColumn("_lut",
        if (ipLike) B.column(graft.expr.PqLutIpByList(B.expression(col("_qvec")),
          B.expression(col("list_id").cast("int")), codebooks, centroids))
        else B.column(PqLutByList(
          B.expression(residualCol(col("_qvec"), col("list_id"))),
          B.expression(col("list_id").cast("int")), codebooks)))
        .select(col("qid"), col("list_id"), col("_lut"))
        // once-per-(query, list) LUT barrier — see IvfPqIndex.adcJoin
        .localCheckpoint())

  /** The lists as every search reads them, with the per-list AdcScan
    * (each id lives in exactly one list). */
  private[graft] def ivfLists: IvfLists =
    IvfLists(lists, centroids, AdcScan.perCluster(centroids, codebooks, ipLike),
      normalize = metric == Metric.Cosine)

  def searchWithRefine(queries: DataFrame, dataset: DataFrame, k: Int, nProbes: Int,
      kCoarse: Int, idCol: String = "id", vecCol: String = "vec",
      qidCol: String = "qid", qvecCol: String = "qvec",
      broadcastCandidates: Boolean = false): DataFrame = {
    val cand = search(queries, kCoarse, nProbes, qidCol, qvecCol)
      .select(col("qid"), col("nbr_id").as("id"))
    Refine.refine(cand, dataset, queries, k, metric, idCol, vecCol, qidCol, qvecCol,
      broadcastCandidates = broadcastCandidates)
  }

  /** Persist: coded lists + centroid sidecar + per-list codebook table. */
  def save(path: String): Unit = {
    LayoutFormat.replace(path, lists)
    val nRows = IvfFlatIndex.writeLists(lists, s"$path/pqcl_lists")
    val spark = lists.sparkSession
    IvfFlatIndex.saveCentroids(spark, path, centroids, metric)
    import spark.implicits._
    graft.sources.SidecarIO.write(spark, s"$path/cluster_codebooks", graft.sources.SidecarIO.rows(
      for (l <- 0 until codebooks.nLists; c <- 0 until codebooks.nCenters)
        yield (l, c, codebooks.center(l, c).toSeq,
          codebooks.nLists, codebooks.nCenters, codebooks.subLen, codebooks.pqDim),
      "l", "c", "center", "n_lists", "n_centers", "sub_len", "pq_dim"))
    LayoutFormat.write(spark, path, nRows, "ivf_pqcl")
    depthHint.foreach(DepthHint.save(spark, path, _))
    if (IvfFlatIndex.recallCurveEnabled(spark))
      measureSource.foreach(IvfFlatIndex.saveCompressedCurve(spark, path, _, ivfLists, metric,
        nRows, graft.plans.ResolveKnnJoin.compressedDepth(10, depthHint)))
  }
}

object IvfPqClusterIndex {
  def load(spark: SparkSession, path: String): IvfPqClusterIndex = {
    LayoutFormat.require(spark, path, "ivf_pqcl")
    val (centroids, metric) = IvfFlatIndex.loadCentroids(spark, path)
    // driver-side read (r17): collected to the driver anyway (SidecarIO
    // doc); (l, c) columns carry positions, file order irrelevant
    import graft.sources.SidecarIO
    val cb = SidecarIO.readState(spark, s"$path/cluster_codebooks")
      .getOrElse(throw new IllegalStateException(s"no cluster_codebooks at $path"))
    require(cb.nonEmpty, s"corrupt index: no codebook rows at $path/cluster_codebooks")
    val head = cb.head
    val (nLists, nCenters, subLen, pqDim) =
      (SidecarIO.asInt(head("n_lists")), SidecarIO.asInt(head("n_centers")),
        SidecarIO.asInt(head("sub_len")), SidecarIO.asInt(head("pq_dim")))
    val flat = new Array[Float](nLists * nCenters * subLen)
    cb.foreach { r =>
      val v = SidecarIO.asFloats(r("center"))
      System.arraycopy(v, 0,
        flat, (SidecarIO.asInt(r("l")) * nCenters + SidecarIO.asInt(r("c"))) * subLen,
        subLen)
    }
    new IvfPqClusterIndex(centroids,
      ClusterCodebooks(flat, nLists, nCenters, subLen, pqDim),
      IvfFlatIndex.readListTable(spark, s"$path/pqcl_lists"), metric, DepthHint.load(spark, path))
  }
}

object IvfPqIndex {

  /** `balanced` selects the reseeding balanced coarse trainer — see
    * [[IvfFlatIndex.Params]].
    *
    * `anisoT` (> 0, InnerProduct/Cosine builds, both codebook modes): the
    * ScaNN anisotropic-quantization threshold (Guo et al. 2020; the
    * reference ties its scann build to MIPS the same way,
    * scann.hpp:40-98). Codes are picked to penalize quantization error
    * PARALLEL to the row direction η = (d−1)·T²/(1−T²) times harder than
    * orthogonal error — parallel error is exactly what perturbs the high
    * dot products a MIPS/cosine search ranks by, so the code ranking
    * displaces true neighbors far less at the same bit budget. 0
    * disables (plain L2 encode); L2-family builds always use the plain
    * encode (the ADC residual-L2 estimator matches its codes). */
  case class Params(nLists: Int = 1024, nIters: Int = 20, trainFraction: Double = 0.5,
      pqDim: Int = 8, pqBits: Int = 8, seed: Long = 42, metric: Metric = Metric.L2,
      balanced: Boolean = false, anisoT: Double = 0.2)

  /** η = h_par/h_perp from the anisotropic threshold T (Guo et al. 2020,
    * Thm 3.2 parameterization): (d−1)·T²/(1−T²). T is a cosine threshold,
    * so it must live in [0, 1): T ≥ 1 would make η infinite (or negative),
    * which interpolates into generated code as the non-compiling literal
    * `Infinity` and silently degenerates the descent to its seed codes —
    * refuse loudly instead. 0 disables the anisotropic encode. */
  private[index] def anisoEta(anisoT: Double, dim: Int, metric: Metric): Double = {
    require(anisoT >= 0 && anisoT < 1.0,
      s"anisoT must be in [0, 1) (a cosine threshold; got $anisoT)")
    if (anisoT == 0 ||
        (metric != Metric.InnerProduct && metric != Metric.Cosine)) 0.0
    else {
      val t2 = anisoT * anisoT
      (dim - 1) * t2 / (1.0 - t2)
    }
  }

  /** Enforce the reference's build rule on a CALLER-SHARED coarse index:
    * the cells must have been clustered under `coarseMetric(metric)`
    * (ivf_pq_build.cuh:70-76) — an IP build over max-dot-Lloyd cells
    * silently reintroduces residual-sized ADC noise (the r14-root-caused
    * displacement-cap defect), so a mismatched base fails loudly instead.
    * L2 and L2Sqrt cells are interchangeable (same argmin assignment). */
  private[index] def requireCoarseBase(base: IvfFlatIndex, metric: Metric): IvfFlatIndex = {
    val want = coarseMetric(metric).name
    val got = base.centroids.metricName
    val l2Family = Set(Metric.L2.name, Metric.L2Sqrt.name)
    require(got == want || (l2Family.contains(got) && l2Family.contains(want)),
      s"shared coarse base was clustered under '$got' but a '${metric.name}' build " +
        s"requires '$want' cells (coarse_clustering_metric, ivf_pq_build.cuh:70-76); " +
        "rebuild the base under the required metric or let the build train its own")
    base
  }

  def load(spark: SparkSession, path: String): IvfPqIndex = {
    LayoutFormat.require(spark, path, "ivf_pq")
    val (centroids, metric) = IvfFlatIndex.loadCentroids(spark, path)
    // codebooks are driver-resident by construction — read them driver-side
    // like the centroids (r17, SidecarIO doc); positions come from the
    // (s, c) columns, so file order is irrelevant
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
    new IvfPqIndex(centroids, PqCodebooks(books, pqDim, nCenters, subLen),
      IvfFlatIndex.readListTable(spark, s"$path/pq_lists"), metric, DepthHint.load(spark, path))
  }

  /** A Cosine build unit-normalizes the dataset first (cosine = IP over
    * normalized vectors; the searched lists store the normalized copies
    * and queries normalize symmetrically) — a caller-shared `base` for a
    * cosine build must therefore have been built over normalized vectors
    * with the cosine metric. */
  private[index] def normalizedFor(dataset: DataFrame, metric: Metric,
      vecCol: String): DataFrame =
    if (metric == Metric.Cosine)
      dataset.withColumn(vecCol, IvfFlatIndex.unitNormCol(col(vecCol)))
    else dataset

  /** The probe-join half of a per-subspace PQ search (IVF-PQ, ScaNN): the
    * ADC `dist` of a list row against its probe row's table, and the
    * per-probe step that builds the table — residual-L2, or the IP table
    * of an IP/cosine build. */
  private[index] def adcJoin(cs: CentroidSet, cb: PqCodebooks,
      ipLike: Boolean): (Column, DataFrame => DataFrame) =
    (ProductQuantizer.adcCol(col("_lut"), col("pq_codes"), cb),
      _.withColumn("_lut",
        if (ipLike) ProductQuantizer.lutIpCol(col("_qvec"), col("list_id"), cb, cs)
        else ProductQuantizer.lutCol(B.column(CentroidResidual(B.expression(col("_qvec")),
          B.expression(col("list_id")), cs)), cb))
        .select(col("qid"), col("list_id"), col("_lut"))
        // materialize: the LUT must be computed ONCE per (query, probed
        // list). Left as a lazy projection, CollapseProject can inline the
        // single-use _lut alias into the join's output projection in some
        // plan shapes (measured inside a broadcast-candidates refine), and
        // the pqDim·2^bits·subLen table gets rebuilt PER PAIR — ~80x the
        // intended work at 1M rows. localCheckpoint (not persist): the
        // frame is nQ·nProbes rows and there is no post-execution hook to
        // unpersist from, so the blocks must be GC-reclaimable — a
        // CacheManager entry would pin them for the session's life.
        .localCheckpoint())

  /** Coarse-clustering metric for a build metric — the reference's
    * `coarse_clustering_metric` (ivf_pq_build.cuh:70-76): InnerProduct
    * CLUSTERS under L2 (max-dot Lloyd degenerates toward large-norm
    * centers, leaving residuals the size of the data spread — the ADC
    * codes then carry that spread as estimator noise) and only PROBES by
    * dot product at search time. Cosine keeps cosine cells (vectors are
    * unit-normalized first, where cosine and L2 rank identically). */
  private[index] def coarseMetric(m: Metric): Metric =
    if (m == Metric.InnerProduct) Metric.L2 else m

  /** Probe-ranking centroid view: same centers, ranked under the INDEX
    * metric (an IP build probes its L2-built cells by max dot —
    * select_clusters with norm_factor = 0, ivf_pq_search.cuh:114). */
  private[index] def probeView(cs: CentroidSet, m: Metric): CentroidSet =
    if (cs.metricName == m.name) cs
    else CentroidSet(cs.flat, cs.k, cs.dim, m.name)

  def build(dataset: DataFrame, params: Params,
      idCol: String = "id", vecCol: String = "vec",
      base: Option[IvfFlatIndex] = None): IvfPqIndex = {
    val ds = normalizedFor(dataset, params.metric, vecCol)
    // coarse quantizer = IVF-Flat build machinery, or a caller-shared one
    // — whose cells must match coarseMetric (checked, requireCoarseBase)
    val ivf = base.map(requireCoarseBase(_, params.metric))
      .getOrElse(IvfFlatIndex.build(ds,
        IvfFlatIndex.Params(params.nLists, params.nIters, params.trainFraction,
          params.seed, coarseMetric(params.metric), params.balanced), idCol, vecCol))
    // residuals vs assigned cell center, then PQ codebooks on them
    val withRes = ivf.lists.withColumn("_res",
      B.column(CentroidResidual(B.expression(col("vec")), B.expression(col("list_id")),
        ivf.centroids)))
    val cb = ProductQuantizer.train(withRes,
      ProductQuantizer.Params(params.pqDim, params.pqBits, seed = params.seed),
      "id", "_res")
    // IP/cosine builds encode anisotropically (see Params.anisoT): same
    // codebooks, score-aware code choice
    val eta = anisoEta(params.anisoT, ivf.centroids.dim, params.metric)
    val encoded =
      if (eta > 1.0)
        ProductQuantizer.encodeAnisoCol(col("_res"),
          IvfFlatIndex.unitNormCol(col("vec")), cb, eta)
      else ProductQuantizer.encodeCol(col("_res"), cb)
    val lists = withRes
      .select(col("list_id"), col("id"), encoded.as("pq_codes"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pcs = probeView(ivf.centroids, params.metric)
    val src = Some(new CurveSource(ivf,
      ds.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))))
    val idx = new IvfPqIndex(pcs, cb, lists, params.metric, measureSource = src)
    // reorder-depth calibration while the raw dataset is still at hand
    // (the saved layout stores only codes) — see DepthHint; the truth is
    // measured over the coarse lists, i.e. `ds`, so a cosine build's
    // ground truth ranks the same normalized rows the lists store
    if (DepthHint.enabled(dataset.sparkSession) && DepthHint.routableMetric(params.metric)) {
      val nRows = lists.count()
      new IvfPqIndex(pcs, cb, lists, params.metric,
        DepthHint.measure(idx.search(_, _, _), pcs.k,
          ivf.heldOutTruth(params.metric, nRows), nRows), measureSource = src)
    } else idx
  }

  /** PER_CLUSTER build: one codebook per list, trained on the list's own
    * residuals with all pqDim subvectors pooled (the shared-across-
    * subspaces semantics of codebook_gen::PER_CLUSTER). The fused Lloyd
    * update is ONE distributed pass per iteration across every list at
    * once — encode by list, posexplode subvector codes, mean per
    * (list, code) — the same 2-jobs/iteration shape as the per-subspace
    * trainer regardless of nLists. */
  def buildPerCluster(dataset: DataFrame, params: Params,
      idCol: String = "id", vecCol: String = "vec",
      base: Option[IvfFlatIndex] = None): IvfPqClusterIndex = {
    val ds = normalizedFor(dataset, params.metric, vecCol)
    val ivf = base.map(requireCoarseBase(_, params.metric))
      .getOrElse(IvfFlatIndex.build(ds,
        IvfFlatIndex.Params(params.nLists, params.nIters, params.trainFraction,
          params.seed, coarseMetric(params.metric), params.balanced), idCol, vecCol))
    val dim = ivf.centroids.dim
    require(dim % params.pqDim == 0, s"dim $dim not divisible by pqDim ${params.pqDim}")
    val subLen = dim / params.pqDim
    val nCenters = 1 << params.pqBits
    val nLists = ivf.centroids.k
    val withRes = ivf.lists
      .withColumn("_res", B.column(CentroidResidual(B.expression(col("vec")),
        B.expression(col("list_id")), ivf.centroids)))
      .select(col("list_id").cast("int").as("list_id"), col("id"), col("_res"),
        col("vec"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // deterministic seeded init: per list, hash-ranked seed rows; center c
      // of list l = subvector (c % pqDim) of the list's seed row
      // floor(c / pqDim), wrapping when the list is short. Lists the coarse
      // stage left empty keep zero centers (they are never probed against
      // rows, so the values are inert).
      val seedsPerList = math.max(1, math.ceil(nCenters.toDouble / params.pqDim).toInt)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("list_id"))
        .orderBy(xxhash64(col("id"), lit(params.seed)), col("id"))
      val seedRows = withRes
        .withColumn("_rk", row_number().over(w))
        .filter(col("_rk") <= seedsPerList)
        .select(col("list_id"), col("_rk"), col("_res"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (l, rows) =>
          l -> rows.sortBy(_.getInt(1)).map(_.getSeq[Float](2).toArray)
        }
      var flat = new Array[Float](nLists * nCenters * subLen)
      seedRows.foreach { case (l, rows) =>
        var c = 0
        while (c < nCenters) {
          val row = rows((c / params.pqDim) % rows.length)
          val sub = c % params.pqDim
          System.arraycopy(row, sub * subLen, flat, (l * nCenters + c) * subLen, subLen)
          c += 1
        }
      }
      // Cost-based route (graft.graphops.LocalKernel): on a collectable
      // trainset the fused per-iteration jobs are scheduling overhead —
      // run the same Lloyd loop in memory (identical init, the strict
      // argmin of PqClusterOps.encode, double-sum means in id order).
      val sparkS = dataset.sparkSession
      if (graft.graphops.LocalKernel.enabled(sparkS) &&
          graft.graphops.LocalKernel.within(withRes,
            graft.graphops.LocalKernel.maxVectors(sparkS))) {
        val rows = withRes.select(col("list_id"), col("id").cast("long"), col("_res"))
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toArray))
          .sortBy(_._2)
        for (_ <- 1 to params.nIters) {
          val sums = new Array[Double](nLists * nCenters * subLen)
          val counts = new Array[Long](nLists * nCenters)
          rows.foreach { case (lid, _, v) =>
            val base = lid * nCenters * subLen
            var s = 0
            while (s < params.pqDim) {
              var best = 0; var bestD = Double.MaxValue
              var c = 0
              while (c < nCenters) {
                val off = base + c * subLen
                var d = 0.0; var j = 0
                while (j < subLen) {
                  val t = v(s * subLen + j).toDouble - flat(off + j)
                  d += t * t; j += 1
                }
                if (d < bestD) { bestD = d; best = c }
                c += 1
              }
              val cell = lid * nCenters + best
              var j = 0
              while (j < subLen) { sums(cell * subLen + j) += v(s * subLen + j); j += 1 }
              counts(cell) += 1
              s += 1
            }
          }
          val next = flat.clone()
          var cell = 0
          while (cell < counts.length) {
            if (counts(cell) > 0) {
              var j = 0
              while (j < subLen) {
                next(cell * subLen + j) = (sums(cell * subLen + j) / counts(cell)).toFloat
                j += 1
              }
            }
            cell += 1
          }
          flat = next
        }
      } else for (_ <- 1 to params.nIters) {
        val ccb = ClusterCodebooks(flat, nLists, nCenters, subLen, params.pqDim)
        val updated = withRes
          .select(col("list_id"),
            posexplode(B.column(PqEncodeByList(B.expression(col("_res")),
              B.expression(col("list_id")), ccb))).as(Seq("s", "c")),
            col("_res"))
          .select(col("list_id"), col("c"),
            slice(col("_res"), col("s") * subLen + 1, lit(subLen)).as("_sub"))
          .groupBy(col("list_id"), col("c"))
          .agg(graft.core.VectorAgg.vectorAvg(col("_sub")).as("mean"))
          .collect()
        val next = flat.clone()
        updated.foreach { r =>
          val mean = r.getSeq[Float](2).toArray
          if (mean.nonEmpty)
            System.arraycopy(mean, 0, next,
              (r.getInt(0) * nCenters + r.getInt(1)) * subLen, subLen)
        }
        flat = next
      }
      val ccb = ClusterCodebooks(flat, nLists, nCenters, subLen, params.pqDim)
      // the FINAL encode is anisotropic for IP/cosine builds (training
      // stays plain-L2 Lloyd, as the per-subspace mode) — see Params.anisoT
      val eta = anisoEta(params.anisoT, dim, params.metric)
      val encoded =
        if (eta > 1.0)
          B.column(graft.expr.PqEncodeAnisoByList(B.expression(col("_res")),
            B.expression(col("list_id")),
            B.expression(IvfFlatIndex.unitNormCol(col("vec"))), ccb, eta))
        else B.column(PqEncodeByList(B.expression(col("_res")),
          B.expression(col("list_id")), ccb))
      val lists = withRes
        .select(col("list_id"), col("id"), encoded.as("pq_codes"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nListRows = lists.count() // materialize before the residual input unpersists
      val pcs = probeView(ivf.centroids, params.metric)
      val src = Some(new CurveSource(ivf,
        ds.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))))
      val idx = new IvfPqClusterIndex(pcs, ccb, lists, params.metric, measureSource = src)
      if (DepthHint.enabled(dataset.sparkSession) && DepthHint.routableMetric(params.metric))
        new IvfPqClusterIndex(pcs, ccb, lists, params.metric,
          DepthHint.measure(idx.search(_, _, _), pcs.k,
            ivf.heldOutTruth(params.metric, nListRows), nListRows), measureSource = src)
      else idx
    } finally withRes.unpersist()
  }
}
