package graft

import org.apache.spark.sql.functions._
import graft.core.Metric
import graft.index.IvfPqIndex
import graft.ops.BruteForceKnn

class IvfPqSuite extends SparkFunSuite {

  private lazy val emb = spark.read.parquet(s"${SparkTestBase.sf0001}/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id") % 50 === 0)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  private lazy val index = IvfPqIndex.build(emb,
    IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 16, pqBits = 5), "vec_id", "embedding")

  private def recall(got: org.apache.spark.sql.DataFrame, k: Int): Double = {
    val exact = BruteForceKnn.knnJoin(emb, queries, k, Metric.L2, "vec_id", "embedding")
      .select(col("qid"), col("nbr_id"))
    got.select(col("qid"), col("nbr_id")).intersect(exact).count().toDouble / exact.count()
  }

  test("ADC search with all probes meets a PQ-limited recall floor") {
    val got = index.search(queries, 10, nProbes = 8)
    val r = recall(got, 10)
    assert(r >= 0.5, s"recall $r") // PQ approximation only; no cell loss
  }

  test("refine recovers recall (>= 0.9 with all probes, 4x coarse)") {
    val got = index.searchWithRefine(queries, emb, 10, nProbes = 8, kCoarse = 60,
      idCol = "vec_id", vecCol = "embedding")
    val r = recall(got, 10)
    assert(r >= 0.9, s"refined recall $r")
  }

  test("save/load roundtrip searches identically") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    index.save(dir)
    val loaded = IvfPqIndex.load(spark, dir)
    def key(df: org.apache.spark.sql.DataFrame) = df.select("qid", "nbr_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    assert(key(loaded.search(queries, 5, 4)) == key(index.search(queries, 5, 4)))
  }

  test("refined distances are exact for the self match") {
    val got = index.searchWithRefine(queries, emb, 3, nProbes = 8, kCoarse = 20,
      idCol = "vec_id", vecCol = "embedding")
    val self = got.filter(col("qid") === col("nbr_id"))
    assert(self.count() > 0)
    assert(self.filter(col("dist") =!= 0.0).count() == 0)
  }

  // ===== codebook_gen::PER_CLUSTER (ivf_pq.hpp:34-45,82) ================

  private lazy val clIndex = IvfPqIndex.buildPerCluster(emb,
    IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 16, pqBits = 5), "vec_id", "embedding")

  test("PER_CLUSTER: ADC score equals the exact distance to the decoded row") {
    // ADC(lut(q, l), codes) = sum_s ||q_s - C_l[code_s]||^2 = ||q - decode||^2,
    // an exact identity that pins LUT layout, encode, and decode together.
    import org.apache.spark.sql.graft.{bridge => B}
    val ccb = clIndex.codebooks
    val rows = clIndex.lists.limit(50)
      .join(emb.select(col("vec_id").as("id"), col("embedding")), "id")
    val checked = rows.select(
      graft.prep.ProductQuantizer.adcCol(
        B.column(graft.expr.PqLutByList(
          B.expression(B.column(graft.expr.CentroidResidual(
            B.expression(col("embedding")), B.expression(col("list_id")),
            clIndex.centroids))),
          B.expression(col("list_id").cast("int")), ccb)),
        col("pq_codes"), ccb.nCenters).as("adc"),
      graft.functions.vector_distance(Metric.L2,
        B.column(graft.expr.CentroidResidual(B.expression(col("embedding")),
          B.expression(col("list_id")), clIndex.centroids)),
        B.column(graft.expr.PqDecodeByList(B.expression(col("pq_codes")),
          B.expression(col("list_id").cast("int")), ccb))).as("exact"))
    assert(checked.filter(abs(col("adc") - col("exact")) > 1e-6).count() == 0)
  }

  test("PER_CLUSTER: save/load roundtrip searches identically") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpqcl").toString
    clIndex.save(dir)
    val loaded = graft.index.IvfPqClusterIndex.load(spark, dir)
    def key(df: org.apache.spark.sql.DataFrame) = df.select("qid", "nbr_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    assert(key(loaded.search(queries, 5, 4)) == key(clIndex.search(queries, 5, 4)))
  }

  test("PER_CLUSTER: a layout past 65,536 codebook rows saves and reloads") {
    // 257 lists × 2^8 centers = 65,792 cluster_codebooks rows: driver-held
    // layout state, read back in full (not under the sidecar row cap)
    val rnd = new scala.util.Random(7)
    val data = spark.createDataFrame(java.util.Arrays.asList(
      (0 until 3000).map(i => org.apache.spark.sql.Row(i.toLong,
        Array.fill(4)(rnd.nextGaussian().toFloat).toSeq)): _*),
      org.apache.spark.sql.types.StructType.fromDDL("id long, vec array<float>"))
    val dir = java.nio.file.Files.createTempDirectory("ivfpqcl257").toString
    spark.conf.set("spark.graft.index.recallCurve.enabled", "false")
    try {
      val built = IvfPqIndex.buildPerCluster(data,
        IvfPqIndex.Params(nLists = 257, nIters = 2, pqDim = 2, pqBits = 8))
      built.save(dir)
      assert(graft.sources.SidecarIO.rowCount(spark, s"$dir/cluster_codebooks")
        .contains(257L * 256))
      val loaded = graft.index.IvfPqClusterIndex.load(spark, dir)
      assert(loaded.codebooks.copy(flat = Array.emptyFloatArray) ==
        built.codebooks.copy(flat = Array.emptyFloatArray))
      assert(loaded.codebooks.flat.sameElements(built.codebooks.flat))
      assert(loaded.centroids.flat.sameElements(built.centroids.flat))
    } finally spark.conf.unset("spark.graft.index.recallCurve.enabled")
  }

  test("PER_CLUSTER: refine recovers recall like the per-subspace mode") {
    val got = clIndex.searchWithRefine(queries, emb, 10, nProbes = 8, kCoarse = 60,
      idCol = "vec_id", vecCol = "embedding")
    val r = recall(got, 10)
    assert(r >= 0.9, s"refined recall $r")
  }

  test("anisotropic encode: never worse under the ScaNN loss, strictly better somewhere") {
    // the coordinate descent is SEEDED by the plain L2 encode and each
    // step only decreases ||e||² + (η−1)(e·u)² — so pointwise the aniso
    // loss is <= the plain codes' loss, and on a generic random fixture
    // at least one row's codes must actually move
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.expr.{PqCodebooks, PqOps}
    val rnd = new scala.util.Random(11)
    val (pqDim, nCenters, subLen) = (4, 8, 4)
    val dim = pqDim * subLen
    val cb = PqCodebooks(Array.fill(pqDim * nCenters * subLen)(
      rnd.nextFloat() * 2f - 1f), pqDim, nCenters, subLen)
    val eta = 4.0
    def loss(codes: Array[Int], res: Array[Float], unit: Array[Float]): Double = {
      var l2 = 0.0; var par = 0.0
      for (s <- 0 until pqDim; j <- 0 until subLen) {
        val e = res(s * subLen + j) - cb.books((s * nCenters + codes(s)) * subLen + j)
        l2 += e * e; par += e * unit(s * subLen + j)
      }
      l2 + (eta - 1.0) * par * par
    }
    var moved = 0
    for (_ <- 0 until 50) {
      val x = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
      val n = math.sqrt(x.map(v => v * v.toDouble).sum)
      val unit = x.map(v => (v / n).toFloat)
      val res = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
      val plain = PqOps.encode(cb, new GenericArrayData(res)).toIntArray()
      val aniso = PqOps.encodeAniso(cb, new GenericArrayData(res),
        new GenericArrayData(unit), eta).toIntArray()
      assert(loss(aniso, res, unit) <= loss(plain, res, unit) + 1e-9)
      if (!java.util.Arrays.equals(plain, aniso)) moved += 1
    }
    assert(moved > 0, "descent never moved a code on a random fixture")
    // eta <= 1 degenerates to the plain encode exactly
    val res0 = Array.fill(dim)(rnd.nextFloat())
    val u0 = Array.fill(dim)(0f); u0(0) = 1f
    assert(java.util.Arrays.equals(
      PqOps.encodeAniso(cb, new GenericArrayData(res0), new GenericArrayData(u0), 1.0)
        .toIntArray(),
      PqOps.encode(cb, new GenericArrayData(res0)).toIntArray()))
  }

  test("IP builds cluster under L2 and probe by dot (coarse_clustering_metric)") {
    // the reference's rule (ivf_pq_build.cuh:70-76): max-dot Lloyd
    // degenerates toward large-norm centers, so IP builds CLUSTER under
    // L2 (every row in its L2-nearest cell) and only rank PROBES by dot
    val idx = IvfPqIndex.build(emb,
      IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8, pqBits = 8,
        metric = Metric.InnerProduct), "vec_id", "embedding")
    assert(idx.centroids.metricName == Metric.InnerProduct.name,
      "probe view ranks under the index metric")
    val l2View = graft.expr.CentroidSet(idx.centroids.flat, idx.centroids.k,
      idx.centroids.dim, Metric.L2.name)
    val (l2Cell, _) = graft.cluster.KMeans.assignCols(l2View, col("embedding"))
    val mismatches = idx.lists.select(col("list_id"), col("id"))
      .join(emb.select(col("vec_id").as("id"), col("embedding")), "id")
      .withColumn("_l2cell", l2Cell)
      .filter(col("_l2cell") =!= col("list_id")).count()
    assert(mismatches == 0, s"$mismatches rows not in their L2-nearest cell")
  }

  test("an IP build encodes anisotropically and stays refine-exact") {
    val idx = IvfPqIndex.build(emb,
      IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8, pqBits = 8,
        metric = Metric.InnerProduct), "vec_id", "embedding")
    val plainIdx = IvfPqIndex.build(emb,
      IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8, pqBits = 8,
        metric = Metric.InnerProduct, anisoT = 0.0), "vec_id", "embedding")
    // the knob is live: default-on aniso codes differ from anisoT = 0
    val differ = idx.lists.select(col("id"), col("pq_codes"))
      .exceptAll(plainIdx.lists.select(col("id"), col("pq_codes"))).count()
    assert(differ > 0, "anisoT default should change IP codes")
    // and the composed search stays exact after refine at full depth
    val n = emb.count().toInt
    val got = idx.searchWithRefine(queries, emb, 10, nProbes = 8, kCoarse = n,
      idCol = "vec_id", vecCol = "embedding").select(col("qid"), col("nbr_id"))
    val exact = BruteForceKnn.knnJoin(emb, queries, 10, Metric.InnerProduct,
      "vec_id", "embedding").select(col("qid"), col("nbr_id"))
    assert(got.intersect(exact).count() == exact.count())
  }

  test("a shared coarse base must match coarse_clustering_metric, enforced loudly") {
    // an IP-BUILT (max-dot Lloyd) base under an IP PQ build would silently
    // reintroduce the residual-noise defect the L2-coarse rule exists to
    // prevent (ivf_pq_build.cuh:70-76) — the build must refuse it, in all
    // three shared-base builders
    val ipBase = graft.index.IvfFlatIndex.build(emb,
      graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5,
        metric = Metric.InnerProduct), "vec_id", "embedding")
    val ipParams = IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8, pqBits = 8,
      metric = Metric.InnerProduct)
    intercept[IllegalArgumentException] {
      IvfPqIndex.build(emb, ipParams, "vec_id", "embedding", base = Some(ipBase))
    }
    intercept[IllegalArgumentException] {
      IvfPqIndex.buildPerCluster(emb, ipParams, "vec_id", "embedding", base = Some(ipBase))
    }
    intercept[IllegalArgumentException] {
      graft.index.ScannIndex.build(emb,
        graft.index.ScannIndex.Params(nLeaves = 8, nIters = 5, pqDim = 8, pqBits = 8,
          metric = Metric.InnerProduct), "vec_id", "embedding", base = Some(ipBase))
    }
    // the LEGAL share — an L2-clustered base under an IP build — still
    // works, and its displacement calibration stays on the fixed path
    val l2Base = graft.index.IvfFlatIndex.build(emb,
      graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5), "vec_id", "embedding")
    val shared = IvfPqIndex.build(emb, ipParams, "vec_id", "embedding",
      base = Some(l2Base))
    assert(shared.centroids.metricName == Metric.InnerProduct.name,
      "probe view still ranks under the index metric")
    assert(shared.depthHint.forall { case (_, disp) => disp < emb.count() },
      "shared-L2-base IP build should keep the uncapped displacement")
  }

  test("anisoT outside [0, 1) is refused (eta would be infinite)") {
    intercept[IllegalArgumentException] {
      IvfPqIndex.build(emb, IvfPqIndex.Params(nLists = 8, nIters = 5,
        pqDim = 8, pqBits = 8, metric = Metric.InnerProduct, anisoT = 1.0),
        "vec_id", "embedding")
    }
    intercept[IllegalArgumentException] {
      IvfPqIndex.build(emb, IvfPqIndex.Params(nLists = 8, nIters = 5,
        pqDim = 8, pqBits = 8, metric = Metric.InnerProduct, anisoT = -0.1),
        "vec_id", "embedding")
    }
  }
}
