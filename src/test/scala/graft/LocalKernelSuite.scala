package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Metric
import graft.graphops.{AllNeighbors, CagraOptimize, GraphSearch}
import graft.index.Hnsw

/** The cost-based kernel routes (LocalKernel/LocalBeam) must be
  * row-identical to the distributed loops they replace — same beams, same
  * tie-breaks, same distances bit-for-bit. These tests run each operator
  * through BOTH routes (toggling spark.graft.localKernel.enabled) and
  * assert exact set equality. */
class LocalKernelSuite extends SparkFunSuite {

  private lazy val emb = spark.read.parquet(s"${SparkTestBase.sf0001}/embeddings.parquet")
    .select(col("vec_id").as("id"), col("embedding").as("vec"))
  private lazy val queries = emb.filter(col("id") % 50 === 0)
    .select(col("id").as("qid"), col("vec").as("qvec"))

  test("within: exact at the cap boundary across partition shapes") {
    import graft.graphops.LocalKernel.within
    // one partition, many partitions, empty, skewed (all rows in one part)
    for (parts <- Seq(1, 7, 32)) {
      val df = spark.range(0, 100, 1, parts).toDF("id")
      assert(within(df, 100), s"100 rows / $parts parts should be within 100")
      assert(!within(df, 99), s"100 rows / $parts parts should exceed 99")
      assert(within(df, 1000))
      assert(!within(df, 0))
    }
    assert(within(spark.range(0).toDF("id"), 0), "empty frame is within 0")
    assert(!within(spark.range(1).toDF("id"), -1), "negative cap is never within")
    val skew = spark.range(0, 500, 1, 1).toDF("id")
      .union(spark.range(0, 0, 1, 9).toDF("id"))
    assert(within(skew, 500) && !within(skew, 499))
    // driver-held frames answer from the plan's static row bound: exact at
    // the boundary, and no job
    import spark.implicits._
    for (n <- Seq(0, 1, 37)) {
      val lr = (0 until n).map(_.toLong).toDF("id")
      assert(graft.core.Frames.isLocal(lr))
      val jobs = jobsDuring {
        for (cap <- Seq(n - 1, n, n + 1))
          assert(within(lr, cap) == (n <= cap), s"$n local rows vs cap $cap")
        assert(within(lr.filter($"id" % 2 === 0).select(($"id" + 1).as("x")), n))
      }
      assert(jobs == 0, s"within on a $n-row local frame ran $jobs jobs")
    }
  }

  private def bothRoutes(run: => DataFrame): (Array[String], Array[String]) = {
    def rows(df: DataFrame): Array[String] =
      df.collect().map(_.toString).sorted
    spark.conf.set("spark.graft.localKernel.enabled", "true")
    val local = rows(run)
    spark.conf.set("spark.graft.localKernel.enabled", "false")
    val dist =
      try rows(run)
      finally spark.conf.set("spark.graft.localKernel.enabled", "true")
    (local, dist)
  }

  test("graph search: broadcast route == iterative route, row for row") {
    val knn = AllNeighbors.exact(emb, 16, Metric.L2Sqrt, "id", "vec").localCheckpoint()
    val g = CagraOptimize.optimize(knn.select(col("src"), col("dst"), col("dist")), degree = 8)
      .localCheckpoint()
    val (local, dist) = bothRoutes {
      GraphSearch.search(g.select(col("src"), col("dst")), emb, queries, 10,
        GraphSearch.Params(itopk = 40, searchWidth = 4, maxIterations = 8), "id", "vec")
    }
    assert(local.length > 0)
    assert(local.sameElements(dist))
  }

  test("brute-force kNN: fused select_k kernel == crossJoin+aggregator, row for row") {
    import graft.ops.BruteForceKnn
    // force the fused route past its work-size gate — the sf0.001 table is
    // small enough that the cost model would otherwise pick crossJoin on
    // both sides and the kernel would go unexercised
    spark.conf.set("spark.graft.bruteforce.fusedMinPairs", "0")
    try {
      for (metric <- Seq(Metric.L2, Metric.L2Sqrt, Metric.Cosine, Metric.InnerProduct)) {
        val (local, dist) = bothRoutes {
          BruteForceKnn.knnJoin(emb, queries, 10, metric, "id", "vec")
        }
        assert(local.length > 0, s"$metric")
        assert(local.sameElements(dist), s"$metric")
      }
    } finally {
      spark.conf.unset("spark.graft.bruteforce.fusedMinPairs")
    }
  }

  test("nn-descent: sampled rounds match between local and distributed routes") {
    import graft.graphops.NnDescent
    // maxSamples=4 forces the per-round adjacency sampling on (undirected
    // degree ~2k=12 > 4), exercising the hash-chain parity between the
    // window form and the in-memory twin
    val (local, dist) = bothRoutes {
      NnDescent.build(emb,
        NnDescent.Params(k = 6, maxIterations = 3, maxSamples = 4), "id", "vec")
    }
    assert(local.length > 0)
    assert(local.sameElements(dist))
  }

  test("brute-force fused route: L2Sqrt tie admission on duplicated vectors") {
    import graft.ops.BruteForceKnn
    spark.conf.set("spark.graft.bruteforce.fusedMinPairs", "0")
    try {
      // every vector appears twice under different ids, so every neighbor
      // distance is a tie that must resolve by ascending id; the fused
      // kernel's early-exit bound (squared space, 2-ulp widened) must not
      // prune the tied candidate the (dist, id) contract admits
      val dup = emb.unionByName(emb.withColumn("id", col("id") + 100000))
      val (local, dist) = bothRoutes {
        BruteForceKnn.knnJoin(dup, queries, 10, Metric.L2Sqrt, "id", "vec")
      }
      assert(local.length > 0)
      assert(local.sameElements(dist))
    } finally spark.conf.unset("spark.graft.bruteforce.fusedMinPairs")
  }

  test("hnsw search: one-pass route == per-level route, row for row") {
    val base = AllNeighbors.exact(emb, 16, Metric.L2Sqrt, "id", "vec").localCheckpoint()
    val idx = Hnsw.fromGraph(base, emb, Hnsw.Params(m = 16), "id", "vec")
    // explicit bound: row-identity across routes is the EXPLICIT contract
    // (auto resolves per route — the in-memory routes track ef)
    val (local, dist) = bothRoutes {
      Hnsw.search(idx, emb, queries, 10, ef = 40, "id", "vec", baseIterations = 10)
    }
    assert(local.length > 0)
    assert(local.sameElements(dist))
  }

  test("hnsw search: hybrid descent route == per-level route, row for row") {
    // force the caps between "upper layers fit" and "whole hierarchy
    // fits": the one-pass route is off (base layer over maxEdges), the
    // hybrid broadcast-descent + distributed-base-beam route fires, and
    // it must equal the pure per-level loop exactly
    val base = AllNeighbors.exact(emb, 16, Metric.L2Sqrt, "id", "vec").localCheckpoint()
    val idx = Hnsw.fromGraph(base, emb, Hnsw.Params(m = 16), "id", "vec")
    val nUpper = idx.edges.filter(col("level") >= 1).count()
    val nBase = idx.edges.filter(col("level") === 0).count()
    assert(nUpper > 0 && nBase > nUpper, "fixture must have a real hierarchy")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted
    spark.conf.set("spark.graft.localKernel.maxEdges", (nUpper + 1).toString)
    // explicit bound: row-identity across routes is the EXPLICIT contract
    // (auto resolves per route — the in-memory routes track ef)
    val hybrid =
      try rows(Hnsw.search(idx, emb, queries, 10, ef = 40, "id", "vec",
        baseIterations = 10))
      finally spark.conf.unset("spark.graft.localKernel.maxEdges")
    // the route marker makes this non-vacuous: a demoted search would
    // produce identical rows via the loop, so pin WHICH route ran
    assert(Hnsw.lastSearchRoute.contains("hybrid"))
    spark.conf.set("spark.graft.localKernel.enabled", "false")
    val loop =
      try rows(Hnsw.search(idx, emb, queries, 10, ef = 40, "id", "vec",
        baseIterations = 10))
      finally spark.conf.set("spark.graft.localKernel.enabled", "true")
    assert(Hnsw.lastSearchRoute.contains("loop"))
    assert(hybrid.length > 0)
    assert(hybrid.sameElements(loop))
  }

  test("hnsw baseIterations threads identically through local, hybrid, and loop routes") {
    // the r10 knob: a non-default beam bound must keep the three routes
    // row-identical (the contract that makes it safe to raise toward ef)
    val base = AllNeighbors.exact(emb, 16, Metric.L2Sqrt, "id", "vec").localCheckpoint()
    val idx = Hnsw.fromGraph(base, emb, Hnsw.Params(m = 16), "id", "vec")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted
    val local = rows(Hnsw.search(idx, emb, queries, 10, ef = 40, "id", "vec",
      baseIterations = 25))
    assert(Hnsw.lastSearchRoute.contains("local"))
    val nUpper = idx.edges.filter(col("level") >= 1).count()
    spark.conf.set("spark.graft.localKernel.maxEdges", (nUpper + 1).toString)
    val hybrid =
      try rows(Hnsw.search(idx, emb, queries, 10, ef = 40, "id", "vec",
        baseIterations = 25))
      finally spark.conf.unset("spark.graft.localKernel.maxEdges")
    assert(Hnsw.lastSearchRoute.contains("hybrid"))
    spark.conf.set("spark.graft.localKernel.enabled", "false")
    val loop =
      try rows(Hnsw.search(idx, emb, queries, 10, ef = 40, "id", "vec",
        baseIterations = 25))
      finally spark.conf.set("spark.graft.localKernel.enabled", "true")
    assert(Hnsw.lastSearchRoute.contains("loop"))
    assert(local.length > 0)
    assert(local.sameElements(hybrid) && local.sameElements(loop))
  }

  test("hnsw auto baseIterations tracks ef on the local route — no saturation") {
    // A 50-node chain graph (each node linked only to its neighbors) with
    // the entry pinned at one end: the beam advances ~1 node per round, so
    // a fixed 10-round bound cannot reach the far end at ANY ef — the
    // saturation AnnBench measured on held-out queries. Auto (the default,
    // baseIterations = 0) must run max(10, ef) rounds on the local route
    // and find the true top-k; an explicit 10 must keep the old bound.
    import spark.implicits._
    val n = 50
    val data = (0 until n).map(i => (i.toLong, Array(i.toFloat, 0f)))
      .toDF("id", "vec")
    val chain = (0 until n).flatMap { i =>
      Seq(i - 1, i + 1).filter(j => j >= 0 && j < n).zipWithIndex.map {
        case (j, rk) => (0, i.toLong, j.toLong, 1.0, rk + 1)
      }
    }.toDF("level", "src", "dst", "dist", "rank")
    val idx = Hnsw.Index(
      levels = (0 until n).map(i => (i.toLong, 0)).toDF("id", "level"),
      edges = chain, maxLevel = 0, entryPoint = 0L, params = Hnsw.Params(m = 2))
    val q = Seq((99L, Array((n - 1).toFloat, 0f))).toDF("qid", "qvec")
    def ids(bi: Int) = Hnsw.search(idx, data, q, 5, ef = 100, "id", "vec",
        baseIterations = bi)
      .select(col("nbr_id")).collect().map(_.getLong(0)).toSet
    val pinned10 = ids(10)
    assert(Hnsw.lastSearchRoute.contains("local"))
    val auto = ids(0)
    val want = ((n - 5) until n).map(_.toLong).toSet
    assert(auto == want, s"auto bound must reach the far end, got $auto")
    assert(pinned10 != want, "explicit 10 must keep the old job-cap bound " +
      "(otherwise this fixture can't detect saturation at all)")
  }

  test("hnsw hybrid gate runs on its own caps, decoupled from the generic kernel caps") {
    // the 10M regime in miniature: the generic maxVectors cap is far below
    // the upper-layer id count, which used to silently demote the search
    // to the per-level loop; the hybrid's dedicated budget must keep the
    // route live (and row-identical to the loop)
    val base = AllNeighbors.exact(emb, 16, Metric.L2Sqrt, "id", "vec").localCheckpoint()
    val idx = Hnsw.fromGraph(base, emb, Hnsw.Params(m = 16), "id", "vec")
    val nUpper = idx.edges.filter(col("level") >= 1).count()
    assert(nUpper > 0 && idx.maxLevel >= 1, "fixture must have a real hierarchy")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted
    spark.conf.set("spark.graft.localKernel.maxEdges", (nUpper + 1).toString)
    spark.conf.set("spark.graft.localKernel.maxVectors", "1")
    val hybrid =
      try rows(Hnsw.search(idx, emb, queries, 10, ef = 40, "id", "vec",
        baseIterations = 10))
      finally {
        spark.conf.unset("spark.graft.localKernel.maxEdges")
        spark.conf.unset("spark.graft.localKernel.maxVectors")
      }
    // the route marker is what makes this non-vacuous: a regression that
    // re-couples the hybrid gate to the generic caps would demote to the
    // (row-identical) loop and row equality alone could never catch it
    assert(Hnsw.lastSearchRoute.contains("hybrid"),
      "tiny generic maxVectors demoted the hybrid route")
    spark.conf.set("spark.graft.localKernel.enabled", "false")
    val loop =
      try rows(Hnsw.search(idx, emb, queries, 10, ef = 40, "id", "vec",
        baseIterations = 10))
      finally spark.conf.set("spark.graft.localKernel.enabled", "true")
    assert(hybrid.length > 0)
    assert(hybrid.sameElements(loop))
  }

  test("hnsw build: broadcast hierarchy == per-level distributed build") {
    val base = AllNeighbors.exact(emb, 16, Metric.L2Sqrt, "id", "vec").localCheckpoint()
    val (local, dist) = bothRoutes {
      Hnsw.fromGraph(base, emb, Hnsw.Params(m = 8), "id", "vec").edges
    }
    assert(local.length > 0)
    assert(local.sameElements(dist))
  }

  test("ivf search: fused probe kernel == partition-pruned join, row for row") {
    val idx = graft.index.IvfFlatIndex.build(
      emb.select(col("id").as("vec_id"), col("vec").as("embedding")),
      graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5), "vec_id", "embedding")
    val (local, dist) = bothRoutes {
      idx.search(queries, 10, nProbes = 3)
    }
    assert(local.length > 0)
    assert(local.sameElements(dist))
  }

  test("ivf-sq search: fused decode kernel == probe join, row for row") {
    val idx = graft.index.IvfSqIndex.build(
      emb.select(col("id").as("vec_id"), col("vec").as("embedding")),
      graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5), idCol = "vec_id",
      vecCol = "embedding")
    val (local, dist) = bothRoutes {
      idx.search(queries, 10, nProbes = 3)
    }
    assert(local.length > 0)
    assert(local.sameElements(dist))
  }

  test("ivf-pq search: fused ADC kernel == probe join, row for row") {
    val idx = graft.index.IvfPqIndex.build(
      emb.select(col("id").as("vec_id"), col("vec").as("embedding")),
      graft.index.IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8, pqBits = 6),
      "vec_id", "embedding")
    val (local, dist) = bothRoutes {
      idx.search(queries, 10, nProbes = 3)
    }
    assert(local.length > 0)
    assert(local.sameElements(dist))
  }

  test("ivf-pq PER_CLUSTER search: fused per-list ADC kernel == probe join") {
    val idx = graft.index.IvfPqIndex.buildPerCluster(
      emb.select(col("id").as("vec_id"), col("vec").as("embedding")),
      graft.index.IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8, pqBits = 5),
      "vec_id", "embedding")
    val (local, dist) = bothRoutes {
      idx.search(queries, 10, nProbes = 3)
    }
    assert(local.length > 0)
    assert(local.sameElements(dist))
  }

  test("ivf-pq PER_CLUSTER build: distributed Lloyd matches the in-memory twin") {
    def build() = graft.index.IvfPqIndex.buildPerCluster(
      emb.select(col("id").as("vec_id"), col("vec").as("embedding")),
      graft.index.IvfPqIndex.Params(nLists = 4, nIters = 3, pqDim = 16, pqBits = 5),
      "vec_id", "embedding")
    spark.conf.set("spark.graft.localKernel.enabled", "true")
    val local = build()
    spark.conf.set("spark.graft.localKernel.enabled", "false")
    val dist = try build()
      finally spark.conf.set("spark.graft.localKernel.enabled", "true")
    // same init + same argmin; the routes differ only in float summation
    // order, so codebooks agree to fp noise (loose bound guards against a
    // rare near-boundary assignment flip shifting one cell mean slightly)
    val (a, b) = (local.codebooks.flat, dist.codebooks.flat)
    assert(a.length == b.length)
    val frob = math.sqrt(a.zip(b).map { case (x, y) =>
      (x - y).toDouble * (x - y) }.sum / a.length)
    assert(frob < 0.05, s"codebook routes diverged: rms $frob")
    // and the distributed-trained index searches well end to end
    val got = dist.searchWithRefine(queries,
      emb.select(col("id").as("vec_id"), col("vec").as("embedding")),
      10, nProbes = 4, kCoarse = 60, idCol = "vec_id", vecCol = "embedding")
    val exact = graft.ops.BruteForceKnn.knnJoin(emb,
      queries, 10, graft.core.Metric.L2)
      .select(col("qid"), col("nbr_id"))
    val r = got.select(col("qid"), col("nbr_id")).intersect(exact).count().toDouble /
      exact.count()
    assert(r >= 0.9, s"distributed-build refine recall $r")
  }

  test("rabitq search: fused estimator kernel == probe join (1 and 3 bits)") {
    for (bits <- Seq(1, 3)) {
      val idx = graft.index.IvfRabitqIndex.build(
        emb.select(col("id").as("vec_id"), col("vec").as("embedding")),
        graft.index.IvfRabitqIndex.Params(nLists = 8, nIters = 5, bitsPerDim = bits),
        "vec_id", "embedding")
      val (local, dist) = bothRoutes {
        idx.search(queries, 20, nProbes = 3)
      }
      assert(local.length > 0, s"bits=$bits")
      assert(local.sameElements(dist), s"bits=$bits")
    }
  }

  test("scann search: fused ADC kernel (2k bufs + dedup) == probe join") {
    val idx = graft.index.ScannIndex.build(
      emb.select(col("id").as("vec_id"), col("vec").as("embedding")),
      graft.index.ScannIndex.Params(nLeaves = 8, nIters = 5, pqBits = 8),
      "vec_id", "embedding")
    val (local, dist) = bothRoutes {
      idx.search(queries, 10, nProbes = 4)
    }
    assert(local.length > 0)
    assert(local.sameElements(dist))
  }

  private lazy val embV = emb.select(col("id").as("vec_id"), col("vec").as("embedding"))

  test("ADC kernels under IP and cosine: fused route == probe join, row for row") {
    for (m <- Seq(Metric.InnerProduct, Metric.Cosine)) {
      val pq = graft.index.IvfPqIndex.build(embV, graft.index.IvfPqIndex.Params(
        nLists = 8, nIters = 5, pqDim = 8, pqBits = 6, metric = m), "vec_id", "embedding")
      val pqcl = graft.index.IvfPqIndex.buildPerCluster(embV, graft.index.IvfPqIndex.Params(
        nLists = 8, nIters = 5, pqDim = 8, pqBits = 5, metric = m), "vec_id", "embedding")
      val scann = graft.index.ScannIndex.build(embV, graft.index.ScannIndex.Params(
        nLeaves = 8, nIters = 5, pqBits = 6, metric = m), "vec_id", "embedding")
      Seq[(String, DataFrame => DataFrame)](
        "ivf-pq" -> (pq.search(_, 10, nProbes = 3)),
        "ivf-pq PER_CLUSTER" -> (pqcl.search(_, 10, nProbes = 3)),
        "scann" -> (scann.search(_, 10, nProbes = 4))).foreach { case (kind, search) =>
        val (local, dist) = bothRoutes(search(queries))
        assert(local.length > 0, s"$kind ${m.name}")
        assert(local.sameElements(dist), s"$kind ${m.name}: kernel and join routes differ")
      }
    }
  }

  test("kernels over a driver-held query frame: job-free gate == join route, row for row") {
    import spark.implicits._
    val localQ = queries.as[(Long, Array[Float])].collect().toSeq.toDF("qid", "qvec")
    assert(graft.core.Frames.isLocal(localQ))
    val p = graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5)
    val flat = graft.index.IvfFlatIndex.build(embV, p, "vec_id", "embedding")
    val sq = graft.index.IvfSqIndex.build(embV, p, idCol = "vec_id", vecCol = "embedding",
      base = Some(flat))
    val rabitq = graft.index.IvfRabitqIndex.build(embV,
      graft.index.IvfRabitqIndex.Params(nLists = 8, nIters = 5), "vec_id", "embedding")
    val pqP = graft.index.IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8, pqBits = 6)
    val pq = graft.index.IvfPqIndex.build(embV, pqP, "vec_id", "embedding")
    val pqcl = graft.index.IvfPqIndex.buildPerCluster(embV, pqP.copy(pqBits = 5),
      "vec_id", "embedding")
    val scann = graft.index.ScannIndex.build(embV,
      graft.index.ScannIndex.Params(nLeaves = 8, nIters = 5, pqBits = 6), "vec_id", "embedding")
    Seq[(String, DataFrame => DataFrame)](
      "ivf" -> (flat.search(_, 10, nProbes = 3)),
      "ivf-sq" -> (sq.search(_, 10, nProbes = 3)),
      "rabitq" -> (rabitq.search(_, 20, nProbes = 3)),
      "ivf-pq" -> (pq.search(_, 10, nProbes = 3)),
      "ivf-pq PER_CLUSTER" -> (pqcl.search(_, 10, nProbes = 3)),
      "scann" -> (scann.search(_, 10, nProbes = 4))).foreach { case (kind, search) =>
      // the gate and the query collect read the driver-held rows: building
      // the kernel plan runs no job
      val jobs = jobsDuring(search(localQ))
      assert(jobs == 0, s"$kind: planning over a local query frame ran $jobs jobs")
      val (local, dist) = bothRoutes(search(localQ))
      assert(local.length > 0, kind)
      assert(local.sameElements(dist), s"$kind: kernel over a local frame != join route")
      // the parquet-backed frame of the same queries takes the probed gate
      // and must give the same rows
      assert(local.sameElements(bothRoutes(search(queries))._1), kind)
    }
  }

  test("every IVF layout's search drops a null qid on both routes, with the same rows") {
    import spark.implicits._
    val five = queries.as[(Long, Array[Float])].collect().take(5)
    val q = five.zipWithIndex.map { case ((id, v), i) => (Option(id).filter(_ => i > 0), v) }
      .toSeq.toDF("qid", "qvec")
    val p = graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5)
    val flat = graft.index.IvfFlatIndex.build(embV, p, "vec_id", "embedding")
    val sq = graft.index.IvfSqIndex.build(embV, p, idCol = "vec_id", vecCol = "embedding",
      base = Some(flat))
    val rabitq = Seq(1, 3).map(bits => graft.index.IvfRabitqIndex.build(embV,
      graft.index.IvfRabitqIndex.Params(nLists = 8, nIters = 5, bitsPerDim = bits),
      "vec_id", "embedding", base = Some(flat)))
    val pqP = graft.index.IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8, pqBits = 6)
    val pq = graft.index.IvfPqIndex.build(embV, pqP, "vec_id", "embedding", base = Some(flat))
    val pqcl = graft.index.IvfPqIndex.buildPerCluster(embV, pqP.copy(pqBits = 5),
      "vec_id", "embedding", base = Some(flat))
    val scann = graft.index.ScannIndex.build(embV,
      graft.index.ScannIndex.Params(nLeaves = 8, nIters = 5, pqBits = 6), "vec_id", "embedding")
    Seq[(String, DataFrame => DataFrame)](
      "ivf" -> (flat.search(_, 10, nProbes = 3)),
      "ivf-sq" -> (sq.search(_, 10, nProbes = 3)),
      "rabitq 1 bit" -> (rabitq(0).search(_, 10, nProbes = 3)),
      "rabitq 3 bits" -> (rabitq(1).search(_, 10, nProbes = 3)),
      "ivf-pq" -> (pq.search(_, 10, nProbes = 3)),
      "ivf-pq PER_CLUSTER" -> (pqcl.search(_, 10, nProbes = 3)),
      "scann" -> (scann.search(_, 10, nProbes = 4))).foreach { case (kind, search) =>
      val (local, dist) = bothRoutes(search(q))
      assert(local.length == 40, s"$kind: ${local.length} rows")
      assert(local.sameElements(dist), s"$kind: kernel and join routes differ")
      assert(!local.exists(_.startsWith("[null,")), s"$kind: a row under a null qid")
    }
  }

  test("embedding near-dup: ball-cover-pruned route == all-pairs range join") {
    import graft.text.Dedup
    val corpus = emb.unionByName(
      emb.select((col("id") + 10000).as("id"),
        org.apache.spark.sql.functions.transform(col("vec"), x => x * 1.001f).as("vec")))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("aid"), col("bid"), round(col("dist"), 6).as("d"))
      .collect().map(_.toString).sorted
    val pruned = rows(Dedup.embeddingNearDupPruned(corpus, 0.3, "id", "vec"))
    val cross = rows(graft.ops.PairwiseDistance.epsNeighborhood(
        corpus, corpus, 0.3, Metric.Cosine, "id", "vec", "id", "vec")
      .filter(col("aid") < col("bid")))
    assert(pruned.length > 0)
    assert(pruned.sameElements(cross))
  }

  test("jaccard pairs + minhash verify: posting kernel == inverted join") {
    val docs = spark.read.parquet(s"${SparkTestBase.sf0001}/documents.parquet")
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").as("id"), col("text"))
    val corpus = docs.unionByName(docs.select((col("id") + 5000).as("id"),
      expr("substr(text, 1, CAST(floor(length(text) * 4 / 5) AS INT))").as("text")))
    import graft.text.Dedup
    for (frac <- Seq(1.0, 0.2)) {
      val (local, dist) = bothRoutes {
        Dedup.jaccardPairs(corpus, "id", "text", n = 8, minJaccard = 0.3, maxDfFrac = frac)
          .select(col("a"), col("b"), round(col("jaccard"), 6).as("j"))
      }
      assert(local.length > 0, s"frac=$frac")
      assert(local.sameElements(dist), s"frac=$frac")
    }
    val (local, dist) = bothRoutes {
      Dedup.minhashLshPairs(corpus, "id", "text", n = 8, numHashes = 16,
          bandRows = 4, minJaccard = 0.3)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("j"))
    }
    assert(local.length > 0)
    assert(local.sameElements(dist))
  }

  test("vamana build: fused local kernel == exact-pool + prune joins, row for row") {
    import graft.graphops.Vamana
    val (local, dist) = bothRoutes {
      Vamana.build(emb, Vamana.Params(graphDegree = 8, visitedSize = 16, alpha = 1.2),
        "id", "vec")
        .select(col("src"), col("dst"), round(col("dist"), 9).as("d"), col("rank"))
    }
    assert(local.length > 0)
    assert(local.sameElements(dist))
  }

  test("cagra optimize: local detour kernel == triangle join, row for row") {
    val knn = AllNeighbors.exact(emb, 16, Metric.L2Sqrt, "id", "vec").localCheckpoint()
    val (local, dist) = bothRoutes {
      CagraOptimize.optimize(knn.select(col("src"), col("dst"), col("dist")), degree = 8)
        .select(col("src"), col("dst"), round(col("dist"), 9).as("d"), col("rank"))
    }
    assert(local.length > 0)
    assert(local.sameElements(dist))
  }

  test("cagra optimizeConnected: local kernel == prune+CC+Borůvka, row for row") {
    import spark.implicits._
    // two far-apart line clusters: the 16-NN graph is connected (cluster
    // size 12 < 17 forces cross edges), but a degree-3 prune keeps only
    // same-cluster edges — so the connectivity guarantee must re-bridge
    // via the contracted Borůvka on BOTH routes
    val pts = (0 until 12).map(i => (i.toLong, Array(i.toFloat, 0f))) ++
      (0 until 12).map(i => ((i + 12).toLong, Array(i.toFloat, 100f)))
    val df = spark.createDataFrame(pts).toDF("id", "vec")
    val knn = AllNeighbors.exact(df, 16, Metric.L2Sqrt, "id", "vec").localCheckpoint()
    val (local, dist) = bothRoutes {
      CagraOptimize.optimizeConnected(
        knn.select(col("src"), col("dst"), col("dist")), degree = 3)
        .select(col("src"), col("dst"), round(col("dist"), 9).as("d"), col("rank"))
    }
    assert(local.length > 0)
    assert(local.sameElements(dist))
    // the bridge path must actually have fired (a cross-cluster edge kept)
    assert(local.exists(_.contains("100.0")), "expected a ~dist-100 bridge edge")
    // and the single-component path (fixture graph, no bridges) too
    val knn2 = AllNeighbors.exact(emb, 16, Metric.L2Sqrt, "id", "vec").localCheckpoint()
    val (l2r, d2r) = bothRoutes {
      CagraOptimize.optimizeConnected(
        knn2.select(col("src"), col("dst"), col("dist")), degree = 4)
        .select(col("src"), col("dst"), round(col("dist"), 9).as("d"), col("rank"))
    }
    assert(l2r.length > 0)
    assert(l2r.sameElements(d2r))
  }

  test("recall: local intersect == distributed INTERSECT, duplicates and all") {
    import spark.implicits._
    import graft.core.Recall
    // duplicates on both sides (INTERSECT is set-semantics; vsExact's
    // denominator counts exact's rows WITH duplicates)
    val approx = Seq((1L, 2L), (1L, 2L), (1L, 3L), (9L, 9L)).toDF("qid", "nbr_id")
    val exact = Seq((1L, 2L), (1L, 4L), (1L, 4L), (5L, 5L)).toDF("qid", "nbr_id")
    def both[A](run: => A): (A, A) = {
      spark.conf.set("spark.graft.localKernel.enabled", "true")
      val l = run
      spark.conf.set("spark.graft.localKernel.enabled", "false")
      val d = try run finally spark.conf.set("spark.graft.localKernel.enabled", "true")
      (l, d)
    }
    val (ml, md) = both(Recall.matched(approx, exact))
    assert(ml == 1L && md == 1L)
    val (vl, vd) = both(Recall.vsExact(approx, exact))
    assert(vl == vd && vl == 1.0 / 4.0)
  }

  test("silhouette exact: broadcast kernel == pairwise join route") {
    import graft.stats.Silhouette
    val labeled = spark.read.parquet(s"${SparkTestBase.sf0001}/embeddings.parquet")
    val (local, dist) = bothRoutes {
      Silhouette.perPoint(labeled, Metric.L2Sqrt, "vec_id", "embedding", "label")
        .select(col("id"), col("label"), round(col("a"), 6).as("a"),
          round(col("b"), 6).as("b"), round(col("s"), 6).as("s"))
    }
    // routes sum the per-cluster means in different orders, so compare at
    // 6dp (the oracle compare granularity), not bit-for-bit
    assert(local.length > 0)
    assert(local.sameElements(dist))
  }

  test("sparse kNN: broadcast-queries kernel == inverted-index join") {
    import graft.ops.SparseKnn
    val docs = spark.read.parquet(s"${SparkTestBase.sf0001}/documents.parquet")
    import org.apache.spark.sql.functions.{array, lit}
    val vecs = docs.select(col("doc_id").as("id"),
      expr("transform(sequence(0, 9), i -> CAST((ascii(substr(text, i * 7 + 1, 1)) % 29) AS INT))").as("rawdims"),
      expr("transform(sequence(0, 9), i -> CAST(ascii(substr(text, i * 3 + 1, 1)) AS FLOAT))").as("rawvals"))
      .select(col("id"),
        expr("array_distinct(rawdims)").as("indices"),
        expr("slice(rawvals, 1, size(array_distinct(rawdims)))").as("values"))
    val q = vecs.filter(col("id") % 20 === 0)
      .select(col("id").as("qid"), col("indices").as("qindices"), col("values").as("qvalues"))
    for (metric <- Seq(Metric.L2, Metric.Cosine)) {
      val (local, dist) = bothRoutes {
        SparseKnn.knnJoin(vecs, q, 5, metric)
      }
      assert(local.length > 0, s"$metric")
      assert(local.sameElements(dist), s"$metric")
    }
  }
}
