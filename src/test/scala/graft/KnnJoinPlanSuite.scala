package graft

import org.apache.spark.sql.functions._
import graft.core.Metric
import graft.ops.BruteForceKnn
import graft.plans.{KnnJoinPlan, ResolveKnnJoin}

/** The declarative KnnJoin Catalyst node: the optimizer rule must lower it
  * to the partial-top-k pipeline with results identical to the direct API,
  * and enclosing operators (filters/projections over the node) must keep
  * composing — the attribute re-aliasing contract. */
class KnnJoinPlanSuite extends SparkFunSuite {

  private lazy val emb = spark.read.parquet(s"${SparkTestBase.sf0001}/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id") % 50 === 0)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  private def ensureRule(): Unit =
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[ResolveKnnJoin]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ ResolveKnnJoin(spark)

  /** The index-route tests exercise the LOWERING, so the plan-time stats
    * gate (which would route the tiny fixture to brute force) is disabled
    * for their duration; the gate has its own routing-decision test. */
  private def withIndexGateOff[T](body: => T): T = {
    spark.conf.set("spark.graft.knnJoin.minIndexRows", "0")
    try body finally spark.conf.unset("spark.graft.knnJoin.minIndexRows")
  }

  test("declarative node lowers to the same rows as the direct API") {
    ensureRule()
    val declared = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2Sqrt,
      "vec_id", "embedding")
    val direct = BruteForceKnn.knnJoin(emb, queries, 10, Metric.L2Sqrt,
      "vec_id", "embedding")
      .select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
    assert(declared.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(declared).count() == 0)
  }

  test("operators compose over the node (filter + projection + agg)") {
    ensureRule()
    val out = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2Sqrt, "vec_id", "embedding")
      .filter(col("rank") <= 3)
      .groupBy(col("qid")).agg(count(lit(1)).as("n"), max(col("dist")).as("worst"))
    val rows = out.collect()
    assert(rows.length == queries.count())
    assert(rows.forall(_.getLong(1) == 3))
  }

  test("registered IVF layout reroutes the join through the index, exactly") {
    ensureRule()
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val idxPath = java.nio.file.Files.createTempDirectory("knnroute").toString
    val idx = graft.index.IvfFlatIndex.build(emb,
      graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5), "vec_id", "embedding")
    idx.save(idxPath)
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath, nProbes = 8, kCoarse = 30)
    try withIndexGateOff {
      val routed = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
      // full probes + refine == exact brute force, via the index route
      val direct = BruteForceKnn.knnJoin(emb, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
        .select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
      assert(routed.exceptAll(direct).count() == 0)
      assert(direct.exceptAll(routed).count() == 0)
      // the physical plan reads the saved index lists, not a cross join
      val physical = routed.queryExecution.executedPlan.toString
      assert(physical.contains("list_id"), s"expected index-route plan:\n$physical")
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
  }

  test("a filtered data child takes the WIDENED index route, exactly") {
    // the filtering_rate analog at the planner level: candidates are
    // generated from the index over the FULL population at a widened
    // reorder depth, then refine's inner join against the filtered frame
    // post-filters them — a disallowed id can never surface, and the
    // deny equi-join's depth bound (kCoarse + nDeny) keeps the result as
    // exact as the candidate set (exact at full probes)
    ensureRule()
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val idxPath = java.nio.file.Files.createTempDirectory("knnfiltroute").toString
    val idx = graft.index.IvfFlatIndex.build(emb,
      graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5), "vec_id", "embedding")
    idx.save(idxPath)
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath, nProbes = 8, kCoarse = 30)
    try withIndexGateOff {
      val filteredData = emb.filter(col("vec_id") % 3 =!= 0)
      val exact = BruteForceKnn.knnJoin(filteredData, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
        .select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
      // Column API: a plain Filter child — sampled-rate widening
      val viaNode = KnnJoinPlan.knnJoin(filteredData, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
      assert(graft.plans.IndexRoute.routedThrough(viaNode, idxPath),
        "filtered child should take the widened index route")
      assert(viaNode.collect().toSet == exact.collect().toSet,
        "widened filtered route must match the exact filtered result")
      // SQL filtered TVF: deny anti-join — count-bounded exact widening
      graft.functions.SqlFunctions.register(spark)
      emb.createOrReplaceTempView("kjf_emb")
      queries.createOrReplaceTempView("kjf_q")
      emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
        .createOrReplaceTempView("kjf_deny")
      val viaSql = spark.sql(
        "SELECT * FROM knn_join_filtered('kjf_emb', 'kjf_q', 'kjf_deny', 'deny', " +
          "10, 'l2sqrt', 'vec_id', 'embedding', 'qid', 'qvec')")
      assert(graft.plans.IndexRoute.routedThrough(viaSql, idxPath),
        "deny TVF should take the widened index route")
      assert(viaSql.collect().toSet == exact.collect().toSet,
        "widened deny route must match the exact filtered result")
      // conf opt-out restores the exact brute fallback
      spark.conf.set("spark.graft.knnJoin.filteredRoute.enabled", "false")
      try {
        val bruteBack = KnnJoinPlan.knnJoin(filteredData, queries, 10, Metric.L2Sqrt,
          "vec_id", "embedding")
        assert(!graft.plans.IndexRoute.routedThrough(bruteBack, idxPath))
        assert(bruteBack.collect().toSet == exact.collect().toSet)
      } finally spark.conf.unset("spark.graft.knnJoin.filteredRoute.enabled")
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
  }

  /** A registered IVF-Flat layout (8 lists, kCoarse 30) under a Column-API
    * filter passing about 2/3 of the rows: `body` gets the layout path
    * and a thunk that builds the filtered knn_join, so each call plans
    * under the session's settings at that moment. */
  private def withFilteredRoute(tag: String)(
      body: (String, () => org.apache.spark.sql.DataFrame) => Unit): Unit = {
    ensureRule()
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val idxPath = java.nio.file.Files.createTempDirectory(tag).toString
    graft.index.IvfFlatIndex.build(emb,
      graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5), "vec_id", "embedding")
      .save(idxPath)
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath, nProbes = 8, kCoarse = 30)
    try withIndexGateOff {
      body(idxPath, () => KnnJoinPlan.knnJoin(emb.filter(col("vec_id") % 3 =!= 0),
        queries, 10, Metric.L2Sqrt, "vec_id", "embedding"))
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
  }

  private def routedWith(key: String, value: String)(df: () => org.apache.spark.sql.DataFrame,
      idxPath: String): Boolean = {
    spark.conf.set(key, value)
    try graft.plans.IndexRoute.routedThrough(df(), idxPath)
    finally spark.conf.unset(key)
  }

  test("knnJoin.maxWidenedCoarse: a cap below the widened depth refuses the filtered route") {
    withFilteredRoute("knnwidencap") { (idxPath, filtered) =>
      // pass rate ~2/3 widens the registered depth 30 to ~45
      assert(routedWith("spark.graft.knnJoin.maxWidenedCoarse", "64")(filtered, idxPath))
      assert(!routedWith("spark.graft.knnJoin.maxWidenedCoarse", "30")(filtered, idxPath),
        "a widened depth past the cap must take the exact brute route")
    }
  }

  test("knnJoin.minFilterRate: the filtered route's choice flips at the rate floor") {
    withFilteredRoute("knnratefloor") { (idxPath, filtered) =>
      assert(routedWith("spark.graft.knnJoin.minFilterRate", "0.5")(filtered, idxPath))
      assert(!routedWith("spark.graft.knnJoin.minFilterRate", "0.9")(filtered, idxPath),
        "a pass rate below the floor must take the exact brute route")
    }
  }

  test("refine.maxBroadcastBytesPerQuery: candidates broadcast within the budget, not past it") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, ResolvedHint}
    def broadcastHints(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case j: Join => Seq(j.hint.leftHint, j.hint.rightHint).flatten
        case h: ResolvedHint => Seq(h.hints)
      }.flatten.count(_.strategy.contains(BROADCAST))
    withFilteredRoute("knnrefinebcast") { (idxPath, filtered) =>
      // the widened depth (~45) costs ~720 B of candidates per query
      val within = filtered()
      assert(graft.plans.IndexRoute.routedThrough(within, idxPath))
      val past = {
        spark.conf.set("spark.graft.refine.maxBroadcastBytesPerQuery", "16")
        try { val df = filtered(); df.queryExecution.optimizedPlan; df }
        finally spark.conf.unset("spark.graft.refine.maxBroadcastBytesPerQuery")
      }
      assert(graft.plans.IndexRoute.routedThrough(past, idxPath))
      assert(broadcastHints(within) == broadcastHints(past) + 1,
        s"the refine join should broadcast its candidates only within the budget:\n" +
          s"${within.queryExecution.optimizedPlan}\n---\n${past.queryExecution.optimizedPlan}")
      assert(within.collect().toSet == past.collect().toSet)
    }
  }

  test("a low-pass-rate filter engages the exact brute fallback, not the index") {
    // allow-mode with a tiny allow list: rate ~ 1% < minFilterRate —
    // widening can't cover it, so the route must refuse and the brute
    // pipeline (exact over the semi-joined frame) runs instead
    ensureRule()
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val idxPath = java.nio.file.Files.createTempDirectory("knnlowrate").toString
    graft.index.IvfFlatIndex.build(emb,
      graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5), "vec_id", "embedding")
      .save(idxPath)
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath, nProbes = 8, kCoarse = 30)
    try withIndexGateOff {
      graft.functions.SqlFunctions.register(spark)
      emb.createOrReplaceTempView("kjl_emb")
      queries.createOrReplaceTempView("kjl_q")
      emb.filter(col("vec_id") % 100 === 0).select(col("vec_id"))
        .createOrReplaceTempView("kjl_allow")
      val viaSql = spark.sql(
        "SELECT * FROM knn_join_filtered('kjl_emb', 'kjl_q', 'kjl_allow', 'allow', " +
          "5, 'l2sqrt', 'vec_id', 'embedding', 'qid', 'qvec')")
      assert(!graft.plans.IndexRoute.routedThrough(viaSql, idxPath),
        "a ~1% allow rate must refuse the index route")
      val allowed = emb.join(emb.filter(col("vec_id") % 100 === 0).select(col("vec_id")),
        Seq("vec_id"), "left_semi")
      val exact = BruteForceKnn.knnJoin(allowed, queries, 5, Metric.L2Sqrt,
        "vec_id", "embedding")
        .select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
      assert(viaSql.collect().toSet == exact.collect().toSet)
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
  }

  test("cost-based probe selection (nProbes = 0) picks a sound probe count") {
    ensureRule()
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val idxPath = java.nio.file.Files.createTempDirectory("knnauto").toString
    val idx = graft.index.IvfFlatIndex.build(emb,
      graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5), "vec_id", "embedding")
    idx.save(idxPath)
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath) // nProbes = 0 = auto
    try withIndexGateOff {
      val routed = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
      val exact = BruteForceKnn.knnJoin(emb, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding").select(col("qid"), col("nbr_id"))
      val matched = routed.select(col("qid"), col("nbr_id")).intersect(exact).count()
      val recall = matched.toDouble / exact.count()
      // fixture: nLists=8, auto fraction 0.5 -> 4 probes; recall must clear
      // the probe-fraction floor comfortably on the fixed fixture
      assert(routed.count() == queries.count() * 10)
      assert(recall >= 0.6, s"auto-probe recall $recall")
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
  }

  test("registered HNSW layout routes the join through beam search + refine") {
    ensureRule()
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val idxPath = java.nio.file.Files.createTempDirectory("knnhnsw").toString
    val e = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val base = graft.graphops.AllNeighbors.exact(e, 16, Metric.L2, "id", "vec")
    val idx = graft.index.Hnsw.fromGraph(base, e, graft.index.Hnsw.Params(m = 16), "id", "vec")
    graft.index.Hnsw.save(idx, idxPath)
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath, kCoarse = 40)
    try withIndexGateOff {
      val routed = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
      assert(routed.count() == queries.count() * 10)
      val exact = BruteForceKnn.knnJoin(emb, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding").select(col("qid"), col("nbr_id"))
      val recall = routed.select(col("qid"), col("nbr_id")).intersect(exact).count()
        .toDouble / exact.count()
      assert(recall >= 0.85, s"hnsw-route recall $recall")
      // refined distances are exact for whatever candidates survive
      val self = routed.filter(col("qid") === col("nbr_id"))
      assert(self.filter(col("dist") =!= 0.0).count() == 0)
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
  }

  test("unknown registered layout falls back to brute force, not a plan-time crash") {
    ensureRule()
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    // a directory that is no layout the resolver knows (no list table)
    val idxPath = java.nio.file.Files.createTempDirectory("knnunknown").toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(idxPath, "centroids"))
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath)
    try withIndexGateOff {
      val routed = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
      val direct = BruteForceKnn.knnJoin(emb, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
        .select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
      assert(routed.exceptAll(direct).count() == 0)
      assert(direct.exceptAll(routed).count() == 0)
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
  }

  /** Compressed-layout routes (the reference's recommended shapes for
    * large corpora, ivf_pq.hpp:47-205): at full probes with reorder
    * depth = n the refined result is exact regardless of code noise, so
    * the test pins the whole save→register→reroute→refine plumbing plus
    * the STRUCTURAL route detector on each layout family. */
  private def compressedRouteCase(tag: String,
      buildAndSave: String => Unit): Unit = {
    ensureRule()
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val idxPath = java.nio.file.Files.createTempDirectory(s"knn$tag").toString
    buildAndSave(idxPath)
    val n = emb.count().toInt
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath,
      nProbes = 8, kCoarse = n)
    try withIndexGateOff {
      val routed = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2,
        "vec_id", "embedding")
      assert(graft.plans.IndexRoute.routedThrough(routed, idxPath),
        s"$tag layout should route the join through the saved index")
      // the refine join's build side is the BOUNDED candidate list — a
      // sort-merge fallback here would shuffle-write the whole relation
      // on id at scale, erasing the probe-pruning win
      val physical = routed.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!physical.contains("SortMergeJoin"),
        s"$tag refine must broadcast the bounded candidate side:\n$physical")
      val direct = BruteForceKnn.knnJoin(emb, queries, 10, Metric.L2,
        "vec_id", "embedding")
        .select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
      assert(routed.exceptAll(direct).count() == 0)
      assert(direct.exceptAll(routed).count() == 0)
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
  }

  test("registered IVF-PQ layout reroutes through ADC candidates + refine") {
    compressedRouteCase("pq", p => graft.index.IvfPqIndex.build(emb,
      graft.index.IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8, pqBits = 8),
      "vec_id", "embedding").save(p))
  }

  test("registered IVF-PQ layout: a repeat local-frame batch plans with no job; " +
      "the loaded-layout memo follows register and the session") {
    ensureRule()
    import graft.index.IvfPqIndex
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val idxPath = java.nio.file.Files.createTempDirectory("knnpqmemo").toString
    def build(nLists: Int, seed: Long) = IvfPqIndex.build(emb,
      IvfPqIndex.Params(nLists = nLists, nIters = 5, pqDim = 8, pqBits = 8, seed = seed),
      "vec_id", "embedding")
    val qRows = queries.select(col("qid").cast("long"), col("qvec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    def batch(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      KnnJoinPlan.knnJoin(s.read.parquet(dataPath), qRows.toDF("qid", "qvec"), 10, Metric.L2,
        "vec_id", "embedding")
    }
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("qid").cast("long"), col("nbr_id").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the layout searched directly at the registration's probes and depth
    def direct(idx: IvfPqIndex) = pairs(idx.searchWithRefine(queries, emb, 10, nProbes = 1,
      kCoarse = 10, idCol = "vec_id", vecCol = "embedding"))
    build(8, 42).save(idxPath)
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath, nProbes = 1, kCoarse = 10)
    try withIndexGateOff {
      val first = batch(spark)
      first.queryExecution.executedPlan
      assert(graft.plans.IndexRoute.routedThrough(first, idxPath))
      val second = batch(spark)
      val jobs = jobsDuring(second.queryExecution.executedPlan)
      assert(jobs == 0, s"a repeat batch ran $jobs jobs at plan time")
      val rowsA = pairs(second)
      assert(rowsA == direct(IvfPqIndex.load(spark, idxPath)))

      // a different layout saved over the same path: register serves it
      val b = build(4, 7)
      b.save(idxPath)
      graft.plans.GraftIndexCatalog.register(dataPath, idxPath, nProbes = 1, kCoarse = 10)
      val rowsB = pairs(batch(spark))
      val fresh = IvfPqIndex.load(spark, idxPath)
      assert(fresh.centroids.k == 4)
      assert(rowsB == direct(fresh))
      assert(rowsB != rowsA, "the two layouts must answer differently for this check")

      // a second session plans with its own load, never the first's frames
      val s2 = spark.newSession()
      ResolveKnnJoin.ensureInstalled(s2)
      s2.conf.set("spark.graft.knnJoin.minIndexRows", "0")
      val rows2 = pairs(batch(s2))
      assert(rows2 == rowsB)
      // the batch left the memo holding s2's own load, and the next
      // batch in the first session replaces it with its own
      def memoOwner(s: org.apache.spark.sql.SparkSession) =
        graft.plans.GraftIndexCatalog.cachedLoad[IvfPqIndex](s, idxPath)(
          fail("no layout memoized for this session")).lists.sparkSession
      assert(memoOwner(s2) eq s2)
      assert(pairs(batch(spark)) == rowsB)
      assert(memoOwner(spark) eq spark)
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
  }

  test("registered IVF-SQ layout reroutes through decoded candidates + refine") {
    compressedRouteCase("sq", p => graft.index.IvfSqIndex.build(emb,
      graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5), idCol = "vec_id",
      vecCol = "embedding").save(p))
  }

  test("registered ScaNN layout reroutes through SOAR-coded candidates + refine") {
    compressedRouteCase("scann", p => graft.index.ScannIndex.build(emb,
      graft.index.ScannIndex.Params(nLeaves = 8, nIters = 3),
      "vec_id", "embedding").save(p))
  }

  test("an IP-BUILT PQ layout routes an InnerProduct join; an L2 build refuses it") {
    // ivf_pq.hpp:47-205: the reference builds IVF-PQ over the generic
    // metric enum. An IP-built layout (L2-clustered cells probed by max
    // dot — coarse_clustering_metric, ivf_pq_build.cuh:70-76 — IP-LUT
    // ADC) must route an IP node exactly (full probes + depth n); the SAME
    // node over an L2-BUILT layout must refuse — L2-residual candidate
    // ranking has no relation to dot products.
    ensureRule()
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val ipPath = java.nio.file.Files.createTempDirectory("knnpqip").toString
    graft.index.IvfPqIndex.build(emb,
      graft.index.IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8, pqBits = 8,
        metric = Metric.InnerProduct), "vec_id", "embedding").save(ipPath)
    val n = emb.count().toInt
    val exact = BruteForceKnn.knnJoin(emb, queries, 10, Metric.InnerProduct,
      "vec_id", "embedding")
      .select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
    graft.plans.GraftIndexCatalog.register(dataPath, ipPath, nProbes = 8, kCoarse = n)
    try withIndexGateOff {
      val routed = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.InnerProduct,
        "vec_id", "embedding")
      assert(graft.plans.IndexRoute.routedThrough(routed, ipPath),
        "IP-built PQ layout should route the IP join")
      assert(routed.exceptAll(exact).count() == 0 && exact.exceptAll(routed).count() == 0)
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
    val l2Path = java.nio.file.Files.createTempDirectory("knnpql2").toString
    graft.index.IvfPqIndex.build(emb,
      graft.index.IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8, pqBits = 8),
      "vec_id", "embedding").save(l2Path)
    graft.plans.GraftIndexCatalog.register(dataPath, l2Path, nProbes = 8, kCoarse = n)
    try withIndexGateOff {
      val refused = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.InnerProduct,
        "vec_id", "embedding")
      assert(!graft.plans.IndexRoute.routedThrough(refused, l2Path),
        "an IP node over an L2-built PQ layout must fall back to brute")
      assert(refused.exceptAll(exact).count() == 0 && exact.exceptAll(refused).count() == 0)
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
    // the PER_CLUSTER codebook mode routes IP the same way
    val clPath = java.nio.file.Files.createTempDirectory("knnpqclip").toString
    graft.index.IvfPqIndex.buildPerCluster(emb,
      graft.index.IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8, pqBits = 8,
        metric = Metric.InnerProduct), "vec_id", "embedding").save(clPath)
    graft.plans.GraftIndexCatalog.register(dataPath, clPath, nProbes = 8, kCoarse = n)
    try withIndexGateOff {
      val routedCl = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.InnerProduct,
        "vec_id", "embedding")
      assert(graft.plans.IndexRoute.routedThrough(routedCl, clPath),
        "IP-built PER_CLUSTER PQ layout should route the IP join")
      assert(routedCl.exceptAll(exact).count() == 0 &&
        exact.exceptAll(routedCl).count() == 0)
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
  }

  test("a COSINE-built PQ layout routes a cosine join; mismatched metrics refuse") {
    // the cosine arm of compressedScoreMetric: cosine = IP over the
    // unit-normalized vectors the build stored, exact cosine refine
    // against the raw relation — and the route stays metric-pinned: an
    // IP node over the cosine build (or the reverse, covered by the
    // refusal test below) falls back to exact brute.
    ensureRule()
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val cosPath = java.nio.file.Files.createTempDirectory("knnpqcosb").toString
    graft.index.IvfPqIndex.build(emb,
      graft.index.IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8, pqBits = 8,
        metric = Metric.Cosine), "vec_id", "embedding").save(cosPath)
    val n = emb.count().toInt
    val exact = BruteForceKnn.knnJoin(emb, queries, 10, Metric.Cosine,
      "vec_id", "embedding")
      .select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
    graft.plans.GraftIndexCatalog.register(dataPath, cosPath, nProbes = 8, kCoarse = n)
    try withIndexGateOff {
      val routed = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.Cosine,
        "vec_id", "embedding")
      assert(graft.plans.IndexRoute.routedThrough(routed, cosPath),
        "cosine-built PQ layout should route the cosine join")
      assert(routed.exceptAll(exact).count() == 0 && exact.exceptAll(routed).count() == 0)
      // an IP node over the cosine build must NOT ride the normalized
      // candidates: normalization changes the dot-product ranking
      val refused = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.InnerProduct,
        "vec_id", "embedding")
      assert(!graft.plans.IndexRoute.routedThrough(refused, cosPath),
        "an IP node over a cosine-built layout must fall back to brute")
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
  }

  test("a compressed layout refuses a non-L2 node metric (exact brute fallback)") {
    ensureRule()
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val idxPath = java.nio.file.Files.createTempDirectory("knnpqcos").toString
    graft.index.IvfPqIndex.build(emb,
      graft.index.IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8, pqBits = 8),
      "vec_id", "embedding").save(idxPath)
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath, nProbes = 8, kCoarse = 40)
    try withIndexGateOff {
      val routed = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.Cosine,
        "vec_id", "embedding")
      assert(!graft.plans.IndexRoute.routedThrough(routed, idxPath),
        "ADC candidates are L2-family only; cosine must fall back to brute")
      val direct = BruteForceKnn.knnJoin(emb, queries, 10, Metric.Cosine,
        "vec_id", "embedding")
        .select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
      assert(routed.exceptAll(direct).count() == 0)
      assert(direct.exceptAll(routed).count() == 0)
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
  }

  test("unregistering the index demotes the route — the earned bit flips") {
    ensureRule()
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val idxPath = java.nio.file.Files.createTempDirectory("knndemote").toString
    graft.index.IvfFlatIndex.build(emb,
      graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5), "vec_id", "embedding")
      .save(idxPath)
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath, nProbes = 8, kCoarse = 30)
    try withIndexGateOff {
      val routed = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
      assert(graft.plans.IndexRoute.routedThrough(routed, idxPath))
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
    // deliberate demotion: same query planned after unregister must NOT
    // earn the routed bit (this is what makes the gates' index_routed
    // column non-vacuous — a silent demotion hash-fails)
    withIndexGateOff {
      val demoted = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
      assert(!graft.plans.IndexRoute.routedThrough(demoted, idxPath))
    }
  }

  test("a registered scalar function plans through KnnJoinPlan as a custom metric") {
    // the CustomUDF metric (distance.hpp:66) from pure SQL: an unknown
    // metric name resolves against the session function registry and
    // lowers to the UDF-distance pipeline (min-close contract)
    ensureRule()
    graft.functions.SqlFunctions.register(spark)
    spark.udf.register("kjp_linf_sq",
      (a: Seq[Float], b: Seq[Float]) =>
        graft.core.Distance.linf(a.toArray, b.toArray))
    emb.createOrReplaceTempView("kju_emb")
    queries.createOrReplaceTempView("kju_q")
    val viaSql = spark.sql(
      "SELECT * FROM knn_join('kju_emb', 'kju_q', 5, 'kjp_linf_sq', " +
        "'vec_id', 'embedding', 'qid', 'qvec')")
    // must be the SAME logical node the Column API plans
    assert(viaSql.queryExecution.analyzed.collectFirst {
      case p: KnnJoinPlan => p }.exists(_.metricName == "udf:kjp_linf_sq"))
    val direct = BruteForceKnn.knnJoin(emb, queries, 5, Metric.Linf,
      "vec_id", "embedding")
      .select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
    assert(viaSql.collect().toSet == direct.collect().toSet,
      "UDF-metric rows must match the native metric they reimplement")
    // an unknown name that is ALSO no registered function fails loudly
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM knn_join('kju_emb', 'kju_q', 5, 'no_such_metric', " +
        "'vec_id', 'embedding', 'qid', 'qvec')").collect()
    }
    assert(e.getMessage.contains("no_such_metric"), s"unhelpful error: ${e.getMessage}")
  }

  test("a semi/anti join on a NON-id column refuses the widened route (exact brute)") {
    // the widening math counts dropped candidate IDS: one filter row per
    // dropped id. A join key other than the id column (e.g. a bucket of
    // ids) drops unboundedly many rows per filter row, so the route must
    // refuse and the exact brute pipeline run instead.
    ensureRule()
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val idxPath = java.nio.file.Files.createTempDirectory("knnnonid").toString
    graft.index.IvfFlatIndex.build(emb,
      graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5), "vec_id", "embedding")
      .save(idxPath)
    // deliberately corrupt-if-routed: 1 probe, kCoarse = k
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath, nProbes = 1, kCoarse = 10)
    try withIndexGateOff {
      // a derived bucket column; THREE deny rows cover ~30% of the rows —
      // the depth+nFilter bound would be wildly unsound here
      val bucketed = emb.withColumn("bucket", pmod(col("vec_id"), lit(10)))
      val denyBuckets = bucketed.filter(col("bucket") < 3)
        .select(col("bucket")).distinct()
      val filteredData = bucketed.join(denyBuckets, Seq("bucket"), "left_anti")
      val viaNode = KnnJoinPlan.knnJoin(filteredData, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
      assert(!graft.plans.IndexRoute.routedThrough(viaNode, idxPath),
        "non-id join key must refuse the widened index route")
      val exact = BruteForceKnn.knnJoin(emb.filter(col("vec_id") % 10 >= 3),
        queries, 10, Metric.L2Sqrt, "vec_id", "embedding")
        .select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
      assert(viaNode.collect().toSet == exact.collect().toSet)
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
  }

  test("computed columns aliased to id/vec names refuse the route; pure renames keep it") {
    // value identity, not name identity: the routes join the index's
    // real scan ids/vectors back against the data child, so a COMPUTED
    // column wearing the id's name (population-preserving, hence past
    // the row-count gate) must fall back to exact brute; a pure rename
    // changes nothing and keeps the route
    ensureRule()
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val idxPath = java.nio.file.Files.createTempDirectory("knnalias").toString
    graft.index.IvfFlatIndex.build(emb,
      graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5), "vec_id", "embedding")
      .save(idxPath)
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath, nProbes = 8, kCoarse = 30)
    try withIndexGateOff {
      // computed id: remapped values under the id's name
      val remapped = emb.select((col("vec_id") * 2).as("vec_id"), col("embedding"))
      val viaRemap = KnnJoinPlan.knnJoin(remapped, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
      assert(!graft.plans.IndexRoute.routedThrough(viaRemap, idxPath),
        "a computed id column must refuse the index route")
      val exactRemap = BruteForceKnn.knnJoin(remapped, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
        .select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
      assert(viaRemap.collect().toSet == exactRemap.collect().toSet)
      // pure rename: same values, new names — the route must survive
      val renamed = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val viaRename = KnnJoinPlan.knnJoin(renamed, queries, 10, Metric.L2Sqrt, "id", "vec")
      assert(graft.plans.IndexRoute.routedThrough(viaRename, idxPath),
        "a pure rename must keep the index route")
      val exact = BruteForceKnn.knnJoin(emb, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
        .select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
      assert(viaRename.collect().toSet == exact.collect().toSet)
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
  }

  test("a poisoned CACHED query frame demotes the route to exact brute, not a crash") {
    // Spark limitation: a cached frame whose source carries physical
    // ordering/partitioning metadata (spark.range) breaks
    // InMemoryRelation canonicalization once DeduplicateRelations
    // re-instances it — which the index routes' refine join does. The
    // rewrite must catch it and lower the exact brute pipeline instead
    // of surfacing "key not found: id#N".
    ensureRule()
    val dim = 8
    val cached = spark.range(0, 400).select(col("id"),
      array((0 until dim).map(j =>
        (pmod(xxhash64(col("id"), lit(j)), lit(97)).cast("double") / 97.0)
          .cast("float")): _*).as("vec"))
      .persist()
    cached.count()
    val q = cached.filter(col("id") % 20 === 0)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val dir = java.nio.file.Files.createTempDirectory("knnpoison").toString
    val dataPath = s"$dir/data.parquet"
    cached.write.mode("overwrite").parquet(dataPath)
    val fdata = spark.read.parquet(dataPath)
    val idxPath = s"$dir/idx"
    graft.index.IvfFlatIndex.build(fdata,
      graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 3), "id", "vec").save(idxPath)
    // a COMPRESSED layout must go through exact refine (its candidate
    // dists are estimates), and refine's join duplicates the cached
    // query subtree — the demotion case
    val pqPath = s"$dir/pqidx"
    graft.index.IvfPqIndex.build(fdata,
      graft.index.IvfPqIndex.Params(nLists = 8, nIters = 3, pqDim = 8, pqBits = 8),
      "id", "vec").save(pqPath)
    // the crash needs the distributed search route (the local kernel
    // collects the query side instead of self-joining it)
    spark.conf.set("spark.graft.localKernel.enabled", "false")
    try withIndexGateOff {
      val exact = BruteForceKnn.knnJoin(fdata, q, 10, Metric.L2, "id", "vec")
        .select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
      // the raw-vector layout's DIRECT finish uses each child once — no
      // re-instanced cached relation, so the route simply WORKS here
      graft.plans.GraftIndexCatalog.register(dataPath, idxPath, nProbes = 8, kCoarse = 30)
      val viaFlat = KnnJoinPlan.knnJoin(fdata, q, 10, Metric.L2, "id", "vec")
      assert(graft.plans.IndexRoute.routedThrough(viaFlat, idxPath),
        "the direct-finish flat route should survive a poisoned cached query frame")
      assert(viaFlat.collect().toSet == exact.collect().toSet)
      // the compressed layout's refine path hits the canonicalization
      // bug — it must DEMOTE to exact brute, never crash
      graft.plans.GraftIndexCatalog.register(dataPath, pqPath,
        nProbes = 8, kCoarse = 2000)
      val viaPq = KnnJoinPlan.knnJoin(fdata, q, 10, Metric.L2, "id", "vec")
      assert(viaPq.collect().toSet == exact.collect().toSet,
        "poisoned-cache fallback must still return the exact rows")
      assert(!graft.plans.IndexRoute.routedThrough(viaPq, pqPath),
        "the demotion must not claim the index route")
    } finally {
      spark.conf.unset("spark.graft.localKernel.enabled")
      graft.plans.GraftIndexCatalog.unregister(dataPath)
      cached.unpersist()
    }
  }

  test("auto-probes derive from the recall target: ~2% of a sqrt(n) index at 0.95") {
    import graft.plans.ResolveKnnJoin.autoProbes
    // the reference's default economics (20 probes / 1024 lists,
    // ivf_flat.hpp:28-81) on a measured curve of that shape: 0.95 must
    // land at or under ~2% of the lists
    val cv = Seq(1 -> 0.302, 2 -> 0.415, 4 -> 0.603, 8 -> 0.816, 16 -> 1.0)
    val p95 = autoProbes(0.95, nLists = 1024, nRows = 1000000L, kCoarse = 30, cv)
    assert(p95 >= 8 && p95 <= 20, s"0.95 target picked $p95 probes")
    // exact opt-in probes everything
    assert(autoProbes(1.0, 1024, 1000000L, 30, cv) == 1024)
    // coverage floor: expected scanned rows must cover 3x the reorder
    // depth even when the curve alone would probe less
    assert(autoProbes(0.5, 1024, 10000L, 30, cv) >= 10)
    // clamp to the list count on tiny indexes
    assert(autoProbes(0.99, 8, 500L, 30, cv) <= 8)
    // NO curve (pre-r13 layout): every list — exactness is the only
    // honest answer without a measurement; the fixture stand-in is retired
    assert(autoProbes(0.95, 1024, 1000000L, 30) == 1024)
    // a single-point curve is legitimate (save early-stops at saturation)
    // and inverts like any other — it must NOT be swapped for a fixture
    assert(autoProbes(0.95, 32, 2000L, 0, Seq(1 -> 1.0)) == 1)
    assert(autoProbes(0.95, 32, 2000L, 0, Seq(1 -> 1.0), Some(1280L)) == 1)
  }

  test("stats gate: a small relation bypasses its registered index; conf opt-out restores it") {
    ensureRule()
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val idxPath = java.nio.file.Files.createTempDirectory("knngate").toString
    graft.index.IvfFlatIndex.build(emb,
      graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5), "vec_id", "embedding")
      .save(idxPath)
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath, nProbes = 8, kCoarse = 30)
    try {
      // default minIndexRows (100k) >> fixture rows: the planner's stats
      // gate must choose brute force even though an index is registered
      val gated = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
      val direct = BruteForceKnn.knnJoin(emb, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
        .select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
      assert(gated.exceptAll(direct).count() == 0 && direct.exceptAll(gated).count() == 0)
      assert(!gated.queryExecution.executedPlan.toString.contains("list_id"),
        "stats gate should have routed the small relation to brute force")
      // threshold below the fixture size: the index route comes back
      spark.conf.set("spark.graft.knnJoin.minIndexRows", "1")
      try {
        val routed = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2Sqrt,
          "vec_id", "embedding")
        assert(routed.queryExecution.executedPlan.toString.contains("list_id"),
          "low threshold should restore the index route")
        assert(routed.count() == queries.count() * 10)
      } finally spark.conf.unset("spark.graft.knnJoin.minIndexRows")
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
  }

  test("plan shows the partial-top-k aggregate, not a raw cross join sort") {
    ensureRule()
    val physical = KnnJoinPlan.knnJoin(emb, queries, 5, Metric.L2, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(physical.contains("topk") || physical.contains("TopK") ||
      physical.contains("ObjectHashAggregate") || physical.contains("SortAggregate"),
      s"unexpected physical plan:\n$physical")
  }

  test("filtered TVF plans a BROADCAST anti join under the top-k, never sort-merge") {
    // the deny list is the classic small side; at 100 TB a sort-merge
    // anti join here would shuffle the whole data relation on id before
    // the kNN even starts
    ensureRule()
    graft.functions.SqlFunctions.register(spark)
    emb.createOrReplaceTempView("kjp_emb")
    queries.createOrReplaceTempView("kjp_q")
    emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
      .createOrReplaceTempView("kjp_deny")
    val df = spark.sql(
      "SELECT * FROM knn_join_filtered('kjp_emb', 'kjp_q', 'kjp_deny', 'deny', " +
        "5, 'l2sqrt', 'vec_id', 'embedding', 'qid', 'qvec')")
    df.queryExecution.executedPlan.execute().count() // settle AQE
    val physical = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(physical.contains("BroadcastHashJoin") && physical.contains("LeftAnti"),
      s"expected a broadcast anti join in:\n$physical")
    assert(!physical.contains("SortMergeJoin"),
      s"filter must not sort-merge the data relation:\n$physical")
    assert(!physical.contains("CartesianProduct"),
      s"no cartesian product allowed:\n$physical")
  }

  test("per-index measured recall curve: geometry drives the auto probe count") {
    // the ann_ivf_flat.cuh:102 per-config discipline: 0.95 must mean 0.95
    // on THIS index. An easy clustered 64-dim corpus saturates recall in
    // a probe or two; a uniform-random 256-dim corpus spreads true
    // neighbors across cells — the measured sidecar curves must differ,
    // and the auto inversion must probe the hard geometry much deeper.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val easy = (0 until 2000).map { i =>
      val c = i % 32
      (i.toLong, Array.tabulate(64)(j =>
        (if (j == 2 * c) 10f else 0f) + rnd.nextFloat() * 0.1f))
    }.toDF("id", "vec")
    val hard = (0 until 2000).map { i =>
      (i.toLong, Array.fill(256)(rnd.nextFloat()))
    }.toDF("id", "vec")
    val dirEasy = java.nio.file.Files.createTempDirectory("curve_easy").toString
    val dirHard = java.nio.file.Files.createTempDirectory("curve_hard").toString
    graft.index.IvfFlatIndex.build(easy,
      graft.index.IvfFlatIndex.Params(nLists = 32, nIters = 5), "id", "vec").save(dirEasy)
    graft.index.IvfFlatIndex.build(hard,
      graft.index.IvfFlatIndex.Params(nLists = 32, nIters = 5), "id", "vec").save(dirHard)
    val curveEasy = graft.index.IvfFlatIndex.loadRecallCurve(spark, dirEasy).get
    val curveHard = graft.index.IvfFlatIndex.loadRecallCurve(spark, dirHard).get
    // sanitized: probe-sorted, running-max monotone, within [0, 1]
    Seq(curveEasy, curveHard).foreach { cv =>
      assert(cv.map(_._1) == cv.map(_._1).sorted && cv.forall(p => p._2 >= 0 && p._2 <= 1))
      assert(cv.zip(cv.tail).forall { case ((_, a), (_, b)) => b >= a }, s"non-monotone $cv")
    }
    val pEasy = ResolveKnnJoin.autoProbes(0.95, 32, 2000L, 10, curveEasy)
    val pHard = ResolveKnnJoin.autoProbes(0.95, 32, 2000L, 10, curveHard)
    assert(pEasy < pHard, s"easy=$pEasy hard=$pHard (curves: $curveEasy / $curveHard)")
    assert(pHard >= 8, s"random 256-dim should need deep probing, got $pHard")
    // a target above the curve's best measurement probes every list
    assert(ResolveKnnJoin.autoProbes(curveHard.last._2 + 0.01, 32, 2000L, 10,
      curveHard) == 32)
  }

  test("Wilson bound: a point estimate AT the target over a small sample widens probes") {
    import graft.plans.ResolveKnnJoin.{autoProbes, wilsonLower}
    val curve = Seq(1 -> 0.60, 2 -> 0.80, 4 -> 0.95, 8 -> 0.99, 16 -> 1.0)
    // legacy sidecar (no sample size recorded): point-estimate inversion
    assert(autoProbes(0.95, 32, 2000L, 10, curve) == 4)
    // 32 queries × k=10 = 320 pairs: a 0.95 measured once is ±0.02-grade
    // noise at exactly the 0.95 decision point, so the statistical floor
    // picks the NEXT measured point whose bound clears the target
    val p320 = autoProbes(0.95, 32, 2000L, 10, curve,
      nSamples = Some(320L))
    assert(p320 == 8, s"expected the 0.99 point at n=320, got $p320")
    assert(wilsonLower(0.95, 320) < 0.95 && wilsonLower(0.99, 320) >= 0.95)
    // a saturated measurement still clears any reasonable target
    assert(wilsonLower(1.0, 320) >= 0.95)
    // with enough samples a point just above the target clears it directly
    val fat = Seq(1 -> 0.60, 2 -> 0.80, 4 -> 0.96, 8 -> 0.99, 16 -> 1.0)
    assert(autoProbes(0.95, 32, 2000L, 10, fat,
      nSamples = Some(100000L)) == 4)
    // a target no measured bound can back probes every list
    assert(autoProbes(0.999, 32, 2000L, 10, curve,
      nSamples = Some(320L)) == 32)
  }

  test("population sidecar: planning a registered layout runs no count job") {
    ensureRule()
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val idxPath = java.nio.file.Files.createTempDirectory("knnmeta").toString
    graft.index.IvfFlatIndex.build(emb,
      graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5), "vec_id", "embedding")
      .save(idxPath)
    assert(graft.index.IvfFlatIndex.loadMeta(spark, idxPath).contains(emb.count()))
    // nProbes = 0: auto mode needs the population — must come from the
    // meta sidecar, never a rewrite-time count() of the data relation
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath) // clears memos
    try withIndexGateOff {
      val routed = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
      assert(routed.count() == queries.count() * 10)
      // planned afresh over a driver-held query side: not one job
      val held = spark.createDataFrame(java.util.Arrays.asList(queries.collect(): _*),
        queries.schema)
      graft.plans.GraftIndexCatalog.register(dataPath, idxPath) // clears the memos
      assert(jobsDuring(KnnJoinPlan.knnJoin(emb, held, 10, Metric.L2Sqrt, "vec_id",
        "embedding").queryExecution.optimizedPlan) == 0,
        "planning with a meta sidecar must run no job")
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
    // a layout saved before its sidecar (no meta): refused by the loader,
    // served by the exact route until one upgrade counts its rows
    val legacy = java.nio.file.Files.createTempDirectory("knnmeta_legacy").toString
    spark.conf.set("spark.graft.index.recallCurve.enabled", "false")
    try {
      graft.index.IvfFlatIndex.build(emb,
        graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5), "vec_id", "embedding")
        .save(legacy)
      val metaDir = new java.io.File(legacy, "meta")
      metaDir.listFiles().foreach(_.delete()); metaDir.delete()
      OlderShapes.refused(graft.index.IvfFlatIndex.load(spark, legacy))
      val exact = BruteForceKnn.knnJoin(emb, queries, 10, Metric.L2Sqrt, "vec_id", "embedding")
        .select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
      def plan() = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2Sqrt, "vec_id", "embedding")
      graft.plans.GraftIndexCatalog.register(dataPath, legacy, nProbes = 8, kCoarse = 30)
      try withIndexGateOff {
        val routed = plan()
        OlderShapes.exactFallback(routed)
        assert(routed.exceptAll(exact).count() == 0 && exact.exceptAll(routed).count() == 0)
        graft.index.LayoutFormat.upgrade(spark, legacy)
        assert(graft.index.IvfFlatIndex.loadMeta(spark, legacy).contains(emb.count()))
        val stamped = OlderShapes.mtimes(legacy)
        graft.index.LayoutFormat.upgrade(spark, legacy)
        assert(OlderShapes.mtimes(legacy) == stamped, "a second upgrade must write nothing")
        graft.plans.GraftIndexCatalog.register(dataPath, legacy, nProbes = 8, kCoarse = 30)
        val upgraded = plan()
        assert(OlderShapes.explained(upgraded).contains(s"IvfSearchExec ivf $legacy"))
        assert(upgraded.exceptAll(exact).count() == 0 && exact.exceptAll(upgraded).count() == 0)
      } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
    } finally spark.conf.unset("spark.graft.index.recallCurve.enabled")
  }

  test("cost-based layout selection: the cheaper layout earns the route, order never decides") {
    // ≥2 layouts registered over ONE relation: the resolver picks by
    // expected bytes read (search_plan.cuh:113-133's per-query plan
    // factory at layout granularity), not by registration order
    ensureRule()
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val flatPath = java.nio.file.Files.createTempDirectory("knncost_flat").toString
    val pqPath = java.nio.file.Files.createTempDirectory("knncost_pq").toString
    graft.index.IvfFlatIndex.build(emb,
      graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5), "vec_id", "embedding")
      .save(flatPath)
    graft.index.IvfPqIndex.build(emb,
      graft.index.IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8, pqBits = 8),
      "vec_id", "embedding").save(pqPath)
    val n = emb.count().toInt
    val exact = BruteForceKnn.knnJoin(emb, queries, 10, Metric.L2Sqrt,
      "vec_id", "embedding")
      .select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
    // scenario A — the PQ entry must refine the FULL population
    // (kCoarse = n): reading n codes + n raw refine rows costs more than
    // the flat route's n raw rows, so FLAT must win in BOTH registration
    // orders, and either winner is exact at these settings
    for (order <- Seq(Seq(flatPath, pqPath), Seq(pqPath, flatPath))) {
      order.foreach { p =>
        if (p == flatPath)
          graft.plans.GraftIndexCatalog.register(dataPath, p, nProbes = 8, kCoarse = 30)
        else
          graft.plans.GraftIndexCatalog.register(dataPath, p, nProbes = 8, kCoarse = n)
      }
      try withIndexGateOff {
        val routed = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2Sqrt,
          "vec_id", "embedding")
        assert(graft.plans.IndexRoute.routedThrough(routed, flatPath),
          s"flat should win on cost (order: $order)")
        assert(!graft.plans.IndexRoute.routedThrough(routed, pqPath))
        assert(routed.exceptAll(exact).count() == 0 &&
          exact.exceptAll(routed).count() == 0)
      } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
    }
    // scenario B — a shallow PQ reorder depth (kCoarse = 60) reads ~n/8
    // codes + 60 refine rows, far under the flat route's n raw rows: PQ
    // must win in both orders; full probes keep its recall near-exact
    for (order <- Seq(Seq(flatPath, pqPath), Seq(pqPath, flatPath))) {
      order.foreach { p =>
        if (p == flatPath)
          graft.plans.GraftIndexCatalog.register(dataPath, p, nProbes = 8, kCoarse = 30)
        else
          graft.plans.GraftIndexCatalog.register(dataPath, p, nProbes = 8, kCoarse = 60)
      }
      try withIndexGateOff {
        val routed = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2Sqrt,
          "vec_id", "embedding")
        assert(graft.plans.IndexRoute.routedThrough(routed, pqPath),
          s"pq should win on cost (order: $order)")
        val hits = routed.select(col("qid"), col("nbr_id"))
          .intersect(exact.select(col("qid"), col("nbr_id"))).count()
        assert(hits >= exact.count() * 9 / 10,
          s"pq-routed recall too low: $hits of ${exact.count()}")
      } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
    }
    // an unroutable cheaper layout falls through: the PQ layout cannot
    // serve a COSINE node, so the flat layout must not be blocked by it
    // (flat refuses cosine too -> exact brute, but the fall-through must
    // not error); use an L2 node with a cosine... simpler: register ONLY
    // pq and ask cosine — brute fallback, then both and ask L2 — routed
    graft.plans.GraftIndexCatalog.register(dataPath, pqPath, nProbes = 8, kCoarse = 60)
    graft.plans.GraftIndexCatalog.register(dataPath, flatPath, nProbes = 8, kCoarse = 30)
    try withIndexGateOff {
      val cos = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.Cosine,
        "vec_id", "embedding")
      assert(!graft.plans.IndexRoute.routedThrough(cos, pqPath) &&
        !graft.plans.IndexRoute.routedThrough(cos, flatPath),
        "a cosine node over L2 layouts must fall back to exact brute")
      assert(cos.count() == queries.count() * 10)
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
  }

  test("hnsw cost bids with the route's REAL ef: a demanding ef_curve loses, a cheap one wins") {
    // layoutCost's hnsw arm must price the SAME ef_curve inversion the
    // route will then search with — a stale max(40, depth)·m price could
    // win the bid on 320 rows and then actually read ef=4000·m
    ensureRule()
    import spark.implicits._
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val flatPath = java.nio.file.Files.createTempDirectory("costef_ivf").toString
    val hnswPath = java.nio.file.Files.createTempDirectory("costef_hnsw").toString
    graft.index.IvfFlatIndex.build(emb,
      graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5), "vec_id", "embedding")
      .save(flatPath)
    val e = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val base = graft.graphops.AllNeighbors.exact(e, 16, Metric.L2, "id", "vec")
    // m = 8 keeps the cheap-curve price (40·8 = 320) under the flat
    // route's full-probe scan (n = 500) so direction 2 is decidable
    graft.index.Hnsw.save(
      graft.index.Hnsw.fromGraph(base, e, graft.index.Hnsw.Params(m = 8), "id", "vec"),
      hnswPath)
    val n = emb.count().toInt
    def setEfCurve(points: Seq[(Int, Double)]): Unit = {
      points.map { case (ef, r) => (ef, r, 32L, 10) }
        .toDF("probes", "recall", "n_queries", "k")
        .coalesce(1).write.mode("overwrite").parquet(s"$hnswPath/ef_curve")
      graft.plans.GraftIndexCatalog.invalidateStats()
    }
    val exact = BruteForceKnn.knnJoin(emb, queries, 10, Metric.L2Sqrt,
      "vec_id", "embedding")
      .select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
    // direction 1: the curve says the 0.95 target needs ef = 8n — the
    // aligned price (8n·m) dwarfs the flat route's n; ivf must win in
    // both orders, and full probes make the flat answer exact
    setEfCurve(Seq((40, 0.50), (8 * n, 1.0)))
    for (order <- Seq(Seq(flatPath, hnswPath), Seq(hnswPath, flatPath))) {
      order.foreach { p =>
        graft.plans.GraftIndexCatalog.register(dataPath, p, nProbes = 8,
          kCoarse = if (p == flatPath) 30 else 0)
      }
      try withIndexGateOff {
        val routed = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2Sqrt,
          "vec_id", "embedding")
        assert(graft.plans.IndexRoute.routedThrough(routed, flatPath),
          s"ivf should outbid a curve-demanding hnsw (order: $order)")
        assert(!graft.plans.IndexRoute.markerMatches(routed, hnswPath))
        assert(routed.exceptAll(exact).count() == 0 &&
          exact.exceptAll(routed).count() == 0)
      } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
    }
    // direction 2: the curve certifies the target at the ef0 floor —
    // price 40·8 = 320 < n = 500, hnsw must win in both orders and its
    // beam then searches with that same ef
    setEfCurve(Seq((40, 1.0)))
    for (order <- Seq(Seq(flatPath, hnswPath), Seq(hnswPath, flatPath))) {
      order.foreach { p =>
        graft.plans.GraftIndexCatalog.register(dataPath, p, nProbes = 8,
          kCoarse = if (p == flatPath) 30 else 0)
      }
      try withIndexGateOff {
        val routed = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2Sqrt,
          "vec_id", "embedding")
        val cp = routed.select(col("qid"), col("nbr_id")).localCheckpoint()
        assert(graft.plans.IndexRoute.markerMatches(routed, hnswPath),
          s"hnsw should win on the cheap measured curve (order: $order)")
        assert(!graft.plans.IndexRoute.routedThrough(routed, flatPath))
        val hits = cp.intersect(exact.select(col("qid"), col("nbr_id"))).count()
        assert(hits >= exact.count() * 6 / 10,
          s"hnsw-routed recall too low: $hits of ${exact.count()}")
      } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
    }
  }

  test("auto mode REFUSES a compressed layout whose measured curve can't reach the target") {
    // a code-compressed route can miss a recall floor even at full
    // probes (the reorder depth caps the candidates), so "probe
    // everything" is not an exactness fallback there: on geometry where
    // the layout's own refine-composed curve saturates below the target,
    // the auto route must refuse and serve the exact brute pipeline —
    // measured at 2M uniform-random 256-dim, the capped-depth route
    // returned recall 0.16 at 2.6x the brute cost
    ensureRule()
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val hardDir = java.nio.file.Files.createTempDirectory("knnhardrel").toString
    (0 until 2000).map { i => (i.toLong, Array.fill(256)(rnd.nextFloat())) }
      .toDF("id", "vec").write.mode("overwrite").parquet(hardDir)
    val hard = spark.read.parquet(hardDir)
    val hq = hard.filter(col("id") % 100 === 0)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val idxPath = java.nio.file.Files.createTempDirectory("knnhardpq").toString
    // depth hint off: the route falls back to the heuristic reorder depth
    // (40 of 2000 rows) — the depth-capped regime a 100x-bigger corpus
    // reaches with the hint on (at 2M the measurement itself caps at 4096)
    spark.conf.set("spark.graft.index.depthHint.enabled", "false")
    try graft.index.IvfPqIndex.build(hard,
      graft.index.IvfPqIndex.Params(nLists = 32, nIters = 5, pqDim = 8, pqBits = 8),
      "id", "vec").save(idxPath)
    finally spark.conf.unset("spark.graft.index.depthHint.enabled")
    val curve = graft.index.IvfFlatIndex.loadRecallCurve(spark, idxPath).get
    assume(curve.map(_._2).max < 0.95,
      s"fixture assumption: hard-geometry curve must saturate below target, got $curve")
    val exact = BruteForceKnn.knnJoin(hard, hq, 10, Metric.L2, "id", "vec")
      .select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
    // fully-auto registration: the floor is unreachable -> exact brute
    graft.plans.GraftIndexCatalog.register(hardDir, idxPath)
    try withIndexGateOff {
      val out = KnnJoinPlan.knnJoin(hard, hq, 10, Metric.L2, "id", "vec")
      assert(!graft.plans.IndexRoute.routedThrough(out, idxPath),
        "auto mode must refuse a floor-unreachable compressed layout")
      assert(out.exceptAll(exact).count() == 0 && exact.exceptAll(out).count() == 0,
        "the refusal must serve the exact brute result")
    } finally graft.plans.GraftIndexCatalog.unregister(hardDir)
    // an EXPLICIT registration keeps the user's call: route taken
    graft.plans.GraftIndexCatalog.register(hardDir, idxPath, nProbes = 32, kCoarse = 100)
    try withIndexGateOff {
      val out = KnnJoinPlan.knnJoin(hard, hq, 10, Metric.L2, "id", "vec")
      assert(graft.plans.IndexRoute.routedThrough(out, idxPath),
        "explicit probes must keep the compressed route")
    } finally graft.plans.GraftIndexCatalog.unregister(hardDir)
  }

  test("brute arm: an auto layout priced at or above the exact scan is declined") {
    // the cost model's missing fallback arm (knn_brute_force.cuh:353-501
    // prices the fused-vs-tiled fallback; search_plan.cuh:113-133): brute
    // reads the population once at raw width, so a FULLY-AUTO layout whose
    // expected read prices at or above that must not take the route. A
    // recall target of 1.0 makes the flat layout resolve to FULL probes
    // deterministically (autoProbes: targetRecall >= 1.0 -> every list),
    // pricing the route at exactly the population — the decline boundary.
    ensureRule()
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val idxPath = java.nio.file.Files.createTempDirectory("knnbrutearm").toString
    graft.index.IvfFlatIndex.build(emb,
      graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5), "vec_id", "embedding")
      .save(idxPath)
    val exact = BruteForceKnn.knnJoin(emb, queries, 10, Metric.L2Sqrt,
      "vec_id", "embedding")
      .select(col("qid").cast("long"), col("nbr_id").cast("long"),
        col("rank"), col("dist"))
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath) // fully auto
    try withIndexGateOff {
      spark.conf.set("spark.graft.knnJoin.targetRecall", "1.0")
      try {
        val out = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2Sqrt,
          "vec_id", "embedding")
        assert(!graft.plans.IndexRoute.routedThrough(out, idxPath),
          "a full-probe auto route prices at the population and must lose to brute")
        assert(out.exceptAll(exact).count() == 0 && exact.exceptAll(out).count() == 0,
          "the declined route must serve the exact brute result")
        // conf opt-out restores the pre-r17 index-if-routable behavior
        spark.conf.set("spark.graft.knnJoin.bruteArm.enabled", "false")
        try {
          val back = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2Sqrt,
            "vec_id", "embedding")
          assert(graft.plans.IndexRoute.routedThrough(back, idxPath),
            "bruteArm.enabled=false must restore the route")
        } finally spark.conf.unset("spark.graft.knnJoin.bruteArm.enabled")
      } finally spark.conf.unset("spark.graft.knnJoin.targetRecall")
      // pruned direction: a cheap target resolves to a probe fraction
      // well under 1 -> the route prices under brute and is KEPT
      spark.conf.set("spark.graft.knnJoin.targetRecall", "0.5")
      try {
        val routed = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2Sqrt,
          "vec_id", "embedding")
        assert(graft.plans.IndexRoute.routedThrough(routed, idxPath),
          "a probe-pruned auto route prices under brute and must keep the route")
        assert(routed.count() == queries.count() * 10)
      } finally spark.conf.unset("spark.graft.knnJoin.targetRecall")
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
    // an EXPLICIT full-probe registration keeps the user's call even
    // though it prices at the population — the floor rule's discipline
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath, nProbes = 8, kCoarse = 30)
    try withIndexGateOff {
      val out = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
      assert(graft.plans.IndexRoute.routedThrough(out, idxPath),
        "explicit probes must keep the route regardless of the brute price")
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
  }

  test("brute arm prices the FILTERED alternative: a low-rate filter's brute beats the route") {
    // a filtered query's brute alternative reads only rate x population,
    // so a fully-auto route must price its widened read under THAT: at a
    // pass rate below the route's probe fraction the filtered scan is the
    // cheaper exact plan and the route must decline, while a rate above
    // it keeps the route. The decision boundary is derived from the
    // layout's own measured curve so the test tracks the fixture.
    ensureRule()
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val idxPath = java.nio.file.Files.createTempDirectory("knnfiltarm").toString
    graft.index.IvfFlatIndex.build(emb,
      graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5), "vec_id", "embedding")
      .save(idxPath)
    // the 500-row fixture's Wilson-bounded curve cannot certify a fixed
    // high target at any pruned point (the small sample drags every bound
    // down and auto mode resolves to all 8 probes) — so derive the target
    // FROM the curve: just under the first measured point's bound, which
    // the inversion then certifies at probes = that point (pf = 1/8,
    // squarely between the two filter rates the boundary test uses)
    val (curve, nSamples) = graft.index.IvfFlatIndex
      .loadCurveWithN(spark, idxPath, "recall_curve").get
    val bounded = nSamples.filter(_ > 0)
      .map(n => curve.map { case (pr, r) =>
        (pr, graft.plans.ResolveKnnJoin.wilsonLower(r, n)) })
      .getOrElse(curve)
    val target = math.max(0.05, bounded.head._2 - 0.01)
    val probes = graft.plans.ResolveKnnJoin.autoProbes(target, 8,
      emb.count(), 20, curve, nSamples)
    val pf = probes / 8.0
    assume(pf > 0.11 && pf < 0.89,
      s"fixture assumption: mid-range probe fraction, got $probes/8")
    spark.conf.set("spark.graft.knnJoin.targetRecall", target.toString)
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath) // fully auto
    try withIndexGateOff {
      // pass rate ~0.1 < pf: the filtered brute scan is cheaper -> decline
      val lowRate = emb.filter(col("vec_id") % 10 === 0)
      val declined = KnnJoinPlan.knnJoin(lowRate, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
      assert(!graft.plans.IndexRoute.routedThrough(declined, idxPath),
        s"a pass rate below the probe fraction ($pf) must decline the route")
      val exactLow = BruteForceKnn.knnJoin(lowRate, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
        .select(col("qid").cast("long"), col("nbr_id").cast("long"),
          col("rank"), col("dist"))
      assert(declined.exceptAll(exactLow).count() == 0 &&
        exactLow.exceptAll(declined).count() == 0,
        "the declined filtered route must serve the exact filtered result")
      // pass rate ~0.9 > pf: the widened route reads less -> kept
      val highRate = emb.filter(col("vec_id") % 10 =!= 0)
      val routed = KnnJoinPlan.knnJoin(highRate, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
      assert(graft.plans.IndexRoute.routedThrough(routed, idxPath),
        s"a pass rate above the probe fraction ($pf) must keep the route")
    } finally {
      graft.plans.GraftIndexCatalog.unregister(dataPath)
      spark.conf.unset("spark.graft.knnJoin.targetRecall")
    }
    // explicit registrations keep the user's call on filtered shapes too
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath, nProbes = 8, kCoarse = 30)
    try withIndexGateOff {
      val lowRate = emb.filter(col("vec_id") % 10 === 0)
      val routed = KnnJoinPlan.knnJoin(lowRate, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
      assert(graft.plans.IndexRoute.routedThrough(routed, idxPath),
        "an explicit registration must keep the filtered route regardless of price")
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
  }

  test("two deny lists over one table memoize DISTINCT filter counts") {
    // the predicate-blind memo bug: a filter-side count keyed only by scan
    // paths would silently reuse the FIRST deny view's count for every
    // later view over the same table — a too-small nDeny under-widens the
    // claimed-exact deny branch. The key must carry the canonicalized
    // filter-side plan.
    ensureRule()
    graft.functions.SqlFunctions.register(spark)
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val idxPath = java.nio.file.Files.createTempDirectory("knndenykey").toString
    graft.index.IvfFlatIndex.build(emb,
      graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5), "vec_id", "embedding")
      .save(idxPath)
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath, nProbes = 8, kCoarse = 30)
    emb.createOrReplaceTempView("kjk_emb")
    queries.createOrReplaceTempView("kjk_q")
    try withIndexGateOff {
      def run(denyMod: Int, view: String): Unit = {
        emb.filter(col("vec_id") % denyMod === 0).select(col("vec_id"))
          .createOrReplaceTempView(view)
        val out = spark.sql(
          s"SELECT * FROM knn_join_filtered('kjk_emb', 'kjk_q', '$view', 'deny', " +
            "10, 'l2sqrt', 'vec_id', 'embedding', 'qid', 'qvec')")
        val exact = BruteForceKnn.knnJoinFiltered(emb, queries, 10, Metric.L2Sqrt,
          deny = Some(emb.filter(col("vec_id") % denyMod === 0).select(col("vec_id"))),
          idCol = "vec_id", vecCol = "embedding")
          .select(col("qid").cast("long"), col("nbr_id").cast("long"),
            col("rank"), col("dist"))
        assert(out.collect().toSet == exact.collect().toSet, s"deny %$denyMod mismatch")
      }
      run(50, "kjk_deny_small") // tiny deny list counted first
      run(2, "kjk_deny_big")    // then a big one over the SAME table
      val filterKeys = graft.plans.GraftIndexCatalog.statKeySnapshot
        .filter(_.startsWith("filter:"))
      assert(filterKeys.size == 2,
        s"each deny view must memoize under its own content key: $filterKeys")
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
  }

  test("a saved TIERED layout routes the join: pruned base ∪ exact delta, exactly") {
    // tiered_index.hpp:59-136: the streaming-ingest lifecycle as a
    // registerable layout. Base tier = 80% of the relation, delta = the
    // other 20% (NON-empty — the merge across tiers is the point); at
    // full probes both tiers carry exact distances, so the direct-finish
    // route must equal exact brute over the full table.
    ensureRule()
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val idxPath = java.nio.file.Files.createTempDirectory("knntiered").toString
    graft.stream.TieredIndex.build(emb.filter(col("vec_id") % 5 =!= 0),
        graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5),
        idCol = "vec_id", vecCol = "embedding")
      .extend(emb.filter(col("vec_id") % 5 === 0), "vec_id", "embedding")
      .save(idxPath)
    // population sidecar covers BOTH tiers; the base tier's measured
    // recall curve is copied to the top level for auto-probe mode
    assert(graft.index.IvfFlatIndex.loadMeta(spark, idxPath).contains(emb.count()))
    assert(graft.index.IvfFlatIndex.loadRecallCurve(spark, idxPath).isDefined)
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath, nProbes = 8, kCoarse = 30)
    try withIndexGateOff {
      val routed = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
      assert(graft.plans.IndexRoute.routedThrough(routed, idxPath),
        "tiered layout should route the join through the saved base tier")
      val direct = BruteForceKnn.knnJoin(emb, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
        .select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
      assert(routed.exceptAll(direct).count() == 0)
      assert(direct.exceptAll(routed).count() == 0)
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
    // an IN-PLACE compaction moves the live content into a version
    // directory under the same root; a registration of the ROOT must
    // resolve to it (entriesFor → TieredIndex.resolveLive) and the route
    // is still earned against the root path — prefix-matched markers and
    // scan paths
    graft.stream.TieredIndex.compactInPlace(spark, idxPath)
    assert(graft.stream.TieredIndex.resolveLive(spark, idxPath) != idxPath,
      "compaction must commit a version directory")
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath, nProbes = 8, kCoarse = 30)
    try withIndexGateOff {
      val routed = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
      assert(graft.plans.IndexRoute.routedThrough(routed, idxPath),
        "a version-directory tiered layout must route from its registered root")
      val direct = BruteForceKnn.knnJoin(emb, queries, 10, Metric.L2Sqrt,
        "vec_id", "embedding")
        .select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
      assert(routed.exceptAll(direct).count() == 0)
      assert(direct.exceptAll(routed).count() == 0)
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
  }

  test("measured ADC displacement calibrates the compressed reorder depth") {
    import graft.plans.ResolveKnnJoin.compressedDepth
    // legacy heuristic is the floor; the measured displacement widens past
    // it (plus a k margin). k <= measuredK keeps the FULL displacement —
    // the most-displaced measured neighbor can sit inside the smaller
    // top-k, so down-scaling would un-measure it; only k past the
    // measured range extrapolates
    assert(compressedDepth(10, None) == 40)
    assert(compressedDepth(10, Some((10, 25))) == 40)
    assert(compressedDepth(10, Some((10, 200))) == 210)
    assert(compressedDepth(5, Some((10, 200))) == 205)
    assert(compressedDepth(20, Some((10, 200))) == 420)
    // a PQ build measures the hint on its own data and save/load round-trips it
    val idxPath = java.nio.file.Files.createTempDirectory("knndepth").toString
    val built = graft.index.IvfPqIndex.build(emb,
      graft.index.IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8, pqBits = 8),
      "vec_id", "embedding")
    assert(built.depthHint.isDefined, "build should measure a depth hint by default")
    val (mk, disp) = built.depthHint.get
    assert(mk == 10 && disp >= 10, s"hint ($mk, $disp)")
    built.save(idxPath)
    assert(graft.index.IvfPqIndex.load(spark, idxPath).depthHint == built.depthHint)
    // the save also measures the layout's OWN refine-composed probe/recall
    // curve (sample size recorded for the Wilson inversion) — auto-probe
    // mode over a compressed layout no longer inverts the fixture
    val cv = graft.index.IvfFlatIndex.loadCurveWithN(spark, idxPath, "recall_curve")
    assert(cv.isDefined && cv.get._2.exists(_ > 0),
      s"PQ save should write a measured recall_curve with n_samples, got $cv")
  }

  test("HNSW ef/recall sidecar: measured at SAVE (never by fromGraph), drives auto ef") {
    val e = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val base = graft.graphops.AllNeighbors.exact(e, 16, Metric.L2, "id", "vec")
    val idx = graft.index.Hnsw.fromGraph(base, e,
      graft.index.Hnsw.Params(m = 16), "id", "vec")
    // the measurement's brute ground-truth pass is charged ONLY to save():
    // a transient hierarchy on a search path must never pay it (r13
    // regressed hnsw_search_recall 2.3x exactly by measuring here)
    assert(idx.efCurve.isEmpty, "fromGraph must not measure the ef curve")
    assert(idx.measureSource.isDefined, "fromGraph keeps the lazy data handle for save")
    val dir = java.nio.file.Files.createTempDirectory("hnswef").toString
    graft.index.Hnsw.save(idx, dir)
    val loaded = graft.index.Hnsw.load(spark, dir)
    val cv = loaded.efCurve.getOrElse(fail("save should measure and persist the curve"))
    // a prefix of the sweep points: the measurement early-stops once a
    // point saturates at 1.0 (deeper beams are redundant for inversion)
    assert(Seq(16, 32, 64, 128).startsWith(cv.map(_._1)) && cv.nonEmpty, s"points ${cv.map(_._1)}")
    assert(cv.forall { case (_, r) => r >= 0.0 && r <= 1.0 })
    // persisted, and sanitized monotone on load
    val lcv = loaded.efCurve.getOrElse(fail("ef_curve sidecar missing after save"))
    assert(lcv.zip(lcv.tail).forall { case ((_, a), (_, b)) => b >= a })
    // the (k, n_queries) sample size rides along — and SURVIVES a
    // load -> save round trip, so re-saving never downgrades the layout
    // from Wilson-bound inversion back to point-estimate
    assert(loaded.efCurveSample.exists { case (k, nQ) => k > 0 && nQ > 0 },
      s"ef_curve sample columns missing on load: ${loaded.efCurveSample}")
    val dir2 = java.nio.file.Files.createTempDirectory("hnswef2").toString
    graft.index.Hnsw.save(loaded, dir2)
    val reloaded = graft.index.Hnsw.load(spark, dir2)
    assert(reloaded.efCurveSample == loaded.efCurveSample,
      "re-save must carry the ef_curve sample columns verbatim")
    // a DEFAULT-depth registration (kCoarse = 0) inverts the sidecar: the
    // routed result must clear the session recall target on the fixture.
    // The brute arm is opted out — on a 500-row fixture an honest ef·m
    // price exceeds the population (the arm's own test pins that rule);
    // THIS test pins the ef inversion the route searches with.
    ensureRule()
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    graft.plans.GraftIndexCatalog.register(dataPath, dir)
    spark.conf.set("spark.graft.knnJoin.bruteArm.enabled", "false")
    try withIndexGateOff {
      val routed = KnnJoinPlan.knnJoin(emb, queries, 10, Metric.L2,
        "vec_id", "embedding")
      routed.count()
      assert(graft.plans.IndexRoute.markerMatches(routed, dir),
        "default-depth HNSW registration should still route")
      val exact = BruteForceKnn.knnJoin(emb, queries, 10, Metric.L2,
        "vec_id", "embedding").select(col("qid"), col("nbr_id"))
      val matched = routed.select(col("qid"), col("nbr_id")).intersect(exact).count()
      val recall = matched.toDouble / exact.count()
      assert(recall >= 0.9, s"auto-ef recall $recall")
    } finally {
      graft.plans.GraftIndexCatalog.unregister(dataPath)
      spark.conf.unset("spark.graft.knnJoin.bruteArm.enabled")
    }
  }

  test("route markers are per node: a mixed two-node frame earns no bit") {
    ensureRule()
    val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
    val idxPath = java.nio.file.Files.createTempDirectory("knnmarker").toString
    graft.index.IvfFlatIndex.build(emb,
      graft.index.IvfFlatIndex.Params(nLists = 8, nIters = 5), "vec_id", "embedding")
      .save(idxPath)
    graft.plans.GraftIndexCatalog.register(dataPath, idxPath, nProbes = 8, kCoarse = 30)
    try withIndexGateOff {
      // unregistered second source: same schema, NOT the registered path
      val other = emb.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        .localCheckpoint()
      val routedHalf = KnnJoinPlan.knnJoin(emb, queries, 5, Metric.L2Sqrt,
        "vec_id", "embedding")
      val bruteHalf = KnnJoinPlan.knnJoin(other, queries, 5, Metric.L2Sqrt,
        "vec_id", "embedding")
      val mixed = routedHalf.unionByName(bruteHalf)
      mixed.count() // plan + execute: both nodes rewrite
      assert(!graft.plans.IndexRoute.markerMatches(mixed, idxPath),
        "a frame whose second kNN node lowered to brute must not earn the bit")
      routedHalf.count()
      assert(graft.plans.IndexRoute.markerMatches(routedHalf, idxPath),
        "the single routed node still earns its own marker")
    } finally graft.plans.GraftIndexCatalog.unregister(dataPath)
  }
}
