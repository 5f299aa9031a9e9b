package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import graft.core.Metric
import graft.index.{IvfFlatIndex, IvfPqClusterIndex, IvfPqIndex, IvfRabitqIndex, IvfSqIndex,
  ScannIndex}
import graft.ops.BruteForceKnn
import graft.plans.{GraftExtensions, GraftIndexCatalog, GraftStrategy, IndexRoute, IvfSearchExec,
  KnnJoinPlan, RefineFinish}
import graft.stream.{TieredIndex, TieredIngest}

/** The IVF kNN-join route as one physical operator (IvfSearchExec), for
  * every IVF layout and the tiered one: the rows it returns are those of
  * the public search APIs run through their probe-join route (the local
  * kernel off, so the oracle shares no scan code with the operator) and of
  * brute force at full probes; planning runs no job and execution one job
  * per scan. */
class IvfSearchExecSuite extends SparkFunSuite {

  private lazy val dataPath = s"${SparkTestBase.sf0001}/embeddings.parquet"
  private lazy val emb = spark.read.parquet(dataPath)
  private lazy val qRows: Seq[(Long, Array[Float])] =
    emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").cast("long"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq

  private def localQ(rows: Seq[(Long, Array[Float])]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("qid", "qvec")
  }

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"ivfexec$tag").toString

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Layouts registered on `path` (explicit probes and depth), the
    * index-size gate off, for the body's duration. */
  private def withRegistered[T](path: String, layouts: (String, Int, Int)*)(body: => T): T = {
    graft.functions.SqlFunctions.register(spark)
    layouts.foreach { case (p, probes, depth) =>
      GraftIndexCatalog.register(path, p, nProbes = probes, kCoarse = depth)
    }
    try withConf("spark.graft.knnJoin.minIndexRows" -> "0")(body)
    finally GraftIndexCatalog.unregister(path)
  }

  /** The oracle's rows: the public APIs on their probe-join route. */
  private def joinRoute(df: => DataFrame): Seq[(Long, Long, Int, Double)] =
    withConf("spark.graft.localKernel.enabled" -> "false")(sorted(df))

  private def sorted(df: DataFrame): Seq[(Long, Long, Int, Double)] =
    df.select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
      .sortBy(r => (r._1, r._3, r._2))

  private def exec(df: DataFrame): Option[IvfSearchExec] =
    df.queryExecution.executedPlan.collectFirst { case e: IvfSearchExec => e }

  /** The node's rows, asserting that it planned as IvfSearchExec. */
  private def routed(data: DataFrame, q: DataFrame, k: Int, m: Metric): Seq[(Long, Long, Int, Double)] = {
    val df = KnnJoinPlan.knnJoin(data, q, k, m, "vec_id", "embedding")
    assert(exec(df).isDefined, s"expected IvfSearchExec:\n${df.queryExecution.executedPlan}")
    sorted(df)
  }

  private def directFinish(idx: IvfFlatIndex, q: DataFrame, k: Int, depth: Int, probes: Int,
      dist: Column => Column): DataFrame =
    BruteForceKnn.knnFromDistances(idx.search(q, depth, probes)
      .select(col("qid"), col("nbr_id").as("id"), dist(col("dist")).as("dist")), k)

  test("IVF-Flat: the rows of IvfFlatIndex.search, direct under L2 and L2Sqrt") {
    val p = tmp("flat")
    IvfFlatIndex.build(emb, IvfFlatIndex.Params(nLists = 8, nIters = 5),
      "vec_id", "embedding").save(p)
    val idx = IvfFlatIndex.load(spark, p)
    val q = localQ(qRows)
    withRegistered(dataPath, (p, 2, 30)) {
      assert(routed(emb, q, 10, Metric.L2) ==
        joinRoute(directFinish(idx, q, 10, 30, 2, identity)))
      assert(routed(emb, q, 10, Metric.L2Sqrt) ==
        joinRoute(directFinish(idx, q, 10, 30, 2, sqrt)))
    }
    // full probes: brute force
    withRegistered(dataPath, (p, 8, 30)) {
      for (m <- Seq(Metric.L2, Metric.L2Sqrt))
        assert(routed(emb, q, 10, m) == joinRoute(BruteForceKnn.knnJoin(emb, q, 10, m,
          "vec_id", "embedding")))
    }
  }

  test("IVF-PQ: the rows of IvfPqIndex.searchWithRefine for L2-, IP- and cosine-built layouts") {
    val q = localQ(qRows)
    for (m <- Seq(Metric.L2, Metric.InnerProduct, Metric.Cosine)) {
      val p = tmp(s"pq${m.name}")
      IvfPqIndex.build(emb, IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8, metric = m),
        "vec_id", "embedding").save(p)
      val idx = IvfPqIndex.load(spark, p)
      withRegistered(dataPath, (p, 2, 40)) {
        assert(routed(emb, q, 10, m) == joinRoute(idx.searchWithRefine(q, emb, 10,
          nProbes = 2, kCoarse = 40, idCol = "vec_id", vecCol = "embedding")), m.name)
      }
    }
  }

  test("tied distances and duplicate qids keep the join route's rows") {
    // every vector twice: each distance ties, broken by ascending id
    val dup = tmp("dupdata")
    emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.select((col("vec_id") + 1000).as("vec_id"), col("embedding")))
      .write.mode("overwrite").parquet(dup)
    val data = spark.read.parquet(dup)
    val n = data.count().toInt
    val (flat, pq) = (tmp("dupflat"), tmp("duppq"))
    IvfFlatIndex.build(data, IvfFlatIndex.Params(nLists = 8, nIters = 5),
      "vec_id", "embedding").save(flat)
    IvfPqIndex.build(data, IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8),
      "vec_id", "embedding").save(pq)
    // the same qid twice with one vector, and twice with two vectors
    val q = localQ(qRows ++ qRows.take(3) ++ qRows.take(2).zip(qRows.slice(5, 7)).map {
      case ((id, _), (_, v)) => (id, v)
    })
    val brute = joinRoute(BruteForceKnn.knnJoin(data, localQ(qRows), 10, Metric.L2,
      "vec_id", "embedding"))
    withRegistered(dup, (flat, 8, 30)) {
      assert(routed(data, localQ(qRows), 10, Metric.L2) == brute)
      assert(routed(data, q, 10, Metric.L2) == joinRoute(
        directFinish(IvfFlatIndex.load(spark, flat), q, 10, 30, 8, identity)))
    }
    withRegistered(dup, (pq, 8, n)) {
      assert(routed(data, localQ(qRows), 10, Metric.L2) == brute)
      assert(routed(data, q, 10, Metric.L2) == joinRoute(IvfPqIndex.load(spark, pq)
        .searchWithRefine(q, data, 10, nProbes = 8, kCoarse = n,
          idCol = "vec_id", vecCol = "embedding")))
    }
  }

  test("an empty query frame, k above the probed population, a parquet query frame") {
    val p = tmp("edge")
    IvfFlatIndex.build(emb, IvfFlatIndex.Params(nLists = 8, nIters = 5),
      "vec_id", "embedding").save(p)
    val idx = IvfFlatIndex.load(spark, p)
    withRegistered(dataPath, (p, 1, 0)) {
      assert(routed(emb, localQ(Seq.empty), 10, Metric.L2).isEmpty)
      // one probed list holds far fewer than k = 400 rows
      val q = localQ(qRows)
      val few = routed(emb, q, 400, Metric.L2)
      assert(few.groupBy(_._1).values.forall(_.size < 400))
      assert(few == joinRoute(directFinish(idx, q, 400, 800, 1, identity)))
      // a non-local query side is collected at planning, as the kernel route did
      val qPath = tmp("queries")
      q.write.mode("overwrite").parquet(qPath)
      assert(routed(emb, spark.read.parquet(qPath), 10, Metric.L2) ==
        routed(emb, q, 10, Metric.L2))
    }
  }

  /** Stages of the jobs started while `body` runs. */
  private def stagesDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.addAndGet(e.stageInfos.size)
    }
    val sc = spark.sparkContext
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  test("queries·depth past the LocalKernel entry budget keeps the join route; tasks' " +
      "buffers past it merge through a shuffle; the rows stay the same") {
    val (flat, pq) = (tmp("budgetflat"), tmp("budgetpq"))
    IvfFlatIndex.build(emb, IvfFlatIndex.Params(nLists = 8, nIters = 5),
      "vec_id", "embedding").save(flat)
    IvfPqIndex.build(emb, IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8),
      "vec_id", "embedding").save(pq)
    val q = localQ(qRows)
    val entries = qRows.size.toLong * 30
    for (p <- Seq(flat, pq)) withRegistered(dataPath, (p, 8, 30)) {
      def node(): DataFrame = KnnJoinPlan.knnJoin(emb, q, 10, Metric.L2, "vec_id", "embedding")
      val expected = routed(emb, q, 10, Metric.L2)
      val direct = node()
      val directStages = stagesDuring(direct.collect())
      withConf("spark.graft.localKernel.maxEdges" -> (entries - 1).toString) {
        val df = node()
        assert(exec(df).isEmpty, s"over budget, yet:\n${df.queryExecution.executedPlan}")
        assert(IndexRoute.routedThrough(df, p))
        assert(sorted(df) == expected)
      }
      withConf("spark.graft.localKernel.maxEdges" -> entries.toString) {
        val df = node()
        assert(exec(df).isDefined)
        assert(exec(df).get.lists.execute().getNumPartitions > 1)
        val stages = stagesDuring(df.collect())
        assert(stages > directStages, s"$stages stages, $directStages without the shuffle")
        assert(sorted(df) == expected)
      }
    }
  }

  test("null qids are dropped as the join route drops them; a null vector or element " +
      "keeps the DataFrame route") {
    val p = tmp("nulls")
    IvfPqIndex.build(emb, IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8),
      "vec_id", "embedding").save(p)
    val s = spark
    import s.implicits._
    val rows = qRows.take(5).map { case (id, v) => (Option(id), Option(v.map(Float.box))) }
    def node(f: Seq[(Option[Long], Option[Array[java.lang.Float]])]): DataFrame =
      KnnJoinPlan.knnJoin(emb, f.toDF("qid", "qvec"), 10, Metric.L2, "vec_id", "embedding")
    def rowsOf(d: DataFrame): Seq[String] = d.collect().map(_.toString).sorted.toSeq
    withRegistered(dataPath, (p, 2, 40)) {
      // the first query's qid is 0: its rows must not absorb a null qid's
      assert(rows.head._1.contains(0L))
      for (f <- Seq((None, rows.head._2) +: rows.tail,
          rows.head +: (None, rows(1)._2) +: rows.drop(2))) {
        val df = node(f)
        assert(exec(df).isDefined, s"${df.queryExecution.executedPlan}")
        val expected = withConf("spark.graft.localKernel.enabled" -> "false")(rowsOf(node(f)))
        assert(rowsOf(df) == expected)
        assert(rowsOf(df) == rowsOf(node(f.filter(_._1.isDefined))))
        // the library kernel route drops them too
        assert(rowsOf(IvfPqIndex.load(spark, p).searchWithRefine(f.toDF("qid", "qvec"), emb,
          10, nProbes = 2, kCoarse = 40, idCol = "vec_id", vecCol = "embedding")
          .select("qid", "nbr_id", "rank", "dist")) == expected)
      }
      for (f <- Seq((rows.head._1, None) +: rows.tail,
          (rows.head._1, rows.head._2.map(_.updated(3, null: java.lang.Float))) +: rows.tail)) {
        val df = node(f)
        assert(exec(df).isEmpty, s"${df.queryExecution.executedPlan}")
        assert(rowsOf(df) == rowsOf(BruteForceKnn.knnJoin(emb, f.toDF("qid", "qvec"), 10,
          Metric.L2, "vec_id", "embedding")))
      }
    }
  }

  test("a repeat SQL batch plans with no job, collects in one job per scan, explains " +
      "the decision and keeps the list scan a child") {
    val (flat, pq) = (tmp("sqlflat"), tmp("sqlpq"))
    val base = IvfFlatIndex.build(emb, IvfFlatIndex.Params(nLists = 8, nIters = 5),
      "vec_id", "embedding")
    base.save(flat)
    IvfPqIndex.build(emb, IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8),
      "vec_id", "embedding", base = Some(base)).save(pq)
    def batch(): DataFrame = {
      spark.read.parquet(dataPath).createOrReplaceTempView("ise_data")
      localQ(qRows).createOrReplaceTempView("ise_q")
      spark.sql("SELECT qid, nbr_id, rank, dist FROM knn_join('ise_data', 'ise_q', 10, " +
        "'l2', 'vec_id', 'embedding', 'qid', 'qvec')")
    }
    // the PQ layout prices below the flat one (narrower rows at equal probes)
    withRegistered(dataPath, (flat, 2, 30), (pq, 2, 30)) {
      batch().collect()
      val df = batch()
      assert(jobsDuring(df.queryExecution.executedPlan) == 0)
      val jobs = jobsDuring(df.collect())
      assert(jobs <= 3, s"IVF-PQ batch ran $jobs jobs")
      val e = exec(df).getOrElse(fail(s"no IvfSearchExec:\n${df.queryExecution.executedPlan}"))
      val shown = df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
      for (part <- Seq("IvfSearchExec ivf_pq", pq, "probes=2/8", "depth=30", "refine(l2)"))
        assert(shown.contains(part), s"explain lacks '$part':\n$shown")
      assert(IndexRoute.routedThrough(df, pq))
      assert(!IndexRoute.routedThrough(df, flat))
      assert(e.lists.collect { case f: FileSourceScanExec => f }.nonEmpty)
    }
    withRegistered(dataPath, (flat, 2, 30)) {
      batch().collect()
      val df = batch()
      df.queryExecution.executedPlan
      val jobs = jobsDuring(df.collect())
      assert(jobs <= 2, s"IVF-Flat batch ran $jobs jobs")
      assert(exec(df).exists(_.search.layout == "ivf"))
      assert(IndexRoute.routedThrough(df, flat))
    }
  }

  test("sessions set up only by GraftExtensions or only by SqlFunctions.register plan the node") {
    val p = tmp("sessions")
    IvfFlatIndex.build(emb, IvfFlatIndex.Params(nLists = 8, nIters = 5),
      "vec_id", "embedding").save(p)
    val expected = withRegistered(dataPath, (p, 2, 30))(routed(emb, localQ(qRows), 10, Metric.L2))
    def sqlBatch(s: org.apache.spark.sql.SparkSession): DataFrame = {
      import s.implicits._
      s.read.parquet(dataPath).createOrReplaceTempView("ise_s_data")
      qRows.toDF("qid", "qvec").createOrReplaceTempView("ise_s_q")
      s.conf.set("spark.graft.knnJoin.minIndexRows", "0")
      s.sql("SELECT qid, nbr_id, rank, dist FROM knn_join('ise_s_data', 'ise_s_q', 10, " +
        "'l2', 'vec_id', 'embedding', 'qid', 'qvec')")
    }
    GraftIndexCatalog.register(dataPath, p, nProbes = 2, kCoarse = 30)
    try {
      val viaExt = org.apache.spark.sql.SparkSession.builder()
        .withExtensions(new GraftExtensions).create()
      try {
        val df = sqlBatch(viaExt)
        assert(exec(df).isDefined, s"${df.queryExecution.executedPlan}")
        assert(sorted(df) == expected)
        assert(!viaExt.experimental.extraStrategies.contains(GraftStrategy),
          "the injected strategy must plan the node, not a runtime copy")
      } finally {
        org.apache.spark.sql.SparkSession.setActiveSession(spark)
        org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      }
      val viaRegister = spark.newSession()
      graft.functions.SqlFunctions.register(viaRegister)
      val df = sqlBatch(viaRegister)
      assert(exec(df).isDefined, s"${df.queryExecution.executedPlan}")
      assert(sorted(df) == expected)
    } finally GraftIndexCatalog.unregister(dataPath)
  }

  // ----------------------------------------- SQ, RaBitQ, PER_CLUSTER, ScaNN

  /** A saved layout of a kind the operator plans through a refine finish:
    * its layout name, the node metric it routes, and its library
    * searchWithRefine as (queries, k, nProbes, kCoarse) => rows. */
  private case class Coded(name: String, layout: String, path: String, metric: Metric,
      refine: (DataFrame, Int, Int, Int) => DataFrame)

  private def coded(name: String, layout: String, m: Metric)(
      build: String => (DataFrame, Int, Int, Int) => DataFrame): Coded = {
    val p = tmp(name.replaceAll("\\W", ""))
    Coded(name, layout, p, m, build(p))
  }

  private def refineOf(search: (DataFrame, DataFrame, Int, Int, Int, String, String) => DataFrame)
      : (DataFrame, Int, Int, Int) => DataFrame =
    (q, k, probes, kCoarse) => search(q, emb, k, probes, kCoarse, "vec_id", "embedding")

  private def codedLayouts: Seq[Coded] = {
    val p = IvfFlatIndex.Params(nLists = 8, nIters = 5)
    Seq(coded("sq", "ivf_sq", Metric.L2) { path =>
      IvfSqIndex.build(emb, p, idCol = "vec_id", vecCol = "embedding").save(path)
      refineOf(IvfSqIndex.load(spark, path).searchWithRefine(_, _, _, _, _, _, _))
    }) ++ Seq(1, 3).map(bits => coded(s"rabitq $bits", "rabitq", Metric.L2) { path =>
      IvfRabitqIndex.build(emb, IvfRabitqIndex.Params(nLists = 8, nIters = 5,
        bitsPerDim = bits), "vec_id", "embedding").save(path)
      refineOf(IvfRabitqIndex.load(spark, path).searchWithRefine(_, _, _, _, _, _, _))
    }) ++ Seq(Metric.L2, Metric.InnerProduct).flatMap(m => Seq(
      coded(s"pqcl ${m.name}", "ivf_pqcl", m) { path =>
        IvfPqIndex.buildPerCluster(emb, IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8,
          pqBits = 5, metric = m), "vec_id", "embedding").save(path)
        refineOf(IvfPqClusterIndex.load(spark, path).searchWithRefine(_, _, _, _, _, _, _))
      },
      coded(s"scann ${m.name}", "scann", m) { path =>
        ScannIndex.build(emb, ScannIndex.Params(nLeaves = 8, nIters = 5, pqBits = 6, metric = m),
          "vec_id", "embedding").save(path)
        refineOf(ScannIndex.load(spark, path).searchWithRefine(_, _, _, _, _, _, _))
      }))
  }

  test("SQ, RaBitQ, PER_CLUSTER and ScaNN: a SQL knn_join plans the operator with the rows " +
      "of searchWithRefine, of brute force at full probes, and no duplicate neighbour") {
    val q = localQ(qRows)
    val n = emb.count().toInt
    def sqlBatch(m: Metric): DataFrame = {
      spark.read.parquet(dataPath).createOrReplaceTempView("ise_c_data")
      q.createOrReplaceTempView("ise_c_q")
      spark.sql("SELECT qid, nbr_id, rank, dist FROM knn_join('ise_c_data', 'ise_c_q', 10, " +
        s"'${m.name}', 'vec_id', 'embedding', 'qid', 'qvec')")
    }
    for (c <- codedLayouts) {
      withRegistered(dataPath, (c.path, 2, 40)) {
        val expected = joinRoute(c.refine(q, 10, 2, 40))
        sqlBatch(c.metric).collect()
        val df = sqlBatch(c.metric)
        assert(jobsDuring(df.queryExecution.executedPlan) == 0, c.name)
        val jobs = jobsDuring(df.collect())
        assert(jobs <= 2, s"${c.name}: the batch ran $jobs jobs")
        val e = exec(df).getOrElse(fail(s"${c.name}: no IvfSearchExec:\n" +
          df.queryExecution.executedPlan))
        assert(e.search.layout == c.layout && e.search.finish == RefineFinish(c.metric), c.name)
        assert(e.search.copies == (if (c.layout == "scann") 2 else 1), c.name)
        for (part <- Seq(s"IvfSearchExec ${c.layout}", c.path, "probes=2/8", "depth=40"))
          assert(explained(df).contains(part), s"${c.name}: explain lacks '$part'")
        val got = sorted(df)
        assert(got == expected, c.name)
        assert(got.groupBy(_._1).values.forall(r => r.map(_._2).distinct.size == r.size),
          s"${c.name}: a qid holds a duplicate nbr_id")
        // one entry past the budget: the DataFrame route, the same rows
        withConf("spark.graft.localKernel.maxEdges" -> (qRows.size.toLong * 40 - 1).toString) {
          val f = sqlBatch(c.metric)
          assert(exec(f).isEmpty, s"${c.name} over budget, yet:\n${f.queryExecution.executedPlan}")
          assert(IndexRoute.routedThrough(f, c.path), c.name)
          assert(sorted(f) == expected, c.name)
        }
      }
      withRegistered(dataPath, (c.path, 8, n)) {
        assert(sorted(sqlBatch(c.metric)) == joinRoute(BruteForceKnn.knnJoin(emb, q, 10, c.metric,
          "vec_id", "embedding")), c.name)
      }
    }
  }

  // ------------------------------------------------------------------ tiered

  private lazy val baseRows = emb.filter(col("vec_id") % 5 =!= 0)
  private lazy val deltaRows = emb.filter(col("vec_id") % 5 === 0)

  /** A saved tiered layout: an IVF-Flat base built over `base`, then
    * `delta`, when given, appended through TieredIngest. */
  private def tiered(tag: String, base: DataFrame, delta: Option[DataFrame] = None,
      m: Metric = Metric.L2): String = {
    val p = tmp(tag)
    TieredIndex.build(base, IvfFlatIndex.Params(nLists = 8, nIters = 5, metric = m),
      idCol = "vec_id", vecCol = "embedding").save(p)
    delta.foreach(TieredIngest.append(_, p, "vec_id", "embedding"))
    p
  }

  private def node(q: DataFrame, m: Metric = Metric.L2): DataFrame =
    KnnJoinPlan.knnJoin(emb, q, 10, m, "vec_id", "embedding")

  private def explained(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)

  test("tiered: the rows of TieredIndex.search with a direct finish, and of brute force at " +
      "full probes, for L2-, IP- and cosine-built bases; explain shows the delta") {
    val q = localQ(qRows)
    for (m <- Seq(Metric.L2, Metric.InnerProduct, Metric.Cosine)) {
      val p = tiered(s"t${m.name}", baseRows, Some(deltaRows), m)
      val idx = TieredIndex.load(spark, p)
      val finishes: Seq[(Metric, Column => Column, String)] =
        if (m == Metric.L2) Seq((m, identity, "direct,"), (Metric.L2Sqrt, sqrt, "direct(sqrt)"))
        else Seq((m, identity, "direct,"))
      withRegistered(dataPath, (p, 2, 30)) {
        for ((nm, dist, shown) <- finishes) {
          val df = node(q, nm)
          val e = exec(df).getOrElse(fail(s"no IvfSearchExec:\n${df.queryExecution.executedPlan}"))
          assert(e.search.layout == "tiered" && e.search.deltaRows.contains(100L))
          for (part <- Seq("IvfSearchExec tiered", "probes=2/8", "depth=30", shown,
              "delta=100 rows"))
            assert(explained(df).contains(part), s"explain lacks '$part':\n${explained(df)}")
          assert(sorted(df) == joinRoute(BruteForceKnn.knnFromDistances(idx.search(q, 30, 2)
            .select(col("qid"), col("nbr_id").as("id"), dist(col("dist")).as("dist")), 10,
            Metric.isMinClose(m))), s"${m.name} base, ${nm.name} node")
        }
      }
      withRegistered(dataPath, (p, 8, 30)) {
        assert(routed(emb, q, 10, m) == joinRoute(BruteForceKnn.knnJoin(emb, q, 10, m,
          "vec_id", "embedding")), m.name)
      }
    }
  }

  test("tiered: a version-directory layout registered by its root takes the operator; a " +
      "repeat batch plans with no job and collects in one; an append is seen unregistered") {
    val p = tiered("versions", baseRows)
    TieredIndex.compactInPlace(spark, p)
    val live = TieredIndex.resolveLive(spark, p)
    assert(live != p, "compaction must commit a version directory")
    val q = localQ(qRows)
    def brute(data: DataFrame) =
      joinRoute(BruteForceKnn.knnJoin(data, q, 10, Metric.L2, "vec_id", "embedding"))
    withRegistered(dataPath, (p, 8, 30)) {
      // an empty delta adds no child to the list scan
      val empty = node(q)
      val e0 = exec(empty).getOrElse(fail(s"${empty.queryExecution.executedPlan}"))
      assert(e0.search.deltaRows.contains(0L) && e0.search.indexPath == live)
      assert(e0.lists.collect { case u: org.apache.spark.sql.execution.UnionExec => u }.isEmpty)
      assert(sorted(empty) == brute(baseRows))
      // appended under the live registration: the next rewrite scans it
      TieredIngest.append(deltaRows, p, "vec_id", "embedding")
      node(q).collect()
      val df = node(q)
      assert(jobsDuring(df.queryExecution.executedPlan) == 0)
      assert(jobsDuring(df.collect()) == 1)
      val e = exec(df).getOrElse(fail(s"${df.queryExecution.executedPlan}"))
      assert(e.search.deltaRows.contains(100L) && e.search.indexPath == live)
      assert(explained(df).contains(s"IvfSearchExec tiered $live"))
      assert(IndexRoute.routedThrough(df, p))
      assert(sorted(df) == brute(emb))
    }
  }

  test("tiered: queries·depth past the entry budget keeps the DataFrame route, and " +
      "directFinish off takes the refine finish, with the same rows") {
    val p = tiered("fallbacks", baseRows, Some(deltaRows))
    val q = localQ(qRows)
    withRegistered(dataPath, (p, 2, 30)) {
      val expected = routed(emb, q, 10, Metric.L2)
      withConf("spark.graft.localKernel.maxEdges" -> (qRows.size.toLong * 30 - 1).toString) {
        val df = node(q)
        assert(exec(df).isEmpty, s"over budget, yet:\n${df.queryExecution.executedPlan}")
        assert(IndexRoute.routedThrough(df, p))
        assert(sorted(df) == expected)
      }
      withConf("spark.graft.knnJoin.directFinish.enabled" -> "false") {
        val df = node(q)
        assert(exec(df).exists(_.search.finish == RefineFinish(Metric.L2)),
          s"${df.queryExecution.executedPlan}")
        assert(sorted(df) == expected)
      }
    }
  }

  test("tiered edge inputs: the operator and the DataFrame route give the same rows, or " +
      "both fail with the delta row's dimension") {
    val s = spark
    import s.implicits._
    val q = localQ(qRows)
    val v0 = qRows.head._2
    val sameBase = emb.filter(col("vec_id") % 5 === 1)
    val cases: Seq[(String, Option[DataFrame])] = Seq(
      "empty delta" -> None,
      "a null vector" -> Some(Seq[(Long, Array[Float])]((100000L, null), (100001L, v0))
        .toDF("vec_id", "embedding")),
      "ids in both tiers" -> Some(sameBase.select(col("vec_id"), col("embedding"))
        .unionByName(Seq((1L, v0)).toDF("vec_id", "embedding"))),
      "ties across the tiers" -> Some(sameBase.select((col("vec_id") + 100000).as("vec_id"),
        col("embedding"))))
    for ((name, delta) <- cases) {
      val p = tiered(name.replace(' ', '_'), baseRows, delta)
      withRegistered(dataPath, (p, 2, 30)) {
        val df = node(q)
        assert(exec(df).isDefined, s"$name: ${df.queryExecution.executedPlan}")
        val viaFrame = withConf("spark.graft.localKernel.enabled" -> "false") {
          val f = node(q)
          assert(exec(f).isEmpty && IndexRoute.routedThrough(f, p), name)
          sorted(f)
        }
        assert(sorted(df) == viaFrame, name)
      }
    }
    // a delta row of another dimension than the index
    val p = tiered("wrongdim", baseRows,
      Some(Seq((100000L, v0.take(63))).toDF("vec_id", "embedding")))
    def failure(df: => DataFrame): String = {
      val e = intercept[Exception](df.collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        .mkString(" / ")
    }
    withRegistered(dataPath, (p, 2, 30)) {
      val viaExec = failure {
        val df = node(q)
        assert(exec(df).isDefined)
        df
      }
      val viaFrame = withConf("spark.graft.localKernel.enabled" -> "false")(failure(node(q)))
      for (msg <- Seq(viaExec, viaFrame))
        assert(msg.contains("100000 has dimension 63"), msg)
    }
  }
}
