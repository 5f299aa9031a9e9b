package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Metric, Recall}
import graft.index.{DepthHint, IvfFlatIndex, IvfPqIndex, IvfRabitqIndex, IvfSqIndex,
  ScannIndex}
import graft.ops.BruteForceKnn
import graft.plans.ResolveKnnJoin
import graft.stream.TieredIndex

/** The build-time calibrations (`recall_curve`, `depth_meta`) measure from
  * one shared held-out ground truth and at most one search pass per
  * layout. These tests pin that the sidecars still hold exactly what the
  * per-point measurement wrote — kept here as the oracle: one exact
  * BruteForceKnn ground truth per measurement, one public
  * search/searchWithRefine per probe point — for every layout kind, on
  * both kernel routes, and that the sharing really saves the passes. */
class CurveMeasureSuite extends SparkFunSuite {

  private val nLists = 8
  private val k = 10

  /** Seeded 1200 x 16 Gaussian mixture whose components overlap, so the
    * curves climb over several probe points before saturating. */
  private lazy val data: DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new java.util.Random(11)
    val centers = Array.fill(12)(Array.fill(16)(rnd.nextGaussian().toFloat))
    (0 until 1200).map { i =>
      val c = centers(rnd.nextInt(centers.length))
      (i.toLong, c.map(x => (x + 1.2 * rnd.nextGaussian()).toFloat))
    }.toDF("id", "vec").localCheckpoint()
  }

  private def unitNormed(df: DataFrame): DataFrame =
    df.withColumn("vec", IvfFlatIndex.unitNormCol(col("vec")))

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"curve-$name").toString

  private def withLocalKernel[A](on: Boolean)(body: => A): A = {
    spark.conf.set("spark.graft.localKernel.enabled", on.toString)
    try body finally spark.conf.unset("spark.graft.localKernel.enabled")
  }

  // ------------------------------------------------------------ the oracle

  private def sample(corpus: DataFrame, n: Int): DataFrame =
    corpus.orderBy(xxhash64(col("id").cast("long"), lit(42L)), col("id")).limit(n)
      .select(col("id").cast("long").as("qid"), col("vec").as("qvec"))
      .localCheckpoint()

  /** Exact top-(kk+1) minus the query's own row, kk kept. */
  private def dropSelf(res: DataFrame, kk: Int): DataFrame = res
    .filter(col("nbr_id") =!= col("qid"))
    .withColumn("_rk", row_number().over(Window.partitionBy(col("qid")).orderBy(col("rank"))))
    .filter(col("_rk") <= kk)
    .select(col("qid"), col("nbr_id"))

  /** The per-point probe/recall measurement: (probes, recall, k, n_queries)
    * rows up to the first saturated point. */
  private def oracleCurve(corpus: DataFrame, metric: Metric,
      search: (DataFrame, Int, Int) => DataFrame): Seq[(Int, Double, Int, Long)] = {
    val kk = math.min(k.toLong, corpus.count() - 1).toInt
    val q = sample(corpus, 32)
    val exact = dropSelf(BruteForceKnn.knnJoin(corpus, q, kk + 1, metric), kk).localCheckpoint()
    val nQ = q.count()
    val denom = math.max(1L, exact.count())
    val points = Iterator.iterate(1)(_ * 2).takeWhile(_ < nLists).toSeq :+ nLists
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Int, Long)]
    val it = points.iterator
    var saturated = false
    while (it.hasNext && !saturated) {
      val p = it.next()
      val recall = Recall.matched(dropSelf(search(q, kk + 1, p), kk), exact).toDouble / denom
      out += ((p, recall, kk, nQ))
      saturated = recall >= 1.0
    }
    out.toSeq
  }

  /** The reorder-depth measurement: worst full-probe code rank of a true
    * top-k neighbour of the 32-query sample, capped at 4096. */
  private def oracleDepth(corpus: DataFrame, metric: Metric,
      search: (DataFrame, Int, Int) => DataFrame): Option[(Int, Int)] = {
    val cap = 4096
    val q = sample(corpus, 32)
    val exact = dropSelf(BruteForceKnn.knnJoin(corpus, q, k + 1, metric), k).localCheckpoint()
    val hit = search(q, cap, nLists).select(col("qid"), col("nbr_id"), col("rank"))
      .join(exact, Seq("qid", "nbr_id"))
      .agg(count(lit(1)), coalesce(max(col("rank")), lit(0))).head()
    Some((k, if (hit.getLong(0) < exact.count()) cap else hit.getInt(1)))
  }

  private def savedCurve(path: String): Seq[(Int, Double, Int, Long)] =
    spark.read.parquet(s"$path/recall_curve").orderBy("probes").collect().toSeq
      .map(r => (r.getAs[Int]("probes"), r.getAs[Double]("recall"), r.getAs[Int]("k"),
        r.getAs[Long]("n_queries")))

  private def assertCurve(what: String, path: String, expected: Seq[(Int, Double, Int, Long)]): Unit = {
    val got = savedCurve(path)
    assert(got == expected, s"$what: saved recall_curve $got, per-point measurement $expected")
    assert(expected.size > 1, s"$what: fixture should climb over several probe points")
  }

  // -------------------------------------------------------- equivalence

  private val routes = Seq(true, false)

  routes.foreach { lk =>
    val route = if (lk) "local-kernel route" else "join route"

    test(s"IVF-Flat and tiered curves equal the per-point measurement ($route)") {
      withLocalKernel(lk) {
        Seq(Metric.L2 -> data, Metric.InnerProduct -> data, Metric.Cosine -> unitNormed(data))
          .foreach { case (m, ds) =>
            val params = IvfFlatIndex.Params(nLists = nLists, nIters = 5, metric = m)
            val flat = IvfFlatIndex.build(ds, params)
            val p = tmp("flat")
            flat.save(p)
            assertCurve(s"flat ${m.name}", p,
              oracleCurve(flat.lists.select("id", "vec"), m, flat.search(_, _, _)))
            if (m != Metric.InnerProduct) {
              val tiered = TieredIndex.build(ds, params, minAnnRows = 1000)
              val tp = tmp("tiered")
              tiered.save(tp)
              assertCurve(s"tiered ${m.name}", tp,
                oracleCurve(tiered.base.lists.select("id", "vec"), m, tiered.base.search(_, _, _)))
            }
          }
      }
    }

    test(s"IVF-PQ curves and depth hints equal the per-point measurement ($route)") {
      withLocalKernel(lk) {
        val base = IvfFlatIndex.build(data, IvfFlatIndex.Params(nLists = nLists, nIters = 5))
        base.save(tmp("base"))
        val l2 = IvfPqIndex.Params(nLists = nLists, nIters = 5, pqDim = 4, pqBits = 6)
        val ip = l2.copy(metric = Metric.InnerProduct)
        val cos = l2.copy(metric = Metric.Cosine)
        // (what, metric, corpus the measurement ranks, index)
        val subspace = Seq(
          ("pq l2 shared base", Metric.L2, data, IvfPqIndex.build(data, l2, base = Some(base))),
          ("pq ip", Metric.InnerProduct, data, IvfPqIndex.build(data, ip)))
        subspace.foreach { case (what, m, ds, idx) =>
          val p = tmp("pq")
          idx.save(p)
          assert(DepthHint.load(spark, p) == oracleDepth(ds, m, idx.search(_, _, _)), what)
          val depth = ResolveKnnJoin.compressedDepth(k, idx.depthHint)
          assertCurve(what, p, oracleCurve(ds, m,
            idx.searchWithRefine(_, ds, _, _, depth, broadcastCandidates = true)))
        }
        val cluster = Seq(
          ("pqcl l2 shared base", Metric.L2, data,
            IvfPqIndex.buildPerCluster(data, l2, base = Some(base))),
          ("pqcl cosine", Metric.Cosine, unitNormed(data), IvfPqIndex.buildPerCluster(data, cos)))
        cluster.foreach { case (what, m, ds, idx) =>
          val p = tmp("pqcl")
          idx.save(p)
          assert(DepthHint.load(spark, p) == oracleDepth(ds, m, idx.search(_, _, _)), what)
          val depth = ResolveKnnJoin.compressedDepth(k, idx.depthHint)
          assertCurve(what, p, oracleCurve(ds, m,
            idx.searchWithRefine(_, ds, _, _, depth, broadcastCandidates = true)))
        }
      }
    }

    test(s"IVF-SQ, RaBitQ and ScaNN curves equal the per-point measurement ($route)") {
      withLocalKernel(lk) {
        val base = IvfFlatIndex.build(data, IvfFlatIndex.Params(nLists = nLists, nIters = 5))
        val heuristic = ResolveKnnJoin.compressedDepth(k, None)
        Seq(Metric.L2 -> Some(base), Metric.InnerProduct -> None).foreach { case (m, b) =>
          val sq = IvfSqIndex.build(data,
            IvfFlatIndex.Params(nLists = nLists, nIters = 5, metric = m), base = b)
          val p = tmp("sq")
          sq.save(p)
          assertCurve(s"sq ${m.name}", p, oracleCurve(data, m,
            sq.searchWithRefine(_, data, _, _, heuristic, broadcastCandidates = true)))
        }
        val rq = IvfRabitqIndex.build(data,
          IvfRabitqIndex.Params(nLists = nLists, nIters = 5, bitsPerDim = 2), base = Some(base))
        val rp = tmp("rabitq")
        rq.save(rp)
        assertCurve("rabitq l2", rp, oracleCurve(data, Metric.L2,
          rq.searchWithRefine(_, data, _, _, heuristic, broadcastCandidates = true)))
        Seq(Metric.L2 -> Some(base), Metric.InnerProduct -> None).foreach { case (m, b) =>
          val sc = ScannIndex.build(data, ScannIndex.Params(nLeaves = nLists, nIters = 5,
            pqDim = 4, pqBits = 4, metric = m), base = b)
          val p = tmp("scann")
          sc.save(p)
          assert(DepthHint.load(spark, p) == oracleDepth(data, m, sc.search(_, _, _)), m.name)
          val depth = ResolveKnnJoin.compressedDepth(k, sc.depthHint)
          assertCurve(s"scann ${m.name}", p, oracleCurve(data, m,
            sc.searchWithRefine(_, data, _, _, depth, broadcastCandidates = true)))
        }
      }
    }
  }

  // ------------------------------------------------------------ sampling

  test("an int-id and a long-id copy of one corpus write the same depth_meta and recall_curve") {
    val intIds = data.withColumn("id", col("id").cast("int"))
    val basePath = tmp("idbase")
    IvfFlatIndex.build(data, IvfFlatIndex.Params(nLists = nLists, nIters = 5)).save(basePath)
    val params = IvfPqIndex.Params(nLists = nLists, nIters = 5, pqDim = 4, pqBits = 6)
    // two loaded copies of one coarse quantizer: separate objects, so the
    // two builds share nothing but the corpus
    val saved = Seq(data, intIds).map { ds =>
      val p = tmp("idpq")
      IvfPqIndex.build(ds, params, base = Some(IvfFlatIndex.load(spark, basePath))).save(p)
      (DepthHint.load(spark, p), savedCurve(p))
    }
    assert(saved.head._1.isDefined)
    assert(saved.head == saved(1), s"long ids ${saved.head} vs int ids ${saved(1)}")
  }

  // ------------------------------------------------------------ job cost

  /** (SQL execution id, call site) of every job started while `body`
    * runs. A job Spark submits from a helper thread (adaptive query
    * stages, broadcasts) carries no engine frame itself, so it is charged
    * with the call site of the SQL execution it belongs to. */
  private def jobSites(body: => Unit): Seq[(Option[Long], String)] = {
    import org.apache.spark.scheduler._
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[(Option[Long], String)]()
    val sqlSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          sqlSites.put(s.executionId, s.details)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val own = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
        val exec = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        val sql = exec.flatMap(id => Option(sqlSites.get(id)))
        sites.add(exec -> (if (own.contains("graft.")) own else sql.fold(own)(_ + "\n" + own)))
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    scala.jdk.CollectionConverters.CollectionHasAsScala(sites).asScala.toSeq
  }

  test("one exact ground-truth scan serves a flat save and a PQ build and save over it") {
    val sites = jobSites {
      val flat = IvfFlatIndex.build(data, IvfFlatIndex.Params(nLists = nLists, nIters = 5))
      val pq = IvfPqIndex.build(data,
        IvfPqIndex.Params(nLists = nLists, nIters = 5, pqDim = 4, pqBits = 6), base = Some(flat))
      flat.save(tmp("share-flat"))
      pq.save(tmp("share-pq"))
    }
    // one exact pass = one query, whatever number of stages it runs in
    val exactPasses = sites.collect { case (Some(exec), site)
      if site.contains("CurveTruth$.exactTruth") => exec }.distinct
    assert(exactPasses.size == 1)
  }

  /** The curve's jobs: the sample, the truth's full-probe search (two
    * stages), the true neighbours' list lookup and the sidecar write. */
  test("the IVF-Flat curve adds at most 5 jobs to save") {
    val flat = IvfFlatIndex.build(data, IvfFlatIndex.Params(nLists = nLists, nIters = 5))
    flat.lists.count()
    spark.conf.set("spark.graft.index.recallCurve.enabled", "false")
    val without =
      try jobSites(flat.save(tmp("nocurve"))).size
      finally spark.conf.unset("spark.graft.index.recallCurve.enabled")
    val path = tmp("curve")
    val withCurve = jobSites(flat.save(path)).size
    assert(savedCurve(path).nonEmpty)
    assert(withCurve - without <= 5, s"save ran $withCurve jobs with the curve, $without without")
  }
}
