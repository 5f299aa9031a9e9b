package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.core.Metric
import graft.index.{IvfFlatIndex, IvfPqIndex, LayoutFormat}
import graft.ops.BruteForceKnn
import graft.plans.{GraftIndexCatalog, KnnJoinPlan}
import graft.sources.SidecarIO
import graft.stream.{TieredIndex, TieredIngest}

/** Older on-disk shapes of saved layouts, made from current saves, and what
  * the tests that read them check. */
object OlderShapes {

  private def fs(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  def rename(spark: SparkSession, from: String, to: String): Unit =
    assert(fs(spark, from).rename(new org.apache.hadoop.fs.Path(from),
      new org.apache.hadoop.fs.Path(to)), s"rename $from -> $to")

  /** `meta` as written before format versions: the population only. */
  def unversioned(spark: SparkSession, live: String): Unit = {
    import spark.implicits._
    val n = SidecarIO.asLong(SidecarIO.readHead(spark, s"$live/meta").get("n_rows"))
    SidecarIO.write(spark, s"$live/meta", SidecarIO.rows(Seq(n), "n_rows"))
  }

  /** The tiered version `live` of the layout at `root` in the shape saved
    * before format versions: list-store directories `list_store/g_NNNNNN`
    * named by a `tiered_base/list_dirs` sidecar, a `tiered_meta` without
    * `list_dirs`, and an unversioned `meta`. */
  def storeDirShape(spark: SparkSession, root: String, live: String): Unit = {
    import spark.implicits._
    val m = SidecarIO.readHead(spark, s"$live/tiered_meta").get
    val gs = m("list_dirs").asInstanceOf[Seq[Any]].map(SidecarIO.asInt)
    val names = gs.map(g => f"list_store/g_$g%06d")
    gs.zip(names).foreach { case (g, n) => rename(spark, s"$root/list_store/g=$g", s"$root/$n") }
    SidecarIO.write(spark, s"$live/tiered_base/list_dirs", SidecarIO.rows(names, "dir"))
    SidecarIO.write(spark, s"$live/tiered_meta", SidecarIO.rows(
      Seq((SidecarIO.asLong(m("min_ann_rows")), m("metric").asInstanceOf[String],
        SidecarIO.asLong(m("delta_rows")), SidecarIO.asLong(m("curve_rows")))),
      "min_ann_rows", "metric", "delta_rows", "curve_rows"))
    unversioned(spark, live)
  }

  /** Every file under `dir` with its modification time. */
  def mtimes(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).map(f => f.getPath -> f.lastModified()).toMap
  }

  def explained(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)

  /** `body` fails, naming the upgrade step. */
  def refused(body: => Any): Unit = {
    val e = scala.util.Try(body).failed.get
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("LayoutFormat.upgrade"))), e)
  }

  /** The planner serves a kNN node over a layout in an older format by
    * the exact route, with the reason in `explain`. */
  def exactFallback(df: DataFrame): Unit = {
    val shown = explained(df)
    assert(shown.contains("ExactKnnJoin [") && shown.contains("LayoutFormat.upgrade") &&
      !shown.contains("IvfSearchExec"), shown)
  }
}

/** The layout format: every save replaces the layout at its path, writes
  * one file per list and a versioned `meta`; `LayoutFormat.upgrade`
  * rewrites an older tiered shape once; no older shape is named under
  * src/main outside LayoutFormat. */
class LayoutFormatSuite extends SparkFunSuite {
  import OlderShapes._

  private lazy val emb = spark.read.parquet(s"${SparkTestBase.sf0001}/embeddings.parquet")
  private lazy val q = emb.filter(col("vec_id") % 25 === 0)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec")).localCheckpoint()

  private def rows(lo: Int, hi: Int): DataFrame =
    emb.filter(col("vec_id") >= lo && col("vec_id") < hi)

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"layout_format_$tag").toString

  private def ranks(df: DataFrame): Seq[(Long, Long, Int)] =
    df.select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted

  private def exact(data: DataFrame) =
    ranks(BruteForceKnn.knnJoin(data, q, 10, Metric.L2, "vec_id", "embedding"))

  private def tiered(data: DataFrame, p: String): Unit =
    TieredIndex.build(data, IvfFlatIndex.Params(nLists = 8, nIters = 5),
      idCol = "vec_id", vecCol = "embedding").save(p)

  private def withData[T](data: DataFrame, layout: String, kCoarse: Int = 30)(
      body: DataFrame => T): T = {
    graft.plans.ResolveKnnJoin.ensureInstalled(spark)
    val dir = tmp("data")
    data.write.mode("overwrite").parquet(dir)
    GraftIndexCatalog.register(dir, layout, nProbes = 8, kCoarse = kCoarse)
    spark.conf.set("spark.graft.knnJoin.minIndexRows", "0")
    try body(spark.read.parquet(dir))
    finally {
      spark.conf.unset("spark.graft.knnJoin.minIndexRows")
      GraftIndexCatalog.unregister(dir)
    }
  }

  test("a save replaces the tiered layout at its path, versions and list store included, " +
      "and refuses the path it reads from") {
    val p = tmp("resave_tiered")
    tiered(rows(0, 150), p)
    TieredIngest.append(rows(150, 200), p, "vec_id", "embedding")
    TieredIndex.compactInPlace(spark, p)
    assert(TieredIndex.resolveLive(spark, p) == s"$p/v_000001")
    // a save over the layout it reads from is refused before anything goes
    assert(intercept[IllegalArgumentException](TieredIndex.load(spark, p).compact().save(p))
      .getMessage.contains("reads from there"))
    assert(TieredIndex.load(spark, p).base.lists.count() == 200L)
    tiered(rows(300, 400), p)
    assert(TieredIndex.resolveLive(spark, p) == p)
    val loaded = TieredIndex.load(spark, p)
    assert(loaded.base.lists.count() == 100L && loaded.delta.count() == 0L)
    assert(loaded.base.lists.filter(col("id") < 300).isEmpty)
    assert(ranks(loaded.search(q, 10, 8)) == exact(rows(300, 400)))
  }

  test("a save replaces a layout of another kind at its path") {
    val p = tmp("resave_kind")
    val flat = IvfFlatIndex.build(emb, IvfFlatIndex.Params(nLists = 8, nIters = 5),
      "vec_id", "embedding")
    flat.save(p)
    IvfPqIndex.build(emb, IvfPqIndex.Params(nLists = 8, nIters = 5, pqDim = 8),
      "vec_id", "embedding", base = Some(flat)).save(p)
    assert(!new java.io.File(p, "lists").exists(), "the IVF-Flat lists must be gone")
    assert(LayoutFormat.read(spark, p).map(_.layout).contains("ivf_pq"))
    assert(intercept[IllegalArgumentException](IvfFlatIndex.load(spark, p))
      .getMessage.contains("ivf_pq"))
    // a refine depth of the whole corpus: exact at full probes
    withData(emb, p, kCoarse = emb.count().toInt) { data =>
      val df = KnnJoinPlan.knnJoin(data, q, 10, Metric.L2, "vec_id", "embedding")
      assert(explained(df).contains(s"IvfSearchExec ivf_pq $p"), explained(df))
      assert(ranks(df) == exact(emb))
    }
  }

  test("a 64-list save of 4 unclustered partitions writes at most 64 data files, and " +
      "clustering a computed hash-partitioned build adds no shuffle") {
    val built = IvfFlatIndex.build(emb, IvfFlatIndex.Params(nLists = 64, nIters = 3),
      "vec_id", "embedding")
    def shuffles(p: SparkPlan): Int = p.collect {
      case _: ShuffleExchangeExec => 1
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
    }.sum
    // once the build's cached lists are computed, the planner sees their
    // partitioning by list_id and drops the save's clustering shuffle
    built.lists.count()
    assert(shuffles(built.lists.repartition(col("list_id")).queryExecution.executedPlan) == 0)
    val p = tmp("files")
    new IvfFlatIndex(built.centroids, built.lists.repartition(4), built.metric).save(p)
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else Seq(f).filter(_.getName.endsWith(".parquet"))
    val written = files(new java.io.File(p, "lists"))
    assert(written.nonEmpty && written.size <= 64, s"${written.size} data files")
    assert(IvfFlatIndex.load(spark, p).lists.count() == emb.count())
  }

  test("a tiered layout in the g_N store shape is refused until one upgrade rewrites it; " +
      "a second upgrade writes nothing") {
    val p = tmp("gdirs")
    tiered(rows(0, 300), p)
    TieredIngest.append(rows(300, 350), p, "vec_id", "embedding", batchId = 0L, scope = "ck")
    TieredIndex.compactInPlace(spark, p)
    TieredIngest.append(rows(350, 380), p, "vec_id", "embedding", batchId = 1L, scope = "ck")
    val v1 = TieredIndex.resolveLive(spark, p)
    val before = ranks(TieredIndex.load(spark, p).search(q, 10, 8))
    assert(before == exact(rows(0, 380)))
    storeDirShape(spark, p, v1)
    refused(TieredIndex.load(spark, p))
    refused(TieredIngest.append(rows(380, 390), p, "vec_id", "embedding",
      batchId = 2L, scope = "ck"))
    refused(TieredIndex.compactInPlace(spark, p))
    withData(rows(0, 380), p) { data =>
      val df = KnnJoinPlan.knnJoin(data, q, 10, Metric.L2, "vec_id", "embedding")
      exactFallback(df)
      assert(ranks(df) == before)
    }
    LayoutFormat.upgrade(spark, p)
    val v2 = TieredIndex.resolveLive(spark, p)
    assert(v2 == s"$p/v_000002")
    val upgraded = TieredIndex.load(spark, p)
    assert(upgraded.saved.map(_.dirs).contains(Seq(2)) && upgraded.knownDeltaRows.contains(0L))
    assert(upgraded.base.lists.count() == 380L)
    assert(ranks(upgraded.search(q, 10, 8)) == before)
    assert(new java.io.File(s"$p/list_store").list().toSet == Set("g=2"))
    val stamped = mtimes(p)
    Thread.sleep(20)
    LayoutFormat.upgrade(spark, p)
    assert(mtimes(p) == stamped, "a second upgrade must write nothing")
    // the committed batch ids survive: a replay of batch 1 lands nothing
    TieredIngest.append(rows(350, 380), p, "vec_id", "embedding", batchId = 1L, scope = "ck")
    assert(TieredIndex.load(spark, p).delta.count() == 0L)
    withData(rows(0, 380), p) { data =>
      val df = KnnJoinPlan.knnJoin(data, q, 10, Metric.L2, "vec_id", "embedding")
      assert(explained(df).contains(s"IvfSearchExec tiered $v2") &&
        explained(df).contains("dirs=1,"), explained(df))
      assert(ranks(df) == before)
    }
  }

  test("no older layout shape is named under src/main outside LayoutFormat") {
    // the pre-versioning swap, the lists before the list store, the
    // store's `g_NNNNNN` directories and the one-row-per-batch ledger
    val banned = Seq("compact_old", "tiered_base/lists", "\"batch_id\"")
      .map(java.util.regex.Pattern.quote) :+ raw"""["/]g_"""
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, "src/main/scala not found: run from the repository root")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val offenders = walk(root)
      .filter(f => f.getName.endsWith(".scala") && f.getName != "LayoutFormat.scala")
      .flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        banned.filter(_.r.findFirstIn(src).isDefined).map(b => s"$f: $b")
      }
    assert(offenders.isEmpty,
      s"older layout shapes are read by graft.index.LayoutFormat alone: ${offenders.mkString(", ")}")
  }
}
