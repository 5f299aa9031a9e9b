package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Metric
import graft.index.IvfFlatIndex
import graft.ops.BruteForceKnn
import graft.plans.{GraftIndexCatalog, IvfSearchExec, KnnJoinPlan}
import graft.sources.SidecarIO
import graft.stream.{TieredIndex, TieredIngest}

/** In-place tiered compaction as a fold: the delta's rows are written into
  * a new list-store directory and the next version's base tier reads the
  * previous directories plus it; the recall curve is copied until the
  * folded rows reach half of the population it was measured on; a ninth
  * directory rewrites the base into one; retention deletes only the
  * directories no retained version names. */
class TieredFoldSuite extends SparkFunSuite {

  private lazy val emb = spark.read.parquet(s"${SparkTestBase.sf0001}/embeddings.parquet")
  private lazy val q = emb.filter(col("vec_id") % 25 === 0)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec")).localCheckpoint()

  private def rows(lo: Int, hi: Int): DataFrame =
    emb.filter(col("vec_id") >= lo && col("vec_id") < hi)

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"tiered_fold_$tag").toString

  /** A tiered layout saved over rows [0, baseRows). */
  private def saved(tag: String, baseRows: Int, m: Metric = Metric.L2,
      minAnnRows: Long = 100000L): String = {
    val p = tmp(tag)
    TieredIndex.build(rows(0, baseRows), IvfFlatIndex.Params(nLists = 8, nIters = 5, metric = m),
      minAnnRows = minAnnRows, idCol = "vec_id", vecCol = "embedding").save(p)
    p
  }

  private def append(p: String, df: DataFrame): Unit =
    TieredIngest.append(df, p, "vec_id", "embedding")

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def sorted(df: DataFrame): Seq[(Long, Long, Int, Double)] =
    df.select(col("qid").cast("long"), col("nbr_id").cast("long"), col("rank"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
      .sortBy(r => (r._1, r._3, r._2))

  /** (qid, nbr_id, rank): what an index search and brute force share. */
  private def ranks(rows: Seq[(Long, Long, Int, Double)]) = rows.map(r => (r._1, r._2, r._3))

  private def search(p: String, probes: Int) =
    sorted(TieredIndex.load(spark, p).search(q, 10, probes))

  private def exact(data: DataFrame, m: Metric = Metric.L2) =
    ranks(sorted(BruteForceKnn.knnJoin(data, q, 10, m, "vec_id", "embedding")))

  private def listDirs(live: String): Seq[String] =
    SidecarIO.readHead(spark, s"$live/tiered_meta").get("list_dirs").asInstanceOf[Seq[Any]]
      .map(g => s"list_store/g=$g")

  private def storeDirs(p: String): Set[String] = {
    val root = new org.apache.hadoop.fs.Path(p, "list_store")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(root).map(st => s"list_store/${st.getPath.getName}").toSet
  }

  private def curve(dir: String): Set[Map[String, Any]] =
    SidecarIO.readRows(spark, s"$dir/recall_curve").get.toSet

  private def curveRows(live: String): Long =
    SidecarIO.asLong(SidecarIO.readHead(spark, s"$live/tiered_meta").get("curve_rows"))

  private def failure(body: => Unit): String = {
    val e = intercept[Exception](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      .mkString(" / ")
  }

  test("incremental and full compaction give the same lists, search rows and re-measured " +
      "curve under L2, InnerProduct and cosine") {
    for (m <- Seq(Metric.L2, Metric.InnerProduct, Metric.Cosine)) {
      val p = saved(s"same_${m.name}", 300, m)
      append(p, rows(300, 400))
      TieredIndex.compactInPlace(spark, p)
      append(p, rows(400, 500))
      // the full path over the same version: every list rewritten, curve measured
      val full = tmp(s"full_${m.name}")
      TieredIndex.load(spark, p).compact().save(full)
      TieredIndex.compactInPlace(spark, p)
      val live = TieredIndex.resolveLive(spark, p)
      assert(listDirs(live).size == 3, m.name)
      def members(dir: String) = TieredIndex.load(spark, dir).base.lists
        .select(col("list_id"), col("id")).collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      assert(members(p) == members(full), m.name)
      for (probes <- Seq(1, 3, 8))
        assert(search(p, probes) == search(full, probes), s"${m.name}, $probes probes")
      assert(ranks(search(p, 8)) == exact(emb, m), m.name)
      // 200 of the 300 rows the curve was measured on were folded: re-measured
      assert(curveRows(live) == 500L, m.name)
      assert(curve(s"$live/tiered_base") == curve(s"$full/tiered_base"), m.name)
      assert(curve(live) == curve(full), m.name)
    }
  }

  test("the curve is copied below half of its population and re-measured at half; " +
      "explain shows the directories and the curve's population; loads and repeat " +
      "batches run no job") {
    val p = saved("share", 200)
    val savedCurve = curve(p)
    append(p, rows(200, 260))
    TieredIndex.compactInPlace(spark, p)
    val v1 = TieredIndex.resolveLive(spark, p)
    // 60 folded rows, 30% of 200: copied
    assert(curveRows(v1) == 200L)
    assert(curve(s"$v1/tiered_base") == savedCurve && curve(v1) == savedCurve)
    append(p, rows(260, 300))
    val full = tmp("share_full")
    TieredIndex.load(spark, p).compact().save(full)
    TieredIndex.compactInPlace(spark, p)
    val v2 = TieredIndex.resolveLive(spark, p)
    // 100 folded rows since the curve was measured, exactly half: re-measured
    assert(curveRows(v2) == 300L)
    assert(curve(v2) == curve(full) && curve(v2) != savedCurve)
    var loaded: TieredIndex = null
    assert(jobsDuring { loaded = TieredIndex.load(spark, p) } == 0)
    assert(loaded.base.lists.count() == 300L)

    val data = tmp("share_data")
    rows(0, 300).write.mode("overwrite").parquet(data)
    val relation = spark.read.parquet(data)
    graft.functions.SqlFunctions.register(spark)
    GraftIndexCatalog.register(data, p, nProbes = 8, kCoarse = 30)
    // a driver-held query side, which the planner reads with no job
    val s = spark
    import s.implicits._
    val held = q.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      .toDF("qid", "qvec")
    try withConf("spark.graft.knnJoin.minIndexRows" -> "0") {
      def node() = KnnJoinPlan.knnJoin(relation, held, 10, Metric.L2, "vec_id", "embedding")
      node().collect()
      val df = node()
      assert(jobsDuring(df.queryExecution.executedPlan) == 0)
      assert(df.queryExecution.executedPlan.collectFirst { case e: IvfSearchExec => e }.isDefined,
        s"${df.queryExecution.executedPlan}")
      val shown = df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
      assert(shown.contains(s"IvfSearchExec tiered $v2") &&
        shown.contains("delta=0 rows, dirs=3, curve@300 ["), shown)
      assert(ranks(sorted(df)) == exact(relation))
    } finally GraftIndexCatalog.unregister(data)
  }

  test("a fold that would leave nine list directories rewrites the base into one; " +
      "retention deletes the old directories one interval later") {
    val p = saved("rewrite", 400, minAnnRows = 1L)
    // each append crosses min_ann_rows and folds: directories 2..8
    for (i <- 0 until 7) append(p, rows(400 + i * 10, 410 + i * 10))
    val v7 = TieredIndex.resolveLive(spark, p)
    assert(listDirs(v7) == (0 to 7).map(n => s"list_store/g=$n"))
    // eight directories read as one relation, `g` and `list_id` its
    // partition columns
    val eight = TieredIndex.load(spark, p).base.lists
    assert(eight.queryExecution.logical.collectLeaves().size == 1)
    assert(eight.count() == 470L && ranks(search(p, 8)) == exact(rows(0, 470)))
    append(p, rows(470, 480))
    val v8 = TieredIndex.resolveLive(spark, p)
    assert(v8 != v7 && listDirs(v8) == Seq("list_store/g=8"))
    assert(TieredIndex.load(spark, p).base.lists.count() == 480L)
    // the superseded version still names g=0..g=7: kept for its readers
    assert(storeDirs(p) == (0 to 8).map(n => s"list_store/g=$n").toSet)
    append(p, rows(480, 490))
    val v9 = TieredIndex.resolveLive(spark, p)
    assert(listDirs(v9) == Seq("list_store/g=8", "list_store/g=9"))
    assert(storeDirs(p) == Set("list_store/g=8", "list_store/g=9"))
    assert(ranks(search(p, 8)) == exact(rows(0, 490)))
  }

  test("a crash before the commit leaves no named directory missing, and the next " +
      "compaction deletes every directory no retained version names") {
    val p = saved("crash", 400)
    append(p, rows(400, 450))
    assert(failure(TieredIndex.compactInPlace(spark, p,
      _ => throw new IllegalStateException("injected crash before the commit")))
      .contains("injected crash"))
    assert(TieredIndex.resolveLive(spark, p) == p, "an uncommitted fold must not go live")
    assert(listDirs(p) == Seq("list_store/g=0"))
    assert(storeDirs(p) == Set("list_store/g=0", "list_store/g=1"))
    assert(ranks(search(p, 8)) == exact(rows(0, 450)))
    // a directory nothing names, as a crashed writer elsewhere would leave
    val junk = new org.apache.hadoop.fs.Path(p, "list_store/g=777/list_id=0")
    val fs = junk.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(junk)
    TieredIndex.compactInPlace(spark, p)
    val v1 = TieredIndex.resolveLive(spark, p)
    assert(v1 == f"$p/v_000001")
    assert(listDirs(v1) == Seq("list_store/g=0", "list_store/g=1"))
    assert(storeDirs(p) == listDirs(v1).toSet)
    assert(TieredIndex.load(spark, p).base.lists.count() == 450L)
    assert(ranks(search(p, 8)) == exact(rows(0, 450)))
  }

  test("the fold drops null-vector delta rows and fails on another dimension before the " +
      "commit, leaving the live version unchanged") {
    val s = spark
    import s.implicits._
    val p = saved("edges", 400)
    append(p, rows(400, 420).select(col("vec_id"), col("embedding"))
      .unionByName(Seq[(Long, Array[Float])]((900000L, null)).toDF("vec_id", "embedding")))
    TieredIndex.compactInPlace(spark, p)
    val v1 = TieredIndex.resolveLive(spark, p)
    val lists = TieredIndex.load(spark, p).base.lists
    assert(lists.count() == 420L && lists.filter(col("id") === 900000L).isEmpty &&
      lists.filter(col("list_id").isNull).isEmpty)
    assert(IvfFlatIndex.loadMeta(spark, v1).contains(420L))
    val v0 = emb.select(col("embedding")).head().getSeq[Float](0).toArray
    append(p, Seq((900001L, v0.take(63))).toDF("vec_id", "embedding"))
    assert(failure(TieredIndex.compactInPlace(spark, p))
      .contains("delta row 900001 has dimension 63, the index 64"))
    assert(TieredIndex.resolveLive(spark, p) == v1)
    assert(TieredIndex.load(spark, p).knownDeltaRows.contains(1L))
    assert(listDirs(v1).size == 2)
  }

  test("a layout saved before the list store is refused, then upgraded once") {
    val p = saved("legacy", 400)
    append(p, rows(400, 450))
    val before = search(p, 8)
    // the earlier shape: the base's lists under tiered_base/lists, a
    // tiered_meta with neither delta_rows, curve_rows nor list_dirs, and
    // a meta without a format version
    val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    OlderShapes.rename(spark, s"$p/list_store/g=0", s"$p/tiered_base/lists")
    fs.delete(new org.apache.hadoop.fs.Path(p, "list_store"), true)
    val s = spark
    import s.implicits._
    SidecarIO.write(spark, s"$p/tiered_meta",
      SidecarIO.rows(Seq((100000L, "l2")), "min_ann_rows", "metric"))
    OlderShapes.unversioned(spark, p)
    val savedCurve = curve(p)
    OlderShapes.refused(TieredIndex.load(spark, p))
    OlderShapes.refused(TieredIndex.compactInPlace(spark, p))
    val data = tmp("legacy_data")
    rows(0, 450).write.mode("overwrite").parquet(data)
    GraftIndexCatalog.register(data, p, nProbes = 8, kCoarse = 30)
    try withConf("spark.graft.knnJoin.minIndexRows" -> "0") {
      val df = KnnJoinPlan.knnJoin(spark.read.parquet(data), q, 10, Metric.L2,
        "vec_id", "embedding")
      OlderShapes.exactFallback(df)
      assert(ranks(sorted(df)) == exact(rows(0, 450)))
    } finally GraftIndexCatalog.unregister(data)
    graft.index.LayoutFormat.upgrade(spark, p)
    val v1 = TieredIndex.resolveLive(spark, p)
    assert(v1 == s"$p/v_000001" && listDirs(v1) == Seq("list_store/g=1"))
    // the 50 folded rows are an eighth of the 400 the curve was measured on
    assert(curveRows(v1) == 400L && curve(v1) == savedCurve)
    assert(ranks(search(p, 8)) == ranks(before) && ranks(before) == exact(rows(0, 450)))
    val stamped = OlderShapes.mtimes(p)
    graft.index.LayoutFormat.upgrade(spark, p)
    assert(OlderShapes.mtimes(p) == stamped, "a second upgrade must write nothing")
    append(p, rows(450, 500))
    TieredIndex.compactInPlace(spark, p)
    val v2 = TieredIndex.resolveLive(spark, p)
    assert(listDirs(v2) == Seq("list_store/g=1", "list_store/g=2"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p, "tiered_base")))
    assert(ranks(search(p, 8)) == exact(emb))
  }

  test("spark.graft.tiered.autoCompact.enabled=false keeps the rows in the delta past " +
      "min_ann_rows; searches stay exact") {
    val p = saved("noauto", 400, minAnnRows = 20L)
    withConf("spark.graft.tiered.autoCompact.enabled" -> "false") {
      append(p, rows(400, 450))
    }
    assert(TieredIndex.resolveLive(spark, p) == p, "no version may be committed")
    val loaded = TieredIndex.load(spark, p)
    assert(loaded.knownDeltaRows.contains(50L) && loaded.delta.count() == 50L)
    assert(ranks(search(p, 8)) == exact(rows(0, 450)))
    // with the key back at its default the next append compacts
    append(p, rows(450, 460))
    assert(TieredIndex.resolveLive(spark, p) == f"$p/v_000001")
    assert(TieredIndex.load(spark, p).base.lists.count() == 460L)
  }

  test("after a save, appends and a fold no sidecar holds a .crc, no swap leftover remains, " +
      "and searches stay exact") {
    val p = saved("nocrc", 300)
    TieredIngest.append(rows(300, 350), p, "vec_id", "embedding", batchId = 0L, scope = "crc")
    TieredIndex.compactInPlace(spark, p)
    TieredIngest.append(rows(350, 400), p, "vec_id", "embedding", batchId = 1L, scope = "crc")
    append(p, rows(400, 420))
    val v1 = TieredIndex.resolveLive(spark, p)
    assert(v1 == f"$p/v_000001")
    def walk(f: java.io.File): Seq[java.io.File] =
      f +: (if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Nil)
    val all = walk(new java.io.File(p))
    val leftovers = all.map(_.getName).filter(n => n.endsWith(".staged") || n.endsWith(".old"))
    assert(leftovers.isEmpty, s"swap leftovers: $leftovers")
    // the data the distributed writer lands (lists, batch directories)
    // keeps Spark's checksums; the sidecars and small files are the driver's
    val sidecars = Seq("meta", "tiered_meta", "delta_commits", "recall_curve",
      "tiered_base/centroids", "tiered_base/meta", "tiered_base/recall_curve")
    val checked = for (live <- Seq(p, v1); sc <- sidecars
        if new java.io.File(s"$live/$sc").isDirectory) yield s"$live/$sc"
    assert(checked.size >= 2 * sidecars.size - 1, checked)
    val crcs = checked.flatMap(d => new java.io.File(d).listFiles().map(_.getName)
      .filter(_.endsWith(".crc")).map(n => s"$d/$n")) ++
      Seq(s"$p/..ingest_lease.crc", s"$v1/._COMMITTED.crc").filter(new java.io.File(_).exists)
    assert(crcs.isEmpty, s"checksum companions: $crcs")
    assert(ranks(search(p, 8)) == exact(rows(0, 420)))
  }
}
