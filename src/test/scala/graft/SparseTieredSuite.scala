package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.core.{Distance, Metric}
import graft.index.IvfFlatIndex
import graft.ops.SparseKnn
import graft.stream.TieredIndex

class SparseTieredSuite extends SparkFunSuite {

  private lazy val emb = spark.read.parquet(s"${SparkTestBase.sf0001}/embeddings.parquet")
  private lazy val q = emb.filter(col("vec_id") % 50 === 0)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
  private def exactOf(data: org.apache.spark.sql.DataFrame) =
    graft.ops.BruteForceKnn.knnJoin(data, q, 5, Metric.L2, "vec_id", "embedding")
  private def key(df: org.apache.spark.sql.DataFrame) = df.select("qid", "nbr_id", "rank")
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted

  // --- sparse -----------------------------------------------------------

  test("sparse cosine kNN matches a dense driver-side oracle") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val dim = 64
    val rows = (0L until 60L).map { id =>
      val nnz = 3 + rnd.nextInt(8)
      val idxs = rnd.shuffle((0 until dim).toList).take(nnz).sorted
      (id, idxs, idxs.map(_ => rnd.nextFloat() + 0.1f))
    }
    val df = rows.toDF("id", "indices", "values")
    val q = df.filter(col("id") < 10)
      .select(col("id").as("qid"), col("indices").as("qindices"), col("values").as("qvalues"))
    val got = SparseKnn.knnJoin(df, q, 5, Metric.Cosine)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    // densify + naive
    def dense(r: (Long, List[Int], List[Float])): Array[Float] = {
      val v = new Array[Float](dim)
      r._2.zip(r._3).foreach { case (i, x) => v(i) = x }
      v
    }
    for (qr <- rows.take(10)) {
      val qv = dense(qr)
      val expect = rows.map(r => (Distance.cosine(qv, dense(r)), r._1))
        .sortBy { case (d, id) => (d, id) }.take(5)
      expect.zipWithIndex.foreach { case ((_, id), i) =>
        assert(got((qr._1, i + 1)) == id, s"query ${qr._1} rank ${i + 1}")
      }
    }
  }

  test("sparse L2 kNN handles zero-overlap queries exactly") {
    import spark.implicits._
    // rows 0..9 live in dims 0..9; query lives in dim 50 only -> no overlap
    val df = (0L until 10L).map(i => (i, List(i.toInt), List(1.0f + i))).toDF("id", "indices", "values")
    val q = Seq((100L, List(50), List(2.0f))).toDF("qid", "qindices", "qvalues")
    val got = SparseKnn.knnJoin(df, q, 3, Metric.L2).collect()
    assert(got.length == 3)
    // d^2 = |q|^2 + |x|^2 -> nearest is the smallest-norm row (id 0)
    assert(got.find(_.getInt(2) == 1).get.getLong(1) == 0L)
    assert(math.abs(got.find(_.getInt(2) == 1).get.getDouble(3) - (4.0 + 1.0)) < 1e-9)
  }

  // --- tiered -----------------------------------------------------------

  test("tiered search == exact kNN when ANN tier probes all lists") {
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    val idx = TieredIndex.build(base, IvfFlatIndex.Params(nLists = 8, nIters = 5),
        idCol = "vec_id", vecCol = "embedding")
      .extend(delta, "vec_id", "embedding")
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val got = idx.search(q, 10, nProbes = 8)
    val exact = graft.ops.BruteForceKnn.knnJoin(emb, q, 10, Metric.L2, "vec_id", "embedding")
    def key(df: org.apache.spark.sql.DataFrame) = df.select("qid", "nbr_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    assert(key(got) == key(exact))
  }

  test("compact folds the delta into the ANN tier, results unchanged") {
    val base = emb.filter(col("vec_id") < 400)
    val delta = emb.filter(col("vec_id") >= 400)
    val idx = TieredIndex.build(base, IvfFlatIndex.Params(nLists = 8, nIters = 5),
        minAnnRows = 10, idCol = "vec_id", vecCol = "embedding")
      .extend(delta, "vec_id", "embedding")
    assert(idx.deltaRows == delta.count())
    val compacted = idx.maybeCompact()
    assert(compacted.deltaRows == 0)
    assert(compacted.base.lists.count() == emb.count())
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def key(df: org.apache.spark.sql.DataFrame) = df.select("qid", "nbr_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    assert(key(compacted.search(q, 5, 8)) == key(idx.search(q, 5, 8)))
  }

  test("TieredIngest.append lands rows in a SAVED layout's delta and refreshes sidecars") {
    val dir = java.nio.file.Files.createTempDirectory("tiered_ingest").toString
    val base = emb.filter(col("vec_id") < 400)
    TieredIndex.build(base, IvfFlatIndex.Params(nLists = 8, nIters = 5),
      idCol = "vec_id", vecCol = "embedding").save(dir)
    val batch1 = emb.filter(col("vec_id") >= 400 && col("vec_id") < 450)
    val batch2 = emb.filter(col("vec_id") >= 450)
    graft.stream.TieredIngest.append(batch1, dir, "vec_id", "embedding")
    graft.stream.TieredIngest.append(batch2, dir, "vec_id", "embedding")
    val appended = batch1.count() + batch2.count()
    // sidecars reflect the on-disk tiers without any rebuild
    val meta = spark.read.parquet(s"$dir/tiered_meta").head()
    assert(meta.getAs[Long]("delta_rows") == appended)
    assert(IvfFlatIndex.loadMeta(spark, dir).contains(base.count() + appended))
    // the re-loaded layout searches base ∪ appended delta exactly
    val loaded = TieredIndex.load(spark, dir)
    assert(loaded.deltaRows == appended)
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = graft.ops.BruteForceKnn.knnJoin(emb, q, 5, Metric.L2,
      "vec_id", "embedding")
    def key(df: org.apache.spark.sql.DataFrame) = df.select("qid", "nbr_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    assert(key(loaded.search(q, 5, nProbes = 8)) == key(exact))
  }

  test("streaming ingest replay is idempotent: a redelivered batchId lands nothing twice") {
    // foreachBatch is at-least-once — a failure-recovery restart
    // redelivers the last batch; the per-batch directory + commit ledger
    // must absorb the replay without duplicating delta rows
    val dir = java.nio.file.Files.createTempDirectory("tiered_replay").toString
    val base = emb.filter(col("vec_id") < 400)
    TieredIndex.build(base, IvfFlatIndex.Params(nLists = 8, nIters = 5),
      idCol = "vec_id", vecCol = "embedding").save(dir)
    val batch0 = emb.filter(col("vec_id") >= 400 && col("vec_id") < 450)
    val batch1 = emb.filter(col("vec_id") >= 450)
    graft.stream.TieredIngest.append(batch0, dir, "vec_id", "embedding", batchId = 0L)
    graft.stream.TieredIngest.append(batch1, dir, "vec_id", "embedding", batchId = 1L)
    val appended = batch0.count() + batch1.count()
    // replay batch 1 twice (redelivery after a simulated recovery)
    graft.stream.TieredIngest.append(batch1, dir, "vec_id", "embedding", batchId = 1L)
    graft.stream.TieredIngest.append(batch1, dir, "vec_id", "embedding", batchId = 1L)
    val meta = spark.read.parquet(s"$dir/tiered_meta").head()
    assert(meta.getAs[Long]("delta_rows") == appended,
      "replayed batch must not grow the delta sidecar")
    val loaded = TieredIndex.load(spark, dir)
    assert(loaded.delta.count() == appended,
      "replayed batch must not land duplicate delta rows")
    // routed search over base ∪ delta still equals exact — no duplicate
    // neighbor ids surface
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = graft.ops.BruteForceKnn.knnJoin(emb, q, 5, Metric.L2,
      "vec_id", "embedding")
    def key(df: org.apache.spark.sql.DataFrame) = df.select("qid", "nbr_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    assert(key(loaded.search(q, 5, nProbes = 8)) == key(exact))
    // batchIds are only unique per CHECKPOINT: a rebuilt checkpoint (new
    // scope) legitimately reuses id 0 for NEW rows — a scope-blind ledger
    // would silently drop them as a replay
    import spark.implicits._
    val fresh = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    graft.stream.TieredIngest.append(fresh, dir, "vec_id", "embedding",
      batchId = 0L, scope = "ck2")
    assert(spark.read.parquet(s"$dir/tiered_meta").head().getAs[Long]("delta_rows") ==
      appended + fresh.count(),
      "a new checkpoint scope reusing batch id 0 must append, not skip")
    // the sidecar must also be TRUE: the second scope's batch-0 directory
    // must not have overwritten the first scope's batch-0 rows (the batch
    // directory is namespaced by scope, like the ledger key)
    assert(TieredIndex.load(spark, dir).delta.count() == appended + fresh.count(),
      "cross-scope id reuse must not overwrite the other scope's batch rows")
    // a third scope colliding on the same id keeps its own rows too
    val fresh2 = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
    graft.stream.TieredIngest.append(fresh2, dir, "vec_id", "embedding",
      batchId = 0L, scope = "ck3")
    assert(TieredIndex.load(spark, dir).delta.count() ==
      appended + fresh.count() + fresh2.count())
  }

  test("ingest ledger stays O(scopes): hundreds of batches, a handful of ledger rows") {
    // the ledger records (scope -> max committed id, cumulative rows) —
    // NOT one row per batch — so a year-long micro-batch ingest reads and
    // rewrites a bounded ledger per batch instead of an ever-growing one
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tiered_ledger").toString
    val base = emb.filter(col("vec_id") < 400)
    TieredIndex.build(base, IvfFlatIndex.Params(nLists = 8, nIters = 5),
      idCol = "vec_id", vecCol = "embedding").save(dir)
    val vec = emb.select(col("embedding")).head().getSeq[Float](0)
    val nBatches = 300
    for (i <- 0 until nBatches) {
      val batch = Seq((1000000L + i, vec)).toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
      graft.stream.TieredIngest.append(batch, dir, "vec_id", "embedding",
        batchId = i.toLong, scope = "ck")
    }
    val ledger = spark.read.parquet(s"$dir/delta_commits")
    assert(ledger.count() <= 2,
      s"ledger must stay O(scopes) — got ${ledger.count()} rows after $nBatches batches")
    assert(spark.read.parquet(s"$dir/tiered_meta").head().getAs[Long]("delta_rows") ==
      nBatches.toLong)
    // a replay of the last batch (the only one the engine ever redelivers)
    // still lands nothing
    val last = Seq((1000000L + nBatches - 1, vec)).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    graft.stream.TieredIngest.append(last, dir, "vec_id", "embedding",
      batchId = (nBatches - 1).toLong, scope = "ck")
    assert(spark.read.parquet(s"$dir/tiered_meta").head().getAs[Long]("delta_rows") ==
      nBatches.toLong, "replay of the max committed id must land nothing")
    assert(TieredIndex.load(spark, dir).delta.count() == nBatches.toLong)
  }

  test("a pre-r16 per-batch ledger folds into the per-scope form and keeps replays recognized") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tiered_oldledger").toString
    val base = emb.filter(col("vec_id") < 400)
    TieredIndex.build(base, IvfFlatIndex.Params(nLists = 8, nIters = 5),
      idCol = "vec_id", vecCol = "embedding").save(dir)
    val b0 = emb.filter(col("vec_id") >= 400 && col("vec_id") < 420)
    val b1 = emb.filter(col("vec_id") >= 420 && col("vec_id") < 450)
    graft.stream.TieredIngest.append(b0, dir, "vec_id", "embedding",
      batchId = 0L, scope = "ck")
    graft.stream.TieredIngest.append(b1, dir, "vec_id", "embedding",
      batchId = 1L, scope = "ck")
    val landed = b0.count() + b1.count()
    val before = key(TieredIndex.load(spark, dir).search(q, 5, nProbes = 8))
    // rewrite the ledger in the retired one-row-per-batch schema, as a
    // layout created by an older build would carry
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/delta_commits"), true)
    Seq(("", -1L, 0L), ("ck", 0L, b0.count()), ("ck", 1L, b1.count()))
      .toDF("scope", "batch_id", "n_rows")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/delta_commits")
    OlderShapes.storeDirShape(spark, dir, dir)
    OlderShapes.refused(TieredIndex.load(spark, dir))
    OlderShapes.refused(graft.stream.TieredIngest.append(b1, dir, "vec_id", "embedding",
      batchId = 1L, scope = "ck"))
    graft.index.LayoutFormat.upgrade(spark, dir)
    val live = TieredIndex.resolveLive(spark, dir)
    assert(key(TieredIndex.load(spark, dir).search(q, 5, nProbes = 8)) == before)
    assert(before == key(exactOf(emb.filter(col("vec_id") < 450))))
    val stamped = OlderShapes.mtimes(dir)
    graft.index.LayoutFormat.upgrade(spark, dir)
    assert(OlderShapes.mtimes(dir) == stamped, "a second upgrade must write nothing")
    // replay of the last committed batch: recognized through the folded form
    graft.stream.TieredIngest.append(b1, dir, "vec_id", "embedding",
      batchId = 1L, scope = "ck")
    assert(spark.read.parquet(s"$live/tiered_meta").head().getAs[Long]("delta_rows") == 0L,
      "replay must be recognized through a folded pre-r16 ledger")
    assert(TieredIndex.load(spark, dir).base.lists.count() == base.count() + landed)
    // and the next REAL batch both lands and rewrites the compact form
    val b2 = emb.filter(col("vec_id") >= 450 && col("vec_id") < 460)
    graft.stream.TieredIngest.append(b2, dir, "vec_id", "embedding",
      batchId = 2L, scope = "ck")
    assert(spark.read.parquet(s"$live/tiered_meta").head().getAs[Long]("delta_rows") ==
      b2.count())
    val ledger = spark.read.parquet(s"$live/delta_commits")
    assert(ledger.schema.fieldNames.contains("max_batch_id") && ledger.count() <= 2)
  }

  test("compactInPlace swap crash: upgrade restores the layout from .compact_old") {
    val dir0 = java.nio.file.Files.createTempDirectory("tiered_crash").toString
    val dir = s"$dir0/layout"
    val base = emb.filter(col("vec_id") < 400)
    TieredIndex.build(base, IvfFlatIndex.Params(nLists = 8, nIters = 5),
      idCol = "vec_id", vecCol = "embedding").save(dir)
    graft.stream.TieredIngest.append(emb.filter(col("vec_id") >= 400), dir,
      "vec_id", "embedding", batchId = 0L, scope = "ck")
    OlderShapes.storeDirShape(spark, dir, dir)
    // simulate a crash INSIDE a pre-versioning swap window: the live
    // layout was renamed aside and the process died before the compacted
    // tmp renamed in
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".compact_old")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + ".compact_tmp")) // dead half-save
    OlderShapes.refused(TieredIndex.load(spark, dir))
    graft.index.LayoutFormat.upgrade(spark, dir) // must restore, not throw
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".compact_old")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(dir + ".compact_tmp")))
    val loaded = TieredIndex.load(spark, dir)
    assert(loaded.base.lists.count() == emb.count() && loaded.delta.count() == 0L)
    assert(key(loaded.search(q, 5, nProbes = 8)) == key(exactOf(emb)))
    // an ingest append right after the restore works too
    graft.stream.TieredIngest.append(
      emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 3000000L).as("vec_id"), col("embedding")),
      dir, "vec_id", "embedding", batchId = 1L, scope = "ck")
    assert(TieredIndex.load(spark, dir).delta.count() == 5L)
  }

  test("streaming ingest auto-compacts once the delta crosses min_ann_rows") {
    // the reference's create_ann_index_on_extend contract
    // (tiered_index.hpp:59-67, 105, 136): a long-running ingest must not
    // grow the exact-scan delta without bound — crossing the threshold
    // folds the delta into the ANN tier in place, with a re-measured curve
    val dir = java.nio.file.Files.createTempDirectory("tiered_autocompact").toString
    val base = emb.filter(col("vec_id") < 400)
    TieredIndex.build(base, IvfFlatIndex.Params(nLists = 8, nIters = 5),
      minAnnRows = 20, idCol = "vec_id", vecCol = "embedding").save(dir)
    val small = emb.filter(col("vec_id") >= 400 && col("vec_id") < 410) // under the threshold
    val big = emb.filter(col("vec_id") >= 410)                          // crosses it
    graft.stream.TieredIngest.append(small, dir, "vec_id", "embedding", batchId = 0L)
    assert(spark.read.parquet(s"$dir/tiered_meta").head().getAs[Long]("delta_rows") ==
      small.count(), "a sub-threshold delta must not compact")
    graft.stream.TieredIngest.append(big, dir, "vec_id", "embedding", batchId = 1L)
    // compaction commits a new VERSION directory (reader-safe scheme):
    // sidecar reads go through the resolved live directory
    val live = TieredIndex.resolveLive(spark, dir)
    assert(live != dir, "compaction must commit a version directory")
    val meta = spark.read.parquet(s"$live/tiered_meta").head()
    assert(meta.getAs[Long]("delta_rows") == 0L, "crossing min_ann_rows must compact")
    // a post-compaction redelivery of the already-FOLDED batch must be
    // recognized by the carried-over (zeroed) ledger — not re-appended
    graft.stream.TieredIngest.append(big, dir, "vec_id", "embedding", batchId = 1L)
    assert(spark.read.parquet(s"$live/tiered_meta").head().getAs[Long]("delta_rows") == 0L,
      "replay of a compacted batch must not re-land its rows")
    val loaded = TieredIndex.load(spark, dir)
    assert(loaded.delta.count() == 0L)
    assert(loaded.base.lists.count() == emb.count(),
      "compaction must fold every delta row into the ANN tier")
    // the compacted save re-measured the promoted tier's recall curve
    assert(IvfFlatIndex.loadRecallCurve(spark, live).nonEmpty,
      "in-place compaction must re-measure the recall curve")
    assert(IvfFlatIndex.loadMeta(spark, live).contains(emb.count()))
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = graft.ops.BruteForceKnn.knnJoin(emb, q, 5, Metric.L2,
      "vec_id", "embedding")
    def key(df: org.apache.spark.sql.DataFrame) = df.select("qid", "nbr_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    assert(key(loaded.search(q, 5, nProbes = 8)) == key(exact))
  }

  test("compaction is reader-safe: a reader loop racing repeated compactions never fails") {
    // the r16 two-rename swap had a window where the layout was absent and
    // an executing query failed; the versioned scheme (commit marker +
    // one-interval retention of the superseded version) must never show a
    // reader a missing or partial layout. A reader loop (fresh resolve +
    // load + routed search each iteration) races a writer that triggers a
    // compaction per appended batch — zero reader failures allowed.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tiered_race").toString
    val base = emb.filter(col("vec_id") < 400)
    TieredIndex.build(base, IvfFlatIndex.Params(nLists = 8, nIters = 5),
      minAnnRows = 5, idCol = "vec_id", vecCol = "embedding").save(dir)
    val vec = emb.select(col("embedding")).head().getSeq[Float](0)
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .localCheckpoint()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!done.get()) {
        try {
          val n = TieredIndex.load(spark, dir).search(q, 3, nProbes = 8).count()
          assert(n > 0)
          reads.incrementAndGet()
        } catch { case t: Throwable => failures.add(t) }
      }
    })
    reader.start()
    val nCompactions = 4
    try {
      for (i <- 0 until nCompactions) {
        // 6 rows >= minAnnRows -> every append crosses the threshold and
        // compacts in place, committing a fresh version directory
        val batch = (0 until 6).map(j => (2000000L + i * 10 + j, vec))
          .toDF("vec_id", "embedding")
          .withColumn("embedding", col("embedding").cast("array<float>"))
        graft.stream.TieredIngest.append(batch, dir, "vec_id", "embedding",
          batchId = i.toLong, scope = "ck")
      }
    } finally {
      done.set(true)
      reader.join(60000)
    }
    assert(failures.isEmpty,
      s"reader failed ${failures.size} times racing compactions: ${failures.peek()}")
    assert(reads.get() > 0, "the reader loop must actually have read")
    // the live version is the last compaction's commit; retention keeps
    // at most the superseded version alongside it (plus no flat members
    // once a version has itself been superseded)
    val live = TieredIndex.resolveLive(spark, dir)
    assert(live == f"$dir/v_$nCompactions%06d", s"live=$live")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val versions = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v_"))
    assert(versions.length <= 2, s"retention must bound versions, got " +
      versions.map(_.getPath.getName).mkString(","))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "tiered_base")),
      "flat members must be pruned once a version has been superseded")
    // every appended row was folded; the layout still answers exactly
    val loaded = TieredIndex.load(spark, dir)
    assert(loaded.delta.count() == 0L)
    assert(loaded.base.lists.count() == base.count() + nCompactions * 6L)
  }

  test("a planner-side meta read racing appends never finds the population absent") {
    // every append rewrites the layout's top-level `meta` (base + delta
    // population) by a staged swap; a reader of it between the swap's two
    // renames waits the window out instead of reading None (and, in the
    // planner, memoizing a missing population)
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tiered_meta_race").toString
    TieredIndex.build(emb.filter(col("vec_id") < 400), IvfFlatIndex.Params(nLists = 8, nIters = 5),
      idCol = "vec_id", vecCol = "embedding").save(dir)
    val vec = emb.select(col("embedding")).head().getSeq[Float](0)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Option[Long]]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readers = Seq.fill(2)(new Thread(() => {
      while (!done.get()) seen.add(IvfFlatIndex.loadMeta(spark, dir))
    }))
    readers.foreach(_.start())
    val nAppends = 6
    def batch(i: Int) =
      (0 until 5).map(j => (3000000L + i * 10 + j, vec)).toDF("vec_id", "embedding")
    try {
      for (i <- 0 until nAppends)
        graft.stream.TieredIngest.append(batch(i), dir, "vec_id", "embedding",
          batchId = i.toLong, scope = "race")
      // a redelivered batch lands no rows and only rewrites the sidecars:
      // many rewrites of `meta` in a short time
      for (_ <- 0 until 60)
        graft.stream.TieredIngest.append(batch(nAppends - 1), dir, "vec_id", "embedding",
          batchId = nAppends - 1L, scope = "race")
    } finally {
      done.set(true)
      readers.foreach(_.join(60000))
    }
    val reads = scala.jdk.CollectionConverters.CollectionHasAsScala(seen).asScala.toSeq
    val absent = reads.count(_.isEmpty)
    assert(reads.size > 60, s"the readers should have read often, read ${reads.size} times")
    assert(absent == 0, s"meta read absent $absent of ${reads.size} times")
    assert(reads.flatten.toSet.subsetOf((0 to nAppends).map(400L + 5 * _).toSet))
    assert(IvfFlatIndex.loadMeta(spark, dir).contains(400L + 5 * nAppends))
  }

  test("ingest lease: a live foreign writer fails loudly; a stale lease is stolen") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tiered_lease").toString
    TieredIndex.build(emb.filter(col("vec_id") < 400),
      IvfFlatIndex.Params(nLists = 8, nIters = 5),
      idCol = "vec_id", vecCol = "embedding").save(dir)
    val vec = emb.select(col("embedding")).head().getSeq[Float](0)
    def batch(id: Long) = Seq((id, vec)).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val lease = new org.apache.hadoop.fs.Path(dir, ".ingest_lease")
    val fs = lease.getFileSystem(spark.sessionState.newHadoopConf())
    // a FRESH foreign lease = a live concurrent writer -> loud failure,
    // nothing landed
    val out = fs.create(lease, true)
    out.write("foreign-writer-token".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalStateException] {
      graft.stream.TieredIngest.append(batch(3000000L), dir, "vec_id", "embedding",
        batchId = 0L, scope = "ck")
    }
    assert(e.getMessage.contains("ingest lease"))
    assert(TieredIndex.load(spark, dir).delta.count() == 0L,
      "a refused append must land nothing")
    // age the same lease past the staleness horizon -> stolen, append lands
    fs.setTimes(lease, System.currentTimeMillis() -
      spark.conf.get("spark.graft.tiered.lease.staleMs", "60000").toLong - 1000L, -1L)
    graft.stream.TieredIngest.append(batch(3000001L), dir, "vec_id", "embedding",
      batchId = 0L, scope = "ck")
    assert(TieredIndex.load(spark, dir).delta.count() == 1L)
    val in = fs.open(lease)
    val tok = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    assert(tok != "foreign-writer-token", "the stolen lease must carry our token")
    // and the same JVM keeps appending under its own lease (heartbeat path)
    graft.stream.TieredIngest.append(batch(3000002L), dir, "vec_id", "embedding",
      batchId = 1L, scope = "ck")
    assert(TieredIndex.load(spark, dir).delta.count() == 2L)
  }

  test("tiered.lease.enabled=false appends without an ingest lease file") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tiered_nolease").toString
    TieredIndex.build(emb.filter(col("vec_id") < 400),
      IvfFlatIndex.Params(nLists = 8, nIters = 5),
      idCol = "vec_id", vecCol = "embedding").save(dir)
    val vec = emb.select(col("embedding")).head().getSeq[Float](0)
    def append(id: Long): Unit = graft.stream.TieredIngest.append(
      Seq((id, vec)).toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>")),
      dir, "vec_id", "embedding", batchId = id, scope = "nolease")
    val lease = new java.io.File(dir, ".ingest_lease")
    spark.conf.set("spark.graft.tiered.lease.enabled", "false")
    try append(0L) finally spark.conf.unset("spark.graft.tiered.lease.enabled")
    assert(!lease.exists(), "no lease is written with the lease off")
    assert(TieredIndex.load(spark, dir).delta.count() == 1L)
    append(1L)
    assert(lease.exists(), "the default takes the lease")
  }

  test("upgrade removes a crashed unscoped batch directory that no ledger claims") {
    // pre-r16 layouts wrote scoped batches to UNSCOPED delta/batch-<id>
    // dirs: a batch that landed data but crashed before its ledger row is
    // redelivered after the upgrade with batchId > max — without cleanup
    // its rows would land AGAIN under the scope-tagged name while the
    // orphan still sits in the recursive delta listing (counted twice,
    // made permanent by compaction)
    val dir = java.nio.file.Files.createTempDirectory("tiered_orphan").toString
    TieredIndex.build(emb.filter(col("vec_id") < 400),
      IvfFlatIndex.Params(nLists = 8, nIters = 5),
      idCol = "vec_id", vecCol = "embedding").save(dir)
    val b0 = emb.filter(col("vec_id") >= 400 && col("vec_id") < 430)
    val b1 = emb.filter(col("vec_id") >= 430 && col("vec_id") < 450)
    graft.stream.TieredIngest.append(b0, dir, "vec_id", "embedding",
      batchId = 0L, scope = "ck")
    // an EMPTY-scope direct caller owns the unscoped directory of an id it
    // committed: batch-0 must survive the upgrade
    val direct = emb.filter(col("vec_id") >= 450 && col("vec_id") < 460)
    graft.stream.TieredIngest.append(direct, dir, "vec_id", "embedding",
      batchId = 0L, scope = "")
    val before = key(TieredIndex.load(spark, dir).search(q, 5, nProbes = 8))
    // the crash: batch 1's DATA landed at the unscoped path, its ledger
    // row never did
    b1.select(col("vec_id").cast("long").as("id"), col("embedding").as("vec"))
      .write.mode("overwrite").parquet(s"$dir/delta/batch-1")
    OlderShapes.storeDirShape(spark, dir, dir)
    OlderShapes.refused(TieredIndex.load(spark, dir))
    graft.index.LayoutFormat.upgrade(spark, dir)
    val kept = emb.filter(col("vec_id") < 430 || (col("vec_id") >= 450 && col("vec_id") < 460))
    val upgraded = TieredIndex.load(spark, dir)
    assert(upgraded.base.lists.count() == kept.count(),
      "the orphaned batch must be gone and the committed empty-scope batch kept")
    assert(key(upgraded.search(q, 5, nProbes = 8)) == before)
    assert(before == key(exactOf(kept)))
    // the redelivery of batch 1 under its scope lands its rows once
    graft.stream.TieredIngest.append(b1, dir, "vec_id", "embedding",
      batchId = 1L, scope = "ck")
    assert(TieredIndex.load(spark, dir).delta.count() == b1.count())
    assert(key(TieredIndex.load(spark, dir).search(q, 5, nProbes = 8)) ==
      key(exactOf(emb.filter(col("vec_id") < 460))))
  }

  test("TieredIngest restart-recovery: a second query on the same checkpoint resumes cleanly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("tiered_restart").toString
    val ck = java.nio.file.Files.createTempDirectory("tiered_restart_ck").toString
    val base = emb.filter(col("vec_id") < 400)
    TieredIndex.build(base, IvfFlatIndex.Params(nLists = 8, nIters = 5),
      idCol = "vec_id", vecCol = "embedding").save(dir)
    val newRows = emb.filter(col("vec_id") >= 400)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val stream = MemoryStream[(Long, Seq[Float])]
    def start() = graft.stream.TieredIngest.sink(
      stream.toDF().toDF("id", "vec").withColumn("vec", col("vec").cast("array<float>")),
      dir, ck)
    // first incarnation processes one batch, then "dies"
    val q1 = start()
    stream.addData(newRows.take(50).toSeq)
    q1.processAllAvailable(); q1.stop()
    // restart on the same checkpoint: the engine resumes batch numbering
    // (and would REDELIVER an uncommitted batch — the idempotence path)
    stream.addData(newRows.drop(50).toSeq)
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val meta = spark.read.parquet(s"$dir/tiered_meta").head()
    assert(meta.getAs[Long]("delta_rows") == newRows.length,
      "restarted stream must append every row exactly once")
    val loaded = TieredIndex.load(spark, dir)
    val qs = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = graft.ops.BruteForceKnn.knnJoin(emb, qs, 5, Metric.L2,
      "vec_id", "embedding")
    def key(df: org.apache.spark.sql.DataFrame) = df.select("qid", "nbr_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    assert(key(loaded.search(qs, 5, nProbes = 8)) == key(exact))
  }

  test("TieredIngest mid-batch kill: a crash INSIDE foreachBatch redelivers, lands exactly once") {
    // the hard restart case: the process dies while a micro-batch is in
    // flight — either before the sink appended (rows never landed) or
    // after it appended but before the engine committed the batch (rows
    // landed, engine doesn't know). Both make the engine REDELIVER that
    // batchId on restart; the ledger must land the first case once and
    // skip the second.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("tiered_kill").toString
    val ck = java.nio.file.Files.createTempDirectory("tiered_kill_ck").toString
    val base = emb.filter(col("vec_id") < 400)
    TieredIndex.build(base, IvfFlatIndex.Params(nLists = 8, nIters = 5),
      idCol = "vec_id", vecCol = "embedding").save(dir)
    val newRows = emb.filter(col("vec_id") >= 400)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val stream = MemoryStream[(Long, Seq[Float])]
    val crashAfterAppend = new java.util.concurrent.atomic.AtomicBoolean(true)
    val crashBeforeAppend = new java.util.concurrent.atomic.AtomicBoolean(true)
    def start() = stream.toDF().toDF("id", "vec")
      .withColumn("vec", col("vec").cast("array<float>"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        if (batchId == 2 && crashBeforeAppend.getAndSet(false))
          throw new RuntimeException("injected kill BEFORE the sink appended")
        graft.stream.TieredIngest.append(batch, dir, "id", "vec",
          batchId = batchId, scope = ck)
        if (batchId == 1 && crashAfterAppend.getAndSet(false))
          throw new RuntimeException("injected kill AFTER the sink appended, " +
            "before the engine committed")
      }
      .start()
    def drainIgnoringInjectedKill(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
      try q.processAllAvailable()
      catch { case _: Exception => () } finally q.stop()
    // batch 0 commits; batch 1 appends then the "process dies"
    val q1 = start()
    stream.addData(newRows.take(30).toSeq)
    q1.processAllAvailable()
    stream.addData(newRows.slice(30, 60).toSeq)
    drainIgnoringInjectedKill(q1)
    // restart 1: batch 1 is redelivered (it DID land) — must be skipped;
    // batch 2 then dies before its rows ever landed
    stream.addData(newRows.drop(60).toSeq)
    val q2 = start()
    drainIgnoringInjectedKill(q2)
    // restart 2: batch 2 is redelivered and lands for the first time
    val q3 = start()
    drainIgnoringInjectedKill(q3)
    assert(spark.read.parquet(s"$dir/tiered_meta").head().getAs[Long]("delta_rows") ==
      newRows.length.toLong,
      "mid-batch kills must land every row exactly once across restarts")
    val loaded = TieredIndex.load(spark, dir)
    assert(loaded.delta.count() == newRows.length.toLong)
    val qs = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = graft.ops.BruteForceKnn.knnJoin(emb, qs, 5, Metric.L2,
      "vec_id", "embedding")
    def key(df: org.apache.spark.sql.DataFrame) = df.select("qid", "nbr_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    assert(key(loaded.search(qs, 5, nProbes = 8)) == key(exact))
  }

  test("structured streaming ingest: foreachBatch extend == batch extend") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = emb.filter(col("vec_id") < 400)
    var idx = TieredIndex.build(base, IvfFlatIndex.Params(nLists = 8, nIters = 5),
      idCol = "vec_id", vecCol = "embedding")
    val newRows = emb.filter(col("vec_id") >= 400)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val stream = MemoryStream[(Long, Seq[Float])]
    val query = stream.toDF().toDF("id", "vec")
      .withColumn("vec", col("vec").cast("array<float>"))
      .writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        idx = idx.extend(batch.localCheckpoint(), "id", "vec")
      }
      .start()
    stream.addData(newRows.take(50).toSeq)
    stream.addData(newRows.drop(50).toSeq)
    query.processAllAvailable()
    query.stop()
    assert(idx.deltaRows == newRows.length)
    // streamed index answers like the fully-batch index
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = graft.ops.BruteForceKnn.knnJoin(emb, q, 5, Metric.L2, "vec_id", "embedding")
    def key(df: org.apache.spark.sql.DataFrame) = df.select("qid", "nbr_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    assert(key(idx.search(q, 5, nProbes = 8)) == key(exact))
  }

  test("dynamic batching: union of micro-batch dispatches == one-shot search, dense batch ids") {
    import spark.implicits._
    val idx = TieredIndex.build(emb.filter(col("vec_id") < 500),
        IvfFlatIndex.Params(nLists = 8, nIters = 5), idCol = "vec_id", vecCol = "embedding")
      .extend(emb.filter(col("vec_id") >= 500), "vec_id", "embedding")
    val qs = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
    // an empty middle wave must not burn a batch id
    val waves = Seq(qs.filter(_._1 % 2 == 0).toSeq, Seq.empty, qs.filter(_._1 % 2 == 1).toSeq)
    val got = graft.stream.DynamicBatcher.run(spark, waves, b =>
      idx.search(b.select(col("qid"), col("qvec")), 5, nProbes = 8))
    val batches = got.select("batch").distinct().as[Int].collect().sorted
    assert(batches.sameElements(Array(0, 1)))
    val oneShot = idx.search(
      emb.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")), 5, nProbes = 8)
    def key(df: org.apache.spark.sql.DataFrame) = df.select("qid", "nbr_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    assert(key(got) == key(oneShot))
  }

  test("event-time window agg with watermark drops late rows, matches batch on on-time data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, Double)]
    val windowed = stream.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(sum(col("value")).as("total"), count(lit(1)).as("n"))
      .select(col("w.start").as("start"), col("total"), col("n"))
    val query = windowed.writeStream.outputMode("append")
      .format("memory").queryName("win_agg").start()
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    // batch 1: two on-time hours
    stream.addData(Seq((ts(1, 10), 1.0), (ts(1, 40), 2.0), (ts(2, 5), 4.0)))
    query.processAllAvailable()
    // batch 2: advance the watermark far past hour 1-2, then send a late row
    stream.addData(Seq((ts(6, 0), 8.0)))
    query.processAllAvailable()
    stream.addData(Seq((ts(1, 50), 100.0))) // late: watermark is 05:50
    query.processAllAvailable()
    // batch 4: close hour 6 so its window emits too
    stream.addData(Seq((ts(9, 0), 16.0)))
    query.processAllAvailable()
    query.stop()
    val got = spark.table("win_agg")
      .collect().map(r => (r.getTimestamp(0).toString, r.getDouble(1), r.getLong(2))).sorted
    // the late 100.0 must NOT appear anywhere; hour-1 window closed at sum 3.0
    val want = Seq(
      ("2026-01-01 01:00:00.0", 3.0, 2L),
      ("2026-01-01 02:00:00.0", 4.0, 1L),
      ("2026-01-01 06:00:00.0", 8.0, 1L)).sorted
    assert(got.toSeq == want, s"got ${got.toSeq}")
  }

  test("tiered ingest writes its sidecars on the driver: 1 job per append, <= 3 per compaction") {
    // the append's only Spark job is the micro-batch's data write; the
    // ledger, tiered_meta and meta rewrites, the batch's row count (parquet
    // footers) and, on compaction, the sidecars of the new version are all
    // driver-side. The sidecar VALUES are pinned to what the job-based
    // writers produced before.
    val dir = java.nio.file.Files.createTempDirectory("tiered_jobs").toString
    val built = TieredIndex.build(emb.filter(col("vec_id") < 400),
      IvfFlatIndex.Params(nLists = 8, nIters = 5), minAnnRows = 30,
      idCol = "vec_id", vecCol = "embedding")
    built.save(dir)
    val savedCurve = graft.sources.SidecarIO.readRows(spark, s"$dir/recall_curve").get.toSet
    // driver-held micro-batches, the shape a streaming source hands over
    def micro(lo: Int, hi: Int) = spark.createDataFrame(
      java.util.Arrays.asList(emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("vec_id"), col("embedding")).collect(): _*),
      emb.select(col("vec_id"), col("embedding")).schema)
    val (m0, m1) = (micro(400, 420), micro(420, 450))
    val appendJobs = jobsDuring(graft.stream.TieredIngest.append(m0, dir,
      "vec_id", "embedding", batchId = 0L, scope = "jobs"))
    val compactJobs = jobsDuring(graft.stream.TieredIngest.append(m1, dir,
      "vec_id", "embedding", batchId = 1L, scope = "jobs"))
    val live = TieredIndex.resolveLive(spark, dir)
    assert(live != dir, "the second append must compact")
    def rows(child: String) =
      graft.sources.SidecarIO.readRows(spark, s"$live/$child").get.toSet
    // the fold's 50 rows are 12.5% of the 400 the curve was measured on:
    // the curve is copied, and curve_rows keeps the population it measured
    assert(rows("tiered_meta") == Set(Map("min_ann_rows" -> 30L, "metric" -> "l2",
      "delta_rows" -> 0L, "curve_rows" -> 400L, "list_dirs" -> Seq(0, 1))))
    assert(rows("meta") == Set(Map("n_rows" -> 450L, "layout" -> "tiered",
      "format_version" -> graft.index.LayoutFormat.Current)))
    assert(rows("delta_commits") == Set(
      Map("scope" -> "", "max_batch_id" -> -1L, "cum_rows" -> 0L),
      Map("scope" -> "jobs", "max_batch_id" -> 1L, "cum_rows" -> 0L)))
    assert(rows("recall_curve") == savedCurve)
    assert(rows("recall_curve") == rows("tiered_base/recall_curve"))
    def schema(child: String) = spark.read.parquet(s"$live/$child").schema.simpleString
    assert(schema("delta") == "struct<id:bigint,vec:array<float>>")
    assert(schema("tiered_meta") ==
      "struct<min_ann_rows:bigint,metric:string,delta_rows:bigint,curve_rows:bigint," +
        "list_dirs:array<int>>")
    assert(schema("recall_curve") == "struct<probes:int,recall:double,k:int,n_queries:bigint>")
    assert(appendJobs == 1, s"append ran $appendJobs jobs")
    assert(compactJobs <= 3, s"compacting append ran $compactJobs jobs")
    // loading the compacted layout infers no schema
    var loaded: TieredIndex = null
    assert(jobsDuring { loaded = TieredIndex.load(spark, dir) } == 0)
    assert(loaded.base.lists.count() == 450L && loaded.delta.count() == 0L)
    // the same fold re-measures when the saved curve is older: recorded at
    // 300 rows, 150 folded rows reach half of it, and the re-measured curve
    // over the 450 rows is the pinned one
    val older = java.nio.file.Files.createTempDirectory("tiered_jobs_remeasure").toString
    built.save(older)
    graft.sources.SidecarIO.write(spark, s"$older/tiered_meta",
      TieredIndex.metaRows(spark, 30L, "l2", 0L, 300L, Seq(0)))
    graft.stream.TieredIngest.append(micro(400, 450), older, "vec_id", "embedding",
      batchId = 0L, scope = "jobs")
    val remeasured = TieredIndex.resolveLive(spark, older)
    assert(remeasured != older, "the append must compact")
    assert(graft.sources.SidecarIO.readRows(spark, s"$remeasured/recall_curve").get.toSet ==
      PinnedCurve)
    assert(graft.sources.SidecarIO.readHead(spark, s"$remeasured/tiered_meta").get
      .apply("curve_rows") == 450L)
  }

  private val PinnedCurve: Set[Map[String, Any]] = Seq(
    1 -> 0.384375, 2 -> 0.56875, 4 -> 0.79375, 8 -> 1.0).map { case (p, r) =>
      Map[String, Any]("probes" -> p, "recall" -> r, "k" -> 10, "n_queries" -> 32L)
    }.toSet
}
