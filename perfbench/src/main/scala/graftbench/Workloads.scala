package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Metric
import graft.index.{IvfFlatIndex, IvfPqIndex}
import graft.plans.{GraftIndexCatalog, IndexRoute, KnnJoinPlan}
import graft.stream.{TieredIndex, TieredIngest}

/** Workload sizes. `full` is what the metric runs measure; `smoke` runs
  * the same code paths in seconds. */
final case class Size(n: Int, dim: Int, nCenters: Int, sigma: Double, nLists: Int,
    pqDim: Int, pqBits: Int, batchQueries: Int, k: Int, setupReps: Int,
    batchesPerBuild: Int, appendRows: Int, appendsPerCompaction: Int,
    freshPerBatch: Int, oracleEvery: Int)

object Size {
  val full = Size(n = 10000, dim = 32, nCenters = 32, sigma = 1.5, nLists = 8,
    pqDim = 8, pqBits = 8, batchQueries = 200, k = 10, setupReps = 3,
    batchesPerBuild = 4, appendRows = 500, appendsPerCompaction = 3,
    freshPerBatch = 20, oracleEvery = 5)
  val smoke = Size(n = 3000, dim = 16, nCenters = 8, sigma = 1.5, nLists = 8,
    pqDim = 4, pqBits = 6, batchQueries = 40, k = 10, setupReps = 2,
    batchesPerBuild = 2, appendRows = 200, appendsPerCompaction = 2,
    freshPerBatch = 4, oracleEvery = 4)
  def named(s: String): Size = s match {
    case "full" => full
    case "smoke" => smoke
    case other => throw new IllegalArgumentException(s"unknown size '$other'")
  }
}

/** State shared by one run: the session, the sizes, the operation and
  * check counters, the tracer. */
final class Ctx(val spark: SparkSession, val size: Size, val seed: Long,
    val seconds: Int, val tracer: Tracer, val work: Path) {
  var attempted = 0
  var failed = 0
  var oracle: Population = _
  val mixture = new Mixture(seed, size.dim, size.nCenters, size.sigma)

  def fail(what: String, msg: String): Unit = {
    failed += 1
    println(s"FAILED $what: $msg")
  }

  /** Run one operation; a throw is counted and reported, never timed. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case NonFatal(e) => fail(what, e.toString); None }
  }

  /** One correctness check of the benchmark's own. */
  def check(what: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) fail(what, detail)
  }

  def path(rel: String): String = work.resolve(rel).toString
}

/** What a run measured. Lists of per-operation samples are reduced to the
  * reported metrics by [[Report]]. */
final class Samples {
  val setup = ArrayBuffer.empty[Double]
  val build = ArrayBuffer.empty[Double]
  val bytesRatio = ArrayBuffer.empty[Double]
  val search = ArrayBuffer.empty[Double]
  var searchQueries = 0L
  var recallHits = 0L
  var recallTotal = 0L
  val append = ArrayBuffer.empty[Double]
  var appendedRows = 0L
  var compactions = 0
  // (latency, delta rows the search saw) of every ingest_mixed search
  val searchByDelta = ArrayBuffer.empty[(Double, Int)]
  // per timed operation: (kind, latency, traced?)
  val ops = ArrayBuffer.empty[(String, Double, Boolean)]
  var routedAny = 0
  val routedBy = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  var batches = 0
  var calibBefore = 0.0
  var calibAfter = 0.0
  var heapPeakMb = 0.0
  var cachedMbEnd = 0.0
}

/** One 200-query kNN batch: held-out queries plus, in ingest_mixed,
  * just-appended rows used as their own queries (`fresh`: qid -> row id). */
final case class Batch(qids: Array[Long], vecs: Array[Array[Float]],
    fresh: Map[Long, Long], population: Int)

object Workloads {
  val names: Seq[String] = Seq("bulk_build", "batch_search", "ingest_mixed")

  /** The recall floor every workload's batches must meet together. */
  val RecallFloor = 0.9

  def run(ctx: Ctx, name: String): Samples = {
    val s = name match {
      case "bulk_build" => bulkBuild(ctx)
      case "batch_search" => batchSearch(ctx)
      case "ingest_mixed" => ingestMixed(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val recall = s.recallHits.toDouble / math.max(1L, s.recallTotal)
    ctx.check("recall_at_10 floor", s.recallTotal > 0 && recall >= RecallFloor,
      f"recall_at_10 $recall%.4f over ${s.recallTotal / ctx.size.k} queries, floor $RecallFloor")
    s
  }

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Offset that keeps fresh-row query ids apart from held-out query ids. */
  private val FreshQid = 1000000000L

  // ---------------------------------------------------------------- set-up

  /** Generate the corpus rows [0, rows), write them as the relation's
    * parquet, and return the oracle's copy. */
  private def writeCorpus(ctx: Ctx, rows: Int, dataPath: String): Population = {
    val vecs = ctx.mixture.rows(0, 0, rows)
    val pop = new Population(ctx.size.dim)
    pop.add(vecs)
    VectorFrames.vectors(ctx.spark, Array.tabulate(rows)(_.toLong), vecs)
      .write.mode("overwrite").parquet(dataPath)
    pop
  }

  /** The planner routes through an index only above
    * `spark.graft.knnJoin.minIndexRows` (default 100k). The corpus is
    * smaller so that every run fits its time budget; the gate is lowered
    * to half the corpus, which keeps the gate's own probe job on the path
    * and still routes every batch. */
  private def openIndexGate(ctx: Ctx): Unit =
    ctx.spark.conf.set("spark.graft.knnJoin.minIndexRows", (ctx.size.n / 2).toString)

  private def flatParams(ctx: Ctx) =
    IvfFlatIndex.Params(nLists = ctx.size.nLists, seed = ctx.seed)

  private def pqParams(ctx: Ctx) =
    IvfPqIndex.Params(nLists = ctx.size.nLists, pqDim = ctx.size.pqDim,
      pqBits = ctx.size.pqBits, seed = ctx.seed)

  /** Build IVF-Flat and IVF-PQ (sharing the coarse quantizer), save both
    * with their recall-curve sidecars, register both on the relation.
    * Returns the wall time. */
  private def buildBoth(ctx: Ctx, data: DataFrame, dataPath: String,
      flatPath: String, pqPath: String): Double = {
    val t = ctx.tracer
    val t0 = now()
    val flat = t.span("index.build_flat")(IvfFlatIndex.build(data, flatParams(ctx)))
    val pq = t.span("index.build_pq")(IvfPqIndex.build(data, pqParams(ctx), base = Some(flat)))
    t.span("index.save_flat")(flat.save(flatPath))
    t.span("index.save_pq")(pq.save(pqPath))
    t.span("index.register") {
      GraftIndexCatalog.unregister(dataPath)
      GraftIndexCatalog.register(dataPath, flatPath)
      GraftIndexCatalog.register(dataPath, pqPath)
    }
    val wall = secs(t0)
    flat.lists.unpersist()
    pq.lists.unpersist()
    wall
  }

  private def checkReload(ctx: Ctx, flatPath: String, pqPath: String, n: Long): Unit = {
    ctx.op("reload flat layout") {
      val got = IvfFlatIndex.load(ctx.spark, flatPath).lists.count()
      ctx.check("flat layout reloads with n rows", got == n, s"$got rows, expected $n")
    }
    ctx.op("reload pq layout") {
      val got = IvfPqIndex.load(ctx.spark, pqPath).lists.count()
      ctx.check("pq layout reloads with n rows", got == n, s"$got rows, expected $n")
    }
  }

  private def dirBytes(p: String): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val it = Files.walk(root)
      try it.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally it.close()
    }
  }

  private def deleteTree(p: String): Unit = {
    val root = java.nio.file.Paths.get(p)
    if (Files.exists(root)) {
      val it = Files.walk(root).sorted(java.util.Comparator.reverseOrder())
      try it.forEach(f => Files.deleteIfExists(f)) finally it.close()
    }
  }

  /** Repeat `once` `reps` times, recording each wall time, then switch the
    * tracer to the timed phase; the last repetition's result is the one
    * the run uses. Set-ups that build layouts run once: a second build
    * costs more than the run's time budget allows. */
  private def setUp[T](ctx: Ctx, s: Samples, reps: Int)(once: => T): T = {
    val out = (1 to reps).map { _ =>
      val t0 = now()
      val r = once
      s.setup += secs(t0)
      r
    }.last
    ctx.tracer.phase = "timed"
    out
  }

  // ---------------------------------------------------------------- search

  private def heldOut(ctx: Ctx, from: Long, count: Int): (Array[Long], Array[Array[Float]]) =
    (Array.tabulate(count)(i => from + i), ctx.mixture.rows(1, from, from + count))

  /** Plan, execute and time one batch; check its rows; record which
    * layouts it routed through. `run` builds the kNN-join frame. A batch
    * that throws or fails its checks records no timing. */
  private def search(ctx: Ctx, s: Samples, batch: Batch, layouts: Seq[(String, String)])(
      run: DataFrame => DataFrame): Option[Double] = {
    val t = ctx.tracer
    val qdf = VectorFrames.vectors(ctx.spark, batch.qids, batch.vecs, "qid", "qvec")
    ctx.op("knn_join batch") {
      val t0 = now()
      val df = t.span("plans.plan") {
        val d = run(qdf)
        d.queryExecution.executedPlan
        d
      }
      val rows = t.span("exec.search")(df.collect())
      val lat = secs(t0)
      val routed = layouts.filter { case (_, p) => IndexRoute.routedThrough(df, p) }
      if (routed.nonEmpty) s.routedAny += 1
      routed.foreach { case (kind, _) => s.routedBy(kind) += 1 }
      s.batches += 1
      val got = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nbr_id"),
        r.getAs[Int]("rank"), r.getAs[Double]("dist")))
      if (checkBatch(ctx, s, batch, got)) {
        s.search += lat
        s.searchQueries += batch.qids.length
        Some(lat)
      } else None
    }.flatten
  }

  /** Shape, distance, read-your-writes and recall checks of one batch
    * against the plain-loop oracle; true when the batch passes. */
  private def checkBatch(ctx: Ctx, s: Samples, batch: Batch,
      rows: Array[(Long, Long, Int, Double)]): Boolean = {
    val k = ctx.size.k
    val byQ = rows.groupBy(_._1)
    val problems = ArrayBuffer.empty[String]
    batch.qids.indices.foreach { i =>
      val qid = batch.qids(i)
      val r = byQ.getOrElse(qid, Array.empty).sortBy(_._3)
      if (r.length != k || !r.map(_._3).sameElements(1 to k))
        problems += s"qid $qid: ranks ${r.map(_._3).mkString(",")}"
      else if (r.map(_._2).distinct.length != k ||
          r.exists(x => x._2 < 0 || x._2 >= batch.population))
        problems += s"qid $qid: bad neighbor ids ${r.map(_._2).mkString(",")}"
      else if (r.sliding(2).exists(p => p(1)._4 < p(0)._4 - 1e-6 * (1 + p(0)._4)))
        problems += s"qid $qid: distances not ascending"
      else batch.fresh.get(qid) match {
        case Some(own) =>
          if (r.head._2 != own || r.head._4 > 1e-9)
            problems += s"fresh row $own: rank 1 is ${r.head._2} at ${r.head._4}"
        case None if i % ctx.size.oracleEvery == 0 =>
          val q = batch.vecs(i)
          val exact = ctx.oracle.topK(q, k, batch.population).map(_.toLong).toSet
          s.recallHits += r.count(x => exact.contains(x._2))
          s.recallTotal += k
          r.find { case (_, nbr, _, d) =>
            val e = ctx.oracle.dist(q, nbr.toInt)
            math.abs(d - e) > 1e-3 * (1 + e)
          }.foreach { case (_, nbr, _, d) =>
            problems += s"qid $qid: dist to $nbr is $d, exact ${ctx.oracle.dist(q, nbr.toInt)}"
          }
        case None => ()
      }
    }
    ctx.check("knn_join batch output", problems.isEmpty,
      problems.take(3).mkString("; ") + (if (problems.size > 3) s" (+${problems.size - 3})" else ""))
    problems.isEmpty
  }

  /** In a traced run, alternate traced and untraced operations of each
    * kind, so the same run yields the tracing overhead. */
  private def timedOp(ctx: Ctx, s: Samples, kind: String)(succeeded: => Boolean): Unit = {
    val traced = ctx.tracer.enabled && s.ops.count(_._1 == kind) % 2 == 0
    if (traced) ctx.tracer.attach() else ctx.tracer.detach()
    val t0 = now()
    if (ctx.tracer.span(s"op.$kind")(succeeded)) s.ops += ((kind, secs(t0), traced))
  }

  private def timeUp(ctx: Ctx, t0: Long): Boolean = secs(t0) >= ctx.seconds

  // ------------------------------------------------------------- workloads

  /** Timed: cycles of (build both layouts, save, register, serve
    * `batchesPerBuild` batches of held-out queries over the fresh pair). */
  private def bulkBuild(ctx: Ctx): Samples = {
    val s = new Samples
    val sz = ctx.size
    val dataPath = ctx.path("corpus")
    openIndexGate(ctx)
    ctx.oracle = setUp(ctx, s, sz.setupReps)(writeCorpus(ctx, sz.n, dataPath))
    val data = ctx.spark.read.parquet(dataPath)
    val t0 = now()
    var i = 0
    var b = 0
    var prev: Option[String] = None
    while (i == 0 || !timeUp(ctx, t0)) {
      val dir = ctx.path(s"layouts/b$i")
      val (flatPath, pqPath) = (s"$dir/flat", s"$dir/pq")
      timedOp(ctx, s, "build") {
        ctx.op("build layouts")(buildBoth(ctx, data, dataPath, flatPath, pqPath))
          .map(s.build += _).isDefined
      }
      checkReload(ctx, flatPath, pqPath, sz.n)
      s.bytesRatio += (dirBytes(flatPath) + dirBytes(pqPath)).toDouble /
        (sz.n.toLong * sz.dim * 4)
      (0 until sz.batchesPerBuild).foreach { _ =>
        val (qids, vecs) = heldOut(ctx, b.toLong * sz.batchQueries, sz.batchQueries)
        timedOp(ctx, s, "search") {
          sqlSearch(ctx, s, Batch(qids, vecs, Map.empty, sz.n), dataPath,
            Seq("flat" -> flatPath, "pq" -> pqPath)).isDefined
        }
        b += 1
      }
      prev.foreach(deleteTree)
      prev = Some(dir)
      i += 1
    }
    s
  }

  /** The SQL surface: `knn_join` over two temp views, auto probes. */
  private def sqlSearch(ctx: Ctx, s: Samples, batch: Batch, dataPath: String,
      layouts: Seq[(String, String)]): Option[Double] =
    search(ctx, s, batch, layouts) { qdf =>
      ctx.spark.read.parquet(dataPath).createOrReplaceTempView("bench_corpus")
      qdf.createOrReplaceTempView("bench_queries")
      ctx.spark.sql(
        s"""SELECT qid, nbr_id, rank, dist
           |FROM knn_join('bench_corpus', 'bench_queries', ${ctx.size.k}, 'l2',
           |              'id', 'vec', 'qid', 'qvec')""".stripMargin)
    }

  /** Set-up builds and registers both layouts; timed: consecutive batches
    * of held-out queries through SQL `knn_join`. */
  private def batchSearch(ctx: Ctx): Samples = {
    val s = new Samples
    val dataPath = ctx.path("corpus")
    val (flatPath, pqPath) = (ctx.path("layouts/flat"), ctx.path("layouts/pq"))
    openIndexGate(ctx)
    ctx.oracle = setUp(ctx, s, reps = 1) {
      val pop = writeCorpus(ctx, ctx.size.n, dataPath)
      s.build += buildBoth(ctx, ctx.spark.read.parquet(dataPath), dataPath, flatPath, pqPath)
      pop
    }
    checkReload(ctx, flatPath, pqPath, ctx.size.n)
    s.bytesRatio += (dirBytes(flatPath) + dirBytes(pqPath)).toDouble /
      (ctx.size.n.toLong * ctx.size.dim * 4)
    val layouts = Seq("flat" -> flatPath, "pq" -> pqPath)
    val t0 = now()
    var b = 0
    while (b == 0 || !timeUp(ctx, t0)) {
      val (qids, vecs) = heldOut(ctx, b.toLong * ctx.size.batchQueries, ctx.size.batchQueries)
      val batch = Batch(qids, vecs, Map.empty, ctx.size.n)
      timedOp(ctx, s, "search") {
        sqlSearch(ctx, s, batch, dataPath, layouts).isDefined
      }
      b += 1
    }
    s
  }

  /** Registered with three quarters of the lists probed. With auto probes
    * the planner prices a flat layout over this corpus above a brute-force
    * scan and never routes through it; an explicit probe count is the
    * user's call, which the planner keeps. */
  private def registerTiered(ctx: Ctx, dataPath: String, tieredPath: String): Unit = {
    GraftIndexCatalog.unregister(dataPath)
    GraftIndexCatalog.register(dataPath, tieredPath, nProbes = ctx.size.nLists * 3 / 4)
  }

  /** Set-up saves a tiered layout whose IVF-Flat base covers 80% of the
    * corpus; timed: steps of (append a micro-batch, search 200 queries that
    * include rows of that micro-batch). Compaction fires on every
    * `appendsPerCompaction`-th append, and the run always ends on a
    * completed compaction interval. */
  private def ingestMixed(ctx: Ctx): Samples = {
    val s = new Samples
    val sz = ctx.size
    val dataPath = ctx.path("corpus")
    val tieredPath = ctx.path("layouts/tiered")
    val baseRows = sz.n * 4 / 5
    openIndexGate(ctx)
    ctx.oracle = setUp(ctx, s, reps = 1) {
      deleteTree(tieredPath)
      val pop = writeCorpus(ctx, baseRows, dataPath)
      val t0 = now()
      val t = ctx.tracer
      val tiered = t.span("index.build_flat")(TieredIndex.build(
        ctx.spark.read.parquet(dataPath), flatParams(ctx),
        minAnnRows = sz.appendRows.toLong * sz.appendsPerCompaction))
      t.span("index.save_flat")(tiered.save(tieredPath))
      t.span("index.register")(registerTiered(ctx, dataPath, tieredPath))
      s.build += secs(t0)
      tiered.base.lists.unpersist()
      pop
    }
    val pop = ctx.oracle
    val layouts = Seq("tiered" -> tieredPath)
    val t0 = now()
    var j = 0
    var delta = 0
    def live() = TieredIndex.resolveLive(ctx.spark, tieredPath)
    while (j == 0 || !timeUp(ctx, t0) || j % sz.appendsPerCompaction != 0) {
      val first = pop.size
      val rows = ctx.mixture.rows(0, first, first + sz.appendRows)
      val ids = Array.tabulate(sz.appendRows)(i => (first + i).toLong)
      val micro = VectorFrames.vectors(ctx.spark, ids, rows)
      val compacts = (j + 1) % sz.appendsPerCompaction == 0
      val liveBefore = live()
      timedOp(ctx, s, if (compacts) "compact" else "append") {
        val t1 = now()
        val appended = ctx.op("append") {
          ctx.tracer.span(if (compacts) "stream.compact" else "stream.append") {
            TieredIngest.append(micro, tieredPath, batchId = j.toLong, scope = "perfbench")
          }
        }
        val appendWall = secs(t1)
        appended.foreach { _ =>
          s.append += appendWall
          s.appendedRows += sz.appendRows
          pop.add(rows)
          delta = if (compacts) 0 else delta + sz.appendRows
          // keep the relation equal to the layout's population and
          // re-register, per the catalog's rebuild-after-change contract
          micro.write.mode("append").parquet(dataPath)
          registerTiered(ctx, dataPath, tieredPath)
        }
        val compacted = live() != liveBefore
        if (compacted) s.compactions += 1
        ctx.check("compaction fires on schedule", compacted == compacts,
          s"append $j: compacted=$compacted, expected $compacts")
        val freshIdx = (0 until sz.freshPerBatch).map(_ * (sz.appendRows / sz.freshPerBatch))
        val held = sz.batchQueries - sz.freshPerBatch
        val (hq, hv) = heldOut(ctx, j.toLong * held, held)
        val batch = Batch(
          hq ++ freshIdx.map(i => FreshQid + ids(i)),
          hv ++ freshIdx.map(rows(_)),
          freshIdx.map(i => (FreshQid + ids(i)) -> ids(i)).toMap,
          pop.size)
        val searched = search(ctx, s, batch, layouts) { qdf =>
          KnnJoinPlan.knnJoin(ctx.spark.read.parquet(dataPath), qdf, sz.k, Metric.L2)
        }
        searched.foreach(l => s.searchByDelta += ((l, delta)))
        appended.isDefined && searched.isDefined
      }
      j += 1
    }
    ctx.op("reload tiered layout") {
      val idx = TieredIndex.load(ctx.spark, tieredPath)
      val got = idx.base.lists.count() + idx.deltaRows
      ctx.check("tiered layout reloads with every row", got == pop.size,
        s"$got rows, expected ${pop.size}")
    }
    s.bytesRatio += dirBytes(tieredPath).toDouble / (pop.size.toLong * sz.dim * 4)
    s
  }
}
