package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Metric
import graft.graphops.GraphSearch

/** HNSW export + hierarchical search — `cuvs::neighbors::hnsw`
  * (hnsw.hpp:43-65: convert a CAGRA graph into an hnswlib-style index;
  * hierarchy NONE = base-layer-only, CPU/GPU = build the level hierarchy;
  * M = bidirectional links per node).
  *
  * Spark shape: the index is two tables, not a binary blob —
  * `levels` (id, level) with the standard geometric level draw
  * level = floor(−ln(U)·mL), mL = 1/ln(M), computed from a *portable*
  * integer hash so the layout is exactly SQL-replayable; and `edges`
  * (level, src, dst, dist, rank) where layer 0 is the supplied base graph
  * (CAGRA-optimized / Vamana) and each upper layer is the exact M-NN graph
  * among its members (upper layers shrink geometrically — at 1/M per
  * level — so they are tiny at any scale and their exact kNN is cheap).
  * Search descends the hierarchy greedily (searchWidth=1 per layer, the
  * hnswlib ef=1 descent) and beam-searches layer 0 with ef candidates.
  */
object Hnsw {

  case class Params(m: Int = 16, seed: Long = 42, metric: Metric = Metric.L2)

  case class Index(levels: DataFrame, edges: DataFrame, maxLevel: Int, entryPoint: Long,
      params: Params,
      // measured ef/recall relation (held-out sample vs exact top-k) —
      // the hierarchy's analog of the IVF recall_curve sidecar; the
      // kNN-join planner inverts it for default-depth registrations so a
      // recall target picks the beam width. Populated by save() (only a
      // saved layout can ever consume it), never by fromGraph: the
      // measurement costs an exact brute pass + beam sweeps, and charging
      // it to every transient hierarchy taxed search-path callers that
      // never persist (r13 regressed hnsw_search_recall 2.3x exactly so)
      efCurve: Option[Seq[(Int, Double)]] = None,
      // the curve's (k, n_queries) measurement sample — carried through a
      // load→save round trip so re-saving never downgrades the sidecar
      // from Wilson-bound inversion back to point-estimate; None on
      // legacy 2-column sidecars
      efCurveSample: Option[(Int, Long)] = None,
      // lazy handle to the (id, vec)-shaped source data, carried so save()
      // can measure the curve then — the saved hierarchy itself has no
      // vectors to measure against
      measureSource: Option[DataFrame] = None)

  private val P31 = 2147483647L // 2^31-1, the portable-hash modulus used across graft

  /** Max members at which an upper level is built as the EXACT M-NN
    * self-join; larger levels use the cell-bounded approximate
    * AllNeighbors build. A build-semantics knob, deliberately separate
    * from the LocalKernel broadcast caps. */
  def exactLevelCap(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("spark.graft.hnsw.exactLevelCap", "400000").toLong

  /** Route taken by the most recent [[search]] call ON THIS THREAD
    * ("local" | "hybrid" | "loop"). Race-free under concurrent searches,
    * unlike the session-conf mirror (kept for smoke/notebook visibility)
    * which interleaves when two threads search one session. */
  def lastSearchRoute: Option[String] = Option(lastRouteTl.get)

  private val lastRouteTl = new ThreadLocal[String]

  private def markRoute(spark: org.apache.spark.sql.SparkSession, route: String): Unit = {
    lastRouteTl.set(route)
    spark.conf.set("spark.graft.hnsw.lastSearchRoute", route)
  }

  /** Default broadcast budget for the hybrid descent's upper-layer collect,
    * derived from the driver heap actually present rather than a literal:
    * 1/8 of max heap, costed at ~100 B per boxed edge and — because the id
    * collect materializes the VECTORS, whose size is dim-dependent — at
    * `4·dim + 64` B per id (float payload + array header + map entry), so
    * a dim=1536 index is admitted at ~30× fewer ids than a dim=32 one
    * rather than sharing a dim-blind "~200 B" estimate. Both caps are
    * FLOORED at the generic LocalKernel caps (400k ids / 4M edges stock):
    * the fully-local route already collects up to those amounts, so the
    * hybrid is never narrower than it — which also means a sub-GiB driver
    * is held to the floor, not to the smaller heap-derived figure; lower
    * `spark.graft.localKernel.*` too on drivers that small. A 48 GiB
    * driver gets ~60M edges. Override:
    * spark.graft.hnsw.hybridMaxUpper{Ids,Edges}. */
  private def hybridDefaultCaps(spark: org.apache.spark.sql.SparkSession,
      dim: Int): (Long, Long) = {
    val budget = Runtime.getRuntime.maxMemory / 8
    (math.max(graft.graphops.LocalKernel.maxVectors(spark), budget / (4L * dim + 64L)),
      math.max(graft.graphops.LocalKernel.maxEdges(spark), budget / 100))
  }

  /** (id, level): geometric level assignment from a portable affine hash,
    * applied twice so small consecutive ids spread over the full modulus —
    * h = affine(affine(id)), affine(x) = (x·1000003 + 12345 + seed) mod
    * (2^31−1); U = (h+0.5)/(2^31−1); level = floor(−ln(U)/ln(M)).
    * Pure integer arithmetic + ln, replayable in the DuckDB oracle. */
  def assignLevels(data: DataFrame, params: Params, idCol: String = "id"): DataFrame = {
    def affine(x: org.apache.spark.sql.Column) =
      pmod(x * lit(1000003L) + lit(12345L + params.seed), lit(P31))
    val h = affine(affine(col(idCol).cast("long")))
    val u = (h.cast("double") + lit(0.5)) / lit(P31.toDouble)
    data.select(col(idCol).cast("long").as("id"),
      floor(-log(u) / lit(math.log(params.m.toDouble))).cast("int").as("level"))
  }

  /** Build the hierarchy over a supplied base-layer graph.
    *
    * Cost-based route (graft.graphops.LocalKernel): upper layers shrink at
    * 1/M per level, so when the vector table fits under the broadcast
    * threshold the whole hierarchy above layer 0 is computed from ONE
    * collect (per-level exact M-NN in memory, same (dist, id) ordering as
    * AllNeighbors.exact) instead of a multi-job kNN per level. Above the
    * threshold the per-level distributed builds run unchanged — and even
    * at 100 TB the layers ≥ 1 hold n/M + n/M² + … rows, so only layer 1
    * may genuinely need the distributed path. */
  def fromGraph(baseGraph: DataFrame, data: DataFrame, params: Params,
      idCol: String = "id", vecCol: String = "vec"): Index = {
    // NO measurement here — fromGraph is on the search path of callers
    // that never persist the hierarchy, and the ef sweep's brute ground
    // truth must only ever be charged to save() (the one consumer of the
    // sidecar). The un-collected source handle is kept so save can
    // measure lazily; it costs nothing unless save runs.
    buildHierarchy(baseGraph, data, params, idCol, vecCol).copy(
      measureSource = Some(data.select(col(idCol).cast("long").as("id"),
        col(vecCol).as("vec"))))
  }

  /** Held-out ef sweep: recall@k of the hierarchical search vs exact, at
    * doubling beam widths, queries drawn from the corpus with the query's
    * own row excluded on both sides (a self-match is a guaranteed hit at
    * any ef and would inflate every point by up to 1/k). Returns (curve,
    * k, measured query count) so the sidecar can carry the sample size
    * for confidence-bound inversion. `nQueries = 0` scales the sample
    * with the corpus (IvfFlatIndex.curveSampleQueries): 32 points of
    * +-0.02-grade noise at the 0.95 decision threshold are too few once
    * the corpus (and the build budget) is large. */
  private def measureEfCurve(idx: Index, data: DataFrame,
      idCol: String, vecCol: String, k: Int = 10, nQueries: Int = 0,
      seed: Long = 42): Option[(Seq[(Int, Double)], Int, Long)] = {
    import org.apache.spark.sql.functions.{row_number, xxhash64}
    val d = data.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    val nQ0 =
      if (nQueries > 0) nQueries
      else IvfFlatIndex.curveSampleQueries(idx.levels.count())
    val q = d.orderBy(xxhash64(col("id"), lit(seed)), col("id")).limit(nQ0)
      .select(col("id").as("qid"), col("vec").as("qvec"))
      .transform(graft.core.Frames.materialize(_))
    try {
      if (q.isEmpty) None
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("rank"))
        def dropSelf(res: DataFrame) = res
          .filter(col("nbr_id") =!= col("qid"))
          .withColumn("_rk", row_number().over(w)).filter(col("_rk") <= k)
          .select(col("qid"), col("nbr_id"))
        val exact = dropSelf(graft.ops.BruteForceKnn.knnJoin(
          d, q, k + 1, idx.params.metric)).localCheckpoint()
        val denom = math.max(1L, exact.count())
        val points = Seq(16, 32, 64, 128)
        // early-stop at saturation (the IVF curve's discipline): a point
        // measuring 1.0 makes the deeper, costlier beams redundant — the
        // inversion picks the smallest point meeting the target and the
        // running-max load sanitation would clamp them to 1.0 anyway
        val curve = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
        val it = points.iterator
        var saturated = false
        while (it.hasNext && !saturated) {
          val ef = it.next()
          val approx = dropSelf(search(idx, d, q, k + 1, ef,
            baseIterations = math.max(10, ef)))
          val recall = graft.core.Recall.matched(approx, exact).toDouble / denom
          curve += ((ef, recall))
          saturated = recall >= 1.0
        }
        Some((curve.toSeq, k, q.count()))
      }
    } finally q.unpersist()
  }

  private def buildHierarchy(baseGraph: DataFrame, data: DataFrame, params: Params,
      idCol: String, vecCol: String): Index = {
    val spark = data.sparkSession
    val d = data.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .transform(graft.core.Frames.materialize(_))
    val levels = assignLevels(d, params).transform(graft.core.Frames.materialize(_))
    val base = baseGraph
      .select(lit(0).as("level"), col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("dist"), col("rank"))

    if (graft.graphops.LocalKernel.enabled(spark) &&
        graft.graphops.LocalKernel.within(d,
          graft.graphops.LocalKernel.maxVectors(spark))) {
      import spark.implicits._
      val rows = d.as[(Long, Array[Float])].collect()
      def levelOf(id: Long): Int = {
        def affine(x: Long) = math.floorMod(x * 1000003L + 12345L + params.seed, P31)
        val u = (affine(affine(id)).toDouble + 0.5) / P31.toDouble
        math.floor(-math.log(u) / math.log(params.m.toDouble)).toInt
      }
      val lvl = rows.map(r => levelOf(r._1))
      val maxLevel = if (lvl.isEmpty) 0 else lvl.max
      val distFn = graft.core.Distance.fn(params.metric)
      val minClose = graft.core.Metric.isMinClose(params.metric)
      val upperRows = (1 to maxLevel).flatMap { l =>
        val members = rows.indices.filter(i => lvl(i) >= l).map(rows).toArray
        val k = math.min(params.m, (members.length - 1).max(1))
        members.flatMap { case (id, vec) =>
          val buf = graft.core.TopKBuf(k, minClose, new Array[Double](k), new Array[Long](k), 0)
          members.foreach { case (oid, ovec) =>
            if (oid != id) buf.insert(distFn(vec, ovec), oid)
          }
          buf.result().zipWithIndex.map { case (nb, rk) =>
            (l, id, nb.id, nb.dist, rk + 1)
          }
        }
      }
      val uppers = spark.createDataFrame(upperRows)
        .toDF("level", "src", "dst", "dist", "rank")
      val edges = base.unionByName(uppers).persist(StorageLevel.MEMORY_AND_DISK)
      val entry = rows.indices.filter(i => lvl(i) >= maxLevel).map(i => rows(i)._1).min
      d.unpersist()
      return Index(levels, edges, maxLevel, entry, params)
    }

    // ONE pass over the tiny (id, level) table sizes every level: members
    // at level >= l is a suffix sum of the per-level histogram. The
    // previous shape re-joined and re-counted the VECTOR table once per
    // level (~log_M(n) avoidable full scans of the big side per build).
    val levelHist: Map[Int, Long] = levels.groupBy("level").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val maxLevel = if (levelHist.isEmpty) 0 else levelHist.keys.max
    val atLeast: Map[Int, Long] = {
      var acc = 0L
      (maxLevel to 0 by -1).map { l =>
        acc += levelHist.getOrElse(l, 0L); l -> acc
      }.toMap
    }
    val uppers = (1 to maxLevel).map { l =>
      val members = d.join(levels.filter(col("level") >= l), "id")
      val mCount = atLeast(l)
      // clamp in Long space BEFORE narrowing: past 2^31 members a raw
      // .toInt wraps negative and would silently pin the level degree to 1
      val mk = math.min(params.m.toLong, (mCount - 1).max(1L)).toInt
      // Level 1 holds n/M rows — at large n an exact M-NN self-join over
      // it is the one quadratic stage left in the build. Past
      // `exactLevelCap` the level graph comes from the cell-bounded
      // AllNeighbors build instead: same (src, dst, dist, rank) shape,
      // approximate top-M per node, linear in level size at fixed cell
      // size. The cap is its OWN knob (not LocalKernel.maxVectors): the
      // kernel cap is a broadcast-capacity performance setting, and
      // re-tuning it must never silently change index CONTENTS/recall.
      val g =
        if (mCount <= exactLevelCap(spark))
          graft.graphops.AllNeighbors.exact(members, mk, params.metric, "id", "vec")
        else
          graft.graphops.AllNeighbors.build(members,
            graft.graphops.AllNeighbors.Params(k = mk,
              nClusters = math.max(16, (mCount / 3000).toInt), overlapFactor = 2,
              metric = params.metric, seed = params.seed), "id", "vec")
      g.select(lit(l).as("level"), col("src"), col("dst"), col("dist"), col("rank"))
    }
    val edges = uppers.foldLeft(base)(_ unionByName _)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize the hierarchy NOW: the upper-level builds (exact M-NN
    // per level) are build work and must not lazily land inside the first
    // search's wall time — the local route below is eager for the same
    // reason (it collects before constructing)
    edges.count()
    // deterministic entry point: smallest id on the top layer
    val entry = levels.filter(col("level") >= maxLevel).agg(min(col("id"))).head().getLong(0)
    d.unpersist()
    Index(levels, edges, maxLevel, entry, params)
  }

  /** HNSW extend — insert new vectors into an existing hierarchy (the
    * reference's hnswlib add path behind hnsw.hpp's from-CAGRA index;
    * CagraExtend.scala notes the equivalence: extend = layer-0 graph
    * insert + re-assigning levels). Spark shape: layer 0 is extended via
    * CagraExtend.extend (chunked insert, detour prune, tail-slot reverse
    * edges — every inserted node lands at exactly the base degree); the
    * level draw is a pure id hash, so existing assignments are unchanged
    * by construction and the new ids slot in deterministically; upper
    * layers are recomputed over the union by fromGraph (geometric shrink —
    * n/M + n/M² + … rows total — so the rebuild is cheap at any scale,
    * and a changed maxLevel/entry point is handled for free). */
  def extend(idx: Index, data: DataFrame, newRows: DataFrame,
      maxChunkSize: Int = 0,
      idCol: String = "id", vecCol: String = "vec"): Index = {
    val base0 = idx.edges.filter(col("level") === 0)
      .select(col("src"), col("dst"), col("dist"))
    // the base layer's out-degree is the insert degree (rank is dense 1..d)
    val degree = idx.edges.filter(col("level") === 0)
      .agg(max(col("rank"))).head().get(0).asInstanceOf[Number].intValue
    val ext = graft.graphops.CagraExtend.extend(base0, data, newRows, degree,
      graft.graphops.CagraExtend.Params(maxChunkSize = maxChunkSize,
        metric = idx.params.metric),
      idCol, vecCol)
    val all = data.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .unionByName(
        newRows.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec")))
    fromGraph(ext, all, idx.params)
  }

  /** Persist the hierarchy: level table, per-level edge tables, and a meta
    * sidecar — the "build once, deploy" split of the reference's hnswlib
    * export (hnsw.hpp:137-141), as Parquet instead of the binary format. */
  def save(idx: Index, path: String): Unit = {
    val spark = idx.edges.sparkSession
    idx.levels.write.mode("overwrite").parquet(s"$path/hnsw_levels")
    idx.edges.write.mode("overwrite").partitionBy("level").parquet(s"$path/hnsw_edges")
    import spark.implicits._
    Seq((idx.maxLevel, idx.entryPoint, idx.params.m, idx.params.seed, idx.params.metric.name))
      .toDF("max_level", "entry_point", "m", "seed", "metric")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/hnsw_meta")
    // population sidecar (one node per level-table row): the kNN-join
    // resolver's filtered-route rate math reads it instead of counting
    // the registered relation at rewrite time
    IvfFlatIndex.saveMeta(spark, path, idx.levels.count())
    // measure the ef/recall relation NOW if the build deferred it (save is
    // the only consumer; fromGraph deliberately never pays the brute
    // ground-truth pass) — same conf gate as the IVF recall_curve sidecar
    import spark.implicits._
    idx.efCurve match {
      case Some(cv) =>
        // a pre-populated curve (loaded layout re-saved) keeps its sample
        // columns when it has them — only a legacy 2-column sidecar stays
        // point-estimate after the round trip
        idx.efCurveSample match {
          case Some((k, nQ)) =>
            cv.map { case (p, r) => (p, r, k, nQ) }
              .toDF("probes", "recall", "k", "n_queries")
              .coalesce(1).write.mode("overwrite").parquet(s"$path/ef_curve")
          case None =>
            cv.toDF("probes", "recall")
              .coalesce(1).write.mode("overwrite").parquet(s"$path/ef_curve")
        }
      case None =>
        if (IvfFlatIndex.recallCurveEnabled(spark))
          idx.measureSource.flatMap(d => measureEfCurve(idx, d, "id", "vec"))
            .foreach { case (cv, k, nQ) =>
              // shared curve schema (IvfFlatIndex.loadCurve); n_queries·k
              // feeds the Wilson-bound inversion like the IVF recall_curve
              cv.map { case (p, r) => (p, r, k, nQ) }
                .toDF("probes", "recall", "k", "n_queries")
                .coalesce(1).write.mode("overwrite").parquet(s"$path/ef_curve")
            }
    }
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    // driver-side one-row meta read (r17, SidecarIO doc)
    import graft.sources.SidecarIO
    val meta = SidecarIO.readHead(spark, s"$path/hnsw_meta")
      .getOrElse(throw new IllegalStateException(s"no hnsw_meta at $path"))
    val curveKN = IvfFlatIndex.loadCurveKN(spark, path, "ef_curve")
    Index(
      spark.read.parquet(s"$path/hnsw_levels"),
      spark.read.parquet(s"$path/hnsw_edges"),
      SidecarIO.asInt(meta("max_level")), SidecarIO.asLong(meta("entry_point")),
      Params(SidecarIO.asInt(meta("m")), SidecarIO.asLong(meta("seed")),
        Metric.fromName(meta("metric").asInstanceOf[String])),
      curveKN.map(_._1), curveKN.flatMap(_._2))
  }

  /** Hierarchical search: greedy descent through upper layers, then an
    * ef-beam on the base layer. (qid, nbr_id, rank, dist).
    *
    * `baseIterations` bounds the base-layer beam's expansion rounds. An
    * explicit value > 0 is honored VERBATIM on all three routes — that is
    * the row-identity contract (LocalKernelSuite pins it), and what a
    * recall GATE should pass so its outcome can't change with the host's
    * route choice. The default 0 means AUTO: `max(10, ef)` on the local
    * route (an extra round is an in-memory step; hnswlib's canon is
    * expand-until-the-ef-queue-exhausts) and on the hybrid route (whose
    * base beam IS the distributed GraphSearch loop, but that loop exits
    * as soon as the frontier drains, so the wider bound costs jobs only
    * while the beam still improves); 10 on the per-level loop route,
    * where the bound doubles as the legacy job-count cap. Before auto, a
    * fixed default of 10 silently saturated the ef knob past ~40
    * (AnnBench measured a 0.92 held-out ceiling at ANY ef until the
    * bound tracked ef). */
  def search(idx: Index, data: DataFrame, queries: DataFrame, k: Int, ef: Int = 40,
      idCol: String = "id", vecCol: String = "vec",
      qidCol: String = "qid", qvecCol: String = "qvec",
      baseIterations: Int = 0): DataFrame = {
    require(baseIterations >= 0, s"baseIterations must be >= 0, got $baseIterations")
    // 0 = auto per route: the in-memory routes track ef, the job-loop
    // route keeps the bounded job count
    def resolvedIters(distributedBase: Boolean): Int =
      if (baseIterations > 0) baseIterations
      else if (distributedBase) 10
      else math.max(10, ef)
    val q = queries.select(col(qidCol).cast("long").as("qid"), col(qvecCol).as("qvec"))

    // Cost-based route (graft.graphops.LocalKernel): when the whole
    // hierarchy fits under the broadcast threshold, run descent + base beam
    // for all levels in ONE pass over the query side instead of one
    // GraphSearch job-loop per level. Row-identical to the per-level loop
    // below (LocalBeam mirrors GraphSearch round-for-round).
    val spark = data.sparkSession
    if (graft.graphops.LocalKernel.enabled(spark) &&
        graft.graphops.LocalKernel.within(idx.edges,
          graft.graphops.LocalKernel.maxEdges(spark)) &&
        graft.graphops.LocalKernel.within(data,
          graft.graphops.LocalKernel.maxVectors(spark))) {
      // route marker (driver-side diagnostic; lets tests and smokes assert
      // WHICH route actually ran rather than inferring it from timings)
      markRoute(spark, "local")
      return searchLocal(idx, data, q, k, ef, idCol, vecCol,
        resolvedIters(distributedBase = false))
    }

    // HYBRID route: the hierarchy shrinks geometrically (n/M + n/M² + …
    // rows above the base), so the upper layers usually fit the broadcast
    // caps even when the base layer doesn't. Run the whole greedy descent
    // in ONE broadcast pass over the query side (identical rows to the
    // per-level loop — LocalBeam mirrors GraphSearch round-for-round) to
    // produce per-query entry seeds, and only the base-layer ef-beam runs
    // as the distributed loop: maxLevel·2 join rounds collapse into one
    // map pass plus a single column-pruned scan of the upper vectors.
    if (idx.maxLevel >= 1 && graft.graphops.LocalKernel.enabled(spark)) {
      val upperIds = idx.levels.filter(col("level") >= 1).select(col("id").cast("long").as("id"))
      val upperEdges = idx.edges.filter(col("level") >= 1)
        .select(col("level").cast("int"), col("src").cast("long"), col("dst").cast("long"))
      // The hybrid's broadcast budget is its OWN pair of knobs, not the
      // generic LocalKernel caps: the upper layers hold n/M + n/M² + …
      // rows, so at n = 10M (M=16) they already exceed the 400k generic
      // cap while remaining comfortably collectable — keying the route on
      // the generic cap made the better plan unreachable exactly where it
      // matters. The DEFAULT budget is derived from the driver heap and
      // the vector dim (hybridDefaultCaps), floored at the generic caps;
      // explicit conf overrides both. LocalKernel.enabled stays the kill
      // switch. dim comes from one probe row of the query side — with no
      // queries the search is empty-result and the route choice is moot.
      // The probe is a Spark job, so it only runs when a heap-derived
      // default is actually needed: explicitly-configured searches skip it.
      val confIds = spark.conf.getOption("spark.graft.hnsw.hybridMaxUpperIds").map(_.toLong)
      val confEdges = spark.conf.getOption("spark.graft.hnsw.hybridMaxUpperEdges").map(_.toLong)
      lazy val heapCaps: (Long, Long) = {
        val qProbe = q.take(1)
        val dim = if (qProbe.isEmpty) 1
          else qProbe(0).getAs[scala.collection.Seq[Float]]("qvec").length
        hybridDefaultCaps(spark, dim)
      }
      val maxUpperIds = confIds.getOrElse(heapCaps._1)
      val maxUpperEdges = confEdges.getOrElse(heapCaps._2)
      if (graft.graphops.LocalKernel.within(upperIds, maxUpperIds) &&
          graft.graphops.LocalKernel.within(upperEdges, maxUpperEdges)) {
        markRoute(spark, "hybrid")
        import spark.implicits._
        import graft.graphops.LocalBeam
        val vecs = new java.util.HashMap[Long, Array[Float]]()
        data.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
          .join(upperIds, "id")
          .as[(Long, Array[Float])].collect().foreach { case (i, v) => vecs.put(i, v) }
        val levelAdj: Map[Int, java.util.HashMap[Long, Array[Long]]] =
          upperEdges.as[(Int, Long, Long)].collect()
            .groupBy(_._1)
            .map { case (l, es) => l -> LocalBeam.buildAdj(es.map(e => (e._2, e._3))) }
        val bcVecs = spark.sparkContext.broadcast(vecs)
        val bcAdj = spark.sparkContext.broadcast(levelAdj)
        val metric = idx.params.metric
        val minClose = Metric.isMinClose(metric)
        val (maxLevel, entry) = (idx.maxLevel, idx.entryPoint)
        val seeds = q.as[(Long, Array[Float])].map { case (qid, qvec) =>
          val distFn = graft.core.Distance.fn(metric)
          val adj = bcAdj.value; val vs = bcVecs.value
          var cur = entry
          var l = maxLevel
          while (l >= 1) {
            adj.get(l).foreach { a =>
              val beam = LocalBeam.run(qvec, Array(cur), a, vs, distFn,
                itopk = 4, searchWidth = 1, maxIterations = 2)
              LocalBeam.topK(beam, 1, minClose).headOption.foreach { case (id, _, _) => cur = id }
            }
            l -= 1
          }
          (qid, cur)
        }.toDF("qid", "id")
        return GraphSearch.search(
          idx.edges.filter(col("level") === 0).select(col("src"), col("dst")),
          data, q, k,
          GraphSearch.Params(itopk = ef, searchWidth = 4,
            maxIterations = resolvedIters(distributedBase = false),
            metric = idx.params.metric),
          idCol, vecCol, entrySeeds = Some(seeds))
      }
    }

    markRoute(spark, "loop")
    // cache the shaped dataset/query frames ONCE around the per-level
    // loop — GraphSearch detects caller-cached inputs and skips its own
    // materialize/unpersist, so the loop stops paying a full dataset
    // cache populate+drop per level (measured 130 s/level at 1M)
    val dShaped = graft.core.Frames.materialize(
      data.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec")))
    val qShaped = graft.core.Frames.materialize(q)
    try {
      var cur = qShaped.select(col("qid"), lit(idx.entryPoint).as("id"))
      for (l <- idx.maxLevel to 1 by -1) {
        cur = GraphSearch.search(
            idx.edges.filter(col("level") === l).select(col("src"), col("dst")),
            dShaped, qShaped, 1,
            GraphSearch.Params(itopk = 4, searchWidth = 1, maxIterations = 2,
              metric = idx.params.metric),
            "id", "vec", entrySeeds = Some(cur))
          .select(col("qid"), col("nbr_id").as("id"))
      }
      GraphSearch.search(
        idx.edges.filter(col("level") === 0).select(col("src"), col("dst")),
        dShaped, qShaped, k,
        GraphSearch.Params(itopk = ef, searchWidth = 4,
          maxIterations = resolvedIters(distributedBase = true),
          metric = idx.params.metric),
        "id", "vec", entrySeeds = Some(cur))
    } finally { graft.core.Frames.release(dShaped); graft.core.Frames.release(qShaped) }
  }

  /** One-pass broadcast search: per-level adjacency + vectors broadcast
    * once; every query does its full greedy descent (itopk=4, width=1,
    * 2 rounds per upper layer — the hnswlib ef=1 descent) and base-layer
    * ef-beam (width=4, 10 rounds) inside a single mapPartitions. */
  private def searchLocal(idx: Index, data: DataFrame, q: DataFrame, k: Int, ef: Int,
      idCol: String, vecCol: String, baseIterations: Int): DataFrame = {
    import graft.graphops.LocalBeam
    val spark = data.sparkSession
    import spark.implicits._
    val vecs = new java.util.HashMap[Long, Array[Float]]()
    data.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].collect().foreach { case (i, v) => vecs.put(i, v) }
    val levelAdj: Map[Int, java.util.HashMap[Long, Array[Long]]] =
      idx.edges.select(col("level").cast("int"), col("src").cast("long"), col("dst").cast("long"))
        .as[(Int, Long, Long)].collect()
        .groupBy(_._1)
        .map { case (l, es) => l -> LocalBeam.buildAdj(es.map(e => (e._2, e._3))) }
    val bcVecs = spark.sparkContext.broadcast(vecs)
    val bcAdj = spark.sparkContext.broadcast(levelAdj)
    val metric = idx.params.metric
    val minClose = graft.core.Metric.isMinClose(metric)
    val (maxLevel, entry) = (idx.maxLevel, idx.entryPoint)

    q.as[(Long, Array[Float])].flatMap { case (qid, qvec) =>
      val distFn = graft.core.Distance.fn(metric)
      val adj = bcAdj.value; val vs = bcVecs.value
      var cur = entry
      var l = maxLevel
      while (l >= 1) {
        adj.get(l).foreach { a =>
          val beam = LocalBeam.run(qvec, Array(cur), a, vs, distFn,
            itopk = 4, searchWidth = 1, maxIterations = 2)
          LocalBeam.topK(beam, 1, minClose).headOption.foreach { case (id, _, _) => cur = id }
        }
        l -= 1
      }
      val base = adj.getOrElse(0, new java.util.HashMap[Long, Array[Long]]())
      val beam = LocalBeam.run(qvec, Array(cur), base, vs, distFn,
        itopk = ef, searchWidth = 4, maxIterations = baseIterations)
      LocalBeam.topK(beam, k, minClose).map { case (id, rank, dist) => (qid, id, rank, dist) }
    }.toDF("qid", "nbr_id", "rank", "dist")
  }
}
