package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Alias, Cast,
  Expression, In, Literal, NamedExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LocalRelation, LogicalPlan,
  Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.{col, count, lit, pmod, sqrt, when, xxhash64}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType}
import org.apache.spark.sql.graft.{bridge => B}
import graft.core.{GraftConf, Metric}
import graft.ops.BruteForceKnn

/** Declarative kNN join as a Catalyst node — the v2 optimizer step from
  * the round-1 plan: users state WHAT (`knn_join(data, queries, k,
  * metric)`), the optimizer picks HOW.
  *
  * `KnnJoinPlan` is a logical `BinaryNode` carrying only semantics
  * (k, metric, column names) and a fixed output schema
  * (qid, nbr_id, rank, dist). `ResolveKnnJoin` — installed through
  * `SparkSessionExtensions` (GraftExtensions) — lowers it during
  * optimization into the partial-top-k aggregation pipeline
  * (BruteForceKnn: per-partition bounded-heap select_k, merge on qid;
  * shuffle bytes O(q·k·partitions) regardless of data size, the
  * reference's tiled select_k + knn_merge_parts shape). The rewrite
  * re-aliases the produced attributes onto the node's declared exprIds so
  * enclosing plans (filters, joins, projections over the kNN output)
  * survive untouched — downstream operators compose with it like with any
  * relational node, and Catalyst pushes its own optimizations around it.
  */
case class KnnJoinPlan(
    left: LogicalPlan,  // data: (idCol, vecCol, ...)
    right: LogicalPlan, // queries: (qidCol, qvecCol, ...)
    k: Int,
    metricName: String,
    idCol: String, vecCol: String,
    qidCol: String, qvecCol: String,
    // output lives in the constructor so `copy()` during optimizer
    // transforms PRESERVES the exprIds parents already reference —
    // a fresh-`val` output would mint new ids on every tree rewrite
    output: Seq[Attribute] = KnnJoinPlan.freshOutput()) extends BinaryNode {

  /** The node consumes exactly (idCol, vecCol) / (qidCol, qvecCol) — this
    * is what lets ColumnPruning drop every other child column THROUGH the
    * node instead of pruning the children to nothing (the node carries no
    * expressions, so the default references would be empty). */
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      left.output.filter(a => a.name == idCol || a.name == vecCol) ++
      right.output.filter(a => a.name == qidCol || a.name == qvecCol))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): KnnJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Planner-visible index registry: map a dataset's file location to a
  * saved IVF layout the optimizer may route kNN joins through — the Spark
  * analog of "an index exists on this table". Registering an index with
  * partial probes is an explicit opt-in to approximate results (the
  * reference's n_probes contract).
  *
  * CONTRACT: the saved layout must match the relation's CURRENT contents
  * — after ANY change under the registered path (append, delete, rewrite)
  * re-register with a rebuilt index. The exact-distance routes answer
  * from the index alone (the reference's own serving semantics: a stale
  * index serves stale rows until rebuilt). The planner's memos are only
  * dropped by register/unregister (and `invalidateStats()`): filter-rate
  * statistics, the `meta` (layout, format version, population),
  * `recall_curve` and `depth_meta` sidecar reads, live-version
  * resolution, and the loaded layouts themselves (per session) — so a
  * layout re-saved over a registered index path is served only after
  * `register` is called again. */
object GraftIndexCatalog {
  case class Entry(indexPath: String, nProbes: Int, kCoarse: Int)
  private val byPath = scala.collection.concurrent.TrieMap.empty[String, Vector[Entry]]
  /** nProbes = 0 opts into cost-based probe selection: the planner derives
    * the probe count from the index statistics at rewrite time.
    *
    * MULTIPLE layouts may be registered over one relation (call register
    * once per layout): the resolver then routes each kNN join through the
    * CHEAPEST routable one by expected bytes read — the layout-level
    * analog of the reference's per-query plan factory
    * (search_plan.cuh:113-133; composite neighbors/composite/index.hpp:20).
    * Re-registering the SAME indexPath replaces that layout's entry (and
    * drops the statistics memos — the rebuild-after-append contract);
    * `unregister(dataPath)` removes every layout on the relation. */
  def register(dataPath: String, indexPath: String, nProbes: Int = 0, kCoarse: Int = 0): Unit = {
    val e = Entry(indexPath, nProbes, kCoarse)
    byPath.updateWith(normalize(dataPath)) {
      case Some(v) =>
        Some(v.filterNot(x => normalize(x.indexPath) == normalize(indexPath)) :+ e)
      case None => Some(Vector(e))
    }
    clearProbeCache()
  }
  def unregister(dataPath: String): Unit = {
    byPath.remove(normalize(dataPath))
    clearProbeCache()
  }
  def lookup(paths: Seq[String]): Option[Entry] = lookupAll(paths).headOption
  /** Every layout registered on any of `paths`, registration order. */
  def lookupAll(paths: Seq[String]): Seq[Entry] =
    paths.flatMap(p => byPath.get(normalize(p))).flatten.distinct
  private def normalize(p: String): String =
    p.stripPrefix("file:").stripSuffix("/")

  private val probeCacheCap = 1024

  /** Memoized `meta` reads (LayoutFormat), keyed by index path — the
    * layout, its format version and its population, one tiny parquet read
    * per registration, not one per re-optimization; likewise the measured
    * recall curve (`recall_curve`) and depth hint. A missing `meta` is NOT
    * memoized: a save racing the first query, or a filesystem hiccup,
    * must not pin the registration to brute until the next register
    * call. Same clear-on-register discipline as the statistics memos. */
  private val metaMemo =
    scala.collection.concurrent.TrieMap.empty[String, graft.index.LayoutFormat.Meta]
  private[plans] def cachedMeta(indexPath: String)(
      read: => Option[graft.index.LayoutFormat.Meta]): Option[graft.index.LayoutFormat.Meta] = {
    if (metaMemo.size >= probeCacheCap) metaMemo.clear()
    metaMemo.get(normalize(indexPath)).orElse {
      val m = read
      m.foreach(metaMemo.put(normalize(indexPath), _))
      m
    }
  }
  private val sidecarCurveMemo = scala.collection.concurrent.TrieMap
    .empty[String, Option[(Seq[(Int, Double)], Option[Long])]]
  private[plans] def cachedSidecarCurve(indexPath: String)(
      read: => Option[(Seq[(Int, Double)], Option[Long])])
      : Option[(Seq[(Int, Double)], Option[Long])] = {
    if (sidecarCurveMemo.size >= probeCacheCap) sidecarCurveMemo.clear()
    sidecarCurveMemo.getOrElseUpdate(normalize(indexPath), read)
  }
  private val sidecarDepthMemo =
    scala.collection.concurrent.TrieMap.empty[String, Option[(Int, Int)]]
  private[plans] def cachedSidecarDepth(indexPath: String)(
      read: => Option[(Int, Int)]): Option[(Int, Int)] = {
    if (sidecarDepthMemo.size >= probeCacheCap) sidecarDepthMemo.clear()
    sidecarDepthMemo.getOrElseUpdate(normalize(indexPath), read)
  }

  /** Memoized loaded layouts (each layout's `load`: centroids, codebooks
    * and `depth_meta` through SidecarIO, plus the schema inference of the
    * list table), keyed by index path and layout class — one load per
    * registration, not one per rewrite. Same clear-on-register discipline
    * as the sidecar memos, and `invalidateStats()` drops them too. A
    * loaded layout holds frames bound to the session that read it, so an
    * entry is served only to that session; another session loads its
    * own. Of a tiered layout only the base tier is memoized, under
    * `<live>/tiered_base`: a committed version never changes (compaction
    * writes a new version directory and calls `invalidateStats()`), while
    * `TieredIngest.append` changes the delta under a live registration,
    * so the delta is read on every rewrite. */
  private val loadedMemo =
    scala.collection.concurrent.TrieMap.empty[(String, String), (SparkSession, AnyRef)]
  private[graft] def cachedLoad[T <: AnyRef](spark: SparkSession, indexPath: String)(
      load: => T)(implicit tag: scala.reflect.ClassTag[T]): T = {
    if (loadedMemo.size >= probeCacheCap) loadedMemo.clear()
    val key = (normalize(indexPath), tag.runtimeClass.getName)
    loadedMemo.get(key) match {
      case Some((owner, layout)) if owner eq spark => layout.asInstanceOf[T]
      case _ =>
        val layout = load
        loadedMemo.put(key, (spark, layout))
        layout
    }
  }

  // test hook: pin that filter-count memo keys carry content identity
  private[graft] def statKeySnapshot: Set[String] = statOutcomes.keySet.toSet

  private[plans] def clearProbeCache(): Unit = {
    statOutcomes.clear()
    metaMemo.clear()
    sidecarCurveMemo.clear()
    sidecarDepthMemo.clear()
    resolvedMemo.clear()
    loadedMemo.clear()
  }

  /** Memoized live-version resolution of a registered layout root
    * (TieredIndex's version-directory scheme: an in-place-compacted
    * tiered layout's current content lives in the highest committed
    * `v_NNNNNN` subdirectory; everything else resolves to itself) — one
    * filesystem listing per registration, not one per re-optimization.
    * Same clear-on-register discipline as the other memos, and
    * `invalidateStats()` (called by the in-process auto-compaction)
    * drops it so the next rewrite plans on the new version. */
  private val resolvedMemo = scala.collection.concurrent.TrieMap.empty[String, String]
  private[plans] def cachedResolved(indexPath: String)(
      resolve: => String): String = {
    if (resolvedMemo.size >= probeCacheCap) resolvedMemo.clear()
    resolvedMemo.getOrElseUpdate(normalize(indexPath), resolve)
  }
  /** Drop one root's memoized resolution — the resolver's self-check path
    * when the memoized version directory no longer exists on disk. */
  private[plans] def invalidateResolved(indexPath: String): Unit =
    resolvedMemo.remove(normalize(indexPath))

  /** Route taken by each KnnJoinPlan rewrite, keyed by the NODE's output
    * exprIds — `(layout, indexPath)` when an index route produced the
    * plan; a brute lowering REMOVES the node's entry. The routes that
    * materialize the index at REWRITE time (the HNSW local-kernel beam
    * collects the hierarchy while planning) leave no index file scan in
    * the executed plan, so the structural detector alone can't see them;
    * this marker records the decision at the moment the non-brute branch
    * actually built the plan (the `Hnsw.lastSearchRoute` diagnostic
    * pattern). Per-node (not a thread-global last-write) so a frame with
    * TWO kNN nodes never earns the bit from the other node's route, and a
    * frame planned on a different thread than the reader keeps its
    * marker. The exprIds BIND each marker to one node instance —
    * a consumer matches them against its own frame's analyzed plan, so a
    * marker from some other query can never be claimed falsely. Bounded:
    * a pure diagnostic memo, reset wholesale past the cap. */
  def routeMarkerFor(ids: Seq[Long]): Option[(String, String)] =
    routeMarkers.get(ids.sorted.mkString(","))
  private val routeMarkers =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  private val markerCap = 4096
  private[plans] def recordRoute(ids: Seq[Long],
      route: Option[(String, String)]): Unit = {
    val key = ids.sorted.mkString(",")
    route match {
      case Some(r) =>
        // evict HALF, not everything: a cleared marker cannot be
        // recomputed on read (unlike the statistic memos), so a wholesale
        // wipe would flip earned route bits of still-live frames to
        // false negatives; halving bounds the blast radius
        if (routeMarkers.size >= markerCap)
          routeMarkers.keys.take(markerCap / 2).foreach(routeMarkers.remove)
        routeMarkers.put(key, r)
      case None => routeMarkers.remove(key)
    }
  }

  /** Memoized scalar measurements of the filtered-route rate probes,
    * keyed by (scan paths, shape fingerprint) — same clear-on-register
    * discipline as the row probes: without it every re-optimization of a
    * filtered query re-pays a plan-time scan job. */
  private val statOutcomes = scala.collection.concurrent.TrieMap.empty[String, Double]
  private[plans] def cachedStat(key: String)(stat: => Double): Double = {
    if (statOutcomes.size >= probeCacheCap) statOutcomes.clear()
    statOutcomes.getOrElseUpdate(key, stat)
  }

  /** Drop every memoized statistic/sidecar/layout read and loaded
    * layout — for callers that changed a layout's on-disk contents UNDER
    * a live registration (TieredIngest's in-place auto-compaction):
    * without this, a still-registered path would keep serving the
    * pre-compaction population, curve, and delta statistics until the
    * next register call. The route markers (pure diagnostics bound to executed
    * frames) are deliberately kept. */
  private[graft] def invalidateStats(): Unit = clearProbeCache()
}

/** Lowers KnnJoinPlan into a route chosen by the planner: a registered
  * IVF layout (any of the six) or tiered layout on the unfiltered data
  * relation, with a query side the LocalKernel gates admit (vectors, and
  * queries·depth candidate entries) -> an IndexedKnnJoin node that
  * GraftStrategy plans as one IvfSearchExec (probe-pruned scan + finish);
  * HNSW layouts, filtered shapes and over-cap query sides -> the
  * DataFrame routes + exact refine; otherwise the brute-force
  * partial-top-k pipeline. */
object ResolveKnnJoin {
  /** Install the lowering rule and the IndexedKnnJoin planning strategy on
    * a live session if absent — the runtime analog of GraftExtensions'
    * injectOptimizerRule/injectPlannerStrategy, shared by every entry
    * point that plans a KnnJoinPlan outside an extensions-configured
    * session (a planned-but-never-lowered node dies with Spark's opaque
    * "No plan for" assertion at execution). A GraftExtensions-configured
    * session already runs both via the optimizer's extended rules and the
    * planner's extra strategies — detected so register()/query paths don't
    * stack a second full-tree pass onto every query for the session's
    * lifetime. */
  def ensureInstalled(spark: SparkSession): Unit = {
    ensureStrategy(spark)
    // narrow catch: only the expected "not a classic optimizer" failures
    // (cast/linkage on a connect/foreign session) mean "can't introspect";
    // anything else should surface, not silently duplicate the rule
    val injected =
      try org.apache.spark.sql.graft.bridge.optimizer(spark)
        .extendedOperatorOptimizationRules.exists(_.isInstanceOf[ResolveKnnJoin])
      catch {
        case _: ClassCastException | _: LinkageError | _: UnsupportedOperationException =>
          false
      }
    // check-and-append must be atomic: two threads registering on one
    // session used to stack duplicate rule instances (benign output, but
    // a redundant full-tree optimizer pass per query, forever)
    if (!injected) spark.experimental.synchronized {
      if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[ResolveKnnJoin]))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ ResolveKnnJoin(spark)
    }
  }

  /** The strategy half of ensureInstalled. The rule also calls it when it
    * emits an IndexedKnnJoin, so a session that added only the rule (to
    * `experimental.extraOptimizations` by hand) still plans the node. */
  private[plans] def ensureStrategy(spark: SparkSession): Unit = {
    val injected =
      try org.apache.spark.sql.graft.bridge.planner(spark)
        .extraPlanningStrategies.contains(GraftStrategy)
      catch {
        case _: ClassCastException | _: LinkageError | _: UnsupportedOperationException =>
          false
      }
    if (!injected && !spark.experimental.extraStrategies.contains(GraftStrategy))
      spark.experimental.synchronized {
        if (!spark.experimental.extraStrategies.contains(GraftStrategy))
          spark.experimental.extraStrategies =
            GraftStrategy +: spark.experimental.extraStrategies
      }
  }

  /** Layouts already warned about a missing `recall_curve` sidecar —
    * bound the log to one line per registration, not one per
    * re-optimization. (The committed FIXTURE curve that used to back
    * legacy layouts is retired: every save since r13 measures its own
    * curve, and inverting one corpus's geometry on another silently
    * missed recall floors — a legacy layout now probes every list until
    * re-saved, docs/MIGRATION.md.) */
  private[plans] val noCurveWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Most filter-relation rows a filtered route counts at plan time to
    * size its widening; a larger filter side takes the exact brute route. */
  val MaxFilterProbeRows = 10000000L

  /** One-sided Wilson lower confidence bound on a measured proportion —
    * the statistical floor under the curve sidecars' recall points.
    * z = 1.645 (95% one-sided): over n = n_queries·k held-out (query,
    * true neighbor) pairs, the true recall exceeds this bound with 95%
    * confidence, so inverting the bound instead of the point estimate
    * turns "measured 0.95 once" into "statistically at least 0.95". */
  def wilsonLower(p: Double, n: Long, z: Double = 1.645): Double = {
    if (n <= 0) p
    else {
      val z2 = z * z
      val center = p + z2 / (2.0 * n)
      val margin = z * math.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
      math.max(0.0, (center - margin) / (1.0 + z2 / n))
    }
  }

  /** Probe count for a recall target — the reference's `min_recall ≈
    * f(n_probes/n_lists)` discipline (ann_ivf_flat.cuh:102) made usable by
    * inverting THIS index's own measured probe/recall curve, taken at
    * save time on a held-out sample against its own exact top-k
    * (IvfFlatIndex.saveMeasuredCurve) — a 0.95 target means 0.95 on this
    * geometry, not on some other corpus's. The inversion is CONSERVATIVE:
    * the smallest MEASURED probe point whose recall meets the target —
    * the sample points are the only trusted observations, and
    * interpolating a 0.95 between two noisy measurements undershoots the
    * claimed floor about half the time. When the sidecar recorded its
    * sample size (`nSamples` = n_queries·k pairs), each point is first
    * replaced by its one-sided Wilson lower bound: a point ESTIMATE of
    * 0.95 over 320 pairs is ±0.02-grade noise at exactly the default
    * decision threshold, so the inversion trusts only what the sample can
    * statistically back — a 0.95 point that can't clear the bound picks
    * the next deeper probe point (or every list) instead of claiming the
    * floor. A single-point curve is legitimate (the save sweep early-stops
    * at saturation, so an easy layout can measure 1.0 at probes = 1) and
    * inverts like any other.
    *
    * An EMPTY curve (a pre-r13 layout whose save never measured one)
    * probes every list: exactness is the only honest answer without a
    * measurement — the committed fixture curve that used to stand in is
    * retired (it was one dataset's geometry; inverting it on a harder
    * corpus silently missed the floor). Re-save the index to restore
    * calibrated selection (docs/MIGRATION.md). `targetRecall ≥ 1` and a
    * target above the curve's best measured recall also probe every list.
    * The kCoarse-coverage floor (expected scanned rows ≥ 3·kCoarse) and
    * the [1, nLists] clamp are kept. */
  def autoProbes(targetRecall: Double, nLists: Int, nRows: Long, kCoarse: Int,
      curve: Seq[(Int, Double)] = Seq.empty,
      nSamples: Option[Long] = None): Int = {
    val cv = nSamples.filter(_ > 0)
      .map(n => curve.map { case (p, r) => (p, wilsonLower(r, n)) })
      .getOrElse(curve)
    val fromCurve =
      if (cv.isEmpty || targetRecall >= 1.0 || targetRecall > cv.last._2) nLists
      else cv.find(_._2 >= targetRecall).map(_._1).getOrElse(nLists)
    val coverK = math.ceil(3.0 * kCoarse * nLists / math.max(nRows, 1L).toDouble).toInt
    math.min(nLists, math.max(1, math.max(fromCurve, coverK)))
  }

  /** Default reorder depth for a code-compressed route: the layout's
    * MEASURED worst ADC displacement (DepthHint sidecar, written at build
    * time: the deepest rank at which a true top-k neighbor appeared in
    * the full-probe code ranking of a held-out sample) plus a k margin,
    * with the legacy 4k/k+30 heuristic as the floor. A requested k AT OR
    * BELOW the measured one keeps the FULL displacement — a true top-k
    * neighbor is also a true top-measuredK neighbor, so the single
    * most-displaced neighbor the measurement saw can sit inside the
    * smaller top-k and down-scaling would silently drop it; only k above
    * the measured range extrapolates (linearly — past the measured range
    * everything is a heuristic anyway). No sidecar (legacy layout, or
    * measurement disabled at build) → the heuristic alone. */
  def compressedDepth(k: Int, hint: Option[(Int, Int)]): Int = {
    val heuristic = math.max(4 * k, k + 30)
    hint match {
      case Some((mk, disp)) if mk > 0 && disp > 0 =>
        val measured =
          if (k <= mk) disp
          else math.ceil(disp.toDouble * k / mk).toInt
        math.max(heuristic, measured + k)
      case _ => heuristic
    }
  }
}

case class ResolveKnnJoin(spark: SparkSession) extends Rule[LogicalPlan] {

  /** Same candidate ranking under both metrics (monotone transforms). */
  private def rankCompatible(a: Metric, b: Metric): Boolean =
    a == b || Set(a, b).subsetOf(Set[Metric](Metric.L2, Metric.L2Sqrt))

  /** Index routes are sound only when the node's data child IS the
    * registered relation — its full row population, not a subset. The
    * index routes search the CHILD frame: candidates generated from the
    * (full-population) saved index are inner-joined back to it, so any
    * row-reducing operator above the scan (a Filter, the filtered TVF's
    * semi/anti join, a Limit/Sample) silently drops candidates BEFORE
    * refine and the join under-returns k with no error — the exact
    * failure GraphSearch.searchFiltered's rate-widening exists to
    * prevent on the operator it serves. Only population-preserving
    * wrappers (projections, aliases — including the Project that
    * ColumnPruning inserts in the same optimizer batch) are admitted;
    * anything else falls back to the brute route, which is EXACT over
    * the filtered relation. This also closes the filter-table hijack:
    * a non-preserving left never consults the catalog, so an index
    * registered on the filter relation can't route the join. */
  private def indexEligible(plan: LogicalPlan): Boolean = plan match {
    case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
    case p: Project => indexEligible(p.child)
    case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
      indexEligible(s.child)
    case _ => false
  }

  /** The SCAN-level attribute that `plan`'s output column `name` denotes,
    * following PURE renames only (an Alias of a bare AttributeReference).
    * None when the column is computed anywhere on the way down — an index
    * route would then join the index's real scan ids/vectors against
    * remapped values and return garbage, so callers must refuse the
    * route. Population-preserving (indexEligible) is about ROW COUNT;
    * this is the complementary VALUE-IDENTITY check for the two columns
    * the routes join on. */
  private def scanAttrOf(plan: LogicalPlan, a: Attribute): Option[Attribute] = plan match {
    case _: org.apache.spark.sql.execution.datasources.LogicalRelation => Some(a)
    case pr: Project => pr.projectList.find(_.exprId == a.exprId).flatMap {
      case ar: AttributeReference => scanAttrOf(pr.child, ar)
      case al: Alias => al.child match {
        case ar: AttributeReference => scanAttrOf(pr.child, ar)
        case _ => None
      }
      case _ => None
    }
    case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
      scanAttrOf(s.child, a)
    case f: org.apache.spark.sql.catalyst.plans.logical.Filter => scanAttrOf(f.child, a)
    case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.left.outputSet.contains(a) => scanAttrOf(j.left, a)
    case _ => None
  }

  private def scanAttr(plan: LogicalPlan, name: String): Option[Attribute] =
    plan.output.find(_.name == name).flatMap(a => scanAttrOf(plan, a))

  private def scanPaths(plan: LogicalPlan): Seq[String] = plan.collect {
    case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      l.relation match {
        case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          h.location.rootPaths.map(_.toString)
        case _ => Seq.empty
      }
  }.flatten

  /** The ADC/decoded-code layouts score candidates in (residual) L2, so
    * their routes are sound only for L2-family node metrics — except the
    * PQ-coded layouts built UNDER InnerProduct (ivf_pq.hpp:47-205: the
    * build takes the generic metric enum), whose IP-LUT estimates rank an
    * IP node natively (see compressedScoreMetric). */
  private def l2Family(m: Metric): Boolean = m == Metric.L2 || m == Metric.L2Sqrt

  /** A population-REDUCING wrapper over an eligible scan that the
    * filtered index route understands: the node's data child is the
    * filter's OUTPUT, but candidates can still be generated from the
    * index over the full population and refined against the filtered
    * frame (refine's inner join IS the post-filter). The reference's
    * analog is in-search filtering with a pre/post strategy picked from
    * `filtering_rate` (common.hpp:500-638, cagra.hpp:346-355). */
  private sealed trait FilterShape { def base: LogicalPlan }
  /** Plain `Filter(cond)` over the scan — rate estimated by a seeded
    * hash-sampled probe. */
  private case class PredShape(cond: org.apache.spark.sql.catalyst.expressions.Expression,
      base: LogicalPlan) extends FilterShape
  /** Semi/anti equi-join against a filter relation (the `knn_join_filtered`
    * TVF's shape) — rate bounded by the filter side's row count.
    * `dataKey` is the data-side join attribute: the widening math is only
    * sound when it is the node's ID column (each filter row then drops at
    * most ONE distinct candidate id; a join on any other column — e.g. a
    * category — drops unboundedly many rows per filter row, so both the
    * depth+nFilter bound and the nFilter/nBase rate would silently
    * under-cover). The caller checks dataKey against kj.idCol. */
  private case class JoinShape(filterSide: LogicalPlan, anti: Boolean,
      base: LogicalPlan, dataKey: Attribute, filterKey: Attribute) extends FilterShape

  private def filteredShape(plan: LogicalPlan): Option[FilterShape] = plan match {
    case p: Project => filteredShape(p.child)
    case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
      filteredShape(s.child)
    case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if indexEligible(f.child) => Some(PredShape(f.condition, f.child))
    case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if (j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi ||
            j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti) &&
          indexEligible(j.left) =>
      // only a single-attribute equi-join bounds the dropped-candidate
      // count by the filter side's cardinality (the widening math)
      j.condition match {
        case Some(org.apache.spark.sql.catalyst.expressions.EqualTo(
            a: Attribute, b: Attribute)) =>
          val leftSet = j.left.outputSet
          val keys =
            if (leftSet.contains(a) && !leftSet.contains(b)) Some((a, b))
            else if (leftSet.contains(b) && !leftSet.contains(a)) Some((b, a))
            else None
          keys.map { case (dataKey, filterKey) => JoinShape(j.right,
            anti = j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti,
            j.left, dataKey, filterKey) }
        case _ => None
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case kj: KnnJoinPlan if kj.left.resolved && kj.right.resolved =>
      // a brute lowering must CLEAR this node's route marker, or a prior
      // routed rewrite of the same node would leave a stale earned bit
      val nodeIds = kj.output.map(_.exprId.id)
      GraftIndexCatalog.recordRoute(nodeIds, None)
      // the DataFrame routes' inputs; the IvfSearchExec route builds none
      lazy val data = B.ofRows(spark, kj.left)
      lazy val queries = B.ofRows(spark, kj.right)
        .select(col(kj.qidCol).as("qid"), col(kj.qvecCol).as("qvec"))
      // `udf:<name>` = a session-registered scalar function as the metric
      // (distance.hpp:66 CustomUDF=101, JIT'd in the reference; here the
      // registry IS the JIT). Lowered below, never index-routed: a saved
      // layout's candidate ranking has no relation to an arbitrary metric.
      val udfMetric: Option[String] =
        Option(kj.metricName).filter(_.startsWith("udf:")).map(_.stripPrefix("udf:"))
      lazy val metric = Metric.fromName(kj.metricName)
      def coarseK(e: GraftIndexCatalog.Entry, compressed: Boolean): Int =
        depthOf(e, compressed)._1
      /** coarseK with where it came from, for explain. */
      def depthOf(e: GraftIndexCatalog.Entry, compressed: Boolean): (Int, String) =
        if (e.kCoarse > 0) (e.kCoarse, "registered depth")
        // the compressed-code estimators (ADC / decoded int8) rank with
        // quantization noise, so their default reorder depth carries more
        // margin (the reference's refine recall-recovery discipline) —
        // calibrated by the layout's measured displacement sidecar when
        // one exists (ResolveKnnJoin.compressedDepth)
        else if (compressed)
          (ResolveKnnJoin.compressedDepth(kj.k,
            GraftIndexCatalog.cachedSidecarDepth(e.indexPath) {
              graft.index.DepthHint.load(spark, e.indexPath)
            }), "measured depth")
        else (math.max(2 * kj.k, kj.k + 10), "2k depth")

      /** A registered layout's `meta`: its kind, format version and
        * population (the build already knew n; no plan-time job at all). */
      def metaOf(e: GraftIndexCatalog.Entry): Option[graft.index.LayoutFormat.Meta] =
        GraftIndexCatalog.cachedMeta(e.indexPath)(graft.index.LayoutFormat.read(spark, e.indexPath))

      /** Registered-population row count, from the layout's `meta`. */
      def baseRows(e: GraftIndexCatalog.Entry): Long = metaOf(e).fold(0L)(_.nRows)

      /** Probe count, and where it came from (for explain): explicit
        * registration wins; `nProbes = 0` derives from
        * `spark.graft.knnJoin.targetRecall` through THIS layout's measured
        * probe/recall curve (the `recall_curve` sidecar written at save
        * time; a legacy layout without one probes every list — exact, and
        * warned once — until re-saved, docs/MIGRATION.md). */
      def probesOf(e: GraftIndexCatalog.Entry, nLists: Int, depth: Int): (Int, String) =
        if (e.nProbes > 0) (e.nProbes, "registered probes")
        else {
          val n = math.max(baseRows(e), 1L)
          val curve = GraftIndexCatalog.cachedSidecarCurve(e.indexPath) {
            graft.index.IvfFlatIndex.loadCurveWithN(spark, e.indexPath,
              "recall_curve")
          }
          if (curve.isEmpty && ResolveKnnJoin.noCurveWarned.add(e.indexPath))
            logWarning(s"knn_join: layout at ${e.indexPath} carries no measured " +
              "recall_curve sidecar (pre-r13 save); auto mode probes EVERY list " +
              "(exact but unpruned) — re-save the index to restore calibrated " +
              "probe selection (docs/MIGRATION.md)")
          (ResolveKnnJoin.autoProbes(GraftConf.KnnJoinTargetRecall.get(spark), nLists, n,
            depth, curve.map(_._1).getOrElse(Seq.empty),
            nSamples = curve.flatMap(_._2)), "recall_curve probes")
        }

      // The index routes are only sound when the saved index ranks
      // candidates the way the node's declared metric would — candidates
      // are generated with the index's own metric, and refine re-ranks
      // only within them. L2 and L2Sqrt are rank-equivalent (sqrt is
      // monotone); any other mismatch (e.g. a Cosine knn_join over an
      // L2-built index) falls back to the exact brute-force route
      // instead of silently degrading results. The code-compressed
      // layouts additionally require an L2-family node metric (their
      // candidate estimators score in residual L2).

      /** A code-compressed route can miss a recall floor EVEN at full
        * probes — the reorder depth caps the candidates and the ADC
        * estimate orders them, so "probe everything" is not the exactness
        * fallback it is on raw-vector layouts. In auto mode (nProbes = 0)
        * the layout's own measured refine-composed curve is the floor
        * evidence: if its BEST Wilson-bounded point
        * cannot reach the session target, the route refuses and the exact
        * brute pipeline serves the query. Measured on a 2M uniform-random
        * 256-dim corpus (the adversarial geometry): displacement capped
        * at 4096, curve saturated at recall 0.16, and the capped-depth
        * route cost 2.6× the brute scan — refusing is both honest and
        * faster there. Explicit registrations (nProbes > 0, kCoarse > 0 —
        * a pinned depth changes the recall the measured-at-calibrated-depth
        * curve speaks for, e.g. kCoarse = n is near-exact regardless) keep
        * the user's call; a legacy layout without a curve keeps the
        * documented pre-r15 behavior (no evidence either way). */
      def compressedFloorReachable(e: GraftIndexCatalog.Entry): Boolean =
        e.nProbes > 0 || e.kCoarse > 0 || {
            val target = GraftConf.KnnJoinTargetRecall.get(spark)
            GraftIndexCatalog.cachedSidecarCurve(e.indexPath) {
              graft.index.IvfFlatIndex.loadCurveWithN(spark, e.indexPath,
                "recall_curve")
            } match {
              case Some((cv, nSamples)) if cv.nonEmpty =>
                val best = cv.map(_._2).max
                nSamples.filter(_ > 0)
                  .map(nn => ResolveKnnJoin.wilsonLower(best, nn))
                  .getOrElse(best) >= target
              case _ => true
            }
          }

      /** The ef an HNSW route will ACTUALLY search with: default-depth
        * registrations (kCoarse = 0) invert THIS layout's measured
        * ef/recall sidecar at the session's recall target — the hierarchy
        * twin of the IVF auto-probe mode; an explicit kCoarse keeps
        * pinning ef via depth, and legacy layouts without a curve keep
        * the ef0 floor. Shared by candidate generation AND the layout
        * cost model, so an hnsw layout can never outbid a rival on a
        * smaller ef than the one its route would then search with. */
      def hnswEf(e: GraftIndexCatalog.Entry, ef0: Int): Int =
        if (e.kCoarse > 0) ef0
        else {
          val target = GraftConf.KnnJoinTargetRecall.get(spark)
          GraftIndexCatalog.cachedSidecarCurve(e.indexPath + "#ef") {
            graft.index.IvfFlatIndex.loadCurveWithN(spark, e.indexPath,
              "ef_curve")
          } match {
            case Some((cv0, nSamples)) =>
              // same Wilson-bound discipline as the IVF probe
              // inversion: trust only what the sample can back
              val cv = nSamples.filter(_ > 0)
                .map(n => cv0.map { case (p, r) =>
                  (p, ResolveKnnJoin.wilsonLower(r, n)) })
                .getOrElse(cv0)
              math.max(ef0,
                cv.find(_._2 >= target).map(_._1).getOrElse(cv.last._1))
            case None => ef0
          }
        }

      /** PQ-coded layout routability for the node's metric: an L2-family
        * node over an L2-family build ranks by ADC residual-L2; an
        * InnerProduct node over an InnerProduct-BUILT layout ranks by the
        * IP-LUT estimated dot; a Cosine node over a Cosine-BUILT layout
        * (vectors unit-normalized at build, queries normalized at search
        * — ivf_pq.hpp:47-205's metric enum covers cosine the same way)
        * ranks by the IP-LUT dot over normalized vectors, which orders
        * identically to cosine similarity. Any other pairing (e.g. a
        * cosine node over an L2-built layout whose candidate ranking has
        * no relation to angles) refuses the route → exact brute. */
      def compressedScoreMetric(idxMetric: Metric): Option[Metric] =
        if (idxMetric == Metric.InnerProduct && metric == Metric.InnerProduct)
          Some(Metric.InnerProduct)
        else if (idxMetric == Metric.Cosine && metric == Metric.Cosine)
          Some(Metric.Cosine)
        else if (rankCompatible(idxMetric, metric) && l2Family(metric))
          Some(Metric.L2)
        else None

      /** The inputs IvfSearchExec scans a layout with: the layout's lists
        * as its searches read them (list table, centroids, list kernel,
        * query normalization, copies per id), the probe count and why, and
        * a tiered layout's delta tier with its row count and its base
        * tier's shape. */
      final case class ScanInputs(ivf: graft.index.IvfLists, probes: Int,
          probeReason: String, delta: Option[(DataFrame, Long)] = None,
          baseShape: Option[graft.stream.TieredIndex.BaseShape] = None)

      /** A layout's candidate generation at one reorder depth, decided:
        * the metric its `dist` column is computed in, whether those
        * distances are EXACT (raw-vector layouts) or code-space estimates
        * (ADC / decoded int8 / RaBitQ), the DataFrame lowering, and — for
        * the IVF layouts, which IvfSearchExec runs — the scan inputs. */
      final case class Cand(metric: Metric, exact: Boolean, frame: () => DataFrame,
          scan: Option[ScanInputs] = None)

      /** Candidate generation per layout at reorder depth `depth`,
        * searched over the FULL registered population (`base`), or None
        * when the layout/metric pairing is unroutable. */
      def candidates(e: GraftIndexCatalog.Entry, layout: String,
          base: LogicalPlan, depth: Int): Option[Cand] = {
        def loaded[T <: AnyRef: scala.reflect.ClassTag](
            load: (SparkSession, String) => T): T =
          GraftIndexCatalog.cachedLoad(spark, e.indexPath)(load(spark, e.indexPath))
        /** An IVF layout's candidates: its library `search` over the probe
          * count this entry resolves to, and the same lists for the
          * operator. */
        def ivfCand(m: Metric, exact: Boolean, ivf: graft.index.IvfLists,
            search: (DataFrame, Int, Int) => DataFrame): Cand = {
          val (probes, why) = probesOf(e, ivf.cs.k, depth)
          Cand(m, exact, () => search(queries, depth, probes), Some(ScanInputs(ivf, probes, why)))
        }
        layout match {
          case "hnsw" =>
            val idx = loaded(graft.index.Hnsw.load)
            if (!rankCompatible(idx.params.metric, metric)) None
            else {
              // pin the base-beam bound EXPLICITLY at the ef-tracking
              // value: baseIterations = 0 resolves differently per kernel
              // route (max(10, ef) local/hybrid, 10 on the distributed
              // loop), and a planner rewrite must return the same rows
              // wherever the cost model lands; the distributed loop exits
              // on an empty frontier, so the honest bound costs jobs only
              // while the beam still improves
              val ef0 = math.max(40, depth)
              val ef = hnswEf(e, ef0)
              Some(Cand(idx.params.metric, exact = true, () =>
                graft.index.Hnsw.search(idx, B.ofRows(spark, base), queries,
                  depth, ef = ef, kj.idCol, kj.vecCol, baseIterations = math.max(10, ef))))
            }
          case "ivf" =>
            val idx = loaded(graft.index.IvfFlatIndex.load)
            if (!rankCompatible(idx.metric, metric)) None
            else Some(ivfCand(idx.metric, exact = true, idx.ivfLists, idx.search(_, _, _)))
          case "tiered" =>
            // the streaming-ingest lifecycle layout (tiered_index.hpp:
            // 59-136): candidates = probe-pruned ANN-tier search ∪ exact
            // scan of the (small) delta tier, merged per query — both
            // tiers carry EXACT raw-vector distances, so the route
            // finishes directly like IVF-Flat. The registration contract
            // covers the pair: base + delta must equal the relation.
            // e.indexPath is the live version directory (entriesFor): its
            // base tier is memoized, its delta read on every rewrite.
            val idx = graft.stream.TieredIndex.loadLive(spark, e.indexPath,
              GraftIndexCatalog.cachedLoad(spark, s"${e.indexPath}/tiered_base")(
                graft.stream.TieredIndex.loadBase(spark, e.indexPath)))
            if (!rankCompatible(idx.metric, metric)) None
            else {
              val c = ivfCand(idx.metric, exact = true, idx.base.ivfLists, idx.search(_, _, _))
              Some(c.copy(scan = c.scan.map(_.copy(
                delta = idx.knownDeltaRows.map((idx.delta, _)), baseShape = idx.saved))))
            }
          case "ivf_sq" =>
            // decoded int8 scored under the index's own metric —
            // quantization noise makes the dists estimates, not exact
            if (!compressedFloorReachable(e)) None
            else {
              val idx = loaded(graft.index.IvfSqIndex.load)
              if (!rankCompatible(idx.metric, metric)) None
              else Some(ivfCand(idx.metric, exact = false, idx.ivfLists, idx.search(_, _, _)))
            }
          case "ivf_pq" =>
            if (!compressedFloorReachable(e)) None
            else {
              val idx = loaded(graft.index.IvfPqIndex.load)
              compressedScoreMetric(idx.metric).map(
                ivfCand(_, exact = false, idx.ivfLists, idx.search(_, _, _)))
            }
          case "ivf_pqcl" =>
            if (!compressedFloorReachable(e)) None
            else {
              val idx = loaded(graft.index.IvfPqClusterIndex.load)
              compressedScoreMetric(idx.metric).map(
                ivfCand(_, exact = false, idx.ivfLists, idx.search(_, _, _)))
            }
          case "scann" =>
            if (!compressedFloorReachable(e)) None
            else {
              val idx = loaded(graft.index.ScannIndex.load)
              compressedScoreMetric(idx.metric).map(
                ivfCand(_, exact = false, idx.ivfLists, idx.search(_, _, _)))
            }
          case "rabitq" =>
            // RaBitQ estimates are L2-only by construction
            if (!compressedFloorReachable(e) || !l2Family(metric)) None
            else {
              val idx = loaded(graft.index.IvfRabitqIndex.load)
              Some(ivfCand(Metric.L2, exact = false, idx.ivfLists, idx.search(_, _, _)))
            }
          case _ => None
        }
      }

      /** EXACT dist map to the node metric: identity, or sqrt of the same
        * accumulated double (bit-identical to recomputing L2Sqrt from the
        * vectors — Distance.l2sqrt IS sqrt of the l2 sum). The reverse
        * (squaring an already-rounded sqrt) is NOT exact (~1 ulp double
        * rounding), so that combination keeps the refine path.
        * Some(true) = sqrt, Some(false) = identity, None = no exact map. */
      def nodeDistSqrt(from: Metric): Option[Boolean] =
        if (from == metric) Some(false)
        else if (from == Metric.L2 && metric == Metric.L2Sqrt) Some(true)
        else None

      /** What stands between the index's candidates and the node's
        * output: nothing (full population), a small id deny/allow list
        * (post-filter the candidates directly — no second data scan), or
        * an arbitrary predicate/large filter (post-filter THROUGH the
        * node's own filtered child). */
      sealed trait Post
      case object NoFilter extends Post
      case class IdFilter(filterSide: LogicalPlan, key: Attribute,
          anti: Boolean) extends Post
      case object ViaData extends Post

      /** One layout's route, decided: the final reorder depth, the
        * candidate generation at that depth, the finish — Some(sqrt?) =
        * direct (the candidate dists map exactly to the node metric, with
        * or without a sqrt), None = exact refine — and where the depth came
        * from. Both lowerings (`lowerFrame`, `lowerIndexed`) take it as is. */
      final case class Route(e: GraftIndexCatalog.Entry, layout: String, depth: Int,
          depthReason: String, cand: Cand, direct: Option[Boolean])

      /** Index route = candidates over the full population, then the
        * cheapest sound finish:
        *  - EXACT-distance layouts (raw-vector IVF-Flat, HNSW) with no
        *    filter or a small id filter never touch the data again: the
        *    candidate dists map monotonically to the node metric and the
        *    select_k epilogue re-ranks — at 100 TB this is the difference
        *    between reading nProbes/nLists of the bytes and reading them
        *    all a second time for refine (refine.hpp exists for CODE
        *    layouts, whose estimates need exact recomputation);
        *  - code layouts, and any shape that must evaluate a predicate,
        *    refine against the node's data child — its inner join IS the
        *    post-filter, so disallowed ids can never surface.
        * `widen` turns the layout's base reorder depth into (final depth,
        * small-id-filter?) — identity for full population, the
        * filtering_rate analog for filtered shapes, None = brute. */
      def decide(e: GraftIndexCatalog.Entry, layout: String, base: LogicalPlan,
          widen: Int => Option[(Int, Boolean)], post: Post): Option[Route] = {
        val compressed =
          layout == "ivf_pq" || layout == "ivf_pqcl" || layout == "scann" ||
            layout == "rabitq" || layout == "ivf_sq"
        val (depth0, depthReason) = depthOf(e, compressed)
        widen(depth0).flatMap { case (depth, smallIdFilter) =>
          candidates(e, layout, base, depth).map { cand =>
            // the broadcast post-filter re-joins on ids cast to long, so
            // the id key type must make that cast lossless — a string
            // or fractional id would change the user's typed equality
            def integral(t: org.apache.spark.sql.types.DataType): Boolean = t match {
              case org.apache.spark.sql.types.LongType |
                   org.apache.spark.sql.types.IntegerType |
                   org.apache.spark.sql.types.ShortType |
                   org.apache.spark.sql.types.ByteType => true
              case _ => false
            }
            // direct finish answers from the index ALONE (no refine join
            // against the live relation), so a stale index serves
            // deleted/rewritten rows the refine inner-join used to mask.
            // The registration contract already forbids stale indexes
            // (GraftIndexCatalog doc), but existing registrations that
            // leaned on that masking can pin the old refine behavior
            // with this conf (docs/MIGRATION.md).
            val directEnabled = GraftConf.KnnJoinDirectFinish.get(spark)
            val postAllows = post match {
              case NoFilter => true
              case f: IdFilter => smallIdFilter && integral(f.key.dataType)
              case ViaData => false
            }
            val direct =
              if (cand.exact && directEnabled && postAllows) nodeDistSqrt(cand.metric)
              else None
            Route(e, layout, depth, depthReason, cand, direct)
          }
        }
      }

      /** The DataFrame lowering of a route: the candidate frame, then the
        * select_k epilogue (direct) or the exact refine join. */
      def lowerFrame(r: Route, post: Post): DataFrame = {
        GraftIndexCatalog.recordRoute(nodeIds, Some((r.layout, r.e.indexPath)))
        val cand = r.cand.frame()
        r.direct match {
          case Some(sq) =>
            val scored = cand.select(col("qid"),
              col("nbr_id").cast("long").as("id"),
              (if (sq) sqrt(col("dist")) else col("dist")).as("dist"))
            val allowed = post match {
              case IdFilter(fs, key, anti) =>
                val ids = B.ofRows(spark, fs)
                  .select(B.column(key).cast("long").as("id"))
                scored.join(org.apache.spark.sql.functions.broadcast(ids),
                  Seq("id"), if (anti) "left_anti" else "left_semi")
              case _ => scored
            }
            BruteForceKnn.knnFromDistances(allowed, kj.k,
              minClose = Metric.isMinClose(metric))
          case None =>
            // pin the refine join's build side: candidates are
            // q·depth·16 B — within the same broadcast budget class
            // as the query side every route already broadcasts when
            // the depth is moderate; past the per-query byte budget
            // (e.g. a displacement-capped depth 4096) leave the
            // strategy to Catalyst/AQE rather than risk the driver
            val bcastCand =
              r.depth.toLong * 16L <= GraftConf.RefineMaxBroadcastBytesPerQuery.get(spark)
            graft.ops.Refine.refine(cand.select(col("qid"), col("nbr_id").as("id")),
              data, queries, kj.k, metric, kj.idCol, kj.vecCol,
              broadcastCandidates = bcastCand)
        }
      }

      /** The query side as a driver-held (qid long, qvec array<float>)
        * relation of at most `cap` rows, when the LocalKernel gate admits
        * it — IvfSearchExec's input, materialized as the kernel route
        * did: a driver-built frame is read as is (no job), any other is
        * counted up to `cap` and collected, once per node. Rows with a
        * null qid are dropped, as the join route's inner join on qid drops
        * them. None sends the node to the DataFrame routes: the gate is
        * off, the side holds more than `cap` rows, or a query vector is
        * null or holds a null. */
      var held: Option[LocalRelation] = None
      var heldRefusedAt = Long.MaxValue // the smallest cap known to refuse
      def heldQueries(cap: Long): Option[LocalRelation] = held match {
        case Some(l) => Some(l).filter(_.data.size <= cap)
        case None if cap >= heldRefusedAt || !graft.graphops.LocalKernel.enabled(spark) => None
        case None =>
          val resolver = org.apache.spark.sql.internal.SQLConf.get.resolver
          def attr(name: String) = kj.right.output.find(a => resolver(a.name, name))
          val got = for {
            qidA <- attr(kj.qidCol)
            qvecA <- attr(kj.qvecCol)
            rel <- {
              val proj = Seq(Alias(Cast(qidA, LongType), "qid")(),
                Alias(Cast(qvecA, ArrayType(FloatType)), "qvec")())
              kj.right match {
                case l: LocalRelation if l.data.size <= cap =>
                  val p = UnsafeProjection.create(proj, l.output)
                  Some(LocalRelation(proj.map(_.toAttribute), l.data.map(r => p(r).copy())))
                case _: LocalRelation => None
                case other =>
                  val qe = B.executePlan(spark, Project(proj, other))
                  qe.optimizedPlan match {
                    case l: LocalRelation => Some(l).filter(_.data.size <= cap)
                    case _ if graft.graphops.LocalKernel.within(qe, cap) =>
                      Some(LocalRelation(qe.optimizedPlan.output, B.collect(qe).toSeq))
                    case _ => None
                  }
              }
            }
          } yield rel
          def complete(r: org.apache.spark.sql.catalyst.InternalRow): Boolean =
            !r.isNullAt(1) && {
              val v = r.getArray(1)
              (0 until v.numElements()).forall(!v.isNullAt(_))
            }
          got.map(l => l.copy(data = l.data.filterNot(_.isNullAt(0)))) match {
            case Some(l) if l.data.forall(complete) => held = Some(l)
            case Some(_) => heldRefusedAt = Long.MinValue
            case None => heldRefusedAt = cap
          }
          held
      }

      /** A route that IvfSearchExec runs: its scan inputs, and the query
        * side held on the driver within both LocalKernel budgets — at most
        * `maxVectors` query vectors, and at most `maxEdges` candidate
        * entries (queries·depth), the entries the operator collects and
        * the refine finish broadcasts. Past either the node keeps the
        * DataFrame route, whose candidates stay distributed. */
      def indexedInputs(r: Route): Option[(ScanInputs, LocalRelation)] =
        r.cand.scan.flatMap { si =>
          val cap = math.min(graft.graphops.LocalKernel.maxVectors(spark),
            graft.graphops.LocalKernel.maxEdges(spark) / math.max(1, r.depth))
          heldQueries(cap).map((si, _))
        }

      /** The resolved IndexedKnnJoin of a route: the probed batch built
        * on the driver from the held queries, the list relation pruned to
        * the probed lists — for a tiered layout with a non-empty delta,
        * unioned with the delta as list `nLists`, which every query
        * probes — and the data child for the refine finish. */
      def lowerIndexed(r: Route, si: ScanInputs, held: LocalRelation): LogicalPlan = {
        GraftIndexCatalog.recordRoute(nodeIds, Some((r.layout, r.e.indexPath)))
        val ivf = si.ivf
        val vecs = held.data.map { row =>
          val v = row.getArray(1)
          (if (ivf.normalize) graft.expr.VectorNormOps.unitNorm(v) else v).toFloatArray()
        }.toArray
        val probed = ivf.scan.batch(ivf.cs, vecs, _ => si.probes)
        // fresh attribute ids per scan, carried up through the plan over it
        // (a tiered base tier projects its `g` column away)
        val rel = B.planOf(ivf.lists).transformUpWithNewOutput {
          case m: LogicalPlan with org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation =>
            val fresh = m.newInstance()
            (fresh, m.output.zip(fresh.output))
        }
        def attrOf(plan: LogicalPlan, what: String)(name: String) =
          plan.output.find(_.name == name).getOrElse(
            throw new IllegalStateException(s"$what at ${r.e.indexPath} has no $name"))
        // (list_id, id, the scan's columns), each cast to what the scan reads
        def scanned(listId: Expression, attr: String => Attribute) =
          Alias(listId, "list_id")() +: Alias(Cast(attr("id"), LongType), "id")() +:
            ivf.scan.columns.map { case (c, t) => Alias(Cast(attr(c), t), c)() }
        val listAttr = attrOf(rel, "list table") _
        val lid = listAttr("list_id")
        val listPlan = Project(scanned(Cast(lid, IntegerType), listAttr),
          Filter(In(Cast(lid, IntegerType), probed.probedLists.sorted.map(Literal(_))), rel))
        val (lists, batch) = si.delta match {
          case Some((delta, n)) if n > 0 =>
            val d = B.planOf(delta)
            (Union(listPlan, Project(scanned(Literal(ivf.cs.k), attrOf(d, "delta tier")), d)),
              probed.probingAll(ivf.cs.k))
          case _ => (listPlan, probed)
        }
        val (fin, dataPlan) = r.direct match {
          case Some(sq) => (DirectFinish(sq, Metric.isMinClose(metric)), None)
          case None =>
            // present: columnsTraceToScan found both by these names
            def dataAttr(name: String) = kj.left.output.find(_.name == name).get
            (RefineFinish(metric), Some(Project(Seq(
              Alias(Cast(dataAttr(kj.idCol), LongType), "id")(),
              Alias(Cast(dataAttr(kj.vecCol), ArrayType(FloatType)), "vec")()), kj.left)))
        }
        ResolveKnnJoin.ensureStrategy(spark)
        IndexedKnnJoin(IvfSearch(r.layout, r.e.indexPath, ivf.scan, batch, ivf.cs.k, si.probes,
          r.depth, kj.k, fin, s"${si.probeReason}, ${r.depthReason}", ivf.copies,
          si.delta.map(_._2), si.baseShape),
          lists, dataPlan, held, kj.output)
      }

      // Plan-time statistics gate — the search_plan.cuh:113-133 analog:
      // the route is a cost decision on relation statistics, not just
      // index availability. Below `minIndexRows` the brute partial-top-k
      // pipeline (one scan stage) beats any index route (centroid join +
      // pruned list join + exact refine join), so a registered index is
      // bypassed. Row count comes from the logical plan's stats when the
      // catalog knows it, else from the `meta` of the first current
      // registered (live-resolved) layout — the same memoized read
      // `baseRows` uses; the layout's population IS the relation's by the
      // registration contract. No job: never a count of the data side.
      // minIndexRows <= 0 disables the gate (always trust registration).
      val minIndexRows = GraftConf.KnnJoinMinIndexRows.get(spark)
      def bigEnoughForIndex(base: LogicalPlan, metas: Seq[graft.index.LayoutFormat.Meta]): Boolean =
        minIndexRows <= 0 || base.stats.rowCount.map(_ >= BigInt(minIndexRows))
          .getOrElse(metas.headOption.exists(_.nRows >= minIndexRows))

      /** Expected per-query read cost of routing through `e`, in RAW-ROW
        * units — the cost model behind multi-layout selection (the
        * reference picks its plan per query from alternatives,
        * search_plan.cuh:113-133; composite
        * neighbors/composite/index.hpp:20): probe-fraction × population,
        * scaled by the stored row's width relative to the raw vector
        * (codes are narrower), plus the exact-refine read (reorder depth
        * in raw rows) on code-compressed layouts, plus the delta tier's
        * exact scan on tiered layouts; an HNSW beam reads ~ef·m vectors.
        * Every input is a memoized one-row sidecar read (centroid
        * count/dim, codebook pq_dim, population) — never the lists; an
        * unreadable layout costs MaxValue so a broken candidate can never
        * outbid a working one. */
      def layoutCost(e: GraftIndexCatalog.Entry, layout: String,
          base: LogicalPlan, depthOverride: Option[Int] = None): Double =
        try {
          // every stat below is a DRIVER-SIDE sidecar read (r17,
          // SidecarIO): a missing path/field throws here and the catch
          // prices the layout MaxValue, exactly like the old job-based
          // head() did
          if (layout == "hnsw") {
            val m = GraftIndexCatalog.cachedStat(s"cost:m:${e.indexPath}") {
              graft.sources.SidecarIO.asDouble(graft.sources.SidecarIO
                .readHead(spark, s"${e.indexPath}/hnsw_meta").get.apply("m"))
            }
            // price the ef the route would REALLY search with (the same
            // ef_curve inversion candidate generation applies) — a stale
            // max(40, depth) here could win the bid and then read far more
            hnswEf(e, math.max(40,
              depthOverride.getOrElse(coarseK(e, compressed = false)))) * m
          } else {
            val compressed = layout == "ivf_pq" || layout == "ivf_pqcl" ||
              layout == "scann" || layout == "rabitq" || layout == "ivf_sq"
            val depth = depthOverride.getOrElse(coarseK(e, compressed))
            val statsBase =
              if (layout == "tiered") s"${e.indexPath}/tiered_base" else e.indexPath
            val nLists = GraftIndexCatalog.cachedStat(s"cost:nlists:$statsBase") {
              // footer-only record count — no data pages, no job
              graft.sources.SidecarIO.rowCount(spark, s"$statsBase/centroids")
                .get.toDouble
            }
            val dim = GraftIndexCatalog.cachedStat(s"cost:dim:$statsBase") {
              graft.sources.SidecarIO.asDouble(graft.sources.SidecarIO
                .readHead(spark, s"$statsBase/centroids").get.apply("dim"))
            }
            val n = math.max(baseRows(e), 1L).toDouble
            val probes = probesOf(e, math.max(1, nLists.toInt), depth)._1
            val pf = probes / math.max(1.0, nLists)
            val width = layout match {
              case "ivf" | "tiered" => 1.0
              case "ivf_sq" => 0.25        // int8 codes vs float32
              case "rabitq" =>             // bits_per_dim vs float32
                val bits = GraftIndexCatalog.cachedStat(s"cost:rbits:${e.indexPath}") {
                  graft.sources.SidecarIO.asDouble(graft.sources.SidecarIO
                    .readHead(spark, s"${e.indexPath}/rotation").get.apply("bits_per_dim"))
                }
                bits / 32.0
              case _ =>                    // PQ family: pq_dim ints vs dim floats
                val pqBooks =
                  if (layout == "ivf_pqcl") "cluster_codebooks" else "codebooks"
                val pqDim = GraftIndexCatalog.cachedStat(s"cost:pqdim:${e.indexPath}") {
                  graft.sources.SidecarIO.asDouble(graft.sources.SidecarIO
                    .readHead(spark, s"${e.indexPath}/$pqBooks").get.apply("pq_dim"))
                }
                pqDim / math.max(1.0, dim)
            }
            val deltaScan =
              if (layout == "tiered")
                GraftIndexCatalog.cachedStat(s"cost:delta:${e.indexPath}") {
                  graft.sources.SidecarIO.asDouble(graft.sources.SidecarIO
                    .readHead(spark, s"${e.indexPath}/tiered_meta").get.apply("delta_rows"))
                }
              else 0.0
            // the tiered meta population is base + delta; only the BASE is
            // probe-pruned (the delta is always scanned exactly), so the
            // delta must not also ride the pf term
            val pop =
              if (layout == "scann") 2.0 * n // SOAR stores 2 copies
              else math.max(0.0, n - deltaScan)
            pf * pop * width + (if (compressed) depth.toDouble else 0.0) + deltaScan
          }
        } catch {
          case scala.util.control.NonFatal(_) => Double.MaxValue
        }

      /** A registration whose search parameters the USER pinned — an
        * explicit probe count or an explicit reorder depth. Such
        * registrations keep the user's call in every price/floor decision
        * (compressedFloorReachable); only FULLY-AUTO entries submit to the
        * cost model's brute arm below. */
      def explicitRegistration(e: GraftIndexCatalog.Entry): Boolean =
        e.nProbes > 0 || e.kCoarse > 0

      /** Registered layouts on `base`, cheapest-first when there is a
        * choice, with the BRUTE ALTERNATIVE priced as a competing arm —
        * the reference's own plan factory prices its fallback path too
        * (knn_brute_force.cuh:353-501 fused-vs-tiled choice;
        * search_plan.cuh:113-133). Brute reads the full population at raw
        * row width and refines nothing, so its expected per-query read is
        * exactly `n` in layoutCost's raw-row currency; a fully-auto
        * layout whose route prices at or above that is dropped here and
        * the exact brute pipeline serves the query (e.g. a layout whose
        * measured curve demands every probe, or a compressed layout whose
        * displacement-calibrated refine depth approaches the population).
        * Explicit registrations keep the user's call, like the recall
        * floor; `spark.graft.knnJoin.bruteArm.enabled=false` restores the
        * pre-r17 index-if-routable behavior. An explicit-vs-auto mix
        * still sorts purely by cost — the arm only removes auto entries
        * that priced above brute, never reorders survivors. */
      var refused: Option[String] = None
      def entriesFor(base: LogicalPlan): Seq[(GraftIndexCatalog.Entry, String)] = {
        val es0 = GraftIndexCatalog.lookupAll(scanPaths(base))
        if (es0.isEmpty) Seq.empty
        else {
          // registrations name the layout ROOT; an in-place-compacted
          // tiered layout's current content lives in its highest committed
          // version directory (TieredIndex.resolveLive) — resolve ONCE
          // here, so every downstream load/sidecar/cost read (and the
          // route marker) addresses one consistent version. The memos key
          // sidecar statistics to the version directory they were read
          // from, so a compaction can never serve a new version with the
          // old version's statistics.
          val es = es0.map { e =>
            def resolve() = GraftIndexCatalog.cachedResolved(e.indexPath) {
              graft.stream.TieredIndex.resolveLive(spark, e.indexPath)
            }
            val memo = resolve()
            val live =
              if (memo == e.indexPath) memo
              else {
                // self-check the memo: a compaction OUTSIDE this JVM's
                // invalidation reach (another process, or a registration
                // outliving invalidateStats) can retire the memoized
                // version directory — one exists() per rewrite buys a
                // re-resolve instead of planning onto deleted files
                val p = new org.apache.hadoop.fs.Path(memo, "tiered_meta")
                if (graft.sources.SidecarIO.fs(spark, p.toString).exists(p))
                  memo
                else {
                  GraftIndexCatalog.invalidateResolved(e.indexPath)
                  resolve()
                }
              }
            if (live == e.indexPath) e else e.copy(indexPath = live)
          }
          // each layout's kind, version and population from its `meta`;
          // one in an older format is refused and serves by exact brute
          // force, the reason in `explain`
          val metas = es0.zip(es).map { case (root, e) =>
            val m = metaOf(e)
            if (!m.exists(_.current))
              refused = refused.orElse(Some(graft.index.LayoutFormat.refusal(root.indexPath, m)))
            (e, m.filter(_.current))
          }.collect { case (e, Some(m)) => (e, m) }
          val typed =
            if (!bigEnoughForIndex(base, metas.map(_._2))) Seq.empty
            else metas.map { case (e, m) => (e, m.layout) }
          val ordered =
            if (typed.size <= 1) typed
            else typed.sortBy { case (e, l) => (layoutCost(e, l, base), e.indexPath) }
          val bruteArm = typed.exists(t => !explicitRegistration(t._1)) &&
            GraftConf.KnnJoinBruteArm.get(spark)
          if (!bruteArm) ordered
          else ordered.filter { case (e, l) =>
            explicitRegistration(e) || {
              val brute = math.max(baseRows(e), 1L).toDouble
              layoutCost(e, l, base) < brute
            }
          }
        }
      }

      /** Widened reorder depth for a filtered shape — the planner-level
        * `filtering_rate` strategy (cagra.hpp:346-355): estimate the pass
        * rate, widen the depth so the allowed candidates still cover the
        * requested reorder, and refuse the route (→ exact brute over the
        * filtered frame) when the rate is unknown, below the floor, or
        * the widened depth would blow past the cap. Returns (widened
        * depth, small-id-filter?, estimated pass rate) — the rate feeds
        * the filtered brute arm at the call site: the brute alternative
        * for a filtered query scans only rate × population, so a
        * fully-auto route must price its WIDENED read under that, not
        * under the full scan. For a deny equi-join
        * whose list fits under the cap, `depth + nDeny` is used instead:
        * the anti join can drop at most nDeny distinct ids, so the
        * filtered result is as exact as the underlying candidate set
        * (exact at full probes) — the gate's shape. */
      def widenedDepth(shape: FilterShape, base: LogicalPlan,
          e: GraftIndexCatalog.Entry)(depth: Int): Option[(Int, Boolean, Double)] = {
        val widenCap = GraftConf.KnnJoinMaxWidenedCoarse.get(spark)
        val rateFloor = GraftConf.KnnJoinMinFilterRate.get(spark)
        val nBase = math.max(baseRows(e), 1L)
        // rate-branch result: the filter is NOT small enough to
        // post-filter candidates directly (refine via the data child)
        def byRate(rate: Double): Option[(Int, Boolean, Double)] =
          if (rate < rateFloor) None
          else {
            val d = math.ceil(depth / rate)
            if (d <= widenCap) Some((math.max(depth, d.toInt), false, rate))
            else None
          }
        val statKeyBase = scanPaths(base).sorted.mkString(",")
        shape match {
          case JoinShape(filterSide, anti, _, _, filterKey) =>
            // bound the plan-time count: a filter relation past the cap
            // can't take the exactness-preserving widening anyway, and
            // counting an arbitrarily large relation at plan time is not
            // a price a rewrite should pay — estimate nothing, go brute.
            // The count is DISTINCT join-key values: the widening math
            // counts droppable/allowed candidate IDS, and duplicate keys
            // in the filter relation drop no extra ids (a raw row count
            // would under-widen the allow-mode rate when keys repeat).
            // Memoized (-1 = over the cap) ONLY when every leaf of the
            // filter side is file-backed, keyed by (scan paths, key name,
            // the CANONICALIZED filter-side plan): the paths alone are
            // predicate-blind — two different deny views over the same
            // table would silently share the first view's count, and a
            // too-small memoized nDeny under-widens the claimed-exact
            // deny branch. The canonicalized fingerprint carries the
            // predicates; a LocalRelation anywhere in the tree makes the
            // fingerprint content-blind (it prints schema, not data), so
            // such shapes are counted fresh each optimization — bounded
            // by `within` and trivially cheap at broadcastable size.
            val maxProbe = math.max(widenCap.toLong, ResolveKnnJoin.MaxFilterProbeRows)
            def countFilter(): Double = {
              val filterDf = B.ofRows(spark, filterSide)
              if (!graft.graphops.LocalKernel.within(filterDf, maxProbe)) -1.0
              else filterDf.select(B.column(filterKey)).distinct().count().toDouble
            }
            val fsPaths = scanPaths(filterSide)
            val fileBackedOnly = filterSide.collectLeaves().forall(
              _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation])
            val nFilterStat =
              if (fsPaths.isEmpty || !fileBackedOnly) countFilter()
              else GraftIndexCatalog.cachedStat(
                s"filter:${fsPaths.sorted.mkString(",")}#${filterKey.name}#" +
                  s"${filterSide.semanticHash()}:" +
                  s"${filterSide.canonicalized.toString.take(512)}#$maxProbe")(countFilter())
            if (nFilterStat < 0) None
            else {
              val nFilter = nFilterStat.toLong
              if (anti) {
                // the small branch is exactness-preserving AND lets the
                // route post-filter candidates directly (broadcastable)
                if (depth.toLong + nFilter <= widenCap)
                  Some((depth + nFilter.toInt, true,
                    1.0 - nFilter.toDouble / nBase))
                else byRate(1.0 - nFilter.toDouble / nBase)
              } else
                // allow mode: a list small enough to broadcast implies a
                // pass rate below the floor on any index-worthy relation
                // (nFilter/nBase < minFilterRate whenever nBase clears
                // minIndexRows), where the brute pipeline over the tiny
                // semi-joined frame is the right plan anyway — so allow
                // lists take the rate path, never a direct post-filter
                byRate(math.min(1.0, nFilter.toDouble / nBase))
            }
          case PredShape(cond, b) =>
            // seeded hash-sampled pass-rate probe over the id column —
            // deterministic (a random sample would make the route's
            // depth, and so its approximate output, vary run to run);
            // memoized per (paths, condition): semanticHash covers the
            // FULL canonicalized tree (toString alone truncates long IN
            // lists at maxToStringFields), the string prefix
            // disambiguates casual hash collisions; the rate feeds only
            // the approximate widening depth. -1 = empty sample.
            val rate = GraftIndexCatalog.cachedStat(
              s"$statKeyBase#pred:${cond.semanticHash()}:" +
                cond.canonicalized.toString.take(512)) {
              val sampleTarget = 4096.0
              val pct = math.min(1000L, math.max(1L,
                math.round(sampleTarget / nBase * 1000)))
              val baseDf = B.ofRows(spark, b)
              val sampled = baseDf.filter(
                pmod(xxhash64(col(kj.idCol), lit(7L)), lit(1000L)) < pct)
              val agg = sampled.agg(
                count(lit(1)).as("n"),
                count(when(B.column(cond), 1)).as("passed")).head()
              val n = agg.getLong(0)
              if (n == 0) -1.0 else agg.getLong(1).toDouble / n
            }
            if (rate < 0) None else byRate(rate)
        }
      }

      val filteredRouteEnabled = GraftConf.KnnJoinFilteredRoute.get(spark)

      // Every index route requires the node's id/vec columns to be PURE
      // renames of scan columns (scanAttr): a computed column aliased to
      // either name would make the routes' id/vector joins against the
      // saved index silently wrong, so such shapes take the exact brute
      // pipeline. The routing chain is additionally fail-safe: any
      // unexpected analysis error while CONSTRUCTING a route demotes to
      // brute with a warning — a planner rewrite with an exact fallback
      // must never kill the query it is optimizing.
      def columnsTraceToScan(plan: LogicalPlan): Boolean =
        scanAttr(plan, kj.idCol).isDefined && scanAttr(plan, kj.vecCol).isDefined
      // Left = the resolved IvfSearchExec node; Right = a DataFrame route
      val viaIndex: Option[Either[LogicalPlan, DataFrame]] =
        try {
          if (udfMetric.isDefined) None
          else if (indexEligible(kj.left)) {
            if (!columnsTraceToScan(kj.left)) None
            // cheapest-first: the first layout that actually produces a
            // route wins (an unroutable cheaper layout — e.g. a metric
            // mismatch — falls through to the next)
            else entriesFor(kj.left).view.flatMap { case (e, layout) =>
              decide(e, layout, kj.left, d => Some((d, false)), NoFilter).map { r =>
                indexedInputs(r) match {
                  case Some((si, held)) => Left(lowerIndexed(r, si, held))
                  case None => Right(lowerFrame(r, NoFilter))
                }
              }
            }.headOption
          } else if (filteredRouteEnabled)
            filteredShape(kj.left)
              .filter { shape =>
                // the probes and candidate searches address the base by
                // the node's own column names, so the base must carry
                // them (a rename between filter and node -> brute), and
                // they must be pure scan renames end to end
                val names = shape.base.output.map(_.name).toSet
                names.contains(kj.idCol) && names.contains(kj.vecCol) &&
                columnsTraceToScan(kj.left) &&
                (shape match {
                  // the widening math counts DROPPED CANDIDATE IDS, so
                  // the join key must BE the node's id column — compared
                  // at SCAN level through pure renames (a derived column
                  // merely NAMED like the id drops unboundedly many rows
                  // per filter row)
                  case js: JoinShape =>
                    (for {
                      nodeId <- scanAttr(kj.left, kj.idCol)
                      keyScan <- scanAttrOf(shape.base, js.dataKey)
                    } yield nodeId.exprId == keyScan.exprId).getOrElse(false)
                  case _ => true
                })
              }
              .flatMap { shape =>
                val post = shape match {
                  case js: JoinShape => IdFilter(js.filterSide, js.filterKey, js.anti)
                  case _ => ViaData
                }
                entriesFor(shape.base).view.flatMap { case (e, layout) =>
                  // the FILTERED brute alternative reads only the filter's
                  // pass-rate fraction of the population, and the route
                  // pays its WIDENED depth — so the brute arm re-prices
                  // both sides here before candidates are generated; the
                  // same explicit-registration and conf exemptions apply.
                  // entriesFor's full-population arm stays a sound
                  // pre-filter: cost(base depth) >= n implies
                  // cost(widened) >= n >= rate * n.
                  val widen: Int => Option[(Int, Boolean)] = d0 =>
                    widenedDepth(shape, shape.base, e)(d0).flatMap {
                      case (d, small, rate) =>
                        val keep = explicitRegistration(e) ||
                          !GraftConf.KnnJoinBruteArm.get(spark) ||
                          layoutCost(e, layout, shape.base, Some(d)) <
                            rate * math.max(baseRows(e), 1L)
                        if (keep) Some((d, small)) else None
                    }
                  decide(e, layout, shape.base, widen, post).map(lowerFrame(_, post))
                }.headOption
              }
              .map(Right(_))
          else None
        } catch {
          case scala.util.control.NonFatal(e) =>
            logWarning(s"knn_join: index-route construction failed " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage}); " +
              "using the exact brute route")
            GraftIndexCatalog.recordRoute(nodeIds, None)
            None
        }

      /** CustomUDF lowering: distances from the registered function over
        * the broadcast query side, then the shared select_k epilogue
        * (knnFromDistances, the Precomputed pipeline). min-close by the
        * reference's own ordering contract (is_min_close is true for
        * every metric but InnerProduct, distance.hpp:72-85). */
      def udfPipeline(fname: String): DataFrame = {
        if (!B.functionRegistry(spark)
            .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(fname)))
          throw new IllegalArgumentException(
            s"knn_join: metric '$fname' is neither a known metric name nor a " +
              "registered session function")
        val pairs = data
          .select(col(kj.idCol).cast("long").as("_nid"), col(kj.vecCol).as("_nvec"))
          .crossJoin(org.apache.spark.sql.functions.broadcast(queries))
          .select(col("qid"), col("_nid"),
            org.apache.spark.sql.functions.call_udf(fname, col("qvec"), col("_nvec"))
              .cast("double").as("dist"))
        BruteForceKnn.knnFromDistances(pairs, kj.k, minClose = true, idCol = "_nid")
      }

      def brute(): DataFrame =
        BruteForceKnn.knnJoin(data, queries, kj.k, metric, kj.idCol, kj.vecCol)
      def shape(df: DataFrame): LogicalPlan =
        B.optimizedPlanOf(df.select(col("qid").cast("long"), col("nbr_id").cast("long"),
          col("rank"), col("dist")))
      viaIndex.flatMap(_.left.toOption).getOrElse {
        val rewritten = udfMetric.map(udfPipeline).orElse(viaIndex.flatMap(_.toOption))
        val newPlan =
          try shape(rewritten.getOrElse(brute()))
          catch {
            // Spark's InMemoryRelation canonicalization crashes when a
            // CACHED child with physical ordering/partitioning metadata
            // (range/sorted sources) is duplicated by the analyzer's
            // DeduplicateRelations — newInstance re-ids the output but not
            // the stale metadata, and the index routes' refine join is
            // exactly such a duplication. The brute pipeline uses each
            // child once (no re-instancing), so it lowers cleanly — fall
            // back to it (exact rows) instead of surfacing an opaque
            // "key not found: id#N" at the caller. A UDF metric is
            // excluded: the enum-metric brute pipeline would silently
            // compute a DIFFERENT metric than the one requested (and its
            // own single-use-per-child pipeline doesn't hit the bug).
            case e: NoSuchElementException if rewritten.isDefined && udfMetric.isEmpty =>
              logWarning("knn_join: index route hit Spark's cached-relation " +
                "canonicalization limitation (stale partitioning metadata on a " +
                "cached ordered-source frame); using the exact brute route. " +
                s"Uncache or re-materialize the input to restore the route. ($e)")
              GraftIndexCatalog.recordRoute(nodeIds, None)
              shape(brute())
          }
        // graft the rewrite under the node's declared exprIds
        val aliased: Seq[NamedExpression] = newPlan.output.zip(kj.output).map {
          case (produced, declared) =>
            Alias(produced, declared.name)(exprId = declared.exprId)
        }
        val exact = Project(aliased, newPlan)
        refused.filter(_ => viaIndex.isEmpty).fold[LogicalPlan](exact) { why =>
          ResolveKnnJoin.ensureStrategy(spark)
          ExactKnnJoin(why, exact)
        }
      }
  }
}

/** `SparkSessionExtensions` installer:
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")` —
  * installs the kNN-join lowering rule and the strategy that plans its
  * IndexedKnnJoin nodes, the SQL distance functions
  * (`vector_distance` + fixed-metric shorthands, native expressions), and
  * the `knn_join` table-valued function (plans this file's logical node
  * from pure SQL). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(session => ResolveKnnJoin(session))
    ext.injectPlannerStrategy(_ => GraftStrategy)
    graft.functions.SqlFunctions.descriptions.foreach(ext.injectFunction)
    ext.injectTableFunction(graft.functions.SqlFunctions.knnJoinTable)
    ext.injectTableFunction(graft.functions.SqlFunctions.knnJoinFilteredTable)
  }
}

/** Dataset-side entry: a DataFrame whose plan is the declarative node. */
object KnnJoinPlan {
  private[plans] def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("qid", LongType, nullable = false)(),
    AttributeReference("nbr_id", LongType, nullable = false)(),
    AttributeReference("rank", IntegerType, nullable = false)(),
    AttributeReference("dist", DoubleType, nullable = false)())

  def knnJoin(data: DataFrame, queries: DataFrame, k: Int, metric: Metric,
      idCol: String = "id", vecCol: String = "vec",
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val spark = data.sparkSession
    B.ofRows(spark, KnnJoinPlan(B.planOf(data), B.planOf(queries), k, metric.name,
      idCol, vecCol, qidCol, qvecCol))
  }
}
