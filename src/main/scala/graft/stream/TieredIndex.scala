package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Frames, Metric}
import graft.sources.SidecarIO
import graft.index.IvfFlatIndex
import graft.ops.{BruteForceKnn, Refine}

/** Tiered index — `cuvs::neighbors::tiered_index` (tiered_index.hpp:59-136):
  * an ANN tier (IVF-Flat) plus an append-only brute-force delta tier;
  * `extend` lands new vectors in the delta, search unions the pruned ANN
  * search with an exact scan of the (small) delta, and `compact` folds the
  * delta into the ANN tier once it crosses `minAnnRows`.
  *
  * The kNN-join planner's route over a saved tiered layout does not call
  * `search`: it scans the delta as one more list, probed by every query,
  * in the IVF-Flat list kernel (`graft.index.FlatScan` under
  * `graft.plans.IvfSearchExec`), so a batch scans both tiers in one job.
  * `search` remains the library API and the planner's route for filtered
  * shapes and query sides past the local-kernel budget.
  *
  * This is the Delta-table pattern of SURVEY.md §1.1/§2.7: base = the big
  * immutable partitioned table, delta = the streaming append target
  * (Structured Streaming foreachBatch calls `extend` per micro-batch —
  * the `dynamic_batching` amortization analog, dynamic_batching.hpp:79).
  */
class TieredIndex private (
    val base: IvfFlatIndex,
    val delta: DataFrame, // (id long, vec array<float>)
    val minAnnRows: Long,
    val metric: Metric,
    // delta population when KNOWN WITHOUT A JOB (a freshly-loaded saved
    // layout reads it from the meta sidecar) — the kNN-join planner
    // constructs the search at REWRITE time, and delta.isEmpty there
    // would run a Spark job inside the optimizer per re-optimization;
    // None (live extend() chains) falls back to the isEmpty probe
    private[graft] val knownDeltaRows: Option[Long] = None,
    // a saved layout's base tier: the list-store directories it reads and
    // the population its recall curve was measured at (explain prints both)
    private[graft] val saved: Option[TieredIndex.BaseShape] = None) extends Serializable {

  /** Union of ANN-tier search (nProbes pruning) and exact delta scan,
    * re-merged per query — knn_merge_parts across tiers. A delta row with
    * a null vector is skipped and one of another dimension than the
    * index fails the search, as in the planner's list-kernel route. */
  def search(queries: DataFrame, k: Int, nProbes: Int,
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val fromBase = base.search(queries, k, nProbes, qidCol, qvecCol)
    if (knownDeltaRows.map(_ == 0L).getOrElse(delta.isEmpty)) fromBase
    else {
      val fromDelta = BruteForceKnn.knnJoin(TieredIndex.checkedDelta(delta, base.centroids.dim),
        queries, k, metric, "id", "vec", qidCol, qvecCol)
      Refine.mergeParts(k, metric, fromBase, fromDelta)
    }
  }

  /** Append new vectors to the delta tier (no retraining). */
  def extend(newData: DataFrame, idCol: String = "id", vecCol: String = "vec"): TieredIndex =
    new TieredIndex(base,
      delta.unionByName(newData.select(col(idCol).cast("long").as("id"),
        col(vecCol).as("vec"))),
      minAnnRows, metric)

  def deltaRows: Long = delta.count()

  /** Fold the delta into the ANN tier: assign delta rows to the existing
    * cells (centers fixed — the reference's extend-into-lists semantics);
    * returns an empty-delta index. */
  def compact(): TieredIndex =
    new TieredIndex(base.extend(delta, "id", "vec"),
      delta.filter(lit(false)), minAnnRows, metric, knownDeltaRows = Some(0L))

  /** Compact automatically once the delta tier crosses minAnnRows. */
  def maybeCompact(): TieredIndex =
    if (deltaRows >= minAnnRows) compact() else this

  /** Persist as a layout the kNN-join planner can route
    * (tiered_index.hpp:59-136 as a directory), replacing whatever layout
    * `path` held: the ANN tier is an IVF-Flat layout under `tiered_base/`
    * (own sidecars) whose list table is the layout's first list-store
    * directory, `list_store/g=0`; the delta is an (id, vec) parquet; and
    * the planner sidecars sit at top level — `meta` with the TOTAL
    * population (base + delta), `tiered_meta` with the delta's rows and
    * the list-store directories the base reads, and the base tier's
    * measured recall curve (the ANN tier governs the probe/recall
    * relation; the delta is scanned exactly regardless of probes). */
  def save(path: String): Unit = SidecarIO.withConf(delta.sparkSession) {
    val spark = delta.sparkSession
    graft.index.LayoutFormat.replace(path, base.lists, delta)
    val baseRows = base.save(s"$path/tiered_base", TieredIndex.storeDir(path, 0))
    // the population is counted only when nothing knows it: a compacted
    // or freshly-loaded layout carries it, a driver-held delta holds its
    // rows on the driver
    val out = delta.select(col("id").cast("long"), col("vec"))
    val deltaRows = knownDeltaRows
      .orElse(Frames.localRows(delta).map(_.size.toLong))
      .getOrElse(delta.count())
    if (deltaRows == 0L) TieredIndex.writeEmptyDelta(spark, path, out.schema)
    else out.write.mode("overwrite").parquet(s"$path/delta")
    SidecarIO.write(spark, s"$path/tiered_meta",
      TieredIndex.metaRows(spark, minAnnRows, metric.name, deltaRows, baseRows, Seq(0)))
    graft.index.LayoutFormat.write(spark, path, baseRows + deltaRows, "tiered")
    TieredIndex.copyCurve(spark, s"$path/tiered_base", path)
  }
}

object TieredIndex {

  /** A saved base tier's shape: the list-store directories (`g` values)
    * it reads and the population its recall curve was measured at. */
  private[graft] final case class BaseShape(dirs: Seq[Int], curveRows: Long)

  /** A fold that would leave the base tier reading more list-store
    * directories than this rewrites it into one instead: every directory
    * holds one more file per list it touched, and a base-tier read lists
    * them all. */
  private val MaxListDirs = 8

  /** The recall curve is re-measured once the rows folded since its
    * measurement reach this share of the population it was measured on,
    * and copied otherwise. Geometric re-measure points keep the total
    * measurement cost within a constant factor of one measurement of the
    * final population. */
  private val CurveRemeasureShare = 0.5

  def build(dataset: DataFrame, params: IvfFlatIndex.Params, minAnnRows: Long = 100000L,
      idCol: String = "id", vecCol: String = "vec"): TieredIndex = {
    val base = IvfFlatIndex.build(dataset, params, idCol, vecCol)
    val emptyDelta = dataset
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .filter(lit(false))
    new TieredIndex(base, emptyDelta, minAnnRows, params.metric)
  }

  /** The layout at `path`, in its live version; a layout in an older
    * format is refused with an error naming `LayoutFormat.upgrade`. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): TieredIndex = {
    val live = resolveLive(spark, path)
    graft.index.LayoutFormat.require(spark, live, "tiered", path)
    loadLive(spark, live, loadBase(spark, live))
  }

  /** The version at `live` over an already loaded ANN tier — the
    * planner's memoized load of `<live>/tiered_base`, which never changes
    * once committed; `tiered_meta` and the delta are read here, on every
    * call. */
  private[graft] def loadLive(spark: org.apache.spark.sql.SparkSession,
      live: String, base: IvfFlatIndex): TieredIndex = {
    val meta = TieredIngest.readOneRowSidecar(spark, s"$live/tiered_meta")
    new TieredIndex(base, readDelta(spark, live),
      SidecarIO.asLong(meta("min_ann_rows")),
      Metric.fromName(meta("metric").asInstanceOf[String]),
      Some(SidecarIO.asLong(meta("delta_rows"))),
      Some(BaseShape(listDirs(meta), SidecarIO.asLong(meta("curve_rows")))))
  }

  /** The ANN tier of the version at `live`: its list-store directories,
    * which `tiered_meta.list_dirs` names, read as one relation under the
    * store root, with `g` and `list_id` both partition columns (`g` is
    * dropped). No job: every schema comes from a footer. */
  private[graft] def loadBase(spark: org.apache.spark.sql.SparkSession,
      live: String): IvfFlatIndex =
    IvfFlatIndex.load(spark, s"$live/tiered_base", baseLists(spark, layoutRoot(live),
      listDirs(TieredIngest.readOneRowSidecar(spark, s"$live/tiered_meta"))))

  private def baseLists(spark: org.apache.spark.sql.SparkSession, root: String,
      dirs: Seq[Int]): DataFrame =
    SidecarIO.readTable(spark, s"$root/$StoreRoot", Seq("g", "list_id"),
      only = dirs.map(g => s"g=$g")).drop("g")

  /** The list-store directories (`g` values) a `tiered_meta` row names. */
  private def listDirs(meta: Map[String, Any]): Seq[Int] =
    meta("list_dirs").asInstanceOf[Seq[Any]].map(SidecarIO.asInt)

  /** Base-tier lists live in `<root>/list_store/g=N/list_id=L/`, N the
    * version that wrote them (0 = the flat save at the root). */
  private val StoreRoot = "list_store"
  private def storeDir(root: String, g: Int): String = s"$root/$StoreRoot/g=$g"

  /** The layout root of a live directory: the parent of a version
    * directory, or the directory itself for a flat save. */
  private def layoutRoot(live: String): String = {
    val p = new org.apache.hadoop.fs.Path(live)
    p.getName match {
      case VersionRe(_) => p.getParent.toString
      case _ => live
    }
  }

  /** The delta rows a search scans or a fold writes: a row with a null
    * vector is dropped, and one of another dimension than the index fails
    * the job with its id and dimension. */
  private def checkedDelta(delta: DataFrame, dim: Int): DataFrame =
    delta.filter(col("vec").isNotNull).select(col("id"),
      when(size(col("vec")) === dim, col("vec")).otherwise(raise_error(
        concat(lit("delta row "), col("id").cast("string"), lit(" has dimension "),
          size(col("vec")).cast("string"), lit(s", the index $dim")))).as("vec"))

  /** The `tiered_meta` row: the delta's rows, the population the recall
    * curve was measured at, and the list-store directories of the base. */
  private[graft] def metaRows(spark: org.apache.spark.sql.SparkSession, minAnnRows: Long,
      metric: String, deltaRows: Long, curveRows: Long, listDirs: Seq[Int]): SidecarIO.Rows = {
    import spark.implicits._
    SidecarIO.rows(Seq((minAnnRows, metric, deltaRows, curveRows, listDirs)),
      "min_ann_rows", "metric", "delta_rows", "curve_rows", "list_dirs")
  }

  /** `metaRows` of the `tiered_meta` row `meta` with `deltaRows` delta rows. */
  private[stream] def metaRows(spark: org.apache.spark.sql.SparkSession,
      meta: Map[String, Any], deltaRows: Long): SidecarIO.Rows =
    metaRows(spark, SidecarIO.asLong(meta("min_ann_rows")), meta("metric").asInstanceOf[String],
      deltaRows, SidecarIO.asLong(meta("curve_rows")), listDirs(meta))

  private def writeEmptyDelta(spark: org.apache.spark.sql.SparkSession, live: String,
      schema: org.apache.spark.sql.types.StructType): Unit =
    SidecarIO.write(spark, s"$live/delta", SidecarIO.Rows(schema, Nil))

  /** Copy a curve sidecar verbatim (all columns — the n_queries/k sample
    * size feeds the planner's Wilson-bound inversion). */
  private def copyCurve(spark: org.apache.spark.sql.SparkSession, from: String,
      to: String): Unit =
    SidecarIO.copy(spark, s"$from/recall_curve", s"$to/recall_curve")

  /** The delta tier as a frame. Streaming ingest lands each micro-batch
    * in its own `delta/batch-<id>/` subdirectory (the idempotent-replay
    * protocol, TieredIngest doc) alongside whatever flat files the save /
    * direct appends wrote at the delta root, so the read must recurse —
    * `recursiveFileLookup` picks up both shapes in one listing. */
  private[graft] def readDelta(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    // the schema the writer recorded in a footer, not an inference job
    SidecarIO.readTable(spark, s"$path/delta", options = Map("recursiveFileLookup" -> "true"))
      .select(col("id").cast("long").as("id"), col("vec"))
  }

  /** Version-directory layout of an in-place-compacted tiered index: the
    * root holds `v_NNNNNN` subdirectories, each a COMPLETE layout, and
    * the highest one carrying the `_COMMITTED` marker file is live. A
    * flat save (TieredIndex.save writes the layout members at the root)
    * is version 0 of this scheme. Readers resolve the live directory with
    * one listing and never observe a partial layout: the marker CREATE is
    * the atomic commit point, and the previous version survives one full
    * compaction interval before retention deletes it, so a query planned
    * on it finishes undisturbed — there is no swap window, no reader
    * retry, and no grace sleep. */
  private val VersionRe = "^v_(\\d{6,})$".r
  private val CommitMarker = "_COMMITTED"

  /** Committed version numbers under `path`, ascending (empty for flat
    * saves and non-tiered layouts — one listing either way). */
  private def committedVersions(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[Int] = {
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toIndexedSeq
      .filter(_.isDirectory)
      .flatMap(st => st.getPath.getName match {
        case VersionRe(n)
            if fs.exists(new org.apache.hadoop.fs.Path(st.getPath, CommitMarker)) &&
              fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "tiered_meta")) =>
          Some(n.toInt)
        case _ => None
      })
      .sorted
  }

  private def versionDir(path: String, n: Int): String = f"$path/v_$n%06d"

  /** The directory the layout's CURRENT content lives in: the highest
    * committed version, or the root itself for flat saves (and for every
    * non-tiered layout, where no version directories exist). Every reader
    * and the planner's registration lookup resolve through this; the
    * writers below keep it stable for at least one full compaction
    * interval after a newer version commits. */
  def resolveLive(spark: org.apache.spark.sql.SparkSession, path: String): String = {
    val fs = SidecarIO.fs(spark, path)
    committedVersions(fs, path).lastOption
      .map(versionDir(path, _)).getOrElse(path)
  }

  /** Fold the delta into the ANN tier IN PLACE — the auto-promotion step
    * of the reference's tiered lifecycle (tiered_index.hpp:59-67
    * `create_ann_index_on_extend`, :105, :136), with the reference's IVF
    * `extend` semantics (ivf_flat.hpp:60-67): the delta rows are assigned
    * under the version's fixed centroids and written, one file per list
    * they land in, as the next list-store directory `list_store/g=<next>`;
    * the next version's base tier reads the previous version's list
    * directories plus that one, so a compaction writes the delta, not the
    * base (`fold`). The result is committed reader-safe: the next version
    * directory gets its sidecars (its inputs still read from the live one
    * — never an overwrite of a path being read), `beforeSwap` runs
    * against it so callers can add sidecars (TieredIngest carries its
    * zeroed commit ledger through) that become visible ATOMICALLY with the
    * compaction, and the `_COMMITTED` marker create is the commit point.
    * Retention then deletes versions OLDER than the one just superseded —
    * an in-flight query planned on the previous version keeps its files
    * for a full compaction interval — and every list-store directory no
    * retained version names. A crash anywhere before the marker leaves an
    * uncommitted version and store directory the next attempt deletes; a
    * crash after it is a completed compaction. Nothing is ever renamed,
    * so there is no window in which the layout is absent. A layout in an
    * older format is refused (`LayoutFormat.upgrade`). */
  def compactInPlace(spark: org.apache.spark.sql.SparkSession, path: String,
      beforeSwap: String => Unit = _ => ()): Unit =
    commit(spark, path, beforeSwap) { live =>
      graft.index.LayoutFormat.require(spark, live, "tiered", path)
      loadLive(spark, live, loadBase(spark, live))
    }

  /** Commit the next version of the layout at `root` from `base` and
    * `delta`, the whole base rewritten into one list-store directory —
    * the full-rewrite fold, for `LayoutFormat.upgrade`, whose `base` is
    * read from an older shape (no `g` directories). */
  private[graft] def rewrite(spark: org.apache.spark.sql.SparkSession, root: String,
      base: IvfFlatIndex, delta: DataFrame, minAnnRows: Long, metric: String,
      curveRows: Long, beforeSwap: String => Unit): Unit =
    commit(spark, root, beforeSwap)(_ => new TieredIndex(base, delta, minAnnRows,
      Metric.fromName(metric), saved = Some(BaseShape(Nil, curveRows))))

  /** The commit protocol of `compactInPlace` over the version `prev`
    * loads from the live directory. */
  private def commit(spark: org.apache.spark.sql.SparkSession, path: String,
      beforeSwap: String => Unit)(prev: String => TieredIndex): Unit =
    SidecarIO.withConf(spark) {
      val fs = SidecarIO.fs(spark, path)
      val committed = committedVersions(fs, path)
      val cur = committed.lastOption.getOrElse(0)
      val live = committed.lastOption.map(versionDir(path, _)).getOrElse(path)
      val next = versionDir(path, cur + 1)
      // a compaction attempt that crashed before its commit marker left an
      // uncommitted version and store directory under the next number —
      // safe to clear (no committed version names them; the per-layout
      // ingest lock serializes in-process compactions, and cross-process
      // writers hold the ingest lease)
      Seq(next, storeDir(path, cur + 1))
        .foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
      fold(spark, path, live, next, cur + 1, prev(live))
      beforeSwap(next)
      SidecarIO.writeFile(spark, s"$next/$CommitMarker", Array.emptyByteArray, overwrite = false)
      // retention: the version just superseded (`cur`) survives one more
      // compaction interval for in-flight readers; everything older goes,
      // and once a version PRECEDES the grace version the flat (v0) members
      // at the root go with it; then every store directory no remaining
      // version names
      committed.dropRight(1).foreach { n =>
        fs.delete(new org.apache.hadoop.fs.Path(versionDir(path, n)), true)
      }
      if (cur >= 1) deleteFlatMembers(fs, path)
      sweepStore(spark, fs, path)
      // the layout's live version just moved: drop the planner's memoized
      // resolution/statistics HERE, at the mutation site — a direct
      // compactInPlace call (the repair path) must refresh registrations
      // exactly like the ingest-triggered one
      graft.plans.GraftIndexCatalog.invalidateStats()
    }

  /** Write version `next` from `prev`, the live version: the delta's
    * rows go to the store directory `g` and the base tier reads the live
    * list directories plus it. When that would exceed `MaxListDirs`, or
    * `prev` reads no `g` directory (an older shape), `g` instead holds
    * every row and is the only directory. The small
    * sidecars are written on the driver: centroids, populations, an
    * empty delta, and the recall curve — re-measured over the new
    * population once the rows folded since its measurement reach
    * `CurveRemeasureShare` of the population it was measured on, copied
    * otherwise; `tiered_meta` records which population that is and the
    * list directories. A delta row of another dimension than the index
    * fails the write job before anything of `next` is committed. */
  private def fold(spark: org.apache.spark.sql.SparkSession, root: String, live: String,
      next: String, g: Int, prev: TieredIndex): Unit = {
    val ds = prev.saved.fold(Seq.empty[Int])(_.dirs)
    val cs = prev.base.centroids
    val assigned = IvfFlatIndex.assign(checkedDelta(prev.delta, cs.dim), cs, "id", "vec")
    val storePath = storeDir(root, g)
    val (dirs, rows) =
      if (ds.nonEmpty && ds.size < MaxListDirs) {
        val baseRows = IvfFlatIndex.loadMeta(spark, s"$live/tiered_base").get
        val added = IvfFlatIndex.writeLists(assigned, storePath)
        if (added > 0) (ds :+ g, baseRows + added)
        else {
          // nothing landed (an empty or all-null delta): no directory
          SidecarIO.fs(spark, storePath).delete(new org.apache.hadoop.fs.Path(storePath), true)
          (ds, baseRows)
        }
      } else (Seq(g), IvfFlatIndex.writeLists(prev.base.lists.unionByName(assigned), storePath))
    val basePath = s"$next/tiered_base"
    SidecarIO.copy(spark, s"$live/tiered_base/centroids", s"$basePath/centroids")
    graft.index.LayoutFormat.write(spark, basePath, rows, "ivf")
    val measuredAt = prev.saved.fold(0L)(_.curveRows)
    val curveRows =
      if (rows - measuredAt >= CurveRemeasureShare * measuredAt) {
        if (IvfFlatIndex.recallCurveEnabled(spark))
          IvfFlatIndex.saveRecallCurve(spark, basePath,
            IvfFlatIndex.load(spark, basePath, baseLists(spark, root, dirs)), rows)
        rows
      } else {
        copyCurve(spark, s"$live/tiered_base", basePath)
        measuredAt
      }
    writeEmptyDelta(spark, next, prev.delta.schema)
    SidecarIO.write(spark, s"$next/tiered_meta",
      metaRows(spark, prev.minAnnRows, prev.metric.name, 0L, curveRows, dirs))
    graft.index.LayoutFormat.write(spark, next, rows, "tiered")
    copyCurve(spark, basePath, next)
  }

  /** Delete every list-store directory that no committed version, and no
    * flat layout at the root, names in its `tiered_meta`. */
  private def sweepStore(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: String): Unit = {
    val storeRoot = new org.apache.hadoop.fs.Path(root, StoreRoot)
    if (fs.exists(storeRoot)) {
      val named = (root +: committedVersions(fs, root).map(versionDir(root, _)))
        .flatMap(v => SidecarIO.readHead(spark, s"$v/tiered_meta"))
        .filter(_.contains("list_dirs")).flatMap(listDirs).map(g => s"g=$g").toSet
      fs.listStatus(storeRoot)
        .filter(st => !named(st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, true))
    }
  }

  /** The flat layout members a save wrote at the root — deleted only once
    * a version directory has itself been superseded (the flat content then
    * had a full compaction interval of grace). Named members only:
    * version directories and the ingest lease are never touched. */
  private def deleteFlatMembers(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit =
    Seq("tiered_base", "delta", "tiered_meta", "meta", "recall_curve",
        "delta_commits", "tiered_meta.old", "delta_commits.old",
        "tiered_meta.staged", "delta_commits.staged", "meta.old", "meta.staged")
      .foreach { m =>
        fs.delete(new org.apache.hadoop.fs.Path(path, m), true)
      }
}
