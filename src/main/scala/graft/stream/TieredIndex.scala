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
    * (tiered_index.hpp:59-136 as a directory): the ANN tier is an
    * IVF-Flat layout under `tiered_base/` (own sidecars) whose list table
    * is the layout's first list-store directory, `list_store/g_000000`,
    * named by the `tiered_base/list_dirs` sidecar; the delta is an
    * (id, vec) parquet; and the planner sidecars sit at top level — the
    * TOTAL population (base + delta) and the base tier's measured recall
    * curve (the ANN tier governs the probe/recall relation; the delta is
    * scanned exactly regardless of probes). */
  def save(path: String): Unit = SidecarIO.withConf(delta.sparkSession) {
    val spark = delta.sparkSession
    val store = TieredIndex.storeDir(0)
    val baseRows = base.save(s"$path/tiered_base", s"$path/$store")
    TieredIndex.writeListDirs(spark, path, Seq(store))
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
      TieredIndex.metaRows(spark, minAnnRows, metric.name, deltaRows, Some(baseRows)))
    IvfFlatIndex.saveMeta(spark, path, baseRows + deltaRows)
    TieredIndex.copyCurve(spark, s"$path/tiered_base", path)
  }
}

object TieredIndex {

  /** A saved base tier's shape: how many list-store directories it reads
    * and the population its recall curve was measured at. */
  private[graft] final case class BaseShape(dirs: Int, curveRows: Long)

  /** A fold that would leave the base tier reading more list-store
    * directories than this rewrites it into one instead: every directory
    * is one more scan in each base-tier read, and the files of a list
    * spread over one directory per fold that touched it. */
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

  def load(spark: org.apache.spark.sql.SparkSession, path: String): TieredIndex = {
    recoverSwap(spark, path)
    loadLive(spark, resolveLive(spark, path))
  }

  /** Load from a RESOLVED live directory (the layout root for flat/legacy
    * saves, `<root>/v_NNNNNN` after an in-place compaction) — the version
    * indirection is resolved exactly once, here and in the planner's
    * registration lookup, never inside the readers below. */
  private[stream] def loadLive(spark: org.apache.spark.sql.SparkSession,
      live: String): TieredIndex =
    loadLive(spark, live, loadBase(spark, live))

  /** `loadLive` over an already loaded ANN tier — the planner's memoized
    * load of `<live>/tiered_base`, which never changes once committed;
    * `tiered_meta` and the delta are read here, on every call. The number
    * of list directories the tier reads is the number of scans its list
    * relation unions (`loadBase`), so it costs no read. */

  private[graft] def loadLive(spark: org.apache.spark.sql.SparkSession,
      live: String, base: IvfFlatIndex): TieredIndex = {
    val meta = TieredIngest.readOneRowSidecar(spark, s"$live/tiered_meta")
    // legacy saves predate the delta_rows column — fall back to the probe
    val deltaRows = meta.get("delta_rows").map(SidecarIO.asLong)
    new TieredIndex(base, readDelta(spark, live),
      SidecarIO.asLong(meta("min_ann_rows")),
      Metric.fromName(meta("metric").asInstanceOf[String]),
      deltaRows,
      Some(BaseShape(base.lists.queryExecution.logical.collectLeaves().size,
        curveRows(spark, live, meta))))
  }

  /** The ANN tier of the layout version at `live`, reading the list-store
    * directories its `list_dirs` sidecar names (relative to the layout
    * root) as one list table; a layout saved without the sidecar reads
    * `tiered_base/lists`. No job: every schema comes from a footer. */
  private[graft] def loadBase(spark: org.apache.spark.sql.SparkSession,
      live: String): IvfFlatIndex =
    loadBase(spark, live, listDirs(spark, live))

  private def loadBase(spark: org.apache.spark.sql.SparkSession, live: String,
      dirs: Option[Seq[String]]): IvfFlatIndex = {
    val root = layoutRoot(live)
    IvfFlatIndex.load(spark, s"$live/tiered_base",
      dirs.fold(Seq(s"$live/tiered_base/lists"))(_.map(d => s"$root/$d")))
  }

  /** The population the version's recall curve was measured at; a
    * layout saved without `curve_rows` measured it at its base rows. */
  private def curveRows(spark: org.apache.spark.sql.SparkSession, live: String,
      meta: Map[String, Any]): Long =
    meta.get("curve_rows").map(SidecarIO.asLong)
      .orElse(IvfFlatIndex.loadMeta(spark, s"$live/tiered_base")).getOrElse(0L)

  /** The list-store directories of the version at `live`, relative to the
    * layout root, in write order; None for a layout saved without them. */
  private def listDirs(spark: org.apache.spark.sql.SparkSession,
      live: String): Option[Seq[String]] =
    SidecarIO.readRows(spark, s"$live/tiered_base/list_dirs")
      .map(_.map(_("dir").asInstanceOf[String]))

  private def writeListDirs(spark: org.apache.spark.sql.SparkSession, live: String,
      dirs: Seq[String]): Unit = {
    import spark.implicits._
    SidecarIO.write(spark, s"$live/tiered_base/list_dirs", SidecarIO.rows(dirs, "dir"))
  }

  /** Base-tier lists live in `<root>/list_store/g_NNNNNN`, numbered by the
    * version that wrote them (0 = the flat save at the root). */
  private val StoreRoot = "list_store"
  private def storeDir(n: Int): String = f"$StoreRoot/g_$n%06d"

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

  /** The `tiered_meta` row; `curveRows` is left out only when rewriting a
    * layout saved without it. */
  private[graft] def metaRows(spark: org.apache.spark.sql.SparkSession, minAnnRows: Long,
      metric: String, deltaRows: Long, curveRows: Option[Long]): SidecarIO.Rows = {
    import spark.implicits._
    curveRows.fold(SidecarIO.rows(Seq((minAnnRows, metric, deltaRows)),
      "min_ann_rows", "metric", "delta_rows")) { c =>
      SidecarIO.rows(Seq((minAnnRows, metric, deltaRows, c)),
        "min_ann_rows", "metric", "delta_rows", "curve_rows")
    }
  }

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
  private[stream] def readDelta(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    // the schema the writer recorded in a footer, not an inference job
    SidecarIO.readTable(spark, s"$path/delta", options = Map("recursiveFileLookup" -> "true"))
      .select(col("id").cast("long").as("id"), col("vec"))
  }

  /** Version-directory layout of an in-place-compacted tiered index: the
    * root holds `v_NNNNNN` subdirectories, each a COMPLETE layout, and
    * the highest one carrying the `_COMMITTED` marker file is live. A
    * flat save (TieredIndex.save writes the layout members at the root —
    * unchanged on-disk format) is version 0 of this scheme. Readers
    * resolve the live directory with one listing and never observe a
    * partial layout: the marker CREATE is the atomic commit point, and
    * the previous version survives one full compaction interval before
    * retention deletes it, so a query planned on it finishes undisturbed
    * — there is no swap window, no reader retry, and no grace sleep. */
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
    * committed version, or the root itself for flat/legacy saves (and for
    * every non-tiered layout, where no version directories exist). Every
    * reader and the planner's registration lookup resolve through this;
    * the writers below keep it stable for at least one full compaction
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
    * they land in, as the next list-store directory `list_store/g_<next>`;
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
    * so there is no window in which the layout is absent. */
  def compactInPlace(spark: org.apache.spark.sql.SparkSession, path: String,
      beforeSwap: String => Unit = _ => ()): Unit = SidecarIO.withConf(spark) {
    recoverSwap(spark, path)
    val fs = SidecarIO.fs(spark, path)
    val committed = committedVersions(fs, path)
    val cur = committed.lastOption.getOrElse(0)
    val live = committed.lastOption.map(versionDir(path, _)).getOrElse(path)
    val next = versionDir(path, cur + 1)
    val store = storeDir(cur + 1)
    // a compaction attempt that crashed before its commit marker left an
    // uncommitted version and store directory under the next number —
    // safe to clear (no committed version names them; the per-layout
    // ingest lock serializes in-process compactions, and cross-process
    // writers hold the ingest lease); a pre-versioning crash's sibling tmp
    // directory is junk under the new scheme
    Seq(next, s"$path/$store", path + ".compact_tmp")
      .foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
    fold(spark, path, live, next, store)
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

  /** Write version `next` from the live version: the delta's rows go to
    * the store directory `store` and the base tier reads the live list
    * directories plus it. When that would exceed `MaxListDirs`, or the
    * live version records no list directories (saved before the list
    * store), `store` instead holds every row and is the only directory.
    * The small sidecars are written on the driver: centroids, populations,
    * the list directories, an empty delta, and the recall curve —
    * re-measured over the new population once the rows folded since its
    * measurement reach `CurveRemeasureShare` of the population it was
    * measured on, copied otherwise; `tiered_meta.curve_rows` records which
    * population that is. A delta row of another dimension than the index
    * fails the write job before anything of `next` is committed. */
  private def fold(spark: org.apache.spark.sql.SparkSession, root: String, live: String,
      next: String, store: String): Unit = {
    val liveDirs = listDirs(spark, live)
    val prev = loadLive(spark, live, loadBase(spark, live, liveDirs))
    val cs = prev.base.centroids
    val assigned = IvfFlatIndex.assign(checkedDelta(prev.delta, cs.dim), cs, "id", "vec")
    val storePath = s"$root/$store"
    val (dirs, rows) =
      (liveDirs, IvfFlatIndex.loadMeta(spark, s"$live/tiered_base")) match {
        case (Some(ds), Some(baseRows)) if ds.size < MaxListDirs =>
          val added = IvfFlatIndex.writeLists(assigned.repartition(col("list_id")), storePath)
          if (added > 0) (ds :+ store, baseRows + added)
          else {
            // nothing landed (an empty or all-null delta): no directory
            SidecarIO.fs(spark, storePath).delete(new org.apache.hadoop.fs.Path(storePath), true)
            (ds, baseRows)
          }
        case _ =>
          (Seq(store), IvfFlatIndex.writeLists(
            prev.base.lists.unionByName(assigned).repartition(col("list_id")), storePath))
      }
    val basePath = s"$next/tiered_base"
    SidecarIO.copy(spark, s"$live/tiered_base/centroids", s"$basePath/centroids")
    IvfFlatIndex.saveMeta(spark, basePath, rows)
    writeListDirs(spark, next, dirs)
    val measuredAt = prev.saved.map(_.curveRows).getOrElse(0L)
    val curveRows =
      if (rows - measuredAt >= CurveRemeasureShare * measuredAt) {
        if (IvfFlatIndex.recallCurveEnabled(spark))
          IvfFlatIndex.saveRecallCurve(spark, basePath, loadBase(spark, next), rows)
        rows
      } else {
        copyCurve(spark, s"$live/tiered_base", basePath)
        measuredAt
      }
    writeEmptyDelta(spark, next, prev.delta.schema)
    SidecarIO.write(spark, s"$next/tiered_meta",
      metaRows(spark, prev.minAnnRows, prev.metric.name, 0L, Some(curveRows)))
    IvfFlatIndex.saveMeta(spark, next, rows)
    copyCurve(spark, basePath, next)
  }

  /** Delete every list-store directory that no committed version, and no
    * flat layout at the root, names in its `list_dirs`. */
  private def sweepStore(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: String): Unit = {
    val storeRoot = new org.apache.hadoop.fs.Path(root, StoreRoot)
    if (fs.exists(storeRoot)) {
      val flat = if (fs.exists(new org.apache.hadoop.fs.Path(root, "tiered_meta"))) Seq(root)
        else Nil
      val named = (committedVersions(fs, root).map(versionDir(root, _)) ++ flat)
        .flatMap(listDirs(spark, _).getOrElse(Nil)).toSet
      fs.listStatus(storeRoot)
        .filter(st => !named(s"$StoreRoot/${st.getPath.getName}"))
        .foreach(st => fs.delete(st.getPath, true))
    }
  }

  /** The flat layout members a pre-versioning save wrote at the root —
    * deleted only once a version directory has itself been superseded
    * (the flat content then had a full compaction interval of grace).
    * Named members only: version directories and the ingest lease are
    * never touched. */
  private def deleteFlatMembers(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit =
    Seq("tiered_base", "delta", "tiered_meta", "meta", "recall_curve",
        "delta_commits", "tiered_meta.old", "delta_commits.old",
        "tiered_meta.staged", "delta_commits.staged", "meta.old", "meta.staged")
      .foreach { m =>
        fs.delete(new org.apache.hadoop.fs.Path(path, m), true)
      }

  /** Crash recovery for the PRE-VERSIONING compactInPlace's two-rename
    * swap window (r16 and earlier): such a crash left NO layout at `path`
    * but an intact one at `<path>.compact_old` — restore it (losing only
    * the compaction, never data: the delta rows are still in the restored
    * delta tier). The versioned scheme above never creates this state, so
    * the restore runs eagerly (no in-flight-swap grace sleep to ride out)
    * and only when the root carries neither flat members nor a committed
    * version. Called on every load and every ingest append. */
  private[stream] def recoverSwap(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val fs = SidecarIO.fs(spark, path)
    def healthy(p: org.apache.hadoop.fs.Path): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(p, "tiered_meta"))
    val real = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + ".compact_old")
    if (healthy(real) || committedVersions(fs, path).nonEmpty ||
        !fs.exists(old) || !healthy(old)) return
    // grace recheck: a PRE-VERSIONING writer (rolling upgrade) could be
    // inside its two-rename swap right now — showing the same transient
    // state — and restoring under it would make its second rename NEST
    // the compacted layout inside the restored one (Hadoop local-FS
    // rename-into-dir semantics). An in-flight swap finishes within the
    // sleep; only then is the state a crash leftover.
    Thread.sleep(200)
    if (healthy(real)) return
    // the rename is only sound while the root is ABSENT (the pre-versioning
    // crash state): renaming onto an existing directory would NEST the
    // restored layout inside it under Hadoop local-FS semantics
    if (!fs.exists(real) && fs.rename(old, real)) {
      System.err.println(s"graft TieredIndex: restored $path from an " +
        "interrupted pre-versioning compaction swap (the compaction will " +
        "re-run at the next threshold crossing)")
      return
    }
    require(healthy(real),
      s"compactInPlace recovery: no layout at $path and could not restore " +
        s"from $path.compact_old")
  }
}
