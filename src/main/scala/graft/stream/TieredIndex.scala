package graft.stream

import org.apache.spark.sql.{DataFrame, Row}
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
    private[graft] val knownDeltaRows: Option[Long] = None) extends Serializable {

  /** Union of ANN-tier search (nProbes pruning) and exact delta scan,
    * re-merged per query — knn_merge_parts across tiers. A delta row with
    * a null vector is skipped and one of another dimension than the
    * index fails the search, as in the planner's list-kernel route. */
  def search(queries: DataFrame, k: Int, nProbes: Int,
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val fromBase = base.search(queries, k, nProbes, qidCol, qvecCol)
    if (knownDeltaRows.map(_ == 0L).getOrElse(delta.isEmpty)) fromBase
    else {
      val dim = base.centroids.dim
      val checked = delta.filter(col("vec").isNotNull).select(col("id"),
        when(size(col("vec")) === dim, col("vec")).otherwise(raise_error(
          concat(lit("delta row "), col("id").cast("string"), lit(" has dimension "),
            size(col("vec")).cast("string"), lit(s", the index $dim")))).as("vec"))
      val fromDelta = BruteForceKnn.knnJoin(checked, queries, k, metric,
        "id", "vec", qidCol, qvecCol)
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
    * (tiered_index.hpp:59-136 as a directory): the ANN tier is a full
    * IVF-Flat layout under `tiered_base/` (own sidecars), the delta an
    * (id, vec) parquet, plus the planner sidecars at top level — the
    * TOTAL population (base + delta) and the base tier's measured recall
    * curve (the ANN tier governs the probe/recall relation; the delta is
    * scanned exactly regardless of probes). */
  def save(path: String): Unit = {
    val spark = delta.sparkSession
    base.save(s"$path/tiered_base")
    // the population is counted only when nothing knows it: a compacted
    // or freshly-loaded layout carries it, a driver-held delta holds its
    // rows on the driver
    val out = delta.select(col("id").cast("long"), col("vec"))
    val deltaRows = knownDeltaRows
      .orElse(Frames.localRows(delta).map(_.size.toLong))
      .getOrElse(delta.count())
    if (deltaRows == 0L)
      SidecarIO.write(
        spark.createDataFrame(java.util.Collections.emptyList[Row](), out.schema),
        s"$path/delta")
    else out.write.mode("overwrite").parquet(s"$path/delta")
    import spark.implicits._
    SidecarIO.write(Seq((minAnnRows, metric.name, deltaRows))
      .toDF("min_ann_rows", "metric", "delta_rows"), s"$path/tiered_meta")
    val baseRows = IvfFlatIndex.loadMeta(spark, s"$path/tiered_base").getOrElse(0L)
    IvfFlatIndex.saveMeta(spark, path, baseRows + deltaRows)
    // copy the base tier's curve sidecar verbatim (all columns — the
    // n_queries/k sample size feeds the planner's Wilson-bound inversion)
    SidecarIO.readLocal(spark, s"$path/tiered_base/recall_curve")
      .foreach(SidecarIO.write(_, s"$path/recall_curve"))
  }
}

object TieredIndex {
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
    loadLive(spark, live, IvfFlatIndex.load(spark, s"$live/tiered_base"))

  /** `loadLive` over an already loaded ANN tier — the planner's memoized
    * load of `<live>/tiered_base`, which never changes once committed;
    * `tiered_meta` and the delta are read here, on every call. */
  private[graft] def loadLive(spark: org.apache.spark.sql.SparkSession,
      live: String, base: IvfFlatIndex): TieredIndex = {
    val meta = TieredIngest.readOneRowSidecar(spark, s"$live/tiered_meta")
    // legacy saves predate the delta_rows column — fall back to the probe
    val deltaRows = meta.get("delta_rows").map(graft.sources.SidecarIO.asLong)
    new TieredIndex(base, readDelta(spark, live),
      graft.sources.SidecarIO.asLong(meta("min_ann_rows")),
      Metric.fromName(meta("metric").asInstanceOf[String]),
      deltaRows)
  }

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
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    committedVersions(fs, path).lastOption
      .map(versionDir(path, _)).getOrElse(path)
  }

  /** Fold the delta into the ANN tier IN PLACE — the auto-promotion step
    * of the reference's tiered lifecycle (tiered_index.hpp:59-67
    * `create_ann_index_on_extend`, :105, :136), reader-safe: the
    * compacted layout is SAVED as the next version directory (its inputs
    * still read from the live one — never an overwrite of a path being
    * read), `beforeSwap` runs against it so callers can add sidecars
    * (TieredIngest carries its zeroed commit ledger through) that become
    * visible ATOMICALLY with the compaction, and the `_COMMITTED` marker
    * create is the commit point. Retention then deletes versions OLDER
    * than the one just superseded — an in-flight query planned on the
    * previous version keeps its files for a full compaction interval.
    * A crash anywhere before the marker leaves an uncommitted directory
    * the next attempt deletes; a crash after it is a completed
    * compaction. Nothing is ever renamed, so there is no window in which
    * the layout is absent. */
  def compactInPlace(spark: org.apache.spark.sql.SparkSession, path: String,
      beforeSwap: String => Unit = _ => ()): Unit = {
    recoverSwap(spark, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val committed = committedVersions(fs, path)
    val cur = committed.lastOption.getOrElse(0)
    val live = committed.lastOption.map(versionDir(path, _)).getOrElse(path)
    val next = versionDir(path, cur + 1)
    // a compaction attempt that crashed before its commit marker left an
    // uncommitted directory under the next number — safe to clear (the
    // per-layout ingest lock serializes in-process compactions, and
    // cross-process writers hold the ingest lease); a pre-versioning
    // crash's sibling tmp directory is junk under the new scheme
    fs.delete(new org.apache.hadoop.fs.Path(next), true)
    fs.delete(new org.apache.hadoop.fs.Path(path + ".compact_tmp"), true)
    loadLive(spark, live).compact().save(next)
    beforeSwap(next)
    fs.create(new org.apache.hadoop.fs.Path(next, CommitMarker), false).close()
    // retention: the version just superseded (`cur`) survives one more
    // compaction interval for in-flight readers; everything older goes,
    // and once a version PRECEDES the grace version the flat (v0) members
    // at the root go with it
    committed.dropRight(1).foreach { n =>
      fs.delete(new org.apache.hadoop.fs.Path(versionDir(path, n)), true)
    }
    if (cur >= 1) deleteFlatMembers(fs, path)
    // the layout's live version just moved: drop the planner's memoized
    // resolution/statistics HERE, at the mutation site — a direct
    // compactInPlace call (the repair path) must refresh registrations
    // exactly like the ingest-triggered one
    graft.plans.GraftIndexCatalog.invalidateStats()
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
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
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
