package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.sources.SidecarIO
import graft.stream.{TieredIndex, TieredIngest}

/** The on-disk format of a saved layout, known here alone — cuVS's
  * versioned serialization (ivf_flat_serialize.cuh, ivf_pq_serialize.cu):
  * one version check, then one reader.
  *
  * Every save writes, and every staged swap of a tiered layout rewrites,
  * the `meta` sidecar: `n_rows` (the population), `layout` (`ivf`,
  * `ivf_pq`, `ivf_pqcl`, `ivf_sq`, `scann`, `rabitq`, `hnsw` or `tiered`)
  * and `format_version`. A tiered layout keeps `meta` in its live version
  * directory. The planner learns a registered layout's kind, version and
  * population from this one read.
  *
  * Loaders read only `Current`: a layout with an older or absent
  * `format_version` is refused with an error naming `upgrade`, and the
  * planner serves it by the exact brute-force route. `upgrade` is the only
  * code that reads an older shape (docs/MIGRATION.md lists them). */
object LayoutFormat {

  /** The format version this engine writes and reads. Version 1: `meta`
    * names the layout and its version, and a tiered base tier's lists live
    * in `list_store/g=N/list_id=L/`, read as one relation. Layouts saved
    * before it carry no version (0). */
  val Current = 1

  /** A layout's `meta` row; `layout` is empty and `version` 0 in a `meta`
    * written before format versions. */
  final case class Meta(nRows: Long, layout: String, version: Int) {
    def current: Boolean = version == Current
  }

  /** The `meta` of the layout at `path` (a tiered layout's live version
    * directory); None when there is none. A read racing a tiered append's
    * swap waits it out (`SidecarIO.readSwapped`). */
  def read(spark: SparkSession, path: String): Option[Meta] =
    SidecarIO.readSwapped(spark, s"$path/meta").map { r =>
      Meta(SidecarIO.asLong(r("n_rows")), r.get("layout").fold("")(_.asInstanceOf[String]),
        r.get("format_version").fold(0)(SidecarIO.asInt))
    }

  /** The current `meta` row; a tiered append swaps it in. */
  private[graft] def rows(spark: SparkSession, nRows: Long, layout: String): SidecarIO.Rows = {
    import spark.implicits._
    SidecarIO.rows(Seq((nRows, layout, Current)), "n_rows", "layout", "format_version")
  }

  private[graft] def write(spark: SparkSession, path: String, nRows: Long,
      layout: String): Unit =
    SidecarIO.write(spark, s"$path/meta", rows(spark, nRows, layout))

  /** Remove whatever is saved at `path` before a save of `sources` writes
    * there: its lists, sidecars, version directories, list store and
    * ledger, so nothing of an earlier layout outlives the new one. A save
    * whose sources read files under `path` is refused first, as Spark
    * refuses to overwrite a path it reads. */
  private[graft] def replace(path: String, sources: DataFrame*): Unit = {
    val spark = sources.head.sparkSession
    val fs = SidecarIO.fs(spark, path)
    val target = fs.makeQualified(new Path(path)).toString.stripSuffix("/")
    val read = sources.flatMap(_.queryExecution.analyzed.collectLeaves()).flatMap {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
      case _ => Nil
    }
    scala.Predef.require(!read.exists(r => r == target || r.startsWith(target + "/")),
      s"cannot save a layout over $path: it reads from there")
    fs.delete(new Path(path), true)
  }

  /** Why the layout at `path` is not read: its `meta`, if any, is older. */
  private[graft] def refusal(path: String, m: Option[Meta]): String =
    s"the layout at $path has " + m.fold("no meta")(x => s"format version ${x.version}") +
      s"; this engine reads version $Current — run graft.index.LayoutFormat.upgrade(spark, " +
      s"\"$path\") once"

  /** The loaders' check: the layout at `live` is a current `layout`;
    * otherwise an error naming `upgrade` of `root`. */
  private[graft] def require(spark: SparkSession, live: String, layout: String,
      root: String = ""): Unit =
    read(spark, live) match {
      case Some(m) if m.current =>
        if (m.layout != layout)
          throw new IllegalArgumentException(s"$live holds the layout '${m.layout}', not '$layout'")
      case m => throw new IllegalStateException(refusal(if (root.isEmpty) live else root, m))
    }

  // ---------------------------------------------------------- older shapes

  /** Each layout's marker in a layout saved before format versions, in the
    * order the planner once probed them. */
  private val Shapes = Seq("hnsw" -> "hnsw_meta", "tiered" -> "tiered_meta", "ivf" -> "lists",
    "ivf_pq" -> "pq_lists", "ivf_pqcl" -> "pqcl_lists", "ivf_sq" -> "sq_lists",
    "scann" -> "scann_lists", "rabitq" -> "rabitq_lists")

  /** A batch directory of the unscoped name an ingest before per-scope
    * ledgers wrote for every scope. */
  private val UnscopedBatch = "^batch-(\\d+)$".r

  /** Rewrite the layout at `path` into the current format, once; a layout
    * already current is left as it is, with no file written.
    *
    * A non-tiered layout gets the current `meta` (its rows counted from
    * the list footers when it had none). A tiered layout commits one new
    * version by `TieredIndex.compactInPlace`'s protocol, its base tier
    * rewritten into one `g=N` list-store directory with the delta folded
    * in, and the committed batch ids carried as a zeroed ledger. Before
    * that, each older tiered state is resolved once:
    *   - a root that a pre-versioning compaction left renamed aside as
    *     `<path>.compact_old` is renamed back;
    *   - a ledger of one row per batch folds to each scope's highest id;
    *   - an unscoped `delta/batch-<id>` directory above every committed id
    *     is a crashed write that no ledger claims, and is deleted — its
    *     batch lands again when the stream redelivers it;
    *   - the population the recall curve was measured at defaults to the
    *     base tier's, as an older fold did. */
  def upgrade(spark: SparkSession, path: String): Unit = SidecarIO.withConf(spark) {
    val root = path.stripSuffix("/")
    val fs = SidecarIO.fs(spark, root)
    val aside = new Path(root + ".compact_old")
    if (!fs.exists(new Path(root)) && fs.exists(new Path(aside, "tiered_meta")))
      scala.Predef.require(fs.rename(aside, new Path(root)),
        s"could not restore $root from $aside")
    fs.delete(new Path(root + ".compact_tmp"), true)
    val live = TieredIndex.resolveLive(spark, root)
    val meta = read(spark, live)
    if (!meta.exists(_.current)) {
      def has(child: String) = fs.exists(new Path(live, child))
      val layout = meta.map(_.layout).filter(_.nonEmpty)
        .orElse(Shapes.collectFirst { case (l, marker) if has(marker) => l })
        .getOrElse(throw new IllegalArgumentException(s"no graft layout at $path"))
      if (layout == "tiered") upgradeTiered(spark, root, live)
      else write(spark, live, meta.map(_.nRows).getOrElse {
        val marker = Shapes.toMap.apply(layout)
        val n = SidecarIO.rowCount(spark,
          s"$live/${if (layout == "hnsw") "hnsw_levels" else marker}").getOrElse(0L)
        if (layout == "scann") n / 2 else n // SOAR stores every id twice
      }, layout)
    }
  }

  private def upgradeTiered(spark: SparkSession, root: String, live: String): Unit = {
    val fs = SidecarIO.fs(spark, root)
    val ledger = SidecarIO.readRows(spark, s"$live/delta_commits").getOrElse(Nil)
      .groupBy(_.getOrElse("scope", "").asInstanceOf[String])
      .map { case (scope, rs) => scope -> TieredIngest.ScopeState(
        rs.map(r => SidecarIO.asLong(r.getOrElse("max_batch_id", r("batch_id")))).max, 0L)
      }
    val newest = ledger.values.map(_.maxBatchId).maxOption.getOrElse(-1L)
    val delta = new Path(live, "delta")
    if (fs.exists(delta)) fs.listStatus(delta).filter(_.isDirectory).foreach { st =>
      st.getPath.getName match {
        case UnscopedBatch(id) if id.toLong > newest => fs.delete(st.getPath, true)
        case _ =>
      }
    }
    val meta = TieredIngest.readOneRowSidecar(spark, s"$live/tiered_meta")
    // the base tier's list directories: `tiered_base/lists`, or those the
    // `tiered_base/list_dirs` sidecar names relative to the root
    val dirs = SidecarIO.readRows(spark, s"$live/tiered_base/list_dirs")
      .fold(Seq(s"$live/tiered_base/lists"))(_.map(r => s"$root/${r("dir")}"))
    val base = IvfFlatIndex.load(spark, s"$live/tiered_base",
      dirs.map(IvfFlatIndex.readListTable(spark, _)).reduce(_ unionByName _))
    val curveRows = meta.get("curve_rows").map(SidecarIO.asLong)
      .orElse(IvfFlatIndex.loadMeta(spark, s"$live/tiered_base")).getOrElse(0L)
    TieredIndex.rewrite(spark, root, base, TieredIndex.readDelta(spark, live),
      SidecarIO.asLong(meta("min_ann_rows")), meta("metric").asInstanceOf[String], curveRows,
      next => TieredIngest.writeZeroedLedger(spark, next, ledger))
  }
}
