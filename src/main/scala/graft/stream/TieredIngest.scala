package graft.stream

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.GraftConf
import graft.index.IvfFlatIndex
import graft.sources.SidecarIO

/** Streaming append INTO a saved tiered layout — the full streaming-ingest
  * story of `cuvs::neighbors::tiered_index` (tiered_index.hpp:59-67:
  * "extend adds to the incremental [brute-force] index"; the ANN tier is
  * only grown by compaction): a `foreachBatch` sink lands each
  * micro-batch in the layout's delta-tier parquet and refreshes the
  * planner sidecars (`tiered_meta.delta_rows` + the combined-population
  * `meta`), so re-registering the layout routes kNN joins over the
  * live-appended rows with zero ANN-tier work.
  *
  * EXACTLY-ONCE under foreachBatch's at-least-once redelivery: each
  * micro-batch lands in its own `delta/batch-<scopeTag>-<batchId>/`
  * directory with OVERWRITE semantics (a replay rewrites the same rows,
  * never duplicates them — partial writes from a crashed attempt are
  * overwritten too), and a committed-batch ledger (`delta_commits`: one
  * row per SCOPE — max_batch_id, cum_rows) records what landed. The
  * scope is the stream's checkpoint location: Structured Streaming
  * batchIds are only unique per checkpoint, so a rebuilt checkpoint (or
  * a second pipeline into the same layout) starts a fresh id namespace
  * instead of silently colliding with — and being skipped as replays of
  * — the old one; the scope also NAMES the batch directory, so two
  * scopes reusing an id never overwrite each other's rows. Batch ids
  * are monotonic per checkpoint and the engine only ever redelivers the
  * LAST one, so a `batchId <= max_batch_id` test recognizes every
  * possible replay and the ledger stays O(scopes) for the stream's whole
  * life — never one row per batch ever ingested. A recognized replay
  * skips the data write and only re-derives the sidecars from the
  * ledger — which also covers a crash BETWEEN the ledger write and the
  * sidecar writes (the write order is data → ledger → sidecars, each
  * step idempotent given the previous). The one-row sidecar rewrites
  * (ledger, `tiered_meta`, `meta`) go through a staged swap
  * (`SidecarIO.swap`: write aside, rename the old content ASIDE, swap in
  * — a reader finds old or new content except inside a
  * two-metadata-op window, which `SidecarIO.readSwapped`'s bounded retry
  * rides out); a reader that still catches a torn ledger treats it as
  * absent and re-derives — the engine only ever redelivers the LAST
  * batch, whose rows are by construction not yet in the pre-crash
  * sidecar value, so the re-derived counts stay exact.
  *
  * AUTO-PROMOTION: after each refresh the delta population is checked
  * against the layout's `min_ann_rows` and, once crossed, the delta is
  * folded into the ANN tier in place (`TieredIndex.compactInPlace`) — the
  * reference's `create_ann_index_on_extend` contract (tiered_index.hpp:
  * 59-67, 105, 136). Without it a long-running ingest grows the
  * exact-scan delta without bound. The committed batch ids survive
  * compaction as a zeroed ledger written into the new layout version, so
  * a post-compaction redelivery is still recognized. Compaction is
  * READER-SAFE: each one commits a new `v_NNNNNN` version directory with
  * an atomic marker create and the superseded version survives one more
  * compaction interval (TieredIndex version scheme), so queries executing
  * over the layout never lose their files mid-plan and never need a
  * retry. `spark.graft.tiered.autoCompact.enabled=false` still defers
  * compaction to quiet points; opting out never loses data — only the
  * delta grows.
  *
  * SINGLE WRITER: concurrent ingest into one layout from a SECOND
  * process would interleave the ledger/sidecar read-modify-write and
  * corrupt counts silently, so every append holds a best-effort lease
  * file (`.ingest_lease` at the layout root: writer token, heartbeat =
  * the append-rate mtime refresh). A second process finds a live foreign
  * lease and fails LOUDLY instead; a lease whose heartbeat is older than
  * `spark.graft.tiered.lease.staleMs` is a dead writer's
  * and is stolen with a warning. In-JVM concurrency stays on the
  * per-layout lock.
  *
  * 100 TB posture: each append is one partitioned parquet write of the
  * micro-batch — its only Spark job — plus three one-row sidecar swaps
  * and the lease heartbeat, which the driver writes in-process through
  * SidecarIO under one Hadoop configuration (`SidecarIO.withConf`) — no
  * shuffle, no index rebuild, no read of the base tier, no optimizer
  * pass, and the delta-population refresh is INCREMENTAL (previous
  * ledger sum + this batch's count, read from the footers of the files
  * just written), never a re-count of the whole delta directory. The
  * driver-side sidecar cost is a fixed handful of small-file operations
  * — three swaps (~3 ms each on a 4-vCPU host) and about ten one-row
  * reads (~1 ms each), no `.crc` companions and no forked `chmod` on a
  * local file system — beside the data write's job. The ledger itself
  * holds one
  * row per SCOPE (not per batch), so a year-long one-batch-per-10s
  * ingest still reads and rewrites a handful of rows per micro-batch —
  * O(scopes), not O(batches-ever). Compaction bounds the delta's
  * exact-scan cost.
  */
object TieredIngest {

  /** Per-layout locks: two concurrent ingests into ONE layout must not
    * interleave the ledger/sidecar read-modify-write; ingests into
    * UNRELATED layouts share nothing and proceed in parallel. The lock is
    * per-JVM — concurrent ingest into one layout from DIFFERENT processes
    * is unsupported (as is any multi-writer parquet sidecar rewrite). */
  private val locks = new ConcurrentHashMap[String, Object]()
  private def lockFor(indexPath: String): Object =
    locks.computeIfAbsent(normalize(indexPath), _ => new Object)
  private def normalize(p: String): String =
    p.stripPrefix("file:").stripSuffix("/")

  /** This JVM's writer identity for the cross-process ingest lease — one
    * token per process: two streams in one JVM already serialize on the
    * per-layout lock, so they legitimately share the lease. */
  private val leaseToken = java.util.UUID.randomUUID().toString

  /** Acquire (or heartbeat) the single-writer lease at the layout root.
    * Create-if-absent with the writer token; every append rewrites it, so
    * the file's mtime IS the heartbeat. A FOREIGN token younger than the
    * staleness horizon is a live concurrent writer — fail loudly (the
    * silent alternative is interleaved ledger read-modify-writes and
    * permanently wrong counts). A foreign token older than the horizon is
    * a dead writer's leftover and is stolen with a warning. Best-effort
    * by design (a racing create can still slip through on a filesystem
    * without atomic creates), which converts the UNDETECTABLE corruption
    * into a detectable, loud failure in every realistic interleaving. */
  private def acquireLease(spark: SparkSession, root: String): Unit = {
    if (!GraftConf.TieredLease.get(spark)) return
    val staleMs = GraftConf.TieredLeaseStaleMs.get(spark)
    val p = s"$root/.ingest_lease"
    val held: Option[(String, Long)] =
      try SidecarIO.readFile(spark, p).map { case (bytes, mtime) =>
        (new String(bytes, java.nio.charset.StandardCharsets.UTF_8).trim, mtime)
      } catch {
        // an unreadable lease (torn write, vanished mid-read) is treated
        // as absent — the rewrite below re-establishes it
        case scala.util.control.NonFatal(_) => None
      }
    held.foreach { case (tok, mtime) =>
      if (tok.nonEmpty && tok != leaseToken) {
        val age = System.currentTimeMillis() - mtime
        if (age < staleMs)
          throw new IllegalStateException(
            s"TieredIngest: another process holds the ingest lease on $root " +
              s"(token $tok, heartbeat ${age}ms ago < staleMs=$staleMs). " +
              "Concurrent multi-process ingest into one layout is unsupported — " +
              s"stop the other writer, or raise ${GraftConf.TieredLeaseStaleMs.key} " +
              "only if it is known dead.")
        System.err.println(s"graft TieredIngest: stealing stale ingest lease on " +
          s"$root (token $tok, heartbeat ${age}ms ago >= staleMs=$staleMs)")
      }
    }
    SidecarIO.writeFile(spark, p, leaseToken.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Scope of the rows that were in the delta BEFORE the first
    * ledger-tracked batch (the save-time delta + any direct
    * appends) — kept as a pseudo-scope so delta_rows is always the plain
    * sum of the ledger's cum_rows column. Direct callers passing
    * `batchId >= 0` with an empty scope share this namespace (their ids
    * are their own to keep monotonic). */
  private val BaseScope: String = ""

  /** Per-scope ledger state: highest committed batch id (ids are
    * monotonic per scope, so `batchId <= maxBatchId` IS the replay test)
    * and the cumulative rows this scope has landed in the delta. */
  private[graft] case class ScopeState(maxBatchId: Long, cumRows: Long)

  private def ledgerPath(indexPath: String) = s"$indexPath/delta_commits"

  private def exists(spark: SparkSession, path: String): Boolean =
    SidecarIO.fs(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  /** The committed-batch ledger, one entry per scope; initialized from
    * the CURRENT `tiered_meta.delta_rows` (authoritative as of the save /
    * the last direct append) when no ledger exists. An unreadable ledger
    * (a crash caught the staged-rename window) is treated as absent — see
    * the class doc for why the re-derived counts stay exact on the
    * engine's only real redelivery (the last batch). */
  private def readLedger(spark: SparkSession,
      indexPath: String): Map[String, ScopeState] = {
    def fromMeta = Map(BaseScope -> ScopeState(-1L, SidecarIO.asLong(
      readOneRowSidecar(spark, s"$indexPath/tiered_meta")("delta_rows"))))
    if (!exists(spark, ledgerPath(indexPath))) fromMeta
    else
      try SidecarIO.readRows(spark, ledgerPath(indexPath))
        .getOrElse(throw new java.io.FileNotFoundException(ledgerPath(indexPath)))
        .map(r => r("scope").asInstanceOf[String] -> ScopeState(
          SidecarIO.asLong(r("max_batch_id")), SidecarIO.asLong(r("cum_rows")))).toMap
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"graft TieredIngest: unreadable delta_commits at " +
            s"$indexPath (${e.getClass.getSimpleName}) — re-deriving from tiered_meta")
          fromMeta
      }
  }

  /** A one-row sidecar rewritten by `SidecarIO.swap`, read through the
    * swap window (`SidecarIO.readSwapped`); absent is an error here. */
  private[graft] def readOneRowSidecar(spark: SparkSession,
      target: String): Map[String, Any] =
    SidecarIO.readSwapped(spark, target)
      .getOrElse(throw new java.io.FileNotFoundException(target))

  private def writeLedger(spark: SparkSession, indexPath: String,
      ledger: Map[String, ScopeState]): Unit = {
    import spark.implicits._
    SidecarIO.swap(spark, ledgerPath(indexPath), SidecarIO.rows(
      ledger.toSeq.map { case (sc, st) => (sc, st.maxBatchId, st.cumRows) },
      "scope", "max_batch_id", "cum_rows"))
  }

  /** Carry the committed batch ids through an in-place compaction as a
    * zeroed ledger (the rows now live in the ANN tier; a post-compaction
    * redelivery must still be recognized). Written into the compacted
    * layout BEFORE the directory swap (TieredIndex.compactInPlace's
    * beforeSwap hook). */
  private[graft] def writeZeroedLedger(spark: SparkSession, intoPath: String,
      committed: Map[String, ScopeState]): Unit =
    if (committed.nonEmpty)
      writeLedger(spark, intoPath,
        committed.map { case (sc, st) => sc -> ScopeState(st.maxBatchId, 0L) })

  /** Batch data directory, namespaced by BOTH the scope and the batch id
    * to match the ledger key: two checkpoint scopes reusing an id (the
    * rebuilt-checkpoint / second-pipeline case the scope exists for) must
    * land in different directories, or the second scope's overwrite would
    * destroy the first's committed rows while the ledger still counted
    * them. The scope is folded to a fixed-width SHA-1 tag (paths make bad
    * directory names, and the tag must be stable across JVMs); the empty
    * scope keeps the bare `batch-<id>` name. */
  private def batchDir(indexPath: String, scope: String, batchId: Long): String =
    if (scope.isEmpty) s"$indexPath/delta/batch-$batchId"
    else {
      val sha = java.security.MessageDigest.getInstance("SHA-1")
        .digest(scope.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val tag = sha.take(8).map(b => f"$b%02x").mkString
      s"$indexPath/delta/batch-$tag-$batchId"
    }

  /** Append one micro-batch of (idCol, vecCol) rows + refresh the
    * sidecars. `batchId >= 0` (the streaming sink always passes one)
    * engages the idempotent per-batch-directory protocol above, with
    * `scope` naming the batchId's namespace (the sink passes its
    * checkpoint location; direct callers managing their own ids may leave
    * it empty). `batchId < 0` is the direct-call path for ad-hoc appends,
    * which has no replay to defend against and keeps the plain
    * `mode("append")` write + full recount. */
  def append(batch: DataFrame, indexPath: String,
      idCol: String = "id", vecCol: String = "vec",
      batchId: Long = -1L, scope: String = ""): Unit =
    lockFor(indexPath).synchronized {
      val spark = batch.sparkSession
      SidecarIO.withConf(spark) {
        val root = normalize(indexPath)
        acquireLease(spark, root)
        // all data/ledger/sidecar writes target the layout's LIVE version
        // directory (the root itself until the first in-place compaction);
        // resolved once per append, under the lock; an older format is
        // refused before anything lands
        val live = TieredIndex.resolveLive(spark, root)
        graft.index.LayoutFormat.require(spark, live, "tiered", root)
        val shaped = batch
          .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
        val sc = normalize(scope)
        val stats: (Long, Long) =
          if (batchId >= 0) {
            val ledger = readLedger(spark, live)
            val state = ledger.getOrElse(sc, ScopeState(-1L, 0L))
            if (batchId <= state.maxBatchId) {
              // at-least-once redelivery of an already-committed batch
              // (ids are monotonic per scope, so <= max means committed):
              // the data and ledger landed last time — only the sidecars
              // might be stale (crash between ledger and sidecar writes),
              // so re-derive them and land nothing. Structured Streaming
              // only ever redelivers the LAST batch (== max); a direct
              // caller submitting a NEW id below its scope's max violates
              // the monotonic-id contract and gets skipped as a replay —
              // loudly, so the drop is never silent.
              if (batchId < state.maxBatchId)
                System.err.println(s"graft TieredIngest: batch $batchId in scope " +
                  s"'$sc' is below the scope's max committed id ${state.maxBatchId} " +
                  "— treated as an already-committed replay and SKIPPED (per-scope " +
                  "batch ids must be monotonic; use a fresh scope to restart an " +
                  "id sequence)")
              writeSidecars(spark, live, ledger.values.map(_.cumRows).sum)
            } else {
              // overwrite = idempotent under replay AND under a crashed
              // partial write of this very directory
              val dir = batchDir(live, sc, batchId)
              shaped.write.mode("overwrite").parquet(dir)
              // footer record counts of the files just written — no job
              val n = SidecarIO.rowCount(spark, dir).getOrElse(0L)
              val grown = ledger + (sc -> ScopeState(batchId, state.cumRows + n))
              writeLedger(spark, live, grown)
              writeSidecars(spark, live, grown.values.map(_.cumRows).sum)
            }
          } else {
            shaped.write.mode("append").parquet(s"$live/delta")
            refreshSidecars(spark, live)
          }
        maybeCompact(spark, root, live, stats._1, stats._2)
      }
    }

  /** Rewrite `tiered_meta` (delta population) and the top-level
    * combined-population `meta` — the two numbers the kNN-join planner
    * reads at rewrite time — each by a staged swap, so a planner reading
    * either mid-append finds the old or the new row, never none. Returns
    * (deltaRows, minAnnRows) so the compaction trigger needs no extra
    * sidecar read. */
  private def writeSidecars(spark: SparkSession, indexPath: String,
      deltaRows: Long): (Long, Long) = {
    val meta = readOneRowSidecar(spark, s"$indexPath/tiered_meta")
    SidecarIO.swap(spark, s"$indexPath/tiered_meta", TieredIndex.metaRows(spark, meta, deltaRows))
    val baseRows = IvfFlatIndex.loadMeta(spark, s"$indexPath/tiered_base").get
    SidecarIO.swap(spark, s"$indexPath/meta",
      graft.index.LayoutFormat.rows(spark, baseRows + deltaRows, "tiered"))
    (deltaRows, SidecarIO.asLong(meta("min_ann_rows")))
  }

  /** Full-recount sidecar refresh — the direct-append path and the
    * repair tool for a layout whose delta was modified out of band. Also
    * re-bases the ledger so later streaming batches stay incremental. */
  def refreshSidecars(spark: SparkSession, indexPath: String): (Long, Long) =
    SidecarIO.withConf(spark) {
      // callers may pass the layout ROOT — operate on the live version
      val live = TieredIndex.resolveLive(spark, normalize(indexPath))
      val deltaRows = TieredIndex.readDelta(spark, live).count()
      val stats = writeSidecars(spark, live, deltaRows)
      if (exists(spark, ledgerPath(live))) {
        // re-base: the streaming scopes keep their committed counts, the
        // base pseudo-scope absorbs whatever the recount says the
        // out-of-band rows add up to
        val ledger = readLedger(spark, live)
        val scoped = ledger - BaseScope
        val baseMax = ledger.get(BaseScope).map(_.maxBatchId).getOrElse(-1L)
        writeLedger(spark, live, scoped +
          (BaseScope -> ScopeState(baseMax,
            deltaRows - scoped.values.map(_.cumRows).sum)))
      }
      stats
    }

  /** The reference's `create_ann_index_on_extend` trigger: once the delta
    * crosses `min_ann_rows`, fold it into the ANN tier in place (the
    * fold writes the delta's rows into the lists they land in and resets
    * delta_rows to 0). The committed batch keys survive compaction as a
    * ZEROED ledger written into the new version directory BEFORE its
    * commit marker — a post-compaction redelivery of an already-folded
    * batch must still be recognized and skipped, or the replay would
    * duplicate rows the ANN tier now owns. */
  private def maybeCompact(spark: SparkSession, root: String, live: String,
      deltaRows: Long, minAnnRows: Long): Unit =
    if (deltaRows >= minAnnRows &&
        GraftConf.TieredAutoCompact.get(spark)) {
      val committed =
        if (exists(spark, ledgerPath(live)))
          readLedger(spark, live)
        else Map.empty[String, ScopeState]
      TieredIndex.compactInPlace(spark, root,
        tmp => writeZeroedLedger(spark, tmp, committed))
      // the layout changed UNDER any live registration: drop the
      // planner's memoized sidecar statistics (and its live-version
      // resolution) so routed queries read the compacted population/
      // curve, not the pre-compaction values
      graft.plans.GraftIndexCatalog.invalidateStats()
    }

  /** `foreachBatch` sink over an (idCol, vecCol) stream into the saved
    * layout at `indexPath`. The caller drives the stream (addData /
    * processAllAvailable on a test source, or a real file/kafka source)
    * and re-registers the layout when it wants the planner to see the
    * appended rows (register drops the planner's sidecar memos). The
    * engine's (checkpoint, batchId) pair keys the idempotence protocol —
    * a restart on the SAME checkpoint that redelivers the last
    * uncommitted batch lands it exactly once, and a rebuilt checkpoint
    * starts a fresh id namespace instead of colliding with the old. */
  def sink(stream: DataFrame, indexPath: String, checkpoint: String,
      idCol: String = "id", vecCol: String = "vec"): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        append(batch, indexPath, idCol, vecCol, batchId = batchId,
          scope = checkpoint)
      }
      .start()
}
