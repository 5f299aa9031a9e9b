package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming surfaces beyond the foreachBatch sinks
  * (DynamicBatcher, TieredIndex): a watermarked tumbling-window
  * aggregation and a streaming exact-dedup filter, both driven as real
  * `readStream` file-source pipelines drained with `Trigger.AvailableNow`.
  *
  * These are the streaming halves of the engine's training-data pipeline
  * surface — the reference itself is batch-only (its closest notion is
  * the incremental `extend` / tiered_index.hpp delta tier), so the
  * streaming shapes here follow Spark's own canon instead:
  *
  *  - `windowAgg`: file stream → `withWatermark` → tumbling-window
  *    groupBy → APPEND sink. Append mode only emits a window once the
  *    watermark passes its end, which makes output exactly-once and state
  *    eviction automatic — the 100 TB shape (bounded state, no Complete
  *    mode re-emission). A bounded backfill leaves its trailing windows
  *    un-finalized (the watermark only advances on new data), so the
  *    stage step appends one SENTINEL row past the horizon — the standard
  *    end-of-backfill flush pattern. The horizon scales with the
  *    caller's watermark delay (a fixed offset would silently re-open the
  *    append-mode trap for delays past it), and the sentinel can never
  *    surface: its own window is beyond the final watermark, and the
  *    result is additionally bounded to windows that start at or before
  *    the real data's last hour.
  *  - `dedupExact`: file stream → fingerprint → `dropDuplicates` →
  *    append sink. Streaming state = one entry per distinct fingerprint,
  *    i.e. exactly the shuffle footprint of the batch groupBy (the
  *    documents table carries no event time, so this variant is
  *    unbounded; only the DISTINCT KEY SET is emitted — first-seen
  *    payload columns would be arrival-order-dependent).
  *  - `dedupWithinWatermark`: the BOUNDED-state variant over the events
  *    stream — `dropDuplicatesWithinWatermark` evicts keys older than
  *    the watermark horizon, so state is O(keys per horizon), not
  *    O(all keys ever); separately gated, with eviction asserted via
  *    [[lastDrainStateRows]]. At scale the state store is RocksDB —
  *    exercised, not just claimed: StreamPipelineSuite's RocksDB case
  *    runs both the sessionize timeout path and this eviction path on
  *    `RocksDBStateStoreProvider` (backend engagement asserted via the
  *    rocksdb* state metrics) and pins row equality with the default
  *    store; the 20M streaming smoke has a RocksDB leg.
  *
  * Both event-time pipelines also run an INCREMENTAL backfill mode
  * (`batches > 1`): the input is staged as time-range files ingested one
  * per micro-batch (`maxFilesPerTrigger=1`), so the watermark advances —
  * and state evicts — progressively across batches rather than in one
  * end-of-input flush. That is the regime a production backfill actually
  * runs in, and the gated incremental query pins that cross-batch state
  * carry + mid-stream timeout emission stay row-equal to the batch SQL.
  *
  * At 100 TB the file source's directory listing is the practical
  * bottleneck — production feeds this from a notification-based source,
  * and `maxFilesPerTrigger` back-pressures the backfill; neither changes
  * the query shape gated here.
  */
object StreamPipeline {

  /** Move every data file of a written parquet directory into `destDir`
    * under a distinct `prefix` (flat layout — the file stream source
    * lists non-recursively by default). Rename, not copy: both dirs live
    * on the same (tmp) filesystem, so staging costs a metadata op per
    * part instead of a second full write of the dataset. Files get
    * explicit, strictly-increasing mtimes from `mtimeBase` (in part-name
    * order — for range-staged data that is time-range order): the file
    * source orders its backlog by modification time, and a whole staging
    * job can otherwise land inside one clock tick, making multi-batch
    * ingest order nondeterministic. Returns the number of parts staged so
    * callers can place a LATER staging (the sentinel) at
    * `mtimeBase + (n + 1) * 1000` — the ordering invariant is derived
    * from the actual part count, never from a fixed offset a large
    * staging could walk past. */
  private def stageParts(spark: SparkSession, srcDir: String, destDir: String,
      prefix: String, mtimeBase: Long): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(srcDir)
    val dest = new org.apache.hadoop.fs.Path(destDir)
    val fs = src.getFileSystem(conf)
    fs.mkdirs(dest)
    val parts = fs.listStatus(src).filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    parts.zipWithIndex.foreach { case (s, i) =>
      val dst = new org.apache.hadoop.fs.Path(dest, f"$prefix-$i%05d.parquet")
      fs.rename(s.getPath, dst)
      fs.setTimes(dst, mtimeBase + i * 1000L, -1)
    }
    parts.length
  }

  private def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_stream_$tag").toString

  /** DIRECT-source streaming input — skip staging entirely: stream the
    * caller's parquet directory IN PLACE, plus a one-row sentinel written
    * to its own temp dir, both under ONE file source via a Hadoop brace
    * glob rooted at `/` (glob alternation expands `/` inside `{…}`, so
    * the two dirs need no common parent). The source data is never
    * copied, moved, or touched — the only batch work is the
    * column-pruned `max(ts)` probe the sentinel placement needs, which
    * replaces the staged path's full-input rewrite.
    *
    * Contract (the caller asserts it): when `batches > 1` the source's
    * part files must already be event-time-ordered by mtime — the
    * incremental drain ingests one file per micro-batch in mtime order,
    * exactly the ordering the staged path manufactures. The sentinel dir
    * is created after the probe, so its mtime orders last. A production
    * feed written by a time-partitioned job satisfies this naturally; a
    * source that doesn't must use the staged path.
    *
    * `rawCols` are streamed in the SOURCE's physical types (nanos-long
    * `ts` included — the same `nanosAsLong` dispatch as [[readEvents]])
    * and normalized here, so callers see the staged path's schema. With
    * `sentinelMarker` a boolean `sentinel` column is appended to the
    * stream schema: absent from the data files (reads as null →
    * coalesced false), true in the sentinel file.
    * Returns None when the source has no rows; otherwise the normalized
    * stream, max(ts), and a sentinel-dir cleanup. */
  private def directInput(spark: SparkSession, eventsPath: String,
      rawCols: Seq[String],
      sentinelValues: Map[String, org.apache.spark.sql.Column],
      sentinelMarker: Boolean, sentinelOffsetMs: Long, batches: Int,
      orderSlackMs: Long = 0L)
      : Option[(DataFrame, java.sql.Timestamp, () => Unit)] = {
    require(eventsPath.startsWith("/") &&
        !eventsPath.exists(c => c == ',' || c == '{' || c == '}'),
      s"direct mode needs an absolute glob-safe path, got: $eventsPath")
    // the incremental drain ingests one file per micro-batch in mtime
    // order; a source violating the event-time-ordered-by-mtime contract
    // would have its late files silently dropped by the advancing
    // watermark — verify the contract from the parquet footers and fail
    // LOUDLY instead (files may overlap up to the watermark delay, which
    // is exactly the reordering the watermark already tolerates)
    if (batches > 1) assertMtimeOrdered(spark, eventsPath, orderSlackMs)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(eventsPath)
    val maxTsRow = readEvents(spark, eventsPath).agg(max(col("ts"))).head()
    if (maxTsRow.isNullAt(0)) return None
    val maxTs = maxTsRow.getTimestamp(0)
    // the sentinel carries the SOURCE's physical ts type so one stream
    // schema serves both dirs
    val sentTsMs = maxTs.getTime + sentinelOffsetMs
    val sentTs: org.apache.spark.sql.Column = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => lit(sentTsMs * 1000000L) // nanos
      case _ => lit(new java.sql.Timestamp(sentTsMs))
    }
    val sentCols = rawCols.map {
      case "ts" => sentTs.as("ts")
      case c => sentinelValues(c).cast(raw.schema(c).dataType).as(c)
    } ++ (if (sentinelMarker) Seq(lit(true).as("sentinel")) else Nil)
    val sentTmp = tempDir("direct_sent")
    // one driver-held row (literal columns over a one-row local frame):
    // written in-process, no job
    graft.sources.SidecarIO.write(
      spark.createDataFrame(java.util.List.of(org.apache.spark.sql.Row(0L)),
        org.apache.spark.sql.types.StructType.fromDDL("_row long")).select(sentCols: _*),
      sentTmp)
    val fields = rawCols.map(c => raw.schema(c)) ++
      (if (sentinelMarker)
        Seq(org.apache.spark.sql.types.StructField("sentinel",
          org.apache.spark.sql.types.BooleanType, nullable = true))
      else Nil)
    val reader = spark.readStream.schema(org.apache.spark.sql.types.StructType(fields))
    if (batches > 1) reader.option("maxFilesPerTrigger", "1")
    val glob = s"/{${eventsPath.stripPrefix("/")},${sentTmp.stripPrefix("/")}}"
    val normalized = graft.MiscQueries.normalizeEventTs(reader.parquet(glob))
      .withColumn("ts", col("ts").cast("timestamp"))
    Some((normalized, maxTs, () => deleteRecursively(sentTmp)))
  }

  /** Guard for the `batches > 1` direct-source contract: compute each
    * source part file's min/max `ts` in ONE column-pruned pass (grouped
    * by `input_file_name` — footer statistics would be cheaper but
    * Spark's default INT96 timestamps carry none) and require that in
    * mtime order no file's min falls more than `slackMs` behind the
    * running max — i.e. event time is ordered by mtime up to the
    * watermark's own tolerance. A violating source must fail here,
    * loudly, because downstream it would only "fail" as silently
    * incomplete aggregates (the advancing watermark drops the late
    * files' events). The pass costs one ts-column scan — the same order
    * as the max(ts) sentinel probe, and nothing like the full-input
    * copy direct mode exists to avoid. */
  private def assertMtimeOrdered(spark: SparkSession, eventsPath: String,
      slackMs: Long): Unit = {
    val src = new org.apache.hadoop.fs.Path(eventsPath)
    val fs = src.getFileSystem(spark.sessionState.newHadoopConf())
    val parts = fs.listStatus(src)
      .filter(s => s.isFile && !s.getPath.getName.startsWith(".") &&
        !s.getPath.getName.startsWith("_"))
      .sortBy(s => (s.getModificationTime, s.getPath.getName))
    if (parts.length <= 1) return
    val ranges = readEvents(spark, eventsPath)
      .select(col("ts"), input_file_name().as("_f"))
      .groupBy(col("_f"))
      .agg(min(col("ts")).as("_min"), max(col("ts")).as("_max"))
      .collect()
      .map(r => fileNameOf(r.getString(0)) ->
        (r.getTimestamp(1).getTime, r.getTimestamp(2).getTime))
      .toMap
    var runningMax = Long.MinValue
    parts.foreach { st =>
      ranges.get(st.getPath.getName).foreach { case (fileMin, fileMax) =>
        if (runningMax != Long.MinValue && fileMin < runningMax - slackMs)
          throw new IllegalStateException(
            s"direct mode (batches > 1): ${st.getPath.getName} starts " +
              s"${runningMax - fileMin} ms before an earlier-mtime file's max ts " +
              s"(allowed slack: $slackMs ms) — the advancing watermark would " +
              "silently drop its events; re-stage the source in event-time order " +
              "or use the staged path")
        runningMax = math.max(runningMax, fileMax)
      }
    }
  }

  /** Last path segment of an `input_file_name()` value (URI-encoded). */
  private def fileNameOf(uri: String): String =
    java.net.URLDecoder.decode(uri.substring(uri.lastIndexOf('/') + 1), "UTF-8")

  /** Run `body` with `spark.sql.legacy.parquet.nanosAsLong` enabled and
    * RESTORE the prior value after — the event pipelines need the legacy
    * read for the fixture's TIMESTAMP(NANOS) files, but leaving it set
    * session-wide changes how unrelated parquet reads behave for the rest
    * of the session. Every drain happens inside `body` (the returned
    * frames read the SINK, written with standard timestamps), so the
    * restore is safe at entry-point scope. */
  private def withNanosAsLong[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(key)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def deleteRecursively(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverseIterator
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** Sink dirs must outlive the (lazy) frames returned to callers, so they
    * are reaped at JVM exit rather than synchronously — repeated
    * invocations in one session (Bench runs every query twice) no longer
    * accumulate results for the host's tmp reaper to find. */
  private val sinkDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val sinkReaper: Unit = Runtime.getRuntime.addShutdownHook(new Thread(() =>
    sinkDirs.forEach(d => try deleteRecursively(d) catch { case _: Throwable => () })))

  /** Interval string → millis. Month-bearing intervals have no fixed
    * length and are rejected. */
  private def intervalMs(s: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    require(iv.months == 0, s"calendar-month interval not supported here: $s")
    iv.days * 86400000L + iv.microseconds / 1000
  }

  /** Micro-batch count of the most recent [[drain]] ON THIS THREAD —
    * test/smoke diagnostic so incremental (`batches > 1`) runs can assert
    * the backfill genuinely spanned several micro-batches instead of
    * passing vacuously through one. None until a drain ran on this thread
    * (boxed Long, not primitive — a primitive ThreadLocal unboxes an
    * unset null to 0, making "never drained" look like a 0-batch drain). */
  def lastDrainBatches: Option[Long] = Option(lastDrainBatchesTl.get()).map(_.longValue)
  private val lastDrainBatchesTl = new ThreadLocal[java.lang.Long]

  /** Total state rows at the final micro-batch of the most recent
    * [[drain]] ON THIS THREAD — lets tests/smokes assert that a
    * watermark-bounded operator's state was actually EVICTED (≪ keys
    * seen) rather than accumulating the whole input. −1 if the query
    * reported no state operators; None if no drain ran on this thread. */
  def lastDrainStateRows: Option[Long] = Option(lastDrainStateRowsTl.get()).map(_.longValue)
  private val lastDrainStateRowsTl = new ThreadLocal[java.lang.Long]

  /** Custom-metric key set of the state operators at the final micro-batch
    * of the most recent [[drain]] ON THIS THREAD — lets tests assert WHICH
    * state-store backend actually ran (RocksDB providers report
    * `rocksdb*` metrics; the default HDFS-backed provider reports none of
    * them). Conf-is-set alone would be a vacuous check. */
  def lastDrainStateMetricKeys: Set[String] =
    Option(lastDrainStateMetricsTl.get()).getOrElse(Set.empty)
  private val lastDrainStateMetricsTl = new ThreadLocal[Set[String]]

  /** Set `kvs` for the duration of `body`, restoring prior values after —
    * the streaming-query twin of [[withNanosAsLong]] for arbitrary pairs. */
  private[stream] def withConfs[T](spark: SparkSession, kvs: Seq[(String, String)])(
      body: => T): T = {
    val priors = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally priors.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Total bytes of the data files under `dir` (non-recursive is enough —
    * every staging/source dir here is flat) for the state-partition
    * derivation below; −1 when unreadable (derivation skipped). */
  private def dirBytes(spark: SparkSession, dir: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).iterator.filter(_.isFile).map(_.getLen).sum
    } catch { case _: Throwable => -1L }

  /** Drain `df` (a streaming frame) through an append parquet sink with
    * Trigger.AvailableNow and return the written rows as a batch frame.
    * The checkpoint is transient by design — each invocation is a fresh
    * bounded run (a resumable deployment would pin a durable location).
    *
    * Two per-batch fixed costs are trimmed for the drain, both measured
    * against the r17 baseline (guide §1/§2) and both restored after:
    *
    *  - `spark.sql.streaming.checkpoint.fileChecksum.enabled=false`
    *    (Spark 4.1 default true): the checksum manager writes a sibling
    *    `.crc` PER checkpoint file (2x the offset/commit/state file
    *    count + fsyncs per micro-batch) and holds per-query thread pools
    *    whose stop waits up to 500 ms each ("Thread pool did not
    *    shutdown" warnings on every drain). Corruption self-detection
    *    buys nothing on a checkpoint that lives for one bounded run —
    *    a resumable deployment keeps the Spark default via
    *    `spark.graft.stream.transientCheckpoint=false`.
    *  - `spark.sql.shuffle.partitions` for the stream, derived from the
    *    INPUT SIZE (`ceil(inputBytes / TargetBytesPerStatePartition)`,
    *    capped at the session value): a stateful micro-batch commits one
    *    state-store instance per partition per batch, so a fixed
    *    core-count-sized 32 pays 32 store commits per batch on a
    *    megabyte backfill. Scale-adaptive, not a local[32] constant: a
    *    100 TB backfill saturates the cap (the session's own setting),
    *    a small one stops paying for stores it doesn't need. The target
    *    is `TargetBytesPerStatePartition` (32 MiB, the
    *    state-store-commit-bound analog of guide §2.2's 100MB-1GB
    *    shuffle-partition sizing). Results are partition-count-invariant
    *    (hash by key), so the oracle rows are unchanged. */
  private def drain(df: DataFrame, tag: String, inputBytes: Long = -1L): DataFrame = {
    val spark = df.sparkSession
    val confs = scala.collection.mutable.Buffer.empty[(String, String)]
    if (graft.core.GraftConf.StreamTransientCheckpoint.get(spark))
      confs ++= transientCheckpointConfs
    if (inputBytes >= 0) {
      val cur = spark.sessionState.conf.numShufflePartitions
      val parts = math.max(1L, math.min(cur.toLong,
        (inputBytes + TargetBytesPerStatePartition - 1) / TargetBytesPerStatePartition))
      confs += "spark.sql.shuffle.partitions" -> parts.toString
    }
    withConfs(spark, confs.toSeq)(drainImpl(df, tag))
  }

  private val TargetBytesPerStatePartition = 32L * 1024 * 1024

  /** Conf overrides for a TRANSIENT (single-bounded-run) checkpoint, shared
    * by every local drain (here and DynamicBatcher):
    *
    *  - checksum sidecars off (see drain doc above, r17);
    *  - `FileSystemBasedCheckpointFileManager` instead of the default
    *    FileContext-based manager (r18). Measured root cause, not taste: a
    *    driver thread dump during a degraded drain shows every checkpoint
    *    rename (offsets/commits/state deltas — several PER MICRO-BATCH) on
    *    the FileContext path going `FileContext.rename` → `ChecksumFs` →
    *    `RawLocalFileSystem.getFileLinkStatus` → `FileUtil.readLink` →
    *    `Shell.execCommand`, i.e. FORKING A SHELL PROCESS per rename
    *    (Hadoop's native lib is absent, and the 3-arg FileSystem.rename the
    *    FileContext path takes always stats the source via readlink). fork()
    *    cost scales with the JVM's resident set, so consecutive drains in a
    *    long session degrade progressively — a streaming-only bench run
    *    measured the SAME query going 2.0 s → 8.0 s within one session, with
    *    the fixed-work stream probe drifting 6.6 → 14.5 s. The
    *    FileSystem-based manager (Spark's own alternative for filesystems
    *    with atomic rename — exactly the local FS) renames via
    *    `File.renameTo`, no fork. A durable deployment on an object store
    *    keeps the Spark default via
    *    `spark.graft.stream.transientCheckpoint=false`. */
  private[graft] val transientCheckpointConfs: Seq[(String, String)] = Seq(
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      ("org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager"))
  // r18 negative result, recorded so it isn't retried: adding
  // minBatchesToRetain=2 + stateStore.maintenanceInterval=600s here was a
  // wash on a streaming-only A/B (8 queries × 3 medians, same session
  // band) — the drains are too short for retention/maintenance to fire.

  private def drainImpl(df: DataFrame, tag: String): DataFrame = {
    val out = tempDir(s"${tag}_out")
    val ckpt = tempDir(s"${tag}_ckpt")
    val q = df.writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val nBatches: Long = Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)
    val stateRows: Long = Option(q.lastProgress)
      .map(p => if (p.stateOperators.isEmpty) -1L else p.stateOperators.map(_.numRowsTotal).sum)
      .getOrElse(-1L)
    lastDrainBatchesTl.set(java.lang.Long.valueOf(nBatches))
    lastDrainStateRowsTl.set(java.lang.Long.valueOf(stateRows))
    lastDrainStateMetricsTl.set {
      import scala.jdk.CollectionConverters._
      Option(q.lastProgress)
        .map(_.stateOperators.flatMap(_.customMetrics.keySet.asScala).toSet)
        .getOrElse(Set.empty)
    }
    deleteRecursively(ckpt)
    sinkReaper
    sinkDirs.add(out)
    df.sparkSession.read.parquet(out)
  }

  /** Events read shared by both event-time pipelines: same physical-type
    * dispatch as the batch queries (MiscQueries.normalizeEventTs — the
    * fixture has shipped both TIMESTAMP(NANOS) and MICROS `ts`), then one
    * cast so the staged schema, watermark, and epoch conversion all run
    * on TimestampType under the UTC session TZ. */
  private def readEvents(spark: SparkSession, eventsPath: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.MiscQueries.normalizeEventTs(spark.read.parquet(eventsPath))
      .withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Watermarked tumbling-window aggregation over the events stream:
    * (win_start epoch-seconds, event_type, n_events, sum_value) per
    * 1-hour window, append mode, sentinel-flushed. Row-equal to the batch
    * `GROUP BY date_trunc('hour', ts), event_type` — including NULL
    * event_type groups, which the sentinel scheme must not (and does
    * not) swallow: the sentinel is excluded by its out-of-range window,
    * never by an event_type comparison. */
  def windowAgg(spark: SparkSession, eventsPath: String,
      delay: String = "30 minutes", batches: Int = 1,
      direct: Boolean = false): DataFrame =
    withNanosAsLong(spark)(windowAggImpl(spark, eventsPath, delay, batches, direct))

  private def windowAggImpl(spark: SparkSession, eventsPath: String,
      delay: String, batches: Int, direct: Boolean): DataFrame = {
    import spark.implicits._
    val delayMs = intervalMs(delay)
    def emptyResult = Seq.empty[(Long, String, Long, Double)]
      .toDF("win_start", "event_type", "n_events", "sum_value")
    // the windowed aggregation + sentinel-bounded drain, shared by the
    // staged and direct input shapes
    def finish(in: DataFrame, maxTs: java.sql.Timestamp, tag: String,
        inputBytes: Long): DataFrame = {
      val agg = in
        .withWatermark("ts", delay)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n_events"), col("sum_value"))
      // belt and braces: real windows start at or before maxTs's hour
      val lastRealWinStart = maxTs.getTime / 3600000L * 3600L
      drain(agg, tag, inputBytes).filter(col("win_start") <= lastRealWinStart)
    }
    if (direct) {
      // DIRECT mode: the source dir streams in place (no staged copy);
      // see directInput for the time-ordered-parts contract
      return directInput(spark, eventsPath, Seq("ts", "event_type", "value"),
          Map("event_type" -> lit(null), "value" -> lit(0.0)),
          sentinelMarker = false, delayMs + 2L * 3600 * 1000, batches,
          orderSlackMs = delayMs) match {
        case None => emptyResult
        case Some((stream, maxTs, cleanup)) =>
          val res = finish(
            stream.select(col("ts"), col("event_type"), col("value")),
            maxTs, "winagg_direct", dirBytes(spark, eventsPath))
          cleanup()
          res
      }
    }
    val batch = readEvents(spark, eventsPath)
      .select(col("ts"), col("event_type"), col("value"))
    val stage = tempDir("winagg_stage")
    val dataTmp = tempDir("winagg_data")
    // batches > 1 = incremental backfill: stage the data as `batches`
    // time-RANGE files and ingest one per micro-batch, so the watermark
    // advances (and windows finalize) progressively across batches — the
    // production shape — instead of in one end-of-input flush.
    // The sentinel placement needs max(ts); observe() folds that into the
    // staging write itself — ONE pass over the backfill input, not a
    // separate full scan before it. (batches > 1: repartitionByRange adds
    // a range-SAMPLING pass inside the same execution and re-fires the
    // observe accumulator — harmless for max/emptiness; the "exactly one
    // read" contract is per driver-issued batch execution, listener-
    // asserted for both shapes in StreamPipelineSuite.)
    val obs = org.apache.spark.sql.Observation("winagg_maxts")
    val observed = batch.observe(obs, max(col("ts")).as("max_ts"))
    val staged = if (batches > 1) observed.repartitionByRange(batches, col("ts")) else observed
    staged.write.mode("overwrite").parquet(dataTmp)
    val maxTsAny = obs.get("max_ts")
    if (maxTsAny == null) {
      Seq(stage, dataTmp).foreach(deleteRecursively)
      return emptyResult
    }
    val maxTs = maxTsAny.asInstanceOf[java.sql.Timestamp]
    val t0 = System.currentTimeMillis()
    val mtimeBase = t0 - 3600L * 1000
    val nData = stageParts(spark, dataTmp, stage, "a-data", mtimeBase)
    // sentinel delay+2h past the max event time: the final watermark is
    // sentTs − delay = maxTs + 2h, clearing every real window end
    // (≤ trunc(maxTs) + 1h) for ANY caller-supplied delay; the sentinel's
    // own window ends past that watermark, so append mode never emits it
    val sentTmp = tempDir("winagg_sent")
    graft.sources.SidecarIO.write(
      Seq((new java.sql.Timestamp(maxTs.getTime + delayMs + 2L * 3600 * 1000),
          null.asInstanceOf[String], 0.0))
        .toDF("ts", "event_type", "value"),
      sentTmp)
    stageParts(spark, sentTmp, stage, "z-sentinel", mtimeBase + (nData + 1) * 1000L)

    val reader = spark.readStream.schema(batch.schema)
    if (batches > 1) reader.option("maxFilesPerTrigger", "1")
    val res = finish(reader.parquet(stage), maxTs, "winagg", dirBytes(spark, stage))
    Seq(stage, dataTmp, sentTmp).foreach(deleteRecursively)
    res
  }

  /** Open-session state for [[sessionize]]: timestamps in event-time
    * MICROS (exact — no float rounding against the oracle). Public:
    * encoder codegen must reach the accessors. */
  case class OpenSession(start: Long, last: Long, n: Long, idx: Long)
  case class SessionRow(user_id: Long, session_idx: Long,
      session_start: Long, session_end: Long, n_events: Long)

  /** Gap-based sessionization over the events stream via
    * `flatMapGroupsWithState` + event-time timeout — the custom-state
    * streaming surface: state = the one OPEN session per user, closed
    * sessions emit immediately (append-mode final), and the LAST session
    * of each user emits on timeout once the watermark passes its gap —
    * driven past end-of-input by the same sentinel flush as [[windowAgg]].
    * The sentinel travels under a dedicated marker column (never a magic
    * id — every long, negative ids included, is a legal user_id) and is
    * dropped inside the fold, so no output filter touches real rows.
    * Output: (user_id, session_idx (1-based), session_start/end in epoch
    * micros, n_events); row-equal to the batch lag/cumsum window SQL.
    *
    * Scale + ordering contract: state is O(users) — open sessions plus a
    * closed-counter marker per seen user that keeps lifetime session_idx
    * numbering exact across mid-backfill timeouts (see `fold`);
    * events must arrive event-time-ordered ACROSS micro-batches per user
    * (in-batch order is sorted here; cross-batch reordering is exactly
    * what the watermark bounds — a production feed relies on
    * within-watermark ordering or reorders in a pre-stage). The bounded
    * drain (batches = 1) stages parallel part files; AvailableNow with no
    * maxFilesPerTrigger ingests them as one micro-batch, and the fold
    * sorts in-batch, so one-batch semantics hold without a single-file
    * (single-task) staging write. */
  def sessionize(spark: SparkSession, eventsPath: String,
      gap: String = "30 minutes", delay: String = "30 minutes",
      batches: Int = 1, direct: Boolean = false): DataFrame =
    withNanosAsLong(spark)(sessionizeImpl(spark, eventsPath, gap, delay, batches, direct))

  private def sessionizeImpl(spark: SparkSession, eventsPath: String,
      gap: String, delay: String, batches: Int, direct: Boolean): DataFrame = {
    import spark.implicits._
    val gapMs = intervalMs(gap)
    val gapMicros = gapMs * 1000
    def emptyResult = Seq.empty[(Long, Long, Long, Long, Long)]
      .toDF("user_id", "session_idx", "session_start", "session_end", "n_events")
    if (direct) {
      // DIRECT mode: the source dir streams in place (no staged copy);
      // see directInput for the time-ordered-parts contract. The sentinel
      // marker travels as a stream-schema-only column: data files lack it
      // (null → false), the sentinel file carries true.
      return directInput(spark, eventsPath, Seq("ts", "user_id"),
          Map("user_id" -> lit(0L)),
          sentinelMarker = true,
          gapMs + intervalMs(delay) + 3600 * 1000L, batches,
          orderSlackMs = intervalMs(delay)) match {
        case None => emptyResult
        case Some((stream, _, cleanup)) =>
          val in = stream.select(col("ts"),
            col("user_id").cast("long").as("user_id"),
            coalesce(col("sentinel"), lit(false)).as("sentinel"))
          val res = sessionFold(in, gap, delay, "sess_direct",
            dirBytes(spark, eventsPath))
          cleanup()
          res
      }
    }
    val batch = readEvents(spark, eventsPath)
      .select(col("ts"), col("user_id").cast("long").as("user_id"),
        lit(false).as("sentinel"))
    val stage = tempDir("sess_stage")
    val dataTmp = tempDir("sess_data")
    // incremental backfill (batches > 1): time-RANGE staged files, one
    // per micro-batch. Range staging preserves the cross-batch event-time
    // ordering contract (batch i+1's events all follow batch i's), open
    // sessions carry in state across batches, and sessions whose gap the
    // advancing watermark has passed emit by TIMEOUT mid-backfill — the
    // regime the single-file drain can't reach. Exactness holds because a
    // timed-out session can never be extended by a later range: the next
    // event is ≥ the range boundary > watermark > last + gap.
    // max(ts) for the sentinel rides the staging write via observe() —
    // one pass over the backfill input, no separate scan (batches > 1
    // adds repartitionByRange's sampling pass inside the same execution;
    // see windowAgg's staging note). The batches=1
    // staging is PARALLEL part files (like windowAgg's): the file source's
    // AvailableNow run still ingests the whole staging as one micro-batch
    // when maxFilesPerTrigger is unset, and the fold sorts each group's
    // events in-batch, so single-batch semantics don't need a single file.
    // (An earlier coalesce(1) here put the observe's per-row metric
    // aggregate inside ONE task over the full input — 3.5× the leg at 20M.)
    val obs = org.apache.spark.sql.Observation("sess_maxts")
    val observed = batch.observe(obs, max(col("ts")).as("max_ts"))
    val staged =
      if (batches > 1) observed.repartitionByRange(batches, col("ts"))
      else observed
    staged.write.mode("overwrite").parquet(dataTmp)
    val maxTsAny = obs.get("max_ts")
    if (maxTsAny == null) {
      Seq(stage, dataTmp).foreach(deleteRecursively)
      return emptyResult
    }
    val maxTs = maxTsAny.asInstanceOf[java.sql.Timestamp]
    val t0 = System.currentTimeMillis()
    val mtimeBase = t0 - 3600L * 1000
    val nData = stageParts(spark, dataTmp, stage, "a-data", mtimeBase)
    val sentTmp = tempDir("sess_sent")
    // sentinel gap+delay+1h out: final watermark = sentTs − delay =
    // maxTs + gap + 1h, past every real session's timeout (≤ maxTs + gap)
    // for ANY caller-supplied gap/delay combination
    graft.sources.SidecarIO.write(
      Seq((new java.sql.Timestamp(maxTs.getTime + gapMs + intervalMs(delay) + 3600 * 1000L),
          0L, true))
        .toDF("ts", "user_id", "sentinel"),
      sentTmp)
    stageParts(spark, sentTmp, stage, "z-sentinel", mtimeBase + (nData + 1) * 1000L)

    val reader = spark.readStream.schema(batch.schema)
    if (batches > 1) reader.option("maxFilesPerTrigger", "1")
    val res = sessionFold(reader.parquet(stage), gap, delay, "sess",
      dirBytes(spark, stage))
    Seq(stage, dataTmp, sentTmp).foreach(deleteRecursively)
    res
  }

  /** The sessionize state machine + drain over a prepared streaming input
    * (ts timestamp, user_id long, sentinel boolean) — shared by the
    * staged and direct input shapes. */
  private def sessionFold(in: DataFrame, gap: String, delay: String,
      tag: String, inputBytes: Long): DataFrame = {
    val spark = in.sparkSession
    import spark.implicits._
    val gapMs = intervalMs(gap)
    val gapMicros = gapMs * 1000
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // the watermarked `ts` column must flow INTO the stateful operator
    // (projecting it away strips the event-time tag and fails analysis),
    // so rows carry (user_id, ts, micros, sentinel) and the logic reads
    // the micros of non-sentinel rows
    // State encoding: n > 0 = one OPEN session; n == 0 = CLOSED marker
    // carrying only the per-user session counter (idx of the last emitted
    // session). The marker is what keeps session_idx exact across a
    // mid-backfill timeout — emit-and-remove would restart a reappearing
    // user at idx 1. It makes state O(users ever seen), which is what the
    // batch semantics (lifetime per-user numbering) inherently cost; a
    // production pipeline that keys output by (user, session_start)
    // instead can drop the marker and keep state O(active users).
    def fold(user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, Boolean)],
        state: GroupState[OpenSession]): Iterator[SessionRow] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.update(s.copy(n = 0))
        Iterator.single(SessionRow(user, s.idx, s.start, s.last, s.n))
      } else {
        // every invocation CLEARS a previously-armed timeout (GroupState
        // contract), so an open session's timeout must be re-armed each
        // time the key is touched — including a sentinel-only touch, or
        // the user's final session is silently never emitted. Clamp past
        // the current watermark: a timeout whose gap the watermark
        // already passed re-arms at watermark+1 and fires in the next
        // (no-data) batch instead of throwing on a stale timestamp.
        def arm(last: Long): Unit = state.setTimeoutTimestamp(
          math.max(last / 1000 + gapMs + 1, state.getCurrentWatermarkMs() + 1))
        val evs = rows.collect { case (_, _, micros, false) => micros }.toArray.sorted
        if (evs.isEmpty) {
          state.getOption.foreach(s => if (s.n > 0) arm(s.last))
          Iterator.empty
        } else {
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionRow]
          var cur = state.getOption.orNull
          evs.foreach { t =>
            if (cur == null) cur = OpenSession(t, t, 1, 1)
            else if (cur.n == 0) cur = OpenSession(t, t, 1, cur.idx + 1)
            else if (t - cur.last > gapMicros) {
              out += SessionRow(user, cur.idx, cur.start, cur.last, cur.n)
              cur = OpenSession(t, t, 1, cur.idx + 1)
            } else cur = OpenSession(cur.start, t, cur.n + 1, cur.idx)
          }
          state.update(cur)
          arm(cur.last)
          out.iterator
        }
      }
    }

    val sessions = in
      .withWatermark("ts", delay)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("micros"),
        col("sentinel"))
      .as[(Long, java.sql.Timestamp, Long, Boolean)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fold)
      .toDF()
    drain(sessions, tag, inputBytes)
  }

  /** Streaming dedup with a BOUNDED state horizon — the 100 TB shape the
    * unbounded [[dedupExact]] documents: `dropDuplicatesWithinWatermark`
    * over the (doubled) events stream, keyed on
    * (user_id, micros, event_type). State holds only keys younger than
    * the watermark horizon and EVICTS the rest as the backfill advances —
    * [[lastDrainStateRows]] exposes the final state size so callers can
    * assert eviction actually happened. Exact-equal to global DISTINCT
    * here because every duplicate pair shares one event time (same
    * micro-batch under time-range staging, co-resident in state); a feed
    * whose duplicates straddle the horizon re-emits when the duplicate
    * carries a fresh event time (state evicted, key forgotten) and drops
    * it as LATE data when it carries the original now-late event time —
    * both sides pinned by StreamPipelineSuite's "horizon-straddle
    * contract" test, so a Spark version bump can't silently change them.
    * That is the documented API contract, not a gap. No sentinel
    * needed: first-seen rows emit immediately (the watermark only drives
    * eviction). */
  def dedupWithinWatermark(spark: SparkSession, eventsPath: String,
      delay: String = "30 minutes", batches: Int = 1): DataFrame =
    withNanosAsLong(spark)(dedupWithinWatermarkImpl(spark, eventsPath, delay, batches))

  private def dedupWithinWatermarkImpl(spark: SparkSession, eventsPath: String,
      delay: String, batches: Int): DataFrame = {
    import spark.implicits._
    val ev = readEvents(spark, eventsPath)
      .select(col("ts"), col("user_id").cast("long").as("user_id"), col("event_type"))
    val corpus = ev.unionByName(ev)
    val stage = tempDir("dedupwm_stage")
    val dataTmp = tempDir("dedupwm_data")
    // emptiness check rides the staging write (observe), not a pre-scan
    val obs = org.apache.spark.sql.Observation("dedupwm_n")
    val observed = corpus.observe(obs, count(lit(1)).as("n"))
    val staged = if (batches > 1) observed.repartitionByRange(batches, col("ts")) else observed
    staged.write.mode("overwrite").parquet(dataTmp)
    if (obs.get("n").asInstanceOf[Long] == 0L) {
      Seq(stage, dataTmp).foreach(deleteRecursively)
      return Seq.empty[(Long, Long, String)].toDF("user_id", "micros", "event_type")
    }
    stageParts(spark, dataTmp, stage, "a-data", System.currentTimeMillis() - 3600L * 1000)

    val reader = spark.readStream.schema(corpus.schema)
    if (batches > 1) reader.option("maxFilesPerTrigger", "1")
    val in = reader.parquet(stage)
    val deduped = in
      .withWatermark("ts", delay)
      .withColumn("micros", unix_micros(col("ts")))
      .dropDuplicatesWithinWatermark("user_id", "micros", "event_type")
      .select(col("user_id"), col("micros"), col("event_type"))
    val res = drain(deduped, "dedupwm", dirBytes(spark, stage))
    Seq(stage, dataTmp).foreach(deleteRecursively)
    res
  }

  /** Streaming exact-dedup filter over a doubled documents corpus: the
    * distinct md5 fingerprint set, emitted by first arrival through
    * `dropDuplicates` state. Collapses the 2n-row corpus to its n
    * distinct texts; only the key column is returned (first-seen payload
    * would be arrival-order-dependent). */
  def dedupExact(spark: SparkSession, documentsPath: String): DataFrame = {
    val docs = spark.read.parquet(documentsPath).select(col("doc_id"), col("text"))
    val corpus = docs.unionByName(
      docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val stage = tempDir("dedup_stage")
    val dataTmp = tempDir("dedup_data")
    corpus.write.mode("overwrite").parquet(dataTmp)
    stageParts(spark, dataTmp, stage, "a-data", System.currentTimeMillis() - 3600L * 1000)

    val in = spark.readStream.schema(corpus.schema).parquet(stage)
    val deduped = in
      .select(md5(col("text")).as("text_hash"))
      .dropDuplicates("text_hash")
    val res = drain(deduped, "dedup", dirBytes(spark, stage))
    Seq(stage, dataTmp).foreach(deleteRecursively)
    res
  }
}
