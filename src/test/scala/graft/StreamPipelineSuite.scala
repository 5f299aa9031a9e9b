package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.stream.StreamPipeline

/** The streaming pipelines must match their batch equivalents row for row
  * on a bounded input — including the trailing windows that only the
  * sentinel flush finalizes (the append-mode trap this suite pins). */
class StreamPipelineSuite extends SparkFunSuite {

  private val dir = SparkTestBase.sf0001

  test("windowAgg == batch group-by, including the final (sentinel-flushed) windows") {
    val got = StreamPipeline.windowAgg(spark, s"$dir/events.parquet")
    val want = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("win_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
    assert(got.count() == want.count(), "append mode must emit EVERY window")
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    // the batch's last hour must be present — the exact rows append mode
    // drops when no sentinel pushes the watermark past end-of-input
    val lastWin = want.agg(max(col("win_start"))).head().getLong(0)
    assert(got.filter(col("win_start") === lastWin).count() > 0,
      "trailing windows missing: the sentinel flush regressed")
    assert(got.filter(col("win_start") > lastWin).isEmpty,
      "sentinel rows must not leak into the result")
  }

  test("windowAgg with a non-default delay still flushes the trailing windows") {
    // the sentinel horizon must scale with the watermark delay — a fixed
    // offset silently drops the final windows once delay reaches it
    val got = StreamPipeline.windowAgg(spark, s"$dir/events.parquet", delay = "3 hours")
    val want = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("win_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
    assert(got.count() == want.count(), "append mode must emit EVERY window")
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("negative user ids and null event types are data, not sentinels") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_suite").toString
    val path = s"$tmp/events.parquet"
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    Seq(
      (ts(0), -5L, null.asInstanceOf[String], 1.0),
      (ts(1), -5L, "click", 2.0),
      (ts(90), -5L, null.asInstanceOf[String], 3.0), // second session, gap > 30m
      (ts(2), 7L, "view", 4.0))
      .toDF("ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(path)

    val sess = StreamPipeline.sessionize(spark, path)
    // user −5: two sessions (gap 89m > 30m); user 7: one
    assert(sess.count() == 3, s"expected 3 sessions, got ${sess.collect().mkString(";")}")
    assert(sess.filter(col("user_id") === -5L).count() == 2,
      "negative user ids must survive the sentinel flush")
    assert(sess.agg(sum(col("n_events"))).head().getLong(0) == 4)

    val agg = StreamPipeline.windowAgg(spark, path)
    // null event_type forms its own group per window, like the batch GROUP BY
    assert(agg.filter(col("event_type").isNull).count() == 2,
      "null event_type groups must not be filtered with the sentinel")
    assert(agg.agg(sum(col("n_events"))).head().getLong(0) == 4)
    StreamPipeline.windowAgg(spark, path) // idempotent re-run on the same path
  }

  test("empty events input yields an empty frame, not an NPE") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_suite_empty").toString
    val path = s"$tmp/events.parquet"
    Seq.empty[(java.sql.Timestamp, Long, String, Double)]
      .toDF("ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(path)
    assert(StreamPipeline.windowAgg(spark, path).count() == 0)
    assert(StreamPipeline.sessionize(spark, path).count() == 0)
  }

  test("sessionize == batch lag/cumsum sessions, including timeout-emitted finals") {
    val got = StreamPipeline.sessionize(spark, s"$dir/events.parquet")
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id").cast("long").as("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("t"))
    val w = Window.partitionBy("user_id").orderBy("t")
    val gapMicros = 30L * 60 * 1000 * 1000
    val want = ev
      .withColumn("brk", when(lag(col("t"), 1).over(w).isNull ||
        col("t") - lag(col("t"), 1).over(w) > gapMicros, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("t")).as("session_start"), max(col("t")).as("session_end"),
        count(lit(1)).as("n_events"))
    assert(got.count() == want.count(),
      "every session must emit exactly once (finals via event-time timeout)")
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    // per-user totals must cover every event exactly once
    val evTotal = ev.count()
    assert(got.agg(sum(col("n_events"))).head().getLong(0) == evTotal)
  }

  test("incremental backfill (multi-batch) matches the single-flush results") {
    // time-range staging + maxFilesPerTrigger=1: the watermark advances
    // per micro-batch, state carries open sessions across batches, and
    // finals emit by mid-stream timeout — results must be identical to
    // both the one-batch drain and the batch SQL
    val sessOne = StreamPipeline.sessionize(spark, s"$dir/events.parquet")
    val sessInc = StreamPipeline.sessionize(spark, s"$dir/events.parquet", batches = 4)
    val nBatches = StreamPipeline.lastDrainBatches.getOrElse(0L)
    assert(nBatches >= 5, s"expected >=5 micro-batches (4 ranges + sentinel), saw $nBatches")
    assert(sessInc.count() == sessOne.count())
    assert(sessInc.except(sessOne).isEmpty && sessOne.except(sessInc).isEmpty)

    val aggOne = StreamPipeline.windowAgg(spark, s"$dir/events.parquet")
    val aggInc = StreamPipeline.windowAgg(spark, s"$dir/events.parquet", batches = 4)
    assert(StreamPipeline.lastDrainBatches.exists(_ >= 5))
    assert(aggInc.count() == aggOne.count())
    assert(aggInc.except(aggOne).isEmpty && aggOne.except(aggInc).isEmpty)
  }

  test("mid-backfill timeout keeps the per-user session counter (sparse user)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_sparse").toString
    val path = s"$tmp/events.parquet"
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    // user 1 is absent from the middle of the backfill: their first session
    // times out mid-stream (watermark passes m0+gap while they have no
    // data), then they reappear — session_idx must continue at 2, which
    // requires the closed-counter state marker, not emit-and-remove
    Seq(
      (ts(0), 1L, "e", 1.0), (ts(300), 1L, "e", 1.0),
      (ts(0), 2L, "e", 1.0), (ts(100), 2L, "e", 1.0),
      (ts(200), 2L, "e", 1.0), (ts(300), 2L, "e", 1.0))
      .toDF("ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(path)
    val one = StreamPipeline.sessionize(spark, path)
    val inc = StreamPipeline.sessionize(spark, path, batches = 4)
    assert(inc.count() == one.count())
    assert(inc.except(one).isEmpty && one.except(inc).isEmpty)
    val a = inc.filter(col("user_id") === 1L).select("session_idx")
      .as[Long].collect().sorted.toSeq
    assert(a == Seq(1L, 2L),
      s"sparse user's counter must survive the mid-stream timeout: $a")
    assert(inc.filter(col("user_id") === 2L).count() == 4)
  }

  test("dedupWithinWatermark: bounded state dedups the doubled stream exactly") {
    val got = StreamPipeline.dedupWithinWatermark(spark, s"$dir/events.parquet", batches = 4)
    val want = spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id").cast("long").as("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("micros"), col("event_type"))
      .distinct()
    val wantN = want.count()
    assert(got.count() == wantN)
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    // the point of the watermark horizon: final state must be EVICTED to
    // (well) below the distinct-key count, not accumulate all of it
    val stateRows = StreamPipeline.lastDrainStateRows.getOrElse(-1L)
    assert(stateRows >= 0, "no state operator reported")
    assert(stateRows < wantN / 2,
      s"state not evicted: $stateRows rows held of $wantN keys")
    assert(StreamPipeline.lastDrainBatches.exists(_ >= 4))
  }

  test("RocksDB state store: sessionize timeouts + dedup eviction, hash-equal to default") {
    // the 100 TB bounded-state story names RocksDB as the backend; this
    // pins that the timeout path (flatMapGroupsWithState) and the eviction
    // path (dropDuplicatesWithinWatermark) actually run on it — backend
    // engagement asserted via the rocksdb* state metrics, not conf-is-set
    val key = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val sessDefault = StreamPipeline.sessionize(spark, s"$dir/events.parquet", batches = 4)
      .collect().toSet
    val dedupDefault = StreamPipeline.dedupWithinWatermark(spark, s"$dir/events.parquet",
      batches = 4).collect().toSet
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, rocks)
    try {
      val sess = StreamPipeline.sessionize(spark, s"$dir/events.parquet", batches = 4)
        .collect().toSet
      assert(StreamPipeline.lastDrainStateMetricKeys.exists(_.toLowerCase.contains("rocksdb")),
        s"RocksDB provider did not engage: ${StreamPipeline.lastDrainStateMetricKeys}")
      assert(StreamPipeline.lastDrainBatches.exists(_ >= 5),
        "incremental drain must still span the micro-batches on RocksDB")
      assert(sess == sessDefault, "sessionize rows differ between RocksDB and default store")

      val dedup = StreamPipeline.dedupWithinWatermark(spark, s"$dir/events.parquet",
        batches = 4).collect().toSet
      assert(StreamPipeline.lastDrainStateMetricKeys.exists(_.toLowerCase.contains("rocksdb")))
      val stateRows = StreamPipeline.lastDrainStateRows.getOrElse(-1L)
      assert(stateRows >= 0 && stateRows < dedupDefault.size / 2,
        s"RocksDB state not evicted: $stateRows rows held of ${dedupDefault.size} keys")
      assert(dedup == dedupDefault, "dedup rows differ between RocksDB and default store")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("dropDuplicatesWithinWatermark: horizon-straddle contract (re-emit vs late-drop)") {
    // StreamPipeline.dedupWithinWatermark documents what happens when a
    // duplicate pair straddles the watermark horizon; this pins the actual
    // Spark behavior so a version bump can't silently change it.
    //  - key "A": dup arrives AFTER eviction with a FRESH event time
    //    → state no longer remembers A → the dup RE-EMITS (2 rows)
    //  - key "S": dup arrives after eviction with its ORIGINAL (now
    //    late) event time → dropped by the watermark late filter (1 row)
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_straddle").toString
    val stage = s"$tmp/stage"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stage))
    def ts(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    def stageFile(rows: Seq[(java.sql.Timestamp, String)], name: String, mtime: Long): Unit = {
      val d = s"$tmp/$name"
      rows.toDF("ts", "k").coalesce(1).write.mode("overwrite").parquet(d)
      val part = new java.io.File(d).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dst = new java.io.File(stage, s"$name.parquet")
      assert(part.renameTo(dst))
      dst.setLastModified(mtime)
    }
    // batch 1: first copies (expiry = 0s + 10s delay). Watermarks lag one
    // batch (eviction in batch N uses the watermark computed through
    // batch N−1) and state eviction runs AFTER a batch's input is matched,
    // so the horizon must pass the keys' expiry at least one full batch
    // BEFORE the duplicates arrive: batch 2 advances event time to 7200s,
    // batch 3 (eviction watermark 7190s > 10s) evicts A and S at its end,
    // batch 4 delivers the straddling duplicates against empty state.
    stageFile(Seq((ts(0), "A"), (ts(0), "S")), "b1", 1000L)
    stageFile(Seq((ts(7200), "B")), "b2", 2000L)
    stageFile(Seq((ts(7210), "C")), "b3", 3000L)
    stageFile(Seq((ts(7205), "A"), (ts(0), "S")), "b4", 4000L)

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType)))
    val out = s"$tmp/out"
    val ckpt = s"$tmp/ckpt"
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(stage)
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("k")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(out)
    assert(got.filter(col("k") === "A").count() == 2,
      "fresh-ts duplicate past the horizon must RE-EMIT (state was evicted)")
    assert(got.filter(col("k") === "S").count() == 1,
      "stale-ts duplicate past the horizon must be dropped as late data")
    assert(got.filter(col("k") === "B").count() == 1)
  }

  test("backfill staging reads the source exactly once before streaming starts") {
    // the r9->r10 one-pass contract: the sentinel max(ts) / emptiness
    // probe must RIDE the staging write (Dataset.observe), never run as a
    // separate batch scan of the backfill input. Counted per batch
    // QueryExecution whose logical plan reads the source dir (streaming
    // micro-batches don't notify the execution listener, and the sink
    // re-read carries a different path).
    import spark.implicits._
    val marker = "graft_onepass_src"
    val tmp = java.nio.file.Files.createTempDirectory(marker).toString
    val path = s"$tmp/events.parquet"
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    (0 until 50).map(i => (ts(i), (i % 5).toLong, "e", 1.0))
      .toDF("ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(path)

    val reads = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = {
        val hits = qe.analyzed.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation
              if l.relation.isInstanceOf[
                org.apache.spark.sql.execution.datasources.HadoopFsRelation] &&
              l.relation.asInstanceOf[
                  org.apache.spark.sql.execution.datasources.HadoopFsRelation]
                .location.rootPaths.exists(_.toString.contains(marker)) => l
        }
        if (hits.nonEmpty) reads.incrementAndGet()
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    def sourceReadsDuring(run: => Unit): Int = {
      reads.set(0)
      spark.listenerManager.register(listener)
      try {
        run
        // the execution listener is async on the listener bus — poll until
        // the counter is stable instead of sleeping a fixed interval
        var last = -1
        var stable = 0
        var waited = 0
        while (stable < 3 && waited < 100) {
          Thread.sleep(100); waited += 1
          val cur = reads.get()
          if (cur == last) stable += 1 else { stable = 0; last = cur }
        }
        reads.get()
      } finally spark.listenerManager.unregister(listener)
    }

    val winReads = sourceReadsDuring(StreamPipeline.windowAgg(spark, path).count())
    assert(winReads == 1,
      s"windowAgg ran $winReads batch scans of the source; the sentinel " +
        "probe must ride the staging write")
    val sessReads = sourceReadsDuring(StreamPipeline.sessionize(spark, path).count())
    assert(sessReads == 1,
      s"sessionize ran $sessReads batch scans of the source")
    // batches > 1: repartitionByRange adds a range-SAMPLING pass over the
    // source, but it runs INSIDE the one staging execution (same QE, the
    // observe accumulator fires once per pass — harmless for max) — still
    // no separate driver-issued batch scan before streaming starts
    val sessMultiReads = sourceReadsDuring(
      StreamPipeline.sessionize(spark, path, batches = 3).count())
    assert(sessMultiReads == 1,
      s"sessionize(batches=3) ran $sessMultiReads batch executions over the " +
        "source; the range sampling must ride the staging execution")
    // the doubled corpus is one execution (two LogicalRelations, one QE):
    // the emptiness probe rides the same staging write
    val dedupReads = sourceReadsDuring(
      StreamPipeline.dedupWithinWatermark(spark, path).count())
    assert(dedupReads == 1,
      s"dedupWithinWatermark ran $dedupReads batch scans of the source")
  }

  test("direct-source mode: zero staging writes, rows equal the staged path") {
    // the r10 verdict's last full-input copy: direct mode streams the
    // caller's parquet dir IN PLACE — the only batch touch of the source
    // is the column-pruned max(ts) probe; no batch execution may both
    // scan the source and write (that shape IS the staged copy)
    import spark.implicits._
    val marker = "graft_direct_src"
    val tmp = java.nio.file.Files.createTempDirectory(marker).toString
    val path = s"$tmp/events.parquet"
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    // three time-range part files with strictly increasing mtimes — the
    // "time-ordered parts" contract direct multi-batch mode asserts
    (0 until 90).map(i => (ts(i), (i % 5).toLong, "e", 1.0))
      .toDF("ts", "user_id", "event_type", "value")
      .repartitionByRange(3, col("ts"))
      .write.mode("overwrite").parquet(path)
    locally {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val parts = fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
        .sortBy(_.getPath.getName)
      parts.zipWithIndex.foreach { case (s, i) =>
        fs.setTimes(s.getPath, 1700000000000L + i * 1000L, -1) }
    }

    val srcReads = new java.util.concurrent.atomic.AtomicInteger
    val srcWrites = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = {
        val readsSource = qe.analyzed.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation
              if l.relation.isInstanceOf[
                org.apache.spark.sql.execution.datasources.HadoopFsRelation] &&
              l.relation.asInstanceOf[
                  org.apache.spark.sql.execution.datasources.HadoopFsRelation]
                .location.rootPaths.exists(_.toString.contains(marker)) => l
        }.nonEmpty
        val writes = qe.analyzed.isInstanceOf[
          org.apache.spark.sql.execution.command.DataWritingCommand] ||
          qe.analyzed.collectFirst {
            case c: org.apache.spark.sql.execution.command.DataWritingCommand => c
          }.nonEmpty
        if (readsSource) {
          srcReads.incrementAndGet()
          if (writes) srcWrites.incrementAndGet()
        }
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    def watched[A](run: => A): A = {
      srcReads.set(0); srcWrites.set(0)
      spark.listenerManager.register(listener)
      try { val r = run; Thread.sleep(500); r }
      finally spark.listenerManager.unregister(listener)
    }

    // batch oracle rows via the staged path (the gated shape) — and the
    // detector's non-vacuity check: the staged copy MUST trip it
    val stagedWin = watched {
      StreamPipeline.windowAgg(spark, path).collect().toSet
    }
    assert(srcWrites.get() >= 1,
      "detector regression: the staged path's copy was not seen as a " +
        "source-scanning write")
    val stagedSess = StreamPipeline.sessionize(spark, path, batches = 3).collect().toSet

    val directWin = watched {
      val r = StreamPipeline.windowAgg(spark, path, direct = true).collect().toSet
      r
    }
    assert(srcWrites.get() == 0,
      "direct windowAgg ran a batch execution that scans the source AND writes " +
        "— that is a staging copy")
    assert(directWin == stagedWin, "direct windowAgg rows differ from staged")

    val directSess = watched {
      StreamPipeline.sessionize(spark, path, batches = 3, direct = true).collect().toSet
    }
    assert(srcWrites.get() == 0,
      "direct sessionize(batches=3) staged a copy")
    assert(directSess == stagedSess,
      "direct incremental sessionize rows differ from staged")
    assert(StreamPipeline.lastDrainBatches.exists(_ >= 3),
      s"direct batches=3 drained in ${StreamPipeline.lastDrainBatches} micro-batches " +
        "— the per-file ingest did not engage")
  }

  test("direct multi-batch mode FAILS LOUDLY on a source violating mtime order") {
    // the batches > 1 contract: part files event-time-ordered by mtime.
    // A violating source used to silently late-drop the out-of-order
    // file's events; the footer-stats guard must throw instead.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_direct_bad").toString
    val path = s"$tmp/events.parquet"
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    (0 until 90).map(i => (ts(i), (i % 5).toLong, "e", 1.0))
      .toDF("ts", "user_id", "event_type", "value")
      .repartitionByRange(3, col("ts"))
      .write.mode("overwrite").parquet(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    // REVERSED mtimes: the latest event-time range gets the oldest mtime
    parts.zipWithIndex.foreach { case (s, i) =>
      fs.setTimes(s.getPath, 1700000000000L + (parts.length - i) * 1000L, -1) }
    val e = intercept[IllegalStateException] {
      StreamPipeline.sessionize(spark, path, batches = 3, direct = true)
    }
    assert(e.getMessage.contains("event-time") || e.getMessage.contains("mtime") ||
      e.getMessage.contains("watermark"), s"unhelpful guard message: ${e.getMessage}")
    // a single-flush direct drain over the same files is order-insensitive
    // (one micro-batch) and must still work
    val ok = StreamPipeline.sessionize(spark, path, direct = true)
    assert(ok.count() > 0)
  }

  test("event pipelines restore the nanosAsLong conf they set") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    val before = spark.conf.getOption(key) // the registered default
    StreamPipeline.windowAgg(spark, s"$dir/events.parquet").count()
    assert(spark.conf.getOption(key) == before,
      "windowAgg leaked nanosAsLong into the session")
    assert(!spark.conf.get(key, "false").toBoolean,
      "session left reading TIMESTAMP(NANOS) as long after the pipeline returned")
    spark.conf.set(key, "false")
    try {
      StreamPipeline.sessionize(spark, s"$dir/events.parquet").count()
      assert(spark.conf.get(key) == "false",
        "sessionize did not restore the caller's nanosAsLong value")
    } finally spark.conf.unset(key)
  }

  test("dedupExact collapses the doubled corpus to the distinct fingerprint set") {
    val got = StreamPipeline.dedupExact(spark, s"$dir/documents.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val want = docs.select(md5(col("text")).as("text_hash")).distinct()
    assert(got.count() == want.count())
    assert(got.distinct().count() == got.count(), "stream emitted a duplicate key")
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("stream.transientCheckpoint=false keeps Spark's checkpoint confs on the stream") {
    // the stream runs in a clone of the session taken at start, so each
    // micro-batch sees the checkpoint confs the drain started it under
    val keys = graft.stream.StreamPipeline.transientCheckpointConfs.map(_._1)
    def streamConfs(): Seq[Option[String]] = {
      var seen = Seq.empty[Option[String]]
      graft.stream.DynamicBatcher.run(spark, Seq(Seq(1L -> Array(1f, 2f))), { b =>
        seen = keys.map(b.sparkSession.conf.getOption)
        b.select(col("qid"))
      })
      seen
    }
    assert(streamConfs() == graft.stream.StreamPipeline.transientCheckpointConfs.map(kv =>
      Some(kv._2)), "by default a one-run stream drops checksums and renames in place")
    spark.conf.set("spark.graft.stream.transientCheckpoint", "false")
    try assert(streamConfs() == keys.map(spark.conf.getOption),
      "a durable stream must run under the session's own checkpoint confs")
    finally spark.conf.unset("spark.graft.stream.transientCheckpoint")
  }
}
