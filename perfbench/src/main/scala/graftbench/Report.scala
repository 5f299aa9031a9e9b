package graftbench

/** Reduces a run's samples to the reported metrics. The metric names and
  * units here are the ones BENCHMARK.json declares. */
object Report {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "build_s" -> "s",
    "index_bytes_ratio" -> "ratio",
    "search_qps" -> "1/s",
    "search_p50_s" -> "s",
    "recall_at_10" -> "ratio",
    "ingest_rows_per_s" -> "1/s")

  /** Modules a job can be charged to (`bench`: no engine frame). */
  val modules: Seq[String] = Seq("core", "expr", "ops", "cluster", "index", "plans",
    "functions", "prep", "sources", "stream", "graphops", "bench")

  private val spanCounters = Seq("wall_s" -> "s", "driver_s" -> "s", "jobs" -> "count",
    "task_s" -> "s", "slot_util" -> "ratio", "shuffle_mb" -> "MB", "output_mb" -> "MB")

  private def counters(span: String, names: String*): Seq[(String, String)] =
    names.map(n => s"$span.$n" -> spanCounters.toMap.apply(n))

  val perLayer: Seq[(String, String)] =
    counters("index.build_flat", "wall_s", "driver_s", "jobs", "task_s", "slot_util") ++
    counters("index.build_pq", "wall_s", "driver_s", "jobs", "task_s", "slot_util") ++
    counters("index.save_flat", "wall_s", "jobs", "task_s") ++
    counters("index.save_pq", "wall_s", "jobs", "task_s") ++
    Seq("index.output_mb" -> "MB", "curve.jobs" -> "count", "curve.task_s" -> "s") ++
    counters("plans.plan", "wall_s", "driver_s", "jobs") ++
    counters("exec.search", "wall_s", "driver_s", "jobs", "task_s", "slot_util", "shuffle_mb") ++
    Seq("exec.search.rows_read_per_result" -> "ratio", "exec.search.delta_slope" -> "ratio",
      "plans.routed_frac" -> "ratio", "plans.layout_share.flat" -> "ratio",
      "plans.layout_share.pq" -> "ratio", "plans.layout_share.tiered" -> "ratio") ++
    counters("stream.append", "wall_s", "driver_s", "jobs", "task_s") ++
    counters("stream.compact", "wall_s", "driver_s", "jobs", "task_s") ++
    Seq("stream.compactions" -> "count", "stream.write_amp" -> "ratio") ++
    modules.flatMap(m => Seq(s"mod.$m.jobs" -> "count", s"mod.$m.task_s" -> "s")) ++
    Seq("jvm.heap_peak_mb" -> "MB", "spark.cached_mb_end" -> "MB",
      "trace.overhead_frac" -> "ratio",
      "host.calib_before_s" -> "s", "host.calib_after_s" -> "s")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  /** The highest percentile with at least 10 samples beyond it, as
    * (value, percentile, samples); the maximum below 11 samples. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.length < 11) (s.last, 100.0, s.length)
    else {
      val i = s.length - 11
      (s(i), 100.0 * (i + 1) / s.length, s.length)
    }
  }

  /** End-to-end metrics. ingest_rows_per_s is the rows made searchable per
    * second of write wall time: appended rows per append second in
    * ingest_mixed (compactions included), corpus rows per build second
    * (the bulk load) in the other two. */
  def endToEndValues(ctx: Ctx, workload: String, s: Samples): Map[String, Double] = {
    require(s.setup.nonEmpty && s.build.nonEmpty && s.search.nonEmpty,
      "no successful operation to report")
    val ingest =
      if (workload == "ingest_mixed") {
        require(s.append.nonEmpty, "no successful append to report")
        s.appendedRows / s.append.sum
      } else ctx.size.n / median(s.build.toSeq)
    Map(
      "setup_s" -> median(s.setup.toSeq),
      "build_s" -> median(s.build.toSeq),
      "index_bytes_ratio" -> median(s.bytesRatio.toSeq),
      "search_qps" -> s.searchQueries / s.search.sum,
      "search_p50_s" -> median(s.search.toSeq),
      "recall_at_10" -> s.recallHits.toDouble / math.max(1L, s.recallTotal),
      "ingest_rows_per_s" -> ingest)
  }

  /** Human-readable lines: the end-to-end metrics, then the search tail
    * with its percentile and sample count (a run has fewer than the 11
    * batches a tail percentile needs, so it is the maximum and stays out
    * of the result object), the failed-operation share, and ingest_mixed's
    * median append. */
  def describe(ctx: Ctx, workload: String, s: Samples, e2e: Map[String, Double]): Seq[String] = {
    def line(name: String, v: Double, unit: String) = f"METRIC $name%-20s $v%.6g $unit"
    val (tv, tp, tn) = tail(s.search.toSeq)
    endToEnd.map { case (n, u) => line(n, e2e(n), u) } ++ Seq(
      line("search_tail_s", tv, "s") + f"  (p$tp%.1f of $tn batches)",
      line("failed_op_frac", ctx.failed.toDouble / math.max(1, ctx.attempted), "ratio")) ++
      (if (workload == "ingest_mixed") Seq(line("ingest_p50_s", median(s.append.toSeq), "s"))
       else Nil)
  }

  /** Per-layer metrics of a traced run. Span counters are medians per span
    * occurrence; module and curve counters are per timed operation and per
    * layout written. Metrics of a layer the workload does not touch are 0. */
  def perLayerValues(ctx: Ctx, s: Samples): Map[String, Double] = {
    val t = ctx.tracer
    val st = t.stats()
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)
    def occ(name: String) = st.filter(_.span.name == name)
    def spanMetric(span: String, counter: String): Double = {
      val o = occ(span)
      med(counter match {
        case "wall_s" => o.map(_.span.wallS)
        case "driver_s" => o.map(_.driverS)
        case "jobs" => o.map(_.jobs.toDouble)
        case "task_s" => o.map(_.taskS)
        case "slot_util" => o.map(_.slotUtil)
        case "shuffle_mb" => o.map(_.shuffleMb)
        case "output_mb" => o.map(_.outputMb)
      })
    }
    val jobs = t.jobs()
    val layoutsWritten = Seq("index.save_flat", "index.save_pq", "stream.compact")
      .map(occ(_).size).sum
    val curve = jobs.filter(j =>
      j.calledFrom("saveMeasuredCurve") || j.calledFrom("DepthHint$.measure"))
    val opJobs = t.jobsUnder("op.")
    val tracedOps = math.max(1, s.ops.count(_._3))
    val byModule = opJobs.groupBy(_.module)
    val searches = occ("exec.search")
    val batches = math.max(1, s.batches)
    val appendSpans = occ("stream.append") ++ occ("stream.compact")
    val appendedBytes = appendSpans.size.toLong * ctx.size.appendRows * ctx.size.dim * 4

    val values = scala.collection.mutable.Map.empty[String, Double]
    perLayer.foreach { case (name, _) =>
      val parts = name.split('.')
      val counter = parts.last
      val span = parts.dropRight(1).mkString(".")
      if (spanCounters.exists(_._1 == counter) && !name.startsWith("mod.") &&
          name != "index.output_mb")
        values(name) = spanMetric(span, counter)
    }
    values("index.output_mb") =
      spanMetric("index.save_flat", "output_mb") + spanMetric("index.save_pq", "output_mb")
    values("curve.jobs") = curve.size.toDouble / math.max(1, layoutsWritten)
    values("curve.task_s") = curve.map(_.taskMs).sum / 1000.0 / math.max(1, layoutsWritten)
    values("exec.search.rows_read_per_result") =
      med(searches.map(_.inputRecords.toDouble / (ctx.size.batchQueries * ctx.size.k)))
    values("exec.search.delta_slope") = deltaSlope(s)
    values("plans.routed_frac") = s.routedAny.toDouble / batches
    Seq("flat", "pq", "tiered").foreach(k =>
      values(s"plans.layout_share.$k") = s.routedBy(k).toDouble / batches)
    values("stream.compactions") = s.compactions.toDouble
    values("stream.write_amp") =
      if (appendedBytes == 0) 0.0 else appendSpans.map(_.outputMb).sum * 1e6 / appendedBytes
    modules.foreach { m =>
      val js = byModule.getOrElse(m, Nil)
      values(s"mod.$m.jobs") = js.size.toDouble / tracedOps
      values(s"mod.$m.task_s") = js.map(_.taskMs).sum / 1000.0 / tracedOps
    }
    values("jvm.heap_peak_mb") = s.heapPeakMb
    values("spark.cached_mb_end") = s.cachedMbEnd
    values("trace.overhead_frac") = overhead(s)
    values("host.calib_before_s") = s.calibBefore
    values("host.calib_after_s") = s.calibAfter
    values.toMap
  }

  /** Traced over untraced median latency, minus one, averaged over the
    * operation kinds that have both; each kind's first operation (cold,
    * and always traced) is left out; 0 when no kind has both. */
  private def overhead(s: Samples): Double = {
    val fracs = s.ops.groupBy(_._1).values.flatMap { ops =>
      val (t, u) = ops.drop(1).partition(_._3)
      if (t.isEmpty || u.isEmpty) None
      else Some(median(t.map(_._2).toSeq) / median(u.map(_._2).toSeq) - 1)
    }
    if (fracs.isEmpty) 0.0 else fracs.sum / fracs.size
  }

  /** Median search latency with the delta tier in the top quarter of its
    * range over median latency in the bottom quarter; 0 without a delta. */
  private def deltaSlope(s: Samples): Double = {
    val xs = s.searchByDelta.toSeq
    if (xs.isEmpty) 0.0
    else {
      val hi = xs.map(_._2).max
      val lo = xs.map(_._2).min
      if (hi == lo) 0.0
      else {
        val q = (hi - lo) / 4.0
        val bottom = xs.filter(_._2 <= lo + q).map(_._1)
        val top = xs.filter(_._2 >= hi - q).map(_._1)
        median(top) / median(bottom)
      }
    }
  }
}
