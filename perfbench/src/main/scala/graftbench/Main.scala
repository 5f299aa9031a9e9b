package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload, one seed, one process.
  *
  * {{{
  * graftbench.Main --workload bulk_build|batch_search|ingest_mixed --seed N
  *   --seconds S --trace 0|1 --work DIR [--size full|smoke] [--trace-dir DIR]
  * }}}
  *
  * Prints `METRIC` lines for people and, last, one JSON object: with
  * `--trace 0` the end-to-end metrics, with `--trace 1` the per-layer ones
  * (and the span file is written under `--trace-dir`). */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, size: Size, traceDir: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val workload = need("workload")
    require(Workloads.names.contains(workload), s"unknown workload '$workload'")
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case o => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $o")
    }
    val work = Paths.get(need("work")).toAbsolutePath
    Opts(workload, need("seed").toLong, need("seconds").toInt, trace, work,
      Size.named(m.getOrElse("size", "full")),
      m.get("trace-dir").map(Paths.get(_).toAbsolutePath).getOrElse(work.resolve("traces")))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    // call sites deep enough to show every engine frame of a job
    System.setProperty("spark.callstack.depth", "200")
    val slots = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.SqlFunctions.register(spark)
    try run(spark, o, slots)
    finally spark.stop()
  }

  private def run(spark: SparkSession, o: Opts, slots: Int): Unit = {
    val runId = s"${o.workload}-s${o.seed}-${System.currentTimeMillis()}"
    val tracer = new Tracer(spark.sparkContext, o.trace, runId, slots)
    val ctx = new Ctx(spark, o.size, o.seed, o.seconds, tracer, o.work)
    val calibBefore = calibrate(slots)
    val s = Workloads.run(ctx, o.workload)
    tracer.detach()
    s.calibBefore = calibBefore
    s.calibAfter = calibrate(slots)
    s.heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
    s.cachedMbEnd = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1e6

    val e2e = Report.endToEndValues(ctx, o.workload, s)
    Report.describe(ctx, o.workload, s, e2e).foreach(println)
    println(f"CALIB before_s=$calibBefore%.4f after_s=${s.calibAfter}%.4f")
    def fmt(xs: Iterable[Double]) = xs.map(x => f"$x%.3f").mkString("[", ", ", "]")
    println(s"SAMPLES setup=${fmt(s.setup)} build=${fmt(s.build)} search=${fmt(s.search)} " +
      s"append=${fmt(s.append)} compactions=${s.compactions}")
    val (metrics, units) =
      if (!o.trace) (e2e, Report.endToEnd.toMap)
      else {
        val layers = Report.perLayerValues(ctx, s)
        val file = o.traceDir.resolve(s"$runId.json")
        tracer.write(file, layers)
        println(s"TRACE $file")
        (layers, Report.perLayer.toMap)
      }
    val order = if (o.trace) Report.perLayer.map(_._1) else Report.endToEnd.map(_._1)
    val out = Json.obj(Seq(
      "correct" -> (ctx.failed == 0),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> Json.obj(order.map(n =>
        n -> Json.obj(Seq("value" -> metrics(n), "unit" -> units(n)))))))
    println(out)
  }

  /** Fixed-work host probe on every slot at once, run before and after the
    * workload: an arithmetic loop plus a pointer chase through 16 MB, so a
    * co-tenant holding cores or memory bandwidth shows as a slower probe in
    * the run's record. The fastest of three rounds is kept, so the JVM's
    * own background work (JIT, GC) does not read as host noise. */
  def calibrate(slots: Int): Double = {
    // one cycle through all slots (Sattolo's shuffle), far beyond the caches
    val next = Array.tabulate(1 << 22)(identity)
    val r = new java.util.SplittableRandom(1)
    (next.length - 1 until 0 by -1).foreach { i =>
      val j = r.nextInt(i)
      val t = next(i); next(i) = next(j); next(j) = t
    }
    Seq.fill(3)(calibrationRound(slots, next)).min
  }

  private def calibrationRound(slots: Int, next: Array[Int]): Double = {
    val t0 = System.nanoTime()
    val threads = (0 until slots).map { t =>
      val th = new Thread(() => {
        var acc = t.toLong
        var i = 0L
        while (i < 25000000L) {
          acc = acc * 6364136223846793005L + 1442695040888963407L + i
          i += 1
        }
        var p = t
        var steps = 0
        while (steps < 500000) {
          p = next(p)
          steps += 1
        }
        if (acc == 42L || p < 0) println("calibration sentinel")
      })
      th.start()
      th
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
