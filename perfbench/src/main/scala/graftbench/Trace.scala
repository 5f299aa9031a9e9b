package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One Spark job as the listener saw it. `spanId` is the innermost open
  * span on the submitting thread (a job local property), `frames` the
  * job's call site, innermost frame first. Task counters are filled in by
  * the listener thread and read only after the bus is drained. */
final class JobRec(val jobId: Int, val spanId: Long, val startMs: Long,
    val frames: Array[String]) {
  @volatile var endMs: Long = -1L
  var taskMs = 0L
  var shuffleBytes = 0L
  var outputBytes = 0L
  var inputRecords = 0L

  /** The engine module charged with this job: the deepest `graft.<module>.`
    * frame of its call site; `bench` when no engine frame is on it. */
  def module: String =
    frames.iterator.map(_.trim.stripPrefix("at ")).collectFirst {
      case f if f.startsWith("graft.") =>
        val seg = f.split('.')(1)
        if (seg.nonEmpty && seg.head.isLower) seg else "root"
    }.getOrElse("bench")

  def calledFrom(method: String): Boolean = frames.exists(_.contains(method))
}

/** Records every job, its call site and its tasks' counters. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  // call site of each SQL execution, taken on the thread that started it
  private val sqlSites = new ConcurrentHashMap[Long, Array[String]]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlSites.put(s.executionId, s.details.split("\n"))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(Tracer.SpanProp).map(_.toLong).getOrElse(-1L)
    // the result stage is created last, so it has the highest id, and it
    // carries this job's own call site (shared parent stages keep theirs)
    val own =
      if (e.stageInfos.isEmpty) Array.empty[String]
      else e.stageInfos.maxBy(_.stageId).details.split("\n")
    // jobs a query submits from Spark's helper threads (broadcasts,
    // adaptive stages) have no engine frame of their own: use the call
    // site of the SQL execution they belong to
    val frames =
      if (own.exists(_.contains("graft."))) own
      else prop("spark.sql.execution.id").flatMap(id => Option(sqlSites.get(id.toLong)))
        .map(_ ++ own).getOrElse(own)
    jobs.put(e.jobId, new JobRec(e.jobId, span, e.time, frames))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val jobId = stageJob.get(e.stageId)
    val rec = if (jobId == null) null else jobs.get(jobId)
    if (rec != null && e.taskInfo != null) {
      rec.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        rec.outputBytes += m.outputMetrics.bytesWritten
        rec.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }
}

final case class Span(id: Long, name: String, parent: Long, runId: String,
    phase: String, t0Ms: Long, t1Ms: Long, wallS: Double)

/** Counters of one span occurrence, inclusive of its child spans. */
final case class SpanStats(span: Span, jobs: Int, driverS: Double, taskS: Double,
    slotUtil: Double, shuffleMb: Double, outputMb: Double, inputRecords: Long)

/** Spans around the benchmark's calls into the engine, attributed to Spark
  * jobs through a job local property. Disabled, it records nothing and
  * registers no listener; `span` then only runs its body. */
final class Tracer(sc: SparkContext, val enabled: Boolean, val runId: String,
    val slots: Int) {
  private val listener = new JobListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 1L
  private var attached = false
  var phase = "setup"

  if (enabled) attach()

  def attach(): Unit = if (enabled && !attached) {
    sc.addSparkListener(listener)
    attached = true
  }

  /** Stop recording (the untraced half of the overhead comparison): the
    * listener leaves the bus, so its cost leaves with it. */
  def detach(): Unit = if (attached) {
    org.apache.spark.BenchListenerBus.drain(sc)
    sc.removeSparkListener(listener)
    attached = false
  }

  def span[T](name: String)(body: => T): T =
    if (!attached) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1L)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0Ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val wall = (System.nanoTime() - t0) / 1e9
        val t1Ms = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.toString).orNull)
        spans += Span(id, name, parent, runId, phase, t0Ms, t1Ms, wall)
      }
    }

  /** All recorded jobs, once every posted event has been delivered. */
  def jobs(): Seq[JobRec] = {
    if (enabled) org.apache.spark.BenchListenerBus.drain(sc)
    listener.jobs.values().asScala.toSeq.sortBy(_.jobId)
  }

  /** Per-occurrence counters of every span, each inclusive of the jobs of
    * its descendants. `driverS` is the part of the span's wall time in
    * which none of its jobs was running. */
  def stats(): Seq[SpanStats] = {
    val js = jobs()
    val children = spans.groupBy(_.parent).map { case (k, v) => k -> v.map(_.id) }
    val bySpan = js.groupBy(_.spanId)
    def subtree(id: Long): Seq[Long] =
      id +: children.getOrElse(id, Nil).toSeq.flatMap(subtree)
    spans.toSeq.map { s =>
      val mine = subtree(s.id).flatMap(bySpan.getOrElse(_, Nil))
      val busyMs = unionMs(mine.map(j =>
        (math.max(j.startMs, s.t0Ms), math.min(if (j.endMs < 0) s.t1Ms else j.endMs, s.t1Ms))))
      val taskS = mine.map(_.taskMs).sum / 1000.0
      SpanStats(s, mine.size,
        driverS = math.max(0.0, s.wallS - busyMs / 1000.0),
        taskS = taskS,
        slotUtil = if (s.wallS > 0) taskS / (s.wallS * slots) else 0.0,
        shuffleMb = mine.map(_.shuffleBytes).sum / 1e6,
        outputMb = mine.map(_.outputBytes).sum / 1e6,
        inputRecords = mine.map(_.inputRecords).sum)
    }
  }

  /** Jobs submitted inside any occurrence of a top-level span whose name
    * starts with `prefix`. */
  def jobsUnder(prefix: String): Seq[JobRec] = {
    val roots = spans.filter(s => s.parent < 0 && s.name.startsWith(prefix)).map(_.id).toSet
    val parentOf = spans.map(s => s.id -> s.parent).toMap
    def rootOf(id: Long): Long = parentOf.get(id) match {
      case Some(p) if p >= 0 => rootOf(p)
      case _ => id
    }
    jobs().filter(j => j.spanId >= 0 && roots.contains(rootOf(j.spanId)))
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The span file of a traced run: every span with its counters, every
    * job with its span, module and innermost call-site frame, and the
    * per-layer aggregates reported for the run. */
  def write(path: java.nio.file.Path, aggregates: Map[String, Double]): Unit = {
    val rows = stats().map { st =>
      val s = st.span
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run_id" -> s.runId, "phase" -> s.phase, "start_ms" -> s.t0Ms, "end_ms" -> s.t1Ms,
        "wall_s" -> s.wallS, "driver_s" -> st.driverS, "jobs" -> st.jobs,
        "task_s" -> st.taskS, "slot_util" -> st.slotUtil, "shuffle_mb" -> st.shuffleMb,
        "output_mb" -> st.outputMb, "input_records" -> st.inputRecords))
    }
    val jobRows = jobs().map { j =>
      Json.obj(Seq("id" -> j.jobId, "span" -> j.spanId, "module" -> j.module,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "task_s" -> j.taskMs / 1000.0,
        "call_site" -> j.frames.headOption.map(_.trim).getOrElse("")))
    }
    val doc = Json.obj(Seq("run_id" -> runId, "slots" -> slots,
      "aggregates" -> Json.obj(aggregates.toSeq.sortBy(_._1)),
      "spans" -> Json.arr(rows), "jobs" -> Json.arr(jobRows)))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, doc + "\n")
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
}

/** Minimal JSON writer: the benchmark's output is flat numbers and strings. */
object Json {
  final case class Raw(text: String) { override def toString: String = text }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def value(v: Any): String = v match {
    case r: Raw => r.text
    case s: String => str(s)
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number in output: $d")
      d.toString
    case f: Float => value(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): Raw =
    Raw(fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}"))

  def arr(items: Seq[Any]): Raw = Raw(items.map(value).mkString("[", ", ", "]"))
}
