package perfbench

import java.util.Optional
import java.util.function.{Function => JFunction}
import java.util.stream.{Stream => JStream}
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** A named wall-clock interval opened and closed on the driver thread. */
final class Span(val id: Int, val parent: Int, val name: String,
    val startMs: Long, val startNs: Long) {
  var endMs: Long = -1L
  var wallNs: Long = -1L
  /** Set on a root span that ran with the job listener attached. */
  var traced: Boolean = false
  def wallS: Double = wallNs / 1e9
}

/** Every span of one run, kept in memory and written out when it ends.
  * Spans nest: each carries the id of the span open when it began. */
final class Spans {
  private val all = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def apply[T](name: String)(body: => T): T = run(name)(_ => body)

  /** Like `apply`, but hands the span to the body (to mark it traced). */
  def run[T](name: String)(body: Span => T): T = {
    val s = new Span(all.size, open.headOption.fold(-1)(_.id), name,
      System.currentTimeMillis(), System.nanoTime())
    all += s
    open = s :: open
    try body(s) finally {
      s.wallNs = System.nanoTime() - s.startNs
      s.endMs = System.currentTimeMillis()
      open = open.tail
    }
  }

  def closed: Seq[Span] = all.filter(_.endMs >= 0).toSeq

  /** The root span a span belongs to. */
  def root(s: Span): Span =
    if (s.parent < 0) s else root(all(s.parent))
}

/** One Spark job as the listener saw it. */
final class JobRec(val id: Int, val submitMs: Long, val module: String) {
  var endMs: Long = -1L
  var tasks = 0
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var ioBytes = 0L
  def end: Long = math.max(endMs, submitMs)
}

/** The layer a job belongs to: the first program or benchmark frame of
  * its call site, mapped by class. */
object Modules {
  val all: Seq[String] = Seq("ops.NearDup", "ops.LabelStore",
    "ops.TextClassifier", "vector.Pq", "io.Sinks", "streaming.Streams",
    "queries", "bench", "other")

  private val byClass = Seq(
    "graft.ops.NearDup" -> "ops.NearDup",
    "graft.ops.LabelStore" -> "ops.LabelStore",
    "graft.ops.TextClassifier" -> "ops.TextClassifier",
    "graft.vector.Pq" -> "vector.Pq",
    "graft.io.Sinks" -> "io.Sinks",
    "graft.streaming.Streams" -> "streaming.Streams")

  /** The class of a frame as `StackTraceElement.toString` prints it,
    * without a class-loader or module prefix (`app//`, `java.base/`). */
  private def frameClass(frame: String): String = {
    val method = frame.trim.takeWhile(_ != '(')
    method.substring(method.lastIndexOf('/') + 1).split('.').dropRight(1)
      .mkString(".")
  }

  /** A class of the program or of the benchmark. */
  def program(cls: String): Boolean =
    cls.startsWith("graft.") || cls.startsWith("perfbench.")

  /** The module of a program or benchmark class. */
  def ofClass(cls: String): String =
    byClass.collectFirst {
      case (prefix, m) if cls == prefix || cls.startsWith(prefix + "$") => m
    }.getOrElse {
      if (cls.startsWith("graft.queries.")) "queries"
      else if (cls.startsWith("perfbench.")) "bench"
      else "other"
    }

  /** `frames` innermost first; None when no frame is the program's or
    * the benchmark's. */
  def of(frames: Seq[String]): Option[String] =
    frames.map(frameClass).find(program).map(ofClass)
}

/** A planner strategy that plans nothing. It tags the thread planning a
  * query with the module of the innermost program frame on that
  * thread's stack, and every job the thread submits next carries the
  * tag as a job property. Streaming jobs need it: Spark stamps each of
  * them with the call site of its query's `start()`, and the listener
  * sees them later, on another thread. */
final class ModuleTag(sc: SparkContext) extends SparkStrategy {
  private val walker = StackWalker.getInstance()
  private val innermost: JFunction[JStream[StackWalker.StackFrame], Optional[String]] =
    frames => frames.map[String]((f: StackWalker.StackFrame) => f.getClassName)
      .filter((c: String) => Modules.program(c) && !c.startsWith("perfbench.ModuleTag"))
      .findFirst()

  def apply(plan: LogicalPlan): Seq[SparkPlan] = {
    val cls = walker.walk(innermost)
    sc.setLocalProperty(ModuleTag.key,
      if (cls.isPresent) Modules.ofClass(cls.get) else null)
    Nil
  }
}

object ModuleTag {
  val key = "perfbench.module"
}

/** Records every job and task while attached. A job's module comes from
  *  - for a streaming job: the `ModuleTag` it carries, or
  *    `streaming.Streams` when the stream's own planning submitted it;
  *  - else the SQL execution that submitted it, when there is one
  *    (broadcast and subquery jobs run on pool threads whose own stacks
  *    hold no program frame);
  *  - else its own call site. */
final class JobListener extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val byId = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val execModule = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        Modules.of(Option(s.details).toSeq.flatMap(_.split("\n")))
          .foreach(execModule(s.executionId) = _)
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val module = prop("sql.streaming.queryId")
      .map(_ => prop(ModuleTag.key).getOrElse("streaming.Streams"))
      .orElse(prop("spark.sql.execution.id").flatMap(x => execModule.get(x.toLong)))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption
        .flatMap(si => Modules.of(si.details.split("\n").toSeq)))
      .getOrElse("other")
    val j = new JobRec(e.jobId, e.time, module)
    jobs += j
    byId(e.jobId) = j
    e.stageIds.foreach(sid => stageJob(sid) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead
        j.spillBytes += m.diskBytesSpilled
        j.ioBytes += m.inputMetrics.bytesRead + m.outputMetrics.bytesWritten
      }
    }
  }
}

/** Turns the spans and jobs of a traced run into per-layer metrics. */
object Layers {
  /** Spans with per-layer timings, in report order. */
  val spanNames: Seq[String] = Seq(
    "council.refresh", "council.transcribe", "council.summarize",
    "council.crawl", "council.vectorize", "council.merge_state",
    "sink.lsh_dedup", "sink.nb_online", "sink.pq_index", "compact",
    "funnel.c4", "funnel.gopher", "funnel.nb_train", "funnel.nb_gate",
    "funnel.exact", "funnel.lsh", "funnel.cc",
    "query.build", "query.exec")

  /** Spans whose job count is reported: the ones bound by per-job cost. */
  val jobCountSpans: Seq[String] = Seq(
    "council.merge_state", "sink.lsh_dedup", "sink.nb_online",
    "sink.pq_index", "compact", "funnel.lsh", "funnel.cc", "query.exec")

  val storeFamilies: Seq[String] = Seq(
    "signatures", "labels", "pairs", "nb_stats", "pq_index", "council_state")

  val moduleCounters: Seq[(String, String)] = Seq("busy_s" -> "s",
    "jobs" -> "count", "tasks" -> "count", "task_cpu_s" -> "s",
    "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes", "io_bytes" -> "bytes")

  val ratios: Seq[(String, String)] = Seq(
    "neardup.planted_pair_recall" -> "ratio",
    "neardup.candidates_per_doc" -> "ratio",
    "labelstore.rewritten_bucket_frac" -> "ratio",
    "labelstore.max_component" -> "count",
    "pq.scan_frac" -> "ratio", "pins.open_max" -> "count",
    "tracing.overhead_frac" -> "ratio")

  /** (name, unit) of every per-layer metric, in report order. */
  val names: Seq[(String, String)] =
    Modules.all.flatMap(m => moduleCounters.map { case (c, u) => s"$m.$c" -> u }) ++
      spanNames.flatMap(s =>
        Seq(s"span.$s.wall_s" -> "s", s"span.$s.driver_s" -> "s")) ++
      jobCountSpans.map(s => s"span.$s.jobs" -> "count") ++
      storeFamilies.flatMap(f =>
        Seq(s"store.$f.files" -> "count", s"store.$f.bytes" -> "bytes")) ++
      ratios

  /** Total length of the union of `[a, b]` intervals, clipped to
    * `[lo, hi]`, in milliseconds. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long = Long.MinValue,
      hi: Long = Long.MaxValue): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Module counters per traced operation and span timings over the
    * spans that ran inside traced roots. `opRoots` are the traced
    * measured operations; spans of other traced roots (the funnel's
    * stage-by-stage check) feed span metrics only. */
  def compute(spans: Spans, jobs: Seq[JobRec], opRoots: Seq[Span])
      : Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val nOps = math.max(1, opRoots.size)
    def inside(j: JobRec, s: Span) = j.submitMs >= s.startMs && j.submitMs <= s.endMs
    val opJobs = jobs.filter(j => opRoots.exists(inside(j, _)))
    Modules.all.foreach { m =>
      val js = opJobs.filter(_.module == m)
      out(s"$m.busy_s") = unionMs(js.map(j => (j.submitMs, j.end))) / 1e3 / nOps
      out(s"$m.jobs") = js.size.toDouble / nOps
      out(s"$m.tasks") = js.map(_.tasks).sum.toDouble / nOps
      out(s"$m.task_cpu_s") = js.map(_.cpuNs).sum / 1e9 / nOps
      out(s"$m.shuffle_bytes") = js.map(_.shuffleBytes).sum.toDouble / nOps
      out(s"$m.spill_bytes") = js.map(_.spillBytes).sum.toDouble / nOps
      out(s"$m.io_bytes") = js.map(_.ioBytes).sum.toDouble / nOps
    }
    val traced = spans.closed.filter(s => spans.root(s).traced)
    def occurrences(name: String) = traced.filter(_.name == name)
    spanNames.foreach { n =>
      val occ = occurrences(n)
      out(s"span.$n.wall_s") = Stats.median(occ.map(_.wallS))
      out(s"span.$n.driver_s") = Stats.median(occ.map { s =>
        val busy = unionMs(jobs.map(j => (j.submitMs, j.end)), s.startMs, s.endMs)
        math.max(0.0, s.wallS - busy / 1e3)
      })
    }
    jobCountSpans.foreach { n =>
      val occ = occurrences(n)
      out(s"span.$n.jobs") =
        if (occ.isEmpty) 0.0
        else occ.map(s => jobs.count(inside(_, s))).sum.toDouble / occ.size
    }
    out.toMap
  }

  /** Median traced operation over median untraced one, minus one; 0
    * without one operation of each kind. */
  def overhead(traced: Seq[Span], plain: Seq[Span]): Double =
    if (traced.isEmpty || plain.isEmpty) 0.0
    else Stats.median(traced.map(_.wallS)) / Stats.median(plain.map(_.wallS)) - 1

  /** The trace file: one JSON object per span, then one per job. */
  def traceLines(spans: Spans, jobs: Seq[JobRec]): Seq[String] =
    spans.closed.map { s =>
      Json.obj("span" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "wall_s" -> s.wallS, "traced" -> s.traced,
        "jobs" -> jobs.count(j => j.submitMs >= s.startMs && j.submitMs <= s.endMs))
    } ++ jobs.map { j =>
      Json.obj("job" -> j.id, "module" -> j.module, "submit_ms" -> j.submitMs,
        "end_ms" -> j.endMs, "tasks" -> j.tasks, "task_cpu_s" -> j.cpuNs / 1e9,
        "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes,
        "io_bytes" -> j.ioBytes)
    }
}
