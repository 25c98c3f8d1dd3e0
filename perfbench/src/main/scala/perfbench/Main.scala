package perfbench

import java.io.{File, PrintWriter}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** What a workload hands back besides its op timings. */
final class Outcome {
  /** Named checks of the program's outputs; any false fails the run. */
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  /** The workload's own end-to-end figures, printed by name. */
  val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer values the workload measures itself (stores, ratios). */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** Generated-input properties for the record. */
  var generated: Map[String, Any] = Map.empty
  /** Further series for the record only. */
  val details = mutable.LinkedHashMap.empty[String, Any]
  def check(name: String, ok: Boolean): Unit = {
    if (!ok) System.err.println(s"perfbench: check failed: $name")
    checks(name) = ok
  }
}

/** The driver loop's view of a workload. Every method runs on the one
  * driver thread. */
trait Workload {
  /** Make inputs and initial state from scratch; timed, and repeated for
    * a median. */
  def setup(rep: Int): Unit
  /** Untimed warm-up after set-up (JIT, codegen, first-query costs). */
  def warm(): Unit = ()
  /** Untimed, before operation `i`: its inputs arrive. */
  def prepare(i: Int): Unit = ()
  /** One measured operation; returns the items it handled. */
  def op(i: Int): Long
  /** Operations to run even if the time is up, and at most. */
  def minOps: Int
  def maxOps: Int
  /** Checks and report figures, after the measured window. */
  def finish(out: Outcome, opSecs: Seq[Double], items: Long): Unit
  /** Sampled after every operation. */
  def afterOp(): Unit = ()
}

/** Shared context of one run. */
final class Ctx(val spark: SparkSession, val seed: Long,
    val work: String, val data: String, val trace: Boolean) {
  val spans = new Spans
  val listener = new JobListener
  private val moduleTag = new ModuleTag(spark.sparkContext)
  /** Root spans of measured operations that ran with the listener on. */
  val tracedOps = mutable.ArrayBuffer.empty[Span]
  var pinsMax = 0

  /** Run `body` as a root span with the job listener and the module tag
    * attached; `op` marks a measured operation. */
  def traced[T](name: String, op: Boolean = false)(body: => T): T = {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.experimental.extraStrategies = Seq(moduleTag)
    try spans.run(name) { s =>
      s.traced = true
      if (op) tracedOps += s
      body
    }
    finally {
      spark.experimental.extraStrategies = Nil
      sc.setLocalProperty(ModuleTag.key, null)
      org.apache.spark.BenchBus.drain(sc)
      sc.removeSparkListener(listener)
    }
  }

  def samplePins(): Unit =
    pinsMax = math.max(pinsMax, graft.ops.Pinned.trackedCount)
}

object Main {
  private def arg(args: Array[String], name: String): String =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }
      .getOrElse(sys.error(s"$name is required"))

  def session(cpus: Int, work: String): SparkSession = {
    val s = graft.GraftSession.tuned(
        SparkSession.builder().master(s"local[$cpus]").appName("perfbench"),
        shufflePartitions = cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val work = arg(args, "--work")
    val data = arg(args, "--data")
    val outDir = arg(args, "--out")
    val cpus = arg(args, "--cpus").toInt
    new File(work).mkdirs()

    val spark = session(cpus, work)
    val code = try run(spark, workload, seed, seconds, trace, work, data,
      outDir, cpus)
    finally spark.stop()
    System.out.flush()
    sys.exit(code)
  }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, data: String, outDir: String,
      cpus: Int): Int = {
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    val machine = new Machine(spark, cpus)
    val ctx = new Ctx(spark, seed, work, data, trace)
    val w: Workload = name match {
      case "cron-ticks" => new CronTicks(ctx)
      case "batch-funnel" => new BatchFunnel(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    phase("start")
    val out = new Outcome
    var attempted = 0
    var failed = 0

    val setupSecs = (0 until 5).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    phase("setup")
    w.warm()
    phase("warm")

    val opSecs = mutable.ArrayBuffer.empty[Double]
    val opCpuSecs = mutable.ArrayBuffer.empty[Double]
    val plainOps = mutable.ArrayBuffer.empty[Span]
    var items = 0L
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var i = 0
    var broken = false
    // a traced run needs one operation with the listener and one without
    val minOps = if (trace) math.max(2, w.minOps) else w.minOps
    while (!broken && i < w.maxOps && (elapsed < seconds || i < minOps)) {
      attempted += 1
      // traced runs alternate listener-on and listener-off operations,
      // so the tracing overhead is measured in the same run
      val withListener = trace && i % 2 == 0
      try {
        w.prepare(i)
        val c0 = machine.cpuS
        val t0 = System.nanoTime()
        items += (if (withListener) ctx.traced("op", op = true)(w.op(i))
          else ctx.spans.run("op") { s => plainOps += s; w.op(i) })
        opSecs += (System.nanoTime() - t0) / 1e9
        opCpuSecs += machine.cpuS - c0
      } catch {
        case NonFatal(e) =>
          failed += 1
          broken = true // later operations would build on a broken store
          System.err.println(s"perfbench: operation $i failed: $e")
          e.printStackTrace()
      }
      w.afterOp()
      i += 1
    }
    val windowS = elapsed
    phase("window")

    try w.finish(out, opSecs.toSeq, items)
    catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: checks failed to run: $e")
        e.printStackTrace()
        out.check("checks_ran", ok = false)
    }
    phase("finish")
    attempted += out.checks.size
    failed += out.checks.values.count(!_)
    val correct = failed == 0

    // operations are gated on CPU time: on a shared host their wall time
    // follows the neighbours' load (NOTES.md, end-to-end metrics)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (Stats.median(setupSecs), "s"),
      "op_cpu_p50_ms" -> (Stats.median(opCpuSecs.toSeq) * 1e3, "ms"),
      "peak_rss_mb" -> (machine.peakRssMb, "MB"))
    out.report("error_rate") = (failed.toDouble / math.max(1, attempted), "ratio")

    val layers: Seq[(String, (Double, String))] = if (!trace) Nil else {
      val computed = Layers.compute(ctx.spans, ctx.listener.jobs.toSeq,
        ctx.tracedOps.toSeq) ++ out.layers ++ Map(
          "pins.open_max" -> ctx.pinsMax.toDouble,
          "tracing.overhead_frac" ->
            Layers.overhead(ctx.tracedOps.toSeq, plainOps.toSeq))
      Layers.names.map { case (n, u) => n -> (computed.getOrElse(n, 0.0), u) }
    }

    def metricsJson(ms: Iterable[(String, (Double, String))]) =
      Json.Raw(ms.map { case (n, (v, u)) =>
        Json.value(n) + ":" + Json.obj("value" -> v, "unit" -> u)
      }.mkString("{", ",", "}"))

    val record = Json.obj(
      "workload" -> name, "seed" -> seed, "trace" -> trace,
      "seconds" -> seconds, "window_s" -> windowS, "ops" -> opSecs.size,
      "phase_s" -> phases,
      "machine" -> machine.context(), "generated" -> out.generated,
      "setup_s_reps" -> setupSecs, "op_s" -> opSecs, "op_cpu_s" -> opCpuSecs,
      "end_to_end" -> metricsJson(e2e),
      "workload_metrics" -> metricsJson(out.report),
      "per_layer" -> metricsJson(layers),
      "checks" -> out.checks, "details" -> out.details,
      "attempted" -> attempted, "failed" -> failed)
    new File(outDir).mkdirs()
    val stamp = s"$name-seed$seed-trace${if (trace) 1 else 0}-${System.currentTimeMillis()}"
    val pw = new PrintWriter(s"$outDir/$stamp.json")
    try pw.println(record) finally pw.close()
    if (trace) {
      val tw = new PrintWriter(s"$outDir/$stamp.trace.jsonl")
      try Layers.traceLines(ctx.spans, ctx.listener.jobs.toSeq).foreach(tw.println)
      finally tw.close()
    }

    (e2e ++ out.report).foreach { case (n, (v, u)) =>
      println(f"perfbench $name%s $n%s = $v%.6g $u%s")
    }
    out.checks.foreach { case (n, ok) =>
      println(s"perfbench $name check $n: ${if (ok) "ok" else "FAILED"}")
    }
    println(s"perfbench-record $record")
    println(Json.obj("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metricsJson(if (trace) layers else e2e)))
    if (correct) 0 else 1
  }
}
