package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's Spark tuning posture. Local runs and the
  * driver mains use `local(...)`; a cluster deployment applies
  * `tuned(...)` to its own builder. Knobs and why they matter at
  * 100 TB:
  *
  * - `spark.sql.shuffle.partitions`: sized to cores locally; on a
  *   cluster start at ~2-3× total executor cores and let AQE coalesce
  *   down — too few partitions spills, too many drowns in task
  *   overhead.
  * - AQE (on by default in Spark 4; asserted here): runtime re-plan
  *   gives post-shuffle coalescing, dynamic broadcast of
  *   smaller-than-expected sides, and skew-join splitting — the
  *   mechanisms this engine leans on instead of hand-tuned hints.
  * - `spark.sql.files.maxPartitionBytes` (256 MB): bigger scan splits
  *   than the 128 MB default — parquet decode is cheap relative to
  *   task scheduling at 100 TB file counts; halves the task count of
  *   pure scans.
  * - `spark.sql.parquet.aggregatePushdown`: MIN/MAX/COUNT answered
  *   from parquet footers when no filter needs row groups.
  * - UTC session timezone: timestamp arithmetic must not depend on
  *   the driver machine's zone (oracle parity and cluster/driver
  *   consistency).
  *
  * `compileOnce` keeps every generated class in Spark's codegen cache,
  * which is keyed by (context class loader, code body), for the life
  * of the JVM. Without it the JVM recompiles code it has already
  * compiled, and HotSpot JIT-compiles each reloaded class from cold:
  * a `graft.Verify` pass at sf0.01 runs 4,296 Janino compiles for
  * 1,810 distinct (loader, body) entries. Each setting is safe on
  * a cluster because it only decides what a JVM keeps or how it names
  * a class; no result depends on it.
  * - `spark.sql.codegen.cache.maxEntries` (4000; default 100): an
  *   LRU smaller than the working set evicts every entry before its
  *   reuse. Working sets measured with a cache that never evicts:
  *   194 entries in a perfbench batch-funnel run, 416 in a cron-ticks
  *   run and 1,810 in a `graft.Verify` pass at sf0.01 (178 queries).
  *   In local mode each body takes two entries, one per loader: the
  *   driver thread's, which compiles to validate the plan, and the
  *   executor's default loader, which task threads use. The 1,810
  *   entries add about 11 MB of metaspace. On a cluster every
  *   executor holds only the bodies its own tasks run.
  * - `spark.sql.artifact.isolation.enabled` (false; default true):
  *   with isolation each session gets its own executor class loader,
  *   and every `AvailableNow` sink query runs on a cloned session. So
  *   each sink recompiles all of its code on every tick: a perfbench
  *   cron-ticks run builds 11 loaders instead of 1. The engine never
  *   adds session artifacts (no `addArtifact`, no Spark Connect), so
  *   all sessions resolve classes from the application class path,
  *   and on a cluster the executors share the application's jars.
  * - `spark.sql.codegen.useIdInClassName` (false; default true): a
  *   whole-stage class is otherwise named after its codegen stage id,
  *   and AQE numbers stages in the order they materialize. Concurrent
  *   stages can swap ids between two runs of the same plan, and a new
  *   name is a new cache key: 4-12 recompiles in a second q165 run,
  *   4-10 in a second nbOnlineSink tick. The cost is a shorter class
  *   name in stack traces; the plan still prints the stage id.
  */
object GraftSession {

  /** Post-shuffle partition sizing for AQE coalescing (bytes).
    * Spark's default `parallelismFirst=true` keeps post-shuffle
    * partition COUNT at the cluster's parallelism even when each
    * partition holds a few KB — every small exchange then pays
    * (cores × task-scheduling) of fixed cost, which dominates
    * sub-second stages and is pure waste at any scale (the Spark docs
    * themselves recommend turning it off). With `parallelismFirst=
    * false` AQE coalesces to `advisoryPartitionSizeInBytes`: one task
    * for KB-scale exchanges, healthy 64 MB-class partitions for
    * TB-scale ones — the optimization-guide §2.2 posture ("fewer,
    * larger reduce partitions"). Parameterised (env/conf) so a cluster
    * can raise it (256 MB is a sane batch-ETL figure); the 64 MB local
    * default is Spark's own advisory default, NOT a local[32]-only
    * tune — the value never sees the local core count. */
  private def advisoryPartitionBytes: Long =
    sys.env.get("GRAFT_ADVISORY_SHUFFLE_MB")
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .filter(_ > 0) // 0/negative would fail session construction (r22)
      .map(_ * 1024L * 1024L)
      .getOrElse(64L * 1024 * 1024)

  /** Compile each generated code body once per JVM (class doc, last
    * three bullets). Applied by `tuned` and by the test session. */
  private[graft] def compileOnce(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.codegen.cache.maxEntries", 4000)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** Apply the engine's tuning to any builder (cluster entry point). */
  def tuned(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    compileOnce(b).config("spark.sql.shuffle.partitions", shufflePartitions)
      // AQE on: runtime coalescing, dynamic broadcast and skew
      // splitting are the mechanisms this engine leans on instead of
      // hand-tuned hints.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisoryPartitionBytes)
      .config("spark.sql.files.maxPartitionBytes", 256L * 1024 * 1024)
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.session.timeZone", "UTC")

  /** Local session for tests/mains: `cpus` threads, UI off. */
  def local(cpus: Int, appName: String = "graft"): SparkSession = {
    val spark = tuned(
        SparkSession.builder().master(s"local[$cpus]").appName(appName),
        shufflePartitions = cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // The CC/PageRank loops localCheckpoint every iteration; each
    // unpersist then logs a WARN per RDD ("lineage has been truncated
    // ...") — intended behavior here, and enough spam that the
    // driver's bounded stdout tail has nearly lost the bench JSON
    // line to it. Demote that one logger; real warnings elsewhere
    // stay visible. Must run AFTER session creation: SparkContext
    // startup re-initializes log4j2 from Spark's default profile,
    // discarding any level set before it.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
