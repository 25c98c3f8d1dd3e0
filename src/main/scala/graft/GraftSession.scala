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
  *   mechanisms this engine leans on instead of hand-tuned hints
  *   (see ops/Skew for the explicit salting fallback).
  * - `spark.sql.files.maxPartitionBytes` (256 MB): bigger scan splits
  *   than the 128 MB default — parquet decode is cheap relative to
  *   task scheduling at 100 TB file counts; halves the task count of
  *   pure scans.
  * - `spark.sql.parquet.aggregatePushdown`: MIN/MAX/COUNT answered
  *   from parquet footers when no filter needs row groups.
  * - UTC session timezone: timestamp arithmetic must not depend on
  *   the driver machine's zone (oracle parity and cluster/driver
  *   consistency).
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
  def advisoryPartitionBytes: Long =
    sys.env.get("GRAFT_ADVISORY_SHUFFLE_MB")
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .filter(_ > 0) // 0/negative would fail session construction (r22)
      .map(_ * 1024L * 1024L)
      .getOrElse(64L * 1024 * 1024)

  /** Apply the engine's tuning to any builder (cluster entry point). */
  def tuned(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions)
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
