package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._

/** Scale-adaptive parallelism repair for CPU-dense map kernels over
  * unsplittable inputs — optimization guide §2.5 ("input skew: one
  * huge unsplittable file ... repartition immediately after the
  * read").
  *
  * Parquet scans parallelize at ROW-GROUP granularity. The test
  * fixtures (and any small-file ingest — one file per crawl tick is
  * the reference's own layout) ship one row group per file, so a
  * sha256 / regex / tokenize kernel downstream of such a scan runs on
  * ONE task no matter how many cores the session has: Spark still
  * plans several byte-range splits, but every split except the one
  * holding the row-group midpoint yields zero rows. `widen` inserts a
  * round-robin exchange ONLY when the scan's planned partition count
  * sits below half the session's default parallelism, so:
  *  - at production scale (thousands of row groups) the gate
  *    short-circuits and NO exchange is added — this never shuffles a
  *    corpus-sized payload that was already parallel;
  *  - a genuinely unsplittable big input (the gzip case) gets the
  *    guide's documented remedy.
  *
  * The partition probe (`df.rdd.getNumPartitions`) is job-free only
  * when the plan has no exchange below it, so `widen` first walks the
  * logical plan and passes through untouched anything that is not a
  * scan/checkpoint-rooted chain of projections, filters and unions —
  * for those frames a probe could eagerly execute AQE query stages
  * that the real action would then recompute.
  */
object Par {

  private def scanRooted(plan: LogicalPlan): Boolean = plan match {
    // a project/filter whose expressions embed a subquery is NOT
    // probe-safe: df.rdd at plan time would eagerly execute the
    // subquery's jobs (r22, r21 ADVICE) — pass through untouched
    case p: Project if p.expressions.exists(hasSubquery) => false
    case f: Filter if hasSubquery(f.condition) => false
    case _: LeafNode => true // file relation, LogicalRDD, LocalRelation
    case p: Project => scanRooted(p.child)
    case f: Filter => scanRooted(f.child)
    case u: Union => u.children.forall(scanRooted)
    case s: SubqueryAlias => scanRooted(s.child)
    case _ => false
  }

  private def hasSubquery(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])

  /** Round-robin repartition to the session's parallelism iff the
    * input is scan-rooted and plans fewer than half that many
    * partitions. Identity otherwise.
    *
    * Known, accepted gap (r21 ADVICE): the gate compares byte-range
    * SPLIT count, and a directory of LARGE single-row-group files can
    * plan >= target/2 splits of which only one per file carries rows
    * — the gate then declines the repair. Deciding that case exactly
    * needs per-file parquet footer metadata, which is a driver-side
    * read of every file — the wrong trade at 100 TB file counts for
    * a perf-only miss in a pathological layout (row groups are
    * written ~128 MB by default, so multi-hundred-MB single-row-group
    * files are rare). Documented rather than "fixed". */
  def widen(df: DataFrame): DataFrame = {
    if (!scanRooted(df.queryExecution.analyzed)) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      // job-free: no exchange below, so partitions = file splits
      val planned = df.rdd.getNumPartitions
      if (planned * 2 < target) df.repartition(target) else df
    }
  }

  /** Overlap two INDEPENDENT driver-side construction branches
    * (optimization guide §2.6: "actions are only sequential because
    * your driver code calls them sequentially"). Several query paths
    * eagerly materialize more than one bounded intermediate — a
    * classifier model trained on the raw corpus next to a clean-stage
    * frontier, two codebook trainers, a ground-truth checkpoint next
    * to a Lloyd loop — and each materialization is a blocking driver
    * round-trip (a checkpoint job or a bounded collect). When the
    * branches share no data dependency, running them back-to-back
    * serializes pure scheduling latency; this runs `b` on a scratch
    * thread while `a` runs on the calling thread, and the later jobs
    * back-fill executors freed by the earlier one's tail.
    *
    * Contracts kept:
    *  - RESULTS are those of sequential evaluation — callers may only
    *    pass branches with no data dependency, so evaluation order
    *    cannot be observed (checkpoint/collect contents are
    *    order-invariant).
    *  - PINS: `Pinned`'s registry is thread-scoped; the scratch
    *    branch's pins are drained on its exit (even on failure) and
    *    adopted by the calling thread's innermost `Pinned.scoped`
    *    block, or its base registry outside one, so the enclosing
    *    scope or the harness's releaseAll frees every block the
    *    query pinned.
    *  - UI/scheduling thread-locals (job description/group, pool) are
    *    copied onto the scratch thread so concurrent jobs stay
    *    labelled and pooled like their query.
    *  - A failure in either branch propagates after both complete
    *    (the scratch branch is always joined — no orphan jobs). */
  def concurrently[A, B](spark: org.apache.spark.sql.SparkSession)(
      a: => A)(b: => B): (A, B) = {
    val sc = spark.sparkContext
    val props = Seq("spark.job.description", "spark.jobGroup.id",
        "spark.scheduler.pool")
      .flatMap(k => Option(sc.getLocalProperty(k)).map(k -> _))
    @volatile var bPins: Seq[DataFrame] = Nil
    @volatile var bRes: Either[Throwable, B] = null
    val t = new Thread(() => {
      try {
        props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        bRes = Right(b)
      } catch { case e: Throwable => bRes = Left(e) }
      finally { bPins = Pinned.drain() }
    }, "graft-par-branch")
    t.setDaemon(true)
    t.start()
    val aRes =
      try Right(a)
      catch { case e: Throwable => Left(e) }
    t.join()
    Pinned.adopt(bPins)
    (aRes, bRes) match {
      case (Right(x), Right(y)) => (x, y)
      case (Left(e), _) => throw e
      case (_, Left(e)) => throw e
    }
  }
}
