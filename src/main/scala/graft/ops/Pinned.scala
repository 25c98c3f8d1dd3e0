package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of `localCheckpoint` pins: [[pin]] makes them,
  * [[free]] releases their blocks. There are two kinds.
  *
  * TRACKED pins are released by the harness. [[pin]] materializes a
  * reused intermediate once (a signature table, an NB model, a funnel
  * frontier, an exact top-k) and registers it here; the same goes for
  * results whose blocks back the RETURNED frame — `Graph.pageRank`'s
  * rank table and `NearDup.connectedComponents`' labels, which
  * [[track]] registers directly. An op cannot free these before
  * returning: a local checkpoint truncates lineage, so its blocks must
  * outlive the last consumer read. `Bench.runOnce` and the `Verify`
  * loop call [[releaseAll]] after every query's result is written.
  *
  * SELF-FREED pins never reach the registry. A site that pins and is
  * done with the frame before it returns — the CC and PageRank loop
  * steps, Fusion's MMR probe, Bpe's histograms, the Streams sinks —
  * calls `localCheckpoint` itself and frees the same frame with
  * [[free]] in a `finally`, so a failure leaks nothing. The one
  * consumer that frees a tracked result early is `LabelStore.merge`:
  * the CC labels it merges are released in its `finally`, once the
  * bucket swap has consumed them.
  *
  * `spark.catalog.clearCache()` does NOT cover these blocks, and
  * neither does `Dataset.unpersist()`: they are RDD-level persists,
  * not cache-manager entries — which is exactly how a bench suite that
  * clears the cache between passes still accumulated one pinned copy
  * of the q155 LM table per pass for the JVM lifetime (r17 ADVICE).
  *
  * Releasing is unpersist-based: double-release, or releasing a frame
  * some other op already freed (LabelStore frees the CC labels it
  * consumes), is a harmless no-op. The only misuse is releasing
  * BEFORE the frame's last action — a lineage-truncated frame cannot
  * recompute — which is why only result-consuming harness code calls
  * `releaseAll`, never the ops themselves.
  *
  * The registry is THREAD-scoped (the NearDup ThreadLocal-listener
  * discipline): `releaseAll` drains only frames the CALLING thread's
  * ops tracked. The harnesses construct and consume each query on one
  * thread, so they see every frame; parallel ScalaTest suites sharing
  * the session cannot free each other's in-flight checkpoints (a
  * global drain did exactly that — one suite's releaseAll unpersisted
  * another suite's not-yet-consumed labels mid-run).
  */
object Pinned {

  private val reg =
    ThreadLocal.withInitial[java.util.ArrayDeque[java.lang.ref.WeakReference[DataFrame]]](
      () => new java.util.ArrayDeque[java.lang.ref.WeakReference[DataFrame]]())

  /** Materialize `df` once (eager `localCheckpoint`) and track it, so
    * every later consumer reads blocks instead of re-running its
    * lineage. Building the frame therefore runs a Spark job at plan
    * CONSTRUCTION time, and the blocks stay pinned until the harness
    * calls [[releaseAll]].
    *
    * A frame that is already checkpoint-backed passes through
    * unchanged — also under a chain of projections and aliases (r22,
    * r21 ADVICE: a column-pruned view of pinned batch signatures must
    * not pay a second full copy). A filter is NOT passed through: a
    * gate over pinned rows (q178's langid filter) feeds several
    * consumers, and each would re-run its predicate. "Checkpoint-
    * backed" means the leaf RDD really is checkpointed: a
    * `foreachBatch` micro-batch and a `createDataFrame(rdd, schema)`
    * frame are `LogicalRDD`s too, but re-reading them re-runs their
    * lineage. */
  private[graft] def pin(df: DataFrame): DataFrame = {
    def checkpointRooted(p: LogicalPlan): Boolean = p match {
      case lr: LogicalRDD => lr.rdd.isCheckpointed
      case pr: Project => checkpointRooted(pr.child)
      case a: SubqueryAlias => checkpointRooted(a.child)
      case _ => false
    }
    if (checkpointRooted(df.queryExecution.logical)) df
    else track(df.localCheckpoint(true))
  }

  /** Release the blocks behind a `localCheckpoint`ed frame (or any
    * frame over one). The checkpointed plan is a `LogicalRDD` leaf
    * whose RDD was persisted directly, so the blocks otherwise live
    * until the ContextCleaner notices the RDD is garbage — at 100 TB
    * label tables that lag is real memory/disk pressure across
    * iterations. */
  private[graft] def free(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Track a checkpoint-backed result frame; returns it unchanged.
    * The registry holds WEAK references: a thread that never drains
    * (a test thread, a streaming micro-batch thread whose ops free
    * their own pins) must not keep the frame reachable forever —
    * once the caller drops it, the ContextCleaner's GC-driven
    * unpersist path takes over exactly as it did before the registry
    * existed. Only a live, still-referenced frame is drained by
    * `releaseAll`. */
  private[graft] def track(df: DataFrame): DataFrame = {
    val q = reg.get()
    q.add(new java.lang.ref.WeakReference(df))
    // bound the ref-queue itself for never-draining threads
    while (q.size > 256) q.removeFirst()
    df
  }

  /** How many still-live results this thread currently tracks (spec
    * observability). */
  def trackedCount: Int = {
    val it = reg.get().iterator()
    var n = 0
    while (it.hasNext) if (it.next().get() != null) n += 1
    n
  }

  /** Hand this thread's tracked frames to another owner: drain the
    * registry and return the still-live frames WITHOUT unpersisting
    * them. `Par.concurrently` runs a plan-construction branch on a
    * scratch thread; pins created there land in THAT thread's
    * registry, which the harness's main-thread `releaseAll` can never
    * see — the branch drains itself on exit and the caller `adopt`s
    * the frames, so the "releaseAll frees everything this query
    * pinned" invariant survives concurrency. */
  private[graft] def drain(): Seq[DataFrame] = {
    val q = reg.get()
    val out = Seq.newBuilder[DataFrame]
    var ref = q.poll()
    while (ref != null) {
      val df = ref.get()
      if (df != null) out += df
      ref = q.poll()
    }
    out.result()
  }

  /** Adopt frames drained from another thread (see [[drain]]). */
  private[graft] def adopt(frames: Seq[DataFrame]): Unit =
    frames.foreach(track)

  /** Unpersist every still-live result tracked BY THIS THREAD. Call
    * only after the frames have been fully consumed
    * (written/collected). */
  def releaseAll(): Unit = {
    val q = reg.get()
    var ref = q.poll()
    while (ref != null) {
      val df = ref.get()
      if (df != null) free(df)
      ref = q.poll()
    }
  }
}
