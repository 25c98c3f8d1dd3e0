package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of `localCheckpoint` pins: [[pin]], [[checkpoint]]
  * and [[counted]] make them, [[free]] releases their blocks, and
  * [[scoped]] bounds how long they live. No other code calls
  * `localCheckpoint`, so a change to the pin mechanism (`persist`, a
  * reliable checkpoint) is a change to this object alone.
  *
  * Every pin is registered on the calling thread. Inside
  * [[scoped]] it belongs to the innermost open scope, which frees it
  * when the block exits, by success or by a throw; the iterative loops
  * (`NearDup.connectedComponents`, `Graph.pageRank`), the label-store
  * merge, Fusion's MMR probe and every streaming micro-batch run in
  * one. The exception is a pin whose blocks back the DataFrame the
  * block returns: a local checkpoint truncates lineage, so those
  * blocks must outlive the last read of the result, and the returned
  * frame moves to the enclosing registry instead.
  *
  * Outside any scope a pin lands in the thread's base registry (a
  * reused query intermediate: a signature table, an NB model, a funnel
  * frontier). `Bench.runOnce` and the `Verify` loop call [[releaseAll]]
  * after every query's result is written. A loop step may still free
  * its previous table early with [[free]]; freeing twice is a no-op.
  *
  * `spark.catalog.clearCache()` does NOT cover these blocks, and
  * neither does `Dataset.unpersist()`: they are RDD-level persists,
  * not cache-manager entries — which is exactly how a bench suite that
  * clears the cache between passes still accumulated one pinned copy
  * of the q155 LM table per pass for the JVM lifetime (r17 ADVICE).
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

  /** This thread's open scopes, innermost first. A scope holds its
    * pins strongly: it frees them itself, and it is short. */
  private val scopes =
    ThreadLocal.withInitial[List[collection.mutable.ArrayBuffer[DataFrame]]](() => Nil)

  /** Materialize `df` once (eager `localCheckpoint`) and track it, so
    * every later consumer reads blocks instead of re-running its
    * lineage. Building the frame therefore runs a Spark job at plan
    * CONSTRUCTION time.
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
    if (checkpointRooted(df.queryExecution.logical)) df else checkpoint(df)
  }

  /** [[pin]] without the pass-through: always a new checkpoint. A loop
    * step needs this — its first table can be a projection over a
    * pinned frame (PageRank's initial ranks over the node table), and
    * freeing a passed-through alias would free the frame under it. */
  private[graft] def checkpoint(df: DataFrame): DataFrame =
    track(df.localCheckpoint(true))

  /** [[checkpoint]] that also counts the rows matching `where` in the
    * checkpoint's own job (an accumulator in a `mapPartitions`), so a
    * loop learns its sizes and its convergence without a second
    * action. A task retry can over-count; callers use the count only
    * to size partitions or to test `== 0`, which a retry cannot flip. */
  private[graft] def counted(df: DataFrame,
      where: Row => Boolean = _ => true): (DataFrame, Long) = {
    val n = df.sparkSession.sparkContext.longAccumulator("pinned_rows")
    val pinned = checkpoint(df.mapPartitions { rows =>
      rows.map { r => if (where(r)) n.add(1L); r }
    }(Encoders.row(df.schema)))
    (pinned, n.value.longValue)
  }

  /** The RDDs behind `df`'s checkpoints: its `LogicalRDD` leaves. */
  private def blocks(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().collect { case lr: LogicalRDD => lr.rdd }

  /** Release the blocks behind a checkpointed frame (or any frame over
    * one). The checkpointed plan is a `LogicalRDD` leaf whose RDD was
    * persisted directly, so the blocks otherwise live until the
    * ContextCleaner notices the RDD is garbage — at 100 TB label
    * tables that lag is real memory/disk pressure across iterations.
    * Only release a frame after its last action: a lineage-truncated
    * frame cannot recompute. */
  private[graft] def free(df: DataFrame): Unit =
    blocks(df).foreach(_.unpersist(blocking = false))

  /** Run `body`; on exit, by success or by a throw, free every frame
    * pinned or tracked on this thread inside it. If `body` returns a
    * DataFrame that reads any of those blocks, the frames behind it
    * stay pinned and the returned frame is tracked by the enclosing
    * scope (or the base registry) instead. A block must not `return`
    * from its enclosing method. */
  def scoped[A](body: => A): A = {
    val mine = collection.mutable.ArrayBuffer.empty[DataFrame]
    scopes.set(mine :: scopes.get)
    var out: Option[A] = None
    try { out = Some(body); out.get }
    finally {
      scopes.set(scopes.get.tail)
      val result = out.collect { case ds: Dataset[_] => ds.asInstanceOf[DataFrame] }
      val kept = result.fold(Set.empty[Int])(blocks(_).map(_.id).toSet)
      val (backing, done) = mine.partition(blocks(_).exists(r => kept(r.id)))
      done.foreach(free)
      if (backing.nonEmpty) result.foreach(track)
    }
  }

  /** Register a checkpoint-backed frame on this thread; returns it
    * unchanged. The base registry holds WEAK references: a thread that
    * never drains must not keep the frame reachable forever — once the
    * caller drops it, the ContextCleaner's GC-driven unpersist path
    * takes over. Only a live, still-referenced frame is drained by
    * `releaseAll`. */
  private[graft] def track(df: DataFrame): DataFrame = {
    scopes.get match {
      case scope :: _ => scope += df
      case Nil =>
        val q = reg.get()
        q.add(new java.lang.ref.WeakReference(df))
        // bound the ref-queue itself for never-draining threads
        while (q.size > 256) q.removeFirst()
    }
    df
  }

  /** How many still-live results this thread's base registry tracks
    * (spec observability). */
  def trackedCount: Int = {
    val it = reg.get().iterator()
    var n = 0
    while (it.hasNext) if (it.next().get() != null) n += 1
    n
  }

  /** Hand this thread's tracked frames to another owner: drain the
    * base registry and return the still-live frames WITHOUT
    * unpersisting them. `Par.concurrently` runs a plan-construction
    * branch on a scratch thread; pins created there land in THAT
    * thread's registry, which the caller can never see — the branch
    * drains itself on exit and the caller `adopt`s the frames into
    * its own innermost scope or base registry. */
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
  def releaseAll(): Unit = drain().foreach(free)
}
