package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental connected components over an accumulating candidate-
  * pairs stream — the persisted label table that completes the
  * streaming dedup loop the on-disk signature store started
  * (`NearDup.appendSignatureStore` / `Streams.lshDedupSink`).
  *
  * The problem it solves: the signature store makes PAIR DISCOVERY
  * batch-proportional, but turning the accumulated pairs into
  * keep/drop decisions previously required a full
  * `NearDup.connectedComponents` recompute over every pair ever
  * emitted — the one stage of the daily-ingest loop whose cost grew
  * with the corpus rather than the batch. (Reference analog: the
  * crawler's seen-set is persistent state consulted per run, not
  * rebuilt from history — newscrawler.py:125-127.)
  *
  * The fix rests on one invariant: a min-id label table IS a
  * connectivity-preserving contraction of everything merged so far.
  * Treating each stored row (node → component) as a star edge, two
  * nodes are connected in (all pairs ever) iff they are connected in
  * (star edges ∪ new batch's pairs). So a batch merge never replays
  * old pairs:
  *
  *  1. look up the stored components of the batch's nodes — the
  *     TOUCHED components (one read of the store, the batch side
  *     small enough for a broadcast hash join);
  *  2. pull the star edges of just those components — the store is
  *     laid out `PARTITION BY comp_bucket = xxhash64(component) mod
  *     buckets`, and all members of a component share a bucket, so
  *     this read is partition-pruned to the ≤`buckets` bucket ids the
  *     batch touches (the `probeSignatureStore` treatment);
  *  3. re-converge ONLY that subgraph: `connectedComponents` over
  *     (touched stars ∪ new pairs) — iterative work proportional to
  *     the batch and the components it touches, never the corpus;
  *  4. merge: ONLY the affected `comp_bucket` partitions rewrite, as
  *     one `graft.io.Store` commit. Affected = the touched components'
  *     old buckets ∪ the re-converged labels' new buckets; rows of
  *     untouched components that merely share an affected bucket
  *     pass through within that bucket's rewrite (an anti join whose
  *     build side is the re-labeled subgraph's node set), and every
  *     OTHER bucket's files are never read, never written —
  *     byte-identical after the merge (spec-asserted). The commit's
  *     manifest drops the affected buckets' old files and lists the
  *     new ones, so a crashed merge reads as the previous labels, and
  *     re-running the same batch is idempotent (star edges of
  *     already-merged components re-converge to the same labels).
  *
  * Per-batch cost: the touched-subgraph CC plus one partition-pruned
  * lookup scan of the store and a rewrite of the affected buckets
  * only. The label table is two longs per document, and a batch
  * touching k components reads and writes ≤ 2k of its bucket
  * partitions, capped at `buckets`: a nightly batch of hundreds of
  * documents can touch every bucket (ROADMAP item 3).
  *
  * Manifest 0 records `buckets` and the bucket hash; a merge with
  * another bucket count throws before any Spark job runs. */
object LabelStore {

  /** Merge a batch of candidate pairs into the label store at `path`,
    * creating it if absent. After the call, `read(spark, path)` holds
    * one row per node ever seen in a merged pair, labeled with the
    * min id reachable across ALL merged pairs — byte-equal to a
    * one-shot `connectedComponents` over the union of every batch
    * (spec-asserted tiling, the signature-store treatment). With a
    * streaming `batch` id already recorded in the store, the call is a
    * no-op. */
  def merge(spark: SparkSession, path: String, newPairs: DataFrame,
      colA: String = "doc_a", colB: String = "doc_b",
      buckets: Int = 64, maxIterations: Int = 20,
      maxBroadcastSubNodes: Long = 10000000L,
      batch: Option[Long] = None): Unit = {
    require(buckets >= 1, s"LabelStore.merge: buckets=$buckets")
    val layout = Map("partitionBy" -> "comp_bucket",
      "buckets" -> buckets.toString, "hash" -> "pmod(xxhash64(component), buckets)")
    graft.io.Store.expect(spark, path, layout)
    if (batch.exists(graft.io.Store.committed(spark, path, _))) return
    // A pair-less batch is a guaranteed no-op in BOTH branches — no
    // store yet ⇒ nothing to bootstrap (a partitioned write of zero
    // rows would commit an epoch with no file); store present ⇒ zero
    // touched components, and without this guard the quiet tick would
    // still pay a full pass-through rewrite of the corpus-sized label
    // table.
    if (newPairs.isEmpty) return
    val existing = graft.io.Store.read(spark, path)
    // AQE is paused for the whole merge: every multi-row relation in
    // here is batch-bounded by construction (batch nodes, touched
    // components, pruned star pull — all broadcast probes), so AQE's
    // per-stage scheduling can't improve a partition boundary but
    // does turn each materialization into several driver jobs
    // (measured: 12 jobs → 5 on the merge-path CC preamble alone).
    // The store-sized relations (pass-through rewrite) flow through
    // one explicitly-repartitioned write, also AQE-inert. The scope
    // frees the CC labels once the commit has consumed them.
    graft.GraftSession.withConf(spark,
        "spark.sql.adaptive.enabled" -> "false")(Pinned.scoped {
      existing match {
        case None =>
          val boot = NearDup.connectedComponents(newPairs, colA, colB,
              maxIterations)
            .select(col("node"), col("component"))
          // bootstrap is the one full write the store ever pays; one
          // writer task per bucket — without this, every shuffle task
          // writes a sliver file into every bucket dir it touches
          graft.io.Store.commit(
            boot.withColumn("comp_bucket",
                pmod(xxhash64(col("component")), lit(buckets.toLong)))
              .repartition(buckets, col("comp_bucket")),
            path, layout, batch)(_ => true)
        case Some(storedRaw) =>
          val stored = storedRaw.select(col("node"), col("component"),
            col("comp_bucket"))
          val batchNodes = newPairs.select(col(colA).as("node"))
            .unionByName(newPairs.select(col(colB).as("node")))
            .distinct()
          // 1. touched components: map-side scan of the store against
          // the (broadcastable) batch node set. Distinct keeps the
          // relation at component cardinality for the semi join below.
          // NOT checkpointed: its second consumer (the star pull) is
          // lazy and folds into the CC edge-list materialization — the
          // join is one broadcast probe of a scan that job runs anyway,
          // cheaper than a dedicated checkpoint action + pin.
          // broadcast EXPLICIT (not stats-inferred): the scaladoc's
          // "batch side small enough for a broadcast hash join" is a
          // contract, and with AQE paused a mis-estimated batch side
          // would silently fall back to a store-sized sort-merge shuffle
          val touched = stored.join(broadcast(batchNodes), Seq("node"))
            .select(col("component")).distinct()
          // 2. the touched components' bucket ids — ≤ `buckets` longs,
          // driver-bounded by construction (probeSignatureStore shape)
          val touchedBuckets = touched
            .select(pmod(xxhash64(col("component")), lit(buckets.toLong)))
            .distinct().collect().map(_.getLong(0))
          val star = stored
            .filter(col("comp_bucket").isin(touchedBuckets: _*))
            .join(broadcast(touched), Seq("component"), "left_semi")
            .select(col("node").as(colA), col("component").as(colB))
          // 3. re-converge the touched subgraph only — with the batch's
          // pairs PRE-CONTRACTED through the stored labels: an endpoint
          // the store already knows collapses to its component id, so
          // min-label propagation starts from the contracted graph
          // instead of re-walking chains the store merged in earlier
          // batches. Connectivity is preserved (a min-id label table is
          // a connectivity-preserving contraction — the object
          // invariant), the joins are map-side broadcast probes of the
          // batch node set, and each CC round saved is two scheduled
          // jobs the driver never pays.
          // The mapping is batch-bounded (stored labels of batch nodes
          // only), read via the same bucket pruning as the star pull,
          // and broadcast ONCE — the two probe joins reuse the same
          // exchange, and a left join against a broadcast build side
          // stays map-side. Never joins newPairs against the full store
          // (that would shuffle the corpus per batch).
          val batchLabels = broadcast(stored
            .filter(col("comp_bucket").isin(touchedBuckets: _*))
            .join(batchNodes, Seq("node"))
            .select(col("node"), col("component")))
          val contracted = newPairs
            .join(batchLabels.as("la"), newPairs(colA) === col("la.node"), "left")
            .join(batchLabels.as("lb"), col(colB) === col("lb.node"), "left")
            .select(coalesce(col("la.component"), col(colA)).as(colA),
              coalesce(col("lb.component"), col(colB)).as(colB))
          val sub = NearDup.connectedComponents(
            star.unionByName(contracted), colA, colB, maxIterations)
          // 4. rewrite ONLY the affected buckets: the touched
          // components' old buckets plus wherever the re-converged
          // labels hash — a merged component's new min-id can land in
          // a different bucket than any of its constituents, and its
          // members' old rows must leave their old buckets while the
          // new rows enter the new one. ≤ `buckets` longs, the same
          // driver bound as touchedBuckets (sub is checkpoint-pinned,
          // so this collect is a cheap scan, not a CC re-run).
          // one scan serves both driver needs (r22, guide §2.4): the
          // distinct new-label buckets AND the size-gate row count come
          // from a single per-bucket count aggregation instead of two
          // scheduled jobs over the same pinned blocks
          val bucketCounts = sub
            .groupBy(pmod(xxhash64(col("component")), lit(buckets.toLong))
              .as("__b"))
            .agg(count(lit(1)).as("__n")).collect()
          val newBuckets = bucketCounts.map(_.getLong(0))
          val subCount = bucketCounts.map(_.getLong(1)).sum
          val affected = (touchedBuckets ++ newBuckets).distinct
          // Per-bucket content: rows of untouched components that merely
          // share an affected bucket pass through (anti join against the
          // re-labeled node set — every re-labeled node's old row sat in
          // a touched bucket, so this fully covers the replacements);
          // re-labeled rows replace. The scan is partition-pruned to the
          // affected buckets; buckets outside `affected` are never read,
          // never written. One writer task per affected bucket, the same
          // sliver-file discipline as the bootstrap write.
          // the anti build side is hinted UNDER A SIZE GATE (r22; r21
          // ADVICE): `sub` is checkpoint-backed (LogicalRDD), whose size
          // estimate is the unknown-stats default — without the hint the
          // planner picks a sort-merge anti join that shuffles the
          // store-sized pass-through by node. But sub's row count is
          // touched-COMPONENT-bounded, not batch-bounded: near-dup
          // graphs grow giant components, and one batch edge touching
          // one makes sub's node set component-sized — an unconditional
          // broadcast would then hit the 8 GB broadcast cap / driver
          // OOM where the sort-merge anti join merely shuffles and
          // spills. sub is checkpoint-pinned, so the gate's count is a
          // cheap block scan, not a CC re-run; oversized subgraphs fall
          // back to the (slow but safe) shuffle anti join.
          val subNodes = sub.select(col("node"))
          val antiBuild =
            if (subCount <= maxBroadcastSubNodes) broadcast(subNodes)
            else subNodes
          val passThrough = stored
            .filter(col("comp_bucket").isin(affected: _*))
            .select(col("node"), col("component"))
            .join(antiBuild, Seq("node"), "left_anti")
          val content = passThrough
            .unionByName(sub.select(col("node"), col("component")))
            .withColumn("comp_bucket",
              pmod(xxhash64(col("component")), lit(buckets.toLong)))
            .repartition(math.max(1, affected.length), col("comp_bucket"))
          val dirs = affected.map(b => s"comp_bucket=$b/").toSet
          graft.io.Store.commit(content, path, layout, batch)(f =>
            dirs.exists(f.startsWith))
      }
    })
  }

  /** Compact the label store: rewrite every `comp_bucket` partition
    * into (at most) one file, as one commit. A merge already funnels
    * each bucket through one writer task, and replaces each affected
    * bucket's files wholesale, so merges keep the store at ~1 file per
    * bucket; a store inherited from a different writer can fragment,
    * and the signature store's compaction cadence
    * (`NearDup.compactSignatureStore`) wants a same-shaped analog here.
    * GraphSpec asserts read-equivalence and the file bound. */
  def compact(spark: SparkSession, path: String): Unit =
    graft.io.Store.compact(spark, path,
      graft.io.Store.layout(spark, path).fold(1)(_("buckets").toInt))

  /** The current labels: (node, component), read from the latest
    * manifest's files. Reading never changes the store. The scan is
    * lazy: consume it before the next merge deletes the files it
    * lists. */
  def read(spark: SparkSession, path: String): DataFrame =
    graft.io.Store.read(spark, path)
      .getOrElse(throw new java.util.NoSuchElementException(
        s"LabelStore.read: no label store at $path"))
      .select(col("node"), col("component"))
}
