package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.ops.Pinned

/** §2.9: the reference's cron micro-batch as Structured Streaming.
  * The reference has no event-time semantics to preserve (time is just
  * columns; incrementality is anti-join dedup), so a tick is one
  * `AvailableNow` drain of a file source into marker-guarded
  * `foreachBatch` sinks: near-dup dedup against the signature store
  * ([[lshDedupSink]]), the prequential NB classifier
  * ([[nbOnlineSink]]) and the IVF-PQ index ([[pqIndexSink]]). Each
  * sink frees the blocks it pins before the micro-batch returns. A
  * plain keyed upsert per tick is `foreachBatch` around
  * `graft.io.Sinks.mergeInto`. No query here uses a stateful
  * streaming operator: the stores on disk are the state.
  */
object Streams {

  /** File-source stream over a directory (the incremental-ingest
    * analog of re-globbing per cron tick). */
  def fileStream(spark: SparkSession, dir: String, schema: StructType,
      format: String = "parquet", maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .format(format).load(dir)

  /** The replay guard every marker-guarded sink below shares: an
    * Append-mode `AvailableNow` stream whose `foreachBatch` runs
    * `body(batch, batchId)` only when `markerDir/_committed_batch_<id>`
    * is absent, then creates that marker. foreachBatch is
    * AT-LEAST-ONCE, so a crash between the body's side effects and the
    * marker replays the body with the same batchId; each body keeps
    * its writes idempotent (per-batch partition overwrites), and the
    * marker makes the common fully-processed replay a no-op. A body
    * must not `return`: a non-local return from a closure throws. */
  private def markedSink(df: DataFrame, checkpoint: String,
      markerDir: String)(body: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val marker = new org.apache.hadoop.fs.Path(
          s"$markerDir/_committed_batch_$batchId")
        val mfs = marker.getFileSystem(
          batch.sparkSession.sparkContext.hadoopConfiguration)
        if (!mfs.exists(marker)) {
          body(batch, batchId)
          mfs.create(marker, true).close()
        }
        ()
      }

  /** Streaming near-dup dedup against the on-disk signature store —
    * the production daily-ingest loop as one `foreachBatch` sink.
    * Each micro-batch of documents is minhash-signed (map-only),
    * PROBED against the store (partition-pruned to the batch's band
    * buckets, `NearDup.probeSignatureStore`), the discovered pairs
    * append to `pairsPath`, and the batch's signatures append to the
    * store — so the next batch probes this one too. Per-tick cost is
    * batch-proportional: the corpus store is read pruned, never
    * self-joined, and signatures are computed exactly once per
    * document lifetime. Pairs accumulated over any run sequence tile
    * the one-shot full LSH of everything ingested (GraphSpec proves
    * the batch algebra; StreamsSpec drives it through a real stream).
    *
    * With `labelsPath` set, each tick ALSO folds its pairs into the
    * incremental component-label store (`LabelStore.merge`) — the
    * keep/drop decision table stays current per batch without ever
    * re-running connected components over the full pairs log, closing
    * the last corpus-proportional stage of the loop.
    *
    * Idempotence: foreachBatch is AT-LEAST-ONCE — a crash between the
    * side effects and the streaming commit re-delivers the batch with
    * the SAME batchId. A per-batch marker under `pairsPath` makes the
    * fully-processed-but-uncommitted replay (the common case) a
    * no-op, and pairs land in a per-batch subdirectory written with
    * overwrite, so even a mid-crash replay cannot double-append them.
    * The residual window — a replay after signatures appended but
    * before the marker — re-appends that batch's signature rows;
    * candidate pairs stay a SET downstream (the probe join dedups
    * pairs with distinct), so duplicates cost store bytes, never
    * correctness. */
  def lshDedupSink(docs: DataFrame, id: String, text: String,
      storePath: String, pairsPath: String, checkpoint: String,
      buckets: Int = 64, labelsPath: Option[String] = None): DataStreamWriter[Row] =
    markedSink(docs, checkpoint, pairsPath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val sigs = graft.ops.NearDup
        .minhashSignaturesFused(batch, id, col(text))
      // localCheckpoint: sign once, reuse for probe AND append. Both
      // pins are freed in a finally: a failed probe, write or merge
      // must not leak a batch of blocks per retried tick.
      val pinned = sigs.localCheckpoint(true)
      try {
        // a crashed store rewrite must read as "store present, use the
        // backup" — not as a first tick, which would silently drop all
        // dedup history
        graft.io.Sinks.recoverSwap(spark, storePath)
        val fs = new org.apache.hadoop.fs.Path(storePath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val pairs =
          if (fs.exists(new org.apache.hadoop.fs.Path(storePath)))
            graft.ops.NearDup.probeSignatureStore(spark, storePath, pinned,
              id, buckets = buckets)
          else // first tick: no corpus yet, batch joins only itself
            graft.ops.NearDup.lshCandidatePairs(pinned, id)
        // pin only when the label merge makes pairs dual-consumer — the
        // probe join must not run twice, but a labels-off sink has a
        // single consumer and should not pay eager materialization +
        // block-manager pinning per tick
        val pinnedPairs =
          if (labelsPath.isDefined) pairs.localCheckpoint(true) else pairs
        try {
          // per-batch PARTITION dir + overwrite = replay-idempotent;
          // readers of pairsPath gain a trailing `batch` provenance
          // column (partition-discovered), pair columns unchanged
          pinnedPairs.write.mode("overwrite")
            .parquet(s"$pairsPath/batch=$batchId")
          labelsPath.foreach { lp =>
            graft.ops.LabelStore.merge(spark, lp, pinnedPairs,
              buckets = buckets)
          }
        } finally {
          // never free the unpinned `pairs`: its leaves include `pinned`
          if (labelsPath.isDefined) Pinned.free(pinnedPairs)
        }
        graft.ops.NearDup.appendSignatureStore(pinned, id, storePath,
          buckets = buckets)
      } finally Pinned.free(pinned)
    }

  /** Prequential (test-then-train) online NB loop over a LABELED doc
    * stream: each micro-batch is first SCORED against the model built
    * from every EARLIER batch's sufficient statistics, then its own
    * statistics are appended to the stats log — the streaming form of
    * the daily classifier-refresh contract (the log holds
    * vocab×classes-bounded count rows per tick, never documents;
    * training state costs one count pass over each batch, no corpus
    * re-read, and `trainFromStats` over the log is bit-equal to
    * one-shot training on everything ingested — StreamsSpec pins
    * both). The first batch has no predecessor model and yields no
    * predictions (no evidence — the same "no row" semantics as a
    * token-less doc).
    *
    * Determinism under replay: the model for batch k is derived from
    * log partitions with `batch < k` — NOT "whatever is in the log" —
    * so a crash-window replay (stats written, marker missing) scores
    * batch k against exactly the model the first attempt saw. Both
    * writes are per-batch partition overwrites; the marker is a
    * fast-path skip, not the correctness mechanism.
    */
  def nbOnlineSink(docs: DataFrame, id: String, text: String,
      labelCol: String, statsPath: String, predsPath: String,
      checkpoint: String, alpha: Double = 1.0): DataStreamWriter[Row] =
    markedSink(docs, checkpoint, statsPath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val statsDir = new org.apache.hadoop.fs.Path(statsPath)
      val fs = statsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // schema inference needs ≥1 real data file — the dir can hold
      // only `_committed_batch_*` markers (hidden to the reader) or a
      // partial first partition after a crash mid-write
      val priorStats =
        if (fs.exists(statsDir) && fs.listStatus(statsDir).exists { st =>
            st.getPath.getName.startsWith("batch=") &&
              fs.listStatus(st.getPath)
                .exists(_.getPath.getName.endsWith(".parquet"))
          })
          Some(spark.read.parquet(statsPath)
            .filter(col("batch") < batchId)
            .select("label", "term", "n"))
        else None
      // score FIRST (test-then-train), against earlier ticks only
      priorStats.filter(s => !s.isEmpty).foreach { s =>
        // sparse rebuild: per-tick model cost scales with the store's
        // observed (label, term) pairs, never vocab×classes (drop-in
        // by the cross-trainer pin). The merged stats and the model
        // are pinned HERE, not by the trainer and scorer (which pass
        // checkpointed frames through): their tracked pins would sit
        // in the micro-batch thread's registry, which nothing drains.
        val merged = graft.ops.TextClassifier.mergeNbStats(s)
          .localCheckpoint(true)
        try {
          val model = graft.ops.TextClassifier
            .trainFromStatsSparse(merged, alpha).localCheckpoint(true)
          try {
            graft.ops.TextClassifier
              .classifyNaiveBayes(batch, col(id), col(text), model)
              .write.mode("overwrite").parquet(s"$predsPath/batch=$batchId")
          } finally Pinned.free(model)
        } finally Pinned.free(merged)
      }
      graft.ops.TextClassifier
        .nbSufficientStats(batch, col(labelCol), col(text))
        .write.mode("overwrite").parquet(s"$statsPath/batch=$batchId")
    }

  /** Streaming IVF-PQ index ingest: each micro-batch of vectors is
    * cell-assigned, PQ-encoded, and written under
    * `storePath/batch=<id>/ivf_cell=<c>/` — the on-disk ANN index
    * (`Pq.writeIndexStore` layout) grows one batch directory per tick
    * while probes keep partition-pruning on ivf_cell across ALL
    * batches (`Pq.probeIndexStore` reads the root; `batch` is just
    * another discovered partition column). Idempotence: per-batch
    * directory overwrite + marker, so at-least-once replay rewrites
    * identical rows; a null-only or empty tick writes nothing. */
  def pqIndexSink(vectors: DataFrame, id: String, vec: String,
      model: graft.vector.Pq.PqModel, cents: Array[Array[Float]],
      storePath: String, checkpoint: String): DataStreamWriter[Row] =
    markedSink(vectors, checkpoint, storePath) { (batch, batchId) =>
      val live = batch.where(col(vec).isNotNull)
      if (!live.isEmpty) {
        // same row builder as Pq.writeIndexStore: the streamed and
        // batch stores share one schema by construction
        graft.vector.Pq.encodedCellRows(live, id, vec, model, cents)
          .write.mode("overwrite").partitionBy("ivf_cell")
          .parquet(s"$storePath/batch=$batchId")
      }
    }

  /** Drain a streaming query synchronously (test/cron-tick helper). */
  def runToCompletion(q: StreamingQuery): Unit = {
    q.awaitTermination()
  }
}
