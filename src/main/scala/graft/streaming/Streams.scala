package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.io.Store
import graft.ops.Pinned

/** §2.9: the reference's cron micro-batch as Structured Streaming.
  * The reference has no event-time semantics to preserve (time is just
  * columns; incrementality is anti-join dedup), so a tick is one
  * `AvailableNow` drain of a file source into replay-guarded
  * `foreachBatch` sinks: near-dup dedup against the signature store
  * ([[lshDedupSink]]), the prequential NB classifier
  * ([[nbOnlineSink]]) and the IVF-PQ index ([[pqIndexSink]]). Every
  * store a sink writes is a `graft.io.Store`, and every commit carries
  * the micro-batch id. Each micro-batch frees the blocks it pins
  * before it returns. A plain keyed upsert per tick is
  * `foreachBatch` around `graft.io.Sinks.mergeInto`. No query here
  * uses a stateful streaming operator: the stores on disk are the
  * state.
  */
object Streams {

  /** File-source stream over a directory (the incremental-ingest
    * analog of re-globbing per cron tick). */
  def fileStream(spark: SparkSession, dir: String, schema: StructType,
      format: String = "parquet", maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .format(format).load(dir)

  /** The replay guard every sink below shares: an Append-mode
    * `AvailableNow` stream whose `foreachBatch` runs
    * `body(batch, batchId)` unless `lastStore`, the store the body
    * commits last, already records `batchId`. foreachBatch is
    * AT-LEAST-ONCE: a crash after some of the body's commits replays
    * it with the same batchId, and each commit carrying that id is a
    * no-op in a store that records it, so a replay finishes only what
    * the first attempt left undone. The body runs in one
    * `Pinned.scoped` block: every block it pins is freed when it
    * exits, by success or by a throw, so the micro-batch thread's
    * registry, which nothing drains, never holds one. A body must not
    * `return`: a non-local return from a closure throws. */
  private def batchSink(df: DataFrame, checkpoint: String,
      lastStore: String)(body: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!Store.committed(batch.sparkSession, lastStore, batchId))
          Pinned.scoped(body(batch, batchId))
        ()
      }

  /** A store partitioned by micro-batch: pairs, NB stats and
    * predictions. */
  private val perBatch: Store.Layout = Map("partitionBy" -> "batch")

  /** Streaming near-dup dedup against the on-disk signature store —
    * the production daily-ingest loop as one `foreachBatch` sink.
    * Each micro-batch of documents is minhash-signed (map-only),
    * PROBED against the store (partition-pruned to the batch's band
    * buckets, `NearDup.probeSignatureStore`), the discovered pairs
    * commit to `pairsPath` under their `batch` partition, and the
    * batch's signatures append to the store — so the next batch
    * probes this one too. Per-tick cost is batch-proportional: the
    * corpus store is read pruned, never self-joined, and signatures
    * are computed exactly once per document lifetime. Pairs
    * accumulated over any run sequence tile the one-shot full LSH of
    * everything ingested (GraphSpec proves the batch algebra;
    * StreamsSpec drives it through a real stream).
    *
    * With `labelsPath` set, each tick ALSO folds its pairs into the
    * incremental component-label store (`LabelStore.merge`) — the
    * keep/drop decision table stays current per batch without ever
    * re-running connected components over the full pairs log, closing
    * the last corpus-proportional stage of the loop.
    *
    * Replay: pairs, labels and signatures each commit with the batch
    * id, signatures last. A redelivered batch whose signatures are
    * committed is skipped whole; one that crashed part-way re-probes
    * the store as the first attempt saw it (its signatures are not
    * in yet) and commits only to the stores that lack it. */
  def lshDedupSink(docs: DataFrame, id: String, text: String,
      storePath: String, pairsPath: String, checkpoint: String,
      buckets: Int = 64, labelsPath: Option[String] = None): DataStreamWriter[Row] =
    batchSink(docs, checkpoint, storePath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val sigs = graft.ops.NearDup
        .minhashSignaturesFused(batch, id, col(text))
      // pinned: sign once, reuse for probe AND append
      val pinned = Pinned.checkpoint(sigs)
      // the first tick probes an absent store: the batch joins itself
      val pairs = graft.ops.NearDup.probeSignatureStore(spark, storePath,
        pinned, id, buckets = buckets)
      // pin only when the label merge makes pairs dual-consumer — the
      // probe join must not run twice, but a labels-off sink has a
      // single consumer and should not pay eager materialization +
      // block-manager pinning per tick
      val pinnedPairs =
        if (labelsPath.isDefined) Pinned.checkpoint(pairs) else pairs
      // readers of pairsPath gain a trailing `batch` provenance
      // column (partition-discovered), pair columns unchanged
      Store.commit(pinnedPairs.withColumn("batch", lit(batchId)),
        pairsPath, perBatch, Some(batchId))(_ => false)
      labelsPath.foreach { lp =>
        graft.ops.LabelStore.merge(spark, lp, pinnedPairs,
          buckets = buckets, batch = Some(batchId))
      }
      graft.ops.NearDup.appendSignatureStore(pinned, id, storePath,
        buckets = buckets, batch = Some(batchId))
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
    * so a crash-window replay (predictions committed, stats not)
    * scores batch k against exactly the model the first attempt saw.
    */
  def nbOnlineSink(docs: DataFrame, id: String, text: String,
      labelCol: String, statsPath: String, predsPath: String,
      checkpoint: String, alpha: Double = 1.0): DataStreamWriter[Row] =
    batchSink(docs, checkpoint, statsPath) { (batch, batchId) =>
      val priorStats = Store.read(batch.sparkSession, statsPath)
        .map(_.filter(col("batch") < batchId).select("label", "term", "n"))
      // score FIRST (test-then-train), against earlier ticks only
      priorStats.filter(s => !s.isEmpty).foreach { s =>
        // sparse rebuild: per-tick model cost scales with the store's
        // observed (label, term) pairs, never vocab×classes (drop-in
        // by the cross-trainer pin). The trainer pins the merged
        // stats and the scorer pins the model; the batch's scope
        // frees both.
        val model = graft.ops.TextClassifier.trainFromStatsSparse(
          graft.ops.TextClassifier.mergeNbStats(s), alpha)
        Store.commit(graft.ops.TextClassifier
            .classifyNaiveBayes(batch, col(id), col(text), model)
            .withColumn("batch", lit(batchId)),
          predsPath, perBatch, Some(batchId))(_ => false)
      }
      Store.commit(graft.ops.TextClassifier
          .nbSufficientStats(batch, col(labelCol), col(text))
          .withColumn("batch", lit(batchId)),
        statsPath, perBatch, Some(batchId))(_ => false)
    }

  /** Streaming IVF-PQ index ingest: each micro-batch of vectors is
    * cell-assigned, PQ-encoded, and committed under
    * `storePath/batch=<id>/ivf_cell=<c>/` — the on-disk ANN index
    * (`Pq.writeIndexStore`'s rows) grows one batch directory per tick
    * while probes keep partition-pruning on ivf_cell across ALL
    * batches (`Pq.probeIndexStore` reads every batch; `batch` is just
    * another discovered partition column). A null-only or empty tick
    * writes no file; its commit records only the batch id. */
  def pqIndexSink(vectors: DataFrame, id: String, vec: String,
      model: graft.vector.Pq.PqModel, cents: Array[Array[Float]],
      storePath: String, checkpoint: String): DataStreamWriter[Row] =
    batchSink(vectors, checkpoint, storePath) { (batch, batchId) =>
      // same row builder as Pq.writeIndexStore: the streamed and
      // batch stores share one schema by construction
      Store.commit(graft.vector.Pq.encodedCellRows(batch, id, vec, model, cents)
          .withColumn("batch", lit(batchId)),
        storePath, graft.vector.Pq.indexLayout(model, cents) +
          ("partitionBy" -> "batch,ivf_cell"), Some(batchId))(_ => false)
    }

  /** Drain a streaming query synchronously (test/cron-tick helper). */
  def runToCompletion(q: StreamingQuery): Unit = {
    q.awaitTermination()
  }
}
