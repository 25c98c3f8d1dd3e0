package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row
import graft.ops.Pinned

/** §2.9: the reference's cron micro-batch as Structured Streaming.
  * The reference has no event-time semantics to preserve (time is just
  * columns; incrementality is anti-join dedup) — so the engine exposes
  * (a) the same batch transforms runnable under `readStream` with
  * `foreachBatch` state merge, and (b) proper event-time
  * generalizations (watermarked windows, bounded-state dedup,
  * stateful session counts) for workloads that do stream.
  */
object Streams {

  /** File-source stream over a directory (the incremental-ingest
    * analog of re-globbing per cron tick). */
  def fileStream(spark: SparkSession, dir: String, schema: StructType,
      format: String = "parquet", maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .format(format).load(dir)

  /** Shared batch/stream transform: tumbling event-time counts. The
    * SAME function serves q35 in batch and the streaming test — one
    * logical plan, two execution modes. */
  def hourlyTypeCounts(events: DataFrame, tsCol: String = "tstamp"): DataFrame =
    events
      .withWatermark(tsCol, "2 hours")
      .groupBy(window(col(tsCol), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_millis(col("window.start")).as("hour_ms"),
        col("event_type"), col("n"), col("sum_value"))

  /** Shared batch/stream transform: windowed corpus-quality monitor —
    * the live dashboard a crawl pipeline runs per ingest window and
    * per source: doc count, mean token count, mean within-doc
    * duplicate-token fraction, and the keep rate of a Gopher-lite
    * gate (>= minTokens tokens AND dup fraction <= maxDupFrac). A
    * keep-rate cliff in one window/source is the crawler-regression
    * alarm. Every per-doc signal is a PURE projection (fused
    * `TextStats`-family array exprs, no per-doc aggregation), so the
    * only stateful operator is the watermarked window agg — state is
    * bounded by (windows in flight) × (sources), independent of doc
    * volume. The SAME function serves batch backfills and the live
    * stream (the `hourlyTypeCounts` discipline). */
  def qualityMonitor(docs: DataFrame, tsCol: String, source: Column,
      text: Column, windowDur: String = "1 hour",
      watermark: String = "2 hours", minTokens: Int = 10,
      maxDupFrac: Double = 0.6): DataFrame = {
    import graft.ops.{NearDup, TextAnalysis}
    docs
      // tokenize ONCE into a materialized column before the array
      // exprs fan out over it (the dupTokenFrac contract) — inline,
      // the regex split would re-run per downstream reference
      .select(col(tsCol), source.as("source"),
        filter(NearDup.tokens(text), w => w =!= "").as("__ws"))
      .select(col(tsCol), col("source"),
        size(col("__ws")).cast("long").as("__nt"),
        TextAnalysis.dupTokenFrac(col("__ws")).as("__df"))
      .withColumn("__keep",
        col("__nt") >= minTokens && col("__df") <= maxDupFrac)
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("__nt")), 4).as("avg_tokens"),
        round(avg(col("__df")), 6).as("avg_dup_frac"),
        round(avg(col("__keep").cast("double")), 6).as("keep_rate"))
      .select(unix_millis(col("window.start")).as("window_ms"),
        col("source"), col("n_docs"), col("avg_tokens"),
        col("avg_dup_frac"), col("keep_rate"))
  }

  /** Bounded-state streaming dedup: the reference keeps its seen-set
    * forever (newscrawler.py:125-127); a stream bounds it with a
    * watermark (SURVEY §7.5.7). Dedup is by ID ALONE — a re-crawled
    * article with a fresh timestamp is still the same article — which
    * is exactly `dropDuplicatesWithinWatermark`'s contract. */
  def dedupStream(events: DataFrame, idCol: String, tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Stateful per-key running counts via mapGroupsWithState — the
    * custom-state primitive (per-user session counters). */
  def runningCounts(spark: SparkSession, events: DataFrame,
      keyCol: String): DataFrame = {
    import spark.implicits._
    events.selectExpr(s"CAST($keyCol AS LONG) AS k").as[Long]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (k: Long, it: Iterator[Long], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + it.size
          state.update(n)
          (k, n)
      }.toDF("user_id", "n_events")
  }

  /** One open session per key: [startMs, endMs] and its event count. */
  case class OpenSession(startMs: Long, endMs: Long, n: Long)

  /** Streaming sessionization via flatMapGroupsWithState with
    * EVENT-TIME timeout — the full custom-state pattern (q36's batch
    * sessionize, made incremental). A session closes either when a
    * later event for the key arrives beyond the gap (emitted inline)
    * or when the watermark passes sessionEnd+gap with no successor
    * (emitted by the timeout callback). State is one OpenSession per
    * active key — bounded by live keys, not history; the watermark
    * retires idle keys. Output (append-mode): closed sessions only,
    * `(key, session_start_ms, session_end_ms, n_events)`. */
  def sessionizeStream(spark: SparkSession, events: DataFrame,
      keyCol: String, tsCol: String, gapMs: Long = 30 * 60 * 1000L,
      watermark: String = "1 hour"): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    // the watermarked TIMESTAMP column must survive into the grouped
    // Dataset — event-time timeout resolves against it; converting to
    // millis beforehand silently drops the watermark
    val keyed = events
      .select(col(keyCol).cast("long").as("k"), col(tsCol).as("et"))
      .withWatermark("et", watermark)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
    keyed.flatMapGroupsWithState[OpenSession, (Long, Long, Long, Long)](
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (k: Long, rows0: Iterator[(Long, java.sql.Timestamp)],
          state: GroupState[OpenSession]) =>
        val rows = rows0.map { case (kk, t) => (kk, t.getTime) }
        if (state.hasTimedOut) {
          // watermark passed end+gap with no successor: close and retire
          val s = state.get
          state.remove()
          Iterator((k, s.startMs, s.endMs, s.n))
        } else {
          // micro-batch rows are not time-ordered — sort locally, then
          // gap-group WITHIN the batch first: a cluster of late events
          // that forms its own session merges like the batch semantics
          // would, instead of fragmenting into per-event singletons.
          // Only the cross-BATCH straggler case stays conservative
          // (exact cross-batch sessionization would buffer every
          // within-watermark event in state; in-order flows never hit
          // it).
          val ts = rows.map(_._2).toArray.sorted
          val groups = scala.collection.mutable.ArrayBuffer.empty[OpenSession]
          ts.foreach { t =>
            if (groups.nonEmpty && t <= groups.last.endMs + gapMs)
              groups(groups.size - 1) =
                OpenSession(groups.last.startMs, t, groups.last.n + 1)
            else groups += OpenSession(t, t, 1L)
          }
          val closed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
          var cur = state.getOption
          groups.foreach { g =>
            cur match {
              // within gap of the open session on EITHER side: merge,
              // extending start downward for cross-batch stragglers
              // (a bare start <= end+gap would swallow arbitrarily-
              // early late groups into a much later session)
              case Some(s) if g.endMs >= s.startMs - gapMs &&
                  g.startMs <= s.endMs + gapMs =>
                cur = Some(OpenSession(math.min(s.startMs, g.startMs),
                  math.max(s.endMs, g.endMs), s.n + g.n))
              // a whole group more than gap BEFORE the open session:
              // its own closed LATE session (groups are > gap apart,
              // so it can't touch even the extended open session)
              case Some(s) if g.endMs < s.startMs - gapMs =>
                closed += ((k, g.startMs, g.endMs, g.n))
              case Some(s) =>
                closed += ((k, s.startMs, s.endMs, s.n))
                cur = Some(g)
              case None =>
                cur = Some(g)
            }
          }
          cur.foreach { s =>
            state.update(s)
            state.setTimeoutTimestamp(s.endMs + gapMs)
          }
          closed.iterator
        }
    }.toDF("user_id", "session_start_ms", "session_end_ms", "n_events")
  }

  /** foreachBatch writer that MERGEs each micro-batch into a parquet
    * state table by id — exactly-once-ish via idempotent key-based
    * upsert (the reference's per-record checkpoint rewrite,
    * newscrawler.py:421-427, relaxed to per-micro-batch). */
  def mergeSink(df: DataFrame, statePath: String, key: Seq[String],
      checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.io.Sinks.mergeInto(batch.sparkSession, statePath, batch, key)
        ()
      }

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

  /** Streaming NB scoring against a FIXED pre-trained model: classify
    * each micro-batch and append predictions to a per-batch partition
    * dir. The model is a static DataFrame ([[graft.ops.TextClassifier
    * .trainNaiveBayes]] / `trainFromStats` output, vocab×classes rows)
    * — a stream-static join per tick, no streaming state at all.
    * Replay-idempotent two ways: the per-batch marker skips
    * already-committed batches, and the partition overwrite makes the
    * one crash-window replay (written, marker missing) rewrite the
    * same rows. Readers of `predsPath` gain a trailing `batch`
    * provenance column, prediction columns unchanged.
    */
  def classifyScoreSink(docs: DataFrame, id: String, text: String,
      model: DataFrame, predsPath: String,
      checkpoint: String): DataStreamWriter[Row] =
    markedSink(docs, checkpoint, predsPath) { (batch, batchId) =>
      graft.ops.TextClassifier
        .classifyNaiveBayes(batch, col(id), col(text), model)
        .write.mode("overwrite").parquet(s"$predsPath/batch=$batchId")
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
        // by the cross-trainer pin)
        val model = graft.ops.TextClassifier.trainFromStatsSparse(
          graft.ops.TextClassifier.mergeNbStats(s), alpha)
        graft.ops.TextClassifier
          .classifyNaiveBayes(batch, col(id), col(text), model)
          .write.mode("overwrite").parquet(s"$predsPath/batch=$batchId")
      }
      graft.ops.TextClassifier
        .nbSufficientStats(batch, col(labelCol), col(text))
        .write.mode("overwrite").parquet(s"$statsPath/batch=$batchId")
    }

  /** Streaming PCA: fold each micro-batch of embeddings into a
    * per-tick moments log — one O(dim²) sufficient-statistics row per
    * batch under `storePath/batch=<id>/` — so the corpus PCA refreshes
    * via `Pca.fitFromMoments(spark.read.parquet(storePath))` (a
    * tick-count-bounded collect + the O(dim³) driver eigensolve),
    * never a rescan of history.
    *
    * Idempotence under AT-LEAST-ONCE replay: the batch's row is a
    * per-batch partition written with overwrite, so a crash-window
    * replay rewrites the identical row instead of double-counting it
    * (the nbOnlineSink discipline); the marker is a fast-path skip. */
  def pcaMomentsSink(embeddings: DataFrame, vec: String, storePath: String,
      checkpoint: String): DataStreamWriter[Row] =
    markedSink(embeddings, checkpoint, storePath) { (batch, batchId) =>
      // an all-null/empty tick contributes nothing — mark and move on
      // rather than letting moments' empty-input require kill the query
      if (!batch.where(col(vec).isNotNull).isEmpty) {
        graft.vector.Pca.momentsDf(batch, vec)
          .write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
      }
    }

  /** Streaming BPE: fold each micro-batch of documents into a
    * per-tick word-histogram log (`storePath/batch=<id>/`, vocab-sized
    * rows) — the BPE sufficient statistic, so the tokenizer refreshes
    * via `Bpe.trainFromHistogram(Bpe.mergeHistograms(
    * spark.read.parquet(storePath)))` without a corpus re-read.
    * Same idempotence contract as pcaMomentsSink: per-batch partition
    * overwrite makes at-least-once replay rewrite the identical rows;
    * the marker is a fast-path skip; an empty tick writes nothing. */
  def bpeHistogramSink(docs: DataFrame, textCol: String, storePath: String,
      checkpoint: String): DataStreamWriter[Row] =
    markedSink(docs, checkpoint, storePath) { (batch, batchId) =>
      // mirror Bpe.updateHistogramStore's contract exactly (r18
      // ADVICE): cheap batch-level null probe first, then the
      // empty-HISTOGRAM no-op against a checkpointed aggregation — a
      // non-null but all-whitespace tick must write NOTHING, not a
      // 0-row batch=N partition
      if (!batch.where(col(textCol).isNotNull).isEmpty) {
        val hist = graft.ops.Bpe.wordHistogramStats(batch, textCol)
          .localCheckpoint(true)
        try {
          if (!hist.isEmpty) {
            hist.write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
          }
        } finally Pinned.free(hist)
      }
    }

  /** Streaming IVF-PQ index ingest: each micro-batch of vectors is
    * cell-assigned, PQ-encoded, and written under
    * `storePath/batch=<id>/ivf_cell=<c>/` — the on-disk ANN index
    * (`Pq.writeIndexStore` layout) grows one batch directory per tick
    * while probes keep partition-pruning on ivf_cell across ALL
    * batches (`Pq.probeIndexStore` reads the root; `batch` is just
    * another discovered partition column). Idempotence: per-batch
    * directory overwrite + marker, so at-least-once replay rewrites
    * identical rows (the pcaMomentsSink/bpeHistogramSink contract);
    * a null-only or empty tick writes nothing. */
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
