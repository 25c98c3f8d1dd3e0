package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams

class StreamsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("stream-static decontamination: arriving docs drop on benchmark overlap") {
    // decontaminate as a streaming stage: the benchmark shingle set is
    // a STATIC broadcastable side; each micro-batch of arriving corpus
    // docs anti-joins it — same operator, stream-static join execution
    val dir = TestSpark.tempDir("sdecon")
    val docs = Seq(
      (1L, "the quick brown fox jumps over dogs"),
      (2L, "totally clean document about zoning"),
      (3L, "quick brown fox sightings continue"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/in")
    val bench = Seq("a quick brown fox appears").toDF("text")
    val stream = Streams.fileStream(spark, s"$dir/in", docs.schema,
      maxFilesPerTrigger = 1)
    val q = stream.writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val flagged = graft.ops.Decontaminate.contaminationReport(
          batch, "doc_id", col("text"), bench, col("text"), n = 3)
          .select("doc_id")
        val clean = batch.join(flagged, Seq("doc_id"), "left_anti")
        graft.io.Sinks.mergeInto(batch.sparkSession, s"$dir/state",
          clean, Seq("doc_id"))
        ()
      }.start()
    q.awaitTermination()
    val kept = spark.read.parquet(s"$dir/state")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L)) // docs 1 and 3 share "quick brown fox"
  }

  test("lshDedupSink: streamed ingest ticks tile the one-shot full LSH") {
    val dir = TestSpark.tempDir("lshstream")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = graft.ops.NearDup.withMutatedCopies(docs, "doc_id", "text")
      .select("doc_id", "text")
    // three files → three micro-batches (maxFilesPerTrigger = 1)
    base.filter(col("doc_id") < 250).coalesce(1).write.parquet(s"$dir/in/f=1")
    base.filter(col("doc_id") >= 250 && col("doc_id") < 1000000)
      .coalesce(1).write.parquet(s"$dir/in/f=2")
    base.filter(col("doc_id") >= 1000000).coalesce(1).write.parquet(s"$dir/in/f=3")
    val stream = Streams.fileStream(spark, s"$dir/in/*/",
      base.schema, maxFilesPerTrigger = 1)
    val q = Streams.lshDedupSink(stream, "doc_id", "text",
      s"$dir/store", s"$dir/pairs", s"$dir/ckpt", buckets = 16,
      labelsPath = Some(s"$dir/labels")).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.read.parquet(s"$dir/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = graft.ops.NearDup.lshCandidatePairs(
        graft.ops.NearDup.minhashSignaturesFused(base, "doc_id", col("text")),
        "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == full)
    // the store now holds 2 band rows per ingested doc
    assert(spark.read.parquet(s"$dir/store").count() == base.count() * 2)
    // the per-tick label merges end at the same labels a one-shot
    // connected components over the full pairs log produces — the
    // keep/drop table stayed current without ever replaying the log
    val labels = graft.ops.LabelStore.read(spark, s"$dir/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = graft.ops.NearDup.connectedComponents(
        spark.read.parquet(s"$dir/pairs"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labels == oneShot && labels.nonEmpty)

    // replay idempotence: foreachBatch is at-least-once — re-delivering
    // already-processed batches (fresh checkpoint, same input) must not
    // double-append pairs or signatures; the per-batch markers skip them
    val pairsBefore = spark.read.parquet(s"$dir/pairs").count()
    val storeBefore = spark.read.parquet(s"$dir/store").count()
    val q2 = Streams.lshDedupSink(
      Streams.fileStream(spark, s"$dir/in/*/", base.schema, maxFilesPerTrigger = 1),
      "doc_id", "text", s"$dir/store", s"$dir/pairs", s"$dir/ckpt2",
      buckets = 16, labelsPath = Some(s"$dir/labels")).start()
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(s"$dir/pairs").count() == pairsBefore)
    assert(spark.read.parquet(s"$dir/store").count() == storeBefore)
    assert(graft.ops.LabelStore.read(spark, s"$dir/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == labels)
  }

  test("streaming chunk-summarize: per-meeting micro-batches merge into state") {
    val dir = TestSpark.tempDir("ssum")
    // one parquet file per meeting → maxFilesPerTrigger=1 gives one
    // meeting per micro-batch (the cron-tick analog)
    def segs(file: String) = (1 to 120).map(i =>
      (file, i.toLong, s"w$i", 0.05, i * 10.0, i * 10.0 + 9.5))
      .toDF("file", "id", "text", "no_speech_prob", "start", "end")
    segs("m1").coalesce(1).write.parquet(s"$dir/in/f=1")
    segs("m2").coalesce(1).write.parquet(s"$dir/in/f=2")
    val stream = Streams.fileStream(spark, s"$dir/in/*/", segs("x").schema,
      maxFilesPerTrigger = 1)
    val q = stream.writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val summarized = graft.pipeline.CouncilPipeline.summarize(
            batch, () => new graft.enrich.Enricher.StubSummarizer, chunkSize = 50)
          graft.io.Sinks.mergeInto(batch.sparkSession, s"$dir/state",
            summarized, Seq("file", "chunk_id"))
          ()
        }
      }.start()
    q.awaitTermination()
    val state = spark.read.parquet(s"$dir/state")
    // 120 segs / 50 → 3 chunks + rollup, per meeting
    assert(state.count() == 8)
    assert(state.filter(col("chunk_id") === -1).count() == 2)
  }

  test("nbOnlineSink: prequential test-then-train; log trains bit-equal to one-shot") {
    val dir = TestSpark.tempDir("nbonline")
    // three labeled ingest files; each carries a distinct marker token so
    // the file -> micro-batch order is recoverable from the stats log
    val f1 = Seq((1L, "news", "b1tok mayor council budget"),
      (2L, "spam", "b1tok win prize offer"))
    val f2 = Seq((3L, "news", "b2tok council vote tax"),
      (4L, "spam", "b2tok click free offer"))
    val f3 = Seq((5L, "news", "b3tok budget tax vote"),
      (6L, "spam", "b3tok prize click win"))
    val schema = f1.toDF("doc_id", "label", "text").schema
    f1.toDF("doc_id", "label", "text").coalesce(1).write.parquet(s"$dir/in/f=1")
    f2.toDF("doc_id", "label", "text").coalesce(1).write.parquet(s"$dir/in/f=2")
    f3.toDF("doc_id", "label", "text").coalesce(1).write.parquet(s"$dir/in/f=3")
    val q = Streams.nbOnlineSink(
      Streams.fileStream(spark, s"$dir/in/*/", schema, maxFilesPerTrigger = 1),
      "doc_id", "text", "label", s"$dir/stats", s"$dir/preds",
      s"$dir/ckpt").start()
    q.processAllAvailable(); q.stop()

    // (1) the stats log trains BIT-equal to one-shot training on all docs
    val all = (f1 ++ f2 ++ f3).toDF("doc_id", "label", "text")
    def grid(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getAs[String]("label"), r.getAs[String]("term")) ->
        ((r.getAs[Long]("n"), r.getAs[Double]("log_cond"),
          r.getAs[Double]("log_prior"), r.getAs[Double]("oov_ll")))
    }.toMap
    val fromLog = grid(graft.ops.TextClassifier.trainFromStats(
      graft.ops.TextClassifier.mergeNbStats(
        spark.read.parquet(s"$dir/stats").select("label", "term", "n"))))
    val oneShot = grid(graft.ops.TextClassifier.trainNaiveBayes(
      all, col("label"), col("text")))
    assert(fromLog == oneShot)

    // (2) recover the file -> batch order from the marker tokens
    val stats = spark.read.parquet(s"$dir/stats")
    val batchOf = Seq("b1tok", "b2tok", "b3tok").map { tk =>
      tk -> stats.filter(col("term") === tk).select("batch")
        .head().getAs[Number]("batch").longValue()
    }.toMap
    assert(batchOf.values.toSet.size == 3)
    // (3) the FIRST batch has no predecessor model -> no predictions
    val firstBatch = batchOf.values.min
    val preds = spark.read.parquet(s"$dir/preds")
    assert(preds.filter(col("batch") === firstBatch).count() == 0)
    // (4) prequential: each later batch's predictions equal a batch
    // classify against the model trained on strictly earlier files
    val fileOf = Map("b1tok" -> f1, "b2tok" -> f2, "b3tok" -> f3)
    val ordered = batchOf.toSeq.sortBy(_._2) // (token, batchId) by order
    for (k <- 1 until ordered.size) {
      val (tok, bid) = ordered(k)
      val earlier = ordered.take(k).flatMap(t => fileOf(t._1))
        .toDF("doc_id", "label", "text")
      val m = graft.ops.TextClassifier.trainNaiveBayes(
        earlier, col("label"), col("text"))
      val want = graft.ops.TextClassifier.classifyNaiveBayes(
          fileOf(tok).toDF("doc_id", "label", "text"),
          col("doc_id"), col("text"), m)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val got = preds.filter(col("batch") === bid)
        .select("id", "pred_label")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == want, s"batch $bid ($tok)")
    }
  }

  test("lshDedupSink frees its pins when a micro-batch throws") {
    // a label store built with 16 buckets refuses an 8-bucket merge;
    // the batch throws in LabelStore.merge after its signatures and
    // pairs are pinned, and the stream fails
    val dir = TestSpark.tempDir("lshfail")
    graft.ops.LabelStore.merge(spark, s"$dir/labels",
      Seq((1L, 2L)).toDF("doc_a", "doc_b"), buckets = 16)
    val docs = (1L to 6L).map(i => (i, s"alpha beta gamma delta epsilon $i"))
      .toDF("doc_id", "text")
    docs.coalesce(1).write.parquet(s"$dir/in/f=1")
    val base = spark.sparkContext.getPersistentRDDs.keySet.toSet
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.runToCompletion(Streams.lshDedupSink(
        Streams.fileStream(spark, s"$dir/in/*/", docs.schema),
        "doc_id", "text", s"$dir/store", s"$dir/pairs", s"$dir/ckpt",
        buckets = 8, labelsPath = Some(s"$dir/labels")).start())
    }
    val left = TestSpark.persistedSince(base)
    assert(left.isEmpty, s"lshDedupSink left persisted RDDs $left")
  }

  test("nbOnlineSink frees its merged stats and model after every tick") {
    // the trainer and the scorer pin the merged stats and the model on
    // the micro-batch thread, whose base registry nothing drains: the
    // batch's scope must free both, or each scoring tick leaves two
    // checkpoints behind
    val dir = TestSpark.tempDir("nbfree")
    val docs = Seq((1L, "news", "mayor council budget"), (2L, "spam", "win prize offer"))
      .toDF("doc_id", "label", "text")
    (1 to 3).foreach(k => docs.coalesce(1).write.parquet(s"$dir/in/f=$k"))
    val base = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Streams.runToCompletion(Streams.nbOnlineSink(
      Streams.fileStream(spark, s"$dir/in/*/", docs.schema, maxFilesPerTrigger = 1),
      "doc_id", "text", "label", s"$dir/stats", s"$dir/preds",
      s"$dir/ckpt").start())
    // two scoring ticks ran (the first tick has no model to score with)
    assert(spark.read.parquet(s"$dir/preds").select("batch").distinct().count() == 2)
    val left = TestSpark.persistedSince(base)
    assert(left.isEmpty, s"nbOnlineSink left persisted RDDs $left")
  }
}
