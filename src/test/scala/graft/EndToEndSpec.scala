package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.enrich.Enricher
import graft.expr.Functions
import graft.io.Sinks
import graft.pipeline.CouncilPipeline
import graft.vector.{HashEmbedder, Similarity}

/** Full six-stage integration: every stage boundary goes through real
  * file IO (JSONL state, per-entity partitioned writes, frontmatter
  * blobs, parquet vector collection) — the distributed analog of the
  * reference's cron pipeline, run end to end with stub enrichment.
  */
class EndToEndSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("scrape → transcribe → summarize → vectorize → crawl → search") {
    val root = TestSpark.tempDir("e2e")
    val embedder = new HashEmbedder(dim = 64)

    // -- stage 1a: "scrape" lands meetings, carry box_link from prior state
    val scraped = Seq(
      ("Budget Meeting", "2026-03-11 00:00:00", "https://c/v/m1.mp4"),
      ("Zoning Meeting", "2026-03-12 00:00:00", "https://c/v/m2.mp4"))
      .toDF("title", "date_s", "video")
      .withColumn("date", col("date_s").cast("timestamp")).drop("date_s")
    val previous = Seq(("https://c/v/m1.mp4", "box-m1"))
      .toDF("video", "box_link")
    val meetings = CouncilPipeline.refreshMeetings(scraped, previous)
    meetings.select("title", "date", "video", "box_link")
      .write.mode("overwrite").json(s"$root/data.jsonl")
    val meetingsBack = spark.read
      .schema("title STRING, date TIMESTAMP, video STRING, box_link STRING")
      .json(s"$root/data.jsonl")
    assert(meetingsBack.filter(col("box_link") === "box-m1").count() == 1)

    // -- stage 1b: transcribe pending (none inventoried yet)
    val segs = CouncilPipeline.transcribePending(meetingsBack,
      Seq.empty[String].toDF("name"), () => new Enricher.StubTranscriber(120))
    segs.write.mode("overwrite").partitionBy("file").json(s"$root/segments")
    val segsBack = spark.read
      .schema("id LONG, start DOUBLE, end DOUBLE, text STRING, no_speech_prob DOUBLE")
      .json(s"$root/segments") // partition column `file` recovered from layout
    assert(segsBack.select("file").distinct().count() == 2)

    // -- stage 2: chunk-summarize with the typed stub summarizer
    val summaries = CouncilPipeline.summarize(
      segsBack.select("file", "id", "text", "no_speech_prob", "start", "end"),
      () => new Enricher.StubSummarizer, chunkSize = 50)
    summaries.write.mode("overwrite").partitionBy("file").json(s"$root/summaries")
    val sumBack = spark.read
      .schema("chunk_id LONG, summary STRING, quotes ARRAY<STRING>, " +
        "names ARRAY<STRING>, start_time DOUBLE, end_time DOUBLE, " +
        "start_id LONG, end_id LONG")
      .json(s"$root/summaries")
    // 120 segs / 50 → 3 chunks + 1 rollup per meeting
    assert(sumBack.groupBy("file").count().collect().forall(_.getLong(1) == 4))

    // -- stage 4: vectorize into the parquet collection (MERGE by id)
    val coll = CouncilPipeline.vectorize(sumBack, meetingsBack, embedder)
    Sinks.mergeInto(spark, s"$root/collection", coll, Seq("id"))

    // -- stage 5: crawl articles, write frontmatter blobs, re-read (S6)
    val rss = Seq(("https://n/x-council-budget", "feed1"),
      ("https://n/y-council-zoning", "feed2")).toDF("url", "source")
    val articles = CouncilPipeline.crawl(rss,
      Seq.empty[String].toDF("id").select(col("id").cast("string").as("id")),
      () => new Enricher.StubTextExtractor, keywords = Seq("council"))
    val mdDir = s"$root/articles"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(mdDir))
    articles.collect().foreach { r => // tiny fixture: driver-side blob write
      val doc = s"---\nsource: ${r.getAs[String]("source")}\nurl: ${r.getAs[String]("url")}\n---\n" +
        r.getAs[String]("content_preview")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$mdDir/${r.getAs[String]("id")}.md"), doc)
    }
    val mdBack = spark.read.option("wholetext", "true").text(mdDir)
      .select(Functions.frontmatterValue(col("value"), "source").as("source"),
        Functions.frontmatterValue(col("value"), "url").as("url"),
        Functions.frontmatterBody(col("value")).as("content"))
    assert(mdBack.count() == 2)

    // -- stage 6: articles join the same collection via MERGE
    val artDocs = mdBack.select(
      col("url").as("id"), col("content").as("document"),
      map(lit("source"), col("source")).as("metadata"))
      .withColumn("embedding",
        udf((s: String) => embedder.embed(s)).apply(col("document")))
    val finalColl = Sinks.mergeInto(spark, s"$root/collection", artDocs, Seq("id"))
    assert(finalColl.count() == 8) // 2 meetings × 3 chunks + 2 articles

    // -- query side: self-search returns the exact chunk
    val probe = sumBack.filter(col("chunk_id") === 1).head.getAs[String]("summary")
    val hit = Similarity.topK(spark.read.parquet(s"$root/collection"),
      "id", "embedding", embedder.embed(probe), 1).head
    assert(hit.getDouble(1) == 1.0)

    // -- incremental: re-running transcription now finds zero work
    val inventory = spark.read.format("binaryFile").load(s"$root/segments/*/*")
      .select(regexp_extract(col("path"), "segments/file=([^/]+)/", 1).as("name"))
      .distinct()
    assert(CouncilPipeline.transcribePending(meetingsBack, inventory,
      () => new Enricher.StubTranscriber(1)).count() == 0)
  }

  test("daily-ingest dedup loop: stream → signature store → label store → survivors → packed sequences") {
    // The round-8 production loop end to end, with NOTHING recomputed
    // from history at decision time: three daily batches stream
    // through the LSH dedup sink (signing once, probing the pruned
    // signature store, folding pairs into the label store per tick);
    // keep/drop decisions then come from the PERSISTED label table
    // alone, and the surviving docs pack into token-budget sequences.
    // Ground truth: the one-shot pipeline (full LSH → one-shot CC →
    // min-id survivor per component) over everything ever ingested.
    val dir = TestSpark.tempDir("dailyloop")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val all = graft.ops.NearDup.withMutatedCopies(docs, "doc_id", "text")
      .select("doc_id", "text")
    // three "days": originals, then two waves of near-dup arrivals
    all.filter(col("doc_id") < 1000000).coalesce(1)
      .write.parquet(s"$dir/in/day=1")
    all.filter(col("doc_id") >= 1000000 && col("doc_id") % 2 === 0)
      .coalesce(1).write.parquet(s"$dir/in/day=2")
    all.filter(col("doc_id") >= 1000000 && col("doc_id") % 2 =!= 0)
      .coalesce(1).write.parquet(s"$dir/in/day=3")
    val stream = graft.streaming.Streams.fileStream(spark, s"$dir/in/*/",
      all.schema, maxFilesPerTrigger = 1)
    val q = graft.streaming.Streams.lshDedupSink(stream, "doc_id", "text",
      s"$dir/store", s"$dir/pairs", s"$dir/ckpt", buckets = 16,
      labelsPath = Some(s"$dir/labels")).start()
    q.processAllAvailable(); q.stop()

    // keep/drop from the persisted labels ONLY: a doc drops iff it is
    // a non-representative member of its component
    val labels = graft.ops.LabelStore.read(spark, s"$dir/labels")
    val survivors = graft.ops.NearDup
      .dropNearDuplicatesFromLabelsBy(all, "doc_id", labels, -col("doc_id"))
    val got = survivors.select("doc_id").collect().map(_.getLong(0)).toSet

    // ground truth: one-shot over the full corpus
    val oneShotPairs = graft.ops.NearDup.lshCandidatePairs(
      graft.ops.NearDup.minhashSignaturesFused(all, "doc_id", col("text")),
      "doc_id")
    val expected = graft.ops.NearDup.dropNearDuplicatesFromLabelsBy(all,
        "doc_id", graft.ops.NearDup.connectedComponents(oneShotPairs),
        -col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected && got.nonEmpty && got.size < all.count())

    // survivors pack into 512-token sequences: every survivor exactly
    // once, prefix sums consistent with pack boundaries
    val toks = survivors.select(col("doc_id"),
      size(split(lower(trim(col("text"))), "\\s+")).cast("long").as("n_tokens"))
    val packed = graft.ops.Packing.packByTokenBudget(toks,
      Seq(col("doc_id")), col("n_tokens"), 512L)
    assert(packed.count() == got.size)
    assert(packed.select("doc_id").distinct().count() == got.size)
    // the global prefix sum is gapless: the furthest prefix+tokens
    // equals the total token mass (docs straddling a 512 boundary
    // stay in the pack where they start — the packByTokenBudget
    // contract), and pack ids follow the prefix exactly
    val total = toks.agg(sum("n_tokens")).head.getLong(0)
    assert(packed.agg(max(col("prefix_tokens") + col("n_tokens")))
      .head.getLong(0) == total)
    assert(packed.filter(col("pack_id") =!=
      (col("prefix_tokens") / 512).cast("long")).count() == 0)
  }

  test("ten daily ticks with mid-loop store compaction: no result drift") {
    // The retention story: a store that only ever appends fragments
    // (one file per bucket per tick), so the production cadence is
    // ingest…ingest…compact…ingest…. Ten ticks of the batch loop
    // (probe → append → label merge) with BOTH stores compacted after
    // tick 5 must end bit-identical to the never-compacted one-shot.
    val dir = TestSpark.tempDir("tickloop")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 100)
    val all = graft.ops.NearDup.withMutatedCopies(docs, "doc_id", "text")
      .select("doc_id", "text").localCheckpoint()
    def sigs(df: org.apache.spark.sql.DataFrame) =
      graft.ops.NearDup.minhashSignaturesFused(df, "doc_id", col("text"))
    val sigStore = s"$dir/sigs"
    val labelStore = s"$dir/labels"
    val buckets = 8
    for (tick <- 0 until 10) {
      val batch = all.filter(pmod(col("doc_id"), lit(10)) === tick)
      val pairs =
        if (tick == 0) {
          graft.ops.NearDup.lshCandidatePairs(sigs(batch), "doc_id")
        } else {
          graft.ops.NearDup.probeSignatureStore(spark, sigStore,
            sigs(batch), "doc_id", buckets = buckets)
        }
      graft.ops.LabelStore.merge(spark, labelStore, pairs, buckets = buckets)
      graft.ops.NearDup.appendSignatureStore(sigs(batch), "doc_id", sigStore,
        buckets = buckets)
      if (tick == 5) {
        graft.ops.NearDup.compactSignatureStore(spark, sigStore)
        graft.ops.LabelStore.compact(spark, labelStore)
      }
    }
    val survivors = graft.ops.NearDup.dropNearDuplicatesFromLabelsBy(all,
      "doc_id", graft.ops.LabelStore.read(spark, labelStore), -col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val oneShot = graft.ops.NearDup.dropNearDuplicatesFromLabelsBy(all, "doc_id",
      graft.ops.NearDup.connectedComponents(
        graft.ops.NearDup.lshCandidatePairs(sigs(all), "doc_id")), -col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == oneShot && survivors.nonEmpty &&
      survivors.size < all.count())
    graft.ops.Pinned.free(all)
  }
}
