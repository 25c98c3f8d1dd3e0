package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.enrich.Enricher
import graft.expr.Functions
import graft.model.Schemas
import graft.ops.{Chunking, Dedup, Joins, Relevance}
import graft.vector.Embedder

/** The reference's six-stage pipeline (SURVEY.md §0, §3) composed from
  * the engine's operators. Each stage is a pure DataFrame→DataFrame
  * function over explicit inputs — incremental semantics come from
  * anti-joins against inventories/state (the reference's
  * file-existence memoization, §4.1 O1), enrichment runs behind stub
  * traits, and every boundary is a declarative plan Catalyst can
  * optimize.
  */
object CouncilPipeline {

  /** Stage 1a (transcribe_council.py:92-106): carry forward box_link
    * from previous state onto the fresh scrape, keep rows with video. */
  def refreshMeetings(fresh: DataFrame, previous: DataFrame): DataFrame =
    Joins.carryForward(
      fresh.filter(col("video").isNotNull), previous, "video", "box_link")

  /** Stage 1b (transcribe_council.py:113-131): transcription work =
    * meetings with no materialized transcript; enrich via per-partition
    * ASR into exploded segments (U1 is a generator: 1 video → N rows). */
  def transcribePending(meetings: DataFrame, transcriptInventory: DataFrame,
      transcriber: () => Enricher.Transcriber): DataFrame = {
    val spark = meetings.sparkSession
    import spark.implicits._
    val pending = Dedup.pendingWork(
      meetings.withColumn("name", Functions.basename(col("video"))),
      transcriptInventory, Seq("name"))
    pending.select(col("name"), col("video")).as[(String, String)]
      .mapPartitions { it =>
        val asr = transcriber()
        it.flatMap { case (name, video) =>
          // per-row capture: a poison video skips (try/except-continue
          // discipline), never a task failure
          try asr.transcribe(name, video.getBytes("UTF-8"))
          catch { case scala.util.control.NonFatal(_) => Seq.empty }
        }
      }.toDF()
  }

  /** Stage 2 (summarize.py:110-156): chunk 100 segments, concat
    * confident text, typed-summarize each chunk (summary + key quotes +
    * proper names — the active dspy signatures, ref :122-137), then
    * reduce to a meeting-level rollup row (prepended, ref :148-155,
    * with empty quotes/names and whole-meeting time/id bounds).
    * Output is the reference's full `.summary` row: `file, chunk_id,
    * summary, quotes, names, start_time, end_time, start_id, end_id`
    * (ref :140-146). Segments must carry `start`/`end` (Whisper times,
    * Schemas.Segment). */
  def summarize(segments: DataFrame, summarizer: () => Enricher.Summarizer,
      chunkSize: Int = 100, noSpeechThresh: Double = 0.2): DataFrame = {
    val spark = segments.sparkSession
    import spark.implicits._
    val chunks = Chunking.chunkAggregate(segments, "file", "id", "text",
      col("no_speech_prob") < noSpeechThresh, chunkSize,
      timeBounds = Some(("start", "end")))
      .filter(length(trim(col("chunk_text"))) >= 2)
    // clear per-row error instead of an opaque non-nullable-encoder
    // crash when a segment arrives with a null Whisper time (e.g.
    // malformed JSON re-reads)
    def requiredTime(c: String) =
      when(col(c).isNull, raise_error(lit(
        s"summarize: null $c — segments must carry start/end times")))
        .otherwise(col(c)).as(c)
    // Single grouped pass per meeting: digest every chunk (in chunk_id
    // order), then reduce the newline-joined summaries into the rollup
    // row — the reference's O4 amortization (SURVEY §4.1) by
    // CONSTRUCTION: the chunk LLM pass runs exactly once, nothing is
    // cached/pinned, and an evicted-cache silent re-run is impossible.
    // Per-group memory is one meeting's chunks — the same bound the
    // rollup concat string itself implies.
    chunks
      .select(col("file"), col("chunk_id"), col("chunk_text"),
        requiredTime("start_time"), requiredTime("end_time"),
        col("start_id"), col("end_id"))
      .as[(String, Long, String, Double, Double, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (file: String,
          it: Iterator[(String, Long, String, Double, Double, Long, Long)]) =>
        val lm = summarizer()
        val ordered = it.toVector.sortBy(_._2) // chunk_id, unique per file
        val chunkRows = ordered.map { case (_, chunkId, text, st, et, s, e) =>
          val d = lm.digest(text)
          (file, chunkId, d.summary, d.quotes, d.names, st, et, s, e)
        }
        // rollup semantics = Chunking.rollup(carryTimes): "\n"-joined
        // summaries in chunk order, whole-meeting id/time bounds
        // (ref summarize.py:147-155)
        val rollup = (file, -1L, lm.reduce(chunkRows.map(_._3).mkString("\n")),
          Seq.empty[String], Seq.empty[String],
          chunkRows.head._6, chunkRows.last._7,
          chunkRows.map(_._8).min, chunkRows.map(_._9).max)
        Iterator(rollup) ++ chunkRows.iterator
      }.toDF("file", "chunk_id", "summary", "quotes", "names",
        "start_time", "end_time", "start_id", "end_id")
  }

  /** Stage 5 (newscrawler.py:327-460): dedup new articles against seen
    * state, extract text, keep long+relevant, project the record. */
  def crawl(rss: DataFrame, seenIds: DataFrame,
      extractor: () => Enricher.TextExtractor,
      keywords: Seq[String] = Relevance.defaultKeywords,
      minLength: Int = 100,
      maxFetchPerSecond: Option[Double] = None): DataFrame = {
    val spark = rss.sparkSession
    import spark.implicits._
    val withId = rss.filter(col("url").isNotNull)
      .withColumn("id", Functions.sha16(col("url")))
      // within-batch URL dedup: the reference's in-loop seen.add()
      // also collapses the same URL arriving via TWO feeds in one run
      // (newscrawler.py:125-127); without it both rows share one id,
      // fetch twice, and the downstream merge keeps both forever.
      // The survivor is the lexicographic-min row (source first), not
      // dropDuplicates' arbitrary one: reruns must attribute the
      // article to the same feed, or the persisted record's `source`
      // flaps run to run. min over a struct is a total order across
      // ALL columns, so even same-source duplicates pick one
      // deterministic winner.
      .groupBy(col("id"))
      .agg(min(struct(
        (col("source") +: rss.columns.filterNot(_ == "source").map(col)): _*))
        .as("__row"))
      .select(col("id") +: rss.columns.map(c => col(s"__row.$c")): _*)
    val fresh = Dedup.antiJoinSeen(withId, seenIds, withId("id"), seenIds("id"))
    val extracted = fresh.select(col("id"), col("url"), col("source"))
      .as[(String, String, String)]
      .mapPartitions { it0 =>
        // politeness cap per partition (ref sleep(10), newscrawler.py:434)
        val it = maxFetchPerSecond
          .map(r => Enricher.throttled[(String, String, String)](r)(it0))
          .getOrElse(it0)
        val ex = extractor()
        it.flatMap { case (id, url, source) =>
          // per-row capture (the reference's try/except-continue,
          // newscrawler.py:440): a poison URL is skipped, never a
          // task failure that a 100 TB job would retry four times
          try {
            val (title, text) = ex.extract(url)
            Some((id, url, source, title, text))
          } catch { case scala.util.control.NonFatal(_) => None }
        }
      }.toDF("id", "url", "source", "title", "text")
    extracted
      .filter(length(col("text")) >= minLength &&
        Relevance.anyKeyword(concat_ws("\n", col("title"), col("text")), keywords))
      .select(col("id"), col("source"), col("url"), col("title"),
        Functions.preview(col("text")).as("content_preview"))
  }

  /** Stage 4/6 (vectorize.py:75-99, article_vectorize.py): drop the
    * rollup row and empty summaries, join meeting dates via derived
    * key, flatten quotes/names into `'|||'`-joined strings (A3, ref
    * :88-91 — the vector store's metadata values are flat scalars),
    * build ids, embed → vector-collection rows with the full 8-key
    * metadata (quotes, names, start/end times, start/end ids, file,
    * date — ref :93-94). */
  def vectorize(summaries: DataFrame, meetings: DataFrame,
      embedder: Embedder): DataFrame = {
    val spark = summaries.sparkSession
    import spark.implicits._
    val chunksOnly = summaries
      .filter(col("chunk_id") >= 0)              // P11: drop rollup (ref :78)
      .filter(length(trim(col("summary"))) > 0)  // drop empties (ref :79)
    // broadcast the MEETINGS side (bounded dimension) and stream the
    // chunk summaries — the summaries table is the one that grows
    val meetingDates = meetings.select(
      Functions.basename(col("video")).as("file"), col("date"))
    val withDate = chunksOnly.join(broadcast(meetingDates), Seq("file"))
    val emb = udf((s: String) => embedder.embed(s))
    withDate
      .withColumn("id",
        Functions.idConcat(col("file"), col("start_id"), col("end_id")))
      .withColumn("embedding", emb(col("summary")))
      .select(col("id"), col("summary").as("document"),
        map(
          lit("file"), col("file"),
          lit("date"), unix_timestamp(col("date")).cast("string"),
          lit("quotes"), array_join(col("quotes"), "|||"),
          lit("names"), array_join(col("names"), "|||"),
          lit("start_time"), col("start_time").cast("string"),
          lit("end_time"), col("end_time").cast("string"),
          lit("start_id"), col("start_id").cast("string"),
          lit("end_id"), col("end_id").cast("string")).as("metadata"),
        col("embedding"))
  }
}
