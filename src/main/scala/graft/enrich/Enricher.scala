package graft.enrich

import graft.model.Schemas.Segment

/** U1–U4 (SURVEY.md §2.11): the reference's four model-invoking
  * enrichment functions as traits with deterministic stubs. Real model
  * serving (Whisper, ollama, MiniLM, trafilatura — transcribe_council
  * .py:86-90, summarize.py:27-108, vectorize.py:114-118,
  * newscrawler.py:187-299) plugs in as deployment adapters; the engine
  * core never depends on a service, so every pipeline is testable and
  * the oracle stays meaningful.
  *
  * Execution model (SURVEY §4.1 O4): the pipeline stages run these
  * via `mapPartitions` with a per-partition instance from a
  * serializable factory — model/connection init amortizes across a
  * partition, the way the reference loads Whisper once per process.
  * A row whose call throws is skipped, never a task failure (mirrors
  * the reference's try/except-continue, summarize.py:180-186).
  */
object Enricher {

  /** U1 — ASR transcription: media bytes → ordered segments. */
  trait Transcriber extends Serializable {
    def transcribe(key: String, media: Array[Byte]): Seq[Segment]
  }

  /** U2 — chat/LLM completion (generic string→string adapter). */
  private[graft] trait ChatModel extends Serializable {
    def complete(prompt: String): String
  }

  /** U2 typed — the reference's ACTIVE dspy signatures as one typed
    * extraction surface (summarize.py:101-108 wires Summary,
    * SummaryOfSummaries and ExtractProperNames; the ordinance/docket/
    * address extractors are declared but commented out at :122-125).
    * `digest` returns the typed multi-output row a chunk needs
    * (summary + key_quotes from Summary, proper_names from
    * ExtractProperNames — summarize.py:122,127-137); `reduce` is
    * SummaryOfSummaries over newline-joined chunk summaries (:147). */
  final case class ChunkDigest(summary: String, quotes: Seq[String], names: Seq[String])
  trait Summarizer extends Serializable {
    def digest(text: String): ChunkDigest
    def reduce(text: String): String
  }

  /** U4 — web text extraction: url → (title, text). */
  trait TextExtractor extends Serializable {
    def extract(url: String): (String, String)
  }

  /** Deterministic stub ASR: derives per-segment text/timing from a
    * sha256 stream over the media bytes. Same input → same segments,
    * across JVMs. */
  final class StubTranscriber(segmentsPerDoc: Int = 5) extends Transcriber {
    override def transcribe(key: String, media: Array[Byte]): Seq[Segment] = {
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(if (media == null) Array.emptyByteArray else media)
      (0 until segmentsPerDoc).map { i =>
        val b = java.lang.Byte.toUnsignedInt(digest(i % digest.length))
        Segment(
          id = i.toLong,
          start = i * 10.0,
          end = i * 10.0 + 9.5,
          text = s"seg $i word${b % 7} word${(b / 7) % 11}",
          no_speech_prob = (b % 100) / 100.0,
          file = key)
      }
    }
  }

  /** Deterministic stub LLM: "summarizes" by keeping the first
    * `keep` tokens and appending a content hash — stable, content-
    * sensitive, and obviously-not-a-real-model in outputs. */
  private[graft] final class StubChatModel(keep: Int = 8) extends ChatModel {
    override def complete(prompt: String): String = {
      val toks = Option(prompt).getOrElse("").trim.split("\\s+").take(keep)
      val h = java.security.MessageDigest.getInstance("SHA-256")
        .digest(Option(prompt).getOrElse("").getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      (toks :+ s"#$h").mkString(" ")
    }
  }

  /** Deterministic typed-summarizer stub, built so every output is
    * reproducible in plain SQL (sha256 + token slicing + a regex):
    * - summary/reduce: StubChatModel's take-8-tokens + content hash,
    *   with the signature encoded as a prompt prefix;
    * - quotes: the first two 4-token windows of the text (nonempty);
    * - names: tokens matching `[A-Z][a-z]+` (capitalized-word heuristic
    *   standing in for ExtractProperNames). */
  final class StubSummarizer(keep: Int = 8) extends Summarizer {
    private val lm = new StubChatModel(keep)
    override def digest(text: String): ChunkDigest = {
      val toks = Option(text).getOrElse("").trim.split("\\s+").toSeq
      ChunkDigest(
        summary = lm.complete(s"summarize: $text"),
        quotes = Seq(toks.take(4).mkString(" "), toks.slice(4, 8).mkString(" "))
          .filter(_.nonEmpty),
        names = toks.filter(_.matches("[A-Z][a-z]+")))
    }
    override def reduce(text: String): String = lm.complete(s"reduce: $text")
  }

  /** Deterministic stub extractor: synthesizes title/text from the URL
    * (3-tier fallback shape collapsed — the tiers are a deployment
    * concern, newscrawler.py:191-299). */
  final class StubTextExtractor extends TextExtractor {
    override def extract(url: String): (String, String) = {
      val base = Option(url).getOrElse("").split("/").lastOption.getOrElse("")
      (s"title $base", s"content for $base " * 10)
    }
  }

  /** Per-partition token-bucket throttle (the reference's politeness
    * sleeps, transcribe_council.py:83 / newscrawler.py:434, made
    * partition-local): each partition independently caps its rate, so
    * the global rate is partitions × maxPerSecond — size partitioning
    * of side-effecting fetch stages accordingly. */
  def throttled[I](maxPerSecond: Double): Iterator[I] => Iterator[I] = { it =>
    require(maxPerSecond > 0)
    val intervalNs = (1e9 / maxPerSecond).toLong
    var next = 0L
    it.map { i =>
      val now = System.nanoTime()
      if (next > now) {
        val ms = (next - now) / 1000000
        Thread.sleep(ms, ((next - now) % 1000000).toInt)
      }
      next = math.max(now, next) + intervalNs
      i
    }
  }
}
