package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.enrich.Enricher
import graft.enrich.Enricher._
import graft.vector.{Embedder, HashEmbedder}

/** Conformance kit for the model-adapter seams (U1–U4 / V1).
  *
  * The engine core ships deterministic stubs; REAL adapters (Whisper,
  * an LLM endpoint, MiniLM, trafilatura — reference
  * transcribe_council.py:86-90, summarize.py:27-108,
  * vectorize.py:114-118, newscrawler.py:187-299) plug in behind the
  * same traits. Nothing in the type system forces an adapter to honor
  * the seam's IMPLICIT contract — normalized embeddings (the vector
  * store assumes unit vectors, reference vectorize.py:114-118),
  * null/degenerate-input totality (a poison row must dead-letter, not
  * kill a 100 TB job), determinism where the oracle depends on it. So
  * the contract is executable: mix `AdapterContracts` into a spec and
  * register each implementation with one call. This file runs the kit
  * against the shipped stubs; an adapter module would add
  * `embedderContract("minilm", () => new MiniLmEmbedder)` etc. and
  * inherit the whole battery.
  */
trait AdapterContracts { self: AnyFunSuite =>

  private val degenerateTexts: Seq[(String, String)] = Seq(
    "null" -> null,
    "empty" -> "",
    "whitespace" -> "  \t\n ",
    "unicode" -> "naïve café Ünïcödé 北京 🎛️ mixed",
    "long" -> ("tok " * 5000),
    "control-chars" -> "a\u0000b\u0007c")

  /** V1: every embedding is `dim` floats, L2-normalized (or exactly
    * zero for content-free input), finite, deterministic, and total
    * on degenerate inputs. */
  def embedderContract(name: String, mk: () => Embedder): Unit = {
    test(s"adapter contract [$name]: embedder dim/normalization/totality") {
      val e = mk()
      assert(e.dim > 0, "dim must be positive")
      for ((label, txt) <- degenerateTexts :+ ("plain" -> "hello adapter world")) {
        val v = e.embed(txt)
        assert(v != null && v.length == e.dim,
          s"[$label] embed must return exactly dim=${e.dim} floats")
        assert(v.forall(f => !f.isNaN && !f.isInfinite),
          s"[$label] embedding carries NaN/Inf")
        val norm = math.sqrt(v.map(f => f.toDouble * f).sum)
        assert(norm == 0.0 || math.abs(norm - 1.0) < 1e-3,
          s"[$label] embedding not L2-normalized (norm=$norm) — the " +
            "similarity path assumes unit vectors (ref vectorize.py:114-118)")
      }
    }
    test(s"adapter contract [$name]: embedder determinism") {
      val a = mk(); val b = mk()
      for ((label, txt) <- degenerateTexts :+ ("plain" -> "stable text")) {
        assert(a.embed(txt).sameElements(b.embed(txt)),
          s"[$label] two instances disagree — embeddings must be " +
            "reproducible across executors for CDC re-embed to no-op")
      }
    }
  }

  /** U1: segments are total on null/empty media, deterministic,
    * ordered, well-formed (end ≥ start ≥ 0, probability in [0,1],
    * file = the input key). */
  def transcriberContract(name: String, mk: () => Transcriber): Unit = {
    test(s"adapter contract [$name]: transcriber totality/order/shape") {
      val t = mk()
      for ((label, media) <- Seq[(String, Array[Byte])](
          "null" -> null, "empty" -> Array.emptyByteArray,
          "bytes" -> Array.tabulate(1024)(_.toByte))) {
        val segs = t.transcribe(s"key-$label", media)
        assert(segs != null, s"[$label] null segment seq")
        assert(segs.map(_.start) == segs.map(_.start).sorted,
          s"[$label] segments out of order — orderedConcat depends on it")
        segs.foreach { s =>
          assert(s.end >= s.start && s.start >= 0, s"[$label] bad timing $s")
          assert(s.no_speech_prob >= 0 && s.no_speech_prob <= 1,
            s"[$label] no_speech_prob out of [0,1]")
          assert(s.file == s"key-$label",
            s"[$label] segment must carry its input key (join-back column)")
          assert(s.text != null, s"[$label] null text")
        }
      }
      assert(t.transcribe("k", Array[Byte](1, 2, 3)) ==
        mk().transcribe("k", Array[Byte](1, 2, 3)),
        "transcription must be deterministic for the golden-file specs")
    }
  }

  /** U2: digest/reduce total on degenerate text, all fields non-null,
    * deterministic. */
  def summarizerContract(name: String, mk: () => Summarizer): Unit = {
    test(s"adapter contract [$name]: summarizer totality/shape") {
      val s = mk()
      for ((label, txt) <- degenerateTexts :+ ("plain" -> "Alice met Bob in Paris")) {
        val d = s.digest(txt)
        assert(d != null && d.summary != null && d.quotes != null &&
          d.names != null, s"[$label] null field in ChunkDigest")
        assert(d.quotes.forall(_ != null) && d.names.forall(_ != null),
          s"[$label] null element in quotes/names")
        assert(s.reduce(txt) != null, s"[$label] null reduce output")
      }
      assert(s.digest("same text") == mk().digest("same text") &&
        s.reduce("same text") == mk().reduce("same text"),
        "summarizer must be deterministic for the golden-file specs")
    }
  }

  /** U4: extraction total on degenerate URLs, both tuple slots
    * non-null, deterministic. */
  def textExtractorContract(name: String, mk: () => TextExtractor): Unit = {
    test(s"adapter contract [$name]: text extractor totality/shape") {
      val x = mk()
      for ((label, url) <- Seq("null" -> null, "empty" -> "",
          "no-path" -> "https://example.org",
          "deep" -> "https://example.org/a/b/c.html?d=e#f")) {
        val (title, text) = x.extract(url)
        assert(title != null && text != null, s"[$label] null title/text")
      }
      assert(x.extract("https://example.org/x") ==
        mk().extract("https://example.org/x"),
        "extraction must be deterministic for the crawl specs")
    }
  }

  /** The seam itself: a THROWING adapter must lose only its own row —
    * never fail the task — and healthy rows around it must survive.
    * This is the property that makes a poison document a skipped row
    * instead of a dead 100 TB job (the reference's try/except-continue,
    * run through the transcription stage's per-row capture). */
  def poisonRowContract(name: String): Unit = {
    test(s"adapter contract [$name]: throwing adapter skips its row, never the task") {
      val spark = TestSpark.spark
      import spark.implicits._
      val meetings = Seq("https://c/v/ok-1.mp4", "https://c/v/poison.mp4",
        "https://c/v/ok-2.mp4").toDF("video")
      val files = graft.pipeline.CouncilPipeline.transcribePending(meetings,
          Seq.empty[String].toDF("name"),
          () => new AdapterContractSpec.PoisonThrowingTranscriber)
        .select("file").distinct().collect().map(_.getString(0)).toSet
      assert(files == Set("ok-1.mp4", "ok-2.mp4"),
        "healthy rows must survive and the poison row must be skipped")
    }
  }
}

object AdapterContractSpec {
  /** Top-level so the task closure serializes the model alone, not the
    * enclosing suite. */
  final class PoisonThrowingTranscriber extends Enricher.Transcriber {
    override def transcribe(key: String, media: Array[Byte]): Seq[graft.model.Schemas.Segment] =
      if (key.contains("poison")) sys.error("model exploded")
      else new StubTranscriber(2).transcribe(key, media)
  }
}

/** The kit, executed against the shipped stub adapters. */
class AdapterContractSpec extends AnyFunSuite with AdapterContracts {
  embedderContract("HashEmbedder", () => new HashEmbedder())
  embedderContract("HashEmbedder dim=8", () => new HashEmbedder(dim = 8))
  transcriberContract("StubTranscriber", () => new StubTranscriber())
  summarizerContract("StubSummarizer", () => new StubSummarizer())
  textExtractorContract("StubTextExtractor", () => new StubTextExtractor())
  poisonRowContract("transcribePending")
}
