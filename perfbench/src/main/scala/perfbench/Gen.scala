package perfbench

import java.sql.Timestamp
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.vector.HashEmbedder

/** One row of the shipped sf0.1 `documents` table. */
final case class BaseDoc(id: Long, text: String, lang: String, source: String)

/** A corpus document of one tick; `embedding` is None where the embedder
  * produced nothing (the PQ store must skip it). */
final case class Doc(id: Long, text: String, source: String,
    embedding: Option[Array[Float]])

/** A meeting row as the council site lists it on a scrape. */
final case class FreshMeeting(title: String, date: Timestamp, time: String,
    video_page: String, video: String, agenda: String, minutes: String)

final case class RssRow(url: String, source: String, published: String)

final case class TickInput(tick: Int, docs: Seq[Doc],
    meetings: Seq[FreshMeeting], rss: Seq[RssRow])

/** Seeded inputs. Text comes from the shipped sf0.1 documents. Tick
  * documents rename every word with a copy tag (the `GenScale` trick), a
  * bijection that keeps each document's shingle structure and makes
  * differently tagged documents share no shingles; the funnel's copies
  * shuffle words instead (see `funnelCorpus`). */
object Gen {
  val embedDim = 64

  def loadBase(spark: SparkSession, dataDir: String): IndexedSeq[BaseDoc] =
    spark.read.parquet(s"$dataDir/documents.parquet")
      .select("doc_id", "text", "lang", "source").collect()
      .map(r => BaseDoc(r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3)))
      .sortBy(_.id).toIndexedSeq

  def letter(i: Int): Char = ('a' + ((i % 26) + 26) % 26).toChar

  /** Prefix every word with `tag`. */
  def rename(text: String, tag: String): String =
    if (text == null) null
    else text.split(" ", -1).map(w => if (w.isEmpty) w else tag + w).mkString(" ")

  /** The batch-funnel corpus: `copies` copies of the base documents in
    * the `documents` schema. Copy 0 is the base itself. Every further
    * copy shuffles each document's words, seeded, within each run of
    * words between `line`/`row` markers (which q165 turns into sentence
    * breaks), so line lengths and sentence counts stay as they were.
    * A shuffle keeps every document's bag of words, so each source
    * label's term counts scale by `copies` and q165's naive-Bayes gate,
    * trained on the corpus itself, passes the share it passes on the
    * base. A per-copy word rename (the `GenScale` trick) would mix two
    * term distributions under every label and cut that share. Copy c
    * takes the base ids plus c times a multiple of 7, so q165's
    * `doc_id % 7` training split holds the same documents of every copy. */
  def funnelCorpus(spark: SparkSession, base: IndexedSeq[BaseDoc], seed: Long,
      copies: Int): DataFrame = {
    import spark.implicits._
    val rng = new Random(seed)
    val stride = (base.map(_.id).max / 7 + 1) * 7
    def marker(w: String) = w.isEmpty || w == "line" || w == "row"
    def shuffleRuns(text: String): String = {
      val ws = text.split(" ", -1)
      val out = mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < ws.length) {
        if (marker(ws(i))) { out += ws(i); i += 1 }
        else {
          val run = ws.drop(i).takeWhile(w => !marker(w))
          out ++= rng.shuffle(run.toSeq)
          i += run.length
        }
      }
      out.mkString(" ")
    }
    val rows = (0 until copies).flatMap { c =>
      base.map { b =>
        val text = if (c == 0) b.text else Option(b.text).map(shuffleRuns).orNull
        (b.id + c * stride, text, b.lang, b.source,
          Option(text).map(_.length.toLong).getOrElse(0L))
      }
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Seeded query vectors: even ones sit near a stored vector, odd ones
    * are random directions. */
  def probes(stored: IndexedSeq[Array[Float]], n: Int, seed: Long)
      : IndexedSeq[Array[Float]] = {
    val rng = new Random(seed * 31 + 7)
    def norm(v: Array[Double]): Array[Float] = {
      val l = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / l).toFloat)
    }
    (0 until n).map { i =>
      if (i % 2 == 0) {
        val s = stored(rng.nextInt(stored.size))
        norm(s.map(_ + 0.05 * rng.nextGaussian()))
      } else norm(Array.fill(embedDim)(rng.nextGaussian()))
    }
  }
}

/** The nightly cron's inputs, one tick at a time. Each tick brings
  * `docsPerTick` corpus documents, the council site's meeting listing
  * and one pull of every feed. Planted in the documents:
  *  - exact copies and one-word-deleted near copies of earlier
  *    documents, half from the same tick and half from earlier ticks;
  *  - a skewed tail: near copies of a few hub documents drawn with
  *    Zipf weights, so those components keep growing tick after tick.
  * Fresh documents take a copy tag of two random letters, so two fresh
  * documents share vocabulary (chance LSH collisions, close embeddings)
  * only when their tags meet. The listing holds every meeting listed
  * before plus `newMeetings` new ones, as the council site lists its
  * whole table on every scrape. Each of the `feeds` serves
  * `itemsPerFeed` items a pull, half of them still the ones it served
  * the night before, and one item a night is cross-posted by two feeds. */
final class TickGen(base: IndexedSeq[BaseDoc], seed: Long, docsPerTick: Int,
    newMeetings: Int, feeds: Int, itemsPerFeed: Int) {
  private val rng = new Random(seed)
  private val embedder = new HashEmbedder(Gen.embedDim)
  private val order = rng.shuffle(base.indices.toVector)
  private var fresh = 0
  private var nextId = 0L
  private var tick = 0
  private val texts = mutable.ArrayBuffer.empty[(Long, String, String)]
  private val hubs = mutable.ArrayBuffer.empty[(Long, String, String)]
  private val parent = mutable.Map.empty[Long, Long]
  private var meetings = 0
  private var repeatMeetings = 0
  private var totalMeetings = 0
  private val lastPull = mutable.Map.empty[Int, Seq[RssRow]]
  private var seenRss = 0
  private var totalRss = 0
  private var nullVectors = 0
  val planted = mutable.ArrayBuffer.empty[(Long, Long)]

  private val keywords = graft.ops.Relevance.defaultKeywords
  private val hubWeights = (0 until 8).map(h => 1.0 / math.pow(h + 1, 1.5))

  private def find(x: Long): Long = parent.get(x) match {
    case Some(p) if p != x => val r = find(p); parent(x) = r; r
    case _ => x
  }

  private def plant(src: Long, dup: Long): Unit = {
    planted += ((math.min(src, dup), math.max(src, dup)))
    parent(find(dup)) = find(src)
  }

  private def deleteWord(text: String): String = {
    val ws = text.split(" ")
    if (ws.length < 4) text
    else {
      val i = 1 + rng.nextInt(ws.length - 2)
      (ws.take(i) ++ ws.drop(i + 1)).mkString(" ")
    }
  }

  private def zipfHub(): Int = {
    var u = rng.nextDouble() * hubWeights.sum
    var h = 0
    while (u > hubWeights(h) && h < hubWeights.size - 1) { u -= hubWeights(h); h += 1 }
    h
  }

  def next(): TickInput = {
    val t = tick
    tick += 1
    val nExact = docsPerTick * 8 / 100
    val nNear = docsPerTick * 12 / 100
    val nHub = if (t == 0) 0 else docsPerTick * 5 / 100
    val nFresh = docsPerTick - nExact - nNear - nHub
    val before = texts.size
    val out = mutable.ArrayBuffer.empty[(Long, String, String)]
    def add(text: String, source: String): Long = {
      val id = nextId
      nextId += 1
      texts += ((id, text, source))
      out += ((id, text, source))
      id
    }
    (0 until nFresh).foreach { _ =>
      val k = fresh
      fresh += 1
      val b = base(order(k % base.size))
      val tag = s"${Gen.letter(k / base.size)}${Gen.letter(rng.nextInt(26))}" +
        s"${Gen.letter(rng.nextInt(26))}"
      add(Gen.rename(b.text, tag), b.source)
    }
    if (t == 0) hubs ++= out.take(hubWeights.size)
    def source(): (Long, String, String) =
      if (before == 0 || rng.nextBoolean())
        texts(before + rng.nextInt(texts.size - before))
      else texts(rng.nextInt(before))
    (0 until nExact).foreach { _ =>
      val (sid, text, src) = source()
      plant(sid, add(text, src))
    }
    (0 until nNear).foreach { _ =>
      val (sid, text, src) = source()
      plant(sid, add(deleteWord(text), src))
    }
    (0 until nHub).foreach { _ =>
      val (hid, text, src) = hubs(zipfHub())
      plant(hid, add(deleteWord(text), src))
    }
    val docs = rng.shuffle(out.toVector).map { case (id, text, src) =>
      val vec = if (rng.nextDouble() < 0.02) { nullVectors += 1; None }
        else Some(embedder.embed(text))
      Doc(id, text, src, vec)
    }

    val listing = 0 until meetings + newMeetings
    repeatMeetings += meetings
    totalMeetings += listing.size
    meetings = listing.size
    val fm = listing.map { n =>
      FreshMeeting(s"City Council Regular Meeting $n",
        Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, 1, 18, 0)
          .plusDays(n.toLong)),
        "18:00", s"https://city.example/meetings/$n",
        s"https://video.example/council/meeting_$n.mp4",
        s"https://city.example/agenda/$n.pdf", null)
    }

    val pulls = (0 until feeds).map { f =>
      val feed = s"feed$f"
      val kept = lastPull.getOrElse(f, Seq.empty).take(itemsPerFeed / 2)
      val items = (0 until itemsPerFeed - kept.size).map { i =>
        val relevant = rng.nextDouble() < 0.8
        val kw = if (relevant) keywords(rng.nextInt(keywords.size)) else "weather"
        RssRow(s"https://news.example/$feed/$kw-story-$seed-$t-$i", feed,
          s"2024-02-${1 + t % 28}")
      }
      seenRss += kept.size
      lastPull(f) = items ++ kept
      items ++ kept
    }
    val cross = pulls.headOption.filter(_ => feeds > 1)
      .map(_.head.copy(source = s"feed${feeds - 1}"))
    val rss = pulls.flatten ++ cross
    totalRss += rss.size
    TickInput(t, docs, fm, rss)
  }

  /** The first `n` ticks as one input, as a backfill brings them: every
    * tick's documents and feed rows, and the last tick's listing. */
  def backfill(n: Int): TickInput = {
    val ticks = Seq.fill(n)(next())
    TickInput(ticks.last.tick, ticks.flatMap(_.docs), ticks.last.meetings,
      ticks.flatMap(_.rss))
  }

  /** What was generated, for the run record. */
  def record: Map[String, Any] = {
    val comp = texts.map(d => find(d._1)).groupBy(identity).values.map(_.size)
    Map("ticks" -> tick, "docs" -> nextId, "planted_pairs" -> planted.size,
      "largest_planted_component" -> (if (comp.isEmpty) 0 else comp.max),
      "null_vectors" -> nullVectors,
      "repeat_meeting_share" -> repeatMeetings.toDouble / math.max(1, totalMeetings),
      "seen_url_share" -> seenRss.toDouble / math.max(1, totalRss))
  }
}
