package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Learned BPE subword tokenizer (Sennrich et al. 2016,
  * arXiv:1508.07909) — the trained twin of the regex token counter
  * (`TextAnalysis.tokenCount` / q146's fertility report). The engine
  * had "BPE-ish" heuristics; this is the real learned object: merge
  * rules fit on the corpus, then applied as a deterministic function.
  *
  * Semantics (all deterministic, shared verbatim with the DuckDB
  * oracles):
  *  - words: maximal `\S+` runs of `lower(trim(text))`, empties
  *    dropped; training sees the word HISTOGRAM truncated to the
  *    `topM` most frequent words (ties → lexicographically smaller
  *    word first) — the standard scale recipe: BPE training never
  *    needs the corpus, only (word, count).
  *  - a word starts as its character sequence; each step counts ALL
  *    adjacent token pairs (overlapping included, Sennrich's
  *    `get_stats`), weighted by word count, picks the pair by
  *    (count desc, left asc, right asc), and merges it left-to-right
  *    non-overlapping within every word ("aaaa" + (a,a) → [aa, aa];
  *    "aaa" → [aa, a]).
  *  - application replays the learned merges in order with the same
  *    left-to-right rule — identical to the state training reached
  *    for in-vocabulary words, and well-defined for unseen words.
  *
  * Scale shape: the histogram is ONE shuffle with map-side combine —
  * the only corpus-sized stage at any SF; truncation bounds everything
  * after it by construction (topM × max word length, like
  * `Ivf.seedCentroids`' documented collect cap). Training itself is a
  * driver loop over that bounded array (`trainMerges`). Applying the
  * learned merges to a corpus is map-only against a broadcast of
  * ≤ numMerges string pairs. Corpus-level token statistics (q158/q159)
  * are computed from histograms joined to the per-word tokenization —
  * never by re-tokenizing raw text a second time.
  */
object Bpe {

  /** One learned merge: at `step` (1-based), `left`+`right` had the
    * highest corpus pair count. */
  final case class Merge(step: Int, left: String, right: String,
      pairCount: Long)

  /** A word's initial token sequence: one token per Unicode CODE
    * POINT, not per UTF-16 code unit — matching the oracle's
    * `regexp_extract_all(word, '.')`. Splitting by code unit would
    * tear a supplementary char (emoji) into lone surrogates: a
    * different merge table than DuckDB's, and token strings that
    * cannot round-trip through UTF8String. */
  private[ops] def charTokens(word: String): IndexedSeq[String] = {
    val b = Vector.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      b += word.substring(i, i + n)
      i += n
    }
    b.result()
  }

  /** UTF-8 binary string order — what Spark's UTF8String comparisons
    * and DuckDB's ORDER BY both implement. Java String.compareTo is
    * UTF-16 code-UNIT order, which disagrees above the BMP (an emoji
    * sorts below U+FFFD in UTF-16 but above it in UTF-8), so the
    * driver trainer's tie-break must not use it: the oracle would
    * pick the other pair. */
  private def utf8Less(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  /** Corpus word histogram, deterministically truncated to the topM
    * most frequent words (count desc, word asc). One shuffle,
    * map-side combined; the TakeOrdered limit keeps the result
    * driver-safe at any corpus size. */
  private[graft] def wordHistogram(df: DataFrame, textCol: String,
      topM: Int = DefaultTopM): DataFrame =
    df.select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(topM)

  /** Default histogram truncation — 4096 words × ≤64 chars is a few
    * hundred KB on the driver, the same bounded-collect contract as
    * Ivf.seedCentroids. */
  val DefaultTopM = 4096

  /** Greedy left-to-right single-merge application: replace every
    * non-overlapping adjacent (left, right) in token order. */
  private[graft] def mergeOnce(toks: IndexedSeq[String], left: String,
      right: String): IndexedSeq[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    val n = toks.length
    while (i < n) {
      if (i + 1 < n && toks(i) == left && toks(i + 1) == right) {
        out += left + right; i += 2
      } else { out += toks(i); i += 1 }
    }
    out.result()
  }

  /** Apply learned merges in order to one word. Deterministic for any
    * word, seen in training or not. */
  private[graft] def tokenizeWord(word: String,
      merges: Seq[(String, String)]): IndexedSeq[String] = {
    var toks: IndexedSeq[String] = charTokens(word)
    merges.foreach { case (l, r) =>
      // cheap containment pre-check: most merges touch few words
      if (toks.length > 1) toks = mergeOnce(toks, l, r)
    }
    toks
  }

  /** Driver-side training over a bounded (word, count) histogram —
    * O(topM · maxWordLen) per step. Stops early when no pair remains
    * (all words reduced to single tokens). */
  private[graft] def trainMerges(hist: Seq[(String, Long)], numMerges: Int): Seq[Merge] = {
    var state: Array[IndexedSeq[String]] =
      hist.map { case (w, _) => charTokens(w) }.toArray
    val cnt = hist.map(_._2).toArray
    val merges = Seq.newBuilder[Merge]
    var step = 1
    var done = false
    while (step <= numMerges && !done) {
      val pairs = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var wi = 0
      while (wi < state.length) {
        val t = state(wi)
        var i = 0
        while (i + 1 < t.length) {
          val p = (t(i), t(i + 1))
          pairs.update(p, pairs.getOrElse(p, 0L) + cnt(wi))
          i += 1
        }
        wi += 1
      }
      if (pairs.isEmpty) done = true
      else {
        // (count desc, left asc, right asc) in UTF-8 BINARY order —
        // the oracle's ORDER BY
        var bl: String = null; var br: String = null; var bc = 0L
        pairs.foreach { case ((pl, pr), pc) =>
          val better = bl == null || pc > bc || (pc == bc &&
            (utf8Less(pl, bl) || (pl == bl && utf8Less(pr, br))))
          if (better) { bl = pl; br = pr; bc = pc }
        }
        val (l, r, c) = (bl, br, bc)
        merges += Merge(step, l, r, c)
        wi = 0
        while (wi < state.length) {
          if (state(wi).length > 1) state(wi) = mergeOnce(state(wi), l, r)
          wi += 1
        }
        step += 1
      }
    }
    merges.result()
  }

  /** UNtruncated (word, cnt) — the BPE sufficient statistic. Unlike
    * `wordHistogram` this is vocab-sized, not topM-bounded: it exists
    * to be STORED and merged (truncation is a fit-time decision, and
    * merging truncated histograms would not equal truncating the
    * merged one). */
  def wordHistogramStats(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Keyed integer sum over histograms — commutative, associative,
    * exact (the NB mergeNbStats discipline). */
  def mergeHistograms(hists: DataFrame*): DataFrame =
    hists.reduce(_.unionByName(_))
      .groupBy("word").agg(sum("cnt").as("cnt"))

  /** Fit-time truncation of a (possibly merged) histogram: the same
    * deterministic (count desc, word asc) top-M rule wordHistogram
    * applies inline. */
  private def truncateHistogram(histDf: DataFrame, topM: Int = DefaultTopM): DataFrame =
    histDf.orderBy(col("cnt").desc, col("word")).limit(topM)

  /** Train from a stored/merged histogram: truncate → bounded collect
    * → driver loop. Incremental ≡ one-shot by construction (counts
    * are exact integers and training is a pure function of the
    * truncated histogram — q161 pins it under q157's verbatim
    * oracle). */
  def trainFromHistogram(histDf: DataFrame, numMerges: Int,
      topM: Int = DefaultTopM): Seq[Merge] = {
    val hist = truncateHistogram(histDf, topM).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    trainMerges(scala.collection.immutable.ArraySeq.unsafeWrapArray(hist),
      numMerges)
  }

  /** Fit on a corpus, returning BOTH the collected histogram and the
    * merges — queries that also need the vocab table reuse the
    * collected rows (via `histogramDf`) instead of re-running the
    * corpus-sized histogram shuffle a second time. */
  def fitAndHistogram(df: DataFrame, textCol: String, numMerges: Int,
      topM: Int = DefaultTopM): (Array[(String, Long)], Seq[Merge]) = {
    val hist = wordHistogram(df, textCol, topM).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    (hist, trainMerges(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(hist), numMerges))
  }

  /** Fit on a corpus: histogram (one shuffle) → bounded collect →
    * driver training. */
  def fitFromCorpus(df: DataFrame, textCol: String, numMerges: Int,
      topM: Int = DefaultTopM): Seq[Merge] =
    fitAndHistogram(df, textCol, numMerges, topM)._2

  /** A collected (≤ topM-row) histogram back as a DataFrame — the
    * broadcast-sized vocab side of the report joins. */
  def histogramDf(spark: SparkSession,
      hist: Array[(String, Long)]): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("word", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        hist.toIndexedSeq.map(h => org.apache.spark.sql.Row(h._1, h._2)), 1),
      schema)
  }

  /** The learned merge table as a DataFrame (q157's shape). Schema is
    * explicit so zero-merge corpora still produce the right columns. */
  def mergesDf(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("step", IntegerType, nullable = false),
      StructField("left_tok", StringType, nullable = false),
      StructField("right_tok", StringType, nullable = false),
      StructField("merged", StringType, nullable = false),
      StructField("pair_count", LongType, nullable = false)))
    val rows = merges.map(m => org.apache.spark.sql.Row(
      m.step, m.left, m.right, m.left + m.right, m.pairCount))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Persist the learned merge table as an on-disk store: one
    * `graft.io.Store` commit that replaces the previous table. The
    * table is numMerges rows, so the write is trivially bounded; the
    * point is restartability: a tokenize job (q162's pack composite)
    * can load the vocab a training run produced yesterday instead of
    * holding it in a closure. */
  def saveMerges(spark: SparkSession, storePath: String,
      merges: Seq[Merge]): Unit =
    graft.io.Store.commit(mergesDf(spark, merges), storePath, Map.empty)(_ => true)

  /** Load a persisted merge table, restoring TRAINING ORDER (step
    * ascending — BPE application replays merges in the order they
    * were learned; an unordered read would tokenize differently).
    * Round-trip contract: `loadMerges(save(m)) == m` (BpeSpec). */
  def loadMerges(spark: SparkSession, storePath: String): Seq[Merge] = {
    graft.io.Store.read(spark, storePath)
      .getOrElse(throw new java.util.NoSuchElementException(
        s"loadMerges: no merge table at $storePath"))
      .select(col("step"), col("left_tok"), col("right_tok"),
        col("pair_count"))
      .orderBy(col("step"))
      .collect()
      .map(r => Merge(r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3)))
      .toIndexedSeq
  }

  /** Tokenize the bounded word histogram with the learned merges —
    * the (word, cnt, toks) table corpus token statistics derive from.
    * Map-only over ≤ topM rows; merges ride the closure (≤ numMerges
    * string pairs — broadcast-sized by construction). */
  def tokenizeHistogram(histDf: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val tokUdf = udf((w: String) => tokenizeWord(w, merges))
    histDf.withColumn("toks", tokUdf(col("word")))
  }
}
