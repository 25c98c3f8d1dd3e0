package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Bpe

/** Closed-form pins for the learned BPE tokenizer (ops/Bpe.scala):
  * greedy-overlap merge semantics, an INDEPENDENT naive reference
  * trainer (string-replacement based — a different code path from the
  * token-array kernel), driver≡distributed trainer equivalence,
  * partitioning invariance, early-stop/degenerate corpora, and the
  * corpus-path/histogram-path token-count identity the q158/q159
  * oracles rely on. The q157–q162 oracles hash the same training run
  * against DuckDB's unrolled-CTE replay at all three SFs.
  */
class BpeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // the naive separator-string reference lives in NaiveBpe (shared
  // with PropertySpec's randomized pins — one reference, two specs)
  private def naiveTrain(hist: Seq[(String, Long)],
      n: Int): Seq[(String, String, Long)] = NaiveBpe.train(hist, n)

  test("mergeOnce: greedy left-to-right non-overlap on runs") {
    def m(w: String, l: String, r: String) =
      Bpe.mergeOnce(w.map(_.toString), l, r)
    assert(m("aaaa", "a", "a") == Vector("aa", "aa"))
    assert(m("aaa", "a", "a") == Vector("aa", "a"))
    assert(m("aabaa", "a", "a") == Vector("aa", "b", "aa"))
    assert(m("ababab", "a", "b") == Vector("ab", "ab", "ab"))
    assert(m("x", "a", "b") == Vector("x"))
    // merged products do not re-merge within the same step
    assert(m("aab", "a", "b") == Vector("a", "ab"))
  }

  test("trainMerges matches the naive string-replacement reference") {
    val hist = Seq[(String, Long)](
      ("aaaa", 3L), ("banana", 5L), ("bandana", 2L), ("ana", 7L),
      ("scan", 4L), ("scanner", 1L), ("a", 9L))
    val got = Bpe.trainMerges(hist, 12).map(m => (m.left, m.right, m.pairCount))
    assert(got == naiveTrain(hist, 12))
    // and on the real fixture histogram
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val real = Bpe.wordHistogram(docs, "text").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val gotR = Bpe.trainMerges(real, 16).map(m => (m.left, m.right, m.pairCount))
    assert(gotR == naiveTrain(real, 16))
    assert(gotR.size == 16, "fixture supports a full 16-merge run")
  }

  test("non-BMP words: code-point tokens, UTF-8 tie-break order") {
    // a supplementary char must be ONE token (the oracle's '.' regex
    // is code-point based), never two lone surrogates
    assert(Bpe.tokenizeWord("😀x", Nil) == Vector("😀", "x"))
    // tie between (a, U+FFFD) and (a, 😀): UTF-8 binary order puts
    // U+FFFD (EF BF BD) BELOW the emoji (F0 9F 98 80) — Java
    // code-unit order says the opposite (D83D < FFFD), which is the
    // bug class this pins against (driver trainer vs oracle/orderBy)
    val m = Bpe.trainMerges(Seq(("a�", 1L), ("a😀", 1L)), 1)
    assert((m.head.left, m.head.right) == ("a", "�"))
    assert(Bpe.trainMerges(Seq(("a�", 1L), ("a😀", 1L)), 4)
      .map(x => (x.left, x.right, x.pairCount))
      == naiveTrain(Seq(("a�", 1L), ("a😀", 1L)), 4))
  }

  test("tie-break: equal counts pick (left asc, right asc)") {
    // bc and ab both appear once; ab wins on left asc
    val m = Bpe.trainMerges(Seq(("abc", 1L)), 1)
    assert(m.head.left == "a" && m.head.right == "b")
    // equal left: right breaks
    val m2 = Bpe.trainMerges(Seq(("ab", 1L), ("ac", 1L)), 1)
    assert((m2.head.left, m2.head.right) == ("a", "b"))
  }

  test("early stop: merges exhaust when words are single tokens") {
    assert(Bpe.trainMerges(Seq(("a", 5L), ("b", 3L)), 4).isEmpty)
    val m = Bpe.trainMerges(Seq(("ab", 2L)), 10)
    assert(m.size == 1) // after (a,b) there is nothing left
    assert(Bpe.trainMerges(Nil, 4).isEmpty)
  }

  test("partitioning sweep: merges invariant under 1/4/16 partitions") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = Bpe.fitFromCorpus(docs, "text", 8)
    for (p <- Seq(1, 4, 16)) {
      assert(Bpe.fitFromCorpus(docs.repartition(p), "text", 8) == base,
        s"merges drifted at $p partitions")
    }
  }

  test("tokenizeWord replays training state; unseen words tokenize") {
    val hist = Seq[(String, Long)](("banana", 5L), ("bandana", 2L))
    val merges = Bpe.trainMerges(hist, 6).map(m => (m.left, m.right))
    // replaying merges on the training words reproduces the trainer's
    // final state (the q160 contract)
    var state = hist.map { case (w, _) => w.map(_.toString): IndexedSeq[String] }
    merges.foreach { case (l, r) => state = state.map(Bpe.mergeOnce(_, l, r)) }
    assert(hist.map(_._1).map(Bpe.tokenizeWord(_, merges)) == state)
    // unseen word: still deterministic, applies what matches
    val t = Bpe.tokenizeWord("bananarama", merges)
    assert(t.mkString == "bananarama", "tokens must re-concatenate to the word")
  }

  test("merge store: loadMerges(save(m)) == m, and tokenization from the store is identical") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val store = TestSpark.tempDir("bpe-merges") + "/merges"
    val (hist, ms) = Bpe.fitAndHistogram(docs, "text", 16)
    Bpe.saveMerges(spark, store, ms)
    val loaded = Bpe.loadMerges(spark, store)
    assert(loaded == ms, "round-trip lost or reordered merges")
    // the q164 contract: tokenizing from the persisted table ==
    // tokenizing from the in-memory one, token for token
    val hd = Bpe.histogramDf(spark, hist)
    val a = Bpe.tokenizeHistogram(hd, ms.map(m => (m.left, m.right)))
      .collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    val b = Bpe.tokenizeHistogram(hd, loaded.map(m => (m.left, m.right)))
      .collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(a == b)
    // overwrite with a shorter table: the store swaps, never appends
    Bpe.saveMerges(spark, store, ms.take(3))
    assert(Bpe.loadMerges(spark, store) == ms.take(3))
    // zero-merge corpora persist an empty (but well-formed) table
    Bpe.saveMerges(spark, store, Seq.empty)
    assert(Bpe.loadMerges(spark, store).isEmpty)
  }

  test("histogram truncation is deterministic under ties") {
    val df = Seq("b b a a", "c c").toDF("text")
    // all of a/b/c have count 2; topM=2 keeps (a, b) by word asc
    val kept = Bpe.wordHistogram(df, "text", topM = 2)
      .collect().map(_.getString(0)).toSet
    assert(kept == Set("a", "b"))
  }
}
