package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Sampling, SourceMix, TextAnalysis}
import graft.vector.{FlatQuantizer, SemDedup}

/** Corpus-mix + vocabulary + normalization operators (round-5 surface):
  * SemDeDup semantic dedup, source gating, weighted resampling,
  * TF-IDF, NFC normalization, vocabulary coverage.
  */
class CorpusOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- NFC normalization ----

  test("nfcNormalize composes combining marks and passes normalized text through") {
    val df = Seq(
      (1L, "café"),          // e + combining acute -> é
      (2L, "café"),                // already composed
      (3L, "plain ascii"),
      (4L, null.asInstanceOf[String]))
      .toDF("id", "s")
      .select(col("id"), TextAnalysis.nfcNormalize(col("s")).as("n"),
        length(TextAnalysis.nfcNormalize(col("s"))).as("len"))
    val rows = df.orderBy("id").collect()
    assert(rows(0).getString(1) == "café" && rows(0).getInt(2) == 4)
    assert(rows(1).getString(1) == "café" && rows(1).getInt(2) == 4)
    assert(rows(2).getString(1) == "plain ascii")
    assert(rows(3).isNullAt(1) && rows(3).isNullAt(2))
  }

  // ---- SemDeDup ----

  private val cents = Array(Array(1f, 0f), Array(0f, 1f))

  test("semantic dedup drops the larger id of a same-cell near-dup pair") {
    val df = Seq(
      (10L, Seq(1f, 0.01f)),      // cell 0
      (11L, Seq(0.99f, 0.011f)),  // cell 0, cos ~ 1 with 10 -> dropped
      (12L, Seq(0.01f, 1f)),      // cell 1, alone there
      (20L, Seq(-1f, 0.2f)))      // cell 1 (farther from +x), dissimilar
      .toDF("vec_id", "embedding")
    val kept = SemDedup.dropSemanticDuplicates(df, "vec_id", "embedding",
      FlatQuantizer(cents), threshold = 0.95)
    assert(kept.select("vec_id").as[Long].collect().sorted.toSeq == Seq(10L, 12L, 20L))
    // cell ids ride along for partitioned writes
    assert(kept.columns.contains("ivf_cell"))
  }

  test("semantic dedup is cluster-bounded: near-dups straddling a cell boundary survive") {
    // cos(v, w) ~ 0.99995 but v lands in cell 0 and w in cell 1 — the
    // documented SemDeDup recall tradeoff (k vs boundary misses), and
    // the property that keeps the pairwise work O(cell²) not O(N²)
    val df = Seq(
      (1L, Seq(0.71f, 0.703f)),
      (2L, Seq(0.703f, 0.71f)))
      .toDF("vec_id", "embedding")
    val pairs = SemDedup.semanticDuplicatePairs(df, "vec_id", "embedding",
      cents, threshold = 0.9)
    assert(pairs.count() == 0)
    assert(SemDedup.dropSemanticDuplicates(df, "vec_id", "embedding",
      FlatQuantizer(cents), threshold = 0.9).count() == 2)
  }

  // ---- DSIR importance scores ----

  test("dsir: target-like raw docs outscore off-distribution ones") {
    val target = Seq((100L, "law court judge ruling appeal"),
      (101L, "court law statute judge")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "judge court ruling law"),   // in-distribution
      (2L, "pizza recipe cheese oven"), // off-distribution
      (3L, "law pizza"))                // mixed
      .toDF("doc_id", "text")
    val got = graft.ops.Dsir.importanceScores(raw, target, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L)._2 > got(3L)._2 && got(3L)._2 > got(2L)._2)
    assert(got(1L)._2 > 0 && got(2L)._2 < 0) // sign = which side it resembles
    assert(got(1L)._1 == 4 && got(2L)._1 == 4 && got(3L)._1 == 2)
  }

  test("dsir hashed n-grams: word order matters, feature counts, sign") {
    // 2^20 buckets in-test: collisions would blur the sign/ordering
    // assertions (512 is the q92 demo size, not a fidelity claim)
    val B = 1 << 20
    val target = Seq(
      (100L, "law court judge ruling appeal"),
      (101L, "law court statute judge ruling")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "law court judge ruling"),    // target's words, target's ORDER
      (2L, "ruling judge court law"),    // same unigrams, alien bigrams
      (3L, "pizza recipe cheese oven"),  // off-distribution entirely
      (4L, "law"),                       // 1 token: unigram feature only
      (5L, "\t \n"))                     // whitespace-only: no features
      .toDF("doc_id", "text")
    val got = graft.ops.Dsir.importanceScoresHashed(raw, target, "doc_id",
        col("text"), buckets = B)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // the unigram estimator CANNOT tell docs 1 and 2 apart; the
    // hashed-bigram one must rank the order-preserving doc higher
    val uni = graft.ops.Dsir.importanceScores(raw, target, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(uni(1L) == uni(2L))
    assert(got(1L)._2 > got(2L)._2)
    assert(got(2L)._2 > got(3L)._2) // shared unigrams still beat nothing shared
    assert(got(1L)._2 > 0 && got(3L)._2 < 0)
    // n_feats = tokens + bigrams = 2n-1 on clean docs; 1-token doc has
    // its unigram only; no-token doc is absent (same as q88 semantics)
    assert(got(1L)._1 == 7 && got(4L)._1 == 1 && !got.contains(5L))
    // empty target: add-one smoothing keeps every score defined
    val s = graft.ops.Dsir.importanceScoresHashed(raw, target.limit(0),
      "doc_id", col("text"), buckets = B).collect()
    assert(s.length == 4 && s.forall(r => !r.getDouble(2).isNaN))
  }

  test("dsir gumbelTopK: deterministic draw, score dominance, TakeOrdered plan") {
    val scores = (1L to 100L).map(i => (i, if (i == 5) 50.0 else 0.0))
      .toDF("doc_id", "avg_llr")
    val sel = graft.ops.Dsir.gumbelTopK(scores, "doc_id", col("avg_llr"), k = 10)
    val ids = sel.collect().map(_.getLong(0)).toSeq
    // a dominant score always survives the noise; the draw reproduces
    assert(ids.contains(5L))
    val again = graft.ops.Dsir.gumbelTopK(scores, "doc_id", col("avg_llr"), k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(again == ids)
    // different salt = a different (still deterministic) draw overall
    val other = graft.ops.Dsir.gumbelTopK(scores, "doc_id", col("avg_llr"),
      k = 10, salt = "other").collect().map(_.getLong(0)).toSeq
    assert(other.contains(5L) && other != ids)
    // distributed top-k, not a global sort or single-partition window
    assert(sel.queryExecution.executedPlan.toString.contains("TakeOrdered"))
  }

  // ---- semantic cross-split leakage ----

  test("semanticLeakage reports cross-split pairs only") {
    val train = Seq((10L, Seq(1f, 0.01f)), (12L, Seq(0.01f, 1f)),
      (14L, Seq(0.99f, 0.012f))) // near-dup of 10 but SAME split
      .toDF("vec_id", "embedding")
    val test_ = Seq((11L, Seq(0.99f, 0.011f)), // leaked paraphrase of 10
      (21L, Seq(-1f, 0.2f)))                   // clean
      .toDF("vec_id", "embedding")
    val got = graft.ops.Decontaminate.semanticLeakage(train, test_,
        "vec_id", "embedding", graft.vector.FlatQuantizer(cents),
        threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // both train-side near-dups of the leaked vector report; the
    // train-internal pair (10,14) does NOT
    assert(got.toSet == Set((10L, 11L), (14L, 11L)))
  }

  test("round-7 ops tolerate degenerate inputs") {
    val docs = Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text")
    val emptyDocs = docs.limit(0)
    // DSIR with an EMPTY target: add-one smoothing keeps every score
    // defined (target side contributes -ln(V) uniformly), no throw
    val s = graft.ops.Dsir.importanceScores(docs, emptyDocs, "doc_id", col("text"))
      .collect()
    assert(s.length == 2 && s.forall(r => !r.getDouble(2).isNaN))
    // gumbelTopK with k beyond the row count returns everything
    val scores = Seq((1L, 1.0), (2L, 2.0)).toDF("doc_id", "avg_llr")
    assert(graft.ops.Dsir.gumbelTopK(scores, "doc_id", col("avg_llr"), k = 10)
      .count() == 2)
    // semantic leakage with an empty test split reports nothing
    val emb = Seq((1L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    assert(graft.ops.Decontaminate.semanticLeakage(emb, emb.limit(0),
      "vec_id", "embedding", graft.vector.FlatQuantizer(cents), 0.5).count() == 0)
    // probing the store with an empty batch yields no pairs (and the
    // empty bucket list must not break the isin partition filter)
    val dir = s"${TestSpark.tempDir("emptyprobe")}/sigs"
    val sigs = graft.ops.NearDup.minhashSignaturesFused(docs, "doc_id", col("text"))
    graft.ops.NearDup.appendSignatureStore(sigs, "doc_id", dir, buckets = 8)
    val emptySigs = sigs.limit(0)
    assert(graft.ops.NearDup.probeSignatureStore(spark, dir, emptySigs,
      "doc_id", buckets = 8).count() == 0)
  }

  test("bm25TopK normalizes query terms and tolerates degenerate inputs") {
    val docs = Seq(
      (1L, "dup vector hash dup"),
      (2L, "vector things"),
      (3L, "nothing relevant here")).toDF("doc_id", "text")
    // un-normalized terms (' Dup ', 'VECTOR') must match the lowercased
    // token stream — and a repeated term must not double-count
    val norm = graft.ops.Bm25.bm25TopK(docs, "doc_id", col("text"),
      Seq(" Dup ", "VECTOR", "vector"), k = 10).collect()
    val plain = graft.ops.Bm25.bm25TopK(docs, "doc_id", col("text"),
      Seq("dup", "vector"), k = 10).collect()
    assert(norm.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      plain.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    assert(norm.length == 2) // doc 3 matches nothing
    // no matching terms anywhere -> 0 rows, not a throw
    assert(graft.ops.Bm25.bm25TopK(docs, "doc_id", col("text"),
      Seq("zzzz"), k = 5).count() == 0)
    // k larger than the corpus returns what exists
    assert(graft.ops.Bm25.bm25TopK(docs, "doc_id", col("text"),
      Seq("vector"), k = 99).count() == 2)
    // guards: all-blank terms and k <= 0
    intercept[IllegalArgumentException] {
      graft.ops.Bm25.bm25TopK(docs, "doc_id", col("text"), Seq("  ", ""), 5)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Bm25.bm25TopK(docs, "doc_id", col("text"), Seq("dup"), 0)
    }
  }

  test("bigramLogProb handles empty/1-token docs, empty-token filtering, empty corpus") {
    val corpus = Seq(
      (10L, "the quick fox"),
      (11L, "the quick dog")).toDF("doc_id", "text")
    // 1-token and whitespace-only docs have no pairs -> no output row;
    // a leading tab survives Spark's trim (spaces only) as an empty
    // token, which must NOT create a ('', w) pair: doc 4 scores
    // identically to its clean twin doc 1
    val score = Seq(
      (1L, "the quick fox"),
      (2L, "single"),
      (3L, "   "),
      (4L, "\tthe quick fox")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProb(score, corpus, "doc_id", col("text"))
      .orderBy("doc_id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 4L))
    assert(got(0).getLong(1) == 2 && got(1).getLong(1) == 2) // n_pairs
    assert(got(0).getDouble(2) == got(1).getDouble(2))
    // empty corpus: every pair is unseen and the backoff denominator
    // nt+v collapses to NULL (sum over zero rows) -> avg_logprob NULL,
    // n_pairs still counted. Pinned so the semantics stay deliberate.
    val none = TextAnalysis.bigramLogProb(score, corpus.limit(0),
      "doc_id", col("text")).orderBy("doc_id").collect()
    assert(none.map(_.getLong(0)).toSeq == Seq(1L, 4L))
    assert(none.forall(r => r.getLong(1) == 2 && r.isNullAt(2)))
  }

  test("ppxBands matches a driver quantile model; degenerate cuts; unscored docs absent") {
    // deterministic word salad with enough score spread to band on
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docs = (0 until 40).map { i =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s"ppx:$i".getBytes("UTF-8"))
      val txt = (0 until 12).map(j => words((md(j) & 0xff) % words.length))
        .mkString(" ")
      (i.toLong, txt)
    }
    val df = (docs :+ ((99L, "solo"))).toDF("doc_id", "text") // 1-token: no score
    val corpus = df.filter(col("doc_id") % 2 === 0)
    val got = TextAnalysis.ppxBands(df, corpus, "doc_id", col("text"))
      .select("doc_id", "avg_logprob", "band").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sortBy(_._1)
    assert(!got.exists(_._1 == 99L)) // unscored -> absent, like CCNet
    // independent driver model: same exact-percentile interpolation
    // (idx = p*(n-1), linear), same 6dp rounding, same when-chain
    val scores = got.map(_._2)
    def quantile(p: Double): Double = {
      val s = scores.sorted
      val idx = p * (s.length - 1)
      val lo = s(idx.toInt)
      val hi = s(math.min(idx.toInt + 1, s.length - 1))
      val f = idx - idx.toInt
      BigDecimal(lo + f * (hi - lo))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val (lo, hi) = (quantile(0.3), quantile(0.7))
    got.foreach { case (id, sc, band) =>
      val want = if (sc >= hi) "head" else if (sc >= lo) "middle" else "tail"
      assert(band == want, s"doc $id score $sc: $band vs $want (lo=$lo hi=$hi)")
    }
    // banding is monotone in score by construction
    val byBand = got.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    for (h <- byBand.getOrElse("head", Array[Double]());
         m <- byBand.getOrElse("middle", Array[Double]())) assert(h >= m)
    for (m <- byBand.getOrElse("middle", Array[Double]());
         t <- byBand.getOrElse("tail", Array[Double]())) assert(m > t)
    // degenerate cuts: (0,0) -> everything is head (score >= min)
    val all = TextAnalysis.ppxBands(df, corpus, "doc_id", col("text"),
      pLow = 0.0, pHigh = 0.0).select("band").distinct().collect()
    assert(all.map(_.getString(0)).toSeq == Seq("head"))
    intercept[IllegalArgumentException] {
      TextAnalysis.ppxBands(df, corpus, "doc_id", col("text"), 0.8, 0.2)
    }
    // degenerate corpora: nothing scoreable -> null band, not an NPE
    val oneWorders = Seq((1L, "solo"), (2L, "alone")).toDF("doc_id", "text")
    assert(TextAnalysis.ppxBands(oneWorders, corpus, "doc_id", col("text"))
      .count() == 0L)
    val emptyCorpus = TextAnalysis.ppxBands(df, corpus.limit(0),
      "doc_id", col("text")).select("band").collect()
    assert(emptyCorpus.nonEmpty && emptyCorpus.forall(_.isNullAt(0)))
    // release hook never throws on a consumed result
    val banded = TextAnalysis.ppxBands(df, corpus, "doc_id", col("text"))
    banded.count()
    graft.ops.Pinned.free(banded)
  }

  test("Pinned registry: checkpoint-backed results are tracked and releaseAll unpersists their blocks") {
    // The r17 ADVICE leak: ppxBands' scored LM table (and pageRank
    // ranks / CC labels) back the RETURNED frame, so clearCache()
    // between bench passes never freed them — one pinned copy per
    // pass for the JVM lifetime. The harness drain is Pinned
    // .releaseAll(); this pin proves the op registers its result and
    // that the drain actually unpersists the checkpoint RDD blocks.
    graft.ops.Pinned.releaseAll() // drain other suites' leftovers
    val docs = (1L to 30L).map(i => (i, s"alpha beta gamma delta tok$i"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val banded = TextAnalysis.ppxBands(docs, docs, "doc_id", col("text"))
    banded.count() // fully consume before releasing
    assert(graft.ops.Pinned.trackedCount >= 1, "ppxBands must register its pin")
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinned.nonEmpty, "the scored LM table must be checkpoint-persisted")
    graft.ops.Pinned.releaseAll()
    assert(graft.ops.Pinned.trackedCount == 0)
    // unpersist is async (blocking=false): poll briefly
    val deadline = System.nanoTime() + 10_000_000_000L
    def stillPinned = spark.sparkContext.getPersistentRDDs.keySet.intersect(pinned)
    while (stillPinned.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(stillPinned.isEmpty, s"blocks still pinned: $stillPinned")
  }

  test("Par.concurrently: results match sequential evaluation and the scratch branch's pins are adopted by the caller") {
    graft.ops.Pinned.releaseAll() // drain other suites' leftovers
    val docs = (1L to 20L).map(i => (i, s"tok$i")).toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // branch b pins a checkpoint on the SCRATCH thread; the caller's
    // registry must adopt it or the harness releaseAll leaks blocks
    val (aSum, bDf) = graft.ops.Par.concurrently(spark)({
      docs.agg(org.apache.spark.sql.functions.sum("doc_id")).head().getLong(0)
    })({
      graft.ops.Pinned.track(docs.localCheckpoint(true))
    })
    assert(aSum == (1L to 20L).sum)
    assert(bDf.count() == 20L)
    assert(graft.ops.Pinned.trackedCount >= 1,
      "the scratch branch's pin must be visible to the calling thread")
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinned.nonEmpty)
    graft.ops.Pinned.releaseAll()
    val deadline = System.nanoTime() + 10_000_000_000L
    def stillPinned = spark.sparkContext.getPersistentRDDs.keySet.intersect(pinned)
    while (stillPinned.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(stillPinned.isEmpty,
      s"caller releaseAll must free scratch-branch pins: $stillPinned")
    // a failing branch propagates (after joining the other branch) and
    // still hands its pins over for release
    val before2 = spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[RuntimeException] {
      graft.ops.Par.concurrently(spark)({ 1 + 1 })({
        graft.ops.Pinned.track(docs.localCheckpoint(true))
        throw new RuntimeException("branch boom")
      })
    }
    assert(ex.getMessage == "branch boom")
    assert(graft.ops.Pinned.trackedCount >= 1,
      "pins made before the branch failed must still be adopted")
    graft.ops.Pinned.releaseAll()
    val pinned2 = spark.sparkContext.getPersistentRDDs.keySet -- before2
    val deadline2 = System.nanoTime() + 10_000_000_000L
    def stillPinned2 = spark.sparkContext.getPersistentRDDs.keySet.intersect(pinned2)
    while (stillPinned2.nonEmpty && System.nanoTime() < deadline2)
      Thread.sleep(100)
    assert(stillPinned2.isEmpty, s"failed-branch pins leaked: $stillPinned2")
  }

  test("Pinned.pin: a micro-batch or createDataFrame frame is pinned; a pinned frame's projection passes through") {
    import graft.ops.Pinned
    val sc = spark.sparkContext
    // the persistent RDDs one pin adds, plus whether it returned its
    // input unchanged; a new pin is freed again right away
    def pinAdds(df: org.apache.spark.sql.DataFrame): (Set[Int], Boolean) = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val p = Pinned.pin(df)
      val added = sc.getPersistentRDDs.keySet.toSet -- before
      if (!(p eq df)) Pinned.free(p)
      (added, p eq df)
    }
    // a foreachBatch micro-batch is a LogicalRDD whose RDD is NOT
    // checkpointed: re-reading it re-runs the stream's source scan
    val dir = TestSpark.tempDir("pinbatch")
    val docs = (1L to 10L).map(i => (i, s"tok$i")).toDF("doc_id", "text")
    docs.coalesce(1).write.parquet(s"$dir/in/f=0")
    @volatile var inBatch: Option[(Set[Int], Boolean)] = None
    spark.readStream.schema(docs.schema).parquet(s"$dir/in/*/")
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        inBatch = Some(pinAdds(batch.select(col("doc_id"))))
        ()
      }
      .start().awaitTermination()
    val (batchAdded, batchPassed) = inBatch.get
    assert(batchAdded.nonEmpty && !batchPassed,
      "a projection of a micro-batch must be pinned")
    // GlobalOrder's output shape: a LogicalRDD over an uncheckpointed RDD
    val rddFrame = spark.createDataFrame(docs.rdd, docs.schema)
    val (rddAdded, rddPassed) = pinAdds(rddFrame)
    assert(rddAdded.nonEmpty && !rddPassed,
      "a createDataFrame(rdd, schema) frame must be pinned")
    // already checkpoint-backed: a projection over the blocks passes
    // through without a second copy
    val pinned = Pinned.pin(docs)
    val (viewAdded, viewPassed) = pinAdds(pinned.select(col("doc_id")))
    assert(viewAdded.isEmpty && viewPassed,
      "a projection of a pinned frame must pass through")
    Pinned.free(pinned)
  }

  // ---- source gating ----

  test("filterBySourceQuality keeps only sources passing both gates") {
    val df = Seq(
      ("good", 1L, 10.0), ("good", 2L, 12.0), ("good", 3L, 8.0),
      ("small", 4L, 100.0),                  // fails minDocs
      ("low", 5L, 1.0), ("low", 6L, 2.0), ("low", 7L, 0.0)) // fails avg
      .toDF("source", "doc_id", "q")
    val kept = SourceMix.filterBySourceQuality(df, "source", col("q"),
      minDocs = 2L, minAvgMetric = 5.0)
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"gate join should broadcast the per-source relation:\n$plan")
  }

  test("sourceStats shares sum to 1 and means are exact") {
    val df = Seq(("a", 10L), ("a", 20L), ("b", 40L)).toDF("source", "m")
    val st = SourceMix.sourceStats(df, col("source"), col("m"))
      .orderBy("source").collect()
    assert(st(0).getLong(1) == 2 && st(0).getDouble(2) == 15.0)
    assert(st(1).getLong(1) == 1 && st(1).getDouble(2) == 40.0)
    assert(math.abs(st.map(_.getDouble(3)).sum - 1.0) < 1e-9)
  }

  // ---- weighted resampling ----

  test("resampleByWeight: integer weights replicate exactly, fractions follow the hash") {
    val df = (0L until 100L).toDF("id")
    // weight 3.0 -> exactly 3 copies, copy ids 0,1,2
    val tripled = SourceMix.resampleByWeight(df, col("id"), lit(3.0))
    assert(tripled.count() == 300)
    assert(tripled.groupBy("id").count().filter(col("count") =!= 3).count() == 0)
    assert(tripled.filter(col("id") === 0).select("copy").as[Long]
      .collect().sorted.toSeq == Seq(0L, 1L, 2L))
    // weight 0 -> nothing
    assert(SourceMix.resampleByWeight(df, col("id"), lit(0.0)).count() == 0)
    // weight 1.25: 1 copy always, +1 exactly when the SALTED bucket
    // lands under 16384 (the salt decorrelates resampling from
    // splitLabel, which uses the unsalted hash)
    val got = SourceMix.resampleByWeight(df, col("id"), lit(1.25))
      .groupBy("id").count()
    val expected = df.select(col("id"),
      when(Sampling.hashBucket(
          concat(col("id").cast("string"), lit(":resample"))) < 16384, 2L)
        .otherwise(1L).as("n"))
    assert(got.join(expected, Seq("id"))
      .filter(col("count") =!= col("n")).count() == 0)
    // deterministic: a rerun emits the identical multiset
    val again = SourceMix.resampleByWeight(df, col("id"), lit(1.25))
      .groupBy("id").count()
    assert(got.join(again, Seq("id"))
      .filter(got("count") =!= again("count")).count() == 0)
  }

  test("resampleByWeight plans with no shuffle") {
    val df = (0L until 10L).toDF("id")
    val plan = SourceMix.resampleByWeight(df, col("id"), lit(1.5))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"resample must stay narrow:\n$plan")
  }

  // ---- exact-substring removal ----

  test("removeRepeatedWindows strips cross-doc shared spans, keeps short docs whole") {
    val df = Seq(
      (1L, "a b c d e f g h unique1 tail1"),
      (2L, "x y a b c d e f g h z"),
      (3L, "tiny doc"))
      .toDF("doc_id", "text")
    val got = graft.ops.NearDup.removeRepeatedWindows(df, "doc_id", col("text"), w = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // the shared "a b c d e f g h" covers doc1 pos 0-7 and doc2 pos 2-9
    assert(got.toSeq == Seq(
      (1L, "unique1 tail1", 8L),
      (2L, "x y z", 8L),
      (3L, "tiny doc", 0L)))
  }

  test("removeRepeatedWindows: within-doc repetition alone is not removed") {
    val rep = "a b c d e f g h"
    val df = Seq((1L, s"$rep $rep"), (2L, "nothing shared here at all ok fine"))
      .toDF("doc_id", "text")
    val got = graft.ops.NearDup.removeRepeatedWindows(df, "doc_id", col("text"), w = 8)
      .filter(col("doc_id") === 1).head()
    assert(got.getLong(2) == 0L, "doc-frequency gate must be DISTINCT docs")
  }

  // ---- percentile band ----

  test("filterByGroupPercentile keeps the interior band per group, ties move together") {
    val df = ((0 to 20).map(i => ("g1", i.toLong)) :+ (("g2", 5L)) :+ (("g2", 5L)))
      .toDF("g", "v")
    val kept = SourceMix.filterByGroupPercentile(df, col("g"), col("v"), 0.05, 0.95)
    val g1 = kept.filter(col("g") === "g1").select("v").as[Long].collect().sorted
    // percent_rank = (rank-1)/20: 0 -> 0.0 (out), 1 -> 0.05 .. 19 -> 0.95, 20 -> 1.0 (out)
    assert(g1.toSeq == (1L to 19L))
    // g2: both rows tie at rank 1 -> pr 0.0 -> both dropped together
    assert(kept.filter(col("g") === "g2").count() == 0)
  }

  // ---- kNN graph ----

  test("knnGraph ranks within-cell neighbors; singleton cells emit nothing") {
    val df = Seq(
      (1L, Seq(1f, 0f)),
      (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.8f, 0.3f)),
      (4L, Seq(0f, 1f)))   // alone in cell 1
      .toDF("vec_id", "embedding")
    val g = SemDedup.knnGraph(df, "vec_id", "embedding", FlatQuantizer(cents), k = 2)
      .orderBy("vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(!g.exists(_._1 == 4L), "singleton cell has no neighbors")
    assert(g.filter(_._1 == 1L).map(_._3).toSeq == Seq(2L, 3L),
      "closer vector ranks first")
    assert(g.count(_._1 == 2L) == 2 && g.count(_._1 == 3L) == 2)
  }

  // ---- TF-IDF ----

  test("tfidfTopTerms matches a hand-computed example") {
    val df = Seq(
      (1L, "apple apple banana"),
      (2L, "apple cherry"),
      (3L, "banana date"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(df, "doc_id", col("text"), k = 2)
      .orderBy("doc_id", "rank")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    def s(tf: Int, n: Int, df0: Int) =
      BigDecimal(tf * math.log(n.toDouble / df0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq(
      (1L, 1, "apple", s(2, 3, 2)), (1L, 2, "banana", s(1, 3, 2)),
      (2L, 1, "cherry", s(1, 3, 1)), (2L, 2, "apple", s(1, 3, 2)),
      (3L, 1, "date", s(1, 3, 1)), (3L, 2, "banana", s(1, 3, 2))))
  }

  // ---- vocabulary coverage ----

  test("vocabCoverage ranks by frequency with cumulative share") {
    val df = Seq("apple apple banana", "apple cherry", "banana date")
      .toDF("text")
    val got = TextAnalysis.vocabCoverage(df, col("text"), k = 3)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1, "apple", 3L, math.rint(3.0 / 7 * 1e6) / 1e6),
      (2, "banana", 2L, math.rint(5.0 / 7 * 1e6) / 1e6),
      (3, "cherry", 1L, math.rint(6.0 / 7 * 1e6) / 1e6)))
  }

  // ---- per-source KL divergence ----

  test("klDivergence: non-negative everywhere, divergent source scores above a mirror source") {
    val df = Seq(
      // srcA and srcB share the corpus-typical mix; srcC is skewed
      ("srcA", "x y z x y z x y"), ("srcA", "x y z w"),
      ("srcB", "x y z x y z y x"), ("srcB", "x y z w"),
      ("srcC", "q q q q q q q q"), ("srcC", "q q q r"))
      .toDF("source", "text")
    val got = SourceMix.klDivergence(df, col("source"), col("text"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == Set("srcA", "srcB", "srcC"))
    assert(got.values.forall(_._2 >= 0.0), "Gibbs: KL >= 0 with shared-support smoothing")
    assert(got.values.forall(_._1 == 12L))
    assert(got("srcC")._2 > got("srcA")._2 && got("srcC")._2 > got("srcB")._2,
      s"skewed source must diverge most: $got")
  }

  test("klDivergence: a single-source corpus has KL ~ 0 (p equals q up to smoothing)") {
    val df = Seq(("only", "a b c a b c"), ("only", "d e f"))
      .toDF("source", "text")
    val got = SourceMix.klDivergence(df, col("source"), col("text")).collect()
    assert(got.length == 1)
    // p_s and q are built from identical counts and identical totals ->
    // every log ratio is exactly 0, and the analytic absent-word term
    // is exactly 0 (V == V_s, S_all == S_s)
    assert(got.head.getDouble(2) == 0.0)
  }

  test("round-8 ops tolerate degenerate inputs") {
    val empty = Seq.empty[(String, String)].toDF("source", "text")
    assert(SourceMix.klDivergence(empty, col("source"), col("text")).count() == 0)
    val blank = Seq(("s1", ""), ("s2", "   ")).toDF("source", "text")
    assert(SourceMix.klDivergence(blank, col("source"), col("text")).count() == 0)

    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextAnalysis.tokenEntropy(emptyDocs, "doc_id", col("text")).count() == 0)
    assert(TextAnalysis.noveltyReport(emptyDocs, "doc_id", col("text")).count() == 0)
    val nullDoc = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
    assert(TextAnalysis.tokenEntropy(nullDoc, "doc_id", col("text")).count() == 0)
    assert(TextAnalysis.noveltyReport(nullDoc, "doc_id", col("text")).count() == 0)

    import graft.vector.KnnClassify
    val emb = Seq((0L, Array(1f, 0f), 0), (1L, Array(0f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    val noQueries = emb.filter(col("vec_id") < 0)
    assert(KnnClassify.knnClassify(emb, "vec_id", "embedding", "label",
      noQueries, k = 3).count() == 0)
    assert(KnnClassify.confusionMatrix(
      KnnClassify.knnClassify(emb, "vec_id", "embedding", "label",
        noQueries, k = 3)).count() == 0)
    intercept[IllegalArgumentException] {
      KnnClassify.knnClassify(emb, "vec_id", "embedding", "label", emb, k = 0)
    }
  }

  test("klDivergence analytic decomposition equals the literal full-support grid") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = SourceMix.klDivergence(docs, col("source"), col("text"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // brute-force grid on the driver: every (source, vocab word) pair
    val rows = docs.select(lower(trim(col("text"))), col("source")).collect()
    val per = scala.collection.mutable.Map[String, scala.collection.mutable.Map[String, Long]]()
    rows.foreach { r =>
      val cnt = per.getOrElseUpdate(r.getString(1), scala.collection.mutable.Map())
      r.getString(0).split("\\s+").filter(_.nonEmpty)
        .foreach(w => cnt(w) = cnt.getOrElse(w, 0L) + 1)
    }
    val corpus = per.values.flatten.groupBy(_._1).map { case (w, cs) => w -> cs.map(_._2).sum }
    val nt = corpus.values.sum.toDouble
    val v = corpus.size.toDouble
    per.foreach { case (src, cnt) =>
      val ns = cnt.values.sum.toDouble
      val grid = corpus.map { case (w, cw) =>
        val ps = (cnt.getOrElse(w, 0L) + 1) / (ns + v)
        val qw = (cw + 1) / (nt + v)
        ps * math.log(ps / qw)
      }.sum
      assert(math.abs(got(src) - math.rint(grid * 1e6) / 1e6) <= 1e-6,
        s"$src: analytic ${got(src)} vs grid $grid")
    }
  }

  // ---- temperature-scaled source weights ----

  test("temperatureWeights: alpha=1 is the identity mix, alpha<1 up-weights small sources") {
    val df = (1 to 90).map(i => (i.toLong, "big")) ++
      (1 to 10).map(i => (100L + i, "small"))
    val docs = df.toDF("doc_id", "source")
    val id = SourceMix.temperatureWeights(docs, col("source"), alpha = 1.0)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    // alpha=1: q = p, weight = 1, for every source
    assert(id("big") == ((90L, 0.9, 0.9, 1.0)))
    assert(id("small") == ((10L, 0.1, 0.1, 1.0)))
    val t = SourceMix.temperatureWeights(docs, col("source"), alpha = 0.3)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    val (pS, qS, wS, eS) = t("small")
    val (pB, qB, wB, _) = t("big")
    assert(qS > pS && wS > 1.0, "small source must be up-weighted")
    assert(qB < pB && wB < 1.0, "big source must be down-weighted")
    // closed form: q_small = 10^0.3 / (10^0.3 + 90^0.3)
    val expQ = math.pow(10, 0.3) / (math.pow(10, 0.3) + math.pow(90, 0.3))
    assert(math.abs(qS - math.rint(expQ * 1e6) / 1e6) <= 1e-6)
    // q sums to 1 and expected docs sum to N (up to rounding)
    assert(math.abs(qS + qB - 1.0) < 2e-6)
    assert(math.abs(eS - expQ * 100) < 1e-4)
  }

  test("temperatureWeights rejects alpha outside (0, 1]") {
    val docs = Seq((1L, "a")).toDF("doc_id", "source")
    intercept[IllegalArgumentException] {
      SourceMix.temperatureWeights(docs, col("source"), alpha = 0.0)
    }
    intercept[IllegalArgumentException] {
      SourceMix.temperatureWeights(docs, col("source"), alpha = 1.5)
    }
  }

  // ---- leakage-safe split ----

  test("leakageSafeSplit: every component lands whole on one side; singletons match the per-doc split") {
    val docs = (1L to 400L).toDF("doc_id")
    // components: {1..5} (chain), {100, 200, 300} (star) — the rest singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (100L, 200L), (100L, 300L)).toDF("doc_a", "doc_b")
    val labels = graft.ops.NearDup.connectedComponents(pairs)
    val weights = Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25)
    val got = Sampling.leakageSafeSplit(docs, "doc_id", labels, weights)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 400 && got.values.forall(_ != null))
    // cluster members share a side
    assert(Set(1L, 2L, 3L, 4L, 5L).map(got).size == 1, "chain split apart")
    assert(Set(100L, 200L, 300L).map(got).size == 1, "star split apart")
    // unlabeled docs reproduce the plain per-doc hash split exactly
    val labeled = Set(1L, 2L, 3L, 4L, 5L, 100L, 200L, 300L)
    val plain = docs.select(col("doc_id"),
        Sampling.splitLabel(col("doc_id"), weights).as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (1L to 400L).filterNot(labeled).foreach { i =>
      assert(got(i) == plain(i), s"singleton $i diverged from per-doc split")
    }
    // and the labeled ones use the component min's hash
    assert(got(5L) == plain(1L), "component {1..5} must split by key 1")
    assert(got(300L) == plain(100L), "component {100,200,300} by key 100")
  }

  test("contaminationMatrix: dense cells, per-benchmark hits, zero rows") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val corpus = Seq(
      (1L, "s1", "alpha beta gamma delta"),   // shares a trigram with bA
      (2L, "s1", "one two three four"),       // clean
      (3L, "s2", "epsilon zeta eta theta")    // shares with bB
    ).toDF("doc_id", "source", "text")
    val bA = Seq("alpha beta gamma prime").toDF("text")
    val bB = Seq("xx epsilon zeta eta yy").toDF("text")
    val got = graft.ops.Decontaminate.contaminationMatrix(
        corpus, "doc_id", col("text"), col("source"),
        Seq("A" -> bA, "B" -> bB), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.size == 4, "dense: 2 sources x 2 benchmarks")
    assert(got(("s1", "A")) == ((2L, 1L)), "doc 1 hits benchmark A")
    assert(got(("s1", "B")) == ((2L, 0L)), "zero cell present")
    assert(got(("s2", "A")) == ((1L, 0L)))
    assert(got(("s2", "B")) == ((1L, 1L)))
  }
}
