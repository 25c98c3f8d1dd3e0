package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Chunking, Dedup, NearDup}

class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("W1 chunking assigns consecutive windows per key in order") {
    val df = (1 to 10).map(i => ("f", i.toLong, s"w$i")).toDF("file", "id", "text")
    val out = Chunking.chunkAggregate(df, "file", "id", "text", lit(true), size = 3)
      .orderBy("chunk_id").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(out.head.getAs[String]("chunk_text") == "w1 w2 w3")
    assert(out.last.getAs[String]("chunk_text") == "w10")
    assert(out.head.getAs[Long]("start_id") == 1L)
    assert(out.head.getAs[Long]("end_id") == 3L)
  }

  test("A1 quirk: bounds cover filtered-out rows, text excludes them") {
    val df = Seq(("f", 1L, "keep1", 0.1), ("f", 2L, "drop", 0.9),
      ("f", 3L, "keep3", 0.0)).toDF("file", "id", "text", "p")
    val out = Chunking.chunkAggregate(df, "file", "id", "text",
      col("p") < 0.2, size = 10).head
    assert(out.getAs[String]("chunk_text") == "keep1 keep3")
    assert(out.getAs[Long]("start_id") == 1L && out.getAs[Long]("end_id") == 3L)
    assert(out.getAs[Long]("n") == 3L)
  }

  test("A1 concat restores id order regardless of input order") {
    val df = Seq(("f", 3L, "c"), ("f", 1L, "a"), ("f", 2L, "b"))
      .toDF("file", "id", "text").repartition(4)
    val out = Chunking.chunkAggregate(df, "file", "id", "text", lit(true), 10).head
    assert(out.getAs[String]("chunk_text") == "a b c")
  }

  test("chunking properties hold for random segment sets") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val n = 1 + rnd.nextInt(300)
      val size = 1 + rnd.nextInt(60)
      val rows = (0 until n).map(i => ("f", i.toLong, s"t$i"))
      val out = Chunking.chunkAggregate(
        rnd.shuffle(rows).toDF("file", "id", "text").repartition(5),
        "file", "id", "text", lit(true), size).collect()
      // chunk count, coverage, and per-chunk ordered text
      assert(out.length == (n + size - 1) / size)
      assert(out.map(_.getAs[Long]("n")).sum == n)
      out.foreach { r =>
        val c = r.getAs[Long]("chunk_id")
        val lo = c * size
        val hi = math.min(n - 1, lo + size - 1)
        assert(r.getAs[Long]("start_id") == lo && r.getAs[Long]("end_id") == hi)
        assert(r.getAs[String]("chunk_text") ==
          (lo to hi).map(i => s"t$i").mkString(" "))
      }
    }
  }

  test("J5 pendingWork: second run over same inputs yields zero work") {
    val work = Seq("a", "b", "c").toDF("name")
    val done0 = Seq.empty[String].toDF("name")
    assert(Dedup.pendingWork(work, done0, Seq("name")).count() == 3)
    assert(Dedup.pendingWork(work, work, Seq("name")).count() == 0)
  }

  test("mergeById: updates win, survivors carry, idempotent") {
    val state = Seq((1, "old"), (2, "old")).toDF("id", "v")
    val upd = Seq((2, "new"), (3, "new")).toDF("id", "v")
    val m = Dedup.mergeById(state, upd, Seq("id"))
    assert(m.orderBy("id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      == Seq((1, "old"), (2, "new"), (3, "new")))
    val m2 = Dedup.mergeById(m, upd, Seq("id"))
    assert(m2.count() == 3)
  }

  test("minhash: identical docs share signatures; disjoint docs do not") {
    val df = Seq((1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumps"),
      (3L, "completely different words entirely here")).toDF("doc_id", "text")
    val sigs = NearDup.minhashSignaturesFused(df, "doc_id", col("text"))
      .orderBy("doc_id").collect()
    assert(sigs(0).toSeq.drop(1) == sigs(1).toSeq.drop(1))
    assert(sigs(0).toSeq.drop(1) != sigs(2).toSeq.drop(1))
  }

  test("LSH finds mutated near-duplicates") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 30)
    val base = NearDup.withMutatedCopies(docs, "doc_id", "text")
    val pairs = NearDup.lshCandidatePairs(
      NearDup.minhashSignaturesFused(base, "doc_id", col("text")), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mutPairs = (0L until 30L).map(i => (i, i + 1000000L)).toSet
    // truncation keeps most shingles: expect the vast majority found
    assert((mutPairs -- pairs).size <= 6, s"missed too many: ${mutPairs -- pairs}")
  }

  test("LSH: a width not divisible by rowsPerBand throws before pinning") {
    graft.ops.Pinned.releaseAll()
    val sigs = Seq((1L, "a", "b", "c", "d"), (2L, "a", "b", "c", "e"))
      .toDF("doc_id", "mh0", "mh1", "mh2", "mh3")
    intercept[IllegalArgumentException] {
      NearDup.lshCandidatePairs(sigs, "doc_id", rowsPerBand = 3)
    }
    intercept[IllegalArgumentException] {
      NearDup.estimatedJaccardPairs(sigs, "doc_id", rowsPerBand = 3)
    }
    assert(graft.ops.Pinned.trackedCount == 0)
  }

  test("simhash is word-order invariant and content sensitive") {
    val df = Seq((1L, "alpha beta gamma delta"),
      (2L, "delta gamma beta alpha"),
      (3L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    val sh = NearDup.simhash(df, "doc_id", col("text")).orderBy("doc_id")
      .collect().map(_.getLong(1))
    assert(sh(0) == sh(1))
    assert(sh(0) != sh(2))
  }

  test("simhash unique-id contract: duplicate ids emit per-ROW fingerprints") {
    // The fused projection cannot merge duplicate ids' token streams
    // the way the old groupBy composite did — that is a DOCUMENTED
    // contract (every caller's corpus has unique ids; an uniqueness
    // require() would cost a corpus-scale count-distinct job per
    // call). This test pins the divergence ON PURPOSE so it is a
    // known behavior, not a silent surprise: two rows with the same
    // id yield two fingerprint rows, each of its own text.
    val dup = Seq((1L, "alpha beta"), (1L, "gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val fused = NearDup.simhash(dup, "doc_id", col("text"), bits = 64).collect()
    assert(fused.length == 2)
    val perRow = Seq("alpha beta", "gamma delta epsilon zeta").map { t =>
      NearDup.simhash(Seq((9L, t)).toDF("doc_id", "text"), "doc_id",
        col("text"), bits = 64).head().getLong(1)
    }
    assert(fused.map(_.getLong(1)).toSet == perRow.toSet)
    // while the composite merges them into ONE fingerprint
    assert(NearDup.simhashComposite(dup, "doc_id", col("text"), bits = 64)
      .count() == 1)
  }

  test("simhash 64-bit: top 16 bits reproduce the 16-bit fingerprint") {
    // both widths slice the SAME sha256 prefix MSB-first, so the
    // 64-bit fingerprint's high quarter must equal the 16-bit one —
    // a cross-width consistency invariant over real corpus text
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 50)
    val s16 = NearDup.simhash(docs, "doc_id", col("text"), bits = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s64 = NearDup.simhash(docs, "doc_id", col("text"), bits = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s64.keySet == s16.keySet && s64.nonEmpty)
    s64.foreach { case (id, v) => assert((v >>> 48) == s16(id)) }
    // 64-bit fingerprints actually use the extra width (some doc sets
    // a low bit) and the sign bit is reachable in principle (signed
    // reinterpretation — at least assert values differ from the 16-bit)
    assert(s64.exists { case (id, v) => (v & 0xFFFFFFFFFFFFL) != 0L })
    assert(s64.exists { case (id, v) => v != s16(id) })
  }

  test("simhashHammingPairs: exact recall within radius, brute-force parity") {
    // 40 corpus docs + truncated mutations → fingerprints, then the
    // banded join must equal a brute-force popcount(xor) <= 3 over all
    // pairs (pigeonhole: d < nBands → at least one shared band)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 40)
    val base = NearDup.withMutatedCopies(docs, "doc_id", "text")
    val fps = NearDup.simhash(base, "doc_id", col("text"), bits = 64)
    val got = NearDup.simhashHammingPairs(fps, "doc_id", col("simhash"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val all = fps.collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ia, fa) <- all; (ib, fb) <- all if ia < ib
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 3
    } yield (ia, ib, h)).toSet
    assert(got == brute && got.nonEmpty)
    // config that breaks the pigeonhole guarantee fails fast
    intercept[IllegalArgumentException] {
      NearDup.simhashHammingPairs(fps, "doc_id", col("simhash"), maxHamming = 4)
    }
    intercept[IllegalArgumentException] {
      NearDup.simhashHammingPairs(fps, "doc_id", col("simhash"), nBands = 3)
    }
  }

  test("connectedComponents: chains, cycles, stars, bridges → min-id labels") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),     // chain
      (10L, 11L), (11L, 12L), (12L, 10L), // cycle
      (20L, 21L), (20L, 22L), (20L, 23L), // star
      (30L, 32L), (31L, 32L))             // meet only at the larger id
      .toDF("doc_a", "doc_b")
    val cc = NearDup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L)
    assert(cc == expected)
  }

  test("connectedComponents converges on a long path (pointer jumping)") {
    // a 40-node path is the worst case for plain hash-min (O(diameter)
    // rounds); pointer jumping must finish well inside maxIterations
    val path = (0L until 39L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = NearDup.connectedComponents(path, maxIterations = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(cc.length == 40 && cc.forall(_._2 == 0L))
  }

  test("connectedComponents frees iteration checkpoints; at most the result stays") {
    // the loop localCheckpoints every round — blocks from prior rounds
    // and the edge table must be unpersisted eagerly, not left for the
    // ContextCleaner (at 100 TB label tables that lag is real memory
    // pressure). Only the returned final label table may remain.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = (0L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = NearDup.connectedComponents(pairs, maxIterations = 12)
    assert(cc.count() == 201)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1, s"leaked persisted RDDs: $leaked")
  }

  test("connectedComponents restores session conf even when it throws") {
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    val bcast0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val pairs = (0L until 100L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // a 100-node path cannot converge in 2 rounds → the fixpoint guard
    // must throw, and the loop's conf overrides must still roll back
    intercept[IllegalArgumentException] {
      NearDup.connectedComponents(pairs, maxIterations = 2)
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts0)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe0)
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == bcast0)
  }

  test("connectedComponents frees every pin when it throws") {
    // the non-convergence throw comes after the edge tables and two
    // label tables were pinned: none of them may stay behind
    val base = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val pairs = (0L until 99L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    intercept[IllegalArgumentException] {
      NearDup.connectedComponents(pairs, maxIterations = 2)
    }
    val left = TestSpark.persistedSince(base)
    assert(left.isEmpty, s"connectedComponents left persisted RDDs $left")
  }

  test("transitive dedup keepBy policy keeps the keepBy-max survivor") {
    val docs = Seq(
      (1L, "a", 0.2), (2L, "b", 0.9), (3L, "c", 0.5), (4L, "d", 0.9),
      (9L, "solo", 0.1)).toDF("doc_id", "text", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    // chain {1,2,3,4} collapses to ONE survivor: max quality 0.9 held
    // by 2 and 4, tie broken to the smaller id → 2; singleton 9 stays
    val labels = NearDup.connectedComponents(pairs)
    val keptBy = NearDup.dropNearDuplicatesFromLabelsBy(
        docs, "doc_id", labels, keepBy = col("quality"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptBy == Set(2L, 9L))
    // default policy on the same graph keeps min id
    val keptMin = NearDup.dropNearDuplicatesFromLabelsBy(
        docs, "doc_id", labels, keepBy = -col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptMin == Set(1L, 9L))
    // schema is preserved (policy column retained, no helper columns)
    val cols = NearDup.dropNearDuplicatesFromLabelsBy(
      docs, "doc_id", labels, keepBy = col("quality")).columns.toSeq
    assert(cols == Seq("doc_id", "text", "quality"))
  }

  test("repeatedWindows: cross-doc repeats only, positions and counts exact") {
    val shared = "a b c d e f g h" // one full 8-token window
    val docs = Seq(
      (1L, s"x1 x2 $shared"),          // shared window at pos 2
      (2L, s"$shared y1 y2"),          // shared window at pos 0
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8"), // unique window → omitted
      (4L, "w w w w w w w w w w"),     // within-doc repetition only → omitted
      (5L, "too short")).toDF("doc_id", "text")
    val out = NearDup.repeatedWindows(docs, "doc_id", col("text"), w = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 1L, 2L), (2L, 1L, 0L)))
  }

  test("quotaSample: caps per group, deterministic, stable under repartition") {
    val df = (0L until 100L).map(i => (i, s"src${i % 4}")).toDF("id", "src")
    val a = graft.ops.Sampling.quotaSample(df, col("src"), col("id"), 7)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(a.length == 28)
    assert(a.groupBy(_._2).forall(_._2.length == 7))
    val b = graft.ops.Sampling.quotaSample(df.repartition(13), col("src"),
      col("id"), 7).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(a.toSet == b.toSet) // hash order, not arrival order
    // quota above group size keeps everything
    val all = graft.ops.Sampling.quotaSample(df, col("src"), col("id"), 50)
    assert(all.count() == 100)
  }

  test("orderedConcat: order-key order; ties and non-BMP text by UTF-8 bytes") {
    def concat(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.groupBy("file").agg(Chunking.orderedConcat(col("id"), col("text")))
        .orderBy("file").collect().map(_.getString(1)).toSeq
    assert(concat(Seq(("f", 3L, "c"), ("f", 1L, "a"), ("f", 2L, "b"),
      ("g", 2L, "y"), ("g", 1L, "x")).toDF("file", "id", "text")
      .repartition(4)) == Seq("a b c", "x y"))
    // order-key ties resolve by text (sort_array on the struct)
    assert(concat(Seq(("t", 1L, "b"), ("t", 1L, "a"), ("t", 2L, "c"))
      .toDF("file", "id", "text").repartition(3)) == Seq("a b c"))
    // sort_array compares UTF8String bytes: "！" (U+FF01, EF BC 81) <
    // "😀" (U+1F600, F0 9F 98 80), the opposite of Java String order
    assert(concat(Seq(("u", 1L, "😀"), ("u", 1L, "！"))
      .toDF("file", "id", "text").repartition(2)) == Seq("！ 😀"))
  }

  test("chunkByTokens: sliding windows with overlap, truncated tail") {
    val df = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "only two"),
      (3L, (1 to 11).map(i => s"t$i").mkString(" ")),
      (4L, ""),                          // no tokens → no chunks
      (5L, null.asInstanceOf[String]))   // null text → no chunks
      .toDF("doc_id", "text")
    val out = Chunking.chunkByTokens(df, "doc_id", col("text"),
        window = 4, overlap = 2).orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // doc 1: starts 0,2,4,6 — a start at 8 would re-emit "t9 t10",
    // already fully contained in the previous window (tail <= overlap)
    assert(out.filter(_._1 == 1L).toSeq == Seq(
      (1L, 0L, "t1 t2 t3 t4", 4L),
      (1L, 1L, "t3 t4 t5 t6", 4L),
      (1L, 2L, "t5 t6 t7 t8", 4L),
      (1L, 3L, "t7 t8 t9 t10", 4L)))
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, "only two", 2L)))
    // doc 3 (11 tokens): the tail exceeds the overlap → truncated chunk
    assert(out.filter(_._1 == 3L).map(t => (t._2, t._3, t._4)).toSeq == Seq(
      (0L, "t1 t2 t3 t4", 4L), (1L, "t3 t4 t5 t6", 4L),
      (2L, "t5 t6 t7 t8", 4L), (3L, "t7 t8 t9 t10", 4L),
      (4L, "t9 t10 t11", 3L)))
    // empty/null docs emit nothing (no phantom window-token chunk)
    assert(!out.exists(r => r._1 == 4L || r._1 == 5L))
    // adjacent windows share exactly `overlap` tokens
    val texts = out.filter(_._1 == 3L).map(_._3.split(" ").toSeq).toSeq
    assert(texts.sliding(2).forall { case Seq(a, b) => a.takeRight(2) == b.take(2) })
  }

  test("fused MinHashSig expression equals the explode+agg formulation") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val viaAgg = NearDup.minhashSignaturesComposite(docs, "doc_id", col("text"))
      .orderBy("doc_id").collect().toSeq
    val viaExpr = NearDup.minhashSignaturesFused(docs, "doc_id", col("text"))
      .orderBy("doc_id").collect().toSeq
    assert(viaExpr == viaAgg)
    // divergence-prone inputs: empty, 1-token (filtered), tab/newline
    // whitespace (edge empty tokens), uppercase, non-BMP text
    val crafted = Seq((1L, ""), (2L, "solo"), (3L, "\tA  b\nc "),
      (4L, "UPPER case MiXeD"), (5L, "😀 emoji 😀 emoji pair"))
      .toDF("doc_id", "text")
    val a = NearDup.minhashSignaturesComposite(crafted, "doc_id", col("text"))
      .orderBy("doc_id").collect().toSeq
    val e = NearDup.minhashSignaturesFused(crafted, "doc_id", col("text"))
      .orderBy("doc_id").collect().toSeq
    assert(e == a)
    assert(e.map(_.getLong(0)) == Seq(3L, 4L, 5L)) // 1,2 gated out both ways
  }

  test("decontaminate: flags exact n-gram leaks, keeps clean docs, drops by threshold") {
    val bench = Seq((100L, "the capital of france is paris"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "we visited the capital of france last year"), // shares 2 trigrams
      (2L, "is paris burning tonight"),                    // bigram overlap only
      (3L, "completely unrelated text about zoning"),
      (4L, "capital of france is paris obviously"))        // shares 3 trigrams
      .toDF("doc_id", "text")
    val report = graft.ops.Decontaminate.contaminationReport(
        corpus, "doc_id", col("text"), bench, col("text"), n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(report == Map(1L -> 2L, 4L -> 3L),
      s"unexpected report: $report")
    val flagged = graft.ops.Decontaminate.contaminationReport(
        corpus, "doc_id", col("text"), bench, col("text"), n = 3)
      .filter(col("n_shared") >= 3).select("doc_id")
    val kept = corpus.join(flagged, Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L)) // only doc 4 crosses the 3-shingle bar
  }

  test("pairwise ops reject unbounded candidate sets (maxCandidates guard)") {
    val big = spark.range(0, 50).select(col("id").as("doc_id"),
      concat(lit("text "), col("id")).as("text"))
    val eJ = intercept[IllegalArgumentException] {
      NearDup.jaccardPairs(big, "doc_id", col("text"), 0.5, maxCandidates = 10)
    }
    assert(eJ.getMessage.contains("lshCandidatePairs"))
    val vecs = spark.range(0, 50).select(col("id").as("vec_id"),
      array(lit(1.0f), lit(2.0f)).as("embedding"))
    val eC = intercept[IllegalArgumentException] {
      NearDup.cosineNearDupPairs(vecs, "vec_id", col("embedding"), 0.9,
        maxCandidates = 10)
    }
    assert(eC.getMessage.contains("O(n^2)"))
    // at-the-bound passes
    assert(NearDup.jaccardPairs(big.limit(10), "doc_id", col("text"), 0.0,
      maxCandidates = 10).columns.contains("jaccard"))
  }

  test("jaccard exact value on crafted token sets") {
    val df = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val out = NearDup.jaccardPairs(df, "doc_id", col("text"), 0.0).head
    // |{a,b,c}| / |{a,b,c,d,e}| = 3/5
    assert(out.getAs[Double]("jaccard") == 0.6)
  }

  test("cosine near-dup pairs on crafted vectors") {
    val df = Seq(
      (1L, Array(1f, 0f, 0f)), (2L, Array(1f, 0.01f, 0f)), (3L, Array(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val pairs = NearDup.cosineNearDupPairs(df, "vec_id", col("embedding"), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }
}
