package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.vector.{HashEmbedder, Similarity}

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosineSim matches manual double computation; handles zero vectors") {
    val df = Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f))).toDF("a", "b")
    val got = df.select(Similarity.cosineSim(col("a"), col("b"))).head.getDouble(0)
    val exp = (4.0 + 10.0 + 18.0) /
      (math.sqrt(1 + 4 + 9) * math.sqrt(16 + 25 + 36))
    assert(math.abs(got - exp) < 1e-15)
    val z = Seq((Array(0f, 0f), Array(1f, 1f))).toDF("a", "b")
    assert(z.select(Similarity.cosineSim(col("a"), col("b"))).head.getDouble(0) == 0.0)
  }

  test("cosineSim: orthogonal 0, identical 1") {
    val df = Seq((Array(1f, 0f), Array(0f, 1f), Array(1f, 0f))).toDF("a", "b", "c")
    val r = df.select(Similarity.cosineSim(col("a"), col("b")),
      Similarity.cosineSim(col("a"), col("c"))).head
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 1.0)
  }

  test("topK returns k rows in score-desc order, self first for member query") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 7).head.getSeq[Float](1).toArray
    val top = Similarity.topK(emb, "vec_id", "embedding", q, 5).collect()
    assert(top.length == 5)
    assert(top.head.getLong(0) == 7L && top.head.getDouble(1) == 1.0)
    assert(top.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("annTopK recall: planted near-neighbors are found") {
    // LSH's contract is "close vectors share buckets" — test it on a
    // corpus with actual structure (10 small perturbations of the query
    // among 200 uniform-random distractors), not on seed-luck over
    // uniform vectors where top-10 "neighbors" are barely non-random.
    val rnd = new scala.util.Random(7)
    val dim = 32
    val base = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    def perturb(eps: Float) = base.zipWithIndex.map { case (x, _) =>
      x + (rnd.nextFloat() * 2 - 1) * eps }
    val rows: Seq[(Long, Array[Float])] =
      (0L until 10L).map(i => (i, perturb(0.05f))) ++
      (10L until 210L).map(i => (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
    val emb = rows.toDF("vec_id", "embedding")
    val ann = Similarity.annTopK(emb, "vec_id", "embedding", base, 10, nPlanes = 4)
      .collect().map(_.getLong(0)).toSet
    val planted = (0L until 10L).toSet
    assert((planted & ann).size >= 8,
      s"planted-neighbor recall too low: ${(planted & ann).size}/10")
  }

  test("annTopK agrees across engines-style recompute (bucket determinism)") {
    // sha256-derived hyperplane signs: same bucket for the same vector
    // on every JVM/engine — the property that makes q20 oracle-checkable.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0).head.getSeq[Float](1).toArray
    val a = Similarity.annTopK(emb, "vec_id", "embedding", q, 10, nPlanes = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = Similarity.annTopK(emb, "vec_id", "embedding", q, 10, nPlanes = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b)
    assert(a.nonEmpty && a.head._1 == 0L && a.head._2 == 1.0)
  }

  test("recall report rows equal the single-query ann/ivf paths; full-probe ivf is exact") {
    import graft.vector.{Ivf, Pq, RecallReport}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qids = Seq(3L, 17L, 42L, 101L)
    val queries = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val k = 10
    val lshRep = RecallReport.lshRecallAtK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k, nPlanes = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val cents = Pq.trainCodebooksKmeansPar(emb, "vec_id", "embedding",
      m = 1, k = 4, iters = 2).codebooks.head
    val ivfRep = RecallReport.ivfRecallAtK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k, cents, nProbe = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(lshRep.keySet == qids.toSet && ivfRep.keySet == qids.toSet)
    // every report row must reproduce exactly what the production
    // single-query path returns for that query — same rounding, same
    // tie-break, same probe set
    for (q <- qids) {
      val qv = emb.filter(col("vec_id") === q).head.getSeq[Float](1).toArray
      val exact = Similarity.topK(emb, "vec_id", "embedding", qv, k)
        .collect().map(_.getLong(0)).toSet
      val ann = Similarity.annTopK(emb, "vec_id", "embedding", qv, k, nPlanes = 4)
        .collect().map(_.getLong(0)).toSet
      val ivf = Ivf.ivfTopK(emb, "vec_id", "embedding", qv, k, cents, nProbe = 1)
        .collect().map(_.getLong(0)).toSet
      assert(lshRep(q)._1 == exact.size && lshRep(q)._2 == (exact & ann).size,
        s"lsh mismatch for qid=$q")
      assert(ivfRep(q)._1 == exact.size && ivfRep(q)._2 == (exact & ivf).size,
        s"ivf mismatch for qid=$q")
      // self-query: the query vector is a corpus member, so both
      // approximate paths must at least find the query itself
      assert(ann.contains(q) && ivf.contains(q))
    }
    // probing EVERY cell degenerates to brute force: recall 1.0 across
    // the board — the calibration anchor of the report
    val full = RecallReport.ivfRecallAtK(emb, "vec_id", "embedding",
      queries, "qid", "qvec", k, cents, nProbe = cents.length)
    assert(full.collect().forall(_.getDouble(3) == 1.0))
  }

  test("recall report on planted clusters: multiprobe LSH clears 0.8") {
    import graft.vector.RecallReport
    // 4 tight clusters among distractors; queries at the cluster bases —
    // recall here is a real retrieval claim, not seed luck (the annTopK
    // planted-neighbor treatment, extended to the report operator)
    val rnd = new scala.util.Random(11)
    val dim = 32
    val bases = Array.fill(4)(Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    def perturb(b: Array[Float], eps: Float) =
      b.map(x => x + (rnd.nextFloat() * 2 - 1) * eps)
    val rows: Seq[(Long, Array[Float])] =
      bases.zipWithIndex.flatMap { case (b, c) =>
        (0 until 10).map(i => ((c * 10 + i).toLong, perturb(b, 0.05f)))
      }.toSeq ++
      (100L until 300L).map(i => (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
    val emb = rows.toDF("vec_id", "embedding")
    val queries = bases.zipWithIndex.map { case (b, c) => (c.toLong, b) }
      .toSeq.toDF("qid", "qvec")
    val rep = RecallReport.lshRecallAtK(emb, "vec_id", "embedding",
      queries, "qid", "qvec", k = 10, nPlanes = 4).collect()
    assert(rep.length == 4)
    val mean = rep.map(_.getDouble(3)).sum / rep.length
    assert(mean >= 0.8, s"mean multiprobe recall $mean < 0.8: " +
      rep.map(r => s"${r.getLong(0)}=${r.getDouble(3)}").mkString(", "))
  }

  test("hash embedder: deterministic, normalized, content-sensitive") {
    val e = new HashEmbedder(dim = 64)
    val a = e.embed("the quick brown fox")
    val b = e.embed("the quick brown fox")
    val c = e.embed("something else entirely")
    assert(a.toSeq == b.toSeq)
    assert(a.toSeq != c.toSeq)
    val norm = math.sqrt(a.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-6)
    assert(e.embed("").forall(_ == 0f))
  }

  // ---- leave-one-out k-NN classification ----

  test("knnClassify: planted clusters classify perfectly, leave-one-out excludes self") {
    import graft.vector.KnnClassify
    // 3 tight clusters along distinct axes; cosine separates them fully
    def jit(base: Array[Float], i: Int): Array[Float] =
      base.zipWithIndex.map { case (x, d) => x + 0.01f * ((i + d) % 3) }
    val rows = (0 until 30).map { i =>
      val lbl = i % 3
      val base = Array.tabulate(8)(d => if (d == lbl) 10f else 0f)
      (i.toLong, jit(base, i), lbl)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val rep = KnnClassify.knnClassify(df, "vec_id", "embedding", "label", df, k = 5)
    val got = rep.collect()
    assert(got.length == 30)
    assert(got.forall(_.getBoolean(4)), "planted clusters must classify perfectly")
    // unanimous: 9 same-label neighbors remain after self-exclusion, k=5
    assert(got.forall(_.getLong(3) == 5L))
  }

  test("knnClassify: self never votes, k larger than corpus degrades gracefully") {
    import graft.vector.KnnClassify
    // 2 rows per label; query = corpus. With self excluded, the nearest
    // neighbor of each row is its twin -> correct; k=10 > corpus-1 keeps
    // every other row in the vote (4 votes total: 1 twin + 3 others)
    val df = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(0.99f, 0.01f), 0),
      (2L, Array(0f, 1f), 1), (3L, Array(0.01f, 0.99f), 1),
      (4L, Array(0.7f, 0.7f), 2)).toDF("vec_id", "embedding", "label")
    val rep = KnnClassify.knnClassify(df, "vec_id", "embedding", "label", df, k = 10)
      .collect()
    assert(rep.length == 5)
    // with k >= corpus-1 every query sees exactly corpus-1 = 4 votes in
    // its window; the vote multiset per query never contains its own id,
    // so label 2 (singleton) cannot predict itself
    val lbl2 = rep.find(_.getLong(0) == 4L).get
    assert(lbl2.getInt(2) != 2, "singleton class must not vote for itself")
  }

  test("knnClassifyCells under a one-cell quantizer equals exact knnClassify on the full corpus") {
    import graft.vector.{FlatQuantizer, KnnClassify}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // one centroid -> every row lands in cell 0 -> the cell join IS the
    // all-pairs candidate set, so the approximate path must reproduce
    // the exact one bit-for-bit
    val oneCell = FlatQuantizer(Array(Array.fill(64)(0.1f)))
    val cells = KnnClassify.knnClassifyCells(emb, "vec_id", "embedding",
      "label", oneCell, k = 7).collect().toSeq
    val exact = KnnClassify.knnClassify(emb, "vec_id", "embedding",
      "label", emb, k = 7).collect().toSeq
    assert(cells == exact)
  }

  test("knnClassifyCells: planted clusters with matching centroids classify perfectly") {
    import graft.vector.{FlatQuantizer, KnnClassify}
    val rows = (0 until 30).map { i =>
      val lbl = i % 3
      val base = Array.tabulate(8)(d => if (d == lbl) 10f else 0f)
      (i.toLong, base.zipWithIndex.map { case (x, d) => x + 0.01f * ((i + d) % 3) }, lbl)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val cents = (0 until 3).map(l =>
      Array.tabulate(8)(d => if (d == l) 10f else 0f)).toArray
    val rep = KnnClassify.knnClassifyCells(df, "vec_id", "embedding",
      "label", FlatQuantizer(cents), k = 5).collect()
    assert(rep.length == 30)
    assert(rep.forall(_.getBoolean(4)))
    assert(rep.forall(_.getLong(3) == 5L)) // unanimous within the cell

    // confusion matrix of a perfect classifier: diagonal only, share 1
    val cm = KnnClassify.confusionMatrix(
      KnnClassify.knnClassifyCells(df, "vec_id", "embedding",
        "label", FlatQuantizer(cents), k = 5)).collect()
    assert(cm.length == 3)
    assert(cm.forall(r => r.getInt(0) == r.getInt(1)))
    assert(cm.forall(r => r.getLong(2) == 10L && r.getDouble(3) == 1.0))
  }

  test("truncatedDimRecallAtK: full-width truncation is exact (recall 1), prefix is within [0,1]") {
    import graft.vector.RecallReport
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val full = RecallReport.truncatedDimRecallAtK(emb, "vec_id", "embedding",
      qs, "qid", "qv", k = 5, dims = 64).collect()
    assert(full.length == 10)
    assert(full.forall(_.getDouble(3) == 1.0), "dims = full width must reproduce exact top-k")
    val prefix = RecallReport.truncatedDimRecallAtK(emb, "vec_id", "embedding",
      qs, "qid", "qv", k = 5, dims = 8).collect()
    assert(prefix.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
    // every query finds ITSELF even truncated (self-cosine 1 at any prefix
    // with nonzero norm) — spot the diagonal surviving
    assert(prefix.forall(_.getLong(1) == 5L))
  }

  test("embeddingHealthReport flags ragged dims, zero vectors, and NaN payloads") {
    val rows = Seq(
      (1L, Array(3f, 4f)),               // norm 5
      (2L, Array(0f, 0f)),               // zero vector
      (3L, Array(1f, 0f, 0f)),           // ragged dim, norm 1
      (4L, Array(Float.NaN, 1f))         // NaN payload
    ).toDF("id", "vec")
    val r = graft.vector.VectorHealth
      .embeddingHealthReport(rows, col("vec")).head()
    assert(r.getLong(0) == 4L, "n_vecs")
    assert(r.getLong(1) == 2L, "two distinct dims")
    assert((r.getInt(2), r.getInt(3)) == ((2, 3)), "dim range")
    assert(r.getLong(4) == 1L, "one zero vector")
    assert(r.getLong(5) == 1L, "one NaN vector")
    assert(r.getDouble(6) == 0.0, "min norm is the zero vector's")
    // the NaN vector must NOT poison the extrema: max is the clean 5.0
    assert(r.getDouble(7) == 5.0, "max_norm must exclude NaN vectors")
    // clean corpus: all-zero defect counts
    val clean = Seq((1L, Array(3f, 4f)), (2L, Array(6f, 8f))).toDF("id", "vec")
    val c = graft.vector.VectorHealth
      .embeddingHealthReport(clean, col("vec")).head()
    assert(c.getLong(4) == 0L && c.getLong(5) == 0L)
    assert((c.getDouble(6), c.getDouble(7)) == ((5.0, 10.0)))
  }

  test("quantizationErrorReport: error bounded by half a quantization step, zero vectors excluded") {
    val rows = Seq(
      (1L, Array(1f, -0.5f, 0.25f)),
      (2L, Array(0f, 0f, 0f)),           // excluded (scale 0)
      (3L, Array(0.1f, 0.2f, -0.3f))
    ).toDF("id", "vec")
    val got = graft.vector.VectorHealth
      .quantizationErrorReport(rows, "id", col("vec"))
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(!got.contains(2L), "zero vector must be excluded")
    got.foreach { case (id, (mse, maxErr, scale)) =>
      // symmetric int8: |err| <= scale/254 + float cast ulp slack
      val bound = scale / 254.0 + 1e-6
      assert(maxErr <= bound, s"id=$id maxErr=$maxErr bound=$bound")
      assert(mse <= bound * bound + 1e-12 && mse >= 0.0)
    }
    // exactly representable values round-trip with zero error
    val exact = Seq((9L, Array(127f, -127f, 0f))).toDF("id", "vec")
    val e = graft.vector.VectorHealth
      .quantizationErrorReport(exact, "id", col("vec")).head()
    assert(e.getDouble(1) == 0.0 && e.getDouble(2) == 0.0)
  }
}
