package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.ops.{NearDup, Chunking}

/** Scale-cliff smoke: replicates sf0.1 tables in-memory (id-offset
  * unions — no writes outside the repo) and times the cliff-risk
  * pipelines at 1× and 10×. A healthy operator scales ≈ linearly in
  * rows; a super-linear jump flags a join/candidate-set blowup the
  * small-SF bench can't see (q14 distinct volume, q36 window state,
  * q34 join fan-in). Run: `sbt "runMain graft.tools.ScaleSmoke"`. */
object ScaleSmoke {

  private def replicate(df: DataFrame, idCol: String, copies: Int,
      offset: Long): DataFrame =
    (0 until copies).map(k =>
      df.withColumn(idCol, col(idCol) + lit(k * offset)))
      .reduce(_.unionByName(_))

  def main(a: Array[String]): Unit = {
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors,
      appName = "graft-scale-smoke")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.sparkContext.setLogLevel("WARN")
    val d = "/root/testdata/sf0.1"
    def T(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"SMOKE $name ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      spark.catalog.clearCache()
    }
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
    // Q.events, not a raw read: events.ts has shipped as both long
    // nanos and timestamp[us] — the loader's type dispatch derives
    // ts_ms correctly for either (a raw `ts div 1000000` fails with
    // DATATYPE_MISMATCH on the timestamp type)
    val events = graft.queries.Q.events(spark, d)
    val lineitem = spark.read.parquet(s"$d/lineitem.parquet")
    val orders = spark.read.parquet(s"$d/orders.parquet")
    spark.read.parquet(s"$d/lineitem.parquet").count() // warmup

    // `runMain graft.tools.ScaleSmoke assign` → only the centroid-
    // assignment scaling section (dev loop for the quantizer work);
    // `recall` → only the ANN recall report
    val sections =
      if (a.isEmpty) Set("replicate", "assign", "recall") else a.toSet

    for (scale <- Seq(1, 10) if sections("replicate")) {
      val doc = replicate(docs.select("doc_id", "text"), "doc_id", scale, 10000000L)
      // minhash signature volume (fused sha kernel, map-only)
      T(s"minhash_sig x$scale") {
        NearDup.minhashSignaturesFused(doc, "doc_id", col("text"))
          .write.format("noop").mode("overwrite").save(); 0L
      }
      // LSH candidate pairs: the distinct-pairs volume grows with dup
      // density — replicated copies are mutual near-dups, the worst case
      val base = NearDup.withMutatedCopies(doc, "doc_id", "text")
      T(s"lsh_pairs x$scale") {
        val sigs = NearDup.minhashSignaturesFused(base, "doc_id", col("text"))
        val p = NearDup.lshCandidatePairs(sigs, "doc_id")
        p.write.format("noop").mode("overwrite").save(); 0L
      }
      // windowed sessionize shape (q36): window state per user
      val ev = replicate(events, "user_id", scale, 1000000L)
      T(s"window_family x$scale") {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts_ms")
        ev.withColumn("prev", lag("ts_ms", 1).over(w))
          .withColumn("gap", col("ts_ms") - col("prev"))
          .withColumn("sess", sum(when(col("gap") > 1800000 || col("gap").isNull, 1)
            .otherwise(0)).over(w))
          .groupBy("user_id", "sess").agg(count(lit(1)).as("n"),
            min("ts_ms").as("t0"), max("ts_ms").as("t1"))
          .write.format("noop").mode("overwrite").save(); 0L
      }
      // join+agg shape (q34): lineitem⋈orders shuffle join + top-k
      val li = replicate(lineitem.select("l_orderkey", "l_extendedprice", "l_discount"),
        "l_orderkey", scale, 100000000L)
      val or = replicate(orders.select("o_orderkey", "o_orderdate"), "o_orderkey",
        scale, 100000000L)
      T(s"join_topk x$scale") {
        li.join(or, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderdate")
          .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
          .orderBy(desc("rev")).limit(10)
          .write.format("noop").mode("overwrite").save(); 0L
      }
      // chunk-summarize shape (q09): window + ordered concat agg
      val seg = replicate(events.select(col("user_id"), col("event_id").as("id"),
        col("event_type").as("text"), (col("value") / 1000.0).as("nsp")),
        "user_id", scale, 1000000L)
      T(s"chunk_agg x$scale") {
        Chunking.chunkAggregate(seg.withColumn("file", col("user_id").cast("string")),
          "file", "id", "text", col("nsp") < 0.12, 100)
          .write.format("noop").mode("overwrite").save(); 0L
      }
      // fused minhash (q13 shape): map-only signature projection
      T(s"minhash_fused x$scale") {
        NearDup.minhashSignaturesFused(doc, "doc_id", col("text"))
          .write.format("noop").mode("overwrite").save(); 0L
      }
      // decontamination (q59 shape): shingle explode + broadcast join
      T(s"decontaminate x$scale") {
        graft.ops.Decontaminate.contaminationReport(
            doc.filter(col("doc_id") % 97 =!= 0), "doc_id", col("text"),
            doc.filter(col("doc_id") % 97 === 0), col("text"), n = 3)
          .write.format("noop").mode("overwrite").save(); 0L
      }
      // sequence packing (q60 shape): range exchange + prefix-sum jobs
      T(s"packing x$scale") {
        val toks = doc.select(col("doc_id"),
          size(split(lower(trim(col("text"))), "\\s+")).cast("long").as("n_tokens"))
        graft.ops.Packing.packByTokenBudget(toks, Seq(col("doc_id")),
            col("n_tokens"), 2048L)
          .write.format("noop").mode("overwrite").save(); 0L
      }
      // transitive dedup (q64 shape): LSH pairs → connected components
      // → anti join. Every word in a copy gets a per-copy PREFIX — a
      // bijective token rename, so each copy's shingle structure is
      // isomorphic to the original but disjoint across copies: the
      // pair graph is `scale` statistically-equivalent replicas of
      // the 1× graph (pairs scale by rows; identical-text copies
      // would instead blow up pairs quadratically and measure dup
      // density, not the CC machinery; an interleaved separator token
      // shares shingles WITHIN a copy and collapses band buckets).
      val docTagged = (0 until scale).map { k =>
        docs.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"c$k$$1").as("text"))
      }.reduce(_.unionByName(_))
      T(s"transitive_dedup x$scale") {
        val base = NearDup.withMutatedCopies(docTagged, "doc_id", "text")
        val pairs = NearDup.lshCandidatePairs(
          NearDup.minhashSignaturesFused(base, "doc_id", col("text")), "doc_id")
        NearDup.dropNearDuplicatesFromLabelsBy(base, "doc_id",
            NearDup.connectedComponents(pairs), -col("doc_id"))
          .write.format("noop").mode("overwrite").save(); 0L
      }
      // SemDeDup / kNN graph (q70/q79 shape): k GROWS with N so cell
      // membership stays ~constant (2000/8 = 20000/80 = 250) — the
      // knob that keeps the within-cell quadratic LINEAR in corpus
      // size. A fixed k at 10× rows would pay 100× pairwise work.
      val embS = replicate(emb.select("vec_id", "embedding"), "vec_id",
        scale, 10000000L)
      val cents = emb.orderBy("vec_id").limit(8 * scale)
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      T(s"semdedup x$scale") {
        graft.vector.SemDedup.dropSemanticDuplicates(embS, "vec_id",
            "embedding", graft.vector.FlatQuantizer(cents), threshold = 0.3)
          .write.format("noop").mode("overwrite").save(); 0L
      }
      T(s"knn_graph x$scale") {
        graft.vector.SemDedup.knnGraph(embS, "vec_id", "embedding",
          graft.vector.FlatQuantizer(cents), 3)
          .write.format("noop").mode("overwrite").save(); 0L
      }
      // exact-substring removal (q77 shape): stride-1 window explode,
      // doc-freq gate, coverage explode (8 positions per repeated
      // occurrence), per-doc rebuild — every term linear in tokens.
      // Tagged copies keep ordinary windows disjoint across copies;
      // the planted sentence (appended AFTER tagging) is global
      // boilerplate shared by every copy — the realistic mix.
      val docPlanted = docTagged.select(col("doc_id"),
        when(col("doc_id") % 25 === 0, concat(col("text"),
          lit(" shared city hall announcement for all residents tonight at seven")))
          .otherwise(col("text")).as("text"))
      T(s"substring_dedup x$scale") {
        NearDup.removeRepeatedWindows(docPlanted, "doc_id", col("text"), w = 8)
          .write.format("noop").mode("overwrite").save(); 0L
      }
      // TF-IDF (q74 shape): two hash aggs + per-doc window; tagged
      // copies scale the vocabulary with the corpus (disjoint per
      // copy), the worst case for the df table.
      T(s"tfidf x$scale") {
        graft.ops.TextAnalysis.tfidfTopTerms(docTagged, "doc_id", col("text"), 3)
          .write.format("noop").mode("overwrite").save(); 0L
      }
    }

    // ---- centroid-assignment scaling: flat O(k·dim) vs two-level
    // O((√k + k/√k)·dim) per row at FIXED N while k grows 80 → 2000.
    // This isolates the k ∝ N term (SemDedup.cellCountFor): flat wall
    // time should grow ~linearly in k, the two-level paths ~√k — the
    // difference between O(N²/cellSize) and O(N^1.5) total work at
    // the 100 TB design point where k reaches the millions.
    if (sections("assign")) {
      import graft.vector.Ivf
      val embF = replicate(emb.select("vec_id", "embedding"), "vec_id",
        10, 10000000L).cache()
      embF.count()
      for (k <- Seq(80, 500, 2000)) {
        val fine = emb.orderBy("vec_id").limit(k)
          .select("embedding").collect().map(_.getSeq[Float](0).toArray)
        val coarse = fine.take(Ivf.coarseCountFor(k))
        T(s"assign_flat k=$k") {
          Ivf.assignCells(embF, col("embedding"), fine)
            .select("vec_id", "ivf_cell")
            .write.format("noop").mode("overwrite").save(); 0L
        }
        T(s"assign_twolevel k=$k") {
          Ivf.assignCellsTwoLevel(embF, col("embedding"), fine, coarse)
            .select("vec_id", "ivf_cell")
            .write.format("noop").mode("overwrite").save(); 0L
        }
        // the off-driver form: fine centroids stay a DataFrame
        val fineDf = emb.filter(col("vec_id") < k)
          .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
        T(s"assign_twolevel_dist k=$k") {
          Ivf.assignCellsTwoLevelDist(embF, "vec_id", "embedding",
              fineDf, coarse)
            .select("vec_id", "ivf_cell")
            .write.format("noop").mode("overwrite").save(); 0L
        }
      }
      embF.unpersist()
    }

    // ---- ANN recall report at sf0.1: the eval a user runs before
    // trusting approximate retrieval — recall@10 of the LSH and IVF
    // paths vs exact brute force over a 32-query sample, printed as
    // the mean and min across queries. Numbers are data-dependent by
    // nature (this is the point of measuring), so this section
    // REPORTS rather than asserts; the hard thresholds live in
    // SimilaritySpec's planted-cluster tests.
    if (sections("recall")) {
      import graft.vector.{Pq, RecallReport}
      val queries = emb.filter(col("vec_id") % 157 === 3)
        .limit(32).select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      // the Q·N exact ground truth is the dominant cost and identical
      // across the three reports — compute it once, pin, share
      val exact = RecallReport.exactTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 10).localCheckpoint(true)
      def stats(rep: DataFrame): (Double, Double) = {
        val rs = rep.select("recall").collect().map(_.getDouble(0))
        (rs.sum / rs.length, rs.min)
      }
      T("recall_lsh_multiprobe") {
        val (mean, min) = stats(RecallReport.lshRecallAtK(emb, "vec_id",
          "embedding", queries, "qid", "qvec", k = 10, nPlanes = 8,
          exact = Some(exact)))
        println(f"RECALL lsh@10 mean=$mean%.3f min=$min%.3f"); 0L
      }
      val cents = Pq.trainCodebooksKmeansPar(emb, "vec_id", "embedding",
        m = 1, k = 16, iters = 2).codebooks.head
      for (nProbe <- Seq(2, 4)) {
        T(s"recall_ivf nProbe=$nProbe") {
          val (mean, min) = stats(RecallReport.ivfRecallAtK(emb, "vec_id",
            "embedding", queries, "qid", "qvec", k = 10, cents, nProbe,
            exact = Some(exact)))
          println(f"RECALL ivf@10 nProbe=$nProbe mean=$mean%.3f min=$min%.3f"); 0L
        }
      }
      exact.unpersist()
    }
    spark.stop()
  }
}
