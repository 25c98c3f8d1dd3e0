package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.NearDup

/** sf10 datum for the ITERATIVE families — the two-orders-above-
  * correctness-sf check that the loop disciplines hold where the
  * small benches cannot see them break:
  *
  *  - q64/q66 (connected components): iteration count must stay
  *    ~log(component diameter) as the graph grows 100× — a linear
  *    creep would mean the pointer jump stopped compounding.
  *  - q83 (kNN + PageRank): k grows with N (cellCountFor), so the
  *    edge build must ride the two-level quantizer, and the
  *    per-iteration join+agg must stay row-linear.
  *  - q85 / signature store: probing a FIXED-size batch must cost
  *    the same against a 100× corpus store as against a 1× store —
  *    the partition-pruned probe is the whole point of the store.
  *
  * Generates documents/embeddings at 100× sf0.1 under target/sf10
  * (GenScale's tagging discipline: per-copy word prefixes keep copies
  * shingle-disjoint, per-copy embedding perturbation breaks top-k
  * ties; ~140 MB, inside the repo). Run:
  * `sbt "runMain graft.tools.Sf10Probe"`.
  */
object Sf10Probe {

  def main(a: Array[String]): Unit = {
    val copies = a.headOption.map(_.toInt).getOrElse(100)
    val out = "target/sf10"
    val src = "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def T(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"PROBE $name ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      spark.catalog.clearCache()
    }

    val docs1 = spark.read.parquet(s"$src/documents.parquet")
      .select("doc_id", "text")
    val emb1 = spark.read.parquet(s"$src/embeddings.parquet")
      .select("vec_id", "embedding")
    // per-copy id offset far above the mutated-copy +1e6 convention
    val off = 10000000L
    T(s"gen documents x$copies") {
      // copy 0 stays UNtagged (identical to sf0.1): the fixed-batch
      // store probe below must find its real neighborhood inside the
      // 100× store, not be shingle-disjoint from all of it
      (0 until copies).map { k =>
        val shifted = docs1.select(
          (col("doc_id") + lit(k * off)).as("doc_id"), col("text"))
        if (k == 0) shifted
        else shifted.withColumn("text",
          regexp_replace(col("text"), "(\\S+)", s"c$k$$1"))
      }.reduce(_.unionByName(_))
        .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
      0L
    }
    T(s"gen embeddings x$copies") {
      (0 until copies).map { k =>
        emb1.select((col("vec_id") + lit(k * off)).as("vec_id"),
          transform(col("embedding"), x => x + lit(k * 0.001f)).as("embedding"))
      }.reduce(_.unionByName(_))
        .repartition(16).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      0L
    }
    val docs100 = spark.read.parquet(s"$out/documents.parquet")
    val emb100 = spark.read.parquet(s"$out/embeddings.parquet")

    // ---- q64/q66: connected components at 1× and 100× ----
    def ccRun(docs: DataFrame, tag: String): Unit = {
      val base = NearDup.withMutatedCopies(docs, "doc_id", "text")
      val pairs = NearDup.lshCandidatePairs(
        NearDup.minhashSignaturesFused(base, "doc_id", col("text")), "doc_id")
        .localCheckpoint()
      val nPairs = pairs.count()
      T(s"cc $tag ($nPairs pairs)") {
        NearDup.connectedComponents(pairs).count()
      }
      T(s"keep_best $tag") {
        NearDup.dropNearDuplicatesTransitive(base, "doc_id", pairs).count()
      }
      pairs.unpersist()
    }
    // GRAFT_PROBE_ONLY=cc|pagerank|store|labels|nb|pca|bpe|pq skips the other
    // families — a dev shortcut while iterating on one family's
    // instrumentation. Committed probe records come from FULL runs
    // (the families share a JVM and their numbers are compared
    // across rounds) unless the PLANS.md entry says otherwise.
    val only = sys.env.get("GRAFT_PROBE_ONLY")
    def family(name: String)(body: => Unit): Unit =
      if (only.forall(_ == name)) body

    family("cc") {
      ccRun(docs1, "x1")
      ccRun(docs100, s"x$copies")
    }

    // ---- q83: corpus-scaled kNN edges + PageRank at 1× and 100× ----
    def prRun(emb: DataFrame, tag: String): Unit = {
      val n = emb.count()
      val k = graft.vector.SemDedup.cellCountFor(n)
      val fine = graft.vector.Ivf.seedCentroids(emb, "vec_id", "embedding", k)
      val quant = graft.vector.TwoLevelQuantizer(
        fine, fine.take(graft.vector.Ivf.coarseCountFor(k)))
      T(s"knn_pagerank $tag (n=$n k=$k)") {
        val knn = graft.vector.SemDedup.knnGraph(emb, "vec_id", "embedding",
          quant, k = 3)
        graft.ops.Graph.pageRank(
          knn.select(col("vec_id").as("src"), col("neighbor").as("dst")),
          iterations = 5, damping = 0.85).count()
      }
    }
    family("pagerank") {
      prRun(emb1, "x1")
      prRun(emb100, s"x$copies")
    }

    // ---- q85 / signature store: fixed batch, growing corpus ----
    // The SAME ~5k-doc batch (mutated copies of copy 0) probes a 1×
    // store and a 100× store; batch-proportionality = both probes in
    // the same ballpark despite the 100× corpus behind the second.
    // batchSigs/batchPairs are LAZY: only the store/labels families
    // consume them, and a GRAFT_PROBE_ONLY run of another family must
    // not pay the minhash+LSH setup they eagerly materialize.
    lazy val batch = NearDup.withMutatedCopies(docs1, "doc_id", "text")
      .filter(col("doc_id") >= 1000000)
    lazy val batchSigs = NearDup
      .minhashSignaturesFused(batch, "doc_id", col("text"))
      .localCheckpoint()
    val hfs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    family("store") {
      for ((corpus, tag) <- Seq((docs1, "x1"), (docs100, s"x$copies"))) {
        val store = s"$out/sigstore_$tag"
        hfs.delete(new org.apache.hadoop.fs.Path(store), true) // fresh ingest
        T(s"store_ingest $tag") {
          NearDup.appendSignatureStore(
            NearDup.minhashSignaturesFused(corpus, "doc_id", col("text")),
            "doc_id", store)
          0L
        }
        T(s"store_probe_fixed_batch vs $tag corpus") {
          NearDup.probeSignatureStore(spark, store, batchSigs, "doc_id").count()
        }
      }
    }
    // ---- label store: fixed batch merged into 1× vs 100× labels ----
    // Bootstrap each store from its corpus's full pair set, then merge
    // the SAME fixed batch of new pairs (one doc slice bridged to its
    // mutated copies). The claim under test: the touched-subgraph
    // re-converge is batch-proportional — only the pass-through
    // rewrite is corpus-linear (shuffle-free, documented) — so the
    // 100× merge should cost far less than 100× the 1× merge.
    lazy val batchPairs = {
      val p = NearDup.lshCandidatePairs(batchSigs, "doc_id")
        .localCheckpoint(true) // eager: materialize before batchSigs is freed
      batchSigs.unpersist()
      p
    }
    family("labels") { for ((corpus, tag) <- Seq((docs1, "x1"), (docs100, s"x$copies"))) {
      val lpath = s"$out/labels_$tag"
      hfs.delete(new org.apache.hadoop.fs.Path(lpath), true)
      hfs.delete(new org.apache.hadoop.fs.Path(lpath + ".old"), true)
      val corpusPairs = NearDup.lshCandidatePairs(
        NearDup.minhashSignaturesFused(corpus, "doc_id", col("text")),
        "doc_id")
      T(s"labels_bootstrap $tag") {
        graft.ops.LabelStore.merge(spark, lpath, corpusPairs)
        0L
      }
      T(s"labels_merge_fixed_batch vs $tag corpus") {
        graft.ops.LabelStore.merge(spark, lpath, batchPairs)
        graft.ops.LabelStore.read(spark, lpath).count()
      }
      // r17 evidence line for the bucket-swap claim, measured with a
      // ONE-PAIR batch (one stored node bridged to one new id — the
      // shape of a quiet streaming tick): the merge must (a) rewrite
      // only that component's bucket(s), leaving every other dir
      // byte-identical (sha256 per file — name+len+mtime can miss a
      // same-size rewrite), and (b) READ only the touched buckets:
      // Hadoop's local-FS StorageStatistics counts actual file bytes
      // read (block-manager/checkpoint traffic is invisible to it,
      // unlike task inputMetrics), so the delta across the merge is
      // the store bytes the partition-pruned scans really touched,
      // plus the staged write's own footer reads.
      def dirSnapshot(): Map[String, Seq[(String, String)]] = {
        val root = new java.io.File(lpath)
        root.listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("comp_bucket="))
          .map { d =>
            d.getName -> d.listFiles().filter(_.isFile).sortBy(_.getName)
              .toSeq.map { f =>
                val dig = java.security.MessageDigest.getInstance("SHA-256")
                  .digest(java.nio.file.Files.readAllBytes(f.toPath))
                (f.getName, java.util.Base64.getEncoder.encodeToString(dig))
              }
          }.toMap
      }
      val someNode = graft.ops.LabelStore.read(spark, lpath)
        .orderBy(col("node")).head.getLong(0)
      val tinyBatch = {
        import spark.implicits._
        Seq((someNode, 987654321098L)).toDF("doc_a", "doc_b")
      }
      val beforeSnap = dirSnapshot()
      val storeBytes = new java.io.File(lpath).listFiles()
        .filter(_.isDirectory).flatMap(_.listFiles()).map(_.length).sum
      def fsBytesRead(): Long =
        Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
          .get("file")).flatMap(s => Option(s.getLong("bytesRead"))
          .map(_.longValue)).getOrElse(0L)
      val readBefore = fsBytesRead()
      T(s"labels_merge_tiny_batch vs $tag corpus") {
        graft.ops.LabelStore.merge(spark, lpath, tinyBatch); 0L
      }
      val readDelta = fsBytesRead() - readBefore
      val afterSnap = dirSnapshot()
      val changed = afterSnap.keySet.union(beforeSnap.keySet)
        .filter(d => beforeSnap.get(d) != afterSnap.get(d))
      // The locality claim, as a falsifiable bound: a one-pair batch
      // touches ≤2 components (the two endpoints' — they converge to
      // one), so ≤2 bucket dirs may differ byte-wise. A full-rewrite
      // regression would flip this to buckets_total and fail loudly.
      val localityOk = changed.size <= 2
      println(s"PROBE labels_merge_evidence $tag: " +
        s"buckets_total=${beforeSnap.size} buckets_changed=${changed.size} " +
        s"write_locality_bound_ok=$localityOk " +
        s"merge_fs_bytes_read=$readDelta store_bytes=$storeBytes")
    } }
    // forcing the lazy val here would BUILD it just to free it
    if (only.forall(_ == "labels")) batchPairs.unpersist()

    // ---- NB classifier: sparse training + fixed-batch scoring ----
    // The claims under test at 100×: (a) training is ONE counting
    // pass — cost grows ~linearly with the corpus, no iteration, no
    // driver state; (b) the sparse trainer's model stays at observed-
    // pair size while the dense grid it replaces would be
    // vocab×classes (the x100 tagging multiplies vocab ~100×, the
    // worst case for the dense shape); (c) scoring a FIXED batch
    // against a grown model costs the model scan, nothing
    // corpus-shaped — both scoring shapes measured side by side.
    family("nb") {
      val batchDocs = docs1.filter(col("doc_id") < 5000).localCheckpoint()
      val nBatch = batchDocs.count()
      for ((corpus, tag) <- Seq((docs1, "x1"), (docs100, s"x$copies"))) {
        // k·off ≡ 0 (mod 20), so every copy keeps the label mix
        val lbl = concat(lit("src"), pmod(col("doc_id"), lit(20)).cast("string"))
        var model: DataFrame = null
        T(s"nb_train_sparse $tag") {
          model = graft.ops.TextClassifier
            .trainNaiveBayesSparse(corpus, lbl, col("text")).localCheckpoint()
          model.count()
        }
        val sparseRows = model.count()
        val vocab = model.select("term").distinct().count()
        // On THIS synthetic corpus every term occurs in every class
        // (one shared word pool), so sparse_rows == dense_grid_rows —
        // the saving the sparse trainer exists for appears only under
        // real vocabulary skew. The probe's claims are the timings.
        println(s"PROBE nb_model $tag: sparse_rows=$sparseRows " +
          s"vocab=$vocab dense_grid_rows=${vocab * 20}")
        T(s"nb_classify_fixed_batch(replicate, n=$nBatch) vs $tag model") {
          graft.ops.TextClassifier.classifyNaiveBayes(
            batchDocs, col("doc_id"), col("text"), model).count()
        }
        T(s"nb_score_fixed_batch(many_classes, n=$nBatch) vs $tag model") {
          graft.ops.TextClassifier.scoreNaiveBayesManyClasses(
            batchDocs, col("doc_id"), col("text"), model).count()
        }
        model.unpersist() // x1 checkpoint must not shade the x100 timings
      }
      batchDocs.unpersist()
    }

    // ---- q150-q152: PCA moments at 1× and 100×, incremental fold ----
    // Claims under test: `fit` is ONE scan pass (x1→x100 must scale
    // no worse than row-linear — an accidental explode or per-row
    // d² shuffle would blow up 100×); folding a FIXED batch into the
    // moments store costs the batch pass + an O(dim²) row rewrite,
    // corpus-INDEPENDENT; refitting from the store never rescans.
    family("pca") {
      for ((corpus, tag) <- Seq((emb1, "x1"), (emb100, s"x$copies"))) {
        T(s"pca_fit $tag") {
          graft.vector.Pca.fit(corpus, "embedding").n
        }
      }
      val batchEmb = emb1.filter(col("vec_id") < 500).localCheckpoint()
      val nb = batchEmb.count()
      val store = s"$out/pca_moments"
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(store), true)
      T(s"pca_store_init(x$copies corpus)") {
        graft.vector.Pca.updateMomentsStore(spark, store, emb100, "embedding")
        1L
      }
      T(s"pca_store_fold_fixed_batch(n=$nb)") {
        graft.vector.Pca.updateMomentsStore(spark, store, batchEmb, "embedding")
        1L
      }
      T("pca_fit_from_store") {
        graft.vector.Pca.fitFromMoments(spark.read.parquet(store)).n
      }
      batchEmb.unpersist()
    }

    // ---- q157-q160: BPE training at 1× and 100× ----
    // Claims under test: the word histogram is the ONLY corpus-sized
    // stage (x1→x100 no worse than row-linear); training over the
    // truncated histogram is corpus-independent (driver loop) or
    // histogram-bounded (distributed); tokenizing a fixed batch
    // against an x100-trained vocab costs the batch, not the corpus.
    // The x100 corpus prefixes every word per copy (c1…c99), so its
    // vocab is ~100× wider — the truncation path actually binds.
    family("bpe") {
      for ((corpus, tag) <- Seq((docs1, "x1"), (docs100, s"x$copies"))) {
        T(s"bpe_hist $tag") {
          graft.ops.Bpe.wordHistogram(corpus, "text").count()
        }
        T(s"bpe_train_driver(16 merges) $tag") {
          graft.ops.Bpe.fitFromCorpus(corpus, "text", 16).size.toLong
        }
      }
      T(s"bpe_train_distributed(16 merges) x$copies") {
        graft.ops.Bpe.trainMergesDistributed(
          graft.ops.Bpe.wordHistogram(docs100, "text"), 16).size.toLong
      }
      val merges100 = graft.ops.Bpe.fitFromCorpus(docs100, "text", 16)
        .map(m => (m.left, m.right))
      val batchDocs = docs1.filter(col("doc_id") < 5000).localCheckpoint()
      val nbd = batchDocs.count()
      T(s"bpe_tokenize_fixed_batch(n=$nbd) vs x$copies vocab") {
        graft.ops.Bpe.tokenize(batchDocs, "text", merges100).count()
      }
      batchDocs.unpersist()
    }

    // ---- q166-q169: product quantization at 1× and 100× ----
    // Claims under test: training is one encode+partial-agg pass per
    // Lloyd round (x1→x100 row-linear; only dim·k doubles reach the
    // driver); encoding is map-only against broadcast codebooks
    // (row-linear); ADC top-k on a trained model is one map-only scan
    // + TakeOrdered (row-linear, no float column in the scoring path).
    family("pq") {
      import graft.vector.Pq
      var mod100: Pq.PqModel = null
      for ((corpus, tag) <- Seq((emb1, "x1"), (emb100, s"x$copies"))) {
        T(s"pq_train(m=8,k=16,1 round) $tag") {
          val m = Pq.trainCodebooks(corpus, "vec_id", "embedding", 8, 16)
          mod100 = m // keep the timed x100 model; no second training pass
          m.k.toLong
        }
      }
      for ((corpus, tag) <- Seq((emb1, "x1"), (emb100, s"x$copies"))) {
        T(s"pq_encode $tag") {
          Pq.encode(corpus, col("embedding"), mod100).count()
        }
        T(s"pq_adc_top10 $tag") {
          val q = corpus.orderBy("vec_id").select("embedding")
            .head().getSeq[Float](0).toArray
          Pq.pqTopK(corpus, "vec_id", "embedding", q, 10, mod100).count()
        }
      }
    }
    // ---- q174/q175: adaptive training + the nProbe sweep at 1×/100× ----
    // Claims under test: adaptive training is exactly N Lloyd passes
    // (row-linear, 2× the one-round trainer); the sweep prices its
    // whole nProbe grid off ONE shared encode+ADC pass at max(nProbe)
    // (row-linear in the probed frontier, never grid × scans).
    family("pqsweep") {
      import graft.vector.{Ivf, Pq}
      val n1 = emb1.count()
      // re-densify the per-copy id offsets: the strided seeder's
      // dense-id contract (every ⌊c·N/k⌋ target must exist)
      def dense(df: DataFrame) = df.withColumn("vec_id",
        (col("vec_id") / off).cast("long") * n1 + pmod(col("vec_id"), lit(off)))
      for ((corpus0, tag) <- Seq((emb1, "x1"), (emb100, s"x$copies"))) {
        val corpus = dense(corpus0)
        T(s"pq_train_adaptive(2 rounds) $tag") {
          Pq.trainCodebooksAdaptive(corpus, "vec_id", "embedding", 8, 16)
            .k.toLong
        }
        val mod = Pq.trainCodebooks(corpus, "vec_id", "embedding", 8, 16)
        val cents = Ivf.seedCentroids(corpus, "vec_id", "embedding", 8)
        val queries = corpus.where(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        T(s"pq_nprobe_sweep(1/2/4/8, 20q) $tag") {
          Pq.ivfPqRecallSweep(corpus, "vec_id", "embedding", queries,
            "qid", "qv", 10, mod, cents, Seq(1, 2, 4, 8)).count()
        }
      }
    }
    spark.stop()
  }
}
