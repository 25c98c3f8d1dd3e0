package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.Store

/** ONE parameterized contract suite for every on-disk store family:
  * signatures, labels, pairs, NB stats, BPE merges, PQ index and
  * council state. Every family commits through `graft.io.Store`'s
  * manifest log; this suite states the shared contract ONCE and
  * instantiates it per family, so the next store inherits the proofs
  * by filling in a `StoreFamily` row. The family-specific pins (bucket
  * pruning, byte-equality of untouched buckets, redelivery via a real
  * streaming restart) stay in GraphSpec/PqSpec/StreamsSpec.
  *
  * Contract dimensions (each family declares what it supports):
  *  - the crash window: a commit that wrote its data files but never
  *    published its manifest reads as epoch N, and the next write
  *    leaves only the files of epoch N+1;
  *  - replay-safe redelivery: re-applying the family's replay-safe
  *    ingest (an idempotent merge, a distinct-pairs probe over an
  *    append, a replayed streaming batch, an overwrite-save) leaves the
  *    decision view unchanged;
  *  - compaction invariance: the decision view is identical before and
  *    after compaction, and the data-file count does not grow;
  *  - layout: a call whose layout differs from manifest 0 throws
  *    before any Spark job runs, and the store is unchanged.
  * After every call that returns, each store's non-hidden files are
  * exactly its latest manifest's.
  */
class StoreContractSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** One store family's instantiation of the contract. `batches` are
    * two ingests into a fresh family root (the incremental shape);
    * `stores` are the store directories under that root; `snapshot` is
    * the family's canonical DECISION view read through its reader. */
  private final case class StoreFamily(
      name: String,
      batches: Seq[String => Unit],
      snapshot: String => Seq[String],
      stores: Seq[String] = Seq(""),
      replay: Option[(String, String => Unit)] = None,
      compact: Option[String => Unit] = None,
      mismatch: Option[(String, String => Unit)] = None) {
    def build(path: String): Unit = batches.foreach(_(path))
  }

  private def fmt(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def fsOf(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Non-hidden files under a store, relative to it. */
  private def visible(path: String): Set[String] = {
    val root = new java.io.File(path)
    def walk(f: java.io.File, rel: String): Seq[String] =
      if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else if (f.isDirectory)
        f.listFiles().toSeq.flatMap(c => walk(c, rel + f.getName + "/"))
      else Seq(rel + f.getName)
    if (!root.isDirectory) Set.empty
    else root.listFiles().toSeq.flatMap(walk(_, "")).toSet
  }

  private def dataFiles(path: String): Int =
    visible(path).count(_.split("/").last.startsWith("part-"))

  private def storePath(f: StoreFamily, path: String, s: String): String =
    if (s.isEmpty) path else s"$path/$s"

  /** The invariant every returning store call keeps. */
  private def assertClean(f: StoreFamily, path: String): Unit =
    f.stores.map(storePath(f, path, _)).foreach { p =>
      assert(visible(p) == Store.files(spark, p).toSet,
        s"${f.name}: files under $p differ from its latest manifest")
    }

  // ---------- fixtures ----------

  /** Near-dup-structured docs: 7 text groups → LSH band collisions. */
  private lazy val docs: DataFrame = (0 until 40).map { i =>
    (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta grp${i % 7}")
  }.toDF("doc_id", "text")
  private def sigs(df: DataFrame) =
    graft.ops.NearDup.minhashSignaturesFused(df, "doc_id", col("text"))
  private lazy val probeDocs = docs.where(col("doc_id") < 5)

  private lazy val pairs: DataFrame = (0 until 20).map { i =>
    (i.toLong, (i + (i % 3) + 1).toLong)
  }.toDF("doc_a", "doc_b")

  private lazy val embs: DataFrame = (0 until 32).map { i =>
    (i.toLong, Seq.tabulate(8)(j => ((i * 7 + j * 3) % 13).toFloat / 13f))
  }.toDF("vec_id", "embedding")

  private lazy val labeled: DataFrame = (0 until 24).map { i =>
    (i.toLong, s"lab${i % 3}", s"tok${i % 5} tok${i % 7} common word$i")
  }.toDF("doc_id", "label", "text")

  private lazy val council: DataFrame = (0 until 12).map { i =>
    (s"v$i", s"box$i")
  }.toDF("video", "box_link")

  // ---------- the seven family instantiations ----------

  private lazy val signatureFamily = StoreFamily(
    name = "signature store",
    batches = Seq(
      path => graft.ops.NearDup.appendSignatureStore(
        sigs(docs.where(col("doc_id") % 2 === 0)), "doc_id", path, buckets = 8),
      path => graft.ops.NearDup.appendSignatureStore(
        sigs(docs.where(col("doc_id") % 2 =!= 0)), "doc_id", path, buckets = 8)),
    snapshot = path => fmt(graft.ops.NearDup.probeSignatureStore(
      spark, path, sigs(probeDocs), "doc_id", buckets = 8)),
    // an append redelivered whole: band rows duplicate on disk but the
    // DECISION view (distinct candidate pairs) is append-idempotent —
    // the documented store contract
    replay = Some(("re-appended batch", path =>
      graft.ops.NearDup.appendSignatureStore(
        sigs(docs.where(col("doc_id") % 2 =!= 0)), "doc_id", path,
        buckets = 8))),
    compact = Some(path =>
      graft.ops.NearDup.compactSignatureStore(spark, path)),
    mismatch = Some(("an append with buckets = 16", path =>
      graft.ops.NearDup.appendSignatureStore(sigs(probeDocs), "doc_id", path,
        buckets = 16))))

  private lazy val labelFamily = StoreFamily(
    name = "label store",
    batches = Seq(
      path => graft.ops.LabelStore.merge(spark, path,
        pairs.where(col("doc_a") % 2 === 0), buckets = 8),
      path => graft.ops.LabelStore.merge(spark, path,
        pairs.where(col("doc_a") % 2 =!= 0), buckets = 8)),
    snapshot = path => fmt(graft.ops.LabelStore.read(spark, path)),
    replay = Some(("re-merged batch", path =>
      graft.ops.LabelStore.merge(spark, path,
        pairs.where(col("doc_a") % 2 =!= 0), buckets = 8))),
    compact = Some(path => graft.ops.LabelStore.compact(spark, path)),
    mismatch = Some(("a merge with buckets = 4", path =>
      graft.ops.LabelStore.merge(spark, path, pairs, buckets = 4))))

  /** The streaming families keep their input and checkpoint beside the
    * family root, so only store directories live under it. */
  private def sinkInput(path: String, part: Int, df: DataFrame): Unit =
    df.coalesce(1).write.parquet(s"$path.__in/f=$part")

  private def runLshSink(path: String, ckpt: String): Unit =
    graft.streaming.Streams.runToCompletion(graft.streaming.Streams.lshDedupSink(
      graft.streaming.Streams.fileStream(spark, s"$path.__in/*/", docs.schema,
        maxFilesPerTrigger = 1),
      "doc_id", "text", s"$path/sigs", s"$path/pairs", ckpt, buckets = 8)
      .start())

  private lazy val pairsFamily = StoreFamily(
    name = "pairs log",
    batches = Seq(0, 1).map { part => (path: String) =>
      sinkInput(path, part, docs.where(col("doc_id") % 2 === part))
      runLshSink(path, s"$path.__ckpt")
    },
    snapshot = path => fmt(Store.read(spark, s"$path/pairs").get
      .select(col("doc_a"), col("doc_b"), col("batch").cast("long"))),
    stores = Seq("pairs", "sigs"),
    // a fresh checkpoint re-offers every file under the same batch ids
    replay = Some(("restarted sink, fresh checkpoint", path =>
      runLshSink(path, s"$path.__ckpt2"))))

  private def runNbSink(path: String, ckpt: String): Unit =
    graft.streaming.Streams.runToCompletion(graft.streaming.Streams.nbOnlineSink(
      graft.streaming.Streams.fileStream(spark, s"$path.__in/*/",
        labeled.schema, maxFilesPerTrigger = 1),
      "doc_id", "text", "label", s"$path/stats", s"$path/preds", ckpt).start())

  private lazy val nbStatsFamily = StoreFamily(
    name = "NB stats log",
    batches = Seq(0, 1).map { part => (path: String) =>
      sinkInput(path, part, labeled.where(col("doc_id") % 2 === part))
      runNbSink(path, s"$path.__ckpt")
    },
    snapshot = path => fmt(Store.read(spark, s"$path/stats").get
      .select(col("label"), col("term"), col("n"),
        col("batch").cast("long"))),
    stores = Seq("stats", "preds"),
    // a full restart over the same checkpoint re-offers nothing; the
    // stats log must not move
    replay = Some(("restarted sink", path =>
      runNbSink(path, s"$path.__ckpt"))))

  private lazy val mergesFamily = StoreFamily(
    name = "BPE merge store",
    batches = Seq(4, 6).map { n => (path: String) =>
      graft.ops.Bpe.saveMerges(spark, path,
        graft.ops.Bpe.fitFromCorpus(docs, "text", numMerges = n))
    },
    snapshot = path =>
      graft.ops.Bpe.loadMerges(spark, path).map(_.toString),
    // save is a whole-table overwrite: redelivering it is idempotent
    replay = Some(("re-saved merge table", path =>
      graft.ops.Bpe.saveMerges(spark, path,
        graft.ops.Bpe.fitFromCorpus(docs, "text", numMerges = 6)))))

  private lazy val pqModel =
    graft.vector.Pq.trainCodebooks(embs, "vec_id", "embedding", 2, 4,
      iters = 0)
  private lazy val pqCents =
    graft.vector.Ivf.seedCentroids(embs, "vec_id", "embedding", 2)

  private lazy val pqIndexFamily = StoreFamily(
    name = "PQ index store",
    batches = Seq(0, 1).map { part => (path: String) =>
      graft.vector.Pq.writeIndexStore(embs.where(col("vec_id") % 2 === part),
        "vec_id", "embedding", pqModel, pqCents, path)
    },
    snapshot = path => fmt(graft.vector.Pq.probeIndexStore(spark, path,
      "vec_id", Array.tabulate(8)(j => (j * 3 % 13).toFloat / 13f), 5,
      pqModel, pqCents, nProbe = 2, rerank = 32, corpus = Some(embs))),
    // batch writes are exactly-once by the caller's checkpoint; the
    // streaming sink's redelivery is pinned in PqSpec
    compact = Some(path => graft.vector.Pq.compactIndexStore(spark, path)),
    mismatch = Some(("a probe with 3 cells", path =>
      graft.vector.Pq.probeIndexStore(spark, path, "vec_id",
        Array.fill(8)(0f), 5, pqModel, pqCents :+ pqCents.head))))

  private lazy val councilFamily = StoreFamily(
    name = "council state",
    batches = Seq(0, 1).map { part => (path: String) =>
      graft.io.Sinks.mergeInto(spark, path,
        council.where(substring(col("video"), 2, 2).cast("int") % 2 === part),
        Seq("video"))
      ()
    },
    snapshot = path =>
      fmt(graft.io.Sinks.readStateOrBackup(spark, path).get),
    replay = Some(("re-merged batch", path => {
      graft.io.Sinks.mergeInto(spark, path,
        council.where(substring(col("video"), 2, 2).cast("int") % 2 === 1),
        Seq("video"))
      ()
    })),
    mismatch = Some(("a merge keyed by box_link", path => {
      graft.io.Sinks.mergeInto(spark, path, council, Seq("box_link"))
      ()
    })))

  private lazy val families = Seq(signatureFamily, labelFamily, pairsFamily,
    nbStatsFamily, mergesFamily, pqIndexFamily, councilFamily)

  private def freshRoot(tag: String, f: StoreFamily): String =
    TestSpark.tempDir(s"sc-$tag-" + f.name.replaceAll("\\W+", "-")) + "/store"

  // ---------- the contract, generated per family ----------

  families.foreach { f =>
    test(s"${f.name}: crash window (data written, manifest not published) reads as epoch N; the next write leaves epoch N+1's files only") {
      // `done` runs both batches; the files its second commit wrote
      // are exactly what a crash before that commit's publish leaves
      val done = freshRoot("done", f)
      f.batches.head(done)
      val epochN = f.stores.map(s => s -> visible(storePath(f, done, s))).toMap
      f.batches(1)(done)
      val written = f.stores.map(s =>
        s -> (visible(storePath(f, done, s)) -- epochN(s))).toMap
      assert(written.values.exists(_.nonEmpty), s"${f.name}: batch 2 wrote nothing")

      val crashed = freshRoot("crash", f)
      f.batches.head(crashed)
      val before = f.snapshot(crashed)
      assert(before.nonEmpty, s"${f.name}: empty store after batch 1")
      // a store's first commit publishes manifest 0 before it writes
      val fs = fsOf(crashed)
      def copy(from: String, to: String): Unit =
        org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(from),
          fs, new org.apache.hadoop.fs.Path(to), false,
          spark.sparkContext.hadoopConfiguration)
      for ((s, files) <- written if files.nonEmpty) {
        val (from, to) = (storePath(f, done, s), storePath(f, crashed, s))
        if (Store.layout(spark, to).isEmpty) {
          val log0 = fs.listStatus(new org.apache.hadoop.fs.Path(s"$from/_manifest"))
            .map(_.getPath.getName).filter(_.startsWith("_")).min
          copy(s"$from/_manifest/$log0", s"$to/_manifest/$log0")
        }
        files.foreach(rel => copy(s"$from/$rel", s"$to/$rel"))
      }
      assert(f.snapshot(crashed) == before,
        s"${f.name}: unpublished files changed the view")

      f.batches(1)(crashed)
      assertClean(f, crashed)
      for ((s, files) <- written)
        assert((visible(storePath(f, crashed, s)) intersect files).isEmpty,
          s"${f.name}: the crashed commit's files survived the next write")
      assert(f.snapshot(crashed) == f.snapshot(done))
    }

    f.replay.foreach { case (what, redo) =>
      test(s"${f.name}: replay-safe redelivery ($what) leaves the decision view unchanged") {
        val path = freshRoot("replay", f)
        f.build(path)
        val before = f.snapshot(path)
        redo(path)
        assert(f.snapshot(path) == before,
          s"${f.name}: view moved under redelivery")
        assertClean(f, path)
      }
    }

    f.compact.foreach { cp =>
      test(s"${f.name}: compaction preserves the decision view and never grows files") {
        val path = freshRoot("compact", f)
        f.build(path)
        val before = f.snapshot(path)
        val filesBefore = dataFiles(path)
        cp(path)
        assert(f.snapshot(path) == before,
          s"${f.name}: view changed across compaction")
        assert(dataFiles(path) <= filesBefore,
          s"${f.name}: compaction grew files $filesBefore -> ${dataFiles(path)}")
        assertClean(f, path)
      }
    }

    f.mismatch.foreach { case (what, call) =>
      test(s"${f.name}: a layout mismatch ($what) throws before any Spark job and changes nothing") {
        val path = freshRoot("layout", f)
        f.build(path)
        val before = f.snapshot(path)
        val files = visible(path)
        var ex: Throwable = null
        val jobs = TestSpark.jobsDuring {
          ex = intercept[IllegalArgumentException](call(path))
        }
        assert(ex.getMessage.contains("laid out with"), ex.getMessage)
        assert(jobs == 0, s"${f.name}: $jobs Spark jobs before the throw")
        assert(visible(path) == files && f.snapshot(path) == before)
      }
    }
  }

  // ---------- rows for one store or the layer itself ----------

  test("signature store: a probe with another bucket count throws before any Spark job") {
    // a probe hashed with 8 buckets against a 16-bucket store would
    // prune to the wrong band_bucket partitions and miss pairs
    val path = TestSpark.tempDir("sc-sigprobe") + "/store"
    graft.ops.NearDup.appendSignatureStore(sigs(docs), "doc_id", path,
      buckets = 16)
    var ex: Throwable = null
    val jobs = TestSpark.jobsDuring {
      ex = intercept[IllegalArgumentException](graft.ops.NearDup
        .probeSignatureStore(spark, path, sigs(probeDocs), "doc_id", buckets = 8))
    }
    assert(ex.getMessage.contains("buckets=16") && ex.getMessage.contains("buckets=8"),
      ex.getMessage)
    assert(jobs == 0, s"$jobs Spark jobs before the throw")
  }

  private val layout: Store.Layout = Map("partitionBy" -> "part")
  private def rows(n: Int, tag: String): DataFrame =
    (0 until n).map(i => (i.toLong, tag, i % 2)).toDF("id", "tag", "part")

  test("store: a replayed batch id is a no-op") {
    val path = TestSpark.tempDir("sc-replayid") + "/store"
    Store.commit(rows(4, "a"), path, layout, Some(0L))(_ => false)
    Store.commit(rows(4, "b"), path, layout, Some(1L))(_ => false)
    val files = Store.files(spark, path)
    val view = fmt(Store.read(spark, path).get)
    val jobs = TestSpark.jobsDuring {
      Store.commit(rows(4, "c"), path, layout, Some(1L))(_ => true)
      Store.commit(rows(4, "c"), path, layout, Some(0L))(_ => true)
    }
    assert(jobs == 0 && Store.files(spark, path) == files)
    assert(fmt(Store.read(spark, path).get) == view)
    assert(visible(path) == files.toSet)
    // a later batch commits, and the id survives a batch-less commit
    Store.commit(rows(2, "d"), path, layout, Some(2L))(_ => false)
    Store.commit(Store.read(spark, path).get, path, layout)(_ => true)
    assert(Store.committed(spark, path, 2L) && !Store.committed(spark, path, 3L))
    assert(Store.read(spark, path).get.count() == 10)
  }

  test("store: a second publish onto the same epoch throws, and the winner's epoch stands") {
    val path = TestSpark.tempDir("sc-race") + "/store"
    Store.commit(rows(4, "a"), path, layout)(_ => false)
    // the losing writer read epoch 1; while it writes, another writer
    // publishes epoch 2 (`supersedes` runs between the data write and
    // the publish, so the race is staged there)
    var raced = false
    val ex = intercept[IllegalStateException] {
      Store.commit(rows(4, "loser"), path, layout) { _ =>
        if (!raced) Store.commit(rows(4, "winner"), path, layout)(_ => false)
        raced = true
        false
      }
    }
    assert(ex.getMessage.contains("already published epoch 2"), ex.getMessage)
    val tags = Store.read(spark, path).get.select("tag").as[String].collect()
    assert(tags.sorted.toSeq == Seq.fill(4)("a") ++ Seq.fill(4)("winner"))
    // the winner's commit deleted the loser's unpublished files as
    // crash-window leftovers
    assert(visible(path) == Store.files(spark, path).toSet)
    Store.commit(rows(1, "next"), path, layout)(_ => false)
    assert(visible(path) == Store.files(spark, path).toSet)
    assert(Store.read(spark, path).get.count() == 9)
  }
}
