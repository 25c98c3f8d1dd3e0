package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ONE parameterized contract suite for every on-disk store family
  * (r19 verdict #6): signatures, labels, NB stats, BPE merges, PQ
  * index. Each family previously proved its
  * recoverSwap/marker/compact idioms in its own spec with hand-rolled
  * assertions; this suite states the shared contract ONCE and
  * instantiates it per family, so the next store inherits the proofs
  * by filling in a `StoreFamily` row. No behavior change — the
  * family-specific pins (bucket pruning, byte-equality of untouched
  * buckets, marker redelivery via a real streaming restart) stay in
  * GraphSpec/PqSpec/StreamsSpec; this is the uniform floor.
  *
  * Contract dimensions (each family declares what it supports):
  *  - crash-window recovery: the store's RECOVERING READER sees the
  *    pre-crash decision view after a crash between the K1 swap's two
  *    renames (live dir missing, `.old` backup present);
  *  - replay-safe redelivery: re-applying the family's replay-safe
  *    ingest (an idempotent merge, a distinct-pairs probe over an
  *    append, an empty/quiet tick, an overwrite-save) leaves the
  *    decision view unchanged;
  *  - compaction invariance: the decision view is identical before and
  *    after compaction, and the data-file count does not grow.
  */
class StoreContractSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** One store family's instantiation of the contract. `build`
    * populates a fresh store at the given path (two ingest batches —
    * the incremental shape); `snapshot` is the family's canonical
    * DECISION view read through its recovering reader. */
  private final case class StoreFamily(
      name: String,
      build: String => Unit,
      snapshot: String => Seq[String],
      // K1 crash simulation applies only to swap-managed stores;
      // per-batch-partition log stores (NB stats) have a marker
      // protocol instead, exercised via `replay`.
      crashK1: Boolean,
      replay: Option[(String, String => Unit)] = None,
      compact: Option[String => Unit] = None)

  private def fmt(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def dataFiles(path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0
    val it = fs.listFiles(p, true)
    var n = 0
    while (it.hasNext) {
      val f = it.next().getPath.getName
      if (f.startsWith("part-")) n += 1
    }
    n
  }

  /** The between-renames crash: live dir moved aside, backup present.
    * Exactly the state `Sinks.overwriteInPlace` can die in. */
  private def simulateK1Crash(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(p, new org.apache.hadoop.fs.Path(path + ".old")),
      s"crash simulation: could not move $path aside")
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

  // ---------- the five family instantiations ----------

  private lazy val signatureFamily = StoreFamily(
    name = "signature store",
    build = { path =>
      graft.ops.NearDup.appendSignatureStore(
        sigs(docs.where(col("doc_id") % 2 === 0)), "doc_id", path, buckets = 8)
      graft.ops.NearDup.appendSignatureStore(
        sigs(docs.where(col("doc_id") % 2 =!= 0)), "doc_id", path, buckets = 8)
    },
    snapshot = path => fmt(graft.ops.NearDup.probeSignatureStore(
      spark, path, sigs(probeDocs), "doc_id", buckets = 8)),
    crashK1 = true,
    // an append redelivered whole: band rows duplicate on disk but the
    // DECISION view (distinct candidate pairs) is append-idempotent —
    // the documented store contract
    replay = Some(("re-appended batch", path =>
      graft.ops.NearDup.appendSignatureStore(
        sigs(docs.where(col("doc_id") % 2 =!= 0)), "doc_id", path,
        buckets = 8))),
    compact = Some(path =>
      graft.ops.NearDup.compactSignatureStore(spark, path)))

  private lazy val labelFamily = StoreFamily(
    name = "label store",
    build = { path =>
      graft.ops.LabelStore.merge(spark, path,
        pairs.where(col("doc_a") % 2 === 0), buckets = 8)
      graft.ops.LabelStore.merge(spark, path,
        pairs.where(col("doc_a") % 2 =!= 0), buckets = 8)
    },
    snapshot = path => fmt(graft.ops.LabelStore.read(spark, path)),
    crashK1 = true,
    replay = Some(("re-merged batch", path =>
      graft.ops.LabelStore.merge(spark, path,
        pairs.where(col("doc_a") % 2 =!= 0), buckets = 8))),
    compact = Some(path => graft.ops.LabelStore.compact(spark, path)))

  private lazy val nbStatsFamily = StoreFamily(
    name = "NB stats log",
    build = { path =>
      val in = s"$path.__in"
      labeled.where(col("doc_id") % 2 === 0).coalesce(1)
        .write.parquet(s"$in/f=0")
      labeled.where(col("doc_id") % 2 =!= 0).coalesce(1)
        .write.parquet(s"$in/f=1")
      runNbSink(path)
    },
    snapshot = path => fmt(spark.read.parquet(s"$path/stats")
      .select(col("label"), col("term"), col("n"),
        col("batch").cast("long"))),
    crashK1 = false, // per-batch-partition log + marker, not a K1 swap
    // marker-gated redelivery: a full restart over the same checkpoint
    // re-offers every file; the stats log must not move
    replay = Some(("restarted sink", path => runNbSink(path))))

  private def runNbSink(path: String): Unit = {
    val schema = labeled.schema
    val q = graft.streaming.Streams.nbOnlineSink(
      graft.streaming.Streams.fileStream(spark, s"$path.__in/*/", schema,
        maxFilesPerTrigger = 1),
      "doc_id", "text", "label", s"$path/stats", s"$path/preds",
      s"$path/ckpt").start()
    q.awaitTermination()
  }

  private lazy val mergesFamily = StoreFamily(
    name = "BPE merge store",
    build = { path =>
      val m = graft.ops.Bpe.fitFromCorpus(docs, "text", numMerges = 6)
      graft.ops.Bpe.saveMerges(spark, path, m)
    },
    snapshot = path =>
      graft.ops.Bpe.loadMerges(spark, path).map(_.toString),
    crashK1 = true,
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
    build = { path =>
      graft.vector.Pq.writeIndexStore(embs.where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", pqModel, pqCents, path)
      graft.vector.Pq.writeIndexStore(embs.where(col("vec_id") % 2 =!= 0),
        "vec_id", "embedding", pqModel, pqCents, path)
    },
    snapshot = path => fmt(graft.vector.Pq.probeIndexStore(spark, path,
      "vec_id", Array.tabulate(8)(j => (j * 3 % 13).toFloat / 13f), 5,
      pqModel, pqCents, nProbe = 2, rerank = 32, corpus = Some(embs))),
    crashK1 = true,
    // batch writes are exactly-once by the caller's checkpoint; the
    // streaming sink's marker redelivery is pinned in PqSpec — here
    // the family contributes crash recovery + compaction invariance
    compact = Some(path => graft.vector.Pq.compactIndexStore(spark, path)))

  private lazy val families = Seq(signatureFamily, labelFamily,
    nbStatsFamily, mergesFamily, pqIndexFamily)

  // ---------- the contract, generated per family ----------

  families.foreach { f =>
    if (f.crashK1)
      test(s"${f.name}: crash between the K1 renames — recovering reader sees the pre-crash view") {
        val path = TestSpark.tempDir("sc-crash-" +
          f.name.replaceAll("\\W+", "-")) + "/store"
        f.build(path)
        val before = f.snapshot(path)
        assert(before.nonEmpty, s"${f.name}: empty store after build")
        simulateK1Crash(path)
        assert(f.snapshot(path) == before,
          s"${f.name}: view changed across the crash window")
      }

    f.replay.foreach { case (what, redo) =>
      test(s"${f.name}: replay-safe redelivery ($what) leaves the decision view unchanged") {
        val path = TestSpark.tempDir("sc-replay-" +
          f.name.replaceAll("\\W+", "-")) + "/store"
        f.build(path)
        val before = f.snapshot(path)
        redo(path)
        assert(f.snapshot(path) == before,
          s"${f.name}: view moved under redelivery")
      }
    }

    f.compact.foreach { cp =>
      test(s"${f.name}: compaction preserves the decision view and never grows files") {
        val path = TestSpark.tempDir("sc-compact-" +
          f.name.replaceAll("\\W+", "-")) + "/store"
        f.build(path)
        val before = f.snapshot(path)
        val filesBefore = dataFiles(path)
        cp(path)
        assert(f.snapshot(path) == before,
          s"${f.name}: view changed across compaction")
        assert(dataFiles(path) <= filesBefore,
          s"${f.name}: compaction grew files $filesBefore -> ${dataFiles(path)}")
      }
    }
  }
}
