package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Decontaminate, Dedup, Graph, TextAnalysis}

class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Naive driver-side PageRank mirroring Graph.pageRank's contract
    * (per-iteration rounding, dangling leak, no-incoming floor). */
  private def naivePageRank(edges: Seq[(Long, Long)], iterations: Int,
      damping: Double, roundTo: Int): Map[Long, Double] = {
    def rnd(v: Double, p: Int): Double =
      BigDecimal(v).setScale(p, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size
    val outDeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    var ranks = nodes.map(_ -> rnd(1.0 / n, roundTo)).toMap
    for (_ <- 1 to iterations) {
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => ranks(src) / outDeg(src) }.sum
      }
      ranks = nodes.map(v =>
        v -> rnd((1.0 - damping) / n + damping * in.getOrElse(v, 0.0), roundTo)).toMap
    }
    // the op's exact-integer 6dp projection (see Graph.pageRank r18)
    ranks.map { case (k, v) =>
      k -> math.floor((math.rint(v * 1e9) + 500.0) / 1000.0) / 1e6
    }
  }

  test("pageRank matches a driver-side reference on a known graph") {
    // 1 ⇄ 2, 2 → 3, 3 → 1, 4 → 1 (4 has no incoming: floor rank)
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (4L, 1L))
    val out = Graph.pageRank(edges.toDF("src", "dst"), iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expect = naivePageRank(edges, 10, 0.85, 9)
    assert(out.keySet == expect.keySet)
    out.foreach { case (node, rank) =>
      assert(rank == expect(node), s"node $node: $rank != ${expect(node)}")
    }
    // node 4 has no incoming edges: exactly the (1-d)/N floor
    assert(out(4L) == BigDecimal(0.15 / 4).setScale(9,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    // hub 1 outranks everyone
    assert(out(1L) > out(2L) && out(2L) > out(3L) && out(3L) > out(4L))
  }

  test("pageRank mass is conserved on a dangling-free graph") {
    // ring of 6: uniform stationary distribution = 1/6 each
    val edges = (0L until 6L).map(i => (i, (i + 1) % 6))
    val out = Graph.pageRank(edges.toDF("src", "dst"), iterations = 20)
      .collect().map(_.getDouble(1))
    // output sits on the per-iteration 1e-9 grid; 20 rounds of grid
    // error stay far inside this tolerance
    assert(out.forall(r => math.abs(r - 1.0 / 6) < 5e-7))
    assert(math.abs(out.sum - 1.0) < 1e-5)
  }

  test("bloomPrefilteredAntiJoin equals the plain anti join (string keys)") {
    val rnd = new scala.util.Random(7)
    val fresh = (1 to 400).map(i => (i.toLong, s"k${rnd.nextInt(120)}"))
      .toDF("id", "fp")
    val seen = (0 until 60).map(i => Tuple1(s"k$i")).toDF("fp")
    val got = Dedup.bloomPrefilteredAntiJoin(fresh, "fp", seen,
      expectedItems = 100L, fpp = 0.05).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val want = fresh.join(seen, Seq("fp"), "left_anti").select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want)
  }

  test("bloomPrefilteredAntiJoin: long keys and null keys survive") {
    val fresh = Seq((1L, java.lang.Long.valueOf(10L)),
      (2L, java.lang.Long.valueOf(20L)), (3L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "k")
    val seen = Seq(Tuple1(10L)).toDF("k")
    val got = Dedup.bloomPrefilteredAntiJoin(fresh, "k", seen,
      expectedItems = 10L).select("id").collect().map(_.getLong(0)).sorted.toSeq
    // anti-join semantics: null key never matches, so rows 2 and 3 stay
    assert(got == Seq(2L, 3L))
  }

  test("splitLeakageReport finds planted cross-split duplicates with counts") {
    val train = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha")).toDF("id", "text")
    val test = Seq((10L, "alpha"), (11L, "gamma")).toDF("id", "text")
    val got = Decontaminate.splitLeakageReport(train, test, "id", col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 2L)) // "alpha" occurs twice in train; gamma clean
  }

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    val prev = Seq((1L, "same"), (2L, "old body"), (3L, "gone")).toDF("id", "text")
    val curr = Seq((1L, "same"), (2L, "new body"), (4L, "fresh")).toDF("id", "text")
    val got = graft.ops.Snapshot.snapshotDiff(prev, curr, "id", col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("incremental LSH pairs = full LSH pairs touching the new batch") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val base = graft.ops.NearDup.withMutatedCopies(docs, "doc_id", "text")
    val newBatch = base.filter(col("doc_id") >= 1000000)
    val corpusSigs = graft.ops.NearDup.minhashSignaturesFused(docs, "doc_id", col("text"))
    val newSigs = graft.ops.NearDup.minhashSignaturesFused(newBatch, "doc_id", col("text"))
    val inc = graft.ops.NearDup.lshCandidatePairsIncremental(corpusSigs, newSigs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullSigs = graft.ops.NearDup.minhashSignaturesFused(base, "doc_id", col("text"))
    val full = graft.ops.NearDup.lshCandidatePairs(fullSigs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a >= 1000000 || b >= 1000000 }.toSet
    assert(inc.nonEmpty && inc == full)
  }

  test("on-disk signature store: pruned probe, two ingests tile the full LSH") {
    val spark = TestSpark.spark
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = graft.ops.NearDup.withMutatedCopies(docs, "doc_id", "text")
    val copies = base.filter(col("doc_id") >= 1000000)
    // batch 2 is deliberately tiny (2 docs → ≤4 band keys) so its
    // bucket set is a strict subset of the store's partitions
    val b2Ids = copies.select("doc_id").orderBy("doc_id").limit(2)
      .collect().map(_.getLong(0))
    val b1 = copies.filter(!col("doc_id").isin(b2Ids: _*))
    val b2 = copies.filter(col("doc_id").isin(b2Ids: _*))
    def sigs(df: org.apache.spark.sql.DataFrame) =
      graft.ops.NearDup.minhashSignaturesFused(df, "doc_id", col("text"))
    val dir = s"${TestSpark.tempDir("lshstore")}/sigs"
    val buckets = 16

    graft.ops.NearDup.appendSignatureStore(sigs(docs), "doc_id", dir, buckets = buckets)
    val run1 = graft.ops.NearDup.probeSignatureStore(spark, dir, sigs(b1),
      "doc_id", buckets = buckets).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.ops.NearDup.appendSignatureStore(sigs(b1), "doc_id", dir, buckets = buckets)
    val probe2 = graft.ops.NearDup.probeSignatureStore(spark, dir, sigs(b2),
      "doc_id", buckets = buckets)
    val run2 = probe2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.ops.NearDup.appendSignatureStore(sigs(b2), "doc_id", dir, buckets = buckets)

    // 1) the probe scan is partition-pruned to the batch's buckets...
    val plan = probe2.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("band_bucket"),
      plan.take(800))
    // ...and batch 2's bucket set is a STRICT subset of the stored
    // partitions (same band-key format and bucket hash as the store)
    val b2s = sigs(b2)
    val b2bands = b2s.select(concat_ws("|", lit("0"), col("mh0"), col("mh1")).as("band"))
      .unionByName(b2s.select(concat_ws("|", lit("1"), col("mh2"), col("mh3")).as("band")))
    val touched = b2bands.select(pmod(xxhash64(col("band")), lit(buckets.toLong)))
      .distinct().count()
    val stored = spark.read.parquet(dir).select("band_bucket").distinct().count()
    assert(touched < stored, s"touched=$touched stored=$stored")

    // 2) corpus-ingest pairs + run1 + run2 tile the one-shot full LSH
    val corpusPairs = graft.ops.NearDup.lshCandidatePairs(sigs(docs), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = graft.ops.NearDup.lshCandidatePairs(sigs(base), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run1.nonEmpty && run2.nonEmpty)
    assert((corpusPairs ++ run1 ++ run2) == full)
    // 3) the store probe and the in-memory probe are one join: run1
    // equals the incremental probe of b1 against the pinned corpus
    val inMemory1 = graft.ops.NearDup.lshCandidatePairsIncremental(sigs(docs),
        sigs(b1), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run1 == inMemory1)
  }

  test("label store: batch merges tile one-shot connected components") {
    val path = s"${TestSpark.tempDir("labelstore")}/labels"
    def pairsDf(ps: Seq[(Long, Long)]) = ps.toDF("doc_a", "doc_b")
    // batch 1: two separate components {1,2,3} and {10,11}
    val b1 = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    // batch 2: an unrelated component {20,21,22}
    val b2 = Seq((20L, 21L), (21L, 22L))
    // batch 3: BRIDGES the two batch-1/2-era components (3-20) and
    // brings brand-new nodes (30,31) — the merge must pull the full
    // membership of both touched components, not just the batch nodes
    val b3 = Seq((3L, 20L), (30L, 31L))
    val batches = Seq(b1, b2, b3)
    batches.foreach(b => graft.ops.LabelStore.merge(spark, path, pairsDf(b),
      buckets = 8))
    def labelSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = labelSet(graft.ops.LabelStore.read(spark, path))
    val oneShot = labelSet(graft.ops.NearDup.connectedComponents(
      pairsDf(batches.flatten)))
    assert(got == oneShot)
    assert(got((22L, 1L)) && got((11L, 10L)) && got((31L, 30L)))

    // idempotence: re-merging an already-merged batch changes nothing
    graft.ops.LabelStore.merge(spark, path, pairsDf(b3), buckets = 8)
    assert(labelSet(graft.ops.LabelStore.read(spark, path)) == oneShot)
    // empty batch: a no-op, not a throw (and not a wipe)
    graft.ops.LabelStore.merge(spark, path, pairsDf(Seq.empty), buckets = 8)
    assert(labelSet(graft.ops.LabelStore.read(spark, path)) == oneShot)

    // block-manager hygiene: a merge pins `touched` and the CC result
    // via localCheckpoint; Dataset.unpersist would be a silent no-op
    // on those (RDD blocks, not cache entries), so merge must free
    // them directly — a streaming sink calls this every tick
    val before = spark.sparkContext.getPersistentRDDs.keySet
    graft.ops.LabelStore.merge(spark, path,
      pairsDf(Seq((40L, 41L), (3L, 40L))), buckets = 8)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"merge leaked pinned RDDs: $leaked")

    // layout supports pruned star pulls: store is partitioned by
    // comp_bucket, and reading one component's bucket scans a strict
    // file subset (the probeSignatureStore treatment). inputFiles
    // ignores pruning, so read the scan's own numFiles metric.
    val all = spark.read.parquet(path)
    val oneBucket = all.filter(col("comp_bucket") ===
      pmod(xxhash64(lit(1L)), lit(8L)))
    assert(oneBucket.queryExecution.executedPlan.toString
      .contains("PartitionFilters"))
    oneBucket.collect() // run THIS queryExecution so its metrics fill
    val scanned = oneBucket.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value
    }.sum
    assert(scanned > 0 && scanned < all.inputFiles.length,
      s"scanned=$scanned of ${all.inputFiles.length}")
  }

  test("label store: a merge leaves untouched bucket FILES byte-identical") {
    // The r16 contract that makes merge cost O(touched buckets): a
    // batch touching one component must rewrite ONLY that component's
    // bucket partition(s) — every other bucket directory keeps the
    // same files with the same bytes, not merely the same rows.
    val path = s"${TestSpark.tempDir("labelpartial")}/labels"
    // 40 disjoint 2-node components spread across 8 buckets
    val b1 = (0L until 40L).map(i => (i * 100L, i * 100L + 1L))
    graft.ops.LabelStore.merge(spark, path, b1.toDF("doc_a", "doc_b"),
      buckets = 8)
    def snapshot(): Map[String, Seq[(String, String)]] = {
      val root = new java.io.File(path)
      root.listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("comp_bucket="))
        .map { d =>
          d.getName -> d.listFiles().filter(_.isFile).sortBy(_.getName)
            .toSeq.map { f =>
              val bytes = java.nio.file.Files.readAllBytes(f.toPath)
              (f.getName, java.util.Base64.getEncoder.encodeToString(
                java.security.MessageDigest.getInstance("SHA-256")
                  .digest(bytes)))
            }
        }.toMap
    }
    val before = snapshot()
    assert(before.size >= 4, s"want components spread over buckets: $before")
    // batch 2 extends component 0 with one new node — touches exactly
    // component 0, whose old and new label (min id 0) share a bucket
    graft.ops.LabelStore.merge(spark, path,
      Seq((0L, 99999L)).toDF("doc_a", "doc_b"), buckets = 8)
    val after = snapshot()
    val affectedDir = "comp_bucket=" + spark.range(1)
      .select(pmod(xxhash64(lit(0L)), lit(8L))).head.getLong(0)
    assert(before.keySet == after.keySet)
    (before.keySet - affectedDir).foreach { d =>
      assert(after(d) == before(d),
        s"bucket $d rewritten by a merge that never touched it")
    }
    assert(after(affectedDir) != before(affectedDir))
    // and the labels still tile the one-shot CC
    val got = graft.ops.LabelStore.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.ops.NearDup.connectedComponents(
        (b1 :+ (0L -> 99999L)).toDF("doc_a", "doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("label store: giant touched component falls back to the shuffle anti join (r22 broadcast gate)") {
    // merge's pass-through anti join hints broadcast on the
    // re-converged subgraph's node set — which is touched-COMPONENT-
    // bounded, not batch-bounded: one batch edge into a giant near-dup
    // component makes that set component-sized, and an unconditional
    // broadcast would OOM where a shuffle anti join merely spills.
    // Plant a 60-node component, then touch it with a tiny batch under
    // maxBroadcastSubNodes = 1 so the gate MUST take the fallback
    // branch (sub.count() = 61 > 1), and assert the merged labels are
    // byte-equal to the one-shot CC — the fallback path preserves the
    // store contract exactly.
    val path = s"${TestSpark.tempDir("labelgiant")}/labels"
    val giant = (0L until 59L).map(i => (i, i + 1L)) // one 60-node chain
    graft.ops.LabelStore.merge(spark, path, giant.toDF("doc_a", "doc_b"),
      buckets = 8)
    val touch = Seq((30L, 1000L)) // one edge into the giant component
    graft.ops.LabelStore.merge(spark, path, touch.toDF("doc_a", "doc_b"),
      buckets = 8, maxBroadcastSubNodes = 1L)
    val got = graft.ops.LabelStore.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.ops.NearDup.connectedComponents(
        (giant ++ touch).toDF("doc_a", "doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(got((1000L, 0L)), "new node must join the giant component")
  }

  test("label store: a pair-less FIRST merge does not create a broken store") {
    // an empty partitioned parquet write emits only _SUCCESS; if the
    // first (bootstrap) merge wrote it, every later read would die on
    // schema inference and brick the streaming sink. No pairs ⇒ no
    // store; the first real batch bootstraps cleanly.
    val path = s"${TestSpark.tempDir("labelboot")}/labels"
    val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    graft.ops.LabelStore.merge(spark, path, none, buckets = 4)
    intercept[java.util.NoSuchElementException] {
      graft.ops.LabelStore.read(spark, path)
    }
    graft.ops.LabelStore.merge(spark, path,
      Seq((5L, 6L)).toDF("doc_a", "doc_b"), buckets = 4)
    assert(graft.ops.LabelStore.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((5L, 5L), (6L, 5L)))
  }

  test("label-driven dedup policies equal the one-shot pair-driven ones") {
    val path = s"${TestSpark.tempDir("labelpolicy")}/labels"
    val docs = Seq(
      (1L, "short"), (2L, "the longest text of the cluster"), (3L, "mid text"),
      (10L, "solo"), (20L, "a"), (21L, "bb")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (20L, 21L)).toDF("doc_a", "doc_b")
    // two-batch store vs one-shot pairs — decisions must agree
    graft.ops.LabelStore.merge(spark, path,
      pairs.filter(col("doc_a") === 1L), buckets = 4)
    graft.ops.LabelStore.merge(spark, path,
      pairs.filter(col("doc_a") =!= 1L), buckets = 4)
    val labels = graft.ops.LabelStore.read(spark, path)
    val oneShot = graft.ops.NearDup.connectedComponents(pairs)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(graft.ops.NearDup.dropNearDuplicatesFromLabelsBy(docs, "doc_id",
        labels, -col("doc_id"))) ==
      ids(graft.ops.NearDup.dropNearDuplicatesFromLabelsBy(docs, "doc_id",
        oneShot, -col("doc_id"))))
    val byLen = ids(graft.ops.NearDup.dropNearDuplicatesFromLabelsBy(docs,
      "doc_id", labels, length(col("text"))))
    assert(byLen ==
      ids(graft.ops.NearDup.dropNearDuplicatesFromLabelsBy(docs, "doc_id",
        oneShot, length(col("text")))))
    assert(byLen == Set(2L, 10L, 21L)) // longest per cluster + singleton
  }

  test("label store: merge is order-invariant across batch permutations") {
    // min-id labels are a lattice meet — folding the same batches in
    // any order must converge to identical labels (the property that
    // makes out-of-order / replayed ingest safe)
    val b1 = Seq((1L, 2L), (10L, 11L))
    val b2 = Seq((2L, 3L), (20L, 21L))
    val b3 = Seq((3L, 20L), (30L, 31L))
    def runOrder(order: Seq[Seq[(Long, Long)]], tag: String) = {
      val path = s"${TestSpark.tempDir(s"labelperm$tag")}/labels"
      order.foreach(b => graft.ops.LabelStore.merge(spark, path,
        b.toDF("doc_a", "doc_b"), buckets = 4))
      graft.ops.LabelStore.read(spark, path).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val a = runOrder(Seq(b1, b2, b3), "a")
    val b = runOrder(Seq(b3, b1, b2), "b")
    val c = runOrder(Seq(b2, b3, b1), "c")
    assert(a == b && b == c && a.nonEmpty)
  }

  test("label store: component count shrinks as batches connect the graph") {
    // a chain merged one edge at a time — every merge touches the
    // previous component and extends it; labels stay min-id throughout
    val path = s"${TestSpark.tempDir("labelchain")}/labels"
    for (i <- 0 until 5) {
      graft.ops.LabelStore.merge(spark, path,
        Seq((i.toLong, i + 1L)).toDF("doc_a", "doc_b"), buckets = 4)
      val labels = graft.ops.LabelStore.read(spark, path).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(labels.length == i + 2)
      assert(labels.forall(_._2 == 0L), labels.mkString(","))
    }
  }

  test("unigramLogProb: uniform vocabulary scores ln(V) per token") {
    // 4 equally-frequent tokens -> every token's -ln p = ln 4
    val df = Seq((1L, "a b"), (2L, "c d")).toDF("id", "text")
    val got = TextAnalysis.unigramLogProb(df, "id", col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ln4 = BigDecimal(math.log(4)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSet == Set((1L, 2L, ln4), (2L, 2L, ln4)))
    // rarer tokens score strictly higher than common ones
    val skew = Seq((1L, "x x x x x x x"), (2L, "y")).toDF("id", "text")
    val s2 = TextAnalysis.unigramLogProb(skew, "id", col("text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s2(2L) > s2(1L))
  }

  /** Parquet data files per partition directory under a bucketed
    * store path (ignores _SUCCESS and the manifest log). */
  private def filesPerBucket(path: String): Map[String, Int] = {
    val root = new java.io.File(path)
    root.listFiles().filter(f => f.isDirectory && f.getName.contains("="))
      .map(d => d.getName ->
        d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
  }

  test("signature-store compaction: ≤1 file per bucket, probe-equivalent, append-compatible") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = graft.ops.NearDup.withMutatedCopies(docs, "doc_id", "text")
    val copies = base.filter(col("doc_id") >= 1000000)
    val half = copies.filter(col("doc_id") % 2 === 0)
    val rest = copies.filter(col("doc_id") % 2 =!= 0)
    def sigs(df: org.apache.spark.sql.DataFrame) =
      graft.ops.NearDup.minhashSignaturesFused(df, "doc_id", col("text"))
    val dir = s"${TestSpark.tempDir("lshcompact")}/sigs"
    val buckets = 8
    // three appends → up to 3 files per bucket
    graft.ops.NearDup.appendSignatureStore(sigs(docs), "doc_id", dir, buckets = buckets)
    graft.ops.NearDup.appendSignatureStore(sigs(half), "doc_id", dir, buckets = buckets)
    def probe() = graft.ops.NearDup.probeSignatureStore(spark, dir, sigs(rest),
      "doc_id", buckets = buckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probe()
    assert(before.nonEmpty)
    assert(filesPerBucket(dir).values.max > 1, "appends should fragment buckets")

    graft.ops.NearDup.compactSignatureStore(spark, dir)
    val perBucket = filesPerBucket(dir)
    assert(perBucket.nonEmpty && perBucket.values.max <= 1, perBucket.toString)
    assert(probe() == before, "compaction changed probe results")

    // the compacted layout accepts further appends and probes them
    graft.ops.NearDup.appendSignatureStore(sigs(rest), "doc_id", dir, buckets = buckets)
    val after = graft.ops.NearDup.probeSignatureStore(spark, dir,
      sigs(half), "doc_id", buckets = buckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after.nonEmpty)
  }

  test("componentSizeDistribution: exact sizes, clusters, and doc totals") {
    // components: {1,2,3,4} (chain), {10,11} , {20,21} — sizes 4,2,2
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val labels = graft.ops.NearDup.connectedComponents(pairs)
    val got = graft.ops.Graph.componentSizeDistribution(labels)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(4L -> ((1L, 4L)), 2L -> ((2L, 4L))))
  }

  test("label-store compaction: read-equivalent, ≤1 file per bucket, merge-compatible") {
    val path = s"${TestSpark.tempDir("labelcompact")}/labels"
    graft.ops.LabelStore.merge(spark, path,
      Seq((1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b"), buckets = 4)
    graft.ops.LabelStore.merge(spark, path,
      Seq((2L, 3L), (20L, 21L)).toDF("doc_a", "doc_b"), buckets = 4)
    def labelSet() = graft.ops.LabelStore.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = labelSet()
    graft.ops.LabelStore.compact(spark, path)
    assert(labelSet() == before)
    val perBucket = filesPerBucket(path)
    assert(perBucket.nonEmpty && perBucket.values.max <= 1, perBucket.toString)
    // merges keep working against the compacted store
    graft.ops.LabelStore.merge(spark, path,
      Seq((3L, 20L)).toDF("doc_a", "doc_b"), buckets = 4)
    val after = labelSet()
    assert(after((21L, 1L)), after.toString) // bridge folded in
  }
}
