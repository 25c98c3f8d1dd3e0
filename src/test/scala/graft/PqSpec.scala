package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.vector.{Ivf, Pq}

/** Pins for the product-quantization layer (vector/Pq.scala).
  *
  * The q166–q169 oracles replay seed→Lloyd→encode→ADC through DuckDB;
  * this spec checks the pieces against an INDEPENDENT naive PQ model
  * (plain Scala arrays, no Spark, no shared kernels) plus what SQL
  * can't see: the ADC ≡ decoded-L2 identity, null/short-vector guards,
  * partitioning invariance of the trained model, and the map-only
  * encode plan.
  */
class PqSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 16
  private val m = 4
  private val dsub = dim / m
  private val k = 8
  private val n = 60

  /** Deterministic anisotropic cloud (the PcaSpec construction). */
  private def synth(): Seq[(Long, Seq[Float])] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (0 until n).map { r =>
      val h = md.digest(s"pq:$r".getBytes("UTF-8"))
      val v = Array.tabulate(dim) { i =>
        val u = ((h(2 * (i % 16)) & 0xff) * 256 + (h(2 * (i % 16) + 1) & 0xff)) / 65535.0 - 0.5
        (u * (1.0 + (i % 5)) + 0.01 * r * ((i % 3) - 1)).toFloat
      }
      (r.toLong, v.toSeq)
    }
  }

  private lazy val rows = synth()
  private lazy val df = rows.toDF("vec_id", "embedding")

  // ---- independent naive reference ----

  private def naiveSeed(): Array[Array[Array[Float]]] =
    Array.tabulate(m, k) { (s, c) =>
      rows(c)._2.slice(s * dsub, (s + 1) * dsub).toArray
    }

  private def naiveEncode(v: Seq[Float],
      cbs: Array[Array[Array[Float]]]): Array[Int] =
    Array.tabulate(cbs.length) { s =>
      val off = s * cbs(s)(0).length
      var best = 0
      var bestD = Double.MaxValue
      for (c <- cbs(s).indices) {
        var d = 0.0
        for (j <- cbs(s)(c).indices if off + j < v.length) {
          val t = v(off + j).toDouble - cbs(s)(c)(j).toDouble
          d += t * t
        }
        if (d < bestD) { bestD = d; best = c }
      }
      best
    }

  private def naiveLloydOnce(
      cbs: Array[Array[Array[Float]]]): Array[Array[Array[Float]]] = {
    val sums = Array.fill(m, k, dsub)(0.0)
    val cnts = Array.fill(m, k)(0L)
    rows.foreach { case (_, v) =>
      val codes = naiveEncode(v, cbs)
      for (s <- 0 until m) {
        cnts(s)(codes(s)) += 1
        for (j <- 0 until dsub)
          sums(s)(codes(s))(j) += v(s * dsub + j).toDouble
      }
    }
    Array.tabulate(m, k) { (s, c) =>
      if (cnts(s)(c) == 0) cbs(s)(c).clone()
      else Array.tabulate(dsub) { j =>
        BigDecimal(sums(s)(c)(j) / cnts(s)(c))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble.toFloat
      }
    }
  }

  private lazy val naiveModel: Array[Array[Array[Float]]] =
    naiveLloydOnce(naiveSeed())

  private lazy val model: Pq.PqModel =
    Pq.trainCodebooks(df, "vec_id", "embedding", m, k, iters = 1)

  test("trainCodebooks == naive seed + one Lloyd round, bit for bit") {
    assert(model.m == m && model.k == k && model.dsub == dsub)
    for (s <- 0 until m; c <- 0 until k)
      assert(model.codebooks(s)(c).toSeq == naiveModel(s)(c).toSeq,
        s"codebook[$s][$c] differs")
  }

  test("trainCodebooksAdaptive == naive strided seed + two Lloyd rounds, bit for bit") {
    // naive strided seeds: seed c = the row at id floor(c*(maxId+1)/k)
    val nIds = rows.map(_._1).max + 1
    val strided = Array.tabulate(m, k) { (s, c) =>
      val sid = (c.toLong * nIds) / k
      rows(sid.toInt)._2.slice(s * dsub, (s + 1) * dsub).toArray
    }
    val naive2 = naiveLloydOnce(naiveLloydOnce(strided))
    val adaptive = Pq.trainCodebooksAdaptive(df, "vec_id", "embedding",
      m, k, iters = 2)
    for (s <- 0 until m; c <- 0 until k)
      assert(adaptive.codebooks(s)(c).toSeq == naive2(s)(c).toSeq,
        s"adaptive codebook[$s][$c] differs from naive strided+2-Lloyd")
  }

  test("trainCodebooksKmeansPar: wiring == per-slice trainCentroids, partition-invariant, beats raw seeds on MSE") {
    val kp = Pq.trainCodebooksKmeansPar(df, "vec_id", "embedding", m, k,
      iters = 3)
    assert(kp.m == m && kp.k == k && kp.dsub == dsub)
    // wiring: subspace s's codebook IS Ivf.trainCentroids on the
    // s-th dsub-slice (catches off-by-one slicing)
    for (s <- 0 until m) {
      val direct = Pq.trainCodebooksKmeansPar(
        df.select(col("vec_id"),
          slice(col("embedding"), s * dsub + 1, dsub).as("__slice")),
        "vec_id", "__slice", m = 1, k = k, iters = 3).codebooks.head
      for (c <- 0 until k)
        assert(kp.codebooks(s)(c).toSeq == direct(c).toSeq,
          s"kmeansPar codebook[$s][$c] != direct trainCentroids slice")
    }
    // deterministic across input partitioning (the trainCentroids
    // contract composed per subspace)
    val kp8 = Pq.trainCodebooksKmeansPar(df.repartition(8), "vec_id",
      "embedding", m, k, iters = 3)
    for (s <- 0 until m; c <- 0 until k)
      assert(kp8.codebooks(s)(c).toSeq == kp.codebooks(s)(c).toSeq)
    // quality: k-means-trained codebooks reconstruct strictly better
    // than raw prefix seeds on the anisotropic cloud
    def mse(mod: Pq.PqModel): Double =
      Pq.encode(df, col("embedding"), mod, "__codes")
        .select(Pq.l2Sq(col("embedding"),
          Pq.decode(col("__codes"), mod)).as("se"))
        .agg(sum(col("se"))).head().getDouble(0)
    val seedOnly = Pq.trainCodebooks(df, "vec_id", "embedding", m, k, iters = 0)
    assert(mse(kp) < mse(seedOnly),
      s"kmeansPar MSE ${mse(kp)} not below raw-seed MSE ${mse(seedOnly)}")
  }

  test("a Lloyd round costs the same jobs whatever the seed rule and m") {
    // every trainer runs the one shared round over all m subspaces at
    // once: two more rounds add the same jobs to the id-prefix PQ
    // trainer, the k-means‖ PQ trainer and the IVF (m = 1) trainer
    val rnd = new scala.util.Random(5)
    val big = (0 until 400).map(i => (i.toLong, Array.fill(dim)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    def roundJobs(train: Int => Unit): Int =
      TestSpark.jobsDuring(train(3)) - TestSpark.jobsDuring(train(1))
    val prefix = roundJobs(i =>
      Pq.trainCodebooks(big, "vec_id", "embedding", m, k, iters = i))
    val kmeansPar = roundJobs(i =>
      Pq.trainCodebooksKmeansPar(big, "vec_id", "embedding", m, k, iters = i))
    val ivf = roundJobs(i =>
      Pq.trainCodebooksKmeansPar(big, "vec_id", "embedding",
        m = 1, k = k, iters = i).codebooks.head)
    assert(prefix > 0 && kmeansPar == prefix && ivf == prefix,
      s"jobs for two more rounds: id-prefix $prefix, k-means‖ $kmeansPar, IVF $ivf")
  }

  test("ivfPqRecallSweep: scanned rows strictly grow, full-probe hits == full-scan PQ recall") {
    val cents = Ivf.seedCentroids(df, "vec_id", "embedding", 4)
    val queries = df.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val sweep = Pq.ivfPqRecallSweep(df, "vec_id", "embedding", queries,
        "qid", "qv", 5, model, cents, Seq(1, 2, 4))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(sweep.map(_._1).toSeq == Seq(1, 2, 4))
    assert(sweep.forall(_._3 == 25)) // 5 queries × top-5 ground truth
    val scanned = sweep.map(_._2)
    assert(scanned.zip(scanned.tail).forall { case (a, b) => a < b },
      s"scanned rows not strictly increasing: ${scanned.toSeq}")
    assert(sweep.forall(r => r._5 >= 0.0 && r._5 <= 1.0))
    // nProbe = all cells degenerates to the full-scan ADC ranking: the
    // sweep's hit count must equal the l2RecallAtK hits of the PQ
    // reconstruction (ADC ≡ decoded-L2, the PQ identity)
    val rep = Pq.encode(df, col("embedding"), model, "__codes")
      .withColumn("__dec", Pq.decode(col("__codes"), model))
    val fullScan = Pq.l2RecallAtK(rep, "vec_id", col("embedding"),
        col("__dec"), queries, "qid", "qv", 5)
      .agg(sum(col("n_hits"))).head().getLong(0)
    assert(sweep.last._4 == fullScan,
      s"full-probe sweep hits ${sweep.last._4} != full-scan PQ hits $fullScan")
  }

  test("trained model is identical at 1/4/32 input partitions") {
    Seq(1, 4, 32).foreach { p =>
      val mp = Pq.trainCodebooks(df.repartition(p), "vec_id", "embedding",
        m, k, iters = 1)
      for (s <- 0 until m; c <- 0 until k)
        assert(mp.codebooks(s)(c).toSeq == model.codebooks(s)(c).toSeq,
          s"codebook[$s][$c] differs at $p partitions")
    }
  }

  test("encode == naive per-row argmin; seeds self-encode under iters=0") {
    val got = Pq.encode(df, col("embedding"), model)
      .select(col("vec_id"), col("pq_codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    rows.foreach { case (id, v) =>
      assert(got(id) == naiveEncode(v, naiveModel).toSeq, s"codes differ for $id")
    }
    // under pure seeds, the c-th seed row's nearest subspace centroid
    // is itself (d2 = 0) in every subspace
    val seedModel = Pq.trainCodebooks(df, "vec_id", "embedding", m, k, iters = 0)
    val selfCodes = Pq.encode(df.where(col("vec_id") < k),
        col("embedding"), seedModel)
      .select(col("vec_id"), col("pq_codes")).collect()
    selfCodes.foreach { r =>
      assert(r.getSeq[Int](1).forall(_ == r.getLong(0).toInt),
        s"seed row ${r.getLong(0)} does not self-encode")
    }
  }

  test("ADC distance == exact L2 against the decoded reconstruction (the PQ identity)") {
    val query = rows(3)._2.toArray
    val lut = Pq.adcLutFlat(query, model)
    val both = Pq.encode(df, col("embedding"), model)
      .select(col("vec_id"),
        Pq.adcDist(col("pq_codes"), lut.toSeq, model.k).as("adc"),
        Pq.l2Sq(Pq.decode(col("pq_codes"), model),
          typedlit(query.toSeq)).as("dec"))
      .collect()
    both.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-9,
        s"vec ${r.getLong(0)}: adc=${r.getDouble(1)} decoded-l2=${r.getDouble(2)}")
    }
  }

  test("pqTopK == naive brute force over decoded vectors") {
    val query = rows(5)._2.toArray
    val naive = rows.map { case (id, v) =>
      val codes = naiveEncode(v, naiveModel)
      var d = 0.0
      for (s <- 0 until m; j <- 0 until dsub) {
        val t = query(s * dsub + j).toDouble - naiveModel(s)(codes(s))(j).toDouble
        d += t * t
      }
      (id, BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, d) => (d, id) }.take(10)
    val got = Pq.pqTopK(df, "vec_id", "embedding", query, 10, model)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == naive)
  }

  test("ivfPqTopK probes cells and the exact rerank restores true ranking") {
    val query = rows(7)._2.toArray
    val cents = Ivf.seedCentroids(df, "vec_id", "embedding", 4)
    // nProbe = all cells + rerank >= corpus degenerates to exact L2
    val exact = rows.map { case (id, v) =>
      var d = 0.0
      for (i <- 0 until dim) {
        val t = query(i).toDouble - v(i).toDouble; d += t * t
      }
      (id, BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, d) => (d, id) }.take(5)
    val got = Pq.ivfPqTopK(df, "vec_id", "embedding", query, 5, model,
        cents, nProbe = 4, rerank = n)
      .select(col("vec_id"), col("exact_d2")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == exact)
    // a 2-probe ADC-only pass returns k rows from the probed cells
    val adcOnly = Pq.ivfPqTopK(df, "vec_id", "embedding", query, 5, model,
      cents, nProbe = 2)
    assert(adcOnly.count() == 5)
  }

  test("l2RecallAtK: identical representation scores recall 1.0; shared exact pass matches") {
    val queries = df.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val self = Pq.l2RecallAtK(df, "vec_id", col("embedding"),
      col("embedding"), queries, "qid", "qv", 5).collect()
    assert(self.length == 3 && self.forall(_.getDouble(3) == 1.0))
    val truth = Pq.l2TopK(df, "vec_id", col("embedding"), queries,
      "qid", "qv", 5)
    val withShared = Pq.l2RecallAtK(df, "vec_id", col("embedding"),
      col("embedding"), queries, "qid", "qv", 5, exact = Some(truth))
      .collect()
    assert(withShared.forall(_.getDouble(3) == 1.0))
  }

  test("residual IVF-PQ: zero residual at centroid rows, seeds skip them, exact rerank degeneracy") {
    val cents = Ivf.seedCentroids(df, "vec_id", "embedding", 4)
    val withRes = Ivf.assignCells(df, col("embedding"), cents)
      .withColumn("__res", Pq.residualCol(col("embedding"), cents, col("ivf_cell")))
    // a centroid row's residual is exactly the zero vector
    val centRes = withRes.filter(col("vec_id") < 4)
      .select(col("vec_id"), col("__res")).collect()
    centRes.foreach { r =>
      assert(r.getSeq[Float](1).forall(_ == 0.0f),
        s"centroid row ${r.getLong(0)} has nonzero residual")
    }
    // seeds start PAST the centroid rows: no codebook entry is the
    // zero vector (duplicate zero codes make argmin ties exact — the
    // cross-engine hazard q171 documents)
    val rmodel = Pq.trainResidualCodebooks(df, "vec_id", "embedding",
      cents, m, k, iters = 0)
    for (s <- 0 until m; c <- 0 until k)
      assert(rmodel.codebooks(s)(c).exists(_ != 0.0f),
        s"residual seed codebook[$s][$c] is the zero vector")
    // nProbe = all cells + rerank >= corpus degenerates to exact L2
    val query = rows(11)._2.toArray
    val exact = rows.map { case (id, v) =>
      var d = 0.0
      for (i <- 0 until dim) { val t = query(i).toDouble - v(i).toDouble; d += t * t }
      (id, BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, d) => (d, id) }.take(5)
    val got = Pq.ivfPqResidualTopK(df, "vec_id", "embedding", query, 5,
        Pq.trainResidualCodebooks(df, "vec_id", "embedding", cents, m, k),
        cents, nProbe = 4, rerank = n)
      .select(col("vec_id"), col("exact_d2")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == exact)
  }

  test("index store: probe ≡ in-memory path, two appends tile one-shot, scan is partition-pruned") {
    val cents = Ivf.seedCentroids(df, "vec_id", "embedding", 4)
    val store = TestSpark.tempDir("pq-index") + "/idx"
    // two appended halves — the incremental-ingest shape
    Pq.writeIndexStore(df.where(col("vec_id") % 2 === 0), "vec_id",
      "embedding", model, cents, store)
    Pq.writeIndexStore(df.where(col("vec_id") % 2 =!= 0), "vec_id",
      "embedding", model, cents, store)
    val query = rows(9)._2.toArray
    val fromStore = Pq.probeIndexStore(spark, store, "vec_id", query, 5,
        model, cents, nProbe = 2, rerank = n, corpus = Some(df))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val inMem = Pq.ivfPqTopK(df, "vec_id", "embedding", query, 5, model,
        cents, nProbe = 2, rerank = n)
      .select(col("vec_id"), col("exact_d2"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromStore == inMem, s"store=$fromStore inMem=$inMem")
    // the probe scan reads a strict file subset (2 of 4 cell
    // partitions; inputFiles ignores pruning, so read the executed
    // scan's own numFiles metric — the GraphSpec treatment)
    val probes = Ivf.nearestCells(query, cents, 2)
    val pruned = spark.read.parquet(store)
      .filter(col("ivf_cell").isin(probes: _*))
    val all = spark.read.parquet(store)
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters"))
    pruned.collect()
    val scanned = pruned.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value
    }.sum
    assert(scanned > 0 && scanned < all.inputFiles.length,
      s"scanned $scanned of ${all.inputFiles.length}")
    // the store's rows are code rows only — no float vector column
    assert(!all.schema.fieldNames.contains("embedding"))
  }

  test("pqIndexSink: streamed ingest ≡ batch store, null tick writes nothing, replay redelivers nothing") {
    import graft.streaming.Streams
    val cents = Ivf.seedCentroids(df, "vec_id", "embedding", 4)
    val dir = TestSpark.tempDir("pq-stream")
    // three ticks of vectors + one all-null tick
    val parity = pmod(col("vec_id"), lit(3))
    (0 until 3).foreach { t =>
      df.filter(parity === t).coalesce(1).write.parquet(s"$dir/in/f=$t")
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          org.apache.spark.sql.Row(999L, null)), 1),
        df.schema).coalesce(1).write.parquet(s"$dir/in/f=3")
    val schema = spark.read.parquet(s"$dir/in/f=0").schema
    val q = Streams.pqIndexSink(
      Streams.fileStream(spark, s"$dir/in/*/", schema, maxFilesPerTrigger = 1),
      "vec_id", "embedding", model, cents, s"$dir/store", s"$dir/ckpt").start()
    q.awaitTermination()
    // streamed store serves the same rows as the in-memory path
    val query = rows(13)._2.toArray
    val fromStream = Pq.probeIndexStore(spark, s"$dir/store", "vec_id",
        query, 5, model, cents, nProbe = 2, rerank = n, corpus = Some(df))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val inMem = Pq.ivfPqTopK(df, "vec_id", "embedding", query, 5, model,
        cents, nProbe = 2, rerank = n)
      .select(col("vec_id"), col("exact_d2"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromStream == inMem)
    // the null tick wrote no batch directory; replay adds nothing
    def batches() = spark.read.parquet(s"$dir/store")
      .select(col("batch")).distinct().count()
    val rowsBefore = spark.read.parquet(s"$dir/store").count()
    assert(batches() == 3)
    val q2 = Streams.pqIndexSink(
      Streams.fileStream(spark, s"$dir/in/*/", schema, maxFilesPerTrigger = 1),
      "vec_id", "embedding", model, cents, s"$dir/store", s"$dir/ckpt").start()
    q2.awaitTermination()
    assert(batches() == 3 &&
      spark.read.parquet(s"$dir/store").count() == rowsBefore)
  }

  test("compactIndexStore: probe rows identical, files drop, markers survive, post-compact replay redelivers nothing") {
    import graft.streaming.Streams
    import org.apache.hadoop.fs.Path
    val cents = Ivf.seedCentroids(df, "vec_id", "embedding", 4)
    val dir = TestSpark.tempDir("pq-compact")
    val parity = pmod(col("vec_id"), lit(3))
    (0 until 3).foreach { t =>
      df.filter(parity === t).coalesce(1).write.parquet(s"$dir/in/f=$t")
    }
    val schema = spark.read.parquet(s"$dir/in/f=0").schema
    def runSink(): Unit = {
      val q = Streams.pqIndexSink(
        Streams.fileStream(spark, s"$dir/in/*/", schema, maxFilesPerTrigger = 1),
        "vec_id", "embedding", model, cents, s"$dir/store", s"$dir/ckpt").start()
      q.awaitTermination()
    }
    runSink()
    val query = rows(17)._2.toArray
    def probe(path: String) = Pq.probeIndexStore(spark, path, "vec_id",
        query, 5, model, cents, nProbe = 2, rerank = n, corpus = Some(df))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(path: String): Int = {
      val it = fs.listFiles(new Path(path), true)
      var nf = 0
      while (it.hasNext) {
        if (it.next().getPath.getName.startsWith("part-")) nf += 1
      }
      nf
    }
    val before = probe(s"$dir/store")
    val filesBefore = dataFiles(s"$dir/store")
    Pq.compactIndexStore(spark, s"$dir/store")
    assert(probe(s"$dir/store") == before, "probe changed across compaction")
    assert(dataFiles(s"$dir/store") < filesBefore,
      s"files did not drop: $filesBefore -> ${dataFiles(s"$dir/store")}")
    // every tick's partitions folded into the single batch=-1 epoch
    val batches = spark.read.parquet(s"$dir/store")
      .select(col("batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(batches == Seq(-1L), s"batches after compact: $batches")
    // the sink's replay marker, the batch id its manifest records,
    // rode the compaction's commit into the new epoch
    assert(graft.io.Store.committed(spark, s"$dir/store", 2L))
    // a restarted stream after compaction redelivers nothing
    val rowsBefore = spark.read.parquet(s"$dir/store").count()
    runSink()
    assert(spark.read.parquet(s"$dir/store").count() == rowsBefore)
    // the batch-writer store (no batch level) compacts the same way:
    // two append slivers per cell merge to one file, probes unmoved
    val bstore = s"$dir/bidx"
    Pq.writeIndexStore(df.where(col("vec_id") % 2 === 0), "vec_id",
      "embedding", model, cents, bstore)
    Pq.writeIndexStore(df.where(col("vec_id") % 2 =!= 0), "vec_id",
      "embedding", model, cents, bstore)
    val bBefore = probe(bstore)
    val bFiles = dataFiles(bstore)
    Pq.compactIndexStore(spark, bstore)
    assert(probe(bstore) == bBefore)
    assert(dataFiles(bstore) < bFiles)
    assert(!spark.read.parquet(bstore).columns.contains("batch"))
  }

  test("null vector encodes to null; short vector encodes without throwing") {
    val withNull = (rows :+ ((99L, null: Seq[Float]))).toDF("vec_id", "embedding")
    val nz = Pq.encode(withNull, col("embedding"), model)
      .filter(col("vec_id") === 99L).select(col("pq_codes")).collect()
    assert(nz.head.isNullAt(0))
    val short = Seq((1L, Seq(0.5f, -0.25f))).toDF("vec_id", "embedding")
    val sc = Pq.encode(short, col("embedding"), model)
      .select(col("pq_codes")).head().getSeq[Int](0)
    assert(sc.length == m) // trailing subspaces compare zero dims
  }

  test("training over a mixed-dim corpus degrades like encode (no NPE on over-length vectors)") {
    // the embedder-change case: one row grew extra dims. encode
    // truncates; training must IGNORE the positions past the model's
    // dim instead of NPE-ing the mean collect (element_at(codes, m+1)
    // is null for them)
    val mixed = (rows :+ ((98L, rows.head._2 ++ Seq(9.9f, -9.9f))))
      .toDF("vec_id", "embedding")
    val trained = Pq.trainCodebooks(mixed, "vec_id", "embedding", m, k,
      iters = 1)
    assert(trained.dim == dim) // geometry comes from the seeds
  }

  test("encode plan is map-only: no exchange, no join, codegen'd") {
    // repartition first: a pure LocalRelation input would be folded
    // into a LocalTableScan (projection evaluated at plan time) and
    // the pin would assert against an empty plan
    val src = df.repartition(2).localCheckpoint()
    val plan = Pq.encode(src, col("embedding"), model)
      .queryExecution.executedPlan.toString
    src.unpersist()
    assert(!plan.contains("Exchange"), s"encode shuffles:\n$plan")
    assert(!plan.contains("Join"), s"encode joins:\n$plan")
    assert(plan.contains("pq_encode"), s"missing the codegen kernel:\n$plan")
  }

  test("model geometry validations reject bad shapes") {
    intercept[IllegalArgumentException] {
      Pq.trainCodebooks(df, "vec_id", "embedding", 5, k, iters = 0) // 16 % 5 != 0
    }
    intercept[IllegalArgumentException] {
      Pq.pqTopK(df, "vec_id", "embedding", rows(0)._2.toArray, 0, model)
    }
  }
}
