package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.vector.{Ivf, Pq, Similarity}

class IvfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 3 well-separated planted clusters + the query near cluster 0. */
  private def clustered = {
    val rnd = new scala.util.Random(11)
    val dim = 16
    val centers = Array.fill(3)(Array.fill(dim)(rnd.nextFloat() * 10 - 5))
    val rows = for {
      c <- 0 until 3
      j <- 0 until 40
    } yield ((c * 100 + j).toLong,
      centers(c).map(x => x + (rnd.nextFloat() - 0.5f) * 0.2f))
    (rows.toDF("vec_id", "embedding"), centers)
  }

  test("trainCentroids recovers planted clusters; assignment is pure") {
    val (df, centers) = clustered
    val cents = Pq.trainCodebooksKmeansPar(df, "vec_id", "embedding",
      m = 1, k = 3, iters = 4).codebooks.head
    // each trained centroid sits near exactly one planted center
    val matched = centers.map { c =>
      cents.map { t =>
        math.sqrt(t.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.min
    }
    assert(matched.forall(_ < 0.5), s"centroid drift: ${matched.toSeq}")
    // every member lands in its own cluster's cell (pure partition)
    val assigned = Ivf.assignCells(df, col("embedding"), cents)
      .select(col("vec_id"), col("ivf_cell")).collect()
      .map(r => (r.getLong(0) / 100, r.getInt(1)))
    val cellsPerCluster = assigned.groupBy(_._1).map { case (_, xs) =>
      xs.map(_._2).distinct.size }
    assert(cellsPerCluster.forall(_ == 1))
  }

  test("ivfTopK: full recall on clustered data with 1 probe of 3 cells") {
    val (df, centers) = clustered
    val cents = Pq.trainCodebooksKmeansPar(df, "vec_id", "embedding",
      m = 1, k = 3, iters = 4).codebooks.head
    val query = centers(0).map(_ + 0.01f)
    val exact = Similarity.topK(df, "vec_id", "embedding", query, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = Ivf.ivfTopK(df, "vec_id", "embedding", query, 10, cents, nProbe = 1)
      .collect().map(_.getLong(0)).toSet
    assert(ivf == exact, "1-probe IVF must equal exact on separated clusters")
  }

  test("ivfTopK with nProbe = k degenerates to exact brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 3).head.getSeq[Float](1).toArray
    val cents = emb.filter(col("vec_id") < 8).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val exact = Similarity.topK(emb, "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val all = Ivf.ivfTopK(emb, "vec_id", "embedding", q, 10, cents, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(all == exact)
  }

  test("cell-partitioned collection: probes prune to nProbe partitions at the scan") {
    // the 100 TB story: write the collection partitioned BY ivf_cell,
    // and a probe's cell filter becomes partition pruning — the scan
    // reads nProbe directories, not the table
    val dir = s"${TestSpark.tempDir("ivfpart")}/coll"
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Pq.trainCodebooksKmeansPar(emb, "vec_id", "embedding",
      m = 1, k = 4, iters = 2).codebooks.head
    Ivf.assignCells(emb, col("embedding"), cents)
      .write.partitionBy("ivf_cell").parquet(dir)
    val coll = spark.read.parquet(dir)
    val probed = coll.filter(col("ivf_cell").isin(0, 1))
    probed.collect()
    val scan = probed.queryExecution.executedPlan.toString
    // partition filter present and pushed (not a post-scan Filter)
    assert(scan.contains("PartitionFilters") && scan.contains("ivf_cell"),
      scan.take(800))
    // and the probe genuinely reads a subset
    val all = coll.count()
    val sub = probed.count()
    assert(sub > 0 && sub < all)
  }

  test("trainCentroids init runs a constant number of jobs regardless of k") {
    // the k-means|| style init replaced k-1 sequential farthest-first
    // orderBy.limit(1) actions — job count must not grow with k
    val (df, _) = clustered
    df.cache(); df.count()
    def jobsFor(k: Int): Int = TestSpark.jobsDuring(
      Pq.trainCodebooksKmeansPar(df, "vec_id", "embedding",
        m = 1, k = k, iters = 2).codebooks.head)
    val j3 = jobsFor(3)
    val j12 = jobsFor(12)
    assert(j12 == j3, s"init jobs grew with k: k=3 -> $j3, k=12 -> $j12")
    df.unpersist()
  }

  test("two-level with coarse = fine degenerates to exact flat assignment") {
    // every fine centroid anchors its own group, so the coarse argmin
    // IS the flat argmin — the approximation gap is exactly the
    // coarse routing, nothing else
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 8)
    val flat = Ivf.assignCells(emb, col("embedding"), cents)
      .select("vec_id", "ivf_cell").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val two = Ivf.assignCellsTwoLevel(emb, col("embedding"), cents, cents)
      .select("vec_id", "ivf_cell").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(two == flat)
  }

  test("two-level routes within the coarse group; anchors keep groups non-empty") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val fine = Ivf.seedCentroids(emb, "vec_id", "embedding", 8)
    val coarse = fine.take(Ivf.coarseCountFor(8)) // 4 coarse over 8 fine
    val groupOf = Ivf.fineToCoarse(fine, coarse)
    // anchor rule: fine centroid g < |coarse| maps to group g
    coarse.indices.foreach(g => assert(groupOf(g) == g))
    // every coarse group owns >= 1 fine centroid
    assert(groupOf.toSet.size == coarse.length ||
      coarse.indices.forall(g => groupOf.contains(g)))
    // every row lands in a fine cell belonging to its own coarse group
    val cells = Ivf.assignCellsTwoLevel(emb, col("embedding"), fine, coarse)
      .select("ivf_cell").collect().map(_.getInt(0))
    assert(cells.forall(c => c >= 0 && c < fine.length))
  }

  test("distributed two-level assignment equals the broadcast-UDF path") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    // add a null-vector row: both paths must carry it with a null cell
    val withNull = emb.unionByName(
      Seq((99999L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    val fine = Ivf.seedCentroids(emb, "vec_id", "embedding", 8)
    val coarse = fine.take(4)
    val udfPath = Ivf.assignCellsTwoLevel(withNull, col("embedding"), fine, coarse)
      .select("vec_id", "ivf_cell").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    val fineDf = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val distPath = Ivf.assignCellsTwoLevelDist(withNull, "vec_id", "embedding",
        fineDf, coarse)
      .select("vec_id", "ivf_cell").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(distPath == udfPath)
    assert(udfPath(99999L) == -1)
  }

  test("cell assignment is a codegen expression, not a boxed UDF") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val fine = Ivf.seedCentroids(emb, "vec_id", "embedding", 8)
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    // fail loudly if the generated code doesn't compile instead of
    // silently interpreting
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val flat = Ivf.assignCells(emb, col("embedding"), fine)
      val two = Ivf.assignCellsTwoLevel(emb, col("embedding"), fine, fine.take(4))
      assert(flat.select("ivf_cell").collect().length == 500)
      assert(two.select("ivf_cell").collect().length == 500)
      val plan = two.queryExecution.executedPlan.toString
      assert(plan.contains("nearest_cell_2l"), plan.take(500))
      assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("scalaudf"))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("seedCentroids enforces the documented driver-collect cap") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      Ivf.seedCentroids(emb, "vec_id", "embedding", k = 65537)
    }
    assert(e.getMessage.contains("assignCellsTwoLevelDist"))
    assert(Ivf.seedCentroids(emb, "vec_id", "embedding", 8).length == 8)
  }

  test("seedCentroids skips a null vector in its window and fails loudly below k seeds") {
    // row 0 is a failed embed: the window then holds 2 usable rows of 3
    val df = (0 until 10).map { i =>
      (i.toLong, if (i == 0) null else Array(i.toFloat, 1f))
    }.toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Ivf.seedCentroids(df, "vec_id", "embedding", k = 3)
    }
    assert(e.getMessage.contains("id-prefix [0, 3)"), e.getMessage)
  }

  test("training over a mixed-dim corpus degrades like encode (no crash on over-length vectors)") {
    // the embedder-change case: one row grew extra dims. Assignment
    // truncates; training must ignore the positions past the model's
    // dim instead of writing past the end of a centroid
    val rnd = new scala.util.Random(7)
    val mixed = ((0 until 60).map(i => (i.toLong, Array.fill(4)(rnd.nextFloat()))) :+
      ((60L, Array.fill(6)(rnd.nextFloat())))).toDF("vec_id", "embedding")
    val cents = Pq.trainCodebooksKmeansPar(mixed, "vec_id", "embedding",
      m = 1, k = 3, iters = 2).codebooks.head
    assert(cents.length == 3 && cents.forall(_.length == 4))
  }

  test("empty-cell fallback: k larger than distinct points keeps previous centroid") {
    val tiny = Seq((0L, Array(0f, 0f)), (1L, Array(10f, 10f)))
      .toDF("vec_id", "embedding")
    val cents = Pq.trainCodebooksKmeansPar(tiny, "vec_id", "embedding",
      m = 1, k = 2, iters = 3).codebooks.head
    assert(cents.length == 2)
    assert(cents.forall(_.forall(x => !x.isNaN)))
  }
}
