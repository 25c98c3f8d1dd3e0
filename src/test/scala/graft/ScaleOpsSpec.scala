package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("range join: band replication matches brute-force inequality join") {
    val l = Seq((1L, 100L, 0L), (1L, 101L, 950L), (2L, 102L, 500L))
      .toDF("k", "lid", "lts")
    val r = Seq((1L, 200L, 900L), (1L, 201L, 2100L), (2L, 202L, 1600L))
      .toDF("k", "rid", "rts")
    val banded = graft.ops.RangeJoin.withinTolerance(l, r, Seq("k"),
        "lts", "rts", 1000L)
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val brute = l.join(r, Seq("k")).filter(abs(col("lts") - col("rts")) <= 1000)
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(banded == brute)
    // (102,202) is |500-1600| = 1100 > tolerance — correctly excluded
    assert(banded == Set((100L, 200L), (101L, 200L)))
  }

  test("asof: null payload in the latest row is preserved; rows stay atomic") {
    val left = Seq((1L, 20L, "x")).toDF("k", "t", "name")
    val right = Seq((1L, 5L, Some(3.0), Some("old")), (1L, 10L, None, Some("new")))
      .toDF("k", "t", "v", "s")
    val out = graft.ops.AsOf.asofBackward(left, right, Seq("k"), "t", "t",
      Seq("v", "s")).head
    // latest right row is t=10 with v=null — DuckDB ASOF attaches THAT
    // row; v must be null and s must be "new" (no column mixing)
    assert(out.getAs[Any]("v") == null)
    assert(out.getAs[String]("s") == "new")
  }

  test("asof: null join keys never match (SQL equality semantics)") {
    val left = Seq((Option.empty[Long], 100L, "x"), (Some(1L), 100L, "y"))
      .toDF("k", "t", "name")
    val right = Seq((Option.empty[Long], 50L, 5.0), (Some(1L), 50L, 7.0))
      .toDF("k", "t", "v")
    val out = graft.ops.AsOf.asofBackward(left, right, Seq("k"), "t", "t", Seq("v"))
      .orderBy("name").collect()
    assert(out(0).getAs[Any]("v") == null) // null-key left row: no match
    assert(out(1).getAs[Double]("v") == 7.0)
  }

  test("asof: null right ORDER values never match (standard ASOF)") {
    // a null rightOrd sorts to the window start under asc nulls-first;
    // without the filter, left rows before the first real right row
    // would inherit its payload — DuckDB ASOF never matches NULL ord
    val left = Seq((1L, 10L, "early"), (1L, 60L, "late")).toDF("k", "t", "name")
    val right = Seq((1L, Option.empty[Long], 111.0), (1L, Some(50L), 7.0))
      .toDF("k", "t", "v")
    val out = graft.ops.AsOf.asofBackward(left, right, Seq("k"), "t", "t", Seq("v"))
      .orderBy("t").collect()
    assert(out(0).getAs[Any]("v") == null) // t=10: only the null-ord row precedes
    assert(out(1).getAs[Double]("v") == 7.0)
  }

  test("asof backward join: crafted boundary cases") {
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 5L, "c"), (2L, 10L, "d"))
      .toDF("k", "t", "name")
    val right = Seq((1L, 10L, 100.0), (1L, 15L, 150.0), (2L, 99L, 999.0))
      .toDF("k", "t", "v")
    val out = graft.ops.AsOf.asofBackward(left, right, Seq("k"), "t", "t", Seq("v"))
      .orderBy("k", "t").collect()
      .map(r => (r.getAs[String]("name"), Option(r.getAs[Any]("v")))).toSeq
    assert(out == Seq(
      ("c", None),          // t=5: no purchase yet
      ("a", Some(100.0)),   // t=10: inclusive bound matches t=10
      ("b", Some(150.0)),   // t=20: latest is t=15
      ("d", None)))         // key 2: right row is in the future
  }

  test("packByTokenBudget equals the single-partition window cumsum") {
    val df = (1L to 500L).map(i => (i, 1L + (i * 7) % 40))
      .toDF("id", "n_tokens").repartition(16)
    val packed = graft.ops.Packing.packByTokenBudget(
        df, Seq(col("id")), col("n_tokens"), budget = 100L)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("prefix_tokens"),
        r.getAs[Long]("pack_id")))
    // reference: sequential prefix sum on the driver
    var cum = 0L
    val expected = (1L to 500L).map { i =>
      val tok = 1L + (i * 7) % 40
      val pre = cum
      cum += tok
      (i, pre, pre / 100L)
    }
    assert(packed.toSeq == expected)
    // packs are contiguous and non-decreasing
    assert(packed.map(_._3).sliding(2).forall(p => p(1) - p(0) >= 0))
  }

  test("global position equals single-partition row_number semantics") {
    // disable AQE partition coalescing: with it on, small test data
    // collapses to ONE partition and would hide multi-partition bugs
    // (range-partitioner boundaries differing between the count pass
    // and the final pass — the failure mode the persist() prevents)
    val prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val df = spark.range(100000).toDF("id")
        .withColumn("k", pmod(col("id") * 37, lit(1000))).repartition(8)
      val got = graft.ops.GlobalOrder.withGlobalPosition(df, Seq(col("k"), col("id")))
        .orderBy("pos").collect().map(r => (r.getLong(0), r.getLong(2)))
      // positions are 0..n-1, dense, and ordered by (k, id)
      assert(got.map(_._2).toSeq == (0L until 100000L))
      val expected = df.orderBy("k", "id").collect().map(_.getLong(0)).toSeq
      assert(got.map(_._1).toSeq == expected)
    } finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
      spark.catalog.clearCache()
    }
  }

  test("int8 quantize/dequantize round-trip keeps cosine ≈ 1") {
    import graft.vector.{Quantize, Similarity}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(50)
      .withColumn("scale", Quantize.scaleOf(col("embedding")))
      .withColumn("qv", Quantize.quantize(col("embedding")))
      .withColumn("back", Quantize.dequantize(col("qv"), col("scale")))
    val cos = emb.select(Similarity.cosineSim(col("embedding"), col("back")))
      .collect().map(_.getDouble(0))
    assert(cos.forall(_ > 0.999), s"min cosine after round-trip: ${cos.min}")
  }

  test("deterministic sampling: stable, unbiased-ish, weights respected") {
    val ids = spark.range(20000).toDF("id")
    def sample(fraction: Double) =
      ids.filter(graft.ops.Sampling.hashBucket(col("id")) < (fraction * 65536).toLong)
    val s1 = sample(0.1)
    val s2 = sample(0.1)
    assert(s1.collect().toSeq == s2.collect().toSeq) // stable across runs
    val frac = s1.count().toDouble / 20000
    assert(frac > 0.08 && frac < 0.12, s"fraction $frac")
    val splits = ids.select(graft.ops.Sampling.splitLabel(col("id"),
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)).as("s"))
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.keySet == Set("train", "val", "test"))
    assert(splits("train") > 17000 && splits("val") > 500 && splits("test") > 500)
    // fp-summing weights (0.7+0.2+0.1 = 0.999…) must still label every
    // row — bucket 65535 falls in the pinned final cut
    val lossy = ids.select(graft.ops.Sampling.splitLabel(col("id"),
      Seq("train" -> 0.7, "val" -> 0.2, "test" -> 0.1)).as("s"))
    assert(lossy.filter(col("s").isNull).count() == 0)
  }

  test("approx_count_distinct within 5% of exact (HLL sanity)") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val exact = li.select(countDistinct(col("l_partkey"))).head.getLong(0)
    val approx = li.select(approx_count_distinct(col("l_partkey"))).head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05, s"$approx vs $exact")
  }
}
