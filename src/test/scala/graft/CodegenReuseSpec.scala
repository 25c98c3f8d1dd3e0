package graft

import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Registry
import graft.streaming.Streams

/** Generated code compiles once per JVM (`GraftSession.compileOnce`):
  * a rerun of the same plan, batch or streaming, finds its code bodies
  * in Spark's codegen cache. Compiles are counted with Spark's
  * compile-time histogram, which takes one sample per Janino compile. */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def compiles(body: => Unit): Long = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = h.getCount
    body
    h.getCount - before
  }

  // Bounds for reruns of the same plan: when concurrent query stages
  // finish in a different order, AQE can fuse a runtime broadcast join
  // into a different stage. That is a new code body (seen: one or two
  // bodies in a q165 rerun, one in an nbOnlineSink tick), compiled once
  // per loader (the driver thread's and the executor's) and cached from
  // then on. A cache that evicts, or a loader per session, recompiles
  // tens to hundreds of bodies instead.
  private val q165RerunBound = 16
  private val nbTickBound = 8

  test("a second back-to-back q165 run compiles at most a few AQE variants") {
    def run(): Unit = {
      Registry.byName("q165_pretrain_funnel_full")
        .fn(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      graft.ops.Pinned.releaseAll()
    }
    run()
    assert(compiles(run()) <= q165RerunBound)
  }

  test("a second AvailableNow nbOnlineSink run over a same-shaped file compiles at most a few AQE variants") {
    val dir = TestSpark.tempDir("codegen-nb")
    // one new input file per run, as a cron tick lands one
    def tick(i: Int): Long = {
      Seq((2L * i, "news", s"t${i}tok mayor council budget vote"),
        (2L * i + 1, "spam", s"t${i}tok win prize click offer"))
        .toDF("doc_id", "label", "text").coalesce(1)
        .write.parquet(s"$dir/in/f=$i")
      val docs = Streams.fileStream(spark, s"$dir/in/*/",
        spark.read.parquet(s"$dir/in/f=$i").schema)
      compiles(Streams.runToCompletion(Streams.nbOnlineSink(docs, "doc_id",
        "text", "label", s"$dir/stats", s"$dir/preds", s"$dir/ckpt").start()))
    }
    tick(0) // builds the stats store; nothing to score against yet
    tick(1) // the first run that scores against the store
    assert(tick(2) <= nbTickBound)
  }

  test("a pipeline compiled as one codegen stage is reused as another") {
    // no exchange, so no AQE: stage ids follow the plan, deterministically
    val k = System.nanoTime() // a fresh literal: bodies no earlier suite compiled
    def first = spark.range(10).selectExpr(s"id + ${k}L AS x")
    def second = spark.range(100).selectExpr(s"id * ${k}L AS x").filter("x % 7 = 1")
    def run(df: DataFrame): Long = compiles(df.write.format("noop").mode("overwrite").save())
    assert(run(first) > 0)
    assert(run(second) > 0) // codegen stage 1
    assert(run(first.union(second)) == 0) // `second` is codegen stage 2 here
  }

  test("foreachBatch tasks run under the class loader of batch jobs' tasks") {
    def taskLoaders(df: DataFrame): Set[String] = df.rdd.mapPartitions { _ =>
      Iterator(Thread.currentThread.getContextClassLoader.getClass.getName)
    }.collect().toSet
    val batch = taskLoaders(spark.range(4).toDF())
    val dir = TestSpark.tempDir("codegen-loader")
    spark.range(4).toDF("id").write.parquet(s"$dir/in/f=0")
    val inSink = new AtomicReference(Set.empty[String])
    val q = Streams.fileStream(spark, s"$dir/in/*/",
        spark.read.parquet(s"$dir/in/f=0").schema)
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) => inSink.set(taskLoaders(b)) }
      .start()
    Streams.runToCompletion(q)
    assert(inSink.get == batch)
    assert(!inSink.get.contains("org.apache.spark.executor.ExecutorClassLoader"))
  }
}
