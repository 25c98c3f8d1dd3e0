package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.Sinks

class IoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("K1 overwriteInPlace supports read-then-rewrite of same path") {
    val dir = TestSpark.tempDir("state")
    val path = s"$dir/state"
    Seq((1L, "a")).toDF("id", "v").write.parquet(path)
    // read → transform → overwrite the path being read
    val cur = spark.read.parquet(path)
    Sinks.overwriteInPlace(cur.withColumn("v", lit("b")), path)
    assert(spark.read.parquet(path).head.getString(1) == "b")
  }

  test("mergeInto: creates, upserts, survives reruns (idempotent)") {
    val dir = TestSpark.tempDir("merge")
    val path = s"$dir/st"
    Sinks.mergeInto(spark, path, Seq((1L, "a"), (2L, "a")).toDF("id", "v"), Seq("id"))
    val after = Sinks.mergeInto(spark, path,
      Seq((2L, "b"), (3L, "b")).toDF("id", "v"), Seq("id"))
    assert(after.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "a"), (2L, "b"), (3L, "b")))
    val again = Sinks.mergeInto(spark, path,
      Seq((2L, "b"), (3L, "b")).toDF("id", "v"), Seq("id"))
    assert(again.count() == 3)
  }

  test("crash recovery: state missing + backup present loses nothing") {
    val dir = TestSpark.tempDir("crash")
    val path = s"$dir/st"
    Sinks.mergeInto(spark, path, Seq((1L, "a"), (2L, "a")).toDF("id", "v"), Seq("id"))
    // simulate a crash between the two renames: live state moved aside
    new java.io.File(path).renameTo(new java.io.File(path + ".old"))
    assert(!new java.io.File(path).exists())
    val recovered = Sinks.mergeInto(spark, path,
      Seq((3L, "b")).toDF("id", "v"), Seq("id"))
    assert(recovered.orderBy("id").collect().map(_.getLong(0)).toSeq
      == Seq(1L, 2L, 3L)) // old rows recovered from the backup, not dropped
    assert(!new java.io.File(path + ".old").exists()) // backup cleaned post-promote
  }

  test("compact rewrites many small files into few, preserving rows") {
    val dir = TestSpark.tempDir("compact")
    val path = s"$dir/coll"
    spark.range(10000).repartition(32).write.parquet(path)
    val before = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before == 32)
    Sinks.compact(spark, path, targetBytes = 512L * 1024)
    val after = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(after < before)
    assert(spark.read.parquet(path).count() == 10000)
  }
}
