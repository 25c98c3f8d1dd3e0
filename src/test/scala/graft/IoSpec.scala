package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.io.Sinks

class IoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

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
}
