package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.enrich.Enricher
import graft.multimodal.Multimodal

class EnrichMultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("stub transcriber: deterministic, ordered ids, file key carried") {
    val t = new Enricher.StubTranscriber(4)
    val a = t.transcribe("v.mp4", "bytes".getBytes)
    val b = t.transcribe("v.mp4", "bytes".getBytes)
    assert(a == b)
    assert(a.map(_.id) == Seq(0L, 1L, 2L, 3L))
    assert(a.forall(_.file == "v.mp4"))
    assert(a != t.transcribe("v.mp4", "other".getBytes))
  }

  test("stub chat model: deterministic, content-hashed") {
    val m = new Enricher.StubChatModel(3)
    assert(m.complete("a b c d e") == m.complete("a b c d e"))
    assert(m.complete("a b c d e").startsWith("a b c #"))
    assert(m.complete("a b c d e") != m.complete("a b c d f"))
  }

  test("multimodal: stub decode is deterministic with typed meta schema") {
    val df = Seq((1L, "payload one"), (2L, "payload two"))
      .toDF("id", "text").withColumn("payload", col("text").cast("binary"))
    val out = Multimodal.withDecodedMeta(df, "payload",
      () => new Multimodal.StubDecoder)
    val metas = out.select("media_meta.*").collect()
    assert(metas.forall(r => r.getInt(1) >= 64 && r.getInt(2) >= 64))
    val again = Multimodal.withDecodedMeta(df, "payload",
      () => new Multimodal.StubDecoder)
    assert(out.collect().toSeq == again.collect().toSeq)
  }

  test("frame sampling explodes one row per interval") {
    val df = Seq((1L, 3500L)).toDF("id", "dur")
    val frames = Multimodal.sampleFrames(df, col("dur"), 1000L)
    assert(frames.select("frame_ms").collect().map(_.getLong(0)).toSeq
      == Seq(0L, 1000L, 2000L, 3000L))
  }

  test("frame sampling: zero/negative duration emits no frames, not a phantom frame 0") {
    val df = Seq((1L, 0L), (2L, -5L), (3L, 1500L)).toDF("id", "dur")
    val frames = Multimodal.sampleFrames(df, col("dur"), 1000L)
      .select("id", "frame_ms").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(frames == Seq((3L, 0L), (3L, 1000L)))
  }
}
